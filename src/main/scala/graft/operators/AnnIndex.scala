package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The PERSISTED ANN index artifact — the serving-deployment half of the
  * IVF/PQ family (train q109 → commit → search), closing the round-11
  * architecture seam: every graded search (q106/q108) recomputes bucket
  * assignment and PQ codes from the raw corpus per invocation, which is
  * the right posture for a one-shot batch job but wrong for a serving
  * deployment — at 100 TB the assignment pass alone is a full-corpus
  * scan per query batch. A deployment builds the index ONCE, commits it
  * atomically, and serves every search FROM the committed artifact.
  *
  * Layout (all under an app-id-isolated root, the q156/q234
  * single-writer rule):
  * {{{
  *   members/bucket=<b>/   (vec_id, embedding)   — IVF serving scan
  *   codes/bucket=<b>/     (vec_id, code_0..7)   — IVF-PQ serving scan
  *   model/kind=ivf/       (c_id, embedding)     — nlist centroids
  *   model/kind=pq/        (c_id, embedding)     — k codebook seeds
  *   _index_version.json   layout version + derived knobs + corpus N
  * }}}
  *
  * Every table commits through [[graft.lake.AtomicPartitionWriter
  * .commitPartitioned]] (per-partition swap protocol; a crashed build
  * leaves `_tmp`/`_old` litter its `repair` reaps, never a torn index),
  * and the version sidecar is written LAST — its presence certifies a
  * complete commit, the q234 version-sidecar discipline.
  *
  * Scale design (100 TB lens):
  *  - Bucket-partitioned members/codes mean a served query batch reads
  *    only its probed buckets' directories — nprobe/nlist of the
  *    corpus — and the committed layout is exactly the shuffle the live
  *    path pays per invocation, paid once at build time.
  *  - Serving plans carry ZERO corpus re-assignment work: no
  *    `graft_argmax_dot` over the corpus scan, no PQ L2 tables on the
  *    candidate side (AnnIndexSpec locks both); the only corpus-table
  *    touch is the (tiny by construction) query subset.
  *  - The model load is O(nlist·dims) driver-resident — the same
  *    footprint the live path's `centroidLits` collect already has.
  *  - Staleness is first-class: [[stalenessReport]] (q247) reads the
  *    committed counts and the sidecar version and hands the
  *    re-train/re-ingest decision to q132's growth semantics.
  */
object AnnIndex {

  /** Index layout version; a sidecar carrying an older version marks
    * the artifact stale and [[ensureCommitted]] rebuilds it. v2: the
    * hier sidecar format gained a required `k` field (every layout now
    * freezes the PQ codebook width) — the bump makes a pre-`k` sidecar
    * an EXPLICIT version invalidation instead of a silent parse
    * failure in [[readHierMetaAt]]'s for-comprehension.
    */
  val IndexVersion = 2L

  /** App-id-isolated lake root for the index artifact (the q234
    * staging-dir rule: concurrent Verify ∥ Bench runs never read each
    * other's mid-commit state). Keyed on the corpus dir's FULL
    * canonical path (hashed, basename kept for readability): two
    * corpora sharing a basename — `/a/sf0.01` and `/b/sf0.01` — must
    * never resolve to one artifact, or the second would be served the
    * first's buckets.
    */
  def indexRoot(spark: SparkSession, dir: String): String = {
    val canonical = new java.io.File(dir).getCanonicalPath
    val pathHash = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    s"/tmp/graft_ann_index/${spark.sparkContext.applicationId}/" +
      s"${new java.io.File(canonical).getName}_$pathHash"
  }

  /** Content fingerprint of the corpus' embeddings table from file
    * METADATA only (sorted relative names + sizes + mtimes, MD5-folded
    * to a long) — no data scan, the same footer-listing cost
    * [[ensureCommitted]]'s row count already pays. Catches the case the
    * row count cannot: a corpus whose content changed (rewrite,
    * repartition, same-N replacement) must invalidate the committed
    * artifact, or searches silently serve the OLD corpus' buckets.
    */
  def corpusFingerprint(spark: SparkSession, dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = root.getFileSystem(conf)
    def files(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val st = fs.getFileStatus(p)
      if (st.isDirectory) fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
        .flatMap(s => files(s.getPath))
      else Seq(st)
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
    files(root).foreach { st =>
      digest.update(
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime};"
          .getBytes("UTF-8"))
    }
    java.nio.ByteBuffer.wrap(digest.digest()).getLong
  }

  private def membersDir(root: String) = s"$root/members"
  private def codesDir(root: String) = s"$root/codes"
  private def modelDir(root: String) = s"$root/model"
  private def sidecarPath(root: String) = s"$root/_index_version.json"

  /** The committed index's identity card: layout version, corpus size
    * AND content fingerprint at build time, and the derived knobs
    * frozen into the artifact.
    */
  final case class Meta(version: Long, n: Long, nlist: Int, nprobe: Int,
    k: Int, fp: Long)

  /** Train + commit the full artifact; returns its meta. Build cost is
    * ONE assignment pass for members and ONE combined assignment+coding
    * pass for codes (both map-only projections), each staged once and
    * swapped per bucket — the cost the live q106/q108 pay on EVERY
    * invocation, paid here once per corpus version.
    */
  def buildAndCommit(spark: SparkSession, dir: String): Meta =
    buildInto(spark, dir, indexRoot(spark, dir))

  /** [[buildAndCommit]] parameterized by target root — the FULL-rebuild
    * arm of the refresh policy (q249) rebuilds a lifecycle root in
    * place with full-corpus knobs and seeds; `commitPartitioned`'s
    * replace semantics guarantee the result is byte-independent of
    * whatever artifact state preceded it.
    */
  private def buildInto(spark: SparkSession, dir: String,
      root: String): Meta = {
    val n = Tables.rowCountFromFooters(spark, dir, "embeddings")
    val nlist = Similarity.nlistFor(n)
    val nprobe = Similarity.nprobeFor(nlist)
    val k = Similarity.pqKFor(n)
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    // a rebuild invalidates the previous artifact the moment it starts:
    // drop the sidecar first so a crash mid-build leaves a certifiably
    // incomplete index (ensureCommitted will rebuild), never a sidecar
    // pointing at torn tables
    if (lakeFs.exists(sidecarPath(root))) lakeFs.delete(sidecarPath(root))
    Seq(membersDir(root), codesDir(root), modelDir(root))
      .foreach(writer.repair(_)) // reap crashed-run litter before staging
    // ONE assignment pass feeds both corpus-sized commits: the persisted
    // routed relation is written as members, then PQ-coded in place —
    // previously the codes commit re-ran the full argmax assignment
    // over the corpus (guide §1.2: remove repeated passes first)
    val assigned = Similarity.assignedEmbeddingsFor(spark, dir, nlist)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("c_id"), col("embedding"))
    // three independent commits (disjoint dirs, separate leases) — the
    // members/codes pair shares the one persisted routing pass
    graft.util.Par.triple(
      writer.commitPartitioned(assigned, membersDir(root), "bucket"),
      writer.commitPartitioned(
        codedFromAssigned(assigned, Similarity.centroidLits(spark, dir, k)),
        codesDir(root), "bucket"),
      writer.commitPartitioned(
        emb.filter(col("c_id") < nlist).withColumn("kind", lit("ivf"))
          .unionByName(
            emb.filter(col("c_id") < k).withColumn("kind", lit("pq"))),
        modelDir(root), "kind"))
    assigned.unpersist()
    val meta = Meta(IndexVersion, n, nlist, nprobe, k,
      corpusFingerprint(spark, dir))
    lakeFs.writeString(sidecarPath(root),
      s"""{"version":${meta.version},"n":${meta.n},"nlist":${meta.nlist},""" +
        s""""nprobe":${meta.nprobe},"k":${meta.k},"fp":${meta.fp}}""")
    meta
  }

  /** The committed meta, or None when the sidecar is absent (no commit
    * ever completed here) or unparseable.
    */
  def readMeta(spark: SparkSession, dir: String): Option[Meta] = {
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val p = sidecarPath(indexRoot(spark, dir))
    if (!lakeFs.exists(p)) None
    else {
      val s = lakeFs.readString(p)
      def f(key: String): Option[Long] =
        s""""$key":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
      for (v <- f("version"); n <- f("n"); nl <- f("nlist");
           np <- f("nprobe"); k <- f("k"); fp <- f("fp"))
        yield Meta(v, n, nl.toInt, np.toInt, k.toInt, fp)
    }
  }

  /** The serving entry: reuse the committed artifact when its sidecar
    * certifies the current layout version AND the corpus row count AND
    * the corpus content fingerprint it was built from (all file
    * metadata, no scan) — rebuild otherwise. A same-row-count content
    * rewrite therefore invalidates the artifact instead of being
    * silently served stale buckets. Idempotent: a second call is a
    * sidecar read plus one directory listing, no jobs.
    */
  def ensureCommitted(spark: SparkSession, dir: String): Meta = {
    val n = Tables.rowCountFromFooters(spark, dir, "embeddings")
    val fp = corpusFingerprint(spark, dir)
    readMeta(spark, dir)
      .filter(m => m.version == IndexVersion && m.n == n && m.fp == fp)
      .getOrElse(buildAndCommit(spark, dir))
  }

  /** Committed model load: the `kind=` slice of the model table,
    * collected to the driver in centroid-id order — O(width·dims), the
    * same footprint as the live path's seed collect.
    */
  private def modelLits(spark: SparkSession, root: String,
      kind: String): Seq[(Long, Array[Float])] =
    spark.read.parquet(s"${modelDir(root)}/kind=$kind")
      .select(col("c_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).toSeq

  /** A committed bucket-partitioned table, with the partition column
    * restored to the long the build wrote (partition-type inference
    * reads small bucket ids back as ints).
    */
  private def bucketTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).withColumn("bucket", col("bucket").cast("long"))

  /** q244: build + commit + audit in one graded query — the executed
    * lake-commit posture of q216/q234, applied to the index artifact.
    * The audit panel reads back the COMMITTED tables (never the build's
    * in-flight relations): per bucket, member count, a bit_xor witness
    * of the membership, the code-table row count and total code mass,
    * plus the frozen knobs — the oracle recomputes all of it from the
    * raw corpus, so a torn commit, a dropped bucket, or a knob drift
    * breaks the hash.
    */
  def commitAudit(spark: SparkSession, dir: String): DataFrame = {
    val meta = buildAndCommit(spark, dir)
    val root = indexRoot(spark, dir)
    val members = bucketTable(spark, membersDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_members"),
        expr("bit_xor(vec_id)").as("vec_xor"))
    val codeMass = (0 until Similarity.PqSubspaces)
      .map(m => col(s"code_$m")).reduce(_ + _)
    val codes = bucketTable(spark, codesDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_codes"), sum(codeMass).as("code_mass"))
    members.join(codes, Seq("bucket"))
      .select(col("bucket"), col("n_members"), col("vec_xor"),
        col("n_codes"), col("code_mass"),
        lit(meta.version).as("index_version"),
        lit(meta.nlist.toLong).as("nlist"),
        lit(meta.nprobe.toLong).as("nprobe"),
        lit(meta.k.toLong).as("k"))
  }

  /** q245: the q106-shaped IVF search served FROM the committed
    * artifact — hash-equal to the live q106 by construction (the
    * committed assignment is byte-identical to the live one), but the
    * plan carries zero corpus re-assignment: candidates come off the
    * bucket-partitioned members table, centroids off the committed
    * model, and the corpus table is touched only for the query subset.
    */
  def ivfServe(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    val meta = ensureCommitted(spark, dir)
    val root = indexRoot(spark, dir)
    val cents = modelLits(spark, root, "ivf")
    val q = Similarity.queries(Tables.embeddings(spark, dir))
      .withColumn("n_q", Similarity.normQ("q_emb"))
    val probes = q
      .select(col("q_id"), col("q_emb"), col("n_q"),
        explode(slice(sort_array(Similarity.probeRanking(cents, "q_emb")),
          1, meta.nprobe)).as("p"))
      .select(col("q_id"), col("q_emb"), col("n_q"),
        col("p.c_id").as("bucket"))
    val candidates = bucketTable(spark, membersDir(root))
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("n_emb", Similarity.normQ("embedding"))
      .withColumn("dot_q", Similarity.dotQ("q_emb", "embedding"))
      .withColumn("cos_ppm", expr(
        "CAST(floor(CAST(dot_q AS DOUBLE) * 1000000.0 / " +
          "(sqrt(CAST(n_q AS DOUBLE)) * sqrt(CAST(n_emb AS DOUBLE)))) AS BIGINT)"))
    Similarity.topkPerQuery(candidates, "cos_ppm", 5)
  }

  /** q246: the q108-shaped IVF-PQ ADC search served FROM the committed
    * artifact — candidates are 8-byte code rows off the committed codes
    * table (the 100 TB read-3-TB-not-100 property, now without the
    * per-invocation coding pass), LUTs and probes ride the broadcast
    * query side against the committed codebook.
    */
  def ivfPqServe(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    val meta = ensureCommitted(spark, dir)
    val root = indexRoot(spark, dir)
    // the ONE ADC pipeline (per-q_id LUT broadcasts + the slice rule —
    // Similarity.adcSearch), with the candidate side swapped for the
    // committed 8-byte code rows and the model read off the artifact
    Similarity.adcSearch(
      bucketTable(spark, codesDir(root)),
      Similarity.queries(Tables.embeddings(spark, dir)),
      modelLits(spark, root, "ivf"), modelLits(spark, root, "pq"),
      meta.nprobe, meta.k, meta.n / 100L + 1L)
  }

  /** Root of the INCREMENTAL-lifecycle artifact (q248) — separate from
    * the full-build root on purpose: the incremental index is built
    * from the crawl BASE split with base-derived knobs/seeds, so its
    * model differs from the full build's; sharing a root would let
    * [[ensureCommitted]] serve q245/q246 from the wrong model.
    */
  private def incRoot(spark: SparkSession, dir: String): String =
    indexRoot(spark, dir) + "_inc"

  /** Lowest-`width` vector ids of `corpus` as the model seed set — the
    * [[Similarity.centroidLits]] rule generalized to a corpus whose ids
    * are not dense from 0 (the crawl base split). TakeOrdered, never a
    * full sort.
    */
  private def seedDf(corpus: DataFrame, width: Int): DataFrame =
    corpus.orderBy(col("vec_id")).limit(width)
      .select(col("vec_id").as("c_id"), col("embedding"))

  private def assignedFor(df: DataFrame,
      ivfCents: Seq[(Long, Array[Float])]): DataFrame =
    Similarity.withBucket(df.select(col("vec_id"), col("embedding")),
      ivfCents, "embedding")
      .select(col("vec_id"), col("embedding"), col("bucket"))

  private def codedFor(df: DataFrame, ivfCents: Seq[(Long, Array[Float])],
      pqCents: Seq[(Long, Array[Float])]): DataFrame =
    codedFromAssigned(assignedFor(df, ivfCents), pqCents)

  /** PQ-code an ALREADY-ASSIGNED/ROUTED relation (vec_id, embedding,
    * bucket) against `pqCents` — the coding half of [[codedFor]]
    * without the assignment pass. Builds and deltas hold the routed
    * relation already (persisted for the members commit), so coding
    * off it makes "one assignment pass per build" literal instead of
    * paying the argmax/two-level routing twice per lifecycle commit.
    * Byte-identical to [[codedFor]] on the same rows by construction:
    * [[Similarity.withPqDistanceArrays]] only APPENDS the distance
    * arrays, the routing columns pass through untouched.
    */
  private def codedFromAssigned(assigned: DataFrame,
      pqCents: Seq[(Long, Array[Float])]): DataFrame =
    Similarity.withPqDistanceArrays(assigned, pqCents)
      .select(col("vec_id") +: col("bucket") +:
        (0 until Similarity.PqSubspaces)
          .map(m => Similarity.pqCode(m).as(s"code_$m")): _*)

  /** Total row count over every `bucket=<long>` partition of a
    * committed table, from parquet FOOTER metadata only
    * ([[graft.lake.Footers]]) — never a scan job — for witnesses that
    * need the count but not a checksum.
    */
  private def footerRowsUnder(spark: SparkSession,
      lakeFs: graft.lake.LakeFs, tableDir: String): Long =
    graft.lake.Footers.counts(spark,
      lakeFs.fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => BucketDirName.pattern.matcher(n).matches())
        .map(n => s"$tableDir/$n").toSeq).map(_._2).sum

  /** The touched-bucket histogram of a routed delta in ONE job:
    * (bucket, rows) collected off a ≤ nlist-group aggregation — the
    * separate `distinct().collect()` + `count()` pair paid two passes
    * over the delta for numbers one aggregation carries.
    */
  private def touchedAndCount(dm: DataFrame): (Array[Long], Long) = {
    val perBucket = dm.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    (perBucket.map(_._1), perBucket.map(_._2).sum)
  }

  /** q248: the incremental ingest EXECUTED — q132 reports what an
    * ingest WOULD do to each bucket; this DOES it. The artifact is
    * built from the crawl BASE split (< 0.9 md5, base-derived knobs,
    * lowest-base-id seeds), then the fresh arrivals (≥ 0.9) are
    * assigned + PQ-coded with the COMMITTED model — one map-only pass
    * over the DELTA only — and committed per bucket through
    * [[graft.lake.AtomicPartitionWriter.upsertPartitionsCounted]]: only
    * buckets that received arrivals rewrite (IO ∝ touched mass, never
    * the table; the touched set is nlist-bounded, ≤ √N literals in the
    * pruning filter), untouched buckets' files never move, and the
    * version sidecar advances its corpus count LAST so readers gate on
    * a consistent artifact. No full rebuild anywhere.
    *
    * The audit panel reads back the COMMITTED tables: per bucket,
    * member count, bit_xor witness, code rows, how many members are
    * arrivals, plus the frozen base-derived knobs — the oracle replays
    * all of it from the raw corpus (base-seeded centroids over the
    * FULL corpus ≡ base build ∪ delta ingest), so a dropped delta, a
    * clobbered untouched bucket, or a knob drift breaks the hash.
    */
  def incrementalIngestCommit(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    val root = incRoot(spark, dir)
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(hb < 900000L)
    val arrivals = emb.filter(hb >= 900000L)
    val b = commitBaseArtifact(spark, root, base, writer, lakeFs)
    val (nArr, _, _) =
      ingestDelta(spark, root, arrivals, b.ivfCents, b.pqCents, writer)
    writeSidecar(spark, dir, lakeFs, root, b.nBase + nArr, b.nlist, b.k)
    ingestAuditPanel(spark, root, b.nlist, b.k)
  }

  /** The base half of an incremental-lifecycle artifact: derive knobs
    * from the BASE split's count, seed the model from its lowest ids,
    * and commit model + members + codes (the q244 machinery with corpus
    * and seeds parameterized). Drops the sidecar FIRST — a crash
    * mid-build must leave a certifiably incomplete artifact.
    */
  private final case class BaseBuild(nBase: Long, nlist: Int, k: Int,
    ivfCents: Seq[(Long, Array[Float])], pqCents: Seq[(Long, Array[Float])])

  private def commitBaseArtifact(spark: SparkSession, root: String,
      base: DataFrame, writer: graft.lake.AtomicPartitionWriter,
      lakeFs: graft.lake.LakeFs): BaseBuild = {
    val nBase = base.count()
    val nlist = Similarity.nlistFor(nBase)
    val k = Similarity.pqKFor(nBase)
    if (lakeFs.exists(sidecarPath(root))) lakeFs.delete(sidecarPath(root))
    Seq(membersDir(root), codesDir(root), modelDir(root))
      .foreach(writer.repair(_))
    // seed centroids collected ONCE from the base relation — one
    // TakeOrdered job for the max(nlist, k) lowest ids, identical rows
    // to what the model commit stages (the buildInto/centroidLits
    // discipline; the previous write→modelLits read-back paid two
    // extra read jobs on the critical path for the same sequences,
    // both sorted by id). The model commit then overlaps the two
    // corpus-sized commits: three disjoint dirs (guide §2.6).
    val seeds = seedDf(base, math.max(nlist, k)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    val ivfCents = seeds.take(nlist)
    val pqCents = seeds.take(k)
    // one assignment pass over the base feeds both commits (the
    // buildInto discipline): persist the routed base, code off it
    val assigned = assignedFor(base, ivfCents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.util.Par.triple(
      writer.commitPartitioned(assigned, membersDir(root), "bucket"),
      writer.commitPartitioned(codedFromAssigned(assigned, pqCents),
        codesDir(root), "bucket"),
      writer.commitPartitioned(
        seedDf(base, nlist).withColumn("kind", lit("ivf"))
          .unionByName(seedDf(base, k).withColumn("kind", lit("pq"))),
        modelDir(root), "kind"))
    assigned.unpersist()
    BaseBuild(nBase, nlist, k, ivfCents, pqCents)
  }

  /** The delta-commit primitive shared by q248/q249/q250/q251: assign +
    * PQ-code `delta` with the COMMITTED model (one map-only pass over
    * the delta only), then rewrite ONLY the buckets that received
    * arrivals via [[graft.lake.AtomicPartitionWriter.upsertPartitionsCounted]]
    * — IO ∝ touched mass, never the table; the touched set is
    * nlist-bounded (≤ √N literals in the pruning filter); untouched
    * buckets' files never move. REPLAY-IDEMPOTENT: existing rows with
    * the delta's vec_ids are anti-joined out before the union, so an
    * at-least-once re-application (the q251 foreachBatch contract, a
    * crashed-and-rerun batch job) rewrites the same rows instead of
    * duplicating them.
    *
    * Returns (delta rows, touched buckets, member rows rewritten) — the
    * write-amplification observables the q250 fragmentation audit
    * grades.
    */
  private def ingestDelta(spark: SparkSession, root: String,
      delta: DataFrame, ivfCents: Seq[(Long, Array[Float])],
      pqCents: Seq[(Long, Array[Float])],
      writer: graft.lake.AtomicPartitionWriter): (Long, Long, Long) = {
    val dm = assignedFor(delta, ivfCents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ≤ nlist buckets by construction; one job carries both numbers
    val (touched, nArr) = touchedAndCount(dm)
    if (nArr == 0L) { dm.unpersist(); return (0L, 0L, 0L) }
    val keptMembers = bucketTable(spark, membersDir(root))
      .filter(col("bucket").isin(touched: _*))
      .join(dm.select(col("vec_id")), Seq("vec_id"), "left_anti")
    // the two upserts touch disjoint tables and share only the
    // persisted dm — overlap them (guide §2.6); rows physically
    // rewritten = rows staged into the swapped bucket dirs, read off
    // the STAGED footers inside the commit (one less post-commit
    // listing than re-reading the committed dirs, same number)
    val ((_, nRewritten), _) = graft.util.Par.pair(
      writer.upsertPartitionsCounted(
        keptMembers.unionByName(dm), membersDir(root), "bucket"),
      writer.upsertPartitionsCounted(
        bucketTable(spark, codesDir(root))
          .filter(col("bucket").isin(touched: _*))
          .join(dm.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .unionByName(codedFromAssigned(dm, pqCents)), // routed once: code off dm
        codesDir(root), "bucket"))
    dm.unpersist()
    (nArr, touched.length.toLong, nRewritten)
  }

  private def writeSidecar(spark: SparkSession, dir: String,
      lakeFs: graft.lake.LakeFs, root: String, n: Long, nlist: Int,
      k: Int): Unit =
    lakeFs.writeString(sidecarPath(root),
      s"""{"version":$IndexVersion,"n":$n,"nlist":$nlist,""" +
        s""""nprobe":${Similarity.nprobeFor(nlist)},"k":$k,""" +
        s""""fp":${corpusFingerprint(spark, dir)}}""")

  /** The q248-shaped read-back audit of a lifecycle root: per bucket,
    * committed member count, bit_xor witness, code rows + mass, how
    * many members are ≥0.9-split arrivals, and the frozen knobs.
    */
  private def ingestAuditPanel(spark: SparkSession, root: String,
      nlist: Int, k: Int): DataFrame = {
    val hb = Sampling.hashBucket("vec_id")
    val members = bucketTable(spark, membersDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_members"),
        expr("bit_xor(vec_id)").as("vec_xor"),
        sum(when(hb >= 900000L, 1L).otherwise(0L)).as("n_arrived"))
    val codeMass = (0 until Similarity.PqSubspaces)
      .map(m => col(s"code_$m")).reduce(_ + _)
    val codes = bucketTable(spark, codesDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_codes"), sum(codeMass).as("code_mass"))
    members.join(codes, Seq("bucket"))
      .select(col("bucket"), col("n_members"), col("vec_xor"),
        col("n_codes"), col("code_mass"), col("n_arrived"),
        lit(IndexVersion).as("index_version"),
        lit(nlist.toLong).as("nlist"), lit(k.toLong).as("k"))
  }

  /** q249's decision thresholds: (scenario, low ppm, high ppm). The
    * ≥0.9 md5 arrival split is ~11% of the base (~111k ppm), so the
    * three rows land one per policy arm at EVERY scale — growth is a
    * count ratio, invariant under corpus growth.
    */
  val PolicyScenarios: Seq[(String, Long, Long)] = Seq(
    ("fresh", 200000L, 500000L),
    ("stale", 50000L, 500000L),
    ("drift", 10000L, 50000L))

  /** The pure decision rule — growth below `low` leaves the artifact
    * alone, inside [low, high) pays the touched-bucket ingest, at or
    * above `high` the model itself is judged drifted and the artifact
    * is rebuilt with current-corpus knobs.
    */
  def refreshDecision(growthPpm: Long, lowPpm: Long, highPpm: Long): String =
    if (growthPpm < lowPpm) "noop"
    else if (growthPpm < highPpm) "ingest"
    else "rebuild"

  /** q249: the staleness-TRIGGERED refresh policy EXECUTED — the
    * operational gap between q247 (report) and q248 (mechanism): given
    * a committed base artifact and the pending ≥0.9 arrivals, evaluate
    * [[refreshDecision]] at each [[PolicyScenarios]] threshold pair and
    * EXECUTE the chosen action through the commit lease (the q234
    * executed-backfill posture; reference seam: the 5-minute pipeline
    * tick, `airflow/dags/hadoop_dag.py:115-118`, applied to the index
    * artifact). One lifecycle root walks the three arms in sequence —
    * noop (artifact stays base-only), ingest (touched-bucket delta
    * commit), rebuild (full-corpus knobs + seeds, wholesale replace) —
    * and each row carries the post-action COMMITTED witnesses (member
    * count, global bit_xor, bucket count, code rows, frozen knobs), so
    * a policy that executes the wrong arm, tears a commit, or drifts a
    * knob breaks the hash.
    */
  def refreshPolicy(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    val root = indexRoot(spark, dir) + "_policy"
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(hb < 900000L)
    val arrivals = emb.filter(hb >= 900000L)
    val b = commitBaseArtifact(spark, root, base, writer, lakeFs)
    writeSidecar(spark, dir, lakeFs, root, b.nBase, b.nlist, b.k)
    val nArr = arrivals.count()
    val growthPpm = nArr * 1000000L / b.nBase
    def witness(): (Long, Long, Long, Long) = {
      val m = bucketTable(spark, membersDir(root))
        .agg(count(lit(1)).as("n"), expr("bit_xor(vec_id)").as("x"),
          countDistinct(col("bucket")).as("b")).collect()(0)
      // the code-row count needs no checksum — parquet footers carry it
      // (driver metadata IO instead of a scan job per scenario)
      (m.getLong(0), m.getLong(1), m.getLong(2),
        footerRowsUnder(spark, lakeFs, codesDir(root)))
    }
    val rows = PolicyScenarios.map { case (scenario, low, high) =>
      val decision = refreshDecision(growthPpm, low, high)
      val (nlist, k) = decision match {
        case "noop" => (b.nlist, b.k) // artifact untouched
        case "ingest" =>
          val (got, _, _) =
            ingestDelta(spark, root, arrivals, b.ivfCents, b.pqCents, writer)
          writeSidecar(spark, dir, lakeFs, root, b.nBase + got, b.nlist, b.k)
          (b.nlist, b.k)
        case _ =>
          val meta = buildInto(spark, dir, root)
          (meta.nlist, meta.k)
      }
      val (nMembers, vecXor, nBuckets, nCodes) = witness()
      (scenario, decision, growthPpm, low, high,
        nMembers, vecXor, nBuckets, nCodes, nlist.toLong, k.toLong)
    }
    import spark.implicits._
    rows.toDF("scenario", "decision", "growth_ppm", "low_ppm", "high_ppm",
      "n_members", "vec_xor", "n_buckets", "n_codes", "nlist", "k")
  }

  /** q250's wave boundaries on the md5 hash split: base < 0.7, then
    * three successive delta waves of ~10% of the corpus each — the
    * repeated-ingest shape a production crawl feeds the artifact.
    */
  val FragWaves: Seq[(Long, Long, Long)] =
    Seq((1L, 700000L, 800000L), (2L, 800000L, 900000L),
      (3L, 900000L, 1000000L))

  /** q250: index-artifact write amplification under REPEATED ingests —
    * the round-12 open question: q248 rewrites touched buckets
    * wholesale, so what does K successive delta waves cost? Per wave:
    * arrivals, touched buckets, member rows physically rewritten
    * (pre-wave touched-bucket occupancy + the delta — the exact
    * rows-out of the upsert's swap), write amplification in exact ppm
    * (rewritten·10⁶ div arrivals), and the committed total. The
    * FILE-COUNT half of fragmentation is structural, not measured:
    * each upsert REPLACES a touched bucket's directory through the
    * swap, so files/bucket is bounded by the writer's partition count
    * per commit and does NOT accumulate across waves (AnnIndexSpec
    * asserts it; LakeSpec's upsert test pins the never-moves half).
    * The oracle replays every number from the raw corpus (base-seeded
    * assignment of all waves), so a wave that clobbers an untouched
    * bucket or double-ingests breaks the hash.
    */
  def fragmentationAudit(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    val root = indexRoot(spark, dir) + "_frag"
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val b = commitBaseArtifact(spark, root, emb.filter(hb < 700000L),
      writer, lakeFs)
    var committed = b.nBase
    val rows = FragWaves.map { case (wave, lo, hi) =>
      val (nArr, nTouched, nRewritten) = ingestDelta(spark, root,
        emb.filter(hb >= lo && hb < hi), b.ivfCents, b.pqCents, writer)
      committed += nArr
      writeSidecar(spark, dir, lakeFs, root, committed, b.nlist, b.k)
      val ampPpm = if (nArr == 0L) 0L else nRewritten * 1000000L / nArr
      (wave, nArr, nTouched, nRewritten, ampPpm, committed)
    }
    import spark.implicits._
    rows.toDF("wave", "n_arrivals", "n_touched", "rows_rewritten",
      "write_amp_ppm", "n_total")
  }

  private val streamRunCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** q251: the STREAMING twin of q248 — arrivals land as a parquet file
    * stream (the production crawl shape) and each micro-batch pays one
    * touched-bucket [[ingestDelta]] through the commit lease
    * (`foreachBatch`, `Trigger.AvailableNow`, `maxFilesPerTrigger=1` —
    * several genuine micro-batches, serialized by the streaming
    * engine). The final committed artifact is IDENTICAL to the batch
    * q248's by construction — same base split, same base-seeded model,
    * and union-over-batches ≡ union-over-delta — so it shares q248's
    * oracle verbatim (the q137 batch/stream parity posture).
    * `foreachBatch` is at-least-once; replay safety is
    * [[ingestDelta]]'s anti-join idempotence, not luck. The checkpoint
    * is fresh per invocation (a reused one would skip every file after
    * the base rebuild and serve a base-only artifact).
    */
  def streamingIngestCommit(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    val root = incRoot(spark, dir) + "_stream"
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(hb < 900000L)
    val arrivals = emb.filter(hb >= 900000L)
    val b = commitBaseArtifact(spark, root, base, writer, lakeFs)
    val run = streamRunCounter.incrementAndGet()
    val srcDir = s"${root}_arrivals_src"
    val ckptDir = s"${root}_ckpt_$run"
    // stage the arrivals as 4 files so AvailableNow+maxFilesPerTrigger=1
    // drains them across 4 micro-batches — a real multi-batch ingest,
    // not a single-batch disguise
    arrivals.repartition(4, col("vec_id")).write.mode("overwrite")
      .parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val totalArr = new java.util.concurrent.atomic.AtomicLong(0L)
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (nArr, _, _) = ingestDelta(spark, root,
          batch.select(col("vec_id"), col("embedding")),
          b.ivfCents, b.pqCents, writer)
        totalArr.addAndGet(nArr)
        batches.incrementAndGet()
        ()
      }
      .start()
    q.awaitTermination()
    require(batches.get() >= 2L,
      s"streaming ingest drained in ${batches.get()} batch(es) — the twin " +
        "must exercise multi-batch upserts or it proves nothing beyond q248")
    writeSidecar(spark, dir, lakeFs, root, b.nBase + totalArr.get(),
      b.nlist, b.k)
    ingestAuditPanel(spark, root, b.nlist, b.k)
  }

  /** q247: the staleness handoff between the committed artifact and
    * q132's ingest semantics — per bucket, the COMMITTED member count
    * (read back from the artifact, not recomputed), the arrival count
    * of the fresh-crawl split (≥ 0.9 md5, q89's incremental discipline)
    * assigned with the COMMITTED centroids, growth in exact ppm, the
    * q132 mean-dot fit signal, and the sidecar version — everything a
    * re-train/re-commit decision reads. Arrivals' buckets always exist
    * in the index (the artifact covers the full corpus), so the left
    * join only fills buckets with no arrivals.
    */
  def stalenessReport(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    val meta = ensureCommitted(spark, dir)
    val root = indexRoot(spark, dir)
    val idx = bucketTable(spark, membersDir(root))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_index"))
    val cents = modelLits(spark, root, "ivf")
    val asn = call_function(graft.functions.GraftFunctions.ArgmaxDotName,
      col("embedding"), Similarity.centMatrixLit(cents))
    val arrivals = Tables.embeddings(spark, dir)
      .filter(Sampling.hashBucket("vec_id") >= 900000L)
      .withColumn("_a", asn)
      .select(
        element_at(Similarity.centIdsLit(cents),
          (col("_a.bucket") + 1).cast("int")).as("bucket"),
        col("_a.dot").as("dot_q"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_new"), sum(col("dot_q")).as("sum_new"))
    idx.join(arrivals, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("n_new"))
      .select(col("bucket"), col("n_index"), col("n_new"),
        expr("n_new * 1000000 DIV n_index").as("growth_ppm"),
        expr("CASE WHEN n_new = 0 THEN NULL " +
          "ELSE CAST((sum_new DIV n_new) - (CASE WHEN sum_new % n_new <> 0 " +
          "AND sum_new < 0 THEN 1 ELSE 0 END) AS BIGINT) END")
          .as("mean_dot_new_q"),
        lit(meta.version).as("index_version"))
  }

  // ──────────────── hierarchically-routed artifact (q256/q257) ──────
  //
  // The round-13 law-vs-law measurement: two-level routing builds the
  // same bucket layout CLASS at N^(5/4) where the flat build pays
  // N^(3/2) (q252 8.9 s vs q99 161.9 s at 1000×, 18.2×). The build is
  // where that matters — searches served from a committed artifact
  // never assign anything (q245's lesson) — so this is the production
  // composition: the q244 commit machinery with the q252 router inside,
  // and a serve that is hash-equal to the LIVE hier search (q254) the
  // way q245 is hash-equal to q106.

  /** The hier artifact's identity card: the frozen two-level knobs
    * (ncoarse, cprobe, perCell) ride beside the fine width so the
    * serve path replays the exact probe discipline the build froze;
    * `k` is the PQ codebook width frozen by the coded layouts (q262 —
    * the members-only layouts freeze it too, for one sidecar format).
    */
  final case class HierMeta(version: Long, n: Long, nlist: Int,
    ncoarse: Int, cprobe: Int, perCell: Int, k: Int, fp: Long)

  /** Separate lake root per layout: the flat (q244) and hier (q256)
    * artifacts of one corpus coexist — a router migration runs both
    * side by side and cuts over by path.
    */
  def hierIndexRoot(spark: SparkSession, dir: String): String =
    s"${indexRoot(spark, dir)}-hier"

  /** Train + commit the hier-routed artifact: ONE two-level assignment
    * pass over the corpus (O(N^(5/4)·dims) total — the q252 law) staged
    * and swapped per bucket, plus the model table — every fine centroid
    * with its routing CELL (so the serve path never re-derives the
    * fine→cell map) and the coarse subset as its own kind. Same
    * crash-certifiable commit order as [[buildAndCommit]]: sidecar
    * dropped first, written last.
    */
  /** The derived two-level + PQ knob set for a corpus of `n` rows —
    * one derivation shared by every hier build so the frozen knobs
    * cannot drift between layouts.
    */
  private def hierKnobsFor(spark: SparkSession, dir: String): HierMeta = {
    val n = Tables.rowCountFromFooters(spark, dir, "embeddings")
    val nlist = Similarity.nlistFor(n)
    val ncoarse = Similarity.ncoarseFor(nlist)
    val cprobe = Similarity.cprobeFor(ncoarse)
    val perCell = math.max(1, Similarity.nprobeFor(nlist) / cprobe)
    HierMeta(IndexVersion, n, nlist, ncoarse, cprobe, perCell,
      Similarity.pqKFor(n), corpusFingerprint(spark, dir))
  }

  private def writeHierSidecar(lakeFs: graft.lake.LakeFs, root: String,
      meta: HierMeta): Unit =
    lakeFs.writeString(sidecarPath(root),
      s"""{"version":${meta.version},"n":${meta.n},"nlist":${meta.nlist},""" +
        s""""ncoarse":${meta.ncoarse},"cprobe":${meta.cprobe},""" +
        s""""percell":${meta.perCell},"k":${meta.k},"fp":${meta.fp}}""")

  /** The (cell, f_id, f_emb) + (coarse) model rows of a [[Similarity
    * .HierModel]] — the relation every hier layout commits as its
    * model table.
    */
  private def hierModelRows(spark: SparkSession,
      m: Similarity.HierModel): DataFrame = {
    import spark.implicits._
    val fine = m.cells.zipWithIndex.flatMap { case (cell, ci) =>
      cell.map { case (fid, fEmb) =>
        (fid, fEmb.toSeq, m.coarse(ci)._1, "ivf") }
    }
    val coarse = m.coarse.map { case (gid, gEmb) =>
      (gid, gEmb.toSeq, gid, "coarse") }
    (fine ++ coarse).toDF("c_id", "embedding", "cell", "kind")
  }

  def buildHierAndCommit(spark: SparkSession, dir: String): HierMeta =
    buildHierInto(spark, dir, hierIndexRoot(spark, dir))

  /** [[buildHierAndCommit]] parameterized by target root — the
    * rebuild arm of the hier refresh policy (q267) rebuilds a
    * lifecycle root in place with full-corpus knobs and seeds.
    */
  private def buildHierInto(spark: SparkSession, dir: String,
      root: String): HierMeta = {
    Similarity.withFns(spark)
    val meta = hierKnobsFor(spark, dir)
    val m = Similarity.hierModelFor(
      Similarity.centroidLits(spark, dir, meta.nlist), meta.ncoarse)
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    if (lakeFs.exists(sidecarPath(root))) lakeFs.delete(sidecarPath(root))
    Seq(membersDir(root), modelDir(root)).foreach(writer.repair(_))
    // disjoint dirs; the model rows are driver data — overlapped
    graft.util.Par.pair(
      writer.commitPartitioned(
        Similarity.withHierBucket(Tables.embeddings(spark, dir), m, "embedding")
          .select(col("vec_id"), col("embedding"), col("bucket")),
        membersDir(root), "bucket"),
      writer.commitPartitioned(hierModelRows(spark, m), modelDir(root), "kind"))
    writeHierSidecar(lakeFs, root, meta)
    meta
  }

  /** The committed hier meta, or None (absent/unparseable sidecar). */
  def readHierMeta(spark: SparkSession, dir: String): Option[HierMeta] =
    readHierMetaAt(spark, hierIndexRoot(spark, dir))

  /** Same reuse law as [[ensureCommitted]]: layout version + corpus row
    * count + content fingerprint, or rebuild.
    */
  def ensureHierCommitted(spark: SparkSession, dir: String): HierMeta = {
    val n = Tables.rowCountFromFooters(spark, dir, "embeddings")
    val fp = corpusFingerprint(spark, dir)
    readHierMeta(spark, dir)
      .filter(m => m.version == IndexVersion && m.n == n && m.fp == fp)
      .getOrElse(buildHierAndCommit(spark, dir))
  }

  /** q256: the hier-routed build + commit + audit — q244's executed
    * commit posture with the two-level router inside. The panel reads
    * back the COMMITTED members (count + bit_xor membership witness per
    * bucket) plus the frozen two-level knobs; the oracle recomputes the
    * routing from the raw corpus, so a torn commit, a mis-routed row,
    * or a knob drift breaks the hash.
    */
  def hierCommitAudit(spark: SparkSession, dir: String): DataFrame = {
    val meta = buildHierAndCommit(spark, dir)
    val root = hierIndexRoot(spark, dir)
    bucketTable(spark, membersDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_members"),
        expr("bit_xor(vec_id)").as("vec_xor"))
      .select(col("bucket"), col("n_members"), col("vec_xor"),
        lit(meta.version).as("index_version"),
        lit(meta.nlist.toLong).as("nlist"),
        lit(meta.ncoarse.toLong).as("ncoarse"),
        lit(meta.cprobe.toLong).as("cprobe"),
        lit(meta.perCell.toLong).as("percell"))
  }

  /** The rebalanced layout's lake root — third layout of one corpus
    * (flat q244, seed-hier q256, rebalanced-hier q260), coexisting for
    * side-by-side cutover.
    */
  def hierRebalancedRoot(spark: SparkSession, dir: String): String =
    s"${indexRoot(spark, dir)}-hier2"

  /** Build + commit the REBALANCED hier artifact: q259's one-Lloyd-step
    * model and its re-routed corpus, committed through the same
    * machinery as q256 — members keyed by `bucket_new`, the model
    * table carrying the UPDATED fine centroids (with their unchanged
    * cells) and the unchanged coarse router. This is the full loop the
    * round's findings demanded: build (q256) → skew graded (q258) →
    * rebalance graded (q259) → rebalanced artifact served (q261).
    */
  def buildHierRebalancedAndCommit(spark: SparkSession, dir: String): HierMeta = {
    Similarity.withFns(spark)
    val root = hierRebalancedRoot(spark, dir)
    val meta = hierKnobsFor(spark, dir)
    val (updated, re, release) = Similarity.hierRebalanced(spark, dir)
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    if (lakeFs.exists(sidecarPath(root))) lakeFs.delete(sidecarPath(root))
    Seq(membersDir(root), modelDir(root)).foreach(writer.repair(_))
    // `updated` is driver data (hierLloydStep collects the means), so
    // the model commit is independent of the members commit — overlap
    graft.util.Par.pair(
      writer.commitPartitioned(
        re.select(col("vec_id"), col("embedding"),
          col("bucket_new").as("bucket")),
        membersDir(root), "bucket"),
      writer.commitPartitioned(hierModelRows(spark, updated),
        modelDir(root), "kind"))
    release() // commits are eager — the rebalance cache is done
    writeHierSidecar(lakeFs, root, meta)
    meta
  }

  private def readHierMetaAt(spark: SparkSession, root: String): Option[HierMeta] = {
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val p = sidecarPath(root)
    if (!lakeFs.exists(p)) None
    else {
      val s = lakeFs.readString(p)
      def f(key: String): Option[Long] =
        s""""$key":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
      for (v <- f("version"); n <- f("n"); nl <- f("nlist");
           nc <- f("ncoarse"); cp <- f("cprobe"); pc <- f("percell");
           k <- f("k"); fp <- f("fp"))
        yield HierMeta(v, n, nl.toInt, nc.toInt, cp.toInt, pc.toInt,
          k.toInt, fp)
    }
  }

  def ensureHierRebalancedCommitted(spark: SparkSession, dir: String): HierMeta = {
    val n = Tables.rowCountFromFooters(spark, dir, "embeddings")
    val fp = corpusFingerprint(spark, dir)
    readHierMetaAt(spark, hierRebalancedRoot(spark, dir))
      .filter(m => m.version == IndexVersion && m.n == n && m.fp == fp)
      .getOrElse(buildHierRebalancedAndCommit(spark, dir))
  }

  /** q260: the rebalanced build + commit + audit — the q256 panel over
    * q259's routing. The oracle replays the full Lloyd step from the
    * raw corpus, so committing the WRONG routing (e.g. the seed
    * assignment, or means computed over the wrong membership) breaks
    * the hash.
    */
  def hierRebalancedCommitAudit(spark: SparkSession, dir: String): DataFrame = {
    val meta = buildHierRebalancedAndCommit(spark, dir)
    val root = hierRebalancedRoot(spark, dir)
    bucketTable(spark, membersDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_members"),
        expr("bit_xor(vec_id)").as("vec_xor"))
      .select(col("bucket"), col("n_members"), col("vec_xor"),
        lit(meta.version).as("index_version"),
        lit(meta.nlist.toLong).as("nlist"),
        lit(meta.ncoarse.toLong).as("ncoarse"),
        lit(meta.cprobe.toLong).as("cprobe"),
        lit(meta.perCell.toLong).as("percell"))
  }

  /** q261: the hier search served FROM the rebalanced artifact — the
    * measurement that closes the round's serve finding: probed-bucket
    * mass is now near-uniform (q259's panel), so the candidate re-rank
    * volume drops toward the flat serve's. Same two-level probe
    * discipline as q254/q257, centroids and cells off the committed
    * model, candidates off the committed members.
    */
  def hierRebalancedServe(spark: SparkSession, dir: String): DataFrame = {
    val meta = ensureHierRebalancedCommitted(spark, dir)
    hierServeFrom(spark, dir, hierRebalancedRoot(spark, dir), meta)
  }

  /** q257: the q254 hier search served FROM the committed hier artifact
    * — hash-equal to the live q254 by construction (the committed
    * routing is byte-identical), but the plan carries ZERO corpus
    * assignment of any kind: candidates come off the bucket-partitioned
    * members, the two-level model (coarse ranking + per-cell fine
    * selection) rides the broadcast query side off the committed model
    * table, and the corpus is touched only for the query subset.
    */
  def hierServe(spark: SparkSession, dir: String): DataFrame = {
    val meta = ensureHierCommitted(spark, dir)
    hierServeFrom(spark, dir, hierIndexRoot(spark, dir), meta)
  }

  /** The committed-hier serve body, parameterized by artifact root —
    * shared by q257 (seed layout) and q261 (rebalanced layout).
    */
  private def hierServeFrom(spark: SparkSession, dir: String,
      root: String, meta: HierMeta): DataFrame = {
    Similarity.withFns(spark)
    val coarse = modelLits(spark, root, "coarse")
    val fineByCell = {
      import spark.implicits._
      spark.read.parquet(s"${modelDir(root)}/kind=ivf")
        .select(col("cell"), col("c_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
        .toSeq.toDF("cell", "f_id", "f_emb")
    }
    val q = Similarity.queries(Tables.embeddings(spark, dir))
      .withColumn("n_q", Similarity.normQ("q_emb"))
    val cellProbes = q
      .select(col("q_id"), col("q_emb"), col("n_q"),
        explode(slice(sort_array(Similarity.probeRanking(coarse, "q_emb")),
          1, meta.cprobe)).as("p"))
      .select(col("q_id"), col("q_emb"), col("n_q"),
        col("p.c_id").as("cell"))
    val wQC = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"), col("cell"))
    val probes = cellProbes.join(broadcast(fineByCell), Seq("cell"))
      .withColumn("fdot", Similarity.dotQ("q_emb", "f_emb"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        wQC.orderBy(col("fdot").desc, col("f_id").asc)))
      .filter(col("rk") <= meta.perCell)
      .select(col("q_id"), col("q_emb"), col("n_q"), col("f_id").as("bucket"))
    val candidates = bucketTable(spark, membersDir(root))
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("n_emb", Similarity.normQ("embedding"))
      .withColumn("dot_q", Similarity.dotQ("q_emb", "embedding"))
      .withColumn("cos_ppm", expr(
        "CAST(floor(CAST(dot_q AS DOUBLE) * 1000000.0 / " +
          "(sqrt(CAST(n_q AS DOUBLE)) * sqrt(CAST(n_emb AS DOUBLE)))) AS BIGINT)"))
    Similarity.topkPerQuery(candidates, "cos_ppm", 5)
  }

  // ──────────── PQ-coded rebalanced hier artifact (q262/q263) ───────
  //
  // The production composition the round-13 table implies but did not
  // build: N^(5/4) two-level build (q252) + the Lloyd-rebalanced
  // layout (q259, hottest bucket 8.4×→2.0× mean) + 8-byte PQ candidate
  // rows (q244's coding, the 100 TB read-3-TB-not-100 property). The
  // flat artifact had all three pieces separately; this root carries
  // them together, and the serve (q263) reads ONLY committed code rows
  // for candidates — zero corpus assignment, zero float vectors on the
  // candidate side.

  /** Fourth layout root of one corpus (flat q244, seed-hier q256,
    * rebalanced-hier q260, PQ'd-rebalanced q262) — separate on purpose,
    * so a cutover runs them side by side and switches by path.
    */
  def hierPqRoot(spark: SparkSession, dir: String): String =
    s"${indexRoot(spark, dir)}-hier2pq"

  /** Train + commit the PQ-coded rebalanced hier artifact: q259's
    * one-Lloyd-step model and re-routed members, PLUS the 8-byte code
    * rows keyed by the SAME rebalanced buckets, PLUS the model table
    * carrying fine (with cells), coarse AND the PQ codebook. Same
    * crash-certifiable commit order as every build here: sidecar
    * dropped first, written last.
    */
  def buildHierRebalancedPqAndCommit(spark: SparkSession, dir: String): HierMeta =
    buildHierRebalancedPqAt(spark, dir, hierPqRoot(spark, dir),
      hierKnobsFor(spark, dir))

  /** Root of the CAPPED-width production twin (q275/q276): identical
    * rebalanced routing, codebook width [[Similarity.pqKCappedFor]]
    * instead of k ∝ √N — the build's coding term goes linear and the
    * per-query LUT is a constant 8·k·8 bytes (no
    * [[Similarity.QueryLutSliceBytes]] slicing at any scale). Separate
    * root: the two layouts coexist, a migration cuts over by path.
    */
  def hierPqCappedRoot(spark: SparkSession, dir: String): String =
    s"${indexRoot(spark, dir)}-hier2pqc"

  private def cappedHierKnobsFor(spark: SparkSession, dir: String): HierMeta = {
    val m = hierKnobsFor(spark, dir)
    m.copy(k = Similarity.pqKCappedFor(m.n))
  }

  /** q275's build: the production rebalanced hier-PQ commit at the
    * CAPPED codebook width — same one-Lloyd-step routing, same commit
    * order, only `k` differs (and is frozen in the sidecar/panel).
    */
  def buildHierCappedPqAndCommit(spark: SparkSession, dir: String): HierMeta =
    buildHierRebalancedPqAt(spark, dir, hierPqCappedRoot(spark, dir),
      cappedHierKnobsFor(spark, dir))

  private def buildHierRebalancedPqAt(spark: SparkSession, dir: String,
      root: String, meta: HierMeta): HierMeta = {
    Similarity.withFns(spark)
    val pqCents = Similarity.centroidLits(spark, dir, meta.k)
    val (updated, re, release) = Similarity.hierRebalanced(spark, dir)
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    if (lakeFs.exists(sidecarPath(root))) lakeFs.delete(sidecarPath(root))
    Seq(membersDir(root), codesDir(root), modelDir(root))
      .foreach(writer.repair(_))
    val members = re.select(col("vec_id"), col("embedding"),
      col("bucket_new").as("bucket"))
    // disjoint dirs off the one persisted rebalance — overlapped
    graft.util.Par.pair(
      writer.commitPartitioned(members, membersDir(root), "bucket"),
      writer.commitPartitioned(
        Similarity.withPqDistanceArrays(members, pqCents)
          .select(col("vec_id") +: col("bucket") +:
            (0 until Similarity.PqSubspaces)
              .map(m => Similarity.pqCode(m).as(s"code_$m")): _*),
        codesDir(root), "bucket"))
    release() // both corpus-sized commits are done
    val pqRows = {
      import spark.implicits._
      pqCents.map { case (cid, emb) => (cid, emb.toSeq, cid, "pq") }
        .toDF("c_id", "embedding", "cell", "kind")
    }
    writer.commitPartitioned(
      hierModelRows(spark, updated).unionByName(pqRows),
      modelDir(root), "kind")
    writeHierSidecar(lakeFs, root, meta)
    meta
  }

  def ensureHierRebalancedPqCommitted(spark: SparkSession, dir: String): HierMeta = {
    val n = Tables.rowCountFromFooters(spark, dir, "embeddings")
    val fp = corpusFingerprint(spark, dir)
    readHierMetaAt(spark, hierPqRoot(spark, dir))
      .filter(m => m.version == IndexVersion && m.n == n && m.fp == fp)
      .getOrElse(buildHierRebalancedPqAndCommit(spark, dir))
  }

  def ensureHierCappedPqCommitted(spark: SparkSession, dir: String): HierMeta = {
    val n = Tables.rowCountFromFooters(spark, dir, "embeddings")
    val fp = corpusFingerprint(spark, dir)
    readHierMetaAt(spark, hierPqCappedRoot(spark, dir))
      .filter(m => m.version == IndexVersion && m.n == n && m.fp == fp &&
        m.k == Similarity.pqKCappedFor(n)) // a re-pinned cap invalidates
      .getOrElse(buildHierCappedPqAndCommit(spark, dir))
  }

  /** q262: the PQ'd rebalanced build + commit + audit — the q244 panel
    * (members AND codes witnesses) over q259's routing plus the frozen
    * two-level + PQ knobs. The oracle replays the Lloyd step and every
    * subspace argmin from the raw corpus, so committing the wrong
    * routing, a torn code table, or a knob drift breaks the hash.
    */
  def hierPqCommitAudit(spark: SparkSession, dir: String): DataFrame =
    hierPqCommitPanel(spark, buildHierRebalancedPqAndCommit(spark, dir),
      hierPqRoot(spark, dir))

  /** q275: the q262 commit audit on the CAPPED-width production build —
    * identical routing (members witnesses hash-equal to q262's), codes
    * re-derived at k = [[Similarity.pqKCappedFor]], the frozen `k`
    * column keeping the cap under the gate. This is the build a
    * deployment keeps linear: coding O(N·k_cap·d), LUT constant.
    */
  def hierPqCappedCommitAudit(spark: SparkSession, dir: String): DataFrame =
    hierPqCommitPanel(spark, buildHierCappedPqAndCommit(spark, dir),
      hierPqCappedRoot(spark, dir))

  private def hierPqCommitPanel(spark: SparkSession, meta: HierMeta,
      root: String): DataFrame = {
    val members = bucketTable(spark, membersDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_members"),
        expr("bit_xor(vec_id)").as("vec_xor"))
    val codeMass = (0 until Similarity.PqSubspaces)
      .map(m => col(s"code_$m")).reduce(_ + _)
    val codes = bucketTable(spark, codesDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_codes"), sum(codeMass).as("code_mass"))
    members.join(codes, Seq("bucket"))
      .select(col("bucket"), col("n_members"), col("vec_xor"),
        col("n_codes"), col("code_mass"),
        lit(meta.version).as("index_version"),
        lit(meta.nlist.toLong).as("nlist"),
        lit(meta.ncoarse.toLong).as("ncoarse"),
        lit(meta.cprobe.toLong).as("cprobe"),
        lit(meta.perCell.toLong).as("percell"),
        lit(meta.k.toLong).as("k"))
  }

  /** q263: the two-level ADC search served FROM the committed PQ'd
    * rebalanced artifact — candidates are 8-byte code rows off the
    * committed codes table (never float vectors, never the corpus),
    * probe selection is the committed two-level model (coarse ranking +
    * per-cell fine selection) on the broadcast query side, ranking is
    * [[Similarity.hierAdcSearch]]'s exact integer ADC. Hash-equal to
    * the live [[Similarity.hierRebalancedAdcSearch]] by construction
    * (AnnIndexSpec asserts it); the plan carries zero corpus
    * assignment and touches the corpus only for the query subset.
    */
  def hierRebalancedPqServe(spark: SparkSession, dir: String): DataFrame =
    hierPqServeAt(spark, dir, ensureHierRebalancedPqCommitted(spark, dir),
      hierPqRoot(spark, dir))

  /** q276: the q263 two-level ADC serve off the CAPPED artifact — the
    * same committed-model probe discipline and exact integer ADC, but
    * the per-query LUT is 8·k_cap·8 bytes, CONSTANT in N: at 1000× the
    * derived-width serve slices its k=1414 LUT into 8 broadcast chunks
    * ([[Similarity.QueryLutSliceBytes]]) and pays a join per slice;
    * this one never slices at any scale.
    */
  def hierCappedPqServe(spark: SparkSession, dir: String): DataFrame =
    hierPqServeAt(spark, dir, ensureHierCappedPqCommitted(spark, dir),
      hierPqCappedRoot(spark, dir))

  private def hierPqServeAt(spark: SparkSession, dir: String,
      meta: HierMeta, root: String): DataFrame = {
    Similarity.withFns(spark)
    val coarse = modelLits(spark, root, "coarse")
    val fineByCell = {
      import spark.implicits._
      spark.read.parquet(s"${modelDir(root)}/kind=ivf")
        .select(col("cell"), col("c_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
        .toSeq.toDF("cell", "f_id", "f_emb")
    }
    Similarity.hierAdcSearch(
      bucketTable(spark, codesDir(root)),
      Similarity.queries(Tables.embeddings(spark, dir)),
      coarse, fineByCell, modelLits(spark, root, "pq"),
      meta.cprobe, meta.perCell, meta.k, meta.n / 100L + 1L)
  }

  /** The committed two-level model re-read from an artifact's model
    * table (nlist rows + ncoarse rows — O(model), never the corpus) —
    * every incremental arm routes with the ARTIFACT's model, never the
    * builder's in-memory copy, so a restarted ticker resumes from
    * exactly the committed state.
    */
  private def readCommittedHierModel(spark: SparkSession,
      root: String): Similarity.HierModel = {
    val rows = spark.read.parquet(s"${modelDir(root)}/kind=ivf")
      .select(col("cell"), col("c_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val coarse = modelLits(spark, root, "coarse")
    Similarity.HierModel(coarse,
      coarse.map { case (gid, _) =>
        rows.filter(_._1 == gid).map(t => (t._2, t._3)).sortBy(_._1).toSeq
      })
  }

  // ──────────────────── hier-lifecycle refresh policy (q267) ────────

  /** q267's scenario knobs: (name, growth low ppm, growth high ppm,
    * skew cap ppm). Growth thresholds follow q249 (the ≥0.9 arrival
    * split is ~111k ppm at every scale); the skew cap decides between
    * the two mid-band arms — a cap of 0 always judges the layout too
    * skewed (forcing the rebalance arm), 2·10⁶ never does (max_share
    * is ≤ 10⁶ by construction) — so the four rows land one per arm at
    * EVERY corpus size, the q249 scale-invariance rule.
    */
  val HierPolicyScenarios: Seq[(String, Long, Long, Long)] = Seq(
    ("fresh", 200000L, 500000L, 2000000L),
    ("stale", 50000L, 500000L, 2000000L),
    ("hot", 50000L, 500000L, 0L),
    ("drift", 10000L, 50000L, 2000000L))

  /** The pure decision rule over BOTH lifecycle signals: growth below
    * `low` → noop; at or above `high` → the model is judged drifted,
    * rebuild with current-corpus knobs; in between, the committed
    * layout's measured bucket-mass skew picks between the
    * touched-bucket ingest and the in-place Lloyd rebalance.
    */
  def hierRefreshDecision(growthPpm: Long, lowPpm: Long, highPpm: Long,
      skewPpm: Long, skewCapPpm: Long): String =
    if (growthPpm < lowPpm) "noop"
    else if (growthPpm >= highPpm) "rebuild"
    else if (skewPpm > skewCapPpm) "rebalance"
    else "ingest"

  /** The base half of a hier lifecycle root: base-derived two-level
    * knobs, lowest-base-id fine seeds routed to coarse cells, members
    * committed under the base model. The q248 base posture with the
    * two-level router inside.
    */
  private final case class HierBaseBuild(nBase: Long, nlist: Int,
    ncoarse: Int, m: Similarity.HierModel)

  private def commitHierBaseArtifact(spark: SparkSession, root: String,
      base: DataFrame, writer: graft.lake.AtomicPartitionWriter,
      lakeFs: graft.lake.LakeFs): HierBaseBuild = {
    val nBase = base.count()
    val nlist = Similarity.nlistFor(nBase)
    val ncoarse = Similarity.ncoarseFor(nlist)
    if (lakeFs.exists(sidecarPath(root))) lakeFs.delete(sidecarPath(root))
    Seq(membersDir(root), modelDir(root)).foreach(writer.repair(_))
    val fineSeeds = base.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).toSeq
    val m = Similarity.hierModelFor(fineSeeds, ncoarse)
    // members (corpus-sized) and model (nlist-sized, driver data) write
    // disjoint dirs — overlapped (guide §2.6)
    graft.util.Par.pair(
      writer.commitPartitioned(
        Similarity.withHierBucket(base, m, "embedding")
          .select(col("vec_id"), col("embedding"), col("bucket")),
        membersDir(root), "bucket"),
      writer.commitPartitioned(hierModelRows(spark, m), modelDir(root), "kind"))
    HierBaseBuild(nBase, nlist, ncoarse, m)
  }

  /** q267: the refresh policy taught the HIER lifecycle — round 13
    * shipped the deployment recipe (build two-level → Lloyd rebalance →
    * commit → serve) as manual steps and a flat-only policy (q249);
    * this EXECUTES the full arm set on one hier lifecycle root, each
    * decision read off the two lifecycle signals (arrival growth ppm +
    * the committed layout's measured bucket-mass skew, the q258 panel's
    * number), each action through the commit lease, each row carrying
    * post-action COMMITTED witnesses:
    *
    *  - noop — artifact stays the base build;
    *  - ingest — arrivals route two-level with the COMMITTED base
    *    model (one map-only pass over the delta), touched buckets
    *    upsert (the q248 discipline);
    *  - rebalance — one within-cell Lloyd step over the COMMITTED
    *    membership ([[Similarity.hierLloydStep]]), re-routed members +
    *    updated model committed wholesale (the q259→q260 recipe,
    *    policy-driven);
    *  - rebuild — full-corpus knobs + seeds, wholesale replace.
    *
    * The oracle replays every witness from the raw corpus (base-seeded
    * two-level routing, its full-corpus ingest state, the Lloyd step
    * over that state, and the full-corpus rebuild), so executing the
    * wrong arm, tearing a commit, or drifting a knob breaks the hash.
    */
  def hierRefreshPolicy(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    val root = hierIndexRoot(spark, dir) + "_policy"
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(hb < 900000L)
    val arrivals = emb.filter(hb >= 900000L)
    val b = commitHierBaseArtifact(spark, root, base, writer, lakeFs)
    writeHierSidecar(lakeFs, root, HierMeta(IndexVersion, b.nBase, b.nlist,
      b.ncoarse, Similarity.cprobeFor(b.ncoarse),
      math.max(1, Similarity.nprobeFor(b.nlist) / Similarity.cprobeFor(b.ncoarse)),
      Similarity.pqKFor(b.nBase), corpusFingerprint(spark, dir)))
    val nArr = arrivals.count()
    val growthPpm = nArr * 1000000L / b.nBase
    def skewAndWitness(): (Long, Long, Long, Long) = {
      val r = bucketTable(spark, membersDir(root))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("mass"), expr("bit_xor(vec_id)").as("x"))
        .agg(sum(col("mass")).as("n"), expr("bit_xor(x)").as("xx"),
          count(lit(1)).as("b"), max(col("mass")).as("mx"))
        .collect()(0)
      (r.getLong(3) * 1000000L / r.getLong(0), // max_share_ppm
        r.getLong(0), r.getLong(1), r.getLong(2)) // n, xor, buckets
    }
    // the committed model, re-read so the ingest arm provably uses the
    // ARTIFACT's model (not the builder's in-memory copy)
    def committedModel(): Similarity.HierModel =
      readCommittedHierModel(spark, root)
    // witness cache: the table only changes when an arm acts, so the
    // post-action witness of scenario i IS scenario i+1's pre-decision
    // reading — re-scanning the members table between them paid a full
    // aggregation job for a number already in hand
    var w = skewAndWitness()
    val rows = HierPolicyScenarios.map { case (scenario, low, high, cap) =>
      val skewPre = w._1
      val decision = hierRefreshDecision(growthPpm, low, high, skewPre, cap)
      val (nlist, ncoarse) = decision match {
        case "noop" => (b.nlist, b.ncoarse)
        case "ingest" =>
          val m = committedModel()
          val dm = Similarity.withHierBucket(arrivals, m, "embedding")
            .select(col("vec_id"), col("embedding"), col("bucket"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val touched = dm.select(col("bucket")).distinct()
            .collect().map(_.getLong(0))
          val got = dm.count()
          val kept = bucketTable(spark, membersDir(root))
            .filter(col("bucket").isin(touched: _*))
            .join(dm.select(col("vec_id")), Seq("vec_id"), "left_anti")
          writer.upsertPartitionsCounted(kept.unionByName(dm),
            membersDir(root), "bucket")
          dm.unpersist()
          writeHierSidecar(lakeFs, root, HierMeta(IndexVersion,
            b.nBase + got, b.nlist, b.ncoarse,
            Similarity.cprobeFor(b.ncoarse),
            math.max(1, Similarity.nprobeFor(b.nlist) /
              Similarity.cprobeFor(b.ncoarse)),
            Similarity.pqKFor(b.nBase), corpusFingerprint(spark, dir)))
          (b.nlist, b.ncoarse)
        case "rebalance" =>
          val m = committedModel()
          val members = bucketTable(spark, membersDir(root))
            .select(col("vec_id"), col("embedding"),
              col("bucket").as("bucket_old"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val (updated, re) = Similarity.hierLloydStep(members, m)
          // `updated` is driver data — the model commit overlaps the
          // members commit (disjoint dirs)
          graft.util.Par.pair(
            writer.commitPartitioned(
              re.select(col("vec_id"), col("embedding"),
                col("bucket_new").as("bucket")),
              membersDir(root), "bucket"),
            writer.commitPartitioned(hierModelRows(spark, updated),
              modelDir(root), "kind"))
          members.unpersist()
          (b.nlist, b.ncoarse)
        case _ =>
          val meta = buildHierInto(spark, dir, root)
          (meta.nlist, meta.ncoarse)
      }
      if (decision != "noop") w = skewAndWitness() // noop: state unchanged
      val (_, nMembers, vecXor, nBuckets) = w
      (scenario, decision, growthPpm, low, high, cap, skewPre,
        nMembers, vecXor, nBuckets, nlist.toLong, ncoarse.toLong)
    }
    import spark.implicits._
    rows.toDF("scenario", "decision", "growth_ppm", "low_ppm", "high_ppm",
      "skew_cap_ppm", "skew_pre_ppm", "n_members", "vec_xor", "n_buckets",
      "nlist", "ncoarse")
  }

  // ──────────── append-mode delta ingest + compaction (q268) ────────

  /** Per-bucket data-file bound for the append-mode ingest: a bucket
    * exceeding this after an append is compacted back to one file.
    */
  val CompactFilesMax = 3

  /** The q268/q270 oracles model files/bucket as base(1) + cumulative
    * touches with a compaction RESET only at the final wave — exact iff
    * no compaction can fire earlier, i.e. a bucket cannot exceed
    * [[CompactFilesMax]] files before the last wave: 1 + touches >
    * CompactFilesMax needs touches ≥ CompactFilesMax, reachable first
    * at wave CompactFilesMax. Changing either constant silently
    * desynchronizes oracle and engine — this makes it fail loudly.
    */
  private[graft] def requireNoEarlyCompaction(): Unit =
    require(FragWaves.length <= CompactFilesMax,
      s"append-oracle precondition broken: ${FragWaves.length} waves > " +
        s"CompactFilesMax=$CompactFilesMax lets compaction fire before " +
        "the final wave; the cumulative file-count oracle is no longer exact")

  private def dataFileCount(lakeFs: graft.lake.LakeFs, dir: String): Int =
    lakeFs.fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))

  /** Strict `bucket=<long>` match: crash leftovers (`bucket=X_old`
    * backups the base commit's sweep deliberately skips, `_tmp`
    * staging) must be EXCLUDED, not parsed — a loose stripPrefix would
    * throw on the first post-crash run and wedge the append lifecycle.
    */
  private val BucketDirName = "^bucket=(-?\\d+)$".r

  private def bucketFileCounts(lakeFs: graft.lake.LakeFs,
      tableDir: String): Map[Long, Int] =
    lakeFs.fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case BucketDirName(b) =>
          Some(b.toLong -> dataFileCount(lakeFs, st.getPath.toString))
        case _ => None
      })
      .toMap

  /** q268: the write-amplification MITIGATION engineered and graded —
    * q250 measured that the wholesale-bucket upsert rewrites ~10× its
    * arrivals per ~10% wave (at √N buckets a wave touches nearly every
    * bucket). This panel runs the SAME 3-wave shape through
    * [[graft.lake.AtomicPartitionWriter.appendPartitionsCounted]]: each wave
    * assigns its delta with the committed model (map-only, the q248
    * discipline), anti-joins replayed rows out, and APPENDS one file
    * per touched bucket — rows written ∝ arrivals, amplification ppm
    * ≈ 10⁶ instead of ~10⁷. The file-count side is bounded by
    * measurement, not structure: buckets exceeding [[CompactFilesMax]]
    * data files after the append are compacted back to one file
    * through the upsert swap, and THAT IO is the panel's own column —
    * amortized (a bucket compacts once per [[CompactFilesMax]]-ish
    * waves), never hidden. Base and every write stage repartition by
    * bucket so each wave adds exactly ONE file per touched bucket —
    * the file-count law the oracle replays exactly.
    *
    * Reference seam: the 5-minute incremental tick
    * (`airflow/dags/hadoop_dag.py:115-118`), the cadence at which the
    * q250 rewrite cost compounds and this append path does not.
    */
  def deltaIngestAudit(spark: SparkSession, dir: String): DataFrame = {
    requireNoEarlyCompaction()
    Similarity.withFns(spark)
    val root = indexRoot(spark, dir) + "_append"
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(hb < 700000L)
    val nBase = base.count()
    val nlist = Similarity.nlistFor(nBase)
    if (lakeFs.exists(sidecarPath(root))) lakeFs.delete(sidecarPath(root))
    Seq(membersDir(root), modelDir(root)).foreach(writer.repair(_))
    writer.commitPartitioned(
      seedDf(base, nlist).withColumn("kind", lit("ivf")),
      modelDir(root), "kind")
    val cents = modelLits(spark, root, "ivf")
    writer.commitPartitioned(
      assignedFor(base, cents).repartition(col("bucket")),
      membersDir(root), "bucket")
    var committed = nBase
    val rows = FragWaves.map { case (wave, lo, hi) =>
      val dm = assignedFor(emb.filter(hb >= lo && hb < hi), cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // ≤ nlist buckets by construction; one job carries both numbers
      // (the q248 touchedAndCount discipline — the separate
      // distinct+collect / count pair paid two passes over the delta)
      val (touched, nArr) = touchedAndCount(dm)
      // replay idempotence: rows already present in touched buckets
      // (a crashed-and-rerun wave) drop out before the append. The
      // anti-join feeds the staging write directly (one job instead of
      // freeze + count + append — the appendWave discipline); rows
      // appended = rows staged, off the staged footers.
      val (_, nAppended) = writer.appendPartitionsCounted(
        dm.join(
          bucketTable(spark, membersDir(root))
            .filter(col("bucket").isin(touched: _*)).select(col("vec_id")),
          Seq("vec_id"), "left_anti")
          .repartition(col("bucket")),
        membersDir(root), "bucket")
      dm.unpersist()
      // compaction: bound files/bucket, pay the rewrite ONLY where the
      // bound is hit, and report it as its own column
      val over = bucketFileCounts(lakeFs, membersDir(root))
        .filter(_._2 > CompactFilesMax).keys.toSeq.sorted
      val nCompactedRows = if (over.isEmpty) 0L else {
        writer.upsertPartitionsCounted(
          bucketTable(spark, membersDir(root))
            .filter(col("bucket").isin(over: _*))
            .repartition(col("bucket")),
          membersDir(root), "bucket")._2
      }
      committed += nAppended
      writeSidecar(spark, dir, lakeFs, root, committed, nlist,
        Similarity.pqKFor(nBase))
      val maxFiles = bucketFileCounts(lakeFs, membersDir(root))
        .values.max.toLong
      val written = nAppended + nCompactedRows
      (wave, nArr, touched.length.toLong, nAppended,
        over.length.toLong, nCompactedRows,
        if (nArr == 0L) 0L else written * 1000000L / nArr,
        maxFiles, committed)
    }
    import spark.implicits._
    rows.toDF("wave", "n_arrivals", "n_touched", "rows_appended",
      "n_compact_buckets", "rows_compacted", "write_amp_ppm",
      "max_files_bucket", "n_total")
  }

  // ──────── hier-PQ incremental lifecycle (q269) ────────────────────
  //
  // The round-14 verdict's highest-leverage gap: the PRODUCTION layout
  // (two-level routed + Lloyd-rebalanced + PQ-coded, q262/q263) had no
  // incremental ingest — any arrival forced the full N^(5/4) + N^1.5
  // rebuild at the reference's 5-minute tick cadence
  // (`airflow/dags/hadoop_dag.py:115-118`). This applies q248's
  // base-split discipline to the code-carrying hier artifact: the base
  // builds with base-derived knobs and base seeds, arrivals route
  // two-level with the COMMITTED model and code with the COMMITTED
  // codebook in ONE map-only delta pass, and members AND codes upsert
  // per touched bucket — IO ∝ touched mass, delta work O(delta·N^(1/4)
  // ·dims), never a rebuild.

  /** Root of the incremental hier-PQ lifecycle artifact — separate
    * from the full-build `-hier2pq` root ([[hierPqRoot]]) for the same
    * reason as [[incRoot]]: base-derived knobs/seeds mean a different
    * model; sharing a root would let [[ensureHierRebalancedPqCommitted]]
    * serve q263 from the wrong model.
    */
  private def hierPqIncRoot(spark: SparkSession, dir: String): String =
    hierPqRoot(spark, dir) + "_inc"

  /** Root of the SPARSE-tick lifecycle twin (q274) — separate from
    * [[hierPqIncRoot]] because the ≥0.999 split means a different base
    * count, hence different base-derived knobs and a different model.
    */
  private def hierPqSparseRoot(spark: SparkSession, dir: String): String =
    hierPqRoot(spark, dir) + "_inc_sparse"

  private final case class HierPqBaseBuild(nBase: Long, nlist: Int,
    ncoarse: Int, k: Int, m: Similarity.HierModel,
    pq: Seq[(Long, Array[Float])])

  /** The base half of the hier-PQ lifecycle: base-derived two-level +
    * PQ knobs, lowest-base-id fine seeds AND codebook rows (the q248
    * non-dense-id pattern), model committed FIRST so members and codes
    * provably derive from the COMMITTED model, not a driver copy.
    * Sidecar dropped first — a crash mid-build leaves a certifiably
    * incomplete artifact.
    */
  private def commitHierPqBaseArtifact(spark: SparkSession, root: String,
      base: DataFrame, writer: graft.lake.AtomicPartitionWriter,
      lakeFs: graft.lake.LakeFs,
      kFor: Long => Int = Similarity.pqKFor): HierPqBaseBuild = {
    val nBase = base.count()
    val nlist = Similarity.nlistFor(nBase)
    val ncoarse = Similarity.ncoarseFor(nlist)
    val k = kFor(nBase)
    if (lakeFs.exists(sidecarPath(root))) lakeFs.delete(sidecarPath(root))
    Seq(membersDir(root), codesDir(root), modelDir(root))
      .foreach(writer.repair(_))
    val fineSeeds = base.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).toSeq
    val m = Similarity.hierModelFor(fineSeeds, ncoarse)
    writer.commitPartitioned(
      hierModelRows(spark, m).unionByName(
        seedDf(base, k).withColumn("cell", col("c_id"))
          .withColumn("kind", lit("pq"))),
      modelDir(root), "kind")
    val cm = readCommittedHierModel(spark, root)
    val pq = modelLits(spark, root, "pq")
    // one two-level routing pass over the base feeds both corpus-sized
    // commits (the buildInto discipline) — the codes commit previously
    // re-ran the full hier routing over the base
    val routed = Similarity.withHierBucket(base, cm, "embedding")
      .select(col("vec_id"), col("embedding"), col("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // disjoint dirs off the one persisted routing — overlapped
    graft.util.Par.pair(
      writer.commitPartitioned(routed, membersDir(root), "bucket"),
      writer.commitPartitioned(codedFromAssigned(routed, pq),
        codesDir(root), "bucket"))
    routed.unpersist()
    HierPqBaseBuild(nBase, nlist, ncoarse, k, cm, pq)
  }

  /** The hier-PQ delta-commit primitive: route + code the delta with
    * the committed model/codebook (one map-only pass over the DELTA
    * only), then upsert ONLY the touched buckets of BOTH tables —
    * members and codes advance together, so a reader gating on the
    * sidecar never sees a member without its code row.
    * REPLAY-IDEMPOTENT the same way as [[ingestDelta]]: existing rows
    * with the delta's vec_ids anti-join out of both tables before the
    * union, so an at-least-once reapplication rewrites instead of
    * duplicating.
    */
  private def hierIngestDelta(spark: SparkSession, root: String,
      delta: DataFrame, m: Similarity.HierModel,
      pqCents: Seq[(Long, Array[Float])],
      writer: graft.lake.AtomicPartitionWriter): (Long, Long, Long) = {
    val dm = Similarity.withHierBucket(delta, m, "embedding")
      .select(col("vec_id"), col("embedding"), col("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ≤ nlist buckets by construction; one job carries both numbers
    val (touched, nArr) = touchedAndCount(dm)
    if (nArr == 0L) { dm.unpersist(); return (0L, 0L, 0L) }
    val keptMembers = bucketTable(spark, membersDir(root))
      .filter(col("bucket").isin(touched: _*))
      .join(dm.select(col("vec_id")), Seq("vec_id"), "left_anti")
    // disjoint-table upserts off the one persisted dm — overlapped
    // (guide §2.6); rewritten rows off the STAGED footers inside the
    // commit (same number as the committed dirs, one less listing)
    val ((_, nRewritten), _) = graft.util.Par.pair(
      writer.upsertPartitionsCounted(
        keptMembers.unionByName(dm), membersDir(root), "bucket"),
      writer.upsertPartitionsCounted(
        bucketTable(spark, codesDir(root))
          .filter(col("bucket").isin(touched: _*))
          .join(dm.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .unionByName(codedFromAssigned(dm, pqCents)), // routed once: code off dm
        codesDir(root), "bucket"))
    dm.unpersist()
    (nArr, touched.length.toLong, nRewritten)
  }

  /** The q248-shaped read-back panel over a hier-PQ lifecycle root:
    * per bucket, committed member count, bit_xor witness, code rows +
    * mass, the ≥0.9-split arrival count, and the frozen base-derived
    * two-level + PQ knobs.
    */
  private def hierPqIngestPanel(spark: SparkSession, root: String,
      b: HierPqBaseBuild, splitPpm: Long): DataFrame = {
    val hb = Sampling.hashBucket("vec_id")
    val members = bucketTable(spark, membersDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_members"),
        expr("bit_xor(vec_id)").as("vec_xor"),
        sum(when(hb >= splitPpm, 1L).otherwise(0L)).as("n_arrived"))
    val codeMass = (0 until Similarity.PqSubspaces)
      .map(m => col(s"code_$m")).reduce(_ + _)
    val codes = bucketTable(spark, codesDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_codes"), sum(codeMass).as("code_mass"))
    val cprobe = Similarity.cprobeFor(b.ncoarse)
    members.join(codes, Seq("bucket"))
      .select(col("bucket"), col("n_members"), col("vec_xor"),
        col("n_codes"), col("code_mass"), col("n_arrived"),
        lit(IndexVersion).as("index_version"),
        lit(b.nlist.toLong).as("nlist"),
        lit(b.ncoarse.toLong).as("ncoarse"),
        lit(cprobe.toLong).as("cprobe"),
        lit(math.max(1, Similarity.nprobeFor(b.nlist) / cprobe).toLong)
          .as("percell"),
        lit(b.k.toLong).as("k"))
  }

  private def hierPqSidecarMeta(spark: SparkSession, dir: String,
      b: HierPqBaseBuild, n: Long): HierMeta = {
    val cprobe = Similarity.cprobeFor(b.ncoarse)
    HierMeta(IndexVersion, n, b.nlist, b.ncoarse, cprobe,
      math.max(1, Similarity.nprobeFor(b.nlist) / cprobe), b.k,
      corpusFingerprint(spark, dir))
  }

  /** q269: the hier-PQ incremental ingest EXECUTED — base build (q248's
    * base posture with the two-level router and the positional PQ
    * codebook inside), then the ≥0.9 arrivals routed AND coded with the
    * COMMITTED model/codebook in one map-only delta pass, members and
    * codes upserted per touched bucket, sidecar advanced LAST. The
    * oracle replays the full-corpus routing under the base model plus
    * the positional code argmin under the base codebook (base-build ∪
    * delta-ingest ≡ that), so a dropped delta, a clobbered untouched
    * bucket, a wrong-model routing, a wrong-codebook coding, or a knob
    * drift breaks the hash.
    */
  def hierPqIncrementalIngest(spark: SparkSession, dir: String): DataFrame =
    hierPqIngestAt(spark, dir, hierPqIncRoot(spark, dir), 900000L)

  /** q274: the SPARSE-tick twin of q269 — same machinery, ≥0.999
    * split. The graded q269 ~11% delta touches effectively every one
    * of the √N buckets, so its marginal tick reads upsert-IO-bound
    * (~2× under the full rebuild at 1000×, IngestTickProbe); a
    * 5-minute-cadence delta is ≪1% and touches a HANDFUL of buckets —
    * the touched-bucket law the incremental layout exists for. This
    * puts that law under the hash gate: same base posture, same
    * committed-model routing + committed-codebook coding, but the
    * delta is ~0.1% and `n_touched ≤ n_arrivals ≪ nlist`, so tick IO
    * collapses toward the map-only delta cost.
    */
  def hierPqSparseTickIngest(spark: SparkSession, dir: String): DataFrame =
    hierPqIngestAt(spark, dir, hierPqSparseRoot(spark, dir), 999000L)

  /** Probe-only entry points at an ARBITRARY split — IngestTickProbe
    * prices the touched-bucket law curve with these (the graded splits
    * stay q269's 0.9 and q274's 0.999; a probe root per split so
    * measurements never clobber a graded artifact).
    */
  private[graft] def hierPqProbeIngest(spark: SparkSession, dir: String,
      splitPpm: Long): DataFrame =
    hierPqIngestAt(spark, dir,
      hierPqRoot(spark, dir) + s"_inc_probe_$splitPpm", splitPpm)

  private[graft] def hierPqProbeReIngest(spark: SparkSession, dir: String,
      splitPpm: Long): DataFrame =
    hierPqReIngestAt(spark, dir,
      hierPqRoot(spark, dir) + s"_inc_probe_$splitPpm", splitPpm)

  private def hierPqIngestAt(spark: SparkSession, dir: String,
      root: String, splitPpm: Long): DataFrame = {
    Similarity.withFns(spark)
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(hb < splitPpm)
    val arrivals = emb.filter(hb >= splitPpm)
    val b = commitHierPqBaseArtifact(spark, root, base, writer, lakeFs)
    // b.m/b.pq ARE the committed model/codebook: the base commit read
    // them back off the artifact (readCommittedHierModel) before
    // routing a single row — re-reading the same tiny tables again
    // here paid three more collect jobs per tick for identical values
    val (nArr, _, _) =
      hierIngestDelta(spark, root, arrivals, b.m, b.pq, writer)
    writeHierSidecar(lakeFs, root,
      hierPqSidecarMeta(spark, dir, b, b.nBase + nArr))
    hierPqIngestPanel(spark, root, b, splitPpm)
  }

  /** Test hook: REAPPLY the q269 arrival delta against the already-
    * committed artifact (no base rebuild) — the at-least-once replay a
    * crashed-and-rerun ticker produces. Model and codebook re-read from
    * the artifact; the anti-join idempotence must land the identical
    * panel.
    */
  private[graft] def hierPqReIngest(spark: SparkSession, dir: String): DataFrame =
    hierPqReIngestAt(spark, dir, hierPqIncRoot(spark, dir), 900000L)

  /** Sparse-twin replay hook (q274's tick): reapply the ≥0.999 delta
    * against the committed sparse artifact — the marginal tick a
    * 5-minute cadence actually pays, touched buckets ≪ nlist.
    */
  private[graft] def hierPqSparseReIngest(spark: SparkSession,
      dir: String): DataFrame =
    hierPqReIngestAt(spark, dir, hierPqSparseRoot(spark, dir), 999000L)

  private def hierPqReIngestAt(spark: SparkSession, dir: String,
      root: String, splitPpm: Long): DataFrame = {
    Similarity.withFns(spark)
    val meta = readHierMetaAt(spark, root).getOrElse(
      sys.error("hierPqReIngest needs a committed hier-PQ ingest artifact"))
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val arrivals = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .filter(Sampling.hashBucket("vec_id") >= splitPpm)
    val cm = readCommittedHierModel(spark, root)
    val pq = modelLits(spark, root, "pq")
    hierIngestDelta(spark, root, arrivals, cm, pq, writer)
    hierPqIngestPanel(spark, root, HierPqBaseBuild(meta.n, meta.nlist,
      meta.ncoarse, meta.k, cm, pq), splitPpm)
  }

  /** q278: the q267 refresh policy taught the CODE-CARRYING hier-PQ
    * lifecycle at the CAPPED width — the r15 decision (ADC serve path
    * carries `pqKCappedFor`, q272/q273/q275/q276) folded into the
    * lifecycle policy so the two cannot drift apart. Same four arms,
    * each now advancing members AND codes together:
    *
    *  - noop — the base build stays (coded at the base's capped width);
    *  - ingest — arrivals route AND code with the COMMITTED
    *    model/codebook in one map-only delta pass ([[hierIngestDelta]],
    *    the q269 primitive);
    *  - rebalance — one Lloyd step over the committed membership;
    *    members re-route, codes RE-KEY to the new buckets without
    *    recoding (vectors unchanged ⇒ code rows unchanged — the graded
    *    `code_mass` must hold constant across this arm);
    *  - rebuild — full-corpus knobs, codebook at
    *    [[Similarity.pqKCappedFor]](N): the REBUILD ARM IS LINEAR, the
    *    priced choice under the gate.
    *
    * Every row carries post-action committed witnesses for BOTH tables
    * plus the artifact's frozen width; the oracle replays all four
    * states (base routing, full ingest, the Lloyd step, the capped
    * rebuild) and both codebooks' positional argmin masses from the
    * raw corpus.
    */
  def hierPqRefreshPolicy(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    val root = hierPqRoot(spark, dir) + "_policy"
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(hb < 900000L)
    val arrivals = emb.filter(hb >= 900000L)
    val b = commitHierPqBaseArtifact(spark, root, base, writer, lakeFs,
      Similarity.pqKCappedFor)
    writeHierSidecar(lakeFs, root, HierMeta(IndexVersion, b.nBase, b.nlist,
      b.ncoarse, Similarity.cprobeFor(b.ncoarse),
      math.max(1, Similarity.nprobeFor(b.nlist) /
        Similarity.cprobeFor(b.ncoarse)),
      b.k, corpusFingerprint(spark, dir)))
    val nArr = arrivals.count()
    val growthPpm = nArr * 1000000L / b.nBase
    val codeMassCol = (0 until Similarity.PqSubspaces)
      .map(m => col(s"code_$m")).reduce(_ + _)
    def witness(): (Long, Long, Long, Long, Long, Long) = {
      // two disjoint-table aggregation jobs — overlapped (runs once per
      // acting scenario)
      val (m, c) = graft.util.Par.pair(
        bucketTable(spark, membersDir(root))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("mass"), expr("bit_xor(vec_id)").as("x"))
          .agg(sum(col("mass")).as("n"), expr("bit_xor(x)").as("xx"),
            count(lit(1)).as("b"), max(col("mass")).as("mx"))
          .collect()(0),
        bucketTable(spark, codesDir(root))
          .agg(count(lit(1)).as("nc"),
            coalesce(sum(codeMassCol), lit(0L)).as("mass"))
          .collect()(0))
      (m.getLong(3) * 1000000L / m.getLong(0), // max_share_ppm
        m.getLong(0), m.getLong(1), m.getLong(2), // n, xor, buckets
        c.getLong(0), c.getLong(1)) // n_codes, code_mass
    }
    // witness cache (the q267 rule): post-action state of scenario i is
    // scenario i+1's pre-decision reading; noop leaves it untouched
    var w = witness()
    val rows = HierPolicyScenarios.map { case (scenario, low, high, cap) =>
      val skewPre = w._1
      val decision = hierRefreshDecision(growthPpm, low, high, skewPre, cap)
      decision match {
        case "noop" => ()
        case "ingest" =>
          val m = readCommittedHierModel(spark, root)
          val pq = modelLits(spark, root, "pq")
          val (got, _, _) = hierIngestDelta(spark, root, arrivals, m, pq,
            writer)
          writeHierSidecar(lakeFs, root, HierMeta(IndexVersion,
            b.nBase + got, b.nlist, b.ncoarse,
            Similarity.cprobeFor(b.ncoarse),
            math.max(1, Similarity.nprobeFor(b.nlist) /
              Similarity.cprobeFor(b.ncoarse)),
            b.k, corpusFingerprint(spark, dir)))
        case "rebalance" =>
          val m = readCommittedHierModel(spark, root)
          val members = bucketTable(spark, membersDir(root))
            .select(col("vec_id"), col("embedding"),
              col("bucket").as("bucket_old"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val (updated, re) = Similarity.hierLloydStep(members, m)
          val reKeyed = re.select(col("vec_id"),
            col("bucket_new").as("bucket")).localCheckpoint()
          // three disjoint dirs: members off the persisted membership,
          // codes re-key (never recode: vectors did not move in space)
          // off the frozen reKeyed, model off driver data — overlapped
          graft.util.Par.triple(
            writer.commitPartitioned(
              re.select(col("vec_id"), col("embedding"),
                col("bucket_new").as("bucket")),
              membersDir(root), "bucket"),
            writer.commitPartitioned(
              bucketTable(spark, codesDir(root)).drop("bucket")
                .join(reKeyed, Seq("vec_id")),
              codesDir(root), "bucket"),
            writer.commitPartitioned(hierModelRows(spark, updated),
              modelDir(root), "kind"))
          members.unpersist()
        case _ => // rebuild: full-corpus knobs, CAPPED width — linear
          val rb = commitHierPqBaseArtifact(spark, root, emb, writer,
            lakeFs, Similarity.pqKCappedFor)
          writeHierSidecar(lakeFs, root,
            hierPqSidecarMeta(spark, dir, rb, rb.nBase))
      }
      if (decision != "noop") w = witness() // noop: state unchanged
      val (_, nMembers, vecXor, nBuckets, nCodes, codeMass) = w
      val k = readHierMetaAt(spark, root).map(_.k.toLong).getOrElse(-1L)
      (scenario, decision, growthPpm, low, high, cap, skewPre,
        nMembers, vecXor, nBuckets, nCodes, codeMass, k)
    }
    import spark.implicits._
    rows.toDF("scenario", "decision", "growth_ppm", "low_ppm", "high_ppm",
      "skew_cap_ppm", "skew_pre_ppm", "n_members", "vec_xor", "n_buckets",
      "n_codes", "code_mass", "k")
  }

  // ──────── append-mode codes + streaming append twin (q270/q271) ───
  //
  // q268 proved the append + threshold-compaction law for MEMBERS; a
  // code-carrying artifact's codes table still paid the q250 wholesale-
  // rewrite law on every wave. These two extend the law to codes (q270)
  // and put appendPartitions' at-least-once anti-join idempotence under
  // the hash gate through a genuine multi-batch stream (q271) — the one
  // write primitive whose replay behavior was argued, not gate-graded.

  /** The shared base of the append-lifecycle roots: base(<0.7) split,
    * base-derived knobs, lowest-base-id IVF seeds AND positional PQ
    * codebook, members and codes committed one-file-per-bucket (the
    * file-count law's wave-0 state). The model commit overlaps the
    * member/code commits (disjoint dirs); the wave bodies run off the
    * returned seed sequences, which equal the committed model's
    * sorted-by-id slices by construction (oracle-gated per wave).
    */
  private final case class AppendBase(nBase: Long, nlist: Int, k: Int,
    cents: Seq[(Long, Array[Float])], pq: Seq[(Long, Array[Float])])

  private def commitAppendBaseArtifact(spark: SparkSession, root: String,
      base: DataFrame, writer: graft.lake.AtomicPartitionWriter,
      lakeFs: graft.lake.LakeFs): AppendBase = {
    val nBase = base.count()
    val nlist = Similarity.nlistFor(nBase)
    val k = Similarity.pqKFor(nBase)
    if (lakeFs.exists(sidecarPath(root))) lakeFs.delete(sidecarPath(root))
    Seq(membersDir(root), codesDir(root), modelDir(root))
      .foreach(writer.repair(_))
    // seed centroids collected ONCE from the base relation (the
    // commitBaseArtifact discipline: identical sequences to the
    // committed model's sorted-by-id slices, minus the write→read
    // round-trip); model commit overlapped with the corpus-sized pair
    val seeds = seedDf(base, math.max(nlist, k)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    val cents = seeds.take(nlist)
    val pq = seeds.take(k)
    // one assignment pass feeds both commits (the buildInto
    // discipline); disjoint dirs — overlapped (guide §2.6)
    val assigned = assignedFor(base, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.util.Par.triple(
      writer.commitPartitioned(
        assigned.repartition(col("bucket")),
        membersDir(root), "bucket"),
      writer.commitPartitioned(
        codedFromAssigned(assigned, pq).repartition(col("bucket")),
        codesDir(root), "bucket"),
      writer.commitPartitioned(
        seedDf(base, nlist).withColumn("kind", lit("ivf"))
          .unionByName(seedDf(base, k).withColumn("kind", lit("pq"))),
        modelDir(root), "kind"))
    assigned.unpersist()
    AppendBase(nBase, nlist, k, cents, pq)
  }

  /** One append wave over BOTH tables: assign + code the delta with the
    * committed model (one map-only pass), anti-join replayed rows out
    * (per-table, so a torn previous append self-heals), append ONE file
    * per touched bucket to members and to codes, then compact any
    * bucket of either table past [[CompactFilesMax]] back to one file
    * through the upsert swap. Returns every observable the q270 panel
    * and q271's read-back grade.
    */
  private final case class AppendWaveStats(nArr: Long, nTouched: Long,
    rowsAppended: Long, codeRowsAppended: Long, nCompactBuckets: Long,
    rowsCompacted: Long, codeRowsCompacted: Long, maxFilesMembers: Long,
    maxFilesCodes: Long)

  private def appendWave(spark: SparkSession, root: String,
      delta: DataFrame, b: AppendBase,
      writer: graft.lake.AtomicPartitionWriter,
      lakeFs: graft.lake.LakeFs): AppendWaveStats = {
    val dm = assignedFor(delta, b.cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one job carries the touched set and the arrival count
    val (touched, nArr) = touchedAndCount(dm)
    if (nArr == 0L) {
      dm.unpersist()
      val mf = bucketFileCounts(lakeFs, membersDir(root)).values
        .foldLeft(1)(math.max).toLong
      val cf = bucketFileCounts(lakeFs, codesDir(root)).values
        .foldLeft(1)(math.max).toLong
      return AppendWaveStats(0L, 0L, 0L, 0L, 0L, 0L, 0L, mf, cf)
    }
    // per-table chains (anti-join → staged append) touch disjoint
    // tables and share only the persisted dm — overlapped (guide
    // §2.6). Each table still anti-joins against ITSELF, so a crash
    // leaving either table ahead self-heals on replay exactly as
    // before (the torn-append contract is order-free by construction).
    // The anti-join pipelines feed the STAGING write directly (one job
    // per table instead of freeze + count + append): the staging write
    // reads the pre-append table state — renames happen only after
    // staging completes — and rows appended = rows staged, read off
    // the staged footers (driver metadata IO, graft.lake.Footers).
    // repartition(bucket) still pins one file per touched bucket per
    // wave — the file-count law the panel grades.
    val (nAppended, nCodeAppended) = graft.util.Par.pair(
      writer.appendPartitionsCounted(
        dm.join(
          bucketTable(spark, membersDir(root))
            .filter(col("bucket").isin(touched: _*)).select(col("vec_id")),
          Seq("vec_id"), "left_anti")
          .repartition(col("bucket")),
        membersDir(root), "bucket")._2,
      // codes anti-join against the CODES table itself (not the member
      // delta): a crash between the two appends leaves members ahead of
      // codes, and a members-derived codes delta would read empty on
      // replay — the per-table anti-join self-heals the torn table
      writer.appendPartitionsCounted(
        codedFromAssigned(dm, b.pq)
          .join(
            bucketTable(spark, codesDir(root))
              .filter(col("bucket").isin(touched: _*)).select(col("vec_id")),
            Seq("vec_id"), "left_anti")
          .repartition(col("bucket")),
        codesDir(root), "bucket")._2)
    dm.unpersist()
    def compactOver(tableDir: String): (Seq[Long], Long) = {
      val over = bucketFileCounts(lakeFs, tableDir)
        .filter(_._2 > CompactFilesMax).keys.toSeq.sorted
      if (over.isEmpty) (over, 0L) else {
        // one staged-write job per compaction (the staging reads the
        // pre-swap files; swaps land after it completes); rows
        // compacted = rows staged, off the staged footers
        val (_, n) = writer.upsertPartitionsCounted(
          bucketTable(spark, tableDir)
            .filter(col("bucket").isin(over: _*))
            .repartition(col("bucket")),
          tableDir, "bucket")
        (over, n)
      }
    }
    // disjoint-table compactions — overlapped
    val ((overM, compM), (_, compC)) = graft.util.Par.pair(
      compactOver(membersDir(root)), compactOver(codesDir(root)))
    AppendWaveStats(nArr, touched.length.toLong, nAppended, nCodeAppended,
      overM.length.toLong, compM, compC,
      bucketFileCounts(lakeFs, membersDir(root)).values
        .foldLeft(1)(math.max).toLong,
      bucketFileCounts(lakeFs, codesDir(root)).values
        .foldLeft(1)(math.max).toLong)
  }

  /** Test hook: simulate a crash BETWEEN [[appendWave]]'s two appends —
    * members written, codes not — then replay the SAME wave through the
    * real body. The codes table's own anti-join must heal the torn
    * table (append exactly the missing code rows) while the members
    * anti-join appends nothing; the panel read-back proves per-bucket
    * member/code parity was restored.
    */
  private[graft] def tornAppendReplayProbe(spark: SparkSession,
      dir: String): DataFrame = {
    requireNoEarlyCompaction()
    Similarity.withFns(spark)
    val root = indexRoot(spark, dir) + "_append_torn"
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val b = commitAppendBaseArtifact(spark, root, emb.filter(hb < 700000L),
      writer, lakeFs)
    val (_, lo, hi) = FragWaves.head
    val delta = emb.filter(hb >= lo && hb < hi)
    // the torn half: assign + append MEMBERS only, then "crash"
    val dm = assignedFor(delta, b.cents)
    val touched = dm.select(col("bucket")).distinct()
      .collect().map(_.getLong(0))
    val tornM = dm.join(
      bucketTable(spark, membersDir(root))
        .filter(col("bucket").isin(touched: _*)).select(col("vec_id")),
      Seq("vec_id"), "left_anti")
      .repartition(col("bucket"))
      .localCheckpoint()
    val nTorn = tornM.count()
    writer.appendPartitionsCounted(tornM, membersDir(root), "bucket")
    // the at-least-once replay of the SAME wave through the real body
    val s = appendWave(spark, root, delta, b, writer, lakeFs)
    val members = bucketTable(spark, membersDir(root))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_members"))
    val codes = bucketTable(spark, codesDir(root))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_codes"))
    members.join(codes, Seq("bucket"))
      .select(col("bucket"), col("n_members"), col("n_codes"),
        lit(nTorn).as("n_torn"),
        lit(s.rowsAppended).as("replay_members_appended"),
        lit(s.codeRowsAppended).as("replay_codes_appended"))
  }

  private def codeMassTotal(spark: SparkSession, root: String): Long = {
    val codeMass = (0 until Similarity.PqSubspaces)
      .map(m => col(s"code_$m")).reduce(_ + _)
    bucketTable(spark, codesDir(root))
      .agg(coalesce(sum(codeMass), lit(0L))).collect()(0).getLong(0)
  }

  /** q270: [[deltaIngestAudit]]'s append + threshold-compaction law
    * extended to the CODES table. Per wave, BOTH tables append one
    * file per touched bucket (rows written ∝ arrivals on each),
    * compaction is measured per table as its own columns, and
    * `code_mass_total` proves the appended code rows are CORRECTLY
    * coded (positional argmin under the frozen base codebook) — the
    * oracle replays counts, the file-count law, and the mass from the
    * raw corpus, so a wave that skips the codes table, double-appends,
    * or codes with the wrong codebook breaks the hash.
    */
  def deltaIngestCodesAudit(spark: SparkSession, dir: String): DataFrame = {
    requireNoEarlyCompaction()
    Similarity.withFns(spark)
    val root = indexRoot(spark, dir) + "_append2"
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val b = commitAppendBaseArtifact(spark, root, emb.filter(hb < 700000L),
      writer, lakeFs)
    var committed = b.nBase
    val rows = FragWaves.map { case (wave, lo, hi) =>
      val s = appendWave(spark, root, emb.filter(hb >= lo && hb < hi),
        b, writer, lakeFs)
      committed += s.rowsAppended
      writeSidecar(spark, dir, lakeFs, root, committed, b.nlist, b.k)
      def amp(written: Long): Long =
        if (s.nArr == 0L) 0L else written * 1000000L / s.nArr
      (wave, s.nArr, s.nTouched, s.rowsAppended, s.codeRowsAppended,
        s.nCompactBuckets, s.rowsCompacted, s.codeRowsCompacted,
        amp(s.rowsAppended + s.rowsCompacted),
        amp(s.codeRowsAppended + s.codeRowsCompacted),
        s.maxFilesMembers, s.maxFilesCodes,
        codeMassTotal(spark, root), committed)
    }
    import spark.implicits._
    rows.toDF("wave", "n_arrivals", "n_touched", "rows_appended",
      "code_rows_appended", "n_compact_buckets", "rows_compacted",
      "code_rows_compacted", "write_amp_ppm", "code_write_amp_ppm",
      "max_files_bucket", "max_code_files_bucket", "code_mass_total",
      "n_total")
  }

  /** q271: the STREAMING twin of the append lifecycle — the q251
    * posture for q268/q270: the three arrival waves land as three
    * parquet FILES, `Trigger.AvailableNow` + `maxFilesPerTrigger=1`
    * drains them across three genuine micro-batches, and each batch
    * pays ONE [[appendWave]] (append both tables + threshold
    * compaction) through the commit lease. `foreachBatch` is
    * at-least-once; replay safety is the per-table anti-join, now
    * hash-gated instead of spec-only. The panel is the FINAL committed
    * read-back (per bucket: members, codes, mass, arrivals, and the
    * file-count law for BOTH tables) — deliberately order-independent:
    * with [[FragWaves.length]] ≤ [[CompactFilesMax]] compaction is
    * first reachable at a bucket's LAST touching batch, so the final
    * file counts do not depend on batch order.
    */
  def streamingAppendIngest(spark: SparkSession, dir: String): DataFrame = {
    requireNoEarlyCompaction()
    Similarity.withFns(spark)
    val root = indexRoot(spark, dir) + "_append_stream"
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val writer = new graft.lake.AtomicPartitionWriter(lakeFs, spark)
    val hb = Sampling.hashBucket("vec_id")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val b = commitAppendBaseArtifact(spark, root, emb.filter(hb < 700000L),
      writer, lakeFs)
    val run = streamRunCounter.incrementAndGet()
    val srcDir = s"${root}_waves_src"
    val ckptDir = s"${root}_ckpt_$run"
    // stage each WAVE as one file so batches ≡ waves: the compaction
    // law then replays exactly (and the final state is order-free)
    if (lakeFs.exists(srcDir)) lakeFs.delete(srcDir)
    lakeFs.mkdirs(srcDir)
    FragWaves.foreach { case (w, lo, hi) =>
      val stage = s"${srcDir}_stage_$w"
      emb.filter(hb >= lo && hb < hi).repartition(1)
        .write.mode("overwrite").parquet(stage)
      val part = lakeFs.fs
        .listStatus(new org.apache.hadoop.fs.Path(stage))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .head
      val dst = new org.apache.hadoop.fs.Path(s"$srcDir/wave_$w.parquet")
      if (!lakeFs.fs.rename(part.getPath, dst))
        throw new IllegalStateException(
          s"failed to stage wave file ${part.getPath} -> $dst")
      lakeFs.delete(stage)
    }
    val schema = spark.read.parquet(srcDir).schema
    val appended = new java.util.concurrent.atomic.AtomicLong(0L)
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = appendWave(spark, root,
          batch.select(col("vec_id"), col("embedding")), b, writer, lakeFs)
        appended.addAndGet(s.rowsAppended)
        batches.incrementAndGet()
        ()
      }
      .start()
    q.awaitTermination()
    require(batches.get() >= 2L,
      s"streaming append drained in ${batches.get()} batch(es) — the twin " +
        "must exercise multi-batch appends or it proves nothing beyond q270")
    writeSidecar(spark, dir, lakeFs, root, b.nBase + appended.get(),
      b.nlist, b.k)
    val hbArr = Sampling.hashBucket("vec_id")
    val members = bucketTable(spark, membersDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_members"),
        expr("bit_xor(vec_id)").as("vec_xor"),
        sum(when(hbArr >= 700000L, 1L).otherwise(0L)).as("n_arrived"))
    val codeMass = (0 until Similarity.PqSubspaces)
      .map(m => col(s"code_$m")).reduce(_ + _)
    val codes = bucketTable(spark, codesDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_codes"), sum(codeMass).as("code_mass"))
    import spark.implicits._
    val filesM = bucketFileCounts(lakeFs, membersDir(root)).toSeq
      .map { case (bk, n) => (bk, n.toLong) }.toDF("bucket", "files_members")
    val filesC = bucketFileCounts(lakeFs, codesDir(root)).toSeq
      .map { case (bk, n) => (bk, n.toLong) }.toDF("bucket", "files_codes")
    members.join(codes, Seq("bucket"))
      .join(filesM, Seq("bucket")).join(filesC, Seq("bucket"))
      .select(col("bucket"), col("n_members"), col("vec_xor"),
        col("n_codes"), col("code_mass"), col("n_arrived"),
        col("files_members"), col("files_codes"),
        lit(IndexVersion).as("index_version"),
        lit(b.nlist.toLong).as("nlist"), lit(b.k.toLong).as("k"))
  }
}
