package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.lake.{AtomicPartitionWriter, LakeFs}
import graft.sources.Tables
import graft.util.Par

/** The PERSISTED ANN index artifact — the serving-deployment half of the
  * IVF/PQ family (train q109 → commit → search): every graded live
  * search (q106/q108/q254) recomputes bucket assignment and PQ codes
  * from the raw corpus per invocation, which is the right posture for a
  * one-shot batch job but wrong for a serving deployment — at 100 TB the
  * assignment pass alone is a full-corpus scan per query batch. A
  * deployment builds the index ONCE, commits it atomically, and serves
  * every search FROM the committed artifact.
  *
  * One engine runs build → commit → ensure → serve → ingest → refresh
  * over a [[Layout]] value, which names the root suffix, the routing
  * (flat argmax or two-level [[Similarity.HierModel]]), the coding and
  * whether a Lloyd rebalance step applies to the full build:
  * {{{
  *   layout          suffix     routing    coding             rebalance  tables
  *   Flat            (none)     flat       PQ, pqKFor         no         members, codes, model ivf+pq
  *   Hier            -hier      two-level  none               no         members, model ivf+coarse
  *   HierRebalanced  -hier2     two-level  none               Lloyd      members, model ivf+coarse
  *   HierPq          -hier2pq   two-level  PQ, pqKFor         Lloyd      members, codes, model ivf+coarse+pq
  *   HierPqCapped    -hier2pqc  two-level  PQ, pqKCappedFor   Lloyd      members, codes, model ivf+coarse+pq
  *   FlatMembers     (lifecycle only, q268)  flat, none, no              members, model ivf
  * }}}
  * Every root holds `members/bucket=<b>/` (vec_id, embedding),
  * `codes/bucket=<b>/` (vec_id, bucket, code_0..7) when coded,
  * `model/kind=<ivf|coarse|pq>/` (c_id, embedding, cell — the fine
  * centroid's routing cell, its own id otherwise) and the
  * `_index_version.json` sidecar ([[Meta]]). All roots sit under one
  * app-id-isolated scratch root per corpus ([[indexRoot]]); lifecycle
  * roots (base split + deltas) append a per-query tag to the layout's
  * `lifecycle` prefix, so no lifecycle ever overwrites a full build.
  *
  * Every table commits through [[graft.lake.AtomicPartitionWriter]]
  * (per-partition swap under a lease; a crashed build leaves `_tmp`/
  * `_old` litter its `repair` reaps, never a torn index), and the
  * sidecar is dropped before the first staging write and written LAST —
  * its presence certifies a complete commit (the q234 discipline).
  *
  * Scale design (100 TB lens):
  *  - Bucket-partitioned members/codes mean a served query batch reads
  *    only its probed buckets' directories, and the committed layout is
  *    exactly the shuffle the live path pays per invocation, paid once.
  *  - Serving plans carry ZERO corpus re-assignment (AnnIndexSpec locks
  *    it); the only corpus-table touch is the query subset.
  *  - Model loads are O(nlist·dims) driver-resident.
  *  - Deltas rewrite (upsert) or append only the buckets they touch, and
  *    every delta is replay-idempotent through a per-table anti-join.
  */
object AnnIndex {

  /** Index layout version; a sidecar carrying another version marks the
    * artifact stale and [[ensure]] rebuilds it. v2: every sidecar
    * freezes the PQ codebook width `k`.
    */
  val IndexVersion = 2L

  /** App-id-isolated lake root for a corpus' index artifacts (the q234
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
    LakeFs.scratchRoot(spark, "ann_index", canonical, s"_$pathHash")
  }

  /** Content fingerprint of the corpus' embeddings table from file
    * METADATA only (names + sizes + mtimes of the [[LakeFs.walk]]
    * listing, MD5-folded to a long) — no data scan. Catches the case
    * the row count cannot: a corpus whose content changed (rewrite,
    * repartition, same-N replacement) must invalidate the committed
    * artifact, or searches silently serve the OLD corpus' buckets.
    */
  def corpusFingerprint(spark: SparkSession, dir: String): Long = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val digest = java.security.MessageDigest.getInstance("MD5")
    LakeFs.walk(fs, root).foreach { st =>
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

  /** The schemas the build writes, the partition column included. Every
    * committed table is opened with its own, so an open runs no
    * schema-inference job and `bucket` reads back as the long the build
    * wrote, not the int partition-type inference makes of small ids.
    */
  private val MembersSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("bucket", LongType)))
  private val CodesSchema = StructType(StructField("vec_id", LongType) +:
    (0 until Similarity.PqSubspaces).map(m => StructField(s"code_$m", LongType)) :+
    StructField("bucket", LongType))
  private val ModelSchema = StructType(Seq(StructField("c_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("cell", LongType)))

  /** One `kind=` slice of a committed model table. */
  private def modelKind(spark: SparkSession, root: String,
      kind: String): DataFrame =
    spark.read.schema(ModelSchema).parquet(s"${modelDir(root)}/kind=$kind")

  /** PQ codebook width rule of a layout: none (the width is still
    * frozen, for one sidecar format), derived k ∝ √N, or capped.
    */
  sealed trait Coding
  object Coding {
    case object Uncoded extends Coding
    case object Pq extends Coding
    case object PqCapped extends Coding
  }

  /** One index layout. `suffix` names the full build's root,
    * `lifecycle` the prefix of its base-split lifecycle roots (which
    * never rebalance at build time — the refresh policy's rebalance arm
    * does). Every knob derives from a row count through [[meta]].
    */
  final case class Layout(suffix: String, lifecycle: String, hier: Boolean,
      coding: Coding, rebalance: Boolean) {
    require(hier || !rebalance, "the Lloyd rebalance steps a two-level model")

    def coded: Boolean = coding != Coding.Uncoded

    def root(spark: SparkSession, dir: String): String =
      indexRoot(spark, dir) + suffix

    def lifecycleRoot(spark: SparkSession, dir: String, tag: String): String =
      indexRoot(spark, dir) + lifecycle + tag

    /** The identity card of an artifact whose model derives from
      * `nKnob` rows and which holds `n` committed rows.
      */
    def meta(nKnob: Long, n: Long, fp: Long): Meta = {
      val nlist = Similarity.nlistFor(nKnob)
      val nprobe = Similarity.nprobeFor(nlist)
      val ncoarse = Similarity.ncoarseFor(nlist)
      val cprobe = Similarity.cprobeFor(ncoarse)
      val k =
        if (coding == Coding.PqCapped) Similarity.pqKCappedFor(nKnob)
        else Similarity.pqKFor(nKnob)
      Meta(IndexVersion, n, nlist, nprobe, ncoarse, cprobe,
        Similarity.perCellFor(nlist), k, fp)
    }
  }

  object Layout {
    val Flat = Layout("", "", hier = false, Coding.Pq, rebalance = false)
    val Hier = Layout("-hier", "-hier", hier = true, Coding.Uncoded,
      rebalance = false)
    val HierRebalanced = Layout("-hier2", "-hier2", hier = true,
      Coding.Uncoded, rebalance = true)
    val HierPq = Layout("-hier2pq", "-hier2pq", hier = true, Coding.Pq,
      rebalance = true)
    /** Same routing as [[HierPq]], codebook width
      * [[Similarity.pqKCappedFor]]: linear coding, a constant per-query
      * LUT. Its lifecycle roots keep the `-hier2pq` prefix.
      */
    val HierPqCapped = Layout("-hier2pqc", "-hier2pq", hier = true,
      Coding.PqCapped, rebalance = true)
    /** Members-only flat layout of the q268 append lifecycle; no query
      * builds it in full.
      */
    val FlatMembers = Layout("-members", "", hier = false, Coding.Uncoded,
      rebalance = false)
  }

  /** The committed artifact's identity card: layout version, committed
    * row count, every knob frozen into the artifact, and the corpus
    * content fingerprint at build time.
    */
  final case class Meta(version: Long, n: Long, nlist: Int, nprobe: Int,
      ncoarse: Int, cprobe: Int, perCell: Int, k: Int, fp: Long) {
    /** The sidecar's (key, value) pairs, in [[Meta.Keys]] order. */
    def fields: Seq[(String, Long)] = Meta.Keys.zip(Seq(version, n,
      nlist.toLong, nprobe.toLong, ncoarse.toLong, cprobe.toLong,
      perCell.toLong, k.toLong, fp))

    def knob(name: String): Long = fields.toMap.apply(name)
  }

  object Meta {
    val Keys: Seq[String] = Seq("version", "n", "nlist", "nprobe", "ncoarse",
      "cprobe", "percell", "k", "fp")
  }

  private def writeSidecar(spark: SparkSession, root: String, m: Meta): Unit =
    LakeFs.forSpark(spark).writeString(sidecarPath(root),
      m.fields.map { case (key, v) => s""""$key":$v""" }.mkString("{", ",", "}"))

  /** The meta committed at `root`, or None when the sidecar is absent
    * (no commit ever completed there) or unparseable.
    */
  def readMeta(spark: SparkSession, root: String): Option[Meta] = {
    val lakeFs = LakeFs.forSpark(spark)
    val p = sidecarPath(root)
    if (!lakeFs.exists(p)) None
    else {
      val s = lakeFs.readString(p)
      val vs = Meta.Keys.flatMap { key =>
        s""""$key":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
      }
      vs match {
        case Seq(v, n, nl, np, nc, cp, pc, k, fp) =>
          Some(Meta(v, n, nl.toInt, np.toInt, nc.toInt, cp.toInt, pc.toInt,
            k.toInt, fp))
        case _ => None
      }
    }
  }

  /** A model in driver memory: the flat centroids (the fine seeds, for
    * a two-level layout), the two-level router when the layout has one,
    * and the PQ codebook (empty when uncoded).
    */
  private final case class Model(ivf: Seq[(Long, Array[Float])],
      hier: Option[Similarity.HierModel], pq: Seq[(Long, Array[Float])]) {
    /** Route rows to their bucket: (vec_id, embedding, bucket). */
    def route(df: DataFrame): DataFrame = {
      val rows = df.select(col("vec_id"), col("embedding"))
      hier.fold(Similarity.withBucket(rows, ivf, "embedding"))(
        Similarity.withHierBucket(rows, _, "embedding"))
        .select(col("vec_id"), col("embedding"), col("bucket"))
    }
  }

  /** The model table's rows: fine centroids with their routing cell,
    * coarse centroids and the PQ codebook, each kind its own partition.
    */
  private def modelRows(spark: SparkSession, m: Model): DataFrame = {
    import spark.implicits._
    val router = m.hier match {
      case Some(h) =>
        h.cells.zip(h.coarse).flatMap { case (cell, (gid, _)) =>
          cell.map { case (fid, e) => (fid, e.toSeq, gid, "ivf") }
        } ++ h.coarse.map { case (gid, e) => (gid, e.toSeq, gid, "coarse") }
      case None => m.ivf.map { case (id, e) => (id, e.toSeq, id, "ivf") }
    }
    (router ++ m.pq.map { case (id, e) => (id, e.toSeq, id, "pq") })
      .toDF("c_id", "embedding", "cell", "kind")
  }

  /** Committed model load: the `kind=` slice of the model table,
    * collected to the driver in centroid-id order.
    */
  private def modelLits(spark: SparkSession, root: String,
      kind: String): Seq[(Long, Array[Float])] =
    modelKind(spark, root, kind)
      .select(col("c_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).toSeq

  /** The committed two-level router: the coarse centroids and the fine
    * centroids grouped by their committed cell, each cell in id order.
    */
  private def readHier(spark: SparkSession, root: String): Similarity.HierModel = {
    val rows = modelKind(spark, root, "ivf")
      .select(col("cell"), col("c_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val coarse = modelLits(spark, root, "coarse")
    Similarity.HierModel(coarse, coarse.map { case (gid, _) =>
      rows.filter(_._1 == gid).map(t => (t._2, t._3)).sortBy(_._1).toSeq
    })
  }

  /** The committed model re-read from `root` (O(model), never the
    * corpus) — what a restarted ticker resumes from.
    */
  private def readModel(spark: SparkSession, root: String,
      layout: Layout): Model = {
    val pq = if (layout.coded) modelLits(spark, root, "pq") else Nil
    if (!layout.hier) Model(modelLits(spark, root, "ivf"), None, pq)
    else Model(Nil, Some(readHier(spark, root)), pq)
  }

  /** The committed routing at the committed probe widths. */
  private def routing(spark: SparkSession, root: String, layout: Layout,
      meta: Meta): Similarity.Routing =
    if (layout.hier)
      Similarity.Routing.TwoLevel(readHier(spark, root), meta.cprobe, meta.perCell)
    else Similarity.Routing.Flat(modelLits(spark, root, "ivf"), meta.nprobe)

  /** A committed bucket-partitioned table (`members` or `codes`, by its
    * directory name), read with the schema the build writes.
    */
  private def bucketTable(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(
      if (new org.apache.hadoop.fs.Path(path).getName == "codes") CodesSchema
      else MembersSchema).parquet(path)

  /** Sum of a code row's eight subspace codes. */
  private def codeMass: Column =
    (0 until Similarity.PqSubspaces).map(m => col(s"code_$m")).reduce(_ + _)

  /** The corpus' (vec_id, embedding) rows, with the graft functions
    * (the md5 split among them) registered.
    */
  private def embeddings(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
  }

  /** The md5 split column every lifecycle slices the corpus on (ppm). */
  private def hb: Column = Sampling.hashBucket("vec_id")

  /** A committed build: its identity card (n = the rows it holds) and
    * its model.
    */
  private final case class Built(meta: Meta, model: Model)

  /** Train + commit `layout` at `root` — every build in this file.
    *
    *  - Corpus: the full embeddings table (`split` = None; n from the
    *    parquet footers, seeds are the dense-id rule the live searches
    *    use, `vec_id < width`) or a base split (n counted, seeds are its
    *    lowest `width` ids). Seeds are collected ONCE at the widest knob
    *    and sliced per width.
    *  - ONE routing pass feeds the members and codes commits (persisted
    *    when both read it); `rebalance` steps the two-level model once
    *    ([[Similarity.hierLloydStep]]) and commits the re-routed rows
    *    and the updated model — the q259 routing.
    *  - `appendLaw` repartitions members/codes by bucket: one file per
    *    bucket, the wave-0 state of the append file-count law.
    *  - Members, codes and model write disjoint dirs under separate
    *    leases — overlapped.
    *
    * The sidecar is dropped FIRST, so a crash mid-build leaves a
    * certifiably incomplete artifact; the caller writes it when the
    * state it certifies is complete.
    */
  private def build(spark: SparkSession, dir: String, layout: Layout,
      root: String, split: Option[DataFrame] = None, rebalance: Boolean = false,
      appendLaw: Boolean = false): Built = {
    val corpus = split.getOrElse(embeddings(spark, dir))
    val n = split.fold(Tables.rowCountFromFooters(spark, dir, "embeddings"))(
      _.count())
    val knobs = layout.meta(n, n, 0L)
    val lakeFs = LakeFs.forSpark(spark)
    val writer = new AtomicPartitionWriter(lakeFs, spark)
    if (lakeFs.exists(sidecarPath(root))) lakeFs.delete(sidecarPath(root))
    (Seq(membersDir(root)) ++ (if (layout.coded) Seq(codesDir(root)) else Nil) ++
      Seq(modelDir(root))).foreach(writer.repair(_))
    val width =
      if (layout.coded) math.max(knobs.nlist, knobs.k) else knobs.nlist
    val seeds: Int => Seq[(Long, Array[Float])] = split match {
      case None =>
        val s = Similarity.centroidLits(spark, dir, width)
        w => s.filter(_._1 < w)
      case Some(base) =>
        val s = base.orderBy(col("vec_id")).limit(width)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
          .sortBy(_._1).toSeq
        w => s.take(w)
    }
    val ivf = seeds(knobs.nlist)
    val seeded = Model(ivf,
      if (layout.hier) Some(Similarity.hierModelFor(ivf, knobs.ncoarse)) else None,
      if (layout.coded) seeds(knobs.k) else Nil)
    val routed = seeded.route(corpus)
    // (members, model, the cached relation to release after the commits)
    val (members, model, cached) =
      if (rebalance) {
        val assigned = routed.withColumnRenamed("bucket", "bucket_old")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val (updated, re) = Similarity.hierLloydStep(assigned, seeded.hier.get)
        (re.select(col("vec_id"), col("embedding"), col("bucket_new").as("bucket")),
          seeded.copy(hier = Some(updated)), Some(assigned))
      } else if (layout.coded) {
        val p = routed.persist(StorageLevel.MEMORY_AND_DISK)
        (p, seeded, Some(p))
      } else (routed, seeded, None)
    def commit(df: DataFrame, table: String) = writer.commitPartitioned(
      if (appendLaw) df.repartition(col("bucket")) else df, table, "bucket")
    Par.triple(
      commit(members, membersDir(root)),
      if (layout.coded) commit(Similarity.pqCoded(members, model.pq), codesDir(root))
      else Map.empty,
      writer.commitPartitioned(modelRows(spark, model), modelDir(root), "kind"))
    cached.foreach(_.unpersist())
    Built(knobs.copy(fp = corpusFingerprint(spark, dir)), model)
  }

  /** Full build of `layout` at its root, sidecar written last. */
  private def commitFull(spark: SparkSession, dir: String,
      layout: Layout): Meta = {
    val root = layout.root(spark, dir)
    val meta = build(spark, dir, layout, root, rebalance = layout.rebalance).meta
    writeSidecar(spark, root, meta)
    meta
  }

  /** The serving entry: reuse the committed artifact when its sidecar
    * equals the card a build would write now — layout version, corpus
    * row count, content fingerprint and every derived knob (so a
    * re-pinned width rule invalidates too) — rebuild otherwise. All file
    * metadata, no scan; a second call is a sidecar read plus one
    * listing, no jobs.
    */
  def ensure(spark: SparkSession, dir: String, layout: Layout): Meta = {
    val n = Tables.rowCountFromFooters(spark, dir, "embeddings")
    val want = layout.meta(n, n, corpusFingerprint(spark, dir))
    readMeta(spark, layout.root(spark, dir)).filter(_ == want)
      .getOrElse(commitFull(spark, dir, layout))
  }

  /** The read-back panel over a committed root: per bucket, member
    * count and a bit_xor membership witness; code rows and code mass
    * when coded; how many members are arrivals (md5 split ≥
    * `arrivedFrom`) for a lifecycle root; the per-bucket data-file
    * counts of both tables when `files`; then the version and the
    * frozen knobs off `meta` (the probe width only when `probe`). The oracle recomputes all of it from
    * the raw corpus, so a torn commit, a dropped bucket or a knob drift
    * breaks the hash.
    */
  private def panel(spark: SparkSession, root: String, layout: Layout,
      meta: Meta, arrivedFrom: Option[Long] = None, files: Boolean = false,
      probe: Boolean = false): DataFrame = {
    var out = bucketTable(spark, membersDir(root))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_members"), (expr("bit_xor(vec_id)").as("vec_xor") +:
        arrivedFrom.map(s => sum(when(hb >= s, 1L).otherwise(0L)).as("n_arrived"))
          .toSeq): _*)
    if (layout.coded) out = out.join(
      bucketTable(spark, codesDir(root)).groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_codes"), sum(codeMass).as("code_mass")),
      Seq("bucket"))
    if (files) {
      import spark.implicits._
      val lakeFs = LakeFs.forSpark(spark)
      def filesOf(table: String, name: String) =
        bucketFileCounts(lakeFs, table).toSeq
          .map { case (b, c) => (b, c.toLong) }.toDF("bucket", name)
      out = out.join(filesOf(membersDir(root), "files_members"), Seq("bucket"))
        .join(filesOf(codesDir(root), "files_codes"), Seq("bucket"))
    }
    val knobs = Seq("nlist") ++
      (if (layout.hier) Seq("ncoarse", "cprobe", "percell")
       else if (probe) Seq("nprobe") else Nil) ++
      (if (layout.coded) Seq("k") else Nil)
    val cols = Seq("bucket", "n_members", "vec_xor") ++
      (if (layout.coded) Seq("n_codes", "code_mass") else Nil) ++
      arrivedFrom.map(_ => "n_arrived") ++
      (if (files) Seq("files_members", "files_codes") else Nil)
    out.select(cols.map(col) ++
      (lit(meta.version).as("index_version") +:
        knobs.map(k => lit(meta.knob(k)).as(k))): _*)
  }

  /** q244 / q256 / q260 / q262 / q275: build + commit `layout` and audit
    * the COMMITTED tables (never the build's in-flight relations) — the
    * executed lake-commit posture of q216/q234 applied to the index.
    */
  def commitAudit(spark: SparkSession, dir: String, layout: Layout): DataFrame =
    panel(spark, layout.root(spark, dir), layout, commitFull(spark, dir, layout),
      probe = true)

  /** q245 / q257 / q261: the exact-cosine IVF search served FROM the
    * committed members — hash-equal to the live q106 (flat) or q254
    * (two-level) by construction: the committed routing is
    * byte-identical to the live one, and both run the one
    * [[Similarity.exactSearch]] with the probes off the committed model.
    * Candidates come off the bucket-partitioned members, and the corpus
    * is touched only for the query subset: the plan carries zero corpus
    * assignment.
    */
  def serve(spark: SparkSession, dir: String, layout: Layout): DataFrame = {
    Similarity.withFns(spark)
    val meta = ensure(spark, dir, layout)
    val root = layout.root(spark, dir)
    Similarity.exactSearch(bucketTable(spark, membersDir(root)),
      Similarity.queries(Tables.embeddings(spark, dir)),
      routing(spark, root, layout, meta))
  }

  /** q246 / q263 / q276: the ADC search served FROM the committed 8-byte
    * code rows (the 100 TB read-3-TB-not-100 property, without the
    * per-invocation coding pass) — the one [[Similarity.adcSearch]],
    * hash-equal to the live q108 (flat) or the live rebalanced/capped
    * twins (two-level), with the candidate side swapped for the
    * committed codes and the model read off the artifact. At the capped
    * width the per-query LUT is 8·k_cap·8 bytes, constant in N.
    */
  def serveCodes(spark: SparkSession, dir: String, layout: Layout): DataFrame = {
    Similarity.withFns(spark)
    val meta = ensure(spark, dir, layout)
    val root = layout.root(spark, dir)
    Similarity.adcSearch(bucketTable(spark, codesDir(root)),
      Similarity.queries(Tables.embeddings(spark, dir)),
      routing(spark, root, layout, meta), modelLits(spark, root, "pq"),
      meta.k, meta.n / 100L + 1L)
  }

  /** q247: the staleness handoff between the committed flat artifact
    * and q132's ingest semantics — per bucket, the COMMITTED member
    * count, the arrival count of the fresh-crawl split (≥ 0.9 md5)
    * assigned with the COMMITTED centroids, growth in exact ppm, the
    * q132 mean-dot fit signal, and the sidecar version — everything a
    * re-train/re-commit decision reads. The left join only fills
    * buckets with no arrivals.
    */
  def stalenessReport(spark: SparkSession, dir: String): DataFrame = {
    Similarity.withFns(spark)
    val meta = ensure(spark, dir, Layout.Flat)
    val root = Layout.Flat.root(spark, dir)
    val idx = bucketTable(spark, membersDir(root))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_index"))
    val cents = modelLits(spark, root, "ivf")
    val asn = call_function(graft.functions.GraftFunctions.ArgmaxDotName,
      col("embedding"), Similarity.centMatrixLit(cents))
    val arrivals = Tables.embeddings(spark, dir)
      .filter(hb >= 900000L)
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

  /** The touched-bucket histogram of a routed delta in ONE job:
    * (bucket, rows) collected off a ≤ nlist-group aggregation.
    */
  private def touchedAndCount(dm: DataFrame): (Array[Long], Long) = {
    val perBucket = dm.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    (perBucket.map(_._1), perBucket.map(_._2).sum)
  }

  /** The touched-bucket delta (upsert): route + code `delta` with the
    * committed model (one map-only pass over the delta only), then
    * rewrite ONLY the buckets that received arrivals, in members and —
    * when coded — codes, through
    * [[graft.lake.AtomicPartitionWriter.upsertPartitionsCounted]]: IO ∝
    * touched mass, never the table; the touched set is nlist-bounded;
    * untouched buckets' files never move. REPLAY-IDEMPOTENT: existing
    * rows with the delta's vec_ids are anti-joined out of each table
    * before the union, so an at-least-once re-application (a q251
    * micro-batch, a crashed-and-rerun tick) rewrites the same rows
    * instead of duplicating them.
    *
    * Returns (delta rows, touched buckets, member rows rewritten) — the
    * write-amplification observables q250 grades.
    */
  private def upsertDelta(spark: SparkSession, root: String, delta: DataFrame,
      model: Model): (Long, Long, Long) = {
    val writer = new AtomicPartitionWriter(LakeFs.forSpark(spark), spark)
    val dm = model.route(delta).persist(StorageLevel.MEMORY_AND_DISK)
    val (touched, nArr) = touchedAndCount(dm)
    if (nArr == 0L) { dm.unpersist(); return (0L, 0L, 0L) }
    // rows rewritten = rows staged into the swapped bucket dirs, read
    // off the staged footers inside the commit
    def upsert(table: String, fresh: DataFrame): Long =
      writer.upsertPartitionsCounted(
        bucketTable(spark, table)
          .filter(col("bucket").isin(touched: _*))
          .join(dm.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .unionByName(fresh),
        table, "bucket")._2
    // disjoint tables sharing only the persisted dm — overlapped
    val (nRewritten, _) = Par.pair(
      upsert(membersDir(root), dm),
      if (model.pq.nonEmpty) upsert(codesDir(root), Similarity.pqCoded(dm, model.pq))
      else 0L)
    dm.unpersist()
    (nArr, touched.length.toLong, nRewritten)
  }

  /** Per-bucket data-file bound for the append-mode ingest: a bucket
    * exceeding this after an append is compacted back to one file.
    */
  val CompactFilesMax = 3

  /** q250's and the append lifecycles' wave boundaries on the md5 hash
    * split: base < 0.7, then three successive delta waves of ~10% of
    * the corpus each — the repeated-ingest shape a production crawl
    * feeds the artifact.
    */
  val FragWaves: Seq[(Long, Long, Long)] =
    Seq((1L, 700000L, 800000L), (2L, 800000L, 900000L),
      (3L, 900000L, 1000000L))

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

  /** Strict `bucket=<long>` match: crash leftovers (`bucket=X_old`
    * backups, `_tmp` staging) must be EXCLUDED, not parsed — a loose
    * stripPrefix would throw on the first post-crash run and wedge the
    * append lifecycle.
    */
  private val BucketDirName = "^bucket=(-?\\d+)$".r

  private def bucketDirs(lakeFs: LakeFs,
      tableDir: String): Seq[(Long, org.apache.hadoop.fs.Path)] =
    lakeFs.fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .filter(_.isDirectory).toSeq
      .flatMap(st => st.getPath.getName match {
        case BucketDirName(b) => Some(b.toLong -> st.getPath)
        case _ => None
      })

  private def bucketFileCounts(lakeFs: LakeFs, tableDir: String): Map[Long, Int] =
    bucketDirs(lakeFs, tableDir).map { case (b, p) =>
      b -> lakeFs.fs.listStatus(p).count(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    }.toMap

  /** Total row count of a committed bucket-partitioned table from
    * parquet FOOTER metadata only ([[graft.lake.Footers]]) — never a
    * scan job.
    */
  private def footerRowsUnder(spark: SparkSession, tableDir: String): Long =
    graft.lake.Footers.counts(spark,
      bucketDirs(LakeFs.forSpark(spark), tableDir)
        .map { case (_, p) => s"$tableDir/${p.getName}" })
      .map(_._2).sum

  private def codeMassTotal(spark: SparkSession, root: String): Long =
    bucketTable(spark, codesDir(root))
      .agg(coalesce(sum(codeMass), lit(0L))).collect()(0).getLong(0)

  /** Every observable of one append wave. */
  private final case class AppendWaveStats(nArr: Long, nTouched: Long,
    rowsAppended: Long, codeRowsAppended: Long, nCompactBuckets: Long,
    rowsCompacted: Long, codeRowsCompacted: Long, maxFilesMembers: Long,
    maxFilesCodes: Long)

  /** The append wave: route + code the delta with the committed model
    * (one map-only pass), anti-join replayed rows out of EACH table
    * against itself (so a crash that left one table ahead self-heals on
    * replay), append ONE file per touched bucket to members and — when
    * coded — codes, then compact any bucket of either table past
    * [[CompactFilesMax]] files back to one file through the upsert swap.
    * The anti-join pipelines feed the staging writes directly: staging
    * reads the pre-append state (renames happen only after staging
    * completes), and rows appended = rows staged, off the staged
    * footers.
    */
  private def appendWave(spark: SparkSession, root: String, delta: DataFrame,
      model: Model): AppendWaveStats = {
    val lakeFs = LakeFs.forSpark(spark)
    val writer = new AtomicPartitionWriter(lakeFs, spark)
    val coded = model.pq.nonEmpty
    def maxFiles(table: String): Long =
      bucketFileCounts(lakeFs, table).values.foldLeft(1)(math.max).toLong
    def maxCodeFiles: Long = if (coded) maxFiles(codesDir(root)) else 0L
    val dm = model.route(delta).persist(StorageLevel.MEMORY_AND_DISK)
    val (touched, nArr) = touchedAndCount(dm)
    if (nArr == 0L) {
      dm.unpersist()
      return AppendWaveStats(0L, 0L, 0L, 0L, 0L, 0L, 0L,
        maxFiles(membersDir(root)), maxCodeFiles)
    }
    def append(table: String, fresh: DataFrame): Long =
      writer.appendPartitionsCounted(
        fresh.join(
          bucketTable(spark, table)
            .filter(col("bucket").isin(touched: _*)).select(col("vec_id")),
          Seq("vec_id"), "left_anti")
          .repartition(col("bucket")),
        table, "bucket")._2
    // per-table chains share only the persisted dm — overlapped
    val (nAppended, nCodeAppended) = Par.pair(
      append(membersDir(root), dm),
      if (coded) append(codesDir(root), Similarity.pqCoded(dm, model.pq)) else 0L)
    dm.unpersist()
    def compactOver(table: String): (Seq[Long], Long) = {
      val over = bucketFileCounts(lakeFs, table)
        .filter(_._2 > CompactFilesMax).keys.toSeq.sorted
      if (over.isEmpty) (over, 0L)
      else (over, writer.upsertPartitionsCounted(
        bucketTable(spark, table)
          .filter(col("bucket").isin(over: _*))
          .repartition(col("bucket")),
        table, "bucket")._2)
    }
    val ((overM, compM), (_, compC)) = Par.pair(
      compactOver(membersDir(root)),
      if (coded) compactOver(codesDir(root)) else (Nil, 0L))
    AppendWaveStats(nArr, touched.length.toLong, nAppended, nCodeAppended,
      overM.length.toLong, compM, compC,
      maxFiles(membersDir(root)), maxCodeFiles)
  }

  /** The one `AvailableNow` streaming driver (q251, q271): drain the
    * parquet files under `src` one per micro-batch
    * (`maxFilesPerTrigger=1`), hand each batch's (vec_id, embedding)
    * rows to `perBatch` through `foreachBatch`, and require at least
    * two batches — a single-batch drain proves nothing beyond the
    * batch lifecycle; `src` holds corpus (vec_id, embedding) rows.
    * `foreachBatch` is at-least-once; replay safety is the delta's
    * anti-join idempotence, not luck. The checkpoint is
    * fresh per call (a reused one would skip every file after the base
    * rebuild); it and the staged `src` are deleted once the drain ends.
    */
  private def drainStream(spark: SparkSession, root: String, src: String,
      what: String)(perBatch: DataFrame => Unit): Unit = {
    val lakeFs = LakeFs.forSpark(spark)
    val ckpt = s"${root}_ckpt_${streamRunCounter.incrementAndGet()}"
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      spark.readStream.schema(StructType(MembersSchema.take(2)))
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          perBatch(batch.select(col("vec_id"), col("embedding")))
          batches.incrementAndGet()
          ()
        }
        .start()
        .awaitTermination()
    } finally {
      lakeFs.delete(ckpt)
      lakeFs.delete(src)
    }
    require(batches.get() >= 2L,
      s"streaming $what drained in ${batches.get()} batch(es) — the twin " +
        s"must exercise multi-batch ${what}s or it proves nothing beyond " +
        "the batch lifecycle")
  }

  private val streamRunCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** q248 / q269 / q274: the incremental ingest EXECUTED on a lifecycle
    * root of `layout` — q132 reports what an ingest WOULD do to each
    * bucket; this DOES it. The base (md5 split < `splitPpm`) builds with
    * base-derived knobs and lowest-base-id seeds, the arrivals (≥
    * `splitPpm`) take one [[upsertDelta]] with the committed model, and
    * the sidecar advances its committed count LAST. The panel reads
    * back the COMMITTED tables; the oracle replays base-seeded routing
    * (and coding) over the FULL corpus ≡ base build ∪ delta ingest, so
    * a dropped delta, a clobbered untouched bucket, a wrong-model
    * routing or a knob drift breaks the hash. q269 is the graded
    * ~11% delta; q274's ≥0.999 split is the 5-minute tick shape whose
    * touched buckets are ≪ nlist.
    */
  def ingest(spark: SparkSession, dir: String, layout: Layout, tag: String,
      splitPpm: Long): DataFrame = {
    val root = layout.lifecycleRoot(spark, dir, tag)
    val emb = embeddings(spark, dir)
    val b = build(spark, dir, layout, root, split = Some(emb.filter(hb < splitPpm)))
    val (nArr, _, _) = upsertDelta(spark, root, emb.filter(hb >= splitPpm), b.model)
    val meta = b.meta.copy(n = b.meta.n + nArr)
    writeSidecar(spark, root, meta)
    panel(spark, root, layout, meta, Some(splitPpm))
  }

  /** Replay hook: REAPPLY an [[ingest]]'s arrival delta against its
    * already-committed root (no base rebuild, model re-read from the
    * artifact) — the at-least-once replay a crashed-and-rerun ticker
    * produces, and the marginal tick IngestTickProbe prices. The
    * anti-join idempotence must land the identical panel.
    */
  private[graft] def replayIngest(spark: SparkSession, dir: String,
      layout: Layout, tag: String, splitPpm: Long): DataFrame = {
    val root = layout.lifecycleRoot(spark, dir, tag)
    val meta = readMeta(spark, root).getOrElse(
      sys.error(s"replayIngest needs a committed ingest artifact at $root"))
    upsertDelta(spark, root, embeddings(spark, dir).filter(hb >= splitPpm),
      readModel(spark, root, layout))
    panel(spark, root, layout, meta, Some(splitPpm))
  }

  /** q251: the STREAMING twin of q248 — the arrivals land as a 4-file
    * parquet stream and each micro-batch pays one [[upsertDelta]]
    * through the commit lease. The final artifact is IDENTICAL to the
    * batch q248's by construction (same base split and model;
    * union-over-batches ≡ union-over-delta), so it shares q248's oracle
    * verbatim (the q137 batch/stream parity posture).
    */
  def streamingIngestCommit(spark: SparkSession, dir: String): DataFrame = {
    val layout = Layout.Flat
    val root = layout.lifecycleRoot(spark, dir, "_inc_stream")
    val emb = embeddings(spark, dir)
    val b = build(spark, dir, layout, root, split = Some(emb.filter(hb < 900000L)))
    val src = s"${root}_arrivals_src"
    emb.filter(hb >= 900000L).repartition(4, col("vec_id"))
      .write.mode("overwrite").parquet(src)
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    drainStream(spark, root, src, "upsert") { batch =>
      total.addAndGet(upsertDelta(spark, root, batch, b.model)._1)
    }
    val meta = b.meta.copy(n = b.meta.n + total.get())
    writeSidecar(spark, root, meta)
    panel(spark, root, layout, meta, Some(900000L))
  }

  /** q250: index-artifact write amplification under REPEATED upserts —
    * q248 rewrites touched buckets wholesale, so what do K successive
    * delta waves cost? Per wave: arrivals, touched buckets, member rows
    * physically rewritten (pre-wave touched-bucket occupancy + the
    * delta), write amplification in exact ppm, and the committed total.
    * Files/bucket does NOT accumulate: each upsert REPLACES a touched
    * bucket's directory (AnnIndexSpec asserts it).
    */
  def fragmentationAudit(spark: SparkSession, dir: String): DataFrame = {
    val layout = Layout.Flat
    val root = layout.lifecycleRoot(spark, dir, "_frag")
    val emb = embeddings(spark, dir)
    val b = build(spark, dir, layout, root, split = Some(emb.filter(hb < 700000L)))
    var meta = b.meta
    val rows = FragWaves.map { case (wave, lo, hi) =>
      val (nArr, nTouched, nRewritten) =
        upsertDelta(spark, root, emb.filter(hb >= lo && hb < hi), b.model)
      meta = meta.copy(n = meta.n + nArr)
      writeSidecar(spark, root, meta)
      val ampPpm = if (nArr == 0L) 0L else nRewritten * 1000000L / nArr
      (wave, nArr, nTouched, nRewritten, ampPpm, meta.n)
    }
    import spark.implicits._
    rows.toDF("wave", "n_arrivals", "n_touched", "rows_rewritten",
      "write_amp_ppm", "n_total")
  }

  /** q268 / q270: the write-amplification MITIGATION — the q250 wave
    * shape through [[appendWave]]: rows written ∝ arrivals per table
    * (amplification ≈ 10⁶ ppm instead of ~10⁷), files per bucket bounded
    * by threshold compaction whose rewrite IO is its own column. q268
    * runs the members-only layout; q270 adds the codes table, with
    * `code_mass_total` proving the appended code rows are coded with
    * the frozen base codebook. The oracle replays counts, the file-count
    * law and the mass from the raw corpus. Reference seam: the 5-minute
    * incremental tick (`airflow/dags/hadoop_dag.py:115-118`).
    */
  def appendAudit(spark: SparkSession, dir: String, layout: Layout,
      tag: String): DataFrame = {
    requireNoEarlyCompaction()
    val root = layout.lifecycleRoot(spark, dir, tag)
    val emb = embeddings(spark, dir)
    val b = build(spark, dir, layout, root, split = Some(emb.filter(hb < 700000L)),
      appendLaw = true)
    var meta = b.meta
    val rows = FragWaves.map { case (wave, lo, hi) =>
      val s = appendWave(spark, root, emb.filter(hb >= lo && hb < hi), b.model)
      meta = meta.copy(n = meta.n + s.rowsAppended)
      writeSidecar(spark, root, meta)
      def amp(written: Long): Long =
        if (s.nArr == 0L) 0L else written * 1000000L / s.nArr
      (wave, s.nArr, s.nTouched, s.rowsAppended, s.codeRowsAppended,
        s.nCompactBuckets, s.rowsCompacted, s.codeRowsCompacted,
        amp(s.rowsAppended + s.rowsCompacted),
        amp(s.codeRowsAppended + s.codeRowsCompacted),
        s.maxFilesMembers, s.maxFilesCodes,
        if (layout.coded) codeMassTotal(spark, root) else 0L, meta.n)
    }
    import spark.implicits._
    val all = rows.toDF("wave", "n_arrivals", "n_touched", "rows_appended",
      "code_rows_appended", "n_compact_buckets", "rows_compacted",
      "code_rows_compacted", "write_amp_ppm", "code_write_amp_ppm",
      "max_files_bucket", "max_code_files_bucket", "code_mass_total",
      "n_total")
    if (layout.coded) all
    else all.drop("code_rows_appended", "code_rows_compacted",
      "code_write_amp_ppm", "max_code_files_bucket", "code_mass_total")
  }

  /** q271: the STREAMING twin of the append lifecycle — the three waves
    * land as three parquet FILES, drained as three genuine micro-batches
    * ([[drainStream]]), each paying ONE [[appendWave]] through the
    * commit lease: the per-table anti-join idempotence under the hash
    * gate. The panel is the FINAL committed read-back, file counts of
    * both tables included — order-independent, since with
    * FragWaves.length ≤ [[CompactFilesMax]] compaction is first
    * reachable at a bucket's LAST touching batch.
    */
  def streamingAppendIngest(spark: SparkSession, dir: String): DataFrame = {
    requireNoEarlyCompaction()
    val layout = Layout.Flat
    val root = layout.lifecycleRoot(spark, dir, "_append_stream")
    val lakeFs = LakeFs.forSpark(spark)
    val emb = embeddings(spark, dir)
    val b = build(spark, dir, layout, root, split = Some(emb.filter(hb < 700000L)),
      appendLaw = true)
    val src = s"${root}_waves_src"
    // stage each WAVE as one file so batches ≡ waves: the compaction law
    // then replays exactly (and the final state is order-free)
    if (lakeFs.exists(src)) lakeFs.delete(src)
    lakeFs.mkdirs(src)
    FragWaves.foreach { case (w, lo, hi) =>
      val stage = s"${src}_stage_$w"
      emb.filter(hb >= lo && hb < hi).repartition(1)
        .write.mode("overwrite").parquet(stage)
      val part = lakeFs.fs
        .listStatus(new org.apache.hadoop.fs.Path(stage))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .head
      val dst = new org.apache.hadoop.fs.Path(s"$src/wave_$w.parquet")
      if (!lakeFs.fs.rename(part.getPath, dst))
        throw new IllegalStateException(
          s"failed to stage wave file ${part.getPath} -> $dst")
      lakeFs.delete(stage)
    }
    val appended = new java.util.concurrent.atomic.AtomicLong(0L)
    drainStream(spark, root, src, "append") { batch =>
      appended.addAndGet(appendWave(spark, root, batch, b.model).rowsAppended)
    }
    val meta = b.meta.copy(n = b.meta.n + appended.get())
    writeSidecar(spark, root, meta)
    panel(spark, root, layout, meta, Some(700000L),
      files = true)
  }

  /** Test hook: simulate a crash BETWEEN [[appendWave]]'s two appends —
    * members written, codes not — then replay the SAME wave through the
    * real body. The codes table's own anti-join must heal the torn
    * table (append exactly the missing code rows) while the members
    * anti-join appends nothing.
    */
  private[graft] def tornAppendReplayProbe(spark: SparkSession,
      dir: String): DataFrame = {
    requireNoEarlyCompaction()
    val root = Layout.Flat.lifecycleRoot(spark, dir, "_append_torn")
    val emb = embeddings(spark, dir)
    val b = build(spark, dir, Layout.Flat, root,
      split = Some(emb.filter(hb < 700000L)), appendLaw = true)
    val (_, lo, hi) = FragWaves.head
    val delta = emb.filter(hb >= lo && hb < hi)
    // the torn half: assign + append MEMBERS only, then "crash"
    val dm = b.model.route(delta)
    val touched = dm.select(col("bucket")).distinct()
      .collect().map(_.getLong(0))
    val tornM = dm.join(
      bucketTable(spark, membersDir(root))
        .filter(col("bucket").isin(touched: _*)).select(col("vec_id")),
      Seq("vec_id"), "left_anti")
      .repartition(col("bucket"))
      .localCheckpoint()
    val nTorn = tornM.count()
    new AtomicPartitionWriter(LakeFs.forSpark(spark), spark)
      .appendPartitionsCounted(tornM, membersDir(root), "bucket")
    // the at-least-once replay of the SAME wave through the real body
    val s = appendWave(spark, root, delta, b.model)
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

  /** q249's decision thresholds: (scenario, low ppm, high ppm). The
    * ≥0.9 md5 arrival split is ~11% of the base (~111k ppm), so the
    * three rows land one per policy arm at EVERY scale — growth is a
    * count ratio, invariant under corpus growth.
    */
  val PolicyScenarios: Seq[(String, Long, Long)] = Seq(
    ("fresh", 200000L, 500000L),
    ("stale", 50000L, 500000L),
    ("drift", 10000L, 50000L))

  /** The two-level policies' scenario knobs (q267/q278): (name, growth
    * low ppm, growth high ppm, skew cap ppm). A cap of 0 always judges
    * the layout too skewed (forcing the rebalance arm), 2·10⁶ never does
    * (max_share is ≤ 10⁶ by construction) — so the four rows land one
    * per arm at EVERY corpus size.
    */
  val HierPolicyScenarios: Seq[(String, Long, Long, Long)] = Seq(
    ("fresh", 200000L, 500000L, 2000000L),
    ("stale", 50000L, 500000L, 2000000L),
    ("hot", 50000L, 500000L, 0L),
    ("drift", 10000L, 50000L, 2000000L))

  /** The flat decision rule — growth below `low` leaves the artifact
    * alone, inside [low, high) pays the touched-bucket ingest, at or
    * above `high` the model is judged drifted and rebuilt.
    */
  def refreshDecision(growthPpm: Long, lowPpm: Long, highPpm: Long): String =
    hierRefreshDecision(growthPpm, lowPpm, highPpm, 0L, Long.MaxValue)

  /** The decision rule over BOTH lifecycle signals: growth below `low`
    * → noop; at or above `high` → rebuild with current-corpus knobs; in
    * between, the committed layout's measured bucket-mass skew picks
    * between the touched-bucket ingest and the in-place Lloyd
    * rebalance.
    */
  def hierRefreshDecision(growthPpm: Long, lowPpm: Long, highPpm: Long,
      skewPpm: Long, skewCapPpm: Long): String =
    if (growthPpm < lowPpm) "noop"
    else if (growthPpm >= highPpm) "rebuild"
    else if (skewPpm > skewCapPpm) "rebalance"
    else "ingest"

  /** The rebalance arm: one within-cell Lloyd step over the COMMITTED
    * membership ([[Similarity.hierLloydStep]]); the re-routed members,
    * the codes RE-KEYED to the new buckets without recoding (vectors did
    * not move, so code rows do not change) and the updated model commit
    * wholesale, overlapped. Returns the updated model.
    */
  private def rebalanceCommitted(spark: SparkSession, root: String,
      model: Model): Model = {
    val writer = new AtomicPartitionWriter(LakeFs.forSpark(spark), spark)
    val members = bucketTable(spark, membersDir(root))
      .select(col("vec_id"), col("embedding"), col("bucket").as("bucket_old"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (updated, re) = Similarity.hierLloydStep(members, model.hier.get)
    val next = model.copy(hier = Some(updated))
    val coded = model.pq.nonEmpty
    val reKeyed =
      if (coded) Some(re.select(col("vec_id"), col("bucket_new").as("bucket"))
        .localCheckpoint())
      else None
    Par.triple(
      writer.commitPartitioned(
        re.select(col("vec_id"), col("embedding"), col("bucket_new").as("bucket")),
        membersDir(root), "bucket"),
      reKeyed.fold(Map.empty[String, String])(rk => writer.commitPartitioned(
        bucketTable(spark, codesDir(root)).drop("bucket").join(rk, Seq("vec_id")),
        codesDir(root), "bucket")),
      writer.commitPartitioned(modelRows(spark, next), modelDir(root), "kind"))
    members.unpersist()
    next
  }

  /** Post-action committed witnesses of a policy root. */
  private final case class Witness(skewPpm: Long, nMembers: Long, vecXor: Long,
    nBuckets: Long, nCodes: Long, codeMass: Long)

  /** q249 / q267 / q278: the staleness-TRIGGERED refresh policy EXECUTED
    * on one lifecycle root of `layout` (reference seam: the 5-minute
    * pipeline tick, `airflow/dags/hadoop_dag.py:115-118`, applied to
    * the index artifact). The base split (< 0.9 md5) commits, then each
    * scenario's decision is read off the arrival growth ppm and — for a
    * two-level layout — the committed layout's measured bucket-mass
    * skew, and the chosen arm EXECUTES through the commit lease:
    *
    *  - noop — the artifact stays as it is;
    *  - ingest — the arrivals take one [[upsertDelta]] with the
    *    committed model (members and, when coded, codes);
    *  - rebalance (two-level only) — [[rebalanceCommitted]];
    *  - rebuild — full-corpus knobs and seeds, wholesale replace (at the
    *    capped width for the capped layout: the rebuild arm is linear).
    *
    * Each row carries the post-action COMMITTED witnesses, so a policy
    * that executes the wrong arm, tears a commit or drifts a knob
    * breaks the hash. The witness is read once up front and again only
    * after an arm that acted: the post-action state of scenario i is
    * scenario i+1's pre-decision reading.
    */
  def refreshPolicy(spark: SparkSession, dir: String, layout: Layout): DataFrame = {
    val root = layout.lifecycleRoot(spark, dir, "_policy")
    val emb = embeddings(spark, dir)
    val arrivals = emb.filter(hb >= 900000L)
    val b = build(spark, dir, layout, root, split = Some(emb.filter(hb < 900000L)))
    writeSidecar(spark, root, b.meta)
    val nArr = arrivals.count()
    val growthPpm = nArr * 1000000L / b.meta.n
    val reportsMass = layout.hier && layout.coded
    def witness(): Witness = {
      // the code-row count needs no checksum — parquet footers carry it
      val (m, mass) = Par.pair(
        bucketTable(spark, membersDir(root))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("mass"), expr("bit_xor(vec_id)").as("x"))
          .agg(sum(col("mass")).as("n"), expr("bit_xor(x)").as("xx"),
            count(lit(1)).as("b"), max(col("mass")).as("mx"))
          .collect()(0),
        if (reportsMass) codeMassTotal(spark, root) else 0L)
      Witness(m.getLong(3) * 1000000L / m.getLong(0), m.getLong(0), m.getLong(1),
        m.getLong(2),
        if (layout.coded) footerRowsUnder(spark, codesDir(root)) else 0L, mass)
    }
    var meta = b.meta
    var model = b.model
    var w = witness()
    val scenarios =
      if (layout.hier) HierPolicyScenarios
      else PolicyScenarios.map { case (s, lo, hi) => (s, lo, hi, Long.MaxValue) }
    val rows = scenarios.map { case (scenario, low, high, cap) =>
      val skewPre = w.skewPpm
      val decision = hierRefreshDecision(growthPpm, low, high, skewPre, cap)
      decision match {
        case "noop" => ()
        case "ingest" =>
          val (got, _, _) = upsertDelta(spark, root, arrivals, model)
          meta = meta.copy(n = b.meta.n + got)
          writeSidecar(spark, root, meta)
        case "rebalance" => model = rebalanceCommitted(spark, root, model)
        case _ =>
          val rb = build(spark, dir, layout, root)
          meta = rb.meta
          model = rb.model
          writeSidecar(spark, root, meta)
      }
      if (decision != "noop") w = witness()
      (scenario, decision, growthPpm, low, high, cap, skewPre, w.nMembers,
        w.vecXor, w.nBuckets, w.nCodes, w.codeMass, meta.nlist.toLong,
        meta.ncoarse.toLong, meta.k.toLong)
    }
    // the columns each policy has always reported
    val cols = Seq("scenario", "decision", "growth_ppm", "low_ppm", "high_ppm") ++
      (if (layout.hier) Seq("skew_cap_ppm", "skew_pre_ppm") else Nil) ++
      Seq("n_members", "vec_xor", "n_buckets") ++
      (if (!layout.coded) Seq("nlist", "ncoarse")
       else if (!layout.hier) Seq("n_codes", "nlist", "k")
       else Seq("n_codes", "code_mass", "k"))
    import spark.implicits._
    rows.toDF("scenario", "decision", "growth_ppm", "low_ppm", "high_ppm",
      "skew_cap_ppm", "skew_pre_ppm", "n_members", "vec_xor", "n_buckets",
      "n_codes", "code_mass", "nlist", "ncoarse", "k")
      .select(cols.map(col): _*)
  }
}
