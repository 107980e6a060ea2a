package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, Similarity}
import graft.operators.AnnIndex.Layout

/** The persisted-index contract: the committed artifact serves searches
  * hash-equal to the live-computed q106/q108 (commit-then-serve row
  * identity, the ThriftServingSpec pattern applied to the index), the
  * SERVING plans carry zero corpus re-assignment work (the whole point
  * of committing an index), and the lifecycle is idempotent +
  * version-gated.
  */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("served IVF search is row-identical to the live q106") {
    assert(rows(AnnIndex.serve(spark, sf, Layout.Flat)) ===
      rows(Similarity.ivfKnnAuto(spark, sf)))
  }

  test("hier-served search is row-identical to live q254; plan has zero assignment") {
    assert(rows(AnnIndex.serve(spark, sf, Layout.Hier)) ===
      rows(Similarity.hierIvfSearch(spark, sf)))
    AnnIndex.ensure(spark, sf, Layout.Hier)
    val plan = AnnIndex.serve(spark, sf, Layout.Hier)
      .queryExecution.executedPlan.toString.toLowerCase
    // the live q254 assigns the corpus per invocation (two-level); the
    // served plan must carry NEITHER assignment expression — candidates
    // come off the committed bucket-partitioned members
    assert(!plan.contains("quantizedhierargmaxdot"),
      s"served hier plan must not route the corpus:\n${plan.take(2000)}")
    assert(!plan.contains("quantizedargmaxdot"),
      s"served hier plan must not flat-assign either:\n${plan.take(2000)}")
    assert(plan.contains("graft_ann_index"),
      s"served hier must scan the committed members:\n${plan.take(2000)}")
  }

  test("hier commit audit agrees with the live q252 histogram") {
    val audit = AnnIndex.commitAudit(spark, sf, Layout.Hier).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val live = Similarity.hierAssignedHistogram(spark, sf).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(audit.view.mapValues(_._1).toMap === live,
      "committed per-bucket membership must equal the live routing")
  }

  test("rebalanced artifact: committed masses equal the q259 panel; serve plan is clean") {
    val audit = AnnIndex.commitAudit(spark, sf, Layout.HierRebalanced).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val panel = Similarity.hierLloydRebalance(spark, sf).collect().head
    assert(audit.size.toLong == panel.getLong(0), "bucket count")
    assert(audit.values.sum == panel.getLong(1), "total committed rows")
    assert(audit.values.min == panel.getLong(2) &&
      audit.values.max == panel.getLong(3), "mass extremes")
    val plan = AnnIndex.serve(spark, sf, Layout.HierRebalanced)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("quantizedhierargmaxdot") &&
      !plan.contains("quantizedargmaxdot"),
      s"rebalanced serve must not assign the corpus:\n${plan.take(2000)}")
    assert(plan.contains("graft_ann_index"),
      s"rebalanced serve must scan committed members:\n${plan.take(2000)}")
  }

  test("rebalanced lifecycle is idempotent; layouts coexist under one corpus") {
    val m1 = AnnIndex.ensure(spark, sf, Layout.HierRebalanced)
    val m2 = AnnIndex.ensure(spark, sf, Layout.HierRebalanced)
    assert(m1 === m2)
    // same knob card as the seed-hier artifact, different root
    val seed = AnnIndex.ensure(spark, sf, Layout.Hier)
    assert(seed.nlist == m1.nlist && seed.ncoarse == m1.ncoarse)
    assert(Layout.HierRebalanced.root(spark, sf) !=
      Layout.Hier.root(spark, sf))
  }

  test("hier lifecycle is idempotent and fingerprint-gated") {
    val m1 = AnnIndex.ensure(spark, sf, Layout.Hier)
    val m2 = AnnIndex.ensure(spark, sf, Layout.Hier)
    assert(m1 === m2)
    assert(m1.perCell >= 1 && m1.cprobe >= 2 && m1.ncoarse >= 4)
  }

  test("served IVF-PQ search is row-identical to the live q108") {
    assert(rows(AnnIndex.serveCodes(spark, sf, Layout.Flat)) ===
      rows(Similarity.ivfPqSearchAuto(spark, sf)))
  }

  test("serving plans carry zero corpus re-assignment; live plans do") {
    AnnIndex.ensure(spark, sf, Layout.Flat)
    // plans render expressions by CLASS prettyName (lowercased), not by
    // the registered SQL function name
    val argmax = "quantizedargmaxdot"
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // the live searches assign the corpus per invocation — the argmax
    // expression sits over the corpus scan (the seam this module closes)
    assert(plan(Similarity.ivfKnnAuto(spark, sf)).contains(argmax))
    assert(plan(Similarity.ivfPqSearchAuto(spark, sf)).contains(argmax))
    // the served searches read the committed artifact: no assignment
    // expression anywhere, and the candidate scan is the index path
    val pIvf = plan(AnnIndex.serve(spark, sf, Layout.Flat))
    val pPq = plan(AnnIndex.serveCodes(spark, sf, Layout.Flat))
    assert(!pIvf.contains(argmax),
      s"served IVF plan must not re-assign the corpus:\n${pIvf.take(2000)}")
    assert(!pPq.contains(argmax),
      s"served IVF-PQ plan must not re-assign the corpus:\n${pPq.take(2000)}")
    assert(pIvf.contains("graft_ann_index"),
      s"served IVF must scan the committed members:\n${pIvf.take(2000)}")
    assert(pPq.contains("graft_ann_index"),
      s"served IVF-PQ must scan the committed codes:\n${pPq.take(2000)}")
    // every served-plan scan of the corpus table must carry the query
    // filter (vec_id % 100): an UNFILTERED embeddings scan is the
    // corpus-wide assignment/coding pass the artifact commits away.
    // The live plans carry exactly such a scan. (Alias collapse folds
    // q_emb back to the raw column name, so scan FILTERS are the
    // discriminator, not expression text; a FileScan line prints its
    // DataFilters and Location together.)
    def unfilteredCorpusScans(p: String): Int =
      p.linesIterator.count(l =>
        l.contains("embeddings.pa") && !l.contains("% 100"))
    assert(unfilteredCorpusScans(plan(Similarity.ivfKnnAuto(spark, sf))) >= 1)
    assert(unfilteredCorpusScans(plan(Similarity.ivfPqSearchAuto(spark, sf))) >= 1)
    assert(unfilteredCorpusScans(pIvf) === 0,
      s"served IVF must scan the corpus only for queries:\n${pIvf.take(2000)}")
    assert(unfilteredCorpusScans(pPq) === 0,
      s"served ADC must scan the corpus only for queries:\n${pPq.take(2000)}")
  }

  test("ensureCommitted is idempotent and version+corpus gated") {
    val meta = AnnIndex.ensure(spark, sf, Layout.Flat)
    assert(meta.version === AnnIndex.IndexVersion)
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val sidecar = s"${AnnIndex.indexRoot(spark, sf)}/_index_version.json"
    val before = lakeFs.fs.getFileStatus(
      new org.apache.hadoop.fs.Path(sidecar)).getModificationTime
    // a second call is a sidecar read — no rebuild, no rewrite
    assert(AnnIndex.ensure(spark, sf, Layout.Flat) === meta)
    val after = lakeFs.fs.getFileStatus(
      new org.apache.hadoop.fs.Path(sidecar)).getModificationTime
    assert(after === before, "second ensureCommitted must not rebuild")
    // a missing sidecar certifies an incomplete commit → rebuild
    lakeFs.delete(sidecar)
    assert(AnnIndex.readMeta(spark, Layout.Flat.root(spark, sf)).isEmpty)
    assert(AnnIndex.ensure(spark, sf, Layout.Flat) === meta)
    assert(AnnIndex.readMeta(spark, Layout.Flat.root(spark, sf)) === Some(meta))
  }

  test("every committed layout: ensure is idempotent, its sidecar round-trips, a lost sidecar rebuilds") {
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val committed = Seq(Layout.Flat, Layout.Hier, Layout.HierRebalanced,
      Layout.HierPq, Layout.HierPqCapped)
    assert(committed.map(_.suffix).distinct.size === committed.size)
    committed.foreach { layout =>
      val root = layout.root(spark, sf)
      val sidecar = new org.apache.hadoop.fs.Path(s"$root/_index_version.json")
      def mtime() = lakeFs.fs.getFileStatus(sidecar).getModificationTime
      val meta = AnnIndex.ensure(spark, sf, layout)
      assert(meta.version === AnnIndex.IndexVersion, s"$layout")
      val before = mtime()
      // a second ensure reuses the artifact: same card, sidecar untouched
      assert(AnnIndex.ensure(spark, sf, layout) === meta, s"$layout")
      assert(mtime() === before, s"$layout: second ensure must not rebuild")
      assert(AnnIndex.readMeta(spark, root) === Some(meta),
        s"$layout: the parsed sidecar must equal the card ensure returned")
      // a missing sidecar certifies an incomplete commit → rebuild
      lakeFs.delete(sidecar.toString)
      assert(AnnIndex.readMeta(spark, root).isEmpty, s"$layout")
      assert(AnnIndex.ensure(spark, sf, layout) === meta, s"$layout")
      assert(AnnIndex.readMeta(spark, root) === Some(meta), s"$layout")
      // a knob the current rule would not derive (a re-pinned width)
      // invalidates the artifact like a version or corpus change does
      lakeFs.writeString(sidecar.toString, meta.copy(k = meta.k + 1).fields
        .map { case (key, v) => s""""$key":$v""" }.mkString("{", ",", "}"))
      assert(AnnIndex.readMeta(spark, root).map(_.k) === Some(meta.k + 1))
      assert(AnnIndex.ensure(spark, sf, layout) === meta, s"$layout")
      assert(AnnIndex.readMeta(spark, root) === Some(meta), s"$layout")
    }
  }

  test("staleness report covers every committed bucket and stamps the version") {
    val got = AnnIndex.stalenessReport(spark, sf).collect()
    val audit = AnnIndex.commitAudit(spark, sf, Layout.Flat).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.map(_.getLong(0)).toSet === audit.keySet)
    got.foreach { r =>
      assert(r.getLong(1) === audit(r.getLong(0))) // n_index = committed count
      assert(r.getLong(5) === AnnIndex.IndexVersion)
      assert(r.getLong(2) <= r.getLong(1)) // arrivals are a corpus subset
    }
    // the ≥0.9 split is ~10% of the corpus: some bucket must see arrivals
    assert(got.map(_.getLong(2)).sum > 0L)
  }

  test("indexRoot keys on the full corpus path, not the basename") {
    // two corpora sharing a basename must never share an artifact
    val a = AnnIndex.indexRoot(spark, "/tmp/graft_fp_a/sfX")
    val b = AnnIndex.indexRoot(spark, "/tmp/graft_fp_b/sfX")
    assert(a !== b)
  }

  test("a content change with the same row count invalidates the artifact") {
    // copy the corpus so we can touch it (testdata is read-only)
    val dir = java.nio.file.Files.createTempDirectory("graft-annfp").toString
    val src = java.nio.file.Paths.get(s"$sf/embeddings.parquet")
    val dst = java.nio.file.Paths.get(s"$dir/embeddings.parquet")
    if (java.nio.file.Files.isDirectory(src)) {
      java.nio.file.Files.createDirectories(dst)
      val ls = java.nio.file.Files.list(src)
      try ls.forEach(p =>
        java.nio.file.Files.copy(p, dst.resolve(p.getFileName.toString)))
      finally ls.close()
    } else java.nio.file.Files.copy(src, dst)
    val meta = AnnIndex.ensure(spark, dir, Layout.Flat)
    val lakeFs = graft.lake.LakeFs.forSpark(spark)
    val sidecar = s"${AnnIndex.indexRoot(spark, dir)}/_index_version.json"
    def mtime() = lakeFs.fs.getFileStatus(
      new org.apache.hadoop.fs.Path(sidecar)).getModificationTime
    val before = mtime()
    // same path, same row count, same layout version — but the file
    // metadata changed (a rewrite in place): must REBUILD, not serve stale
    val files = java.nio.file.Files.list(
      if (java.nio.file.Files.isDirectory(dst)) dst else dst.getParent)
    val one = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(_.toString.endsWith(".parquet")).next()
    } finally files.close()
    java.nio.file.Files.setLastModifiedTime(one,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000L))
    val meta2 = AnnIndex.ensure(spark, dir, Layout.Flat)
    assert(meta2.fp !== meta.fp, "fingerprint must track file metadata")
    assert(mtime() > before, "content change must trigger a rebuild")
  }

  test("refreshDecision: one arm per threshold regime") {
    assert(AnnIndex.refreshDecision(111111L, 200000L, 500000L) === "noop")
    assert(AnnIndex.refreshDecision(111111L, 50000L, 500000L) === "ingest")
    assert(AnnIndex.refreshDecision(111111L, 10000L, 50000L) === "rebuild")
    // boundary law: low inclusive-exclusive exactly as documented
    assert(AnnIndex.refreshDecision(49999L, 50000L, 500000L) === "noop")
    assert(AnnIndex.refreshDecision(50000L, 50000L, 500000L) === "ingest")
    assert(AnnIndex.refreshDecision(500000L, 50000L, 500000L) === "rebuild")
  }

  test("refresh policy walks all three arms and executes what it decides") {
    val got = AnnIndex.refreshPolicy(spark, sf, Layout.Flat).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet === Set("fresh", "stale", "drift"))
    assert(got("fresh").getString(1) === "noop")
    assert(got("stale").getString(1) === "ingest")
    assert(got("drift").getString(1) === "rebuild")
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    // noop leaves the base-only artifact; ingest and rebuild cover the corpus
    assert(got("fresh").getAs[Long]("n_members") < n)
    assert(got("stale").getAs[Long]("n_members") === n)
    assert(got("drift").getAs[Long]("n_members") === n)
    // rebuild re-derives knobs from the FULL corpus (≥ the base split's)
    assert(got("drift").getAs[Long]("nlist") >=
      got("stale").getAs[Long]("nlist"))
    // every row carries codes = members (the artifact invariant)
    got.values.foreach(r =>
      assert(r.getAs[Long]("n_codes") === r.getAs[Long]("n_members")))
  }

  test("repeated ingests do not accumulate files per bucket (wholesale swap)") {
    AnnIndex.fragmentationAudit(spark, sf).collect() // 3 waves committed
    val root = AnnIndex.indexRoot(spark, sf) + "_frag"
    val members = new java.io.File(s"$root/members")
    val perBucket = members.listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.nonEmpty)
    val cores = spark.sparkContext.defaultParallelism
    perBucket.foreach { case (b, nFiles) =>
      assert(nFiles <= cores + 1,
        s"$b holds $nFiles files after 3 waves — upsert must REPLACE a " +
          s"touched bucket's directory, never append to it (bound: tasks=$cores)")
    }
  }

  test("streaming ingest twin commits the exact q248 artifact") {
    val batchRows = rows(AnnIndex.ingest(spark, sf, Layout.Flat, "_inc", 900000L))
    val streamRows = rows(AnnIndex.streamingIngestCommit(spark, sf))
    assert(streamRows === batchRows,
      "multi-batch streamed upserts must land byte-identical to the batch ingest")
  }

  test("PQ'd rebalanced serve is row-identical to the live ADC twin; plan is clean") {
    assert(rows(AnnIndex.serveCodes(spark, sf, Layout.HierPq)) ===
      rows(Similarity.hierRebalancedAdcSearch(spark, sf)))
    AnnIndex.ensure(spark, sf, Layout.HierPq)
    val plan = AnnIndex.serveCodes(spark, sf, Layout.HierPq)
      .queryExecution.executedPlan.toString
    val low = plan.toLowerCase
    // zero corpus assignment of EITHER kind, candidates off committed
    // code rows, the corpus touched only for the filtered query subset
    assert(!low.contains("quantizedhierargmaxdot") &&
      !low.contains("quantizedargmaxdot"),
      s"PQ'd rebalanced serve must not assign the corpus:\n${plan.take(2000)}")
    assert(low.contains("graft_ann_index"),
      s"PQ'd rebalanced serve must scan the committed codes:\n${plan.take(2000)}")
    assert(plan.linesIterator.count(l =>
      l.contains("embeddings.pa") && !l.contains("% 100")) === 0,
      s"corpus scanned beyond the query subset:\n${plan.take(2000)}")
  }

  test("PQ'd rebalanced commit: members = codes per bucket, masses match q259's routing") {
    val audit = AnnIndex.commitAudit(spark, sf, Layout.HierPq).collect()
    audit.foreach { r =>
      assert(r.getAs[Long]("n_codes") === r.getAs[Long]("n_members"),
        s"bucket ${r.getLong(0)}: every member needs a code row")
      assert(r.getAs[Long]("k") >= Similarity.PqK)
    }
    // same routing as the members-only rebalanced artifact (q260)
    val rebal = AnnIndex.commitAudit(spark, sf, Layout.HierRebalanced).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audit.map(r => r.getLong(0) -> r.getAs[Long]("n_members")).toMap
      === rebal, "the PQ'd layout must commit EXACTLY the q259 routing")
  }

  test("capped production twin: identical routing, different width, clean serve plan") {
    val full = AnnIndex.commitAudit(spark, sf, Layout.HierPq).collect()
    val capped = AnnIndex.commitAudit(spark, sf, Layout.HierPqCapped).collect()
    def route(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      (r.getAs[Long]("bucket"), r.getAs[Long]("n_members"),
        r.getAs[Long]("vec_xor"))).toSet
    assert(route(capped) === route(full),
      "the capped layout must commit EXACTLY the q262 routing")
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    capped.foreach { r =>
      assert(r.getAs[Long]("k") === Similarity.pqKCappedFor(n).toLong)
      assert(r.getAs[Long]("k") !== full.head.getAs[Long]("k"),
        "the twin must grade a genuinely different width")
    }
    // serve ≡ live at the capped width (the q245≡q106 parity posture)
    assert(rows(AnnIndex.serveCodes(spark, sf, Layout.HierPqCapped)) ===
      rows(Similarity.hierCappedAdcSearch(spark, sf)))
    AnnIndex.ensure(spark, sf, Layout.HierPqCapped)
    val plan = AnnIndex.serveCodes(spark, sf, Layout.HierPqCapped)
      .queryExecution.executedPlan.toString
    val low = plan.toLowerCase
    assert(!low.contains("quantizedhierargmaxdot") &&
      !low.contains("quantizedargmaxdot"),
      s"capped serve must not assign the corpus:\n${plan.take(2000)}")
    assert(low.contains("graft_ann_index"),
      s"capped serve must scan a committed artifact:\n${plan.take(2000)}")
    // the plan string truncates scan locations — pin the layout root
    // through the actual input files instead
    assert(AnnIndex.serveCodes(spark, sf, Layout.HierPqCapped).inputFiles
      .exists(_.contains("hier2pqc")),
      "capped serve must read the CAPPED artifact's tables")
    assert(plan.linesIterator.count(l =>
      l.contains("embeddings.pa") && !l.contains("% 100")) === 0,
      s"corpus scanned beyond the query subset:\n${plan.take(2000)}")
  }

  test("capped hier-PQ refresh: four arms, codes ride every arm, rebuild is capped") {
    val got = AnnIndex.refreshPolicy(spark, sf, Layout.HierPqCapped).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet === Set("fresh", "stale", "hot", "drift"))
    assert(got("fresh").getString(1) === "noop")
    assert(got("stale").getString(1) === "ingest")
    assert(got("hot").getString(1) === "rebalance")
    assert(got("drift").getString(1) === "rebuild")
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(got("fresh").getAs[Long]("n_members") < n) // base only
    Seq("stale", "hot", "drift").foreach(s =>
      assert(got(s).getAs[Long]("n_members") === n, s"$s must cover the corpus"))
    // the code table advances with every arm — member/code parity
    got.values.foreach(r =>
      assert(r.getAs[Long]("n_codes") === r.getAs[Long]("n_members"),
        s"${r.getString(0)}: every member needs a code row"))
    // rebalance RE-KEYS, never recodes: mass must equal the ingest state's
    assert(got("hot").getAs[Long]("code_mass") ===
      got("stale").getAs[Long]("code_mass"),
      "the Lloyd step must not change a single code")
    // the rebuild arm builds at the CAPPED width — the priced decision
    // under the gate, never the N^1.5 derived width
    assert(got("drift").getAs[Long]("k") ===
      Similarity.pqKCappedFor(n).toLong)
    assert(got("drift").getAs[Long]("k") !== Similarity.pqKFor(n).toLong,
      "the capped rebuild must differ from the derived width at the gate")
  }

  test("hierRefreshDecision: one arm per signal regime") {
    assert(AnnIndex.hierRefreshDecision(111111L, 200000L, 500000L, 1L, 0L)
      === "noop") // growth gates first, skew irrelevant below low
    assert(AnnIndex.hierRefreshDecision(111111L, 50000L, 500000L, 1L,
      2000000L) === "ingest")
    assert(AnnIndex.hierRefreshDecision(111111L, 50000L, 500000L, 1L, 0L)
      === "rebalance")
    assert(AnnIndex.hierRefreshDecision(111111L, 10000L, 50000L, 1L, 0L)
      === "rebuild") // growth past high wins over skew
  }

  test("hier refresh policy walks all four arms and executes what it decides") {
    val got = AnnIndex.refreshPolicy(spark, sf, Layout.Hier).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet === Set("fresh", "stale", "hot", "drift"))
    assert(got("fresh").getString(1) === "noop")
    assert(got("stale").getString(1) === "ingest")
    assert(got("hot").getString(1) === "rebalance")
    assert(got("drift").getString(1) === "rebuild")
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(got("fresh").getAs[Long]("n_members") < n) // base only
    Seq("stale", "hot", "drift").foreach(s =>
      assert(got(s).getAs[Long]("n_members") === n, s"$s must cover the corpus"))
    // the rebalance arm must actually move routing: its witness differs
    // from the ingest state's (same members, different buckets → xor of
    // members unchanged, bucket count may differ; compare via skew drop)
    assert(got("drift").getAs[Long]("skew_pre_ppm") <=
      got("hot").getAs[Long]("skew_pre_ppm"),
      "the executed Lloyd step must not worsen the hottest-bucket share")
    // rebuild re-derives knobs from the FULL corpus
    assert(got("drift").getAs[Long]("nlist") >=
      got("stale").getAs[Long]("nlist"))
  }

  test("append-mode ingest: rows written ∝ arrivals, files per bucket bounded") {
    val waves = AnnIndex.appendAudit(spark, sf, Layout.FlatMembers, "_append").collect()
      .sortBy(_.getAs[Long]("wave"))
    assert(waves.length === 3)
    waves.foreach { r =>
      assert(r.getAs[Long]("rows_appended") === r.getAs[Long]("n_arrivals"),
        "append must write exactly the arrivals, never the kept rows")
      assert(r.getAs[Long]("max_files_bucket") <= AnnIndex.CompactFilesMax + 1,
        "file bound: compaction must fire past the threshold")
    }
    // amplification: waves without compaction are exactly 1.0 (10^6 ppm);
    // the compacting wave pays its amortized rewrite as its own column
    val noCompact = waves.filter(_.getAs[Long]("n_compact_buckets") === 0L)
    noCompact.foreach(r =>
      assert(r.getAs[Long]("write_amp_ppm") === 1000000L))
    // vs the wholesale-swap baseline (q250): every wave there rewrites
    // touched occupancy — the mitigated panel's total written rows must
    // be strictly below the q250 law's on the same wave shape
    val q250 = AnnIndex.fragmentationAudit(spark, sf).collect()
      .map(r => r.getAs[Long]("rows_rewritten")).sum
    val here = waves.map(r => r.getAs[Long]("rows_appended") +
      r.getAs[Long]("rows_compacted")).sum
    assert(here < q250,
      s"mitigation must write fewer rows than the wholesale swap ($here vs $q250)")
    // determinism / replay: a rerun rebuilds and lands the same panel
    val again = AnnIndex.appendAudit(spark, sf, Layout.FlatMembers, "_append").collect()
      .sortBy(_.getAs[Long]("wave"))
    assert(again.map(_.toString).toSeq === waves.map(_.toString).toSeq)
  }

  test("incremental ingest: base ∪ delta covers the corpus, codes ride along") {
    val audit = AnnIndex.ingest(spark, sf, Layout.Flat, "_inc", 900000L).collect()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    // every corpus vector is a committed member exactly once, every
    // member carries a code row, and the arrivals are the ≥0.9 split
    assert(audit.map(_.getLong(1)).sum === n)
    audit.foreach(r => assert(r.getLong(3) === r.getLong(1),
      s"bucket ${r.getLong(0)}: codes ${r.getLong(3)} != members ${r.getLong(1)}"))
    val arrivals = audit.map(_.getLong(5)).sum
    assert(arrivals > 0L && arrivals < n / 5)
    // base-derived knobs: the base split is smaller than the corpus, so
    // nlist/k derive from ITS count (≠ the full build's at this sf)
    val meta = AnnIndex.readMeta(spark, Layout.Flat.root(spark, sf))
    audit.foreach(r => assert(r.getLong(6) === AnnIndex.IndexVersion))
    assert(meta.exists(_.n === n) || meta.isEmpty) // full root untouched
  }

  test("append-oracle precondition: wave count cannot outrun the file bound") {
    // the q268/q270/q271 oracles model files/bucket as base + cumulative
    // touches with a compaction reset only at the final wave — exact
    // only while no bucket can exceed CompactFilesMax files earlier;
    // changing either constant must fail loudly, not drift the oracle
    assert(AnnIndex.FragWaves.length <= AnnIndex.CompactFilesMax)
    AnnIndex.requireNoEarlyCompaction() // must not throw at the pinned pair
  }

  test("hier-PQ ingest: base ∪ delta covers the corpus, codes ride every member") {
    val audit = AnnIndex.ingest(spark, sf, Layout.HierPq, "_inc", 900000L).collect()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(audit.map(_.getAs[Long]("n_members")).sum === n)
    audit.foreach { r =>
      assert(r.getAs[Long]("n_codes") === r.getAs[Long]("n_members"),
        s"bucket ${r.getLong(0)}: every member needs a code row")
      assert(r.getAs[Long]("index_version") === AnnIndex.IndexVersion)
      assert(r.getAs[Long]("k") >= Similarity.PqK)
      assert(r.getAs[Long]("ncoarse") >= 4L)
    }
    val arrivals = audit.map(_.getAs[Long]("n_arrived")).sum
    assert(arrivals > 0L && arrivals < n / 5)
    // at-least-once replay: reapplying the SAME arrival delta against
    // the committed artifact (model + codebook re-read from it) must
    // land the byte-identical panel — the anti-join idempotence the
    // 5-minute ticker's crash-and-rerun depends on
    val replay = AnnIndex.replayIngest(spark, sf, Layout.HierPq, "_inc", 900000L).collect()
    assert(replay.map(_.toString).toSet === audit.map(_.toString).toSet,
      "replayed delta must rewrite, never duplicate")
    // plan lock: the graded panel reads ONLY the committed tables —
    // no corpus scan, no assignment expression of either kind (all
    // routing/coding happened in the eager ingest, through the lease)
    val plan = AnnIndex.replayIngest(spark, sf, Layout.HierPq, "_inc", 900000L)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("graft_ann_index"),
      s"q269 panel must read the committed artifact:\n${plan.take(2000)}")
    assert(!plan.contains("quantizedhierargmaxdot") &&
      !plan.contains("quantizedargmaxdot"),
      s"q269 panel must not re-assign anything:\n${plan.take(2000)}")
    assert(!plan.contains("embeddings.pa"),
      s"q269 panel must not rescan the corpus:\n${plan.take(2000)}")
  }

  test("append-mode codes: both tables write ∝ arrivals, bounded files, mass grows") {
    val waves = AnnIndex.appendAudit(spark, sf, Layout.Flat, "_append2").collect()
      .sortBy(_.getAs[Long]("wave"))
    assert(waves.length === 3)
    waves.foreach { r =>
      assert(r.getAs[Long]("rows_appended") === r.getAs[Long]("n_arrivals"))
      assert(r.getAs[Long]("code_rows_appended") ===
        r.getAs[Long]("n_arrivals"),
        "the codes table must append exactly the arrivals too")
      assert(r.getAs[Long]("max_files_bucket") <= AnnIndex.CompactFilesMax + 1)
      assert(r.getAs[Long]("max_code_files_bucket") <=
        AnnIndex.CompactFilesMax + 1,
        "code files per bucket must obey the same compaction bound")
    }
    val noCompact = waves.filter(_.getAs[Long]("n_compact_buckets") === 0L)
    noCompact.foreach { r =>
      assert(r.getAs[Long]("write_amp_ppm") === 1000000L)
      assert(r.getAs[Long]("code_write_amp_ppm") === 1000000L)
    }
    // cumulative code mass over the committed table is nondecreasing
    // (appends only add coded rows; compaction rewrites, never drops)
    val masses = waves.map(_.getAs[Long]("code_mass_total"))
    assert(masses.zip(masses.tail).forall { case (a, b) => a <= b })
  }

  test("sparse tick: ≪1% arrivals, codes ride along, replay idempotent") {
    val audit = AnnIndex.ingest(spark, sf, Layout.HierPq, "_inc_sparse", 999000L).collect()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(audit.map(_.getAs[Long]("n_members")).sum === n)
    audit.foreach(r =>
      assert(r.getAs[Long]("n_codes") === r.getAs[Long]("n_members"),
        s"bucket ${r.getLong(0)}: every member needs a code row"))
    // the split that makes it a TICK: arrivals ≪ 1% of the corpus, so
    // touched buckets ≪ nlist (each arrival touches at most one)
    val arrivals = audit.map(_.getAs[Long]("n_arrived")).sum
    assert(arrivals > 0L && arrivals <= n / 100,
      s"sparse split must be ≪1% of the corpus ($arrivals of $n)")
    assert(audit.count(_.getAs[Long]("n_arrived") > 0L) <= arrivals,
      "touched buckets are bounded by the arrival count")
    // at-least-once replay of the sparse delta lands the identical panel
    val replay = AnnIndex.replayIngest(spark, sf, Layout.HierPq, "_inc_sparse",
      999000L).collect()
    assert(replay.map(_.toString).toSet === audit.map(_.toString).toSet,
      "replayed sparse tick must rewrite, never duplicate")
  }

  test("torn append self-heals: replay appends the missing code rows only") {
    // crash between the two appends → members ahead of codes; the
    // replayed wave must append ZERO members (anti-join vs members)
    // and exactly the torn count of codes (anti-join vs CODES, not
    // vs the members-derived fresh set — the r15 advice medium)
    val panel = AnnIndex.tornAppendReplayProbe(spark, sf).collect()
    val nTorn = panel.head.getAs[Long]("n_torn")
    assert(nTorn > 0L, "the torn wave must carry arrivals")
    assert(panel.head.getAs[Long]("replay_members_appended") === 0L,
      "replay must not duplicate the already-appended members")
    assert(panel.head.getAs[Long]("replay_codes_appended") === nTorn,
      "replay must heal the codes table with exactly the missing rows")
    panel.foreach(r =>
      assert(r.getAs[Long]("n_codes") === r.getAs[Long]("n_members"),
        s"bucket ${r.getLong(0)}: parity must be restored after replay"))
  }

  test("streaming append twin's final state matches the batch law") {
    val batch = AnnIndex.appendAudit(spark, sf, Layout.Flat, "_append2").collect()
      .sortBy(_.getAs[Long]("wave"))
    val panel = AnnIndex.streamingAppendIngest(spark, sf).collect()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(panel.map(_.getAs[Long]("n_members")).sum === n)
    assert(panel.map(_.getAs[Long]("n_members")).sum ===
      batch.last.getAs[Long]("n_total"),
      "stream and batch must commit the same final row count")
    panel.foreach { r =>
      assert(r.getAs[Long]("n_codes") === r.getAs[Long]("n_members"))
      assert(r.getAs[Long]("files_members") === r.getAs[Long]("files_codes"),
        "both tables ride the same append/compaction law")
      assert(r.getAs[Long]("files_members") <= AnnIndex.CompactFilesMax)
    }
    // total cumulative code mass equals the batch run's final reading —
    // the streamed appends coded with the same committed codebook
    assert(panel.map(_.getAs[Long]("code_mass")).sum ===
      batch.last.getAs[Long]("code_mass_total"))
  }
}
