package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.lake._
import graft.quality.DataQuality

/** End-to-end pipeline scenarios, porting the reference's manual e2e
  * script (`test_manual.sh` TEST 1–7) onto temp directories: normal flow,
  * idempotent re-run, fatal DQ quarantine, late-file partition rebuild.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  def fsOps = LakeFs.local()

  val goodCsv =
    """date,details,total_amount,wifi,cloud,siem
      |all-year-budget,budget,1000,400,350,250
      |2024-10,spent,100,40,30,30
      |2024-10,remaining,900,360,320,220
      |2024-11,spent,150,60,50,40
      |2024-11,remaining,750,300,270,180
      |total spent,spent,250,100,80,70
      |remaining,remaining,750,300,270,180""".stripMargin

  val badCsv = // null date row → fatal DQ → quarantine
    """date,details,total_amount,wifi,cloud,siem
      |,budget,1000,400,350,250
      |2024-10,spent,100,40,30,30""".stripMargin

  def setup(): (FinancePipeline, FinancePipeline.Config, LakeFs) = {
    val base = Files.createTempDirectory("graft-pipe").toString
    val cfg = FinancePipeline.Config(
      rawDir = s"$base/raw", stagingDir = s"$base/staging",
      curatedDir = s"$base/curated", versionsRoot = s"$base/versions",
      keepVersions = 2)
    val fs = fsOps
    fs.mkdirs(cfg.rawDir)
    (new FinancePipeline(spark, fs, cfg), cfg, fs)
  }

  def putCsv(fs: LakeFs, cfg: FinancePipeline.Config, year: Int,
      name: String, content: String): String = {
    val p = s"${cfg.rawDir}/year=$year/$name"
    fs.writeString(p, content)
    p
  }

  test("normal flow: wide + long committed, markers + version written") {
    val (pipe, cfg, fs) = setup()
    val f = putCsv(fs, cfg, 2024, "finance_2024.csv", goodCsv)
    val results = pipe.run()
    assert(results.map(r => (r.year, r.committed)) == Seq((2024, true)))
    assert(fs.exists(f + ".done"))
    val wide = spark.read.parquet(s"${cfg.stagingDir}/year=2024")
    assert(wide.count() == 7)
    val long = spark.read.parquet(s"${cfg.curatedDir}/year=2024")
    // 5 kept rows (4 months + sentinel) × 3 amount columns, all non-null
    assert(long.count() == 15)
    assert(long.columns.sorted.toSeq ==
      Seq("amount", "category", "date", "details", "year"))
    // golden quick-stats on the long table (reference §3.3)
    import org.apache.spark.sql.functions._
    val budget = long.filter(col("details") === "budget" &&
      col("date") === "all-year-budget")
      .agg(sum("amount")).collect()(0).getDouble(0)
    assert(budget == 1000.0)
    assert(pipe.run().isEmpty, "re-run must be a no-op (idempotence)")
    val versions = new Versioning(fs, spark, cfg.versionsRoot).list(2024)
    assert(versions.size == 1)
  }

  test("fatal DQ failure quarantines the file and loads nothing") {
    val (pipe, cfg, fs) = setup()
    val f = putCsv(fs, cfg, 2023, "finance_2023.csv", badCsv)
    val results = pipe.run()
    assert(results.map(r => (r.year, r.committed)) == Seq((2023, false)))
    assert(fs.exists(f + ".failed"))
    assert(!fs.exists(s"${cfg.stagingDir}/year=2023"))
    assert(pipe.run().isEmpty, "failed file must never be retried")
  }

  test("late file re-triggers the year's partition rebuild") {
    val (pipe, cfg, fs) = setup()
    putCsv(fs, cfg, 2024, "finance_2024.csv", goodCsv)
    assert(pipe.run().head.committed)
    // new file lands later in the same year dir
    putCsv(fs, cfg, 2024, "finance_2024_fix.csv", goodCsv)
    val second = pipe.run()
    assert(second.map(_.year) == Seq(2024))
    // partition rebuilt from the pending file only (reference T4 semantics)
    assert(spark.read.parquet(s"${cfg.stagingDir}/year=2024").count() == 7)
  }

  test("runForever: two ticks, late file lands in tick 2, catchup-off pacing") {
    val (pipe, cfg, fs) = setup()
    putCsv(fs, cfg, 2024, "finance_2024.csv", goodCsv)
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val perTick = scala.collection.mutable.ArrayBuffer.empty[Seq[(Int, Boolean)]]
    pipe.runForever(
      intervalMs = 60000L,
      maxTicks = 3,
      sleeper = sleeps += _,
      onTick = (tick, results) => {
        perTick += results.map(r => (r.year, r.committed))
        // the late file lands while the loop sleeps after tick 0
        if (tick == 0L)
          putCsv(fs, cfg, 2024, "finance_2024_late.csv", goodCsv)
      })
    // tick 0 ingests the initial file; tick 1 picks up ONLY the late
    // file (ledger-incremental, nothing re-done); tick 2 is a no-op
    assert(perTick.toSeq == Seq(
      Seq((2024, true)), Seq((2024, true)), Seq.empty))
    // catchup-off pacing: one sleep between consecutive ticks, each at
    // most the interval (cycle time subtracted, never negative)
    assert(sleeps.size == 2)
    assert(sleeps.forall(s => s > 0 && s <= 60000L))
    // the rebuild left exactly one committed partition (late file only)
    assert(spark.read.parquet(s"${cfg.stagingDir}/year=2024").count() == 7)
  }

  test("q168 incremental audit: merged key-counts certify against full recompute") {
    import org.apache.spark.sql.functions._
    val out = DataQuality.incrementalReferentialAudit(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[Boolean]("matches_full")),
      "base ⊕ delta audit must equal the full recompute on every edge")
    // the stale-dim edge must actually exercise the orphan branch
    val staleEdge = out.find(_.getString(0) == "orders->customer_stale").get
    assert(staleEdge.getAs[Long]("orphan_rows") > 0L)
    // the split is orthogonal to the FK: some keys must appear in BOTH
    // base and delta, or the per-key count merge was never exercised
    import graft.operators.Incremental.DeltaMod
    val orders = graft.sources.Tables.orders(spark, "/root/testdata/sf0.001")
    val both = orders.groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderkey") % DeltaMod === 0L).as("sides"))
      .filter(col("sides") === 2L).count()
    assert(both > 0L, "no FK value spans base and delta — merge untested")
  }

  test("task DAG: retry/failure/success callback matrix and downstream skip") {
    // transient failure: fails twice, succeeds on attempt 3 (retries=2)
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val cb = TaskDag.Callbacks(
      onRetry = (t, a) => events += s"retry:$t:$a",
      onFailure = (t, a, _) => events += s"fail:$t:$a",
      onSuccess = (t, a) => events += s"ok:$t:$a")
    var flakyRuns = 0
    val runs = TaskDag.runSequence(Seq(
      "a" -> (() => ()),
      "b" -> (() => { flakyRuns += 1; if (flakyRuns < 3) sys.error("boom") }),
      "c" -> (() => ())),
      retries = 2, callbacks = cb)
    assert(events.toSeq == Seq(
      "ok:a:1", "retry:b:1", "retry:b:2", "ok:b:3", "ok:c:1"))
    assert(runs.map(r => (r.taskId, r.attempts, r.succeeded)) ==
      Seq(("a", 1, true), ("b", 3, true), ("c", 1, true)))

    // permanent failure: retries exhausted, downstream skipped, delay
    // slept once per retry
    events.clear()
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val runs2 = TaskDag.runSequence(Seq(
      "a" -> (() => sys.error("always")),
      "b" -> (() => events += "must-not-run")),
      retries = 1, retryDelayMs = 5000L, sleep = sleeps += _, callbacks = cb)
    assert(events.toSeq == Seq("retry:a:1", "fail:a:2"))
    assert(sleeps.toSeq == Seq(5000L))
    assert(runs2.map(r => (r.taskId, r.skipped, r.error.isDefined)) ==
      Seq(("a", false, true), ("b", true, true)))
    assert(runs2(1).error.contains("upstream_failed") && runs2(1).attempts == 0)
  }

  test("dagTick: reference task chain end-to-end, success summary fired") {
    val alerts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val base = Files.createTempDirectory("graft-dag").toString
    val cfg = FinancePipeline.Config(
      rawDir = s"$base/raw", stagingDir = s"$base/staging",
      curatedDir = s"$base/curated", versionsRoot = s"$base/versions")
    val fs = fsOps
    fs.mkdirs(cfg.rawDir)
    val pipe = new FinancePipeline(spark, fs, cfg, (s, b) => alerts += ((s, b)))
    putCsv(fs, cfg, 2024, "finance_2024.csv", goodCsv)
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val cb = TaskDag.Callbacks(
      onRetry = (t, a) => events += s"retry:$t:$a",
      onFailure = (t, a, _) => events += s"fail:$t:$a",
      onSuccess = (t, _) => events += s"ok:$t")
    val (runs, results) = pipe.dagTick(cb)
    assert(runs.map(r => (r.taskId, r.succeeded)) == Seq(
      ("wait_for_raw_file", true), ("run_spark_pipeline", true),
      ("notify_success", true)))
    assert(events.toSeq == Seq(
      "ok:wait_for_raw_file", "ok:run_spark_pipeline", "ok:notify_success"))
    assert(results.map(r => (r.year, r.committed)) == Seq((2024, true)))
    assert(alerts.exists { case (s, b) =>
      s == "pipeline success" && b.contains("committed=1") })
  }

  test("dagTick: injected step failure — retry recovers, or downstream skips") {
    val alerts = scala.collection.mutable.ArrayBuffer.empty[String]
    val base = Files.createTempDirectory("graft-dag-fail").toString
    val cfg = FinancePipeline.Config(
      rawDir = s"$base/raw", stagingDir = s"$base/staging",
      curatedDir = s"$base/curated", versionsRoot = s"$base/versions")
    val fs = fsOps
    // raw dir deliberately missing → wait_for_raw_file fails
    val pipe = new FinancePipeline(spark, fs, cfg, (s, _) => alerts += s)
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val cb = TaskDag.Callbacks(
      onRetry = (t, a) => events += s"retry:$t:$a",
      onFailure = (t, a, _) => events += s"fail:$t:$a",
      onSuccess = (t, _) => events += s"ok:$t")

    // permanent: probe fails through all attempts, chain skips, no
    // success summary
    val (runs, results) = pipe.dagTick(cb, retries = 1)
    assert(runs.map(r => (r.taskId, r.succeeded, r.skipped)) == Seq(
      ("wait_for_raw_file", false, false), ("run_spark_pipeline", false, true),
      ("notify_success", false, true)))
    assert(events.toSeq == Seq(
      "retry:wait_for_raw_file:1", "fail:wait_for_raw_file:2"))
    assert(results.isEmpty && !alerts.contains("pipeline success"))

    // transient: the landing zone appears DURING the retry delay —
    // attempt 2 of the probe succeeds and the whole chain completes
    events.clear()
    val (runs2, results2) = pipe.dagTick(cb, retries = 2,
      retryDelayMs = 1000L,
      sleep = _ => putCsv(fs, cfg, 2024, "finance_2024.csv", goodCsv))
    assert(runs2.map(r => (r.taskId, r.succeeded)) == Seq(
      ("wait_for_raw_file", true), ("run_spark_pipeline", true),
      ("notify_success", true)))
    assert(events.toSeq == Seq("retry:wait_for_raw_file:1",
      "ok:wait_for_raw_file", "ok:run_spark_pipeline", "ok:notify_success"))
    assert(results2.map(r => (r.year, r.committed)) == Seq((2024, true)))
    assert(alerts.contains("pipeline success"))
  }

  test("DQ gate severities match the reference matrix") {
    import spark.implicits._
    val good = Seq(
      ("all-year-budget", "budget", 100.0, 60.0, 40.0),
      ("2024-10", "remaining", 90.0, 50.0, 40.0),
      ("2024-11", "remaining", 95.0, 55.0, 40.0) // increase → warning only
    ).toDF("date", "details", "total_amount", "a", "b")
    val report = DataQuality.run(good,
      Seq("date", "details", "total_amount", "a", "b"),
      Seq("date", "details"), "total_amount", Seq("a", "b"))
    assert(!report.fatalFailed)
    assert(report.warnings.map(_.name) == Seq("monotonic/remaining"))

    val badDate = Seq(("13/2024", "spent", 10.0, 10.0, 0.0))
      .toDF("date", "details", "total_amount", "a", "b")
    assert(DataQuality.run(badDate,
      Seq("date", "details", "total_amount", "a", "b"),
      Seq("date", "details"), "total_amount", Seq("a", "b")).fatalFailed)

    val offTotal = Seq(("2024-10", "spent", 200.0, 10.0, 10.0))
      .toDF("date", "details", "total_amount", "a", "b")
    val r3 = DataQuality.run(offTotal,
      Seq("date", "details", "total_amount", "a", "b"),
      Seq("date", "details"), "total_amount", Seq("a", "b"))
    assert(!r3.fatalFailed)
    assert(r3.warnings.map(_.name) == Seq("tolerance/total-amount"))
  }

  /** The gate's fixtures, by name. Every frame has the pipeline's shape
    * (ids `date`/`details`, `total_amount`, amounts `a`/`b`) unless the
    * fixture is about the shape itself. The clean and header-only ones
    * are CSV files read as the pipeline reads them; the rest are
    * in-memory variants of the clean rows.
    */
  def dqFixtures(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import spark.implicits._
    val cols = Seq("date", "details", "total_amount", "a", "b")
    val clean = Seq(
      ("all-year-budget", "budget", 1000.0, 600.0, 400.0),
      ("2024-10", "spent", 100.0, 60.0, 40.0),
      ("2024-10", "remaining", 900.0, 540.0, 360.0),
      ("2024-11", "spent", 150.0, 90.0, 60.0),
      ("2024-11", "remaining", 750.0, 450.0, 300.0),
      ("total spent", "spent", 250.0, 150.0, 100.0),
      ("remaining", "remaining", 750.0, 450.0, 300.0))
    val (pipe, _, _) = setup()
    def csv(name: String, rows: Seq[Product]): org.apache.spark.sql.DataFrame = {
      val f = Files.createTempDirectory("graft-dq").resolve(name)
      Files.write(f, (cols +: rows.map(_.productIterator.toSeq))
        .map(_.mkString(",")).mkString("", "\n", "\n").getBytes("UTF-8"))
      pipe.readWideCsv(Seq(f.toString), 2024).drop("year")
    }
    Seq(
      "clean" -> csv("clean.csv", clean),
      "null id" -> (clean :+ (("2024-12", null, 50.0, 30.0, 20.0)) :+
        ((null, "spent", 10.0, 5.0, 5.0))).toDF(cols: _*),
      "bad date" -> (clean ++ Seq(("13/2024", "spent", 10.0, 10.0, 0.0),
        ("2024/12", "spent", 10.0, 10.0, 0.0),
        ("13/2024", "spent", 20.0, 20.0, 0.0))).toDF(cols: _*),
      "off total" -> (clean :+ (("2024-12", "spent", 200.0, 10.0, 10.0)))
        .toDF(cols: _*),
      "non-monotonic" -> (clean :+ (("2024-12", "remaining", 800.0, 480.0,
        320.0))).toDF(cols: _*).withColumn("note",
          org.apache.spark.sql.functions.lit("x")),
      "header-only" -> csv("empty.csv", Nil),
      "missing column" -> clean.toDF(cols: _*).drop("b"))
  }

  def runGate(df: org.apache.spark.sql.DataFrame): DataQuality.Report =
    DataQuality.run(df, Seq("date", "details", "total_amount", "a", "b"),
      Seq("date", "details"), "total_amount", Seq("a", "b"))

  test("DQ gate reports equal the unfused gate's on every fixture, in at " +
      "most 4 jobs when clean") {
    import DataQuality.{CheckResult => R, Fatal, Warning}
    val schemaOk = Seq(R("schema/missing-columns", Fatal, true, Nil),
      R("schema/extra-columns", Warning, true, Nil))
    def rowChecks(nulls: Seq[String] = Nil, dates: Seq[String] = Nil,
        totals: Seq[String] = Nil, monotonic: Seq[String] = Nil) = Seq(
      R("nulls/id-columns", Fatal, nulls.isEmpty, nulls),
      R("format/date", Fatal, dates.isEmpty, dates),
      R("tolerance/total-amount", Warning, totals.isEmpty, totals),
      R("monotonic/remaining", Warning, monotonic.isEmpty, monotonic))
    val pass = "[PASS] schema/missing-columns\n[PASS] schema/extra-columns\n"
    // (results, render), recorded from the gate before its checks were fused
    val recorded = Map(
      "clean" -> (schemaOk ++ rowChecks(),
        pass + "[PASS] nulls/id-columns\n[PASS] format/date\n" +
          "[PASS] tolerance/total-amount\n[PASS] monotonic/remaining"),
      "null id" -> (schemaOk ++ rowChecks(nulls = Seq("date has 1 nulls",
        "details has 1 nulls")),
        pass + "[FATAL] nulls/id-columns: date has 1 nulls; details has 1 " +
          "nulls\n[PASS] format/date\n[PASS] tolerance/total-amount\n" +
          "[PASS] monotonic/remaining"),
      "bad date" -> (schemaOk ++ rowChecks(dates = Seq(
        "bad date value: '13/2024'", "bad date value: '2024/12'")),
        pass + "[PASS] nulls/id-columns\n[FATAL] format/date: bad date " +
          "value: '13/2024'; bad date value: '2024/12'\n" +
          "[PASS] tolerance/total-amount\n[PASS] monotonic/remaining"),
      "off total" -> (schemaOk ++ rowChecks(totals = Seq(
        "2024-12: declared=200.0 computed=20.0")),
        pass + "[PASS] nulls/id-columns\n[PASS] format/date\n[WARN] " +
          "tolerance/total-amount: 2024-12: declared=200.0 computed=20.0\n" +
          "[PASS] monotonic/remaining"),
      "non-monotonic" -> (Seq(schemaOk.head,
        R("schema/extra-columns", Warning, false, Seq("extra: note"))) ++
        rowChecks(monotonic = Seq("2024-12: 750.0 -> 800.0 increased")),
        "[PASS] schema/missing-columns\n[WARN] schema/extra-columns: " +
          "extra: note\n[PASS] nulls/id-columns\n[PASS] format/date\n" +
          "[PASS] tolerance/total-amount\n[WARN] monotonic/remaining: " +
          "2024-12: 750.0 -> 800.0 increased"),
      "header-only" -> (schemaOk :+
        R("rows/non-empty", Fatal, false, Seq("no data rows")),
        pass + "[FATAL] rows/non-empty: no data rows"),
      "missing column" -> (Seq(
        R("schema/missing-columns", Fatal, false, Seq("missing: b")),
        schemaOk(1)),
        "[FATAL] schema/missing-columns: missing: b\n" +
          "[PASS] schema/extra-columns"))
    val fixtures = dqFixtures()
    assert(fixtures.map(_._1).toSet == recorded.keySet)
    fixtures.foreach { case (name, df) =>
      val report = runGate(df)
      assert(report.results == recorded(name)._1, name)
      assert(report.render == recorded(name)._2, name)
    }

    // jobs launched by the gate on the clean fixture, counted by job
    // group; a marker job flushes the listener queue (FIFO) before reading
    val sc = spark.sparkContext
    val gateJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("dq-gate") => gateJobs.incrementAndGet()
          case Some("dq-marker") => markerSeen.countDown()
          case _ => ()
        }
    }
    val clean = fixtures.head._2
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("dq-gate", "DQ gate, clean fixture")
      assert(!runGate(clean).fatalFailed)
      sc.setJobGroup("dq-marker", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(gateJobs.get >= 1 && gateJobs.get <= 4,
      s"gate launched ${gateJobs.get} jobs on the clean fixture")
  }

  test("monotonic check windows per year: budget reset at the year " +
      "boundary is not a violation, an in-year increase still is") {
    import spark.implicits._
    // 2023 decreases cleanly; 2024 opens higher (new budget) — fine
    val reset = Seq(
      ("2023-11", "remaining", 200.0, 100.0, 100.0),
      ("2023-12", "remaining", 150.0, 75.0, 75.0),
      ("2024-01", "remaining", 900.0, 450.0, 450.0),
      ("2024-02", "remaining", 850.0, 425.0, 425.0)
    ).toDF("date", "details", "total_amount", "a", "b")
    assert(DataQuality.checkRemainingMonotonic(reset).passed,
      "cross-year increase must not warn")
    // same data plus an in-year increase in 2024 — must still warn
    val inYear = reset.union(Seq(
      ("2024-03", "remaining", 870.0, 435.0, 435.0)
    ).toDF("date", "details", "total_amount", "a", "b"))
    val r = DataQuality.checkRemainingMonotonic(inYear)
    assert(!r.passed && r.messages.exists(_.contains("2024-03")))
  }

  test("q149 edge audit counts orphans and coverage exactly (brute-forced)") {
    import spark.implicits._
    // child references keys 1..6 (5 twice, 6 three times); parent holds
    // 1..4 and two dead members 8, 9 → orphan rows {5,5,6,6,6},
    // orphan keys {5,6}, unreferenced {8,9}
    val child = Seq(1L, 2L, 3L, 4L, 5L, 5L, 6L, 6L, 6L).toDF("k")
    val parent = Seq(1L, 2L, 3L, 4L, 8L, 9L).toDF("pk")
    val r = DataQuality.edgeAudit("t", child, "k", parent, "pk").head()
    assert(r.getAs[Long]("n_rows") == 9L)
    assert(r.getAs[Long]("n_keys") == 6L)
    assert(r.getAs[Long]("orphan_rows") == 5L)
    assert(r.getAs[Long]("orphan_keys") == 2L)
    assert(r.getAs[Long]("orphan_ppm") == 5L * 1000000L / 9L)
    assert(r.getAs[Long]("unref_parent") == 2L)
    // null child keys are excluded from the audit, not counted as orphans
    val withNull = child.union(Seq[Option[Long]](None).toDF("k"))
    val r2 = DataQuality.edgeAudit("t", withNull, "k", parent, "pk").head()
    assert(r2.getAs[Long]("n_rows") == 9L &&
      r2.getAs[Long]("orphan_rows") == 5L)
  }

  test("q149 full audit: stale-dim edges orphan, live edges certify clean") {
    val rows = DataQuality.referentialAudit(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getAs[String]("edge") -> r).toMap
    assert(rows.keySet.size == 5)
    // the late-arriving-dimension scenario produces real orphans on the
    // orders edge (custkeys above the 90% cut)
    assert(rows("orders->customer_stale").getAs[Long]("orphan_rows") > 0)
    // live schema edges are referentially clean
    assert(rows("customer->nation").getAs[Long]("orphan_rows") == 0)
    assert(rows("nation->region").getAs[Long]("orphan_rows") == 0)
    assert(rows("lineitem->orders").getAs[Long]("orphan_rows") == 0)
  }
}
