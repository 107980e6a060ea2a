package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.ReentrantLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.lake.{Catalog, FinancePipeline, LakeFs}
import graft.serving.{SqlGuard, ThriftServing}

/** One benchmark run: `--workload <dashboard|tick|batch> --seed <n>
  * --seconds <s> --trace <0|1> --out <dir>`. Builds its inputs from the
  * seed inside `--out`, measures, checks every answer, and writes the
  * raw samples to `<out>/run.json` (and, traced, the spans to
  * `<out>/spans.jsonl`). `run.py` turns those into metrics.
  */
object Main {
  /** Set-up repetitions per run; `setup_s` reports their median. One,
    * because a data set-up costs up to 15 s on 4 cores and a full
    * comparison of 70 runs must fit in under an hour; `setup_s` is
    * compared as a median of runs.
    */
  val SetupReps = 1

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: String)

  /** What a run reports back (all times already in their final unit).
    * An operation that errors is failed; one that returns a wrong answer
    * (or fails a check) is failed and makes the run incorrect.
    */
  final class Record {
    val fields = mutable.LinkedHashMap.empty[String, Any]
    val failures = new ConcurrentLinkedQueue[String]()
    @volatile var attempted = 0L
    @volatile var failed = 0L
    @volatile var wrong = 0L
    def fail(msg: String): Unit = synchronized {
      failed += 1
      if (failures.size < 25) failures.add(msg.take(400))
    }
    /** A wrong answer is always listed, even past the cap on errors. */
    def wrongAnswer(msg: String): Unit = synchronized {
      wrong += 1
      failed += 1
      if (wrong <= 25) failures.add(s"WRONG $msg".take(400))
    }
    def attempt(): Unit = synchronized { attempted += 1 }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Record
    val out = a.out
    def sub(d: String) = { val p = s"$out/$d"; new java.io.File(p).mkdirs(); p }
    val cpus = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = timed {
      val b = GraftSession.builder(s"local[$cpus]", cpus)
        .config("spark.sql.warehouse.dir", sub("warehouse"))
        .config("spark.local.dir", sub("spark-local"))
        .config("spark.hadoop.hive.exec.scratchdir", sub("hive/scratch"))
        .config("spark.hadoop.hive.exec.local.scratchdir", sub("hive/local"))
        .config("spark.hadoop.hive.downloaded.resources.dir", sub("hive/resources"))
        .config("spark.hadoop.hive.server2.logging.operation.log.location", sub("hive/oplog"))
        .config("spark.hadoop.hive.querylog.location", sub("hive/querylog"))
      if (a.trace) b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      if (a.trace) s.sparkContext.addSparkListener(new BenchListener)
      // absorb session and codegen warm-up before anything is timed, as Bench does
      s.range(1000000L).selectExpr("sum(id)").collect()
      s
    }
    rec.fields("workload") = a.workload
    rec.fields("seed") = a.seed
    rec.fields("cpus") = cpus
    rec.fields("session_s") = sessionS
    try a.workload match {
      case "dashboard" => new DashboardRun(spark, a, rec).run(sessionS)
      case "tick" => new TickRun(spark, a, rec).run(sessionS)
      case "batch" => new BatchRun(spark, a, rec).run(sessionS)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        rec.fail(s"run aborted: $e")
        rec.fields("aborted") = e.toString
        e.printStackTrace()
    }
    rec.fields("attempted") = rec.attempted
    rec.fields("failed") = rec.failed
    rec.fields("wrong") = rec.wrong
    rec.fields("failures") = rec.failures.asScala.toSeq
    if (a.trace) {
      rec.fields("counts") = Trace.counts
      Trace.writeJsonl(s"$out/spans.jsonl")
    }
    Files.write(Paths.get(s"$out/run.json"),
      Json.obj(rec.fields.toSeq).getBytes(StandardCharsets.UTF_8))
    // no spark.stop(): run.py deletes the run directory, and the Thrift
    // server leaves non-daemon threads behind that would keep the JVM up
    Runtime.getRuntime.halt(0)
  }

  /** Used heap after an explicit GC, in MB: the least of three GCs, so
    * garbage that background threads make between them does not count.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }

  /** The traced run measures four segments, untraced-traced-traced-
    * untraced, so a warm-up trend cancels out of `trace.overhead_frac`.
    */
  def tracedSegment(i: Int): Boolean = i == 1 || i == 2

  private val windows = mutable.ArrayBuffer.empty[Seq[Long]]
  private val deltas = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Runs `body` traced; its interval and counter deltas are added to the
    * run's traced windows, for `layers.py`.
    */
  def traceWindow[T](rec: Record)(body: => T): T = {
    val before = Counters.snapshot()
    val start = Trace.nowUs
    Trace.enabled = true
    try body
    finally {
      Trace.enabled = false
      val after = Counters.snapshot()
      windows += Seq(start, Trace.nowUs)
      after.foreach { case (k, v) => deltas(k) += v - before(k) }
      rec.fields("trace_windows_us") = windows.toSeq
      rec.fields("counter_deltas") = deltas.toMap
      rec.fields("codegen_compile_mean_ms") = after("codegen.compile_mean_ms")
    }
  }
}

/** A HiveServer2 JDBC client of the engine's Thrift endpoint. */
final class Client(url: String) extends AutoCloseable {
  Class.forName("org.apache.hive.jdbc.HiveDriver")
  private val conn: Connection = {
    var last: Throwable = null
    // the endpoint's services come up asynchronously after start returns
    val c = Iterator.range(0, 40).map { _ =>
      try Some(DriverManager.getConnection(url, "anonymous", ""))
      catch { case e: Throwable => last = e; Thread.sleep(250); None }
    }.collectFirst { case Some(x) => x }
    c.getOrElse(throw last)
  }

  /** Runs `sql` and fetches every row, each cell as `String.valueOf`. */
  def rows(sql: String): Seq[Seq[String]] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val b = Vector.newBuilder[Seq[String]]
      while (rs.next()) b += (1 to n).map(j => String.valueOf(rs.getObject(j)))
      b.result()
    } finally st.close()
  }

  override def close(): Unit = conn.close()
}

/** The finance lake the dashboard and tick workloads serve: raw zone,
  * staged wide table, curated long table, versions; registered as the
  * catalog tables `fin_wide` and `fin_long`.
  */
final class FinanceLake(spark: SparkSession, root: String, traced: Boolean,
    alerts: () => Unit) {
  val cfg = FinancePipeline.Config(rawDir = s"$root/raw", stagingDir = s"$root/staging",
    curatedDir = s"$root/curated", versionsRoot = s"$root/versions")
  val fs: LakeFs =
    if (traced) new LakeFs(new CountingFs(LakeFs.local().fs)) else LakeFs.local()
  val pipeline = new FinancePipeline(spark, fs, cfg, (_, _) => alerts())
  val model = new FinanceModel
  fs.mkdirs(cfg.rawDir)

  /** Lands a file in the raw zone; returns the wall time it was written. */
  def land(f: FinanceGen.RawFile): Long = {
    val p = Paths.get(s"${cfg.rawDir}/year=${f.year}/${f.name}")
    Files.createDirectories(p.getParent)
    Files.write(p, f.csv.getBytes(StandardCharsets.UTF_8))
    model.land(f.year, p.toString, f.csv)
    Trace.nowUs
  }

  /** Lands a file as already ingested (its `.done` marker beside it). */
  def archive(f: FinanceGen.RawFile): Unit = {
    val p = Paths.get(path(f))
    Files.createDirectories(p.getParent)
    Files.write(p, f.csv.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(path(f) + ".done"), Array.emptyByteArray)
  }

  def path(f: FinanceGen.RawFile): String = s"${cfg.rawDir}/year=${f.year}/${f.name}"

  def register(): Unit = {
    Catalog.registerPartitionedParquet(spark, "fin_long", cfg.curatedDir)
    Catalog.registerPartitionedParquet(spark, "fin_wide", cfg.stagingDir)
  }

  /** Curated rows of `year` as the engine committed them, sorted. */
  def curated(year: Int): Seq[String] = {
    val dir = s"${cfg.curatedDir}/year=$year"
    if (!new java.io.File(dir).exists()) Nil
    else spark.read.parquet(dir).select("date", "details", "category", "amount").collect()
      .map(r => FinanceModel.answer(Seq(Seq(r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3).toString)))).toSeq.sorted
  }

  def modelCurated(year: Int): Seq[String] =
    model.committed.get(year).toSeq.flatMap(_.long)
      .map(r => FinanceModel.answer(Seq(Seq(r.date, r.details, r.category, r.amount.toString))))
      .sorted

  /** The pipeline's year results must match the model's. */
  def checkResults(rec: Main.Record, got: Seq[FinancePipeline.YearResult],
      want: Seq[(Int, Boolean)], what: String): Unit = {
    val g = got.map(r => r.year -> r.committed)
    if (g != want) rec.wrongAnswer(s"$what: pipeline results $g, model $want")
  }
}

/** Shared by the two workloads that serve the finance lake over JDBC. */
abstract class ServingRun(spark: SparkSession, a: Main.Args, rec: Main.Record) {
  import Main._

  protected def newLake(root: String): FinanceLake =
    new FinanceLake(spark, root, a.trace, () => Trace.count("lake.alerts"))

  protected val firstYear = 2000

  /** Files per landed year (an assumption: the reference lands yearly
    * files but its upload cadence is not recorded).
    */
  protected val FilesPerYear = 4

  protected var endpoint: ThriftServing.Endpoint = _

  /** Set-up: `SetupReps` data set-ups in fresh roots (median reported),
    * then the Thrift endpoint once.
    */
  protected def setup(sessionS: Double, dataSetup: Int => Double): Unit = {
    val reps = (0 until SetupReps).map(dataSetup)
    val (_, thriftS) = timed {
      endpoint = ThriftServing.start(spark, port = 0)
      val c = new Client(endpoint.jdbcUrl)
      try c.rows("SELECT 1") finally c.close()
    }
    rec.fields("setup_reps_s") = reps
    rec.fields("thrift_s") = thriftS
    rec.fields("setup_s") = sessionS + thriftS + median(reps)
  }
}

object DashboardRun {
  /** A slot of the request cycle. */
  sealed trait Slot
  final case class Sidebar(t: Dashboard.Template, render: Int) extends Slot
  final case class Chat(n: Int) extends Slot
  case object AnalystQuery extends Slot
}

/** `dashboard`: 2 closed-loop JDBC clients, no think time. */
final class DashboardRun(spark: SparkSession, a: Main.Args, rec: Main.Record)
    extends ServingRun(spark, a, rec) {
  import Main._
  import Dashboard._
  import DashboardRun._

  /** Two, not four: with four, the clients and Spark's four task slots
    * oversubscribe 4 cores, and the closed-loop metrics tracked the host's
    * speed (on a shared 4-vCPU VM, spreads up to 0.25 over 10 seeds,
    * against 0.07-0.11 with two).
    */
  val Clients = 2
  val AnalystSf = 0.02
  /** Years of the lake, landed and processed by the pipeline in set-up. */
  val LakeYears: Seq[Int] = firstYear until firstYear + 4
  private var lake: FinanceLake = _

  /** Analyst SQL over the generated relational tables, in the shapes of
    * the engine's Thrift parity slice; answers are checked against the
    * in-process result of the same SQL.
    */
  val Analyst: Seq[String] = Seq(
    """SELECT l_orderkey, l_linenumber FROM (
      |  SELECT l_orderkey, l_linenumber, row_number() OVER (
      |    PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) rn
      |  FROM lineitem_t) WHERE rn = 1
      |ORDER BY l_orderkey LIMIT 50""".stripMargin,
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(l_quantity * 100) AS BIGINT) AS q_c
      |FROM lineitem_t GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid, count(*) AS n
      |FROM orders_t
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    """SELECT n_name, count(*) AS n, CAST(sum(c_acctbal * 100) AS BIGINT) AS bal_c
      |FROM customer_t JOIN nation_t ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin,
    """SELECT o_custkey, o_orderkey,
      |  lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_k,
      |  CAST(sum(o_totalprice * 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_c
      |FROM orders_t ORDER BY o_custkey, o_orderkey LIMIT 60""".stripMargin,
    """SELECT graft_md5_prefix(CAST(o_orderkey AS STRING), 8) % 1000 AS hb, count(*) AS n
      |FROM orders_t GROUP BY 1 ORDER BY n DESC, hb LIMIT 20""".stripMargin)

  /** One request: what the client sends, and what it means. */
  final case class Req(id: String, raw: String, clean: String, template: Option[Template],
      year: Int, analyst: Int)

  private def years = lake.model.committed.keys.toIndexedSeq

  /** The request mix, one cycle of 10 requests. Two sidebar renders:
    * each sends the reference sidebar's three queries (available years,
    * quick-stat totals, negative categories) for one seeded year, as fixed
    * SQL that carries no fault. Three chat questions over the finance
    * tables, rotating through totals, latest remaining and negative
    * categories at seeded years; one chat question in two carries a fault,
    * the seed picking which of each pair, and the faults rotate through
    * the five kinds the guard layer exists for. One analyst query; the
    * analyst queries rotate through `Analyst` from a seeded start. The
    * shares of chat questions, analyst queries and faults are assumptions,
    * not measured from the product.
    */
  private val Cycle: Seq[Slot] = Seq(Sidebar(Years, 0), Sidebar(Totals, 0), Sidebar(Negative, 0),
    Chat(0), Chat(1), Sidebar(Years, 1), Sidebar(Totals, 1), Sidebar(Negative, 1), Chat(2),
    AnalystQuery)
  private val ChatsPerCycle = 3
  private val RendersPerCycle = 2
  private val ChatTemplates = Seq(Totals, Latest, Negative)

  private def rng(stream: Long, i: Long) =
    new SplittableRandom(a.seed * 0x9E3779B97F4A7C15L + stream * 0x632BE59BD9B4E019L + i)

  /** Request `i` of the seeded request stream. */
  def request(i: Long): Req = {
    val cycle = i / Cycle.size
    Cycle((i % Cycle.size).toInt) match {
      case AnalystQuery =>
        val k = ((rng(0, 0).nextInt(Analyst.size) + cycle) % Analyst.size).toInt
        Req(s"req-$i", Analyst(k), Analyst(k), None, 0, k)
      case Sidebar(t, render) =>
        val year = years(rng(1, cycle * RendersPerCycle + render).nextInt(years.size))
        val clean = sql(t, year)
        Req(s"req-$i", clean, clean, Some(t), year, -1)
      case Chat(n) =>
        val c = cycle * ChatsPerCycle + n
        val year = years(rng(2, c).nextInt(years.size))
        val pair = c / 2
        val fault =
          if (c % 2 == rng(3, pair).nextInt(2)) Faults((pair % Faults.size).toInt) else Clean
        val t = templateFor(fault, ChatTemplates((c % ChatTemplates.size).toInt))
        val clean = sql(t, year)
        Req(s"req-$i", inject(fault, t, year, clean), clean, Some(t), year, -1)
    }
  }

  final case class Done(req: Req, rows: Option[Seq[Seq[String]]], error: String,
      ms: Double, attempts: Int)

  /** SQL text to last row fetched: guard, then at most 3 executions with
    * the deterministic repair hook (the bound `executeWithRepair` uses).
    */
  def execute(c: Client, req: Req): Done = {
    val repair: (String, String) => String = (_, _) => req.clean
    val t0 = System.nanoTime()
    var current = Trace.span("serving.guard", req.id) {
      val s = SqlGuard.quoteReservedDate(SqlGuard.cleanSql(req.raw))
      if (SqlGuard.hasBadRemainingSum(s)) {
        Trace.count("serving.reroutes")
        SqlGuard.quoteReservedDate(SqlGuard.cleanSql(repair(s, SqlGuard.RemainingHint)))
      } else s
    }
    var attempts = 0
    var result: Option[Seq[Seq[String]]] = None
    var err = ""
    while (result.isEmpty && attempts < 3) {
      attempts += 1
      try result = Some(Trace.span("serving.jdbc", req.id) {
        c.rows(s"/* bench:${req.id} */ $current")
      })
      catch {
        case e: java.sql.SQLException =>
          err = String.valueOf(e.getMessage).take(200)
          if (attempts < 3) {
            Trace.count("serving.reroutes")
            current = Trace.span("serving.guard", req.id) {
              SqlGuard.quoteReservedDate(SqlGuard.cleanSql(repair(current, err)))
            }
          }
      }
    }
    Trace.count("serving.requests")
    Trace.count("serving.attempts", attempts)
    Done(req, result, err, (System.nanoTime() - t0) / 1e6, attempts)
  }

  /** Checks every finished request; analyst answers against in-process. */
  def check(done: Seq[Done]): Unit = {
    val local = mutable.Map.empty[Int, Seq[Seq[String]]]
    done.foreach { d =>
      rec.attempt()
      d.rows match {
        case None => rec.fail(s"${d.req.id} failed after ${d.attempts} attempts: ${d.error}")
        case Some(rows) if d.req.analyst >= 0 =>
          val want = local.getOrElseUpdate(d.req.analyst,
            spark.sql(d.req.clean).collect().toSeq.map(r =>
              (0 until r.length).map(j => String.valueOf(r.get(j)))))
          if (rows != want) rec.wrongAnswer(s"${d.req.id} analyst #${d.req.analyst} differs from in-process")
        case Some(rows) =>
          val t = d.req.template.get
          val want = expected(t, d.req.year, lake.model.committed)
          val got = FinanceModel.answer(rows)
          if (got != want)
            rec.wrongAnswer(s"${d.req.id} ${t.name}(${d.req.year}): got ${got.take(120)} want ${want.take(120)}")
      }
    }
  }

  /** One request of every distinct shape. */
  private def shapes(tag: String): Seq[Req] = {
    val y = years.max
    Finance.map(t => Req(s"$tag-${t.name}", sql(t, y), sql(t, y), Some(t), y, -1)) ++
      Analyst.indices.map(k => Req(s"$tag-analyst$k", Analyst(k), Analyst(k), None, 0, k))
  }

  /** The closed loop: `Clients` threads draw requests from one seeded
    * stream until `seconds` have passed.
    */
  private def closedLoop(clients: Seq[Client], seconds: Double, next: () => Long): (Seq[Done], Double) = {
    val done = new ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = clients.map { c =>
      val t = new Thread(() => while (System.nanoTime() < deadline) done.add(execute(c, request(next()))))
      t.start(); t
    }
    threads.foreach(_.join())
    (done.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  def run(sessionS: Double): Unit = {
    setup(sessionS, k => timed {
      lake = newLake(s"${a.out}/lake-$k")
      LakeYears.foreach(y =>
        FinanceGen.yearFiles(a.seed, y, 0, FilesPerYear).foreach(lake.land))
      lake.checkResults(rec, lake.pipeline.run(), lake.model.run(), "set-up")
      lake.register()
      val tpch = s"${a.out}/tpch-$k"
      val served = Seq("lineitem", "orders", "customer", "nation")
      TpchGen.write(spark, tpch, AnalystSf, a.seed, served)
      served.foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ${t}_t")
        spark.sql(s"CREATE TABLE ${t}_t USING PARQUET LOCATION '$tpch/$t.parquet'")
      }
    }._2)
    val clients = (0 until Clients).map(_ => new Client(endpoint.jdbcUrl))
    // one serial pass over every request shape right after start, then
    // three more; `warm_s` is their median
    val cold = shapes("cold").map(execute(clients.head, _))
    val warm = (0 until 3).map(w => shapes(s"warm$w").map(execute(clients.head, _)))
    rec.fields("cold_s") = cold.map(_.ms).sum / 1000
    rec.fields("warm_s") = median(warm.map(_.map(_.ms).sum / 1000))
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    val all = mutable.ArrayBuffer.empty[Done]
    all ++= cold ++= warm.flatten
    if (!a.trace) {
      val (done, window) = closedLoop(clients, a.seconds, () => counter.getAndIncrement())
      rec.fields("retained_heap_mb") = retainedHeapMb()
      all ++= done
      rec.fields("op_ms") = done.filter(_.rows.nonEmpty).map(_.ms)
      rec.fields("window_s") = window
    } else {
      // quarters of one request stream, untraced-traced-traced-untraced,
      // so a warm-up trend cancels out of the overhead estimate
      val quarters = (0 until 4).map { q =>
        def loop() = closedLoop(clients, a.seconds / 4.0, () => counter.getAndIncrement())._1
        if (tracedSegment(q)) traceWindow(rec)(loop()) else loop()
      }
      val plain = quarters(0) ++ quarters(3)
      val traced = quarters(1) ++ quarters(2)
      // JDBC round trip versus in-process execution of the same SQL: per
      // shape, the difference of medians over 3 alternating runs of each
      rec.fields("jdbc_overhead_ms") = shapes("probe").map { req =>
        val runs = (0 until 3).map(_ =>
          (execute(clients.head, req).ms, timed(spark.sql(req.clean).collect())._2 * 1000))
        median(runs.map(_._1)) - median(runs.map(_._2))
      }
      all ++= plain ++= traced
      rec.fields("untraced_op_ms") = plain.map(_.ms)
      rec.fields("traced_op_ms") = traced.map(_.ms)
    }
    check(all.toSeq)
    clients.foreach(_.close())
  }
}

/** `tick`: back-to-back ingest ticks with one concurrent JDBC reader. */
final class TickRun(spark: SparkSession, a: Main.Args, rec: Main.Record)
    extends ServingRun(spark, a, rec) {
  import Main._
  import Dashboard._

  /** Archived raw-zone years: landed already marked `.done`, so they
    * are listed and skipped every cycle but never processed again.
    */
  val ArchiveYears: Seq[Int] = 1960 until 1990
  /** The cold tick lands the first years; nothing is committed before it.
    * Three, so that the first warm tick (one new year, one late year, one
    * poison year) leaves a committed year the reader may read.
    */
  val FirstYears: Seq[Int] = firstYear until firstYear + 3
  /** Per later tick: one new year, one late rebuild of a committed year and
    * one poison file. These rates are assumptions, not measured from the
    * product.
    */
  val NewYearsPerTick = 1
  val LateYearsPerTick = 1
  /** Warm ticks per untraced run: ticks are the independent unit of
    * freshness, since the years of one tick share its pipeline run. The
    * first tick is the cold one (`cold_s`): it lands `FirstYears` and
    * creates the catalog tables. Freshness and `warm_s` come from the
    * later ticks, which run beside the reader. The count is fixed by
    * `--seconds` (a warm tick takes 5 to 6 s on 4 cores, after a cold
    * tick of about 10 s), not by the clock, so that the host's speed does not
    * change how many samples a run has or how big its lake grows.
    */
  def warmTicks: Int = math.max(2, math.round((a.seconds - 10) / 5.0).toInt)
  private var lake: FinanceLake = _

  /** A year's content as visible from `fromUs` (its commit began) and
    * surely visible from `toUs` (its partitions were synced).
    */
  final case class Version(fromUs: Long, toUs: Long, state: YearState)
  private val history = mutable.Map.empty[Int, Vector[Version]]

  final case class Read(year: Int, t: Template, answer: Option[String], err: String,
      startUs: Long, endUs: Long, ms: Double)

  /** The files of tick `k`: new years, late files for committed years
    * (as many files per year as a new year), and one poison file in a
    * seeded committed year that receives nothing else.
    */
  def landing(k: Int, nextYear: Int, committed: Seq[Int]): Seq[FinanceGen.RawFile] = {
    val r = new SplittableRandom(a.seed * 7919L + k)
    val fresh = (0 until NewYearsPerTick).flatMap(i =>
      FinanceGen.yearFiles(a.seed, nextYear + i, 0, FilesPerYear))
    val shuffled = committed.sortBy(_ => r.nextInt())
    val late = shuffled.take(LateYearsPerTick).flatMap(y =>
      FinanceGen.yearFiles(a.seed, y, k + 1, FilesPerYear))
    val poison = shuffled.drop(LateYearsPerTick).headOption.map(y =>
      FinanceGen.RawFile(y, s"finance_${y}_poison_t$k.csv",
        FinanceGen.poisonCsv(a.seed, y, k + 1), poison = true))
    fresh ++ late ++ poison
  }

  /** States a read over [startUs, endUs] may legally observe. */
  def allowed(year: Int, startUs: Long, endUs: Long): Seq[YearState] = {
    val vs = history.getOrElse(year, Vector.empty)
    val empty = YearState(Vector.empty)
    val before = if (vs.isEmpty || vs.head.toUs >= startUs) Seq(empty) else Nil
    before ++ vs.indices.collect {
      case i if vs(i).fromUs <= endUs && (i == vs.size - 1 || vs(i + 1).toUs >= startUs) => vs(i).state
    }
  }

  def run(sessionS: Double): Unit = {
    setup(sessionS, k => timed {
      lake = newLake(s"${a.out}/lake-$k")
      ArchiveYears.foreach(y =>
        FinanceGen.yearFiles(a.seed, y, 0, FilesPerYear).foreach(lake.archive))
    }._2)
    // The reader reads, each time over a new JDBC session, the committed
    // years the running tick does not touch. The engine does not isolate a
    // read from a commit of the same year (the swap is two renames), and an
    // open session keeps a year's file listing across another session's
    // rebuild of it; both are listed in DESIGN.md as engine defects.
    // `gate` (fair) makes a tick wait for the read in flight before it
    // lands files.
    val gate = new ReentrantLock(true)
    def gated[T](body: => T): T = { gate.lock(); try body finally gate.unlock() }
    var targets: IndexedSeq[Int] = IndexedSeq.empty
    @volatile var open = true
    val reads = new ConcurrentLinkedQueue[Read]()
    val reader = new Thread(() => {
      val r = new SplittableRandom(a.seed + 17)
      var i = 0L
      while (open) {
        val didRead = gated {
          if (targets.isEmpty) false
          else {
            val y = targets(r.nextInt(targets.size))
            val t = Seq(Totals, Latest, Negative)(r.nextInt(3))
            val s = Trace.nowUs
            val t0 = System.nanoTime()
            val (ans, err) =
              try {
                val c = new Client(endpoint.jdbcUrl)
                try (Some(FinanceModel.answer(c.rows(s"/* bench:read-$i */ ${sql(t, y)}"))), "")
                finally c.close()
              } catch { case e: Throwable => (None, String.valueOf(e.getMessage).take(200)) }
            reads.add(Read(y, t, ans, err, s, Trace.nowUs, (System.nanoTime() - t0) / 1e6))
            i += 1
            true
          }
        }
        if (!didRead) Thread.sleep(50)
      }
    })
    val freshness = mutable.ArrayBuffer.empty[Double]
    val tickS = mutable.ArrayBuffer.empty[Double]
    val untracedTickS = mutable.ArrayBuffer.empty[Double]
    val tracedTickS = mutable.ArrayBuffer.empty[Double]
    var nextYear = FirstYears.max + 1
    var k = 0
    def tick(): Unit = {
      val files =
        if (k == 0) FirstYears.flatMap(y => FinanceGen.yearFiles(a.seed, y, 0, FilesPerYear))
        else landing(k, nextYear, lake.model.committed.keys.toSeq.sorted)
      if (k > 0) nextYear += NewYearsPerTick
      val touched = files.map(_.year).toSet
      gated { targets = lake.model.committed.keys.filterNot(touched).toIndexedSeq }
      val tickStart = Trace.nowUs
      val written = files.map(f => f -> lake.land(f))
      spark.sparkContext.setJobGroup(s"tick-$k", s"tick $k")
      val results = Trace.span("lake.FinancePipeline.run", s"tick-$k")(lake.pipeline.run())
      val want = lake.model.run()
      lake.checkResults(rec, results, want, s"tick $k")
      val committed = results.filter(_.committed).map(_.year)
      if (k == 0) lake.register()
      else committed.foreach { y =>
        Trace.span("lake.Catalog.syncPartition") {
          Catalog.syncPartition(spark, "fin_long", lake.cfg.curatedDir, y)
          Catalog.syncPartition(spark, "fin_wide", lake.cfg.stagingDir, y)
        }
      }
      spark.sparkContext.clearJobGroup()
      val syncedUs = Trace.nowUs
      committed.foreach(y => lake.model.committed.get(y).foreach(st =>
        history(y) = history.getOrElse(y, Vector.empty) :+ Version(tickStart, syncedUs, st)))
      // freshness: one sample per (tick, committed year), from the year's
      // first file landing until the year reads back as the model says to a
      // new JDBC session (an open session keeps the file listing it cached
      // before the commit; the reader measures that). The files of a year
      // land microseconds apart and become visible together, so they make
      // one observation, not one each.
      committed.foreach { y =>
        val probe = new Client(endpoint.jdbcUrl)
        val want = expected(Totals, y, lake.model.committed)
        var seen = false
        var last = ""
        var tries = 0
        while (!seen && tries < 20) {
          tries += 1
          last = try FinanceModel.answer(probe.rows(s"/* bench:probe-$k-$y */ ${sql(Totals, y)}"))
          catch { case e: Throwable => String.valueOf(e.getMessage).take(160) }
          seen = last == want
          if (!seen) Thread.sleep(50)
        }
        val visibleUs = Trace.nowUs
        probe.close()
        val landedUs = written.collect { case (f, wUs) if f.year == y => wUs }.min
        rec.attempt()
        if (!seen && last.startsWith("org.")) rec.fail(s"tick $k: year=$y not visible: $last")
        else if (!seen) rec.wrongAnswer(s"tick $k: year=$y reads $last, model $want")
        else if (k > 0) freshness += (visibleUs - landedUs) / 1e6
      }
      val cycle = (Trace.nowUs - tickStart) / 1e6
      tickS += cycle
      if (k > 0) (if (Trace.enabled) tracedTickS else untracedTickS) += cycle
      // untimed checks: curated rows per touched year, quarantined files
      files.map(_.year).distinct.foreach { y =>
        if (lake.curated(y) != lake.modelCurated(y))
          rec.wrongAnswer(s"tick $k: curated year=$y differs from the model")
      }
      files.filter(_.poison).foreach { f =>
        rec.attempt()
        if (!new java.io.File(lake.path(f) + ".failed").exists())
          rec.wrongAnswer(s"tick $k: poison ${f.name} carries no .failed marker")
      }
      Trace.count("lake.committed_years", committed.size)
      Trace.count("lake.quarantined_files", results.filterNot(_.committed).map(_.files.size).sum)
      k += 1
    }
    tick()
    val readerStartUs = Trace.nowUs
    reader.start()
    if (!a.trace) {
      while (k <= warmTicks) tick()
    } else {
      // four segments after the cold tick
      while (k < 5) if (tracedSegment(k - 1)) traceWindow(rec)(tick()) else tick()
    }
    open = false
    reader.join()
    if (!a.trace) rec.fields("retained_heap_mb") = retainedHeapMb()
    rec.fields("window_s") = tickS.drop(1).sum
    rec.fields("ticks") = k
    rec.fields("op_ms") = freshness.map(_ * 1000).toSeq
    rec.fields("cold_s") = tickS.head
    rec.fields("warm_s") = median(tickS.drop(1).toSeq)
    rec.fields("untraced_op_ms") = untracedTickS.map(_ * 1000).toSeq
    rec.fields("traced_op_ms") = tracedTickS.map(_ * 1000).toSeq
    // every read must see its year before or after a commit, never between
    val rs = reads.asScala.toSeq
    rec.fields("reader_ms") = rs.filter(_.answer.nonEmpty).map(_.ms)
    rs.foreach { r =>
      rec.attempt()
      r.answer match {
        case None => rec.fail(s"reader ${r.t.name}(${r.year}) error: ${r.err}")
        case Some(ans) =>
          def matches(sts: Seq[YearState]) =
            sts.exists(st => expected(r.t, r.year, Map(r.year -> st)) == ans)
          if (!matches(allowed(r.year, r.startUs, r.endUs))) {
            // still wrong, but named apart: content the year had before a
            // commit that was synced before this read began (empty, for a
            // year first committed while the reader ran)
            val vs = history.getOrElse(r.year, Vector.empty)
            val older = vs.map(_.state) ++
              (if (vs.forall(_.fromUs > readerStartUs)) Seq(YearState(Vector.empty)) else Nil)
            val kind = if (matches(older)) "stale" else "torn"
            rec.wrongAnswer(s"$kind read ${r.t.name}(${r.year}): ${ans.take(120)}")
          }
      }
    }
  }
}

/** `batch`: a slice of the registry's relational family over seeded
  * tables, a cold pass then warm passes; answers are checked afterwards
  * against the DuckDB oracle SQL (by `run.py`).
  */
final class BatchRun(spark: SparkSession, a: Main.Args, rec: Main.Record) {
  import Main._

  val Sf = 0.01
  /** Relational-family queries that read only the relational tables. */
  val Slice: Seq[String] = Seq(
    "q01_pricing_summary", "q03_topk_orders", "q04_region_revenue", "q05_latest_order_join",
    "q06_latest_order_window", "q07_unpivot_lineitem", "q11_semi_join", "q12_anti_join",
    "q13_pivot_returnflag", "q47_rollup", "q53_shipping_priority", "q69_exact_median",
    "q101_cube_pricing", "q122_rank_family")

  private def runQuery(name: String, dir: String, tag: String): Option[Double] = {
    spark.sparkContext.setJobGroup(s"$name#$tag", name)
    try Some(timed(Trace.span(s"batch.query", s"$name#$tag") {
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    })._2)
    catch { case e: Throwable => rec.fail(s"$name ($tag): ${e.toString.take(300)}"); None }
    finally { rec.attempt(); spark.sparkContext.clearJobGroup() }
  }

  private def order(pass: Int): Seq[String] = {
    val r = new scala.util.Random(a.seed * 31 + pass)
    r.shuffle(Slice)
  }

  def run(sessionS: Double): Unit = {
    val reps = (0 until SetupReps).map(k => timed(TpchGen.write(spark, s"${a.out}/tpch-$k", Sf, a.seed))._2)
    val dir = s"${a.out}/tpch-${SetupReps - 1}"
    rec.fields("setup_reps_s") = reps
    rec.fields("setup_s") = sessionS + median(reps)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def runPass(p: Int): Seq[Double] = order(p).flatMap(runQuery(_, dir, s"p$p"))
    val warm = mutable.ArrayBuffer.empty[(Int, Seq[Double])]
    // traced: the cold pass and warm passes 2 and 3 are traced, passes
    // 1 and 4 are not and give the overhead baseline
    val cold = if (a.trace) traceWindow(rec)(runPass(0)) else runPass(0)
    rec.fields("cold_s") = cold.sum
    var p = 1
    while (p <= (if (a.trace) 4 else 3) || (!a.trace && elapsed < a.seconds)) {
      warm += p -> (if (a.trace && tracedSegment(p - 1)) traceWindow(rec)(runPass(p)) else runPass(p))
      p += 1
    }
    if (!a.trace) rec.fields("retained_heap_mb") = retainedHeapMb()
    // the per-query samples are the warm passes', so that the number of
    // passes the window allows does not change the share of cold samples
    rec.fields("window_s") = warm.map(_._2.sum).sum
    rec.fields("op_ms") = warm.flatMap(_._2).map(_ * 1000).toSeq
    rec.fields("warm_passes_s") = warm.map(_._2.sum).toSeq
    rec.fields("warm_s") = median(warm.map(_._2.sum).toSeq)
    if (a.trace) {
      rec.fields("traced_op_ms") = warm.filter(w => tracedSegment(w._1 - 1)).map(_._2.sum * 1000).toSeq
      rec.fields("untraced_op_ms") = warm.filterNot(w => tracedSegment(w._1 - 1)).map(_._2.sum * 1000).toSeq
    }
    // untimed: each result to Parquet, with its oracle SQL, for run.py
    val verify = s"${a.out}/verify"
    Slice.foreach(n => graft.Verify.dumpQuery(spark, n, SparkEntry.queries(n), dir, verify)
      .foreach(e => rec.fail(s"$n (verify dump): ${e.toString.take(300)}")))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Slice.contains(k) }
    Files.write(Paths.get(s"$verify/oracle_sql.json"),
      Json.render(oracle).getBytes(StandardCharsets.UTF_8))
    rec.fields("oracle") = Map("tables" -> dir, "results" -> verify, "queries" -> Slice)
  }
}
