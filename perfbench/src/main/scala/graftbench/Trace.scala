package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and counts for the traced run.
  *
  * The benchmark opens a span around each call it makes into a layer;
  * Spark's listener events become spans too (jobs, stages, SQL
  * executions, planned queries). Nothing is recorded unless `enabled`,
  * and the untraced run never registers the listeners. Spans are
  * written as JSON lines when the run ends; `layers.py` turns them into
  * the per-layer table.
  *
  * Times are microseconds on one clock: wall-clock epoch at start plus
  * `nanoTime` elapsed, so listener timestamps (epoch ms) line up.
  */
object Trace {
  @volatile var enabled = false

  private val epoch0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000L

  final case class Span(id: Long, parent: Long, name: String, req: String,
      startUs: Long, endUs: Long, attrs: Map[String, Any])

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  /** Runs `body` inside a span; `req` defaults to the enclosing span's. */
  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val r = if (req.nonEmpty) req else outer.headOption.map(_._2).getOrElse("")
      stack.set((id, r) :: outer)
      val start = nowUs
      try body
      finally {
        stack.set(outer)
        spans.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), name, r, start, nowUs, Map.empty))
      }
    }

  /** A span whose interval was observed elsewhere (listener events). */
  def add(name: String, req: String, startUs: Long, endUs: Long, attrs: Map[String, Any]): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, name, req, startUs, endUs, attrs))

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counts: Map[String, Long] = counters.asScala.map { case (k, v) => k -> v.sum }.toMap

  def writeJsonl(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startUs).foreach { s =>
      out.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "start_us" -> s.startUs, "end_us" -> s.endUs) ++ s.attrs.toSeq))
    } finally out.close()
  }

  private val ReqTag = "/\\* bench:(\\S+) \\*/".r

  /** The request a job or SQL execution serves: the tag the benchmark
    * puts on every statement it sends, else the job group it set.
    */
  def reqOf(description: String, group: String): String =
    Option(description).flatMap(d => ReqTag.findFirstMatchIn(d).map(_.group(1)))
      .orElse(Option(group)).getOrElse("")

  private val EngineFrame = "graft\\.([a-z]+)\\.([A-Z][A-Za-z0-9]*)".r

  /** The engine module of the innermost engine frame in a call site. */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).flatMap(cs => EngineFrame.findFirstMatchIn(cs))
      .map(m => s"${m.group(1)}.${m.group(2)}")
}

/** Spark events as spans: jobs (with the engine module that launched
  * them), stages (with their task metrics) and SQL executions.
  */
class BenchListener extends SparkListener {
  private final case class Job(startUs: Long, req: String, module: String, stages: Int)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, (Int, String)]()
  private val sqlStarts = new ConcurrentHashMap[Long, (Long, String, String)]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStarts.put(s.executionId, (s.time * 1000L, Trace.reqOf(s.description, null), s.details))
    case e: SparkListenerSQLExecutionEnd =>
      Option(sqlStarts.remove(e.executionId)).foreach { case (start, req, _) =>
        Trace.add("sql.exec", req, start, e.time * 1000L, Map("execution" -> e.executionId))
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val req = Trace.reqOf(p.map(_.getProperty("spark.job.description")).orNull,
      p.map(_.getProperty("spark.jobGroup.id")).orNull)
    val sqlSite = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(sqlStarts.get(id.toLong))).map(_._3)
    val module = e.stageInfos.iterator.flatMap(s => Trace.moduleOf(s.details)).nextOption()
      .orElse(sqlSite.flatMap(Trace.moduleOf))
      .getOrElse(if (p.exists(x => Option(x.getProperty("spark.job.description"))
        .exists(_.contains("/* bench:")))) "serving.Thrift" else "harness")
    jobs.put(e.jobId, Job(e.time * 1000L, req, module, e.stageInfos.size))
    e.stageIds.foreach(s => stageJob.put(s, (e.jobId, req)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      Trace.add("exec.job", j.req, j.startUs, e.time * 1000L, Map("job" -> e.jobId,
        "module" -> j.module, "stages" -> j.stages, "ok" -> (e.jobResult == JobSucceeded)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val (job, req) = Option(stageJob.get(s.stageId)).getOrElse((-1, ""))
    val m = s.taskMetrics
    if (m != null) Trace.add("exec.stage", req,
      s.submissionTime.getOrElse(0L) * 1000L, s.completionTime.getOrElse(0L) * 1000L,
      Map("job" -> job, "tasks" -> s.numTasks, "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "shuffle_bytes" -> (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "out_bytes" -> m.outputMetrics.bytesWritten))
  }
}

/** Catalyst phase times and written-file counts per planned query.
  * Registered through `spark.sql.queryExecutionListeners`, so it also
  * sees the sessions the Thrift server creates per connection.
  */
class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution, ok: Boolean): Unit = if (Trace.enabled) {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    var files = 0L
    def walk(plan: SparkPlan): Unit = plan.foreach {
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case p => p.metrics.get("numFiles").foreach(files += _.value)
    }
    walk(qe.executedPlan)
    val now = Trace.nowUs
    Trace.add("catalyst.query", "", now, now, Map("analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
      "files_written" -> files, "ok" -> ok))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, ok = false)
}

/** The lake's `FileSystem` with a count per primitive the lake layer
  * uses (`lake.fs.*`), handed to `new LakeFs(fs)` in the traced run.
  */
class CountingFs(inner: FileSystem) extends FilterFileSystem(inner) {
  override def getScheme: String = inner.getScheme
  override def listFiles(f: Path, recursive: Boolean) = {
    Trace.count("lake.fs.list"); super.listFiles(f, recursive)
  }
  override def listStatus(f: Path) = { Trace.count("lake.fs.list"); super.listStatus(f) }
  override def exists(f: Path): Boolean = { Trace.count("lake.fs.exists"); super.exists(f) }
  override def rename(src: Path, dst: Path): Boolean = {
    Trace.count("lake.fs.rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Trace.count("lake.fs.delete"); super.delete(f, recursive)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable) = {
    Trace.count("lake.fs.create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Trace.count("lake.fs.mkdirs"); super.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = { Trace.count("lake.fs.mkdirs"); super.mkdirs(f) }
}

/** Counters Spark and the JVM already keep, sampled at window edges. */
object Counters {
  import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}

  def snapshot(): Map[String, Double] = {
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "codegen.compiles" -> compile.getCount.toDouble,
      "codegen.compile_mean_ms" -> compile.getSnapshot.getMean,
      "lake.files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
      "lake.partitions_fetched" -> HiveCatalogMetrics.METRIC_PARTITIONS_FETCHED.getCount.toDouble,
      "lake.listing_jobs" -> HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount.toDouble,
      "lake.file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "jvm.gc_s" -> gcs.map(_.getCollectionTime).sum / 1000.0)
  }
}
