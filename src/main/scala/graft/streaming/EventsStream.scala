package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Determinism._

/** Structured Streaming over the events firehose — the Spark-native
  * upgrade of the reference's 5-minute-cron micro-batching (SURVEY §2.10):
  * a file-source stream with checkpointed exactly-once semantics replaces
  * the marker ledger, watermarks bound state, and the same `window()`
  * aggregation code is shared with the batch path
  * ([[graft.operators.EventsOps]]).
  *
  * At scale: watermark + append mode keeps state proportional to the
  * watermark horizon, not the stream length; `dropDuplicates` keyed on
  * event_id within the watermark gives at-most-once delivery against
  * replayed files.
  */
object EventsStream {

  /** Fallback on-disk schema of an events parquet file (ts as nanosecond
    * long) — used only when the source dir has no file yet to peek at
    * stream-start time.
    */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of events parquet files.
    *
    * Schema-adaptive, exactly like the batch scan
    * ([[graft.sources.Tables.events]]): a file source needs a declared
    * schema up front, so peek the footer schema of the files already in
    * the dir with a batch read (driver-side metadata only — no data
    * pages), then normalize through the SAME
    * [[graft.sources.Tables.normalizeEventTime]] the batch path uses.
    * Hardcoding `ts: LongType` here against a µs-timestamp file would
    * hand the pipeline raw MICROseconds labeled as nanos — every window,
    * watermark, and join bound silently compressed 1000×.
    *
    * The peek needs at least one file present: an empty/missing dir
    * falls back to the int64-nanos default schema, which is WRONG if
    * µs-NTZ files land later (the exact 1000× hazard above, with no
    * signal). The fallback therefore logs a loud warning; callers that
    * stage files before starting the stream — as every drain in this
    * repo does — never hit it. A stream cannot re-peek once built (the
    * source schema is fixed at plan time), so pre-staging is the
    * contract, not a suggestion.
    */
  def read(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val fileSchema =
      try spark.read.parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          System.err.println(
            s"[EventsStream.read] WARNING: schema peek of '$dir' failed " +
              s"(${e.getMessage.takeWhile(_ != '\n')}); falling back to the " +
              "int64-nanos default schema. If microsecond-timestamp files " +
              "arrive later they will be misread 1000× — stage at least one " +
              "file before starting the stream.")
          schema
      }
    graft.sources.Tables.normalizeEventTime(
      spark.readStream.schema(fileSchema).options(options).parquet(dir))
  }

  /** Watermarked, deduplicated, hourly-windowed aggregation — the
    * streaming twin of `EventsOps.tumblingWindowAgg`, same output schema.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      // WithinWatermark variant: dedup state is evicted as the watermark
      // advances (plain dropDuplicates(event_id) would grow state forever)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_c"))
      .select(
        col("window.start").cast("long").as("hour_epoch"),
        col("event_type"), col("n"), col("value_c"))

  /** Session windows per user with a 30-minute gap — built-in
    * `session_window`, no hand-rolled state machine.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_c"))
      .select(
        col("session_window.start").cast("long").as("session_start"),
        col("session_window.end").cast("long").as("session_end"),
        col("user_id"), col("n_events"), col("value_c"))

  final case class UserActivity(
      user_id: Long, n_events: Long, value_c_total: Long, last_event_id: Long)

  /** Custom keyed state via `flatMapGroupsWithState` — the escape hatch
    * when built-in windows can't express the state machine. Maintains a
    * per-user running activity summary and emits an updated snapshot
    * whenever a micro-batch touches the user.
    *
    * Production bounds state with `ProcessingTimeTimeout` (idle users'
    * state is flushed and removed after `idleTimeout`); pass
    * `idleTimeout = None` for drain-to-completion runs —
    * `processAllAvailable` never quiesces while timeout timers are armed,
    * because Spark keeps firing empty batches to check them.
    */
  def userActivity(events: DataFrame,
      idleTimeout: Option[String] = None): org.apache.spark.sql.Dataset[UserActivity] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(
        col("user_id"), col("event_id"),
        cents(col("value")).as("value_c"))
      .as[(Long, Long, Long)]
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (userId: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[UserActivity]) => {
          if (state.hasTimedOut) {
            val out = state.getOption
            state.remove()
            out.iterator
          } else {
            val prev = state.getOption
              .getOrElse(UserActivity(userId, 0L, 0L, -1L))
            val next = rows.foldLeft(prev) { case (acc, (_, eid, vc)) =>
              UserActivity(userId, acc.n_events + 1,
                acc.value_c_total + vc, math.max(acc.last_event_id, eid))
            }
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            Iterator.single(next)
          }
        })
  }

  /** Per-user funnel progress: first-view / first-qualifying-click /
    * first-qualifying-purchase timestamps (−1 = not reached), same
    * 24 h conversion-window semantics as the batch funnel
    * ([[graft.operators.EventsOps.funnelStages]]).
    */
  final case class FunnelState(user_id: Long, t1: Long, t2: Long, t3: Long) {
    def stage: Long = if (t3 >= 0) 3L else if (t2 >= 0) 2L else if (t1 >= 0) 1L else 0L
  }
  final case class FunnelSnapshot(user_id: Long, stage: Long)

  /** Streaming twin of the batch funnel (q97): a per-user state machine
    * over `flatMapGroupsWithState` — three timestamps of state per user,
    * emitting the user's current stage snapshot whenever a micro-batch
    * touches them. Rows are sorted by event time inside each group call
    * (bounded by the user's slice of the micro-batch), so in-order
    * arrival reproduces the batch funnel exactly; events arriving across
    * batches out of event-time order are subject to the standard
    * streaming caveat — a late earlier view cannot retroactively re-open
    * a funnel step (state only moves forward), which is the documented
    * trade for constant-size state.
    */
  def funnelProgress(events: DataFrame): org.apache.spark.sql.Dataset[FunnelSnapshot] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val w = graft.operators.EventsOps.FunnelWindowNs
    val typed = events.select(col("user_id"), col("event_type"), col("ts_ns"))
      .as[(Long, String, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, String, Long)],
            state: GroupState[FunnelState]) => {
          val prev = state.getOption.getOrElse(FunnelState(userId, -1L, -1L, -1L))
          val next = rows.toSeq.sortBy(_._3).foldLeft(prev) {
            case (s, (_, et, ts)) => et match {
              case "view" if s.t1 < 0 => s.copy(t1 = ts)
              case "click" if s.t1 >= 0 && s.t2 < 0 &&
                  ts > s.t1 && ts <= s.t1 + w => s.copy(t2 = ts)
              case "purchase" if s.t2 >= 0 && s.t3 < 0 &&
                  ts > s.t2 && ts <= s.t2 + w => s.copy(t3 = ts)
              case _ => s
            }
          }
          state.update(next)
          Iterator.single(FunnelSnapshot(userId, next.stage))
        })
  }

  final case class ScdRun(st: String, from_us: Long, version: Long, n: Long)
  final case class ScdClosed(user_id: Long, version: Long, state: String,
      valid_from: Long, valid_to: Long, n_events: Long)

  /** Streaming twin of the batch SCD2 build (q112): per-user keyed state
    * holds ONLY the open run (state label, start, version, row count);
    * each state CHANGE emits the closed interval `[valid_from,
    * new.ts_us - 1]` in append mode — exactly the batch rows with
    * `is_current = 0`, under in-order arrival. Rows are event-time
    * sorted inside each group call; cross-batch late events are subject
    * to the same forward-only caveat as the funnel twin (a late row
    * cannot reopen a closed interval), the documented trade for
    * one-run-sized state.
    */
  def scdProgress(events: DataFrame): org.apache.spark.sql.Dataset[ScdClosed] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("event_type"),
        expr("ts_ns DIV 1000").as("ts_us"), col("event_id"))
      .as[(Long, String, Long, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, String, Long, Long)],
            state: GroupState[ScdRun]) => {
          val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
          val out = Seq.newBuilder[ScdClosed]
          var cur = state.getOption.orNull
          sorted.foreach { case (_, et, ts, _) =>
            if (cur == null) cur = ScdRun(et, ts, 1L, 1L)
            else if (et == cur.st) cur = cur.copy(n = cur.n + 1)
            else {
              out += ScdClosed(userId, cur.version, cur.st, cur.from_us, ts - 1, cur.n)
              cur = ScdRun(et, ts, cur.version + 1, 1L)
            }
          }
          if (cur != null) state.update(cur)
          out.result().iterator
        })
  }

  private val drainCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The streaming SCD2 twin DRAINED under the correctness gate (q127):
    * runs [[scdProgress]] over the events file to completion and returns
    * the emitted closed intervals as a batch DataFrame. This is the one
    * place a streaming operator's OUTPUT (not a spec assertion about it)
    * is hash-compared against the DuckDB oracle — the oracle computes
    * the batch SCD2 history and keeps the `is_current = 0` rows, which
    * are exactly what the state machine must have emitted; any
    * divergence between the streaming state transitions and the batch
    * window semantics fails CORRECTNESS, not just `sbt test`.
    *
    * Deterministic because the single source file drains in one ordered
    * micro-batch per group (rows event-time sorted inside the group
    * call); the cross-batch arrival caveats stay where the specs
    * exercise them.
    *
    * SCALE path (`chunked = true`, the stream-stream JOIN family only):
    * a one-shot drain pushes the whole corpus through ONE micro-batch,
    * and within a batch the watermark cannot advance — so the join's
    * state store holds BOTH full sides in executor memory, the exact
    * blowup the watermark exists to prevent (measured: the 1000×
    * rehearsal corpus, 100 M events, never committed batch 0). Above
    * [[ChunkTargetRowsKey]] rows the drain therefore restages the table
    * into event-time-ordered chunk files (`repartitionByRange` on
    * `(ts, event_id)` — distributed, no single-task sort) and streams
    * them `maxFilesPerTrigger=1`, one chunk per micro-batch with the
    * watermark advancing between batches, so join state stays bounded
    * at one horizon per side regardless of corpus size.
    *
    * The chunked drain emits the IDENTICAL row set, because for the
    * watermarked interval joins the final emitted set is determined by
    * the final watermark, not the batch structure: (a) no input row is
    * ever late — chunks are (ts, event_id)-range-ordered, so a row in
    * chunk k+1 has `ts >=` chunk k's max, and the ms-floored watermark
    * is `<=` that max, and the late filter keeps `ts >= watermark`;
    * (b) no match is lost to eviction — a row is evicted only when the
    * watermark passes its join bound, and its partner's event time lies
    * at or below that bound, so under event-time-ordered arrival the
    * partner has already arrived; (c) null-padded rows emit exactly for
    * windows strictly below the final watermark, which equals the
    * single-batch drain's (min over both sides of the global max event
    * time). ChunkedDrainSpec asserts the set equality per join type;
    * graded scales sit below the threshold and keep the single-batch
    * plan byte-for-byte.
    */
  /** Hands a drained memory-sink table off the sink and UNREGISTERS the
    * sink. The memory sink holds the full drained row set on the driver
    * heap, and a never-dropped temp view roots it forever — across a
    * bench pass that drains every streaming twin twice, the accumulated
    * sinks raised driver GC pressure enough to inflate LATER queries'
    * warm readings (q167 5.8 s → 20.9 s across rounds 10→11, a harness
    * artifact, not a plan regression). `localCheckpoint` rematerializes
    * the rows as block-manager partitions (spillable, reclaimed by the
    * ContextCleaner once the caller drops the DataFrame), after which
    * the temp view — the sink's only reachable root — is dropped.
    */
  private[streaming] def releaseSink(spark: SparkSession, name: String): DataFrame = {
    val out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    out
  }

  private def drainToTable(spark: SparkSession, dir: String,
      tag: String, rideWatermark: Boolean = false, chunked: Boolean = false)(
      build: (String, Map[String, String]) => DataFrame): DataFrame = {
    val name = s"graft_${tag}_${drainCounter.incrementAndGet()}"
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    // parquet metadata count — footer statistics only, no data pages;
    // feeds both the chunking decision and the state-partition sizing
    val nRows = spark.read.parquet(src.toString).count()
    val nChunks =
      if (!chunked) 1
      else {
        val target = spark.conf.getOption(ChunkTargetRowsKey)
          .map(_.toLong).getOrElse(DefaultChunkTargetRows)
        chunksFor(nRows, target)
      }
    if (nChunks > 1) {
      val stage = java.nio.file.Files.createTempDirectory(s"graft_${tag}_chunks")
      try {
        spark.read.parquet(src.toString)
          .repartitionByRange(nChunks, col("ts"), col("event_id"))
          .write.mode("overwrite").parquet(stage.toString)
        // oldest-first pickup == part-file order == event-time range
        // order: pin strictly increasing mtimes (same-millisecond writes
        // could otherwise interleave chunks and break arrival order)
        val parts = new java.io.File(stage.toString).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .sortBy(_.getName)
        parts.zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.setLastModifiedTime(f.toPath,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000L))
        }
        def run(): Unit = {
          val q = runToMemory(
            build(stage.toString, Map("maxFilesPerTrigger" -> "1")), name)
          q.stop()
        }
        withStatePartitions(spark, nRows) {
          if (rideWatermark) run() else withNoDataBatchesDisabled(spark)(run())
        }
      } finally {
        val files = java.nio.file.Files.list(stage)
        try files.forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally files.close()
        java.nio.file.Files.deleteIfExists(stage)
      }
      releaseSink(spark, name)
    } else {
      // the file source takes a directory. A directory-shaped table
      // (Spark-written part files) streams as-is; a single-file table is
      // staged into a fresh directory (the streaming ingest boundary a
      // production deployment would already have). Copying a DIRECTORY
      // with Files.copy silently copies only the empty dir entry — the
      // stream then drains zero files and the parity gate "passes" on
      // nothing.
      val staged =
        if (java.nio.file.Files.isDirectory(src)) None
        else {
          val stage = java.nio.file.Files.createTempDirectory(s"graft_${tag}_src")
          java.nio.file.Files.copy(src, stage.resolve("events.parquet"))
          Some(stage)
        }
      // append-mode WINDOWED aggregations (session/tumbling) emit on
      // watermark advancement, which happens in the no-data batch after
      // the last data batch — those drains must RIDE the watermark, not
      // suppress it; the state-machine/join/dedup drains emit in the data
      // batches and skip the no-data commit I/O (see the scaladoc below)
      def run(): Unit = {
        val q = runToMemory(
          build(staged.map(_.toString).getOrElse(src.toString), Map.empty), name)
        q.stop()
      }
      try
        withStatePartitions(spark, nRows) {
          if (rideWatermark) run() else withNoDataBatchesDisabled(spark)(run())
        }
      finally staged.foreach { stage =>
        // the memory sink holds the drained rows; the staging is disposable
        java.nio.file.Files.deleteIfExists(stage.resolve("events.parquet"))
        java.nio.file.Files.deleteIfExists(stage)
      }
      releaseSink(spark, name)
    }
  }

  /** Runtime-conf key: row count above which a chunked drain restages
    * the source into event-time-ordered chunks of ~this many rows.
    */
  val ChunkTargetRowsKey = "graft.drain.chunkTargetRows"
  val DefaultChunkTargetRows = 2000000L

  /** Runtime-conf key: target source rows per STATE partition for the
    * drained stateful queries, plus the clamp bounds. A stateful
    * query's shuffle-partition count is frozen into its checkpoint and
    * every micro-batch pays a fixed per-partition cost (state-store
    * open, version load, delta commit, maintenance) on EVERY batch —
    * so unlike batch shuffles it must track STATE VOLUME, not the
    * session's core-count default. Measured on this host (TimeLab
    * `confab` over spark.sql.shuffle.partitions, within one session):
    * the three stream-stream joins at 32 state partitions cost 23.0 s
    * vs 9.3 s at 8 on a 40 k-row-per-side source — ~25 ms of pure
    * store machinery per partition per batch dwarfing the per-row
    * work. The rule ceil(rows / 125k) clamped to [8, 1024] keeps
    * ~125 k rows per store task: the graded corpora land at the floor
    * (8), the 1000× rehearsal (100 M events) gets 800, a 100 TB
    * chunked drain caps at 1024 — scale-adaptive, core-independent
    * (the driver's lower-core bench runs see the same value, which is
    * correct: state machinery cost does not shrink with cores).
    */
  val RowsPerStatePartitionKey = "graft.drain.rowsPerStatePartition"
  val DefaultRowsPerStatePartition = 125000L
  val MinStatePartitions = 8
  val MaxStatePartitions = 1024

  private[graft] def statePartitionsFor(spark: SparkSession, nRows: Long): Int = {
    val target = spark.conf.getOption(RowsPerStatePartitionKey)
      .map(_.toLong).getOrElse(DefaultRowsPerStatePartition)
    math.min(MaxStatePartitions.toLong, math.max(MinStatePartitions.toLong,
      (nRows + target - 1L) / math.max(1L, target))).toInt
  }

  /** Run `f` (which starts and drains one streaming query) with
    * `spark.sql.shuffle.partitions` sized by [[statePartitionsFor]],
    * restoring the session default after. Results are unaffected:
    * state is hash-distributed and every drained operator's output is
    * partitioning-independent (the oracle hash-gates that per query).
    */
  private def withStatePartitions[A](spark: SparkSession, nRows: Long)(
      f: => A): A = {
    // session-GLOBAL conf write: running a drain inside a Par region
    // would re-plan the other thread's concurrent batch query at the
    // drain's state-partition count — fail fast instead (r16 verdict
    // hardening; no drain call site is inside a Par region today)
    require(!graft.util.Par.regionActive,
      "streaming drain inside a Par region: withStatePartitions mutates " +
        "session-global spark.sql.shuffle.partitions")
    withSessionConf(spark, "spark.sql.shuffle.partitions",
      statePartitionsFor(spark, nRows).toString)(f)
  }

  /** Run `f` with the session conf `key` set to `value`, then restore
    * the previous value, or unset the key when it had none.
    */
  private def withSessionConf[A](spark: SparkSession, key: String,
      value: String)(f: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** ceil(n / target), clamped to [1, 256] — a chunk per ~target rows;
    * the cap bounds per-file-trigger overhead (and mtime spacing) on
    * arbitrarily large corpora.
    */
  private[graft] def chunksFor(n: Long, target: Long): Int = {
    val t = math.max(1L, target)
    math.min(256L, math.max(1L, (n + t - 1) / t)).toInt
  }

  /** Drained queries emit everything they will ever emit in the DATA
    * micro-batches: the flatMapGroupsWithState twins emit per batch, an
    * INNER stream-stream join emits each match as both sides arrive,
    * and streaming dedup passes each first-seen row through. The
    * no-data micro-batches Spark then schedules exist only to advance
    * the watermark and EVICT state — for a drain-and-stop harness that
    * is pure state-store commit I/O (measured ~2× on q133 at sf0.1).
    * Disable them for the drain's duration only; windowed-agg streams
    * (whose append OUTPUT does ride the watermark) do not use this.
    *
    * Scope caveat: this flips a SESSION-wide SQL conf for the drain's
    * duration. Any OTHER streaming query running concurrently on the
    * same SparkSession that needs no-data batches (an append-mode
    * windowed agg waiting on the watermark to emit finals) would be
    * silently starved during that window. The drains in this repo run
    * strictly sequentially, so the constraint is moot here; if drains
    * ever run concurrently with other streams, give them a cloned
    * session (`spark.newSession()`) so the conf flip is isolated.
    */
  private def withNoDataBatchesDisabled[A](spark: SparkSession)(f: => A): A =
    withSessionConf(spark, "spark.sql.streaming.noDataMicroBatches.enabled",
      "false")(f)

  def scdClosedDrain(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, dir, "q127_scd")(
      (d, o) => scdProgress(read(spark, d, o)).toDF())

  /** The streaming FUNNEL twin drained under the correctness gate
    * (q129) — the second `flatMapGroupsWithState` machine graded the
    * q127 way: one drained micro-batch emits exactly one snapshot per
    * user, whose stage must equal the batch funnel's (q97's per-user
    * CTE). Greedy first-view/first-qualifying-click/-purchase
    * transitions match the batch min-aggregation semantics under
    * in-order arrival; ties at equal timestamps are settled by the
    * strict `>` window bounds on both engines.
    */
  def funnelDrain(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, dir, "q129_funnel")(
      (d, o) => funnelProgress(read(spark, d, o)).toDF())

  /** Streaming sessionization drained under the correctness gate (q147)
    * — the built-in `session_window` aggregation (the one streaming
    * window family q127/q129/q133/q137 did not yet grade) in append
    * mode with a ZERO watermark delay: by end-of-input the watermark
    * sits at max event time, and exactly the sessions whose window end
    * (last event + gap) the watermark has passed are finalized and
    * emitted — the CLOSED-session set. Sessions still inside their gap
    * at end-of-input remain open, as they would on a live stream. The
    * oracle replays batch gaps-and-islands sessionization and keeps
    * sessions closed by the same watermark rule, so the window-merge
    * boundary semantics (exact-gap arrivals MERGE; close at
    * end <= watermark — both pinned by SessionDrainSpec fixtures that
    * hit the boundaries the testdata never does) are hash-graded.
    * Boundaries are emitted as epoch micros (`unix_micros` /
    * `epoch_us`), the exact event-time unit both engines share.
    */
  def sessionizeDrain(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, dir, "q147_sess", rideWatermark = true) { (d, o) =>
      read(spark, d, o)
        .withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_c"))
        .select(
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("user_id"), col("n_events"), col("value_c"))
    }

  /** The stream-stream interval join drained under the correctness
    * gate (q133) — the last streaming operator family that was
    * spec-only: [[viewClickAttribution]] over two independent streaming
    * reads of the same drained source, hash-compared against the batch
    * interval join. Inner stream-stream joins emit each match exactly
    * once as both sides arrive, so a full drain yields the complete
    * batch answer; the join compares MICROSECOND timestamps (the
    * stream's `ts` column) while the gap is exact nanoseconds — the
    * oracle mirrors both precisions explicitly.
    */
  def attributionDrain(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, dir, "q133_attr", chunked = true) { (d, o) =>
      viewClickAttribution(read(spark, d, o), read(spark, d, o))
    }

  /** LEFT OUTER stream-stream attribution drained under the gate (q152)
    * — the hardest Structured Streaming join semantics, and a distinct
    * contract from q133's inner join: matches emit as both sides
    * arrive, but an UNMATCHED view may only emit its null row once the
    * watermark proves no qualifying click can still arrive (view-side
    * state older than the join window is evicted as unmatched). Drained
    * with zero watermark delay and watermark-riding no-data batches, so
    * by end-of-input exactly the views whose full join window the
    * watermark has passed have emitted null rows; views still inside
    * their window at end-of-input remain open, as on a live stream.
    * The oracle replays the batch left join with the closure rule the
    * SessionDrainSpec fixtures pin: the global watermark is the MIN
    * over both sides' nodes (each side's max event time, floored to
    * milliseconds — Spark tracks event-time stats in ms), and a window
    * closes only STRICTLY below it; an early-ending click side holds
    * every later view window open. Nullable columns are coalesced to
    * −1 sentinels so the hash gate never compares engine-specific null
    * renderings.
    */
  def viewClickAttributionOuter(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"), col("ts_ns").as("v_ts_ns"))
    val c = clicks.filter(col("event_type") === "click")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"), col("ts_ns").as("c_ts_ns"))
    v.join(c, expr(
        """v_user = c_user AND
          |c_ts > v_ts AND
          |c_ts <= v_ts + INTERVAL 1 HOUR""".stripMargin), "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(expr("c_ts_ns DIV 1000") - expr("v_ts_ns DIV 1000"),
          lit(-1L)).as("gap_us"),
        col("click_id").isNotNull.as("matched"))
  }

  def attributionOuterDrain(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, dir, "q152_attr", rideWatermark = true,
        chunked = true) { (d, o) =>
      viewClickAttributionOuter(read(spark, d, o), read(spark, d, o))
    }

  /** q167: the FULL outer stream-stream join — both sides emit
    * null-padded rows once the watermark proves their match can no
    * longer arrive. Completes the stream-join matrix (inner q133 /
    * left q152 / full here) with the same pinned semantics: global
    * watermark = min over both sides' nodes, ms-floored event-time
    * stats, strictly-below closure. The click side's closure bound is
    * its OWN timestamp (a matching view must satisfy v_ts < c_ts, so
    * once the watermark passes c_ts no qualifying view can arrive) —
    * tighter than the view side's `v_ts + window`.
    */
  def viewClickAttributionFull(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"), col("ts_ns").as("v_ts_ns"))
    val c = clicks.filter(col("event_type") === "click")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"), col("ts_ns").as("c_ts_ns"))
    v.join(c, expr(
        """v_user = c_user AND
          |c_ts > v_ts AND
          |c_ts <= v_ts + INTERVAL 1 HOUR""".stripMargin), "full_outer")
      .select(coalesce(col("v_user"), col("c_user")).as("user_id"),
        coalesce(col("view_id"), lit(-1L)).as("view_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(expr("c_ts_ns DIV 1000") - expr("v_ts_ns DIV 1000"),
          lit(-1L)).as("gap_us"),
        (col("click_id").isNotNull && col("view_id").isNotNull).as("matched"))
  }

  def attributionFullDrain(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, dir, "q167_attr", rideWatermark = true,
        chunked = true) { (d, o) =>
      viewClickAttributionFull(read(spark, d, o), read(spark, d, o))
    }

  /** Exactly-once under replay, drained under the correctness gate
    * (q137): the same events file staged TWICE into the source dir —
    * the at-least-once delivery every file-based ingest must survive
    * (a re-uploaded batch, a retried distcp, a replayed queue segment).
    * `maxFilesPerTrigger` = one copy's file count forces the two copies
    * through separate micro-batches so the dedup STATE (not same-batch
    * collapse) does the work — while keeping the batch count at 2
    * regardless of how many part files the table has (per-FILE triggers
    * measured linear-in-files state-commit overhead at the 10×
    * rehearsal: 32 batches, 22 s; two batches cost ~3 s).
    * `dropDuplicatesWithinWatermark` on event_id reduces the doubled
    * stream back to one copy, and the drained rows are batch-aggregated
    * per event_type and hash-compared against the single-copy batch
    * aggregate. Rows of the replayed copy arriving behind the watermark
    * are dropped as late — which for a replay IS the exactly-once
    * semantics (a late duplicate must not re-count).
    *
    * The staged copies get explicit, strictly ordered modification
    * times (copy A older than copy B): the file source orders batches
    * by mtime, and same-millisecond copies could otherwise interleave
    * A/B files across micro-batches — leaving both copies of some part
    * file behind a watermark advanced by batch 1 and dropping BOTH as
    * late (an undercount, not a dedup). With the pinned ordering batch
    * 1 is exactly copy A and the result is copy A's rows under every
    * run.
    */
  def dedupReplayDrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Determinism._
    val name = s"graft_q137_dedup_${drainCounter.incrementAndGet()}"
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val stage = java.nio.file.Files.createTempDirectory("graft_q137_src")
    val t0 = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 120000L)
    val t1 = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60000L)
    def stageCopy(tag: String, mtime: java.nio.file.attribute.FileTime): Long =
      if (java.nio.file.Files.isDirectory(src)) {
        val listing = java.nio.file.Files.list(src)
        try {
          var n = 0L
          listing.forEach { p =>
            val f = p.getFileName.toString
            if (f.endsWith(".parquet")) {
              val dst = stage.resolve(s"${tag}_$f")
              java.nio.file.Files.copy(p, dst)
              java.nio.file.Files.setLastModifiedTime(dst, mtime)
              n += 1
            }
          }
          n
        } finally listing.close()
      } else {
        val dst = stage.resolve(s"$tag.parquet")
        java.nio.file.Files.copy(src, dst)
        java.nio.file.Files.setLastModifiedTime(dst, mtime)
        1L
      }
    val filesPerCopy = stageCopy("a", t0); stageCopy("b", t1)
    // a directory-shaped source with zero *.parquet files would pass
    // maxFilesPerTrigger=0 to the file source — an invalid option whose
    // failure points nowhere near the real problem (an empty source)
    require(filesPerCopy > 0,
      s"dedupReplayDrain: no *.parquet files under $src — nothing to replay")
    try {
      val fileSchema = spark.read.parquet(stage.toString).schema
      val stream = graft.sources.Tables.normalizeEventTime(
        spark.readStream.schema(fileSchema)
          .option("maxFilesPerTrigger", filesPerCopy.toString)
          .parquet(stage.toString))
      val deduped = stream
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"), col("value"))
      // both staged copies flow through the dedup state
      val nRows = spark.read.parquet(stage.toString).count()
      withStatePartitions(spark, nRows) {
        withNoDataBatchesDisabled(spark) {
          val q = runToMemory(deduped, name)
          q.stop()
        }
      }
    } finally {
      // the memory sink holds the drained rows; the staging is disposable
      val files = java.nio.file.Files.list(stage)
      try files.forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally files.close()
      java.nio.file.Files.deleteIfExists(stage)
    }
    releaseSink(spark, name)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_c"))
  }

  /** Stream-stream interval join: every view paired with the same
    * user's clicks landing within one hour AFTER it — the attribution
    * join, and the one streaming operator family the rest of this
    * package doesn't exercise. Both sides carry a 1 h watermark and the
    * join condition bounds event time on both sides, so Spark can size
    * and expire the join state (an unbounded-interval stream-stream
    * join would hold every row forever); state is proportional to one
    * watermark horizon per side, independent of stream length.
    */
  def viewClickAttribution(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"), col("ts_ns").as("v_ts_ns"))
    val c = clicks.filter(col("event_type") === "click")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"), col("ts_ns").as("c_ts_ns"))
    v.join(c, expr(
        """v_user = c_user AND
          |c_ts > v_ts AND
          |c_ts <= v_ts + INTERVAL 1 HOUR""".stripMargin))
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        (col("c_ts_ns") - col("v_ts_ns")).as("gap_ns"),
        // per-side µs truncation BEFORE subtracting: the cross-engine
        // gap (DuckDB reads the ns parquet rounded to µs, so a raw ns
        // difference is engine-specific in its last three digits)
        (expr("c_ts_ns DIV 1000") - expr("v_ts_ns DIV 1000")).as("gap_us"))
  }

  final case class PitCarry(st: String, ts_us: Long, event_id: Long)
  final case class PitFact(user_id: Long, state: String, event_type: String,
      value_c: Long)

  /** Streaming twin of the point-in-time enrichment (q190): per-user
    * keyed state holds ONLY the latest state-defining event (type +
    * its (ts_us, event_id) order key); every fact (view/click) emits
    * enriched with the state carried at that moment — the classic
    * stateful stream-enrichment machine, one tuple of state per key.
    * Rows are (ts_us, event_id)-sorted inside each group call, so
    * in-order arrival reproduces the batch window exactly; a
    * cross-batch late state event cannot retroactively re-enrich
    * already-emitted facts — the same forward-only caveat as the
    * funnel/SCD twins, and the documented trade for O(1) state.
    */
  def pitProgress(events: DataFrame): org.apache.spark.sql.Dataset[PitFact] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val stateTypes = graft.operators.EventsOps.PitStateTypes.toSet
    val typed = events
      .select(col("user_id"), col("event_type"),
        expr("ts_ns DIV 1000").as("ts_us"), col("event_id"),
        cents(col("value")).as("value_c"))
      .as[(Long, String, Long, Long, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, String, Long, Long, Long)],
            state: GroupState[PitCarry]) => {
          val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
          val out = Seq.newBuilder[PitFact]
          var cur = state.getOption.orNull
          sorted.foreach { case (_, et, ts, eid, vc) =>
            if (stateTypes.contains(et)) cur = PitCarry(et, ts, eid)
            else if (et == "view" || et == "click")
              out += PitFact(userId, if (cur == null) null else cur.st, et, vc)
          }
          if (cur != null) state.update(cur)
          out.result().iterator
        })
  }

  /** The streaming PIT twin drained under the correctness gate (q195):
    * the enriched per-fact emissions roll up to exactly the batch
    * q190 panel (same oracle SQL), so any drift between the carried
    * state and the batch `last(ignoreNulls)` window fails CORRECTNESS.
    */
  def pitDrain(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, dir, "q195_pit")(
      (d, o) => pitProgress(read(spark, d, o)).toDF())
      .groupBy(col("state"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_c")).as("value_c"))

  /** Run a streaming DataFrame to completion against the files currently
    * in the source dir, into an in-memory table (test/dev harness —
    * production would use a durable sink + checkpoint location).
    */
  def runToMemory(df: DataFrame, name: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q
  }
}
