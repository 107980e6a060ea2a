package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration.
  *
  * - `shuffle.partitions` sized to the core count, not the 200 default
  *   (local mode; on a real cluster AQE coalesces anyway).
  * - AQE on: runtime re-planning (skew-join split, partition coalescing)
  *   is part of the 100 TB design.
  * - `nanosAsLong`: the lakehouse `events` table carries TIMESTAMP(NANOS)
  *   which Spark 4 otherwise refuses; [[graft.sources.Tables]] re-derives
  *   a microsecond timestamp column from the long.
  * - UTC session time zone for cross-engine (DuckDB oracle) parity.
  */
object GraftSession {
  def builder(master: String = "local[*]", cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      // native expressions registered through the extensions hook: they
      // reach every derived session (incl. Thrift-served ones), not just
      // the ones that call GraftFunctions.ensureRegistered
      .withExtensions(new graft.functions.GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // generated-code cache (static conf, default 100 entries): the
      // engine's surface is hundreds of distinct query shapes, so at the
      // default every repeated execution re-runs Janino compilation for
      // every codegen unit — pure fixed overhead on a serving deployment
      // exactly as in the bench. 4096 entries holds the whole surface;
      // entries are weak-referenced compiled classes, small next to the
      // driver heap.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // split size: at 100 TB this is the lever that keeps scan tasks
      // ~uniform and partitions within executor memory; 128m default made
      // explicit so it is tuned deliberately, not inherited
      .config("spark.sql.files.maxPartitionBytes", "128m")
      // joins: preferSortMergeJoin deliberately stays at its default
      // (true). Round-16 within-ONE-session A/B (TimeLab `confab`;
      // the conf is a runtime SQLConf) measured the shuffled-hash
      // preference REGRESSING the join-heavy surface ~10% (12-query
      // slice: SMJ 23.0 s vs SHJ 25.3 s min-of-2; q224 4.2→5.6) —
      // the hash build + lost output sortedness cost more than the
      // skipped sorts at these shuffle sizes. Two earlier cross-session
      // A/Bs had shown the OPPOSITE, i.e. they measured JVM/session
      // variance, not the conf (guide §1: measure correctly).
      // ANSI mode pinned explicitly (Spark 4 default): arithmetic faults
      // (div-by-zero, overflow, bad casts) ABORT rather than silently
      // yielding NULL. Queries guard data-dependent denominators
      // identically on both engines instead of relying on NULL semantics.
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  def local(cpus: Int): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
