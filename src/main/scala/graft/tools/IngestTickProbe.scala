package graft.tools

import graft.GraftSession
import graft.operators.AnnIndex
import graft.operators.AnnIndex.Layout.HierPq

/** Measurement main pricing the DEPLOYMENT's marginal ingest tick on
  * the hier-PQ incremental artifact (q269): the graded panel
  * necessarily rebuilds its base every invocation (the oracle must
  * replay it), so the bench number conflates two terms a deployment
  * never pays together — the one-time base build and the per-tick
  * delta. This separates them: one full build-plus-ingest, then N
  * delta-only reapplications against the committed artifact (model and
  * codebook re-read from it, the exact shape of the reference's
  * 5-minute tick, `airflow/dags/hadoop_dag.py:115-118`). Emits one
  * JSON line per measurement; results land in BASELINE.md.
  *
  * Usage: IngestTickProbe <sfDir> [ticks]   (env: SPARK_GRAFT_CPUS)
  */
object IngestTickProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val ticks = if (args.length > 1) args(1).toInt else 2
    val spark =
      GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    val variant = sys.env.getOrElse("SPARK_GRAFT_TICK_VARIANT", "all")
    if (variant == "all") {
      val full = timed(
        AnnIndex.ingest(spark, sfDir, HierPq, "_inc", 900000L)
          .write.format("noop").mode("overwrite").save())
      println(f"""{"probe":"hierpq_full_build_plus_ingest","sec":$full%.1f,"sf":"$sfDir"}""")
      (1 to ticks).foreach { i =>
        val t = timed(
          AnnIndex.replayIngest(spark, sfDir, HierPq, "_inc", 900000L)
            .write.format("noop").mode("overwrite").save())
        println(f"""{"probe":"hierpq_tick","n":$i,"sec":$t%.1f,"sf":"$sfDir"}""")
      }
    }
    // the SPARSE (>=0.999 split) twin: the tick shape a 5-minute
    // cadence actually pays — touched buckets << nlist, so the
    // reapplication prices the map-only delta + a handful of bucket
    // upserts instead of near-wholesale occupancy
    if (variant != "probe") {
      val sparseFull = timed(
        AnnIndex.ingest(spark, sfDir, HierPq, "_inc_sparse", 999000L)
          .write.format("noop").mode("overwrite").save())
      println(f"""{"probe":"hierpq_sparse_build_plus_ingest","sec":$sparseFull%.1f,"sf":"$sfDir"}""")
      (1 to ticks).foreach { i =>
        val t = timed(
          AnnIndex.replayIngest(spark, sfDir, HierPq, "_inc_sparse", 999000L)
            .write.format("noop").mode("overwrite").save())
        println(f"""{"probe":"hierpq_sparse_tick","n":$i,"sec":$t%.1f,"sf":"$sfDir"}""")
      }
    }
    // extra probe splits (env, comma-separated ppm values): price the
    // touched-bucket law CURVE — at splits where arrivals << nlist the
    // tick must collapse toward the map-only delta cost
    sys.env.get("SPARK_GRAFT_TICK_SPLITS").toSeq
      .flatMap(_.split(',')).map(_.trim.toLong).foreach { split =>
        val bld = timed(
          AnnIndex.ingest(spark, sfDir, HierPq, s"_inc_probe_$split", split)
            .write.format("noop").mode("overwrite").save())
        println(f"""{"probe":"hierpq_probe_build","split":$split,"sec":$bld%.1f,"sf":"$sfDir"}""")
        (1 to ticks).foreach { i =>
          val t = timed(
            AnnIndex.replayIngest(spark, sfDir, HierPq, s"_inc_probe_$split",
              split)
              .write.format("noop").mode("overwrite").save())
          println(f"""{"probe":"hierpq_probe_tick","split":$split,"n":$i,"sec":$t%.1f,"sf":"$sfDir"}""")
        }
      }
    spark.stop()
  }
}
