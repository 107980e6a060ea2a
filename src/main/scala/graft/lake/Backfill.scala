package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Determinism
import graft.sources.Tables

/** Version-driven selective backfill (q234) — the lake operation every
  * pipeline-code bump forces: find the partitions still written by the
  * OLD pipeline version, rebuild ONLY those through the atomic swap,
  * in bounded parallel waves, and prove afterwards that the whole
  * table is at the current version with correct contents.
  *
  * The reference's analog is the manual "re-run the year" flow around
  * `jobs/etl.py` + `jobs/utils/versioning.py:35` (KEEP_VERSIONS
  * snapshots exist precisely so a bad code version can be backfilled);
  * this operator makes the selection + wave batching + rewrite a
  * single graded relation instead of an operator-runbook.
  */
object Backfill {

  /** Stale partitions rebuilt per wave — the concurrency budget a real
    * cluster gives a backfill so it cannot starve the live pipeline.
    */
  val WaveCap = 4L

  /** The current pipeline code version; staged partitions with an
    * older version are stale.
    */
  val PipelineVersion = 2L

  /** Staging dir, app-id-isolated (the q156 single-writer rule). */
  def q234StagingDir(spark: SparkSession, dir: String): String =
    LakeFs.scratchRoot(spark, "q234_lake", dir)

  /** q234: stage a year-partitioned orders table where even years
    * carry the OLD version's bug (price_c written as 0) and odd years
    * are current; then plan waves over the stale set (year ASC,
    * [[WaveCap]] per wave), execute each wave's rewrites through
    * [[AtomicPartitionWriter]] (recomputing price_c from the source
    * column — the "new code"), bump the per-partition version sidecar,
    * and grade the POST-backfill ledger: version_before from the
    * parity rule, version_after read back from the sidecars (all at
    * [[PipelineVersion]]), the wave each partition rode (0 = never
    * stale), per-year rows and the now-correct price sum.
    *
    * The oracle predicts every column from the source table alone — a
    * backfill that skips a partition, rewrites a fresh one, mis-orders
    * waves, or fails to fix the data breaks the hash.
    *
    * Scale: stale selection and wave assignment are partition-ledger
    * algebra (metadata-sized); each rewrite is an independent
    * one-partition job bounded by the wave cap; the final audit is one
    * scan of the backfilled table.
    */
  def backfillExec(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = q234StagingDir(spark, dir)
    val lakeFs = LakeFs.forSpark(spark)
    val writer = new AtomicPartitionWriter(lakeFs, spark)
    val src = Tables.orders(spark, dir)
      .withColumn("year", year(col("o_orderdate")).cast("long"))
      .withColumn("price_ok", Determinism.cents(col("o_totalprice")))
    // stage: the old version (even years) wrote price_c = 0
    src.withColumn("price_c",
        when(col("year") % 2L === 0L, lit(0L)).otherwise(col("price_ok")))
      .drop("price_ok")
      .repartition(col("year"))
      .write.mode("overwrite").partitionBy("year").parquet(tableDir)
    // the partition set, from the table root's `year=N` directories
    // (the REAL lake state, not the source assumption)
    val YearDir = "year=(\\d+)".r
    val years = lakeFs.fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case YearDir(y) => y.toLong }.sorted
    def sidecar(y: Long) = s"$tableDir/year=$y/_pipeline_version.json"
    years.foreach { y =>
      val v = if (y % 2 == 0) 1L else PipelineVersion
      lakeFs.writeString(sidecar(y), s"""{"version":$v}""")
    }
    // plan: stale partitions in year order, WaveCap per wave (wave 0 =
    // not stale, untouched)
    val stale = years.filter(_ % 2 == 0)
    val waveOf: Map[Long, Long] =
      stale.zipWithIndex.map { case (y, i) => y -> (i / WaveCap + 1L) }.toMap
    waveOf.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, parts) =>
      parts.keys.toSeq.sorted.foreach { y =>
        // the new code: recompute price_c from the source column
        val fixed = spark.read.parquet(s"$tableDir/year=$y")
          .withColumn("price_c", Determinism.cents(col("o_totalprice")))
        writer.write(fixed, tableDir, y.toInt)
        lakeFs.writeString(sidecar(y), s"""{"version":$PipelineVersion}""")
      }
    }
    val versionAfter = years.map { y =>
      val s = lakeFs.readString(sidecar(y))
      y -> "\"version\":(\\d+)".r.findFirstMatchIn(s).get.group(1).toLong
    }.toMap
    val ledger = spark.createDataFrame(years.map { y =>
      (y, if (y % 2 == 0) 1L else PipelineVersion, versionAfter(y),
        waveOf.getOrElse(y, 0L))
    }).toDF("year", "version_before", "version_after", "wave")
    val audit = spark.read.parquet(tableDir)
      .groupBy(col("year"))
      .agg(count(lit(1)).as("n_rows"), sum(col("price_c")).as("total_c"))
    ledger.join(audit, Seq("year"))
      .select(col("year"), col("version_before"), col("version_after"),
        col("wave"), col("n_rows"), col("total_c"))
  }
}
