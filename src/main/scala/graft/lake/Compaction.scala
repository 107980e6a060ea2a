package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, year}

/** Small-file compaction + sort-order layout for lake partitions — the
  * maintenance half of a 100 TB lakehouse. Streaming and incremental
  * commits accumulate many small parquet files per partition; scan cost
  * then tracks file COUNT (task scheduling, footer reads, no intra-file
  * locality), not data size. Compaction rewrites a partition into
  * ~`targetBytes` files, optionally range-partitioned and sorted on a
  * key so parquet min/max stats become selective (the "z-order lite"
  * single-dimension layout); the rewrite commits through
  * [[AtomicPartitionWriter]], so readers never see a half-compacted
  * partition and a crashed compaction rolls back.
  *
  * Scale design: planning is pure file-listing metadata; each
  * partition's rewrite is an independent job (parallelize across
  * partitions on the driver as needed), and the sorted layout uses
  * `repartitionByRange` + `sortWithinPartitions` — a sampled range
  * exchange, never a single-task global sort.
  */
class Compaction(fs: LakeFs, spark: SparkSession) {

  /** Per-partition compaction need, from listing metadata only. */
  final case class PartitionPlan(
      partition: String, nFiles: Int, totalBytes: Long, targetFiles: Int) {
    def worthCompacting: Boolean = nFiles > targetFiles
  }

  /** Inventory `tableDir`'s `<col>=<value>` partitions and size each
    * one's rewrite as ceil(bytes / targetBytes) files (min 1).
    */
  def plan(tableDir: String, targetBytes: Long): Seq[PartitionPlan] = {
    if (!fs.exists(tableDir)) return Seq.empty
    fs.fs.listStatus(new Path(tableDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .filterNot(s => s.getPath.getName.endsWith("_tmp") ||
        s.getPath.getName.endsWith("_old"))
      .map(s => planPartition(s.getPath.toUri.getPath, targetBytes))
      .sortBy(_.partition)
  }

  /** Size ONE partition directory's rewrite — listing metadata only.
    * `partition` in the result is scheme-stripped (`toUri.getPath`), so
    * plans compare equal whether the caller passed `hdfs://nn/t` or
    * `/t`.
    */
  def planPartition(partDir: String, targetBytes: Long): PartitionPlan = {
    val dataFiles = fs.files(partDir).filter(_.getPath.getName.endsWith(".parquet"))
    val bytes = dataFiles.map(_.getLen).sum
    PartitionPlan(
      new Path(partDir).toUri.getPath, dataFiles.size, bytes,
      math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt))
  }

  /** Rewrite one year partition into `targetFiles(plan)` files, sorted
    * within each output file by `sortCols` when given (range-partitioned
    * across files, so per-file min/max are near-disjoint and a filter on
    * the sort key prunes whole files). Commits via the atomic swap.
    */
  def compactYear(tableDir: String, year: Int, targetBytes: Long,
      sortCols: Seq[String] = Nil, table: Option[String] = None): PartitionPlan = {
    // Size only the target partition (not a full-table listing), and go
    // through Path so a scheme-qualified tableDir (hdfs://nn/t) works.
    val part = s"$tableDir/year=$year"
    if (!fs.exists(part))
      throw new IllegalArgumentException(s"no partition $part")
    val p = planPartition(part, targetBytes)
    val df = spark.read.parquet(part)
    val laidOut =
      if (sortCols.isEmpty) df.repartition(p.targetFiles)
      else df
        .repartitionByRange(p.targetFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    new AtomicPartitionWriter(fs, spark).write(laidOut, tableDir, year, table)
    p
  }
}

/** Shared planning arithmetic + the oracle-graded plan audit (q156).
  *
  * [[Compaction.plan]] sizes rewrites from BYTES (the production
  * signal); bytes are an artifact of parquet encoding, so the
  * cross-engine graded twin plans from ROW counts with the identical
  * ceil-div law — same formula, oracle-replayable input. The audit
  * stages a deliberately fragmented table (16 hash shards per year
  * partition — the shape a streaming/incremental writer leaves behind),
  * then reads the REAL filesystem back: file counts from the listing,
  * row counts from parquet footers — both driver-side metadata reads,
  * never a data scan. The oracle predicts both from the source table
  * (the shard rule is the engine-portable md5 bucket), so a file the
  * writer dropped, doubled, or mis-binned breaks the gate.
  */
object Compaction {

  /** Logical rows-per-output-file target for [[planRowsAudit]]. */
  val RowsPerFileTarget = 1024L

  /** Hash-shard count the audit fragments each partition into. */
  val SmallFileShards = 16L

  /** The planning law shared by byte- and row-based sizing:
    * ceil(total / perFile), min 1.
    */
  def targetFilesFor(total: Long, perFile: Long): Long =
    math.max(1L, (total + perFile - 1L) / perFile)

  /** q156: compaction-plan audit over a real fragmented table. One row
    * per year partition: files on disk, rows from footers, the planned
    * rewrite width, and whether compaction is worth scheduling.
    */
  /** Staging dir for the q156 fragmented table. The app-id segment is
    * unique across runs so concurrent Verify/Bench over the same SF
    * can't list each other's mid-overwrite table; exposed so the spec
    * audits the exact directory the operator staged.
    */
  def q156StagingDir(spark: SparkSession, dir: String): String =
    LakeFs.scratchRoot(spark, "q156_lake", dir)

  def planRowsAudit(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val tableDir = q156StagingDir(spark, dir)
    // Fragmented stage: shard = portable md5 bucket; repartition on the
    // (year, shard) leaf key so every leaf dir is exactly one file and
    // the oracle can predict the file count as COUNT(DISTINCT shard).
    graft.sources.Tables.orders(spark, dir)
      .withColumn("year", year(col("o_orderdate")).cast("long"))
      .withColumn("shard", expr(
        s"${graft.functions.GraftFunctions.Md5PrefixName}(" +
          s"CAST(o_orderkey AS STRING), 8) % $SmallFileShards"))
      .repartition(col("year"), col("shard"))
      .write.mode("overwrite").partitionBy("year", "shard").parquet(tableDir)
    val parts = new Compaction(LakeFs.forSpark(spark), spark)
      .plan(tableDir, Long.MaxValue)
      .filter(_.partition.matches(".*year=\\d+$"))
    val rows = parts.zip(Footers.counts(spark, parts.map(_.partition))).map {
      case (p, (_, nRows)) =>
        val target = targetFilesFor(nRows, RowsPerFileTarget)
        (p.partition.replaceAll(".*year=", "").toLong,
          p.nFiles.toLong, nRows, target, p.nFiles > target)
    }
    spark.createDataFrame(rows)
      .toDF("year", "n_files", "n_rows", "target_files", "worth_compacting")
  }

  /** Staging dir for the q216 executed-compaction table (q156 rule). */
  def q216StagingDir(spark: SparkSession, dir: String): String =
    LakeFs.scratchRoot(spark, "q216_lake", dir)

  /** Executed-compaction audit (q216) — q156 PLANS the rewrite, this
    * RUNS it and grades the outcome: stage the same 16-shards-per-year
    * fragmented table, rewrite EVERY year partition to the row-law
    * width (`repartition(target)` — explicit, so AQE never coalesces
    * it) through the [[AtomicPartitionWriter]] swap, then read the
    * REAL filesystem back. The oracle predicts the whole panel from
    * the source table: files_before from the md5 shard rule, the
    * target from the ceil-div law, files_after = target (a writer that
    * drops, doubles, or mis-bins a file breaks the gate), and content
    * preservation via per-year row counts and a bit_xor key checksum
    * computed from the POST-compaction table.
    *
    * Scale: per-partition rewrites are independent jobs over one
    * partition's data each; listing and footer reads are driver-side
    * metadata IO (one bounded fan-out, the q156 lesson); the checksum
    * pass is one scan of the compacted table.
    */
  def execRowsAudit(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val tableDir = q216StagingDir(spark, dir)
    graft.sources.Tables.orders(spark, dir)
      .withColumn("year", year(col("o_orderdate")).cast("long"))
      .withColumn("shard", expr(
        s"${graft.functions.GraftFunctions.Md5PrefixName}(" +
          s"CAST(o_orderkey AS STRING), 8) % $SmallFileShards"))
      .repartition(col("year"), col("shard"))
      .write.mode("overwrite").partitionBy("year", "shard").parquet(tableDir)
    val lakeFs = LakeFs.forSpark(spark)
    val writer = new AtomicPartitionWriter(lakeFs, spark)
    val years = new Compaction(lakeFs, spark).plan(tableDir, Long.MaxValue)
      .filter(_.partition.matches(".*year=\\d+$"))
      .map(_.partition.replaceAll(".*year=", "").toLong)
    // pre-counts first (driver metadata IO, one flat fan-out across
    // every year — see Footers.counts), then ALL year rewrites staged
    // as overlapping jobs under one lease (guide §2.6 — the serial
    // per-year write paid one full job latency per partition), then
    // post-counts: same per-year panel, ~1/4 the wall clock
    val yearDirs = years.map(y => s"$tableDir/year=$y")
    val pre = years.zip(Footers.counts(spark, yearDirs)).map {
      case (y, (filesBefore, nRows)) =>
        (y, filesBefore, nRows, targetFilesFor(nRows, RowsPerFileTarget))
    }
    // rewrite keeps `shard` as a plain data column so the compacted
    // table has ONE uniform layout (year=... dirs of flat files)
    writer.writeYears(
      pre.map { case (y, _, _, target) =>
        y.toInt -> spark.read.parquet(s"$tableDir/year=$y")
          .repartition(target.toInt)
      }, tableDir)
    val panel = pre.zip(Footers.counts(spark, yearDirs)).map {
      case ((y, filesBefore, nRows, target), (filesAfter, _)) =>
        (y, filesBefore, nRows, target, filesAfter)
    }
    val checks = spark.read.parquet(tableDir)
      .groupBy(col("year"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_rows_after"),
        expr("bit_xor(o_orderkey)").as("id_xor"))
    spark.createDataFrame(panel)
      .toDF("year", "files_before", "n_rows", "target_files", "files_after")
      .join(checks, Seq("year"))
  }
}
