package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Determinism
import graft.sources.Tables

/** Schema-evolution read reconciliation (q212) — the lake operation
  * every long-lived table eventually needs: snapshots written months
  * apart carry DIFFERENT schemas (columns added, columns retired), and
  * the engine must read the union WITHOUT a migration rewrite. Spark's
  * answer is parquet `mergeSchema` over a partitioned layout: each
  * file keeps its own footer schema, the scan unifies by NAME, and
  * columns absent from a file surface as NULL — the audit panel then
  * proves, per snapshot version, exactly which columns carry values
  * and that the carried values survived the boundary (checksums, not
  * just presence counts).
  *
  * Scale: the staged table is written partitioned by version and read
  * back through the normal vectorized parquet scan — mergeSchema costs
  * one footer read per FILE at planning time, not a data pass; the
  * panel itself is one hash-aggregate on the version column (which is
  * a partition column, so the groupBy never touches row data for its
  * key). The staging path carries the Spark application id (the q156
  * rule) so concurrent runs over the same SF cannot read each other's
  * mid-overwrite state.
  */
object SchemaEvolution {

  /** Staging dir for the two-version table (app-id segment: see q156). */
  def stagingDir(spark: SparkSession, dir: String): String =
    LakeFs.scratchRoot(spark, "q212_schema", dir)

  /** Stage two snapshot versions of an orders-derived table and audit
    * the merged read. v=1 (even order keys) has (id, price_c,
    * priority); v=2 (odd keys) RETIRES priority and ADDS y — the
    * classic add/drop pair. Output: one row per version with row,
    * per-column non-null counts, and value checksums.
    */
  def mergedReadAudit(spark: SparkSession, dir: String): DataFrame = {
    val base = stagingDir(spark, dir)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("id"),
        Determinism.cents(col("o_totalprice")).as("price_c"),
        col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).cast("long").as("y"))
    orders.filter(col("id") % 2 === 0)
      .select(col("id"), col("price_c"), col("priority"))
      .write.mode("overwrite").parquet(s"$base/v=1")
    orders.filter(col("id") % 2 === 1)
      .select(col("id"), col("price_c"), col("y"))
      .write.mode("overwrite").parquet(s"$base/v=2")
    spark.read.option("mergeSchema", "true").parquet(base)
      .groupBy(col("v").cast("long").as("v"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("price_c")).as("n_price"),
        count(col("priority")).as("n_priority"),
        count(col("y")).as("n_year"),
        sum(col("price_c")).as("price_sum_c"),
        sum(coalesce(col("y"), lit(0L))).as("year_sum"))
  }
}
