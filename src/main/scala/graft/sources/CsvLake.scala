package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CSV source/sink with RFC 4180 quoting (q218) — the OTHER interchange
  * boundary beside JSONL (q153): partner data drops, spreadsheet
  * exports, and legacy warehouse dumps all cross it. What's graded is
  * round-trip FIDELITY through the format's specific hazard classes —
  * field separators inside values, embedded double quotes, and
  * embedded NEWLINES (the one that breaks naive line-split readers) —
  * so the audit INJECTS all three into every text value before the
  * export and proves the read-back aggregate equals the oracle's
  * prediction computed from the parquet table that never left.
  *
  * Scale notes: writing stays one shard per task. Reading quoted
  * multi-line CSV requires `multiLine`, which makes each FILE one
  * split (records can cross line boundaries, so Spark cannot split
  * within a file) — parallelism then comes from the shard COUNT, which
  * the export already provides; schema is DECLARED, never inferred
  * (q153 rule). Escape is set to the quote char on both sides — the
  * RFC 4180 doubled-quote convention — so any reader disagreement on
  * escaping breaks the hash gate rather than passing silently.
  */
object CsvLake {

  /** Hazard suffix appended to every text value: separator, quote,
    * newline. Kept as a constant so the oracle replays the exact
    * bytes.
    */
  val HazardSuffix = " x,\"y\nz"

  val DocumentsCsvSchemaDdl =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** Writer/reader both pin `ignoreLeadingWhiteSpace` /
    * `ignoreTrailingWhiteSpace` to false: Spark's CSV defaults TRIM
    * unquoted values on BOTH sides (univocity), which silently mutates
    * any value with edge whitespace — the spec's round-trip caught it.
    */
  def writeCsv(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)

  def readCsv(spark: SparkSession, dir: String, schemaDdl: String): DataFrame =
    spark.read.schema(StructType.fromDDL(schemaDdl))
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)

  /** q218: CSV round-trip fidelity audit (the q153 shape across the
    * CSV boundary, hazards injected). Aggregates the READ-BACK rows
    * per (source, lang): counts, key and length sums, and the
    * md5-prefix XOR fingerprint over the hazard-carrying text bodies.
    */
  def roundtripAudit(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.lake.LakeFs.scratchRoot(spark, "q218_csv", dir)
    roundtripAuditFor(Tables.documents(spark, dir), out)
  }

  def roundtripAuditFor(docs: DataFrame, out: String): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val hazarded = docs
      .withColumn("text", concat(col("text"), lit(HazardSuffix)))
    writeCsv(hazarded, out)
    readCsv(spark, out, DocumentsCsvSchemaDdl)
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(length(col("text")).cast("long")).as("len_sum"),
        expr(
          s"bit_xor(${graft.functions.GraftFunctions.Md5PrefixName}(text, 12))")
          .as("text_fp_xor"))
  }
}
