package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSON-lines source/sink — the interchange format of training-data
  * pipelines (every public corpus release — C4, The Pile, RedPajama,
  * Dolma — ships as compressed JSONL shards). The engine's lake is
  * parquet; this is the boundary where corpora ENTER and LEAVE it, so
  * what's graded is round-trip FIDELITY: parquet → JSONL shards →
  * declared-schema read-back must be value-identical, including every
  * JSON escape class (quotes, backslashes, control chars, non-ASCII).
  *
  * Scale design: both directions are plain distributed scans — the
  * writer emits one shard per task (no coalesce; shard count follows
  * input partitioning), the reader takes a DECLARED schema (never
  * `inferSchema` — schema inference is an extra full pass over 100 TB
  * and type-unstable across shards; the contract schema is fixed).
  * Long/string columns only cross this boundary in the graded query:
  * floats are NOT JSON-round-trip-safe in general (decimal rendering),
  * which is a documented property of the format, not of the engine —
  * the embeddings table stays in parquet.
  */
object JsonLake {

  /** Documents contract schema for [[roundtripAudit]] — declared, not
    * inferred (never run inference at scale; also keeps read-back
    * column types independent of per-shard value shapes).
    */
  val DocumentsSchemaDdl =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** Write `df` as uncompressed JSONL shards under `dir` (overwrite —
    * idempotent re-runs).
    */
  def writeJsonl(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  /** Read JSONL shards under `dir` with a declared DDL schema. */
  def readJsonl(spark: SparkSession, dir: String, schemaDdl: String): DataFrame =
    spark.read.schema(StructType.fromDDL(schemaDdl)).json(dir)

  /** q153: JSONL round-trip fidelity audit. Exports the documents
    * table to JSONL shards, reads them back with the declared schema,
    * and aggregates the READ-BACK rows per (source, lang): counts, key
    * and length sums, and an md5-prefix fingerprint XOR over the text
    * bodies (bit_xor, the [[graft.lake.TableDiff]] checksum rule — a
    * SUM of 48-bit fingerprints wraps a long silently over millions of
    * keys while DuckDB's SUM promotes to HUGEINT, so the gate would
    * diverge exactly when the corpus gets big; XOR is closed on the
    * domain at any scale). The oracle computes the same aggregate from
    * the parquet table it never exported — so any corruption the JSON
    * boundary introduces (escape handling, unicode transcoding,
    * newline-in-text splitting, schema drift) breaks the hash gate.
    */
  def roundtripAudit(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val out = graft.lake.LakeFs.scratchRoot(spark, "q153_jsonl", dir)
    writeJsonl(Tables.documents(spark, dir), out)
    readJsonl(spark, out, DocumentsSchemaDdl)
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("chars_sum"),
        sum(length(col("text")).cast("long")).as("len_sum"),
        expr(
          s"bit_xor(${graft.functions.GraftFunctions.Md5PrefixName}(text, 12))")
          .as("text_fp_xor"))
  }
}
