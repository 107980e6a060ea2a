package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.sources.Tables

/** Full-probe identity of the exact IVF search: when the probes cover
  * every bucket, candidate generation drops nothing but the query
  * itself, so probe → quantized cosine → top-k must return exactly the
  * brute-force top-5 rows (same scorer, same cos_ppm desc / vec_id asc
  * order). The recall audits only measure how close the probed searches
  * come; this pins the pipeline where the answer is known.
  */
class FullProbeSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.select("q_id", "neighbor_id", "cos_ppm", "rank").collect()
      .map(_.toString).sorted.toSeq

  private lazy val brute = rows(Similarity.bruteForceKnn(spark, sf))

  test("flat: nprobe = nlist returns exactly the brute-force top-5") {
    assert(brute.size == 25, "5 queries × top-5 at sf0.001")
    val nlist = Similarity.nlistFor(
      Tables.rowCountFromFooters(spark, sf, "embeddings"))
    assert(rows(Similarity.ivfKnnFor(spark, sf, nlist, nprobe = nlist)) == brute)
  }

  test("two-level: every cell and every fine centroid probed returns " +
      "exactly the brute-force top-5") {
    Similarity.withFns(spark)
    val m = Similarity.hierModel(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val routed = Similarity.withHierBucket(emb, m, "embedding")
      .select(col("vec_id"), col("embedding"), col("bucket"))
    // rows of an empty coarse cell route to bucket −1, which no probe
    // reaches; the identity needs every row in a fine bucket
    assert(routed.filter(col("bucket") < 0).count() == 0)
    val everyBucket = Similarity.Routing.TwoLevel(m,
      cprobe = m.coarse.size, perCell = m.cells.map(_.size).max)
    val probed = Similarity.probe(Similarity.queries(emb), everyBucket, Seq("q_id"))
      .groupBy(col("q_id")).agg(countDistinct(col("bucket")).as("n"))
      .collect().map(_.getLong(1)).toSeq
    assert(probed.size == 5 && probed.forall(_ == m.cells.map(_.size).sum),
      "each query probes every fine bucket")
    assert(rows(Similarity.exactSearch(routed, Similarity.queries(emb),
      everyBucket)) == brute)
  }
}
