package graftbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded relational tables in the schema and value domains of the
  * engine's test corpus (`region`, `nation`, `customer`, `supplier`,
  * `part`, `orders`, `lineitem`), written as one Parquet file per table
  * under `<dir>/<table>.parquet`. Timestamps are written without a time
  * zone (`TIMESTAMP_NTZ`), as in the corpus, so Spark and DuckDB read the
  * same values. Row counts follow the corpus: `sf` 0.1 is 600k lineitems.
  */
object TpchGen {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("blue", "old", "small", "new", "large", "hot", "cold", "red")
  private val Nouns = Seq("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val OrderStart = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val ShipStart = LocalDateTime.of(1995, 1, 2, 0, 0)

  private def f(name: String, t: DataType) = StructField(name, t)

  def rowCounts(sf: Double): Map[String, Int] = Map(
    "region" -> 5, "nation" -> 25,
    "customer" -> math.max(10, (150000 * sf).round.toInt),
    "supplier" -> math.max(10, (10000 * sf).round.toInt),
    "part" -> math.max(10, (200000 * sf).round.toInt),
    "orders" -> math.max(10, (1500000 * sf).round.toInt),
    "lineitem" -> math.max(10, (6000000 * sf).round.toInt))

  /** The rows and schema of every table; the same seed gives the same rows. */
  def tables(sf: Double, seed: Long): Seq[(String, StructType, Seq[Row])] = {
    val n = rowCounts(sf)
    def rng(t: String) = new SplittableRandom(seed * 31L + t.hashCode)
    def money(r: SplittableRandom, lo: Long, hi: Long) = (lo + r.nextLong(hi - lo + 1)) / 100.0
    def pick[T](r: SplittableRandom, xs: Seq[T]) = xs(r.nextInt(xs.size))
    val region = Regions.zipWithIndex.map { case (name, k) => Row(k, name) }
    val nation = (0 until 25).map(k => Row(k, s"NATION_$k", k % 5))
    val customer = { val r = rng("customer"); (0 until n("customer")).map(k =>
      Row(k.toLong, f"Customer#$k%09d", r.nextInt(25), money(r, -99999, 999999), pick(r, Segments))) }
    val supplier = { val r = rng("supplier"); (0 until n("supplier")).map(k =>
      Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25), money(r, -99999, 999999))) }
    val part = { val r = rng("part"); (0 until n("part")).map(k =>
      Row(k.toLong, s"${pick(r, Adjectives)} ${pick(r, Nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, PartTypes), 1 + r.nextInt(50), 900.0 + (k % 1000) / 10.0)) }
    val orders = { val r = rng("orders"); (0 until n("orders")).map(k =>
      Row(k.toLong, r.nextLong(n("customer")), pick(r, Seq("F", "O", "P")),
        money(r, 100000, 50000000), OrderStart.plusDays(r.nextInt(2404)),
        pick(r, Priorities))) }
    val lineitem = { val r = rng("lineitem"); (0 until n("lineitem")).map(_ =>
      Row(r.nextLong(n("orders")), r.nextLong(n("part")), r.nextLong(n("supplier")),
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 90000, 10500000),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
        pick(r, Seq("F", "O")), ShipStart.plusDays(r.nextInt(2498)))) }
    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        customer),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))), lineitem))
  }

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long,
      only: Seq[String] = Tables): Unit =
    tables(sf, seed).filter(t => only.contains(t._1)).foreach { case (name, schema, rows) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
