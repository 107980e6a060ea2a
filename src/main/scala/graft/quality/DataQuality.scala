package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality gate (reference X4 — `jobs/data_quality.py:105-144`):
  * five checks with fatal (❌ skip the load) vs warning (⚠️ load anyway)
  * severity, mirroring the reference's matrix (`README.md:237-245`).
  *
  * Scale note: the reference `collect()`s whole columns to the driver for
  * the date-format and monotonic checks (`jobs/data_quality.py:56,95`);
  * here every check is a DataFrame expression with `limit`ed violation
  * sampling, so the gate runs at any scale. Violation samples are capped
  * at 3, matching the reference (`jobs/data_quality.py:83`).
  */
object DataQuality {

  sealed trait Severity
  case object Fatal extends Severity
  case object Warning extends Severity

  final case class CheckResult(
      name: String,
      severity: Severity,
      passed: Boolean,
      messages: Seq[String]) {
    def blocking: Boolean = !passed && severity == Fatal
  }

  final case class Report(results: Seq[CheckResult]) {
    def fatalFailed: Boolean = results.exists(_.blocking)
    def warnings: Seq[CheckResult] =
      results.filter(r => !r.passed && r.severity == Warning)
    def render: String = results.map { r =>
      val tag =
        if (r.passed) "PASS"
        else if (r.severity == Fatal) "FATAL"
        else "WARN"
      s"[$tag] ${r.name}" +
        (if (r.messages.nonEmpty) r.messages.mkString(": ", "; ", "") else "")
    }.mkString("\n")
  }

  val SampleLimit = 3
  private val MonthRe = "^\\d{4}-\\d{2}$"
  val DateSentinels = Seq("all-year-budget", "total spent", "remaining")

  /** Missing columns fatal, extra columns warning (reference
    * `jobs/data_quality.py:31-40`).
    */
  def checkSchema(df: DataFrame, expected: Seq[String]): Seq[CheckResult] = {
    val actual = df.columns.toSet
    val missing = expected.filterNot(actual)
    val extra = (actual -- expected.toSet).toSeq.sorted
    Seq(
      CheckResult("schema/missing-columns", Fatal, missing.isEmpty,
        if (missing.isEmpty) Nil else Seq(s"missing: ${missing.mkString(",")}")),
      CheckResult("schema/extra-columns", Warning, extra.isEmpty,
        if (extra.isEmpty) Nil else Seq(s"extra: ${extra.mkString(",")}")))
  }

  /** Non-sentinel `date` values must match YYYY-MM (reference
    * `jobs/data_quality.py:54-65`).
    */
  private def badDate(date: Column): Column =
    date.isNotNull && !date.rlike(MonthRe) &&
      !date.isin(DateSentinels.map(lit(_)): _*)

  /** Declared total off the horizontal coalesce-sum by more than ±1%
    * (reference `jobs/data_quality.py:68-88`).
    */
  private def offTotal(total: Column, computed: Column): Column =
    total.isNotNull && abs(total - computed) > abs(total) * 0.01

  private def computedTotal(amountCols: Seq[String]): Column =
    amountCols.map(c => coalesce(col(c), lit(0.0))).reduceOption(_ + _)
      .getOrElse(lit(0.0))

  /** The date-format check's violation sample: up to [[SampleLimit]]
    * distinct bad values.
    */
  def checkDateFormat(df: DataFrame, dateCol: String = "date"): CheckResult = {
    val bad = df.filter(badDate(col(dateCol)))
      .select(col(dateCol)).distinct().limit(SampleLimit)
      .collect().map(_.getString(0))
    CheckResult("format/date", Fatal, bad.isEmpty,
      bad.map(v => s"bad date value: '$v'"))
  }

  /** The total-tolerance check's violation sample (Warning severity):
    * up to [[SampleLimit]] off-total rows.
    */
  def checkTotalTolerance(
      df: DataFrame, totalCol: String, amountCols: Seq[String]): CheckResult = {
    val bad = df
      .withColumn("__computed", computedTotal(amountCols))
      .filter(offTotal(col(totalCol), col("__computed")))
      .select(col("date"), col(totalCol), col("__computed"))
      .limit(SampleLimit).collect()
      .map(r => s"${r.get(0)}: declared=${r.get(1)} computed=${r.get(2)}")
    CheckResult("tolerance/total-amount", Warning, bad.isEmpty, bad.toSeq)
  }

  /** Monthly `remaining` must be non-increasing (reference
    * `jobs/data_quality.py:91-102`), rewritten from the reference's
    * driver-side loop into a lag window (SURVEY W1).
    */
  def checkRemainingMonotonic(
      df: DataFrame, totalCol: String = "total_amount"): CheckResult = {
    // secondary sort makes tied months deterministic (late-data rebuilds
    // can carry duplicate dates). Partitioned by the date's year: the
    // reference gates one year-file at a time, so per-year windows keep
    // its semantics while avoiding a single-task global sort if the gate
    // is ever pointed at a multi-year (or 100 TB) table.
    val w = Window.partitionBy(substring(col("date"), 1, 4))
      .orderBy(col("date"), col(totalCol))
    val bad = df
      .filter(col("details") === "remaining" && col("date").rlike(MonthRe))
      .withColumn("__prev", lag(col(totalCol), 1).over(w))
      .filter(col("__prev").isNotNull && col(totalCol) > col("__prev"))
      .select(col("date"), col(totalCol), col("__prev"))
      .limit(SampleLimit).collect()
      .map(r => s"${r.get(0)}: ${r.get(2)} -> ${r.get(1)} increased")
    CheckResult("monotonic/remaining", Warning, bad.isEmpty, bad.toSeq)
  }

  /** The full gate, reference order (`jobs/data_quality.py:105-144`).
    * After the driver-only schema check, ONE aggregate counts the rows,
    * each id column's nulls (reference `jobs/data_quality.py:43-51`),
    * the bad dates and the off-total rows. Empty input is fatal: a
    * header-only file has nothing to load and must be quarantined, not
    * vacuously pass every per-row check. The date and tolerance checks
    * scan again only when they counted a violation, to sample it; the
    * monotonic check keeps its own window over the `remaining` rows,
    * since folding it in would sort every row of a year in one task.
    */
  def run(df: DataFrame, expectedCols: Seq[String], idCols: Seq[String],
      totalCol: String, amountCols: Seq[String]): Report = {
    val schema = checkSchema(df, expectedCols)
    if (schema.exists(_.blocking)) return Report(schema)
    val ids = idCols.filter(df.columns.contains)
    val counts = df.agg(count(lit(1)), ids.map(c => count_if(col(c).isNull)) ++
      Seq(count_if(badDate(col("date"))),
        count_if(offTotal(col(totalCol), computedTotal(amountCols)))): _*)
      .head()
    if (counts.getLong(0) == 0L)
      return Report(schema :+
        CheckResult("rows/non-empty", Fatal, false, Seq("no data rows")))
    val nulls = ids.zipWithIndex.collect {
      case (c, i) if counts.getLong(i + 1) > 0 =>
        s"$c has ${counts.getLong(i + 1)} nulls"
    }
    Report(schema ++ Seq(
      CheckResult("nulls/id-columns", Fatal, nulls.isEmpty, nulls),
      if (counts.getLong(ids.size + 1) > 0) checkDateFormat(df)
      else CheckResult("format/date", Fatal, true, Nil),
      if (counts.getLong(ids.size + 2) > 0)
        checkTotalTolerance(df, totalCol, amountCols)
      else CheckResult("tolerance/total-amount", Warning, true, Nil),
      checkRemainingMonotonic(df, totalCol)))
  }

  /** One referential edge's audit — both directions of the FK check a
    * warehouse load gate runs: child rows whose key misses the parent
    * (orphans), and parent keys no child references (dead members /
    * coverage). Works over the child's KEY-COUNT relation, never the
    * raw child rows: one distinct-key aggregation, one join against the
    * parent key set (broadcast when the parent is a dimension), and a
    * key-level anti join for coverage — the shape that survives a
    * fact×fact edge (lineitem→orders) at 100 TB.
    */
  def edgeAudit(edge: String, child: DataFrame, key: String,
      parent: DataFrame, pkey: String,
      broadcastParent: Boolean = true): DataFrame =
    edgeAuditFromKeyCounts(edge, keyCounts(child, key), parent, pkey,
      broadcastParent)

  /** One edge's child KEY-COUNT relation (`k`, `cnt`) — the maintained
    * state of the incremental audit ([[incrementalReferentialAudit]]):
    * key-sized, mergeable by summing counts per key.
    */
  def keyCounts(child: DataFrame, key: String): DataFrame =
    child.select(col(key).as("k")).filter(col("k").isNotNull)
      .groupBy(col("k")).agg(count(lit(1)).as("cnt"))

  /** [[edgeAudit]] from an already-maintained key-count relation —
    * the audit itself never needs the raw child rows.
    */
  def edgeAuditFromKeyCounts(edge: String, kc: DataFrame,
      parent: DataFrame, pkey: String,
      broadcastParent: Boolean = true): DataFrame = {
    val pk0 = parent.select(col(pkey).as("pk")).distinct()
    val pk = if (broadcastParent) broadcast(pk0) else pk0
    val joined = kc.join(pk, col("k") === col("pk"), "left")
    val unref = pk0.join(kc, col("pk") === col("k"), "left_anti")
      .agg(count(lit(1)).as("unref_parent"))
    joined.agg(
      sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      coalesce(sum(when(col("pk").isNull, col("cnt"))), lit(0L))
        .as("orphan_rows"),
      sum(when(col("pk").isNull, 1L).otherwise(0L)).as("orphan_keys"))
      .withColumn("orphan_ppm", expr(
        "CAST(CAST(orphan_rows AS DECIMAL(38,0)) * 1000000 DIV n_rows AS BIGINT)"))
      .crossJoin(broadcast(unref))
      .select(lit(edge).as("edge"), col("n_rows"), col("n_keys"),
        col("orphan_rows"), col("orphan_keys"), col("orphan_ppm"),
        col("unref_parent"))
  }

  /** Referential-integrity audit across the schema's FK edges (q149) —
    * the cross-TABLE data-quality family the per-table gate above does
    * not cover. The two customer edges audit against a STALE dimension
    * (keys ≤ 90% of the observed max — the late-arriving-dimension
    * scenario that actually produces orphans in a warehouse: facts
    * arrive referencing members the dim load hasn't caught up to), so
    * the orphan branch is exercised with real non-zero counts; the
    * remaining edges audit the live tables and certify clean. Dims
    * broadcast; the fact×fact edge goes through the key-level shuffle
    * path.
    */
  def referentialAudit(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import graft.sources.Tables
    val customer = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val maxCk = customer.agg(max(col("c_custkey"))).head.getLong(0)
    val stale = customer.filter(col("c_custkey") <= lit(maxCk * 9L / 10L))
    edgeAudit("orders->customer_stale", orders, "o_custkey",
      stale, "c_custkey")
      .unionAll(edgeAudit("events->customer_stale",
        Tables.events(spark, dir), "user_id", stale, "c_custkey"))
      .unionAll(edgeAudit("lineitem->orders",
        Tables.lineitem(spark, dir), "l_orderkey", orders, "o_orderkey",
        broadcastParent = false))
      .unionAll(edgeAudit("customer->nation", customer, "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"))
      .unionAll(edgeAudit("nation->region", Tables.nation(spark, dir),
        "n_regionkey", Tables.region(spark, dir), "r_regionkey"))
  }

  /** q168: INCREMENTAL referential audit — the q162 view-maintenance
    * posture folded into q149. The full audit is linear in the facts
    * every run (q149's rehearsal exponent 0.75 is fact-scan-bound by
    * nature); maintaining the per-edge KEY-COUNT relation instead makes
    * a re-audit cost one delta scan + a key-sized merge + the key-level
    * parent join — the only shape that re-audits 100 TB of facts after
    * a daily load. Per edge: key counts over the base rows ⊕ key counts
    * over the late-arriving delta batch (counts sum per key, the
    * mergeable-state algebra), audited from the merged state, and
    * certified against the full-recompute audit in the same query
    * (`matches_full`, expected universally true — the full path exists
    * only to certify the algebra at test scale; production runs base ⊕
    * delta).
    *
    * The delta split is ORTHOGONAL to each edge's FK (orders split by
    * o_orderkey while auditing o_custkey; lineitem split by l_partkey
    * while auditing l_orderkey) so the same key lands on both sides and
    * the per-key count merge is actually exercised — a split along the
    * key would make the merge a disjoint union (q162's design note).
    * Two edges cover both physical paths: the broadcast-dimension edge
    * (against the stale dim, non-zero orphans) and the fact×fact
    * shuffle edge.
    */
  def incrementalReferentialAudit(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import graft.sources.Tables
    import graft.operators.Incremental.DeltaMod
    val customer = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val maxCk = customer.agg(max(col("c_custkey"))).head.getLong(0)
    val stale = customer.filter(col("c_custkey") <= lit(maxCk * 9L / 10L))

    def certify(edge: String, child: DataFrame, splitCol: String,
        key: String, parent: DataFrame, pkey: String,
        bc: Boolean): DataFrame = {
      val base = keyCounts(child.filter(col(splitCol) % DeltaMod =!= 0L), key)
      val delta = keyCounts(child.filter(col(splitCol) % DeltaMod === 0L), key)
      val merged = base.alias("b")
        .join(delta.alias("d"), Seq("k"), "full_outer")
        .select(col("k"),
          (coalesce(col("b.cnt"), lit(0L)) + coalesce(col("d.cnt"), lit(0L)))
            .as("cnt"))
      val inc = edgeAuditFromKeyCounts(edge, merged, parent, pkey, bc)
      val full = edgeAudit(edge, child, key, parent, pkey, bc)
      inc.alias("i").join(full.alias("f"), Seq("edge"))
        .select(col("edge"),
          col("i.n_rows").as("n_rows"), col("i.n_keys").as("n_keys"),
          col("i.orphan_rows").as("orphan_rows"),
          col("i.orphan_keys").as("orphan_keys"),
          col("i.orphan_ppm").as("orphan_ppm"),
          col("i.unref_parent").as("unref_parent"),
          (col("i.n_rows") === col("f.n_rows") &&
            col("i.n_keys") === col("f.n_keys") &&
            col("i.orphan_rows") === col("f.orphan_rows") &&
            col("i.orphan_keys") === col("f.orphan_keys") &&
            col("i.unref_parent") === col("f.unref_parent"))
            .as("matches_full"))
    }

    certify("orders->customer_stale", orders, "o_orderkey", "o_custkey",
      stale, "c_custkey", bc = true)
      .unionAll(certify("lineitem->orders", Tables.lineitem(spark, dir),
        "l_partkey", "l_orderkey", orders, "o_orderkey", bc = false))
  }
}
