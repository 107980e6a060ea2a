package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded finance input in the reference's wide CSV schema:
  * `date, details, total_amount` plus 32 amount columns, with an
  * all-year-budget sentinel row, month `spent`/`remaining` rows and the
  * `total spent`/`remaining` summary rows. Amounts are whole numbers, so
  * every sum the engine computes over them is exact in a double and the
  * model below can demand equality.
  */
object FinanceGen {
  val AmountColumns: Seq[String] = (1 to 32).map(i => f"cat_$i%02d")
  val Header: String = ("date" +: "details" +: "total_amount" +: AmountColumns).mkString(",")

  /** One raw-zone file: year partition, file name, CSV text. */
  final case class RawFile(year: Int, name: String, csv: String, poison: Boolean)

  private def stream(seed: Long, year: Int, variant: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + year * 7919L + variant)

  /** The wide CSV of one (year, variant), restricted to `months`. The
    * whole year is drawn first, in a fixed order, so two files cut from
    * the same (year, variant) agree on budgets and running remainders.
    * About one month cell in 50 is blank (a null amount the unpivot
    * drops).
    */
  def yearCsv(seed: Long, year: Int, variant: Int, months: Seq[Int],
      withBudget: Boolean): String = {
    val rng = stream(seed, year, variant)
    val n = AmountColumns.size
    val budget = Array.fill(n)(1000L + rng.nextInt(9000))
    val spent = Array.tabulate(12, n)((_, c) => rng.nextLong(budget(c) / 6 + 1))
    val blank = Array.fill(12, 2, n)(rng.nextInt(50) == 0)
    val sb = new StringBuilder(Header).append('\n')
    def row(date: String, details: String, cells: Seq[Option[Long]]): Unit = {
      sb.append(date).append(',').append(details).append(',')
        .append(cells.flatten.sum).append(',')
        .append(cells.map(_.fold("")(_.toString)).mkString(",")).append('\n')
    }
    if (withBudget) row("all-year-budget", "budget", budget.toSeq.map(Some(_)))
    val cum = Array.fill(n)(0L)
    val fileSpent = Array.fill(n)(0L)
    for (m <- 1 to 12) {
      for (c <- 0 until n) cum(c) += spent(m - 1)(c)
      if (months.contains(m)) {
        val date = f"$year%04d-$m%02d"
        row(date, "spent", (0 until n).map(c =>
          if (blank(m - 1)(0)(c)) None else Some(spent(m - 1)(c))))
        row(date, "remaining", (0 until n).map(c =>
          if (blank(m - 1)(1)(c)) None else Some(budget(c) - cum(c))))
        for (c <- 0 until n) fileSpent(c) += spent(m - 1)(c)
      }
    }
    row("total spent", "spent", fileSpent.toSeq.map(Some(_)))
    row("remaining", "remaining", (0 until n).map(c => Some(budget(c) - cum(c))))
    sb.result()
  }

  /** A fatal-DQ file: a valid year plus one row whose `date` is empty. */
  def poisonCsv(seed: Long, year: Int, variant: Int): String =
    yearCsv(seed, year, variant, Seq(1, 2), withBudget = true) +
      ",spent,0," + Seq.fill(AmountColumns.size)("0").mkString(",") + "\n"

  /** The files of one year: `parts` (at most 12) files dealing its
    * months round-robin; the first carries the budget row.
    */
  def yearFiles(seed: Long, year: Int, variant: Int, parts: Int): Seq[RawFile] = {
    val months = (0 until parts).map(p => (1 to 12).filter(m => (m - 1) % parts == p))
    months.zipWithIndex.map { case (ms, p) =>
      RawFile(year, s"finance_${year}_v${variant}_p$p.csv",
        yearCsv(seed, year, variant, ms, withBudget = p == 0), poison = false)
    }
  }
}

/** One curated (long) row. */
final case class LongRow(date: String, details: String, category: String, amount: Double)

/** What one committed year holds: its curated partition. */
final case class YearState(long: Vector[LongRow])

/** A plain-Scala model of `lake.FinancePipeline`, independent of Spark.
  *
  * Files land per year; `run()` follows the pipeline's documented rules:
  * a year with pending files is rebuilt from its pending files ONLY and
  * overwritten (the reference's read-pending-then-overwrite behaviour for
  * late data); a year whose pending set holds a file failing a fatal DQ
  * check (null id column, bad date) is quarantined whole and its
  * partitions keep their previous content.
  */
class FinanceModel {
  private val pending = mutable.TreeMap.empty[Int, Vector[(String, String)]]
  val committed: mutable.TreeMap[Int, YearState] = mutable.TreeMap.empty
  val quarantined: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def land(year: Int, path: String, csv: String): Unit =
    pending(year) = pending.getOrElse(year, Vector.empty) :+ (path -> csv)

  /** One cycle; returns (year, committed) in year order, like `run()`. */
  def run(): Seq[(Int, Boolean)] = {
    val out = pending.toSeq.map { case (year, files) =>
      val sorted = files.sortBy(_._1)
      if (sorted.exists { case (_, csv) => FinanceModel.fatal(csv) }) {
        quarantined ++= sorted.map(_._1)
        year -> false
      } else {
        committed(year) = YearState(
          sorted.flatMap { case (_, csv) => FinanceModel.longRows(csv, year) })
        year -> true
      }
    }
    pending.clear()
    out
  }
}

object FinanceModel {
  private val MonthRe = "^\\d{4}-\\d{2}$".r
  private val Sentinels = Set("all-year-budget", "total spent", "remaining")

  private def cells(csv: String): Seq[Array[String]] =
    csv.split('\n').toSeq.drop(1).filter(_.nonEmpty).map(_.split(",", -1))

  private def isMonth(d: String): Boolean = MonthRe.findFirstIn(d).isDefined

  /** The pipeline's fatal DQ checks on one file's rows. */
  def fatal(csv: String): Boolean = cells(csv).exists { r =>
    r(0).isEmpty || r(1).isEmpty || !(isMonth(r(0)) || Sentinels(r(0)))
  }

  /** Month filter + unpivot + null drop, as `FinancePipeline.wideToLong`. */
  def longRows(csv: String, year: Int): Vector[LongRow] = {
    val cols = FinanceGen.AmountColumns
    cells(csv).toVector
      .filter(r => isMonth(r(0)) || r(0) == "all-year-budget")
      .flatMap(r => cols.indices.collect {
        case i if r(3 + i).nonEmpty => LongRow(r(0), r(1), cols(i), r(3 + i).toDouble)
      })
  }

  /** Canonical rendering of a numeric or text cell, shared by the model
    * and the JDBC reader, so answers compare as strings.
    */
  def cell(v: String): String =
    if (v == null) "null"
    else v.toDoubleOption match {
      case Some(d) if d == math.rint(d) && math.abs(d) < 1e15 => d.toLong.toString
      case Some(d) => d.toString
      case None => v
    }

  /** An answer: its rows, each rendered and joined, sorted. */
  def answer(rows: Seq[Seq[String]]): String =
    rows.map(_.map(cell).mkString("|")).sorted.mkString(";")
}

/** The dashboard's request templates, as SQL over the catalog tables
  * `fin_long` and as the model's expected answer. The SQL mirrors
  * `serving.QuickStats` (years, totals, latest remaining, negative
  * categories).
  */
object Dashboard {
  sealed trait Template { def name: String }
  case object Years extends Template { val name = "years" }
  case object Totals extends Template { val name = "totals" }
  case object Latest extends Template { val name = "latest_remaining" }
  case object Negative extends Template { val name = "negative_categories" }
  val Finance: Seq[Template] = Seq(Years, Totals, Latest, Negative)

  private def latestSql(year: Int): String =
    s"""SELECT r.category, r.`date`, r.amount FROM fin_long r JOIN (
       |  SELECT category, max(`date`) AS `date` FROM fin_long
       |  WHERE year = $year AND details = 'remaining'
       |    AND `date` RLIKE '^[0-9]{4}-[0-9]{2}$$'
       |  GROUP BY category) m
       |ON r.category = m.category AND r.`date` = m.`date`
       |WHERE r.year = $year AND r.details = 'remaining'""".stripMargin

  def sql(t: Template, year: Int): String = t match {
    case Years => "SELECT DISTINCT year FROM fin_long ORDER BY year DESC"
    case Totals =>
      s"""SELECT sum(CASE WHEN details = 'budget' AND `date` = 'all-year-budget'
         |  THEN amount ELSE 0 END) AS budget,
         |  sum(CASE WHEN details = 'spent' THEN amount ELSE 0 END) AS spent
         |FROM fin_long WHERE year = $year""".stripMargin
    case Latest => latestSql(year) + "\nORDER BY r.category"
    case Negative =>
      s"SELECT category, amount FROM (${latestSql(year)}) t " +
        "WHERE amount < 0 ORDER BY amount, category"
  }

  private def latest(st: YearState): Seq[LongRow] = {
    val rem = st.long.filter(r => r.details == "remaining" && r.date.matches("^\\d{4}-\\d{2}$"))
    val maxDate = rem.groupBy(_.category).view.mapValues(_.map(_.date).max).toMap
    rem.filter(r => maxDate(r.category) == r.date)
  }

  /** Expected answer of `t` for `year` given the committed years. */
  def expected(t: Template, year: Int, years: collection.Map[Int, YearState]): String = {
    val st = years.getOrElse(year, YearState(Vector.empty))
    def num(d: Double) = d.toString
    t match {
      case Years =>
        FinanceModel.answer(years.collect { case (y, s) if s.long.nonEmpty => Seq(y.toString) }.toSeq)
      case Totals =>
        if (st.long.isEmpty) FinanceModel.answer(Seq(Seq(null, null)))
        else FinanceModel.answer(Seq(Seq(
          num(st.long.filter(r => r.details == "budget" && r.date == "all-year-budget").map(_.amount).sum),
          num(st.long.filter(_.details == "spent").map(_.amount).sum))))
      case Latest =>
        FinanceModel.answer(latest(st).map(r => Seq(r.category, r.date, num(r.amount))))
      case Negative =>
        FinanceModel.answer(latest(st).filter(_.amount < 0).map(r => Seq(r.category, num(r.amount))))
    }
  }

  /** The faults a dashboard client's SQL may carry. Each is one the
    * reference's guard layer exists for; `Typo` is repaired by the
    * retry hook, the others by the guard functions themselves.
    */
  sealed trait Fault
  case object Clean extends Fault
  case object Fence extends Fault
  case object SmartQuotes extends Fault
  case object BareDate extends Fault
  case object RemainingSum extends Fault
  case object Typo extends Fault
  val Faults: Seq[Fault] = Seq(Fence, SmartQuotes, BareDate, RemainingSum, Typo)

  /** The raw text a client sends for a clean `sql` carrying `fault`. */
  def inject(fault: Fault, t: Template, year: Int, sql: String): String = fault match {
    case Clean => sql
    case Fence => "```sql\n" + sql + "\n```"
    case SmartQuotes => sql.replace("'", "’") + ";"
    case BareDate => sql.replace("`date`", "date")
    case RemainingSum =>
      s"SELECT category, sum(CASE WHEN details = 'remaining' THEN amount ELSE 0 END) " +
        s"AS remaining FROM fin_long WHERE year = $year GROUP BY category"
    case Typo => sql.replaceFirst("\\bdetails\\b", "detail")
  }

  /** The request template a fault can ride on (the remaining-sum
    * anti-pattern is a wrong way to ask for latest remaining; a bare
    * `date` needs a template that references the column).
    */
  def templateFor(fault: Fault, t: Template): Template = fault match {
    case RemainingSum => Latest
    case BareDate if t == Years => Totals
    case Typo if t == Years => Totals
    case _ => t
  }
}
