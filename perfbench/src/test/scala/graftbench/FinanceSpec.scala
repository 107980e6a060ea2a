package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.lake.{Catalog, FinancePipeline, LakeFs}

/** The benchmark's input generators and its model of the pipeline. */
class FinanceSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(2)

  test("the same seed gives the same bytes, another seed other bytes") {
    val a = FinanceGen.yearFiles(7L, 2001, 0, 3)
    assert(a == FinanceGen.yearFiles(7L, 2001, 0, 3))
    assert(a.map(_.csv) != FinanceGen.yearFiles(8L, 2001, 0, 3).map(_.csv))
    assert(FinanceGen.poisonCsv(7L, 2001, 1) == FinanceGen.poisonCsv(7L, 2001, 1))
    assert(TpchGen.tables(0.0005, 3L).map(_._3) == TpchGen.tables(0.0005, 3L).map(_._3))
    assert(TpchGen.tables(0.0005, 3L).map(_._3) != TpchGen.tables(0.0005, 4L).map(_._3))
  }

  test("files carry the reference schema: date, details, total_amount + 32 amounts") {
    val csv = FinanceGen.yearFiles(1L, 2003, 0, 1).head.csv
    val lines = csv.split('\n')
    assert(lines.head == FinanceGen.Header)
    assert(lines.forall(_.split(",", -1).length == 35))
    assert(lines(1).startsWith("all-year-budget,budget,"))
    assert(lines.exists(_.startsWith("total spent,spent,")))
    assert(!FinanceModel.fatal(csv))
    assert(FinanceModel.fatal(FinanceGen.poisonCsv(1L, 2003, 1)))
  }

  test("the model predicts FinancePipeline: commits, late rebuild, quarantine, answers") {
    val root = Files.createTempDirectory("graftbench-model").toString
    try modelMatchesPipeline(root)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  private def modelMatchesPipeline(root: String): Unit = {
    val cfg = FinancePipeline.Config(s"$root/raw", s"$root/staging", s"$root/curated",
      s"$root/versions")
    val pipeline = new FinancePipeline(spark, LakeFs.local(), cfg)
    val model = new FinanceModel
    def land(f: FinanceGen.RawFile): String = {
      val p = Paths.get(s"${cfg.rawDir}/year=${f.year}/${f.name}")
      Files.createDirectories(p.getParent)
      Files.write(p, f.csv.getBytes(StandardCharsets.UTF_8))
      model.land(f.year, p.toString, f.csv)
      p.toString
    }
    def curated(y: Int): Seq[String] =
      spark.read.parquet(s"${cfg.curatedDir}/year=$y")
        .select("date", "details", "category", "amount").collect().toSeq
        .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}|${r.getDouble(3)}").sorted
    def modelled(y: Int): Seq[String] =
      model.committed(y).long.map(r => s"${r.date}|${r.details}|${r.category}|${r.amount}").sorted
    def cycle(): Unit =
      assert(pipeline.run().map(r => r.year -> r.committed) == model.run())

    (FinanceGen.yearFiles(5L, 2001, 0, 2) ++ FinanceGen.yearFiles(5L, 2002, 0, 1)).foreach(land)
    cycle()
    Seq(2001, 2002).foreach(y => assert(curated(y) == modelled(y)))
    // a late file rebuilds 2001 from itself alone; a poison file
    // quarantines 2002 and leaves its partition as it was
    FinanceGen.yearFiles(5L, 2001, 1, 4).take(1).foreach(land)
    val poison = land(FinanceGen.RawFile(2002, "poison.csv", FinanceGen.poisonCsv(5L, 2002, 1), true))
    cycle()
    assert(new java.io.File(poison + ".failed").exists())
    assert(model.quarantined == Seq(poison))
    Seq(2001, 2002).foreach(y => assert(curated(y) == modelled(y)))

    Catalog.registerPartitionedParquet(spark, "fin_long", cfg.curatedDir)
    def answer(df: org.apache.spark.sql.DataFrame) = FinanceModel.answer(df.collect().toSeq
      .map(r => (0 until r.length).map(j => String.valueOf(r.get(j)))))
    for (t <- Dashboard.Finance; y <- Seq(2001, 2002))
      assert(answer(spark.sql(Dashboard.sql(t, y))) == Dashboard.expected(t, y, model.committed),
        s"${t.name}($y)")
    // every injected fault is undone by the guard or by the repair hook,
    // within the engine's own bounded retry loop
    for (f <- Dashboard.Faults; t0 <- Dashboard.Finance) {
      val t = Dashboard.templateFor(f, t0)
      val clean = Dashboard.sql(t, 2001)
      val r = graft.serving.SqlGuard.executeWithRepair(spark,
        Dashboard.inject(f, t, 2001, clean), (_, _) => clean)
      assert(answer(r.df) == Dashboard.expected(t, 2001, model.committed), s"$f on ${t.name}")
      assert(r.attempts == (if (f == Dashboard.Typo) 2 else 1), s"$f on ${t.name}")
    }
  }
}
