package graft.tools

import org.apache.spark.sql.DataFrame

import graft.GraftSession
import graft.operators.Dedup
import graft.sources.Tables

/** Ad-hoc stage timer for plan investigation: times each stage of the
  * heavy dedup queries independently so regressions can be localized
  * without rerunning the whole bench. Not part of the graded surface.
  */
object TimeLab {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[timelab] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    def cnt(label: String, df: => DataFrame): Unit =
      time(label)(df.write.format("noop").mode("overwrite").save())

    import org.apache.spark.sql.functions._
    spark.range(1000000L).selectExpr("sum(id)").collect()

    // `jobs` mode: run ONE declared query with a SparkListener that
    // prints every job's description, duration and task count — the
    // lifecycle queries are dozens of small sequential jobs and this
    // localizes which commits/collects carry the seconds (guide §1:
    // the UI is disabled in this harness, so the listener stands in
    // for the Jobs page). Usage: TimeLab <sfDir> jobs <queryName>
    if (args.length > 2 && args(1) == "jobs") {
      val name = args(2)
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            // else the result stage's call site, e.g. "collect at X.scala:N"
            .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
            .getOrElse("?")
          jobs.put(js.jobId, (js.time, desc))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobs.get(je.jobId)).foreach { case (t0, desc) =>
            println(f"[timelab-job] id=${je.jobId}%4d ${(je.time - t0) / 1e3}%7.3f s  $desc")
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      name.split("\\+").foreach { q =>
        val fn = graft.SparkEntry.queries(q)
        for (pass <- Seq("cold", "warm")) {
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          Thread.sleep(500) // let the listener bus drain before the summary line
          println(f"[timelab] $q $pass total ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
      }
      spark.stop()
      return
    }
    // `confab` mode: within-ONE-session A/B of an arbitrary RUNTIME
    // SQLConf over a set of queries (e.g.
    // spark.sql.join.preferSortMergeJoin=true,false).
    // Usage: TimeLab <sfDir> confab <confKey> <v1,v2[,...]> q1+q2+...
    if (args.length > 4 && args(1) == "confab") {
      val key = args(2)
      val vals = args(3).split(",").toSeq
      val names = args(4).split("\\+").toSeq
      for (v <- vals; q <- names) { // untimed codegen/JIT absorb
        spark.conf.set(key, v)
        graft.SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      val acc = scala.collection.mutable.Map.empty[(String, String), Double]
      for (round <- 1 to 2; v <- vals; q <- names) {
        spark.conf.set(key, v)
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        acc((q, v)) = math.min(acc.getOrElse((q, v), Double.MaxValue), t)
      }
      names.foreach { q =>
        val cells = vals.map(v => f"$v=${acc((q, v))}%6.3f").mkString("  ")
        println(f"[timelab-confab] $q%-30s $cells")
      }
      vals.foreach { v =>
        println(f"[timelab-confab] TOTAL $v=${names.map(q => acc((q, v))).sum}%6.2f")
      }
      spark.stop()
      return
    }
    cnt("docs scan", Tables.documents(spark, dir))
    cnt("docs scan warm", Tables.documents(spark, dir))
    cnt("tokens only", Tables.documents(spark, dir)
      .select(col("doc_id"), graft.operators.TextOps.tokens(col("text")).as("toks")))
    cnt("shingle arr no distinct", Tables.documents(spark, dir)
      .withColumn("toks", graft.operators.TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh_arr", expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))"))
      .select(col("doc_id"), col("sh_arr")))
    cnt("docShingles", Dedup.docShingles(Tables.documents(spark, dir)))
    cnt("docShingles warm", Dedup.docShingles(Tables.documents(spark, dir)))
    cnt("shingles exploded", Dedup.shingles(Tables.documents(spark, dir)))
    cnt("explode after repartition", Dedup.docShingles(Tables.documents(spark, dir))
      .repartition(32)
      .select(col("doc_id"), col("source"), explode(col("sh_arr")).as("sh")))
    val p = Dedup.docShingles(Tables.documents(spark, dir)).persist()
    p.count()
    cnt("explode after persist", p.select(col("doc_id"), col("source"), explode(col("sh_arr")).as("sh")))
    p.unpersist()
    cnt("hashed shingles", Dedup.hashedShingles(Tables.documents(spark, dir)))
    cnt("minhash signatures", Dedup.minhashSignatures(spark, dir))
    cnt("minhash again (warm)", Dedup.minhashSignatures(spark, dir))
    cnt("lsh candidates", Dedup.lshCandidatePairs(spark, dir))
    cnt("jaccard pairs", Dedup.ngramJaccardPairs(spark, dir))
    cnt("jaccard again (warm)", Dedup.ngramJaccardPairs(spark, dir))
    spark.stop()
  }
}
