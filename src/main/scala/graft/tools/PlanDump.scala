package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Dump `.explain("formatted")` for a set of declared queries to files —
  * the optimization-round evidence artifact (`plans/rNN/<query>_<tag>.txt`).
  * Not part of the graded surface.
  *
  * Args: <outDir> <tag> <sfDir> <comma-separated query names>
  *
  * Lifecycle queries execute their commit side effects while the panel
  * DataFrame is constructed; the dumped plan is the graded panel's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag, sfDir, names) = args
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // optional runtime-conf overrides (k=v,k=v) — lets a "before" dump
    // flip a session conf
    sys.env.get("SPARK_GRAFT_PLANDUMP_CONF").foreach {
      _.split(",").map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      }
    }
    Files.createDirectories(Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(s"$outDir/${name}_$tag.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
