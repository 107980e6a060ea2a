package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import graft.util.Par

/** Parquet FOOTER metadata reads — the engine's one way to count a
  * table's rows without a Spark job (O(files) driver IO, no data pages).
  * The lake commits count their staged rows with it, the compaction
  * audits their per-year files and rows, the ANN lifecycle its committed
  * tables, and [[graft.sources.Tables.rowCountFromFooters]] the corpus
  * sizes its knobs derive from.
  */
object Footers {
  /** Fan-out width: one per available processor. */
  private val Width = Runtime.getRuntime.availableProcessors()

  /** (data files, rows) per directory of `dirs`, in order, over every
    * `.parquet` file beneath it ([[LakeFs.walk]]: a file path counts
    * itself, a missing one throws). Two flat fan-outs of width
    * [[Width]]: every directory listed, then every footer across ALL
    * directories opened — a per-directory outer loop would serialize
    * one footer wave per partition.
    */
  def counts(spark: SparkSession, dirs: Seq[String]): Seq[(Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = Par.map(dirs, Width) { d =>
      val root = new Path(d)
      LakeFs.walk(root.getFileSystem(conf), root).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
    }
    val rows = Par.map(files.flatten, Width) { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.iterator
    files.map(fs => (fs.size.toLong, fs.map(_ => rows.next()).sum))
  }
}
