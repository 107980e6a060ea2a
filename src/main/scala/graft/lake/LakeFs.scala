package graft.lake

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}

/** Filesystem primitives for the lake layer (reference S10–S13 —
  * `jobs/utils/hdfs.py`), over the Hadoop `FileSystem` API so the same
  * code runs on HDFS and (in tests) the local filesystem. HDFS `rename`
  * is atomic, which is what the swap commit protocol relies on; object
  * stores without atomic rename would need a different committer.
  *
  * Recursive listings go through [[LakeFs.walk]], a `listStatus` walk,
  * never a recursive `FileSystem.listFiles` or `listLocatedStatus`: those
  * build a `LocatedFileStatus` per file, which on the local filesystem
  * without Hadoop's native library forks an `ls` process per file to
  * load permissions, and on HDFS fetches block locations. The lake
  * reads neither, only names, kinds and lengths.
  */
class LakeFs(val fs: FileSystem) {

  /** Every file beneath `dir` ([[LakeFs.walk]]); `Nil` when `dir` does
    * not exist.
    */
  def files(dir: String): Seq[FileStatus] =
    try LakeFs.walk(fs, new Path(dir))
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Recursive file listing (S10 — `jobs/utils/hdfs.py:15-26`). */
  def lsRecursive(dir: String): Seq[String] =
    files(dir).map(_.getPath.toUri.getPath)

  /** Zero-byte marker creation (S11 — `jobs/utils/hdfs.py:29-32`). */
  def touch(path: String): Unit = {
    val p = new Path(path)
    Option(p.getParent).foreach(fs.mkdirs(_))
    fs.create(p, true).close()
  }

  def exists(path: String): Boolean = fs.exists(new Path(path))

  /** Atomic-on-HDFS rename (S12 — swap primitive). Returns false when the
    * filesystem refuses (destination exists, source missing).
    */
  def rename(src: String, dst: String): Boolean =
    fs.rename(new Path(src), new Path(dst))

  def delete(path: String): Boolean = fs.delete(new Path(path), true)

  def mkdirs(path: String): Unit = fs.mkdirs(new Path(path))

  /** Atomic create-if-absent — the LEASE primitive: true when THIS call
    * created the file, false when it already existed. HDFS `create`
    * with `overwrite=false` is atomic against concurrent creators (the
    * namenode serializes). Hadoop's LOCAL filesystem is NOT — it
    * check-then-creates, which would let every stealer in a
    * concurrent-commit spec "win" — so the `file:` scheme drops to the
    * OS's O_EXCL (`File.createNewFile`), atomic at the kernel.
    */
  def createExclusive(path: String, content: String): Boolean = {
    val p = new Path(path)
    Option(p.getParent).foreach(fs.mkdirs(_))
    if (fs.getScheme == "file") {
      val f = new java.io.File(p.toUri.getPath)
      try {
        if (!f.createNewFile()) return false
        java.nio.file.Files.write(f.toPath,
          content.getBytes(StandardCharsets.UTF_8))
        true
      } catch { case _: java.io.IOException => false }
    } else try {
      val out = fs.create(p, false)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      true
    } catch {
      case _: java.io.IOException => false
    }
  }

  /** Small-file write (S13 — the `_version.json` sidecar channel). */
  def writeString(path: String, content: String): Unit = {
    val out = fs.create(new Path(path), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Small-file read (S13). */
  def readString(path: String): String = {
    val in = fs.open(new Path(path))
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }
}

object LakeFs {
  /** The year-partition extraction rule (T3 — `jobs/utils/hdfs.py:35-41`,
    * tested in reference `tests/test_etl.py:33-52`): FIRST `year=NNNN`
    * match in the path wins.
    */
  private val YearRe = raw"year=(\d{4})".r
  def extractYearFromPath(path: String): Option[Int] =
    YearRe.findFirstMatchIn(path).map(_.group(1).toInt)

  /** The lake's one recursive listing: the files beneath `root`, the
    * same set a recursive `fs.listFiles` yields, from one `listStatus`
    * per directory, depth-first in name order. A file root lists
    * itself; checksum sidecars (`.crc`) stay hidden by the checksum
    * filesystem's own filter. As with `listFiles`, a missing root
    * throws `FileNotFoundException` and a subdirectory deleted mid-walk
    * is skipped.
    */
  def walk(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val out = ArrayBuffer.empty[FileStatus]
    def go(dir: Path): Unit =
      fs.listStatus(dir).sortBy(_.getPath.getName).foreach { s =>
        if (!s.isDirectory) out += s
        else try go(s.getPath)
        catch { case _: java.io.FileNotFoundException => () }
      }
    go(root)
    out.toSeq
  }

  /** The app-id-isolated scratch root of a registry operator that
    * stages its own lake: `/tmp/graft_<name>/<appId>/<basename(dir)><tag>`.
    * The app-id segment keeps concurrent runs over one corpus (Verify ∥
    * Bench) from reading each other's mid-commit state, and stays
    * stable within a run, so repeat calls reuse the path by overwrite.
    * The first call per (name, application) registers a [[Reaper]]
    * that deletes `/tmp/graft_<name>/<appId>` when the application
    * ends; other applications' directories are never touched.
    */
  def scratchRoot(spark: org.apache.spark.sql.SparkSession, name: String,
      dir: String, tag: String = ""): String = {
    val sc = spark.sparkContext
    val appRoot = s"/tmp/graft_$name/${sc.applicationId}"
    reapers.computeIfAbsent(appRoot, { _ =>
      val root = new Path(appRoot)
      val r = new Reaper(root.getFileSystem(sc.hadoopConfiguration), root)
      sc.addSparkListener(r)
      r
    })
    s"$appRoot/${new java.io.File(dir).getName}$tag"
  }

  /** Deletes one application's scratch root when that application ends. */
  private[graft] final class Reaper(fs: FileSystem, val root: Path)
      extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
      fs.delete(root, true)
  }

  /** The registered reapers, by application scratch root. */
  private[graft] val reapers =
    new java.util.concurrent.ConcurrentHashMap[String, Reaper]()

  def local(): LakeFs = {
    val conf = new Configuration()
    conf.set("fs.defaultFS", "file:///")
    new LakeFs(FileSystem.get(conf))
  }

  def forSpark(spark: org.apache.spark.sql.SparkSession): LakeFs =
    new LakeFs(FileSystem.get(spark.sparkContext.hadoopConfiguration))
}
