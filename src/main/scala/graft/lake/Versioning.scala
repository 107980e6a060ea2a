package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partition snapshot versioning (reference X3 — `jobs/utils/versioning.py`,
  * format documented in reference `docs/versioning.md`):
  *
  *  - every successful ingest snapshots the year's DataFrame to
  *    `<root>/year=Y/v_<stamp>/` (immutable Parquet copy)
  *  - a `_version.json` sidecar records version id, source file, year,
  *    timestamp, row count (off the snapshot's Parquet footers, no
  *    Spark job), checksum, columns and the retention setting
  *  - versions list newest-first; `cleanup` keeps the newest `keep`
  *  - restore reads a snapshot back and recommits it through the atomic
  *    swap writer, so a restore is as crash-safe as an ingest
  *
  * The clock is injectable: version ids are derived timestamps and tests
  * need them deterministic.
  */
class Versioning(
    fsOps: LakeFs,
    spark: SparkSession,
    root: String,
    keepVersions: Int = Versioning.DefaultKeep,
    clock: () => Long = () => System.currentTimeMillis()) {

  private def yearDir(year: Int) = s"$root/year=$year"

  private def stamp(ms: Long): String = {
    val f = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f.format(new java.util.Date(ms))
  }

  /** Snapshot `df` as a new version of year Y; returns the version id.
    * Two creates within the same clock second get distinct ids (`_2`,
    * `_3`, …) instead of the second silently overwriting the first.
    */
  def create(df: DataFrame, year: Int, sourceFile: String): String = {
    val now = clock()
    val base = s"v_${stamp(now)}"
    val version = Iterator.from(1)
      .map(i => if (i == 1) base else s"${base}_$i")
      .find(v => !fsOps.exists(s"${yearDir(year)}/$v"))
      .get
    val dir = s"${yearDir(year)}/$version"
    df.write.mode("overwrite").parquet(dir)
    val rowCount = Footers.counts(spark, Seq(dir)).head._2
    val checksum = Versioning.pathChecksum(dir)
    import graft.util.Json.{quote => q}
    val cols = df.columns.map(q).mkString("[", ",", "]")
    fsOps.writeString(s"$dir/_version.json",
      s"""{"version":${q(version)},"source_file":${q(sourceFile)},"year":$year,
         |"timestamp":$now,"row_count":$rowCount,"checksum":${q(checksum)},
         |"columns":$cols,"keep_versions":$keepVersions}""".stripMargin)
    version
  }

  /** Version ids for a year, newest first (reference `:88-107`). Sorted
    * by parsed (stamp, numeric suffix), not raw strings — lexicographic
    * order would rank `..._2` after `..._10` once same-second suffixes
    * reach double digits, making cleanup delete the wrong snapshots.
    */
  def list(year: Int): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(yearDir(year))
    if (!fsOps.fs.exists(dir)) return Nil
    fsOps.fs.listStatus(dir)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("v_"))
      .sortBy(Versioning.sortKey)(Ordering[(String, Int)].reverse)
      .toSeq
  }

  def metadataJson(year: Int, version: String): Option[String] = {
    val p = s"${yearDir(year)}/$version/_version.json"
    if (fsOps.exists(p)) Some(fsOps.readString(p)) else None
  }

  /** Restore a snapshot into the live table via the atomic swap
    * (reference `:110-141` delegates to the same write path).
    */
  def restore(year: Int, version: String, tableDir: String,
      writer: AtomicPartitionWriter): String = {
    val snap = spark.read.parquet(s"${yearDir(year)}/$version")
    writer.write(snap, tableDir, year)
  }

  /** Delete all but the newest `keepVersions` snapshots; returns the
    * removed ids (reference `:144-165`).
    */
  def cleanup(year: Int): Seq[String] = {
    val doomed = list(year).drop(keepVersions)
    doomed.foreach(v => fsOps.delete(s"${yearDir(year)}/$v"))
    doomed
  }
}

object Versioning {
  val DefaultKeep: Int =
    sys.env.get("KEEP_VERSIONS").flatMap(_.toIntOption).getOrElse(5)

  /** Ordering key for a version id `v_<yyyyMMdd>_<HHmmss>[_<n>]`: the
    * stamp (its embedded underscore keeps it two parts) plus the numeric
    * same-second suffix, 1 when absent.
    */
  def sortKey(version: String): (String, Int) = {
    val parts = version.split("_") // ["v", date, time] or ["v", date, time, n]
    val stamp = parts.slice(1, 3).mkString("_")
    (stamp, parts.lift(3).flatMap(_.toIntOption).getOrElse(1))
  }

  /** md5-of-path checksum fallback (reference `:168-179`: HDFS file
    * checksums are unavailable on local fs, so the reference hashes the
    * path — same trade here, deterministic and cheap).
    */
  def pathChecksum(path: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
