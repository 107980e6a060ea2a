package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.lake._

/** Protocol tests for the lake reliability layer, porting the reference's
  * test intent (SURVEY §5): retry backoff law, year extraction first-match
  * rule, pending-set algebra, swap success/first-write/rollback, version
  * metadata + retention, repair reaping.
  */
class LakeSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  def fsOps = LakeFs.local()
  def tmpDir(): String = Files.createTempDirectory("graft-lake").toString

  // --- Retry (X1) ---

  test("retry backoff follows delay * 2^(n-1) and succeeds after failures") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Double]
    var calls = 0
    val out = Retry.withRetry("t", maxRetries = 3, delaySeconds = 5.0,
      sleep = sleeps += _) {
      calls += 1
      if (calls < 3) sys.error(s"boom$calls")
      "ok"
    }
    assert(out == "ok")
    assert(calls == 3)
    assert(sleeps.toSeq == Seq(5.0, 10.0))
  }

  test("retry exhaustion throws with last error preserved") {
    val e = intercept[Retry.RetriesExhausted] {
      Retry.withRetry("t", maxRetries = 2, delaySeconds = 0.0, sleep = _ => ()) {
        sys.error("always")
      }
    }
    assert(e.attempts == 2)
    assert(e.last.getMessage == "always")
  }

  // --- Year extraction (T3) ---

  test("extractYearFromPath: first year= component wins") {
    assert(LakeFs.extractYearFromPath("/raw/year=2023/x/year=2024/f.csv")
      .contains(2023))
    assert(LakeFs.extractYearFromPath("/raw/year=2024/finance_2024.csv")
      .contains(2024))
    assert(LakeFs.extractYearFromPath("/raw/nofyear/f.csv").isEmpty)
    assert(LakeFs.extractYearFromPath("/raw/year=24/f.csv").isEmpty)
  }

  // --- Markers (T2) ---

  test("pending = csv - done - failed") {
    val dir = tmpDir()
    val fs = fsOps
    val m = new Markers(fs)
    fs.touch(s"$dir/year=2023/a.csv")
    fs.touch(s"$dir/year=2023/b.csv")
    fs.touch(s"$dir/year=2023/b.csv.done")
    fs.touch(s"$dir/year=2024/c.csv")
    fs.touch(s"$dir/year=2024/c.csv.failed")
    fs.touch(s"$dir/year=2024/d.csv")
    val byYear = m.pendingByYear(dir).toMap
    assert(byYear(2023).map(_.split('/').last) == Seq("a.csv"))
    assert(byYear(2024).map(_.split('/').last) == Seq("d.csv"))
  }

  // --- Recursive listing (S10) ---

  /** A nested tree as a tick leaves it: csv files with `.done` /
    * `.failed` markers written through `touch` (so the checksum FS
    * writes `.crc` sidecars beside them), a `_SUCCESS` file and an
    * empty subdirectory.
    */
  def markerTree(fs: LakeFs): String = {
    val dir = tmpDir()
    fs.touch(s"$dir/year=2023/a.csv")
    fs.touch(s"$dir/year=2023/b.csv")
    fs.touch(s"$dir/year=2023/b.csv.done")
    fs.touch(s"$dir/year=2024/month=01/c.csv")
    fs.touch(s"$dir/year=2024/month=01/c.csv.failed")
    fs.touch(s"$dir/year=2024/month=02/d.csv")
    fs.touch(s"$dir/_SUCCESS")
    fs.mkdirs(s"$dir/year=2025/empty")
    dir
  }

  test("lsRecursive: the listStatus walk lists what a recursive listFiles lists") {
    val fs = fsOps
    val dir = markerTree(fs)
    assert(new java.io.File(s"$dir/year=2023/.b.csv.done.crc").exists)
    val hadoop = {
      val it = fs.fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) out += it.next().getPath.toUri.getPath
      out.result()
    }
    val got = fs.lsRecursive(dir)
    assert(got.sorted == hadoop.sorted)
    assert(got.size == 7)
    assert(got.contains(s"$dir/_SUCCESS"))
    assert(!got.exists(_.endsWith(".crc")))
  }

  test("lsRecursive: a file root lists itself, a missing root lists nothing") {
    val fs = fsOps
    val dir = markerTree(fs)
    assert(fs.lsRecursive(s"$dir/year=2023/a.csv") == Seq(s"$dir/year=2023/a.csv"))
    assert(fs.lsRecursive(s"$dir/year=2023/nope.csv") == Nil)
    assert(fs.lsRecursive(s"$dir/nope") == Nil)
    assert(fs.lsRecursive(s"$dir/year=2025") == Nil)
  }

  test("listing never asks the filesystem for a LocatedFileStatus") {
    import org.apache.hadoop.fs.{FilterFileSystem, Path, PathFilter}
    val located = new FilterFileSystem(LakeFs.local().fs) {
      private def refuse = throw new UnsupportedOperationException("located listing")
      override def listFiles(f: Path, recursive: Boolean) = refuse
      override def listLocatedStatus(f: Path) = refuse
      override protected def listLocatedStatus(f: Path, filter: PathFilter) = refuse
    }
    val fs = new LakeFs(located)
    val dir = markerTree(fs)
    assert(fs.lsRecursive(dir).size == 7)
    val byYear = new Markers(fs).pendingByYear(dir)
    assert(byYear.map { case (y, fl) => y -> fl.map(_.stripPrefix(dir)) } ==
      Seq(2023 -> Seq("/year=2023/a.csv"), 2024 -> Seq("/year=2024/month=02/d.csv")))
  }

  // --- Atomic swap (X2) ---

  import spark.implicits._

  def writeDf(n: Int) = Seq.tabulate(n)(i => (i, s"v$i")).toDF("id", "v")

  test("atomic write: first-time commit then overwrite, other partitions untouched") {
    val table = tmpDir()
    val fs = fsOps
    val w = new AtomicPartitionWriter(fs, spark)
    w.write(writeDf(3), table, 2023)
    w.write(writeDf(5), table, 2024)
    assert(spark.read.parquet(s"$table/year=2023").count() == 3)
    w.write(writeDf(7), table, 2024) // overwrite
    assert(spark.read.parquet(s"$table/year=2024").count() == 7)
    assert(spark.read.parquet(s"$table/year=2023").count() == 3)
    assert(!fs.exists(s"$table/year=2024_tmp"))
    assert(!fs.exists(s"$table/year=2024_old"))
  }

  test("writeYears: overlapped staging commits every partition, overwrite included, no litter") {
    val table = tmpDir()
    val fs = fsOps
    val w = new AtomicPartitionWriter(fs, spark)
    w.write(writeDf(9), table, 2024) // pre-existing: exercises the backup path
    val committed = w.writeYears(
      Seq(2023 -> writeDf(3), 2024 -> writeDf(7), 2025 -> writeDf(5)), table)
    assert(committed == Seq(s"$table/year=2023", s"$table/year=2024",
      s"$table/year=2025"))
    assert(spark.read.parquet(s"$table/year=2023").count() == 3)
    assert(spark.read.parquet(s"$table/year=2024").count() == 7) // replaced
    assert(spark.read.parquet(s"$table/year=2025").count() == 5)
    Seq(2023, 2024, 2025).foreach { y =>
      assert(!fs.exists(s"$table/year=${y}_tmp"), s"tmp litter year=$y")
      assert(!fs.exists(s"$table/year=${y}_old"), s"old litter year=$y")
    }
    // lease released: a follow-up single-partition write proceeds
    w.write(writeDf(2), table, 2023)
    assert(spark.read.parquet(s"$table/year=2023").count() == 2)
  }

  test("writeYears: a staging failure in one partition leaves no _tmp, swaps nothing, frees the lease") {
    val table = tmpDir()
    val fs = fsOps
    val w = new AtomicPartitionWriter(fs, spark)
    w.write(writeDf(9), table, 2024)
    val poisoned = writeDf(4).withColumn("id", org.apache.spark.sql.functions
      .expr("IF(id >= 0, CAST(raise_error('staging boom') AS INT), id)"))
    val e = intercept[Exception] {
      w.writeYears(
        Seq(2023 -> writeDf(3), 2024 -> writeDf(7), 2025 -> poisoned), table)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("staging boom")))
    assert(new java.io.File(table).list().filter(_.endsWith("_tmp")).isEmpty,
      "every partition's _tmp is deleted")
    // no partition swapped: the new years never appear, the old one is intact
    assert(!fs.exists(s"$table/year=2023") && !fs.exists(s"$table/year=2025"))
    assert(spark.read.parquet(s"$table/year=2024").count() == 9)
    assert(!fs.exists(s"$table/_commit_lease"), "the lease is released")
    w.write(writeDf(2), table, 2025)
    assert(spark.read.parquet(s"$table/year=2025").count() == 2)
  }

  test("upsert and append commits return the row counts they committed") {
    val table = tmpDir()
    val w = new AtomicPartitionWriter(fsOps, spark)
    // several files per staged partition: round-robin over 4 tasks
    def rel(from: Long, n: Int) =
      spark.range(from, from + n).selectExpr("id", "id % 3 AS shard").repartition(4)
    w.commitPartitioned(rel(0L, 12), table, "shard")
    val delta = rel(100L, 20).filter("shard < 2")
    val (upserted, nUpserted) = w.upsertPartitionsCounted(delta, table, "shard")
    assert(nUpserted == delta.count())
    assert(nUpserted == upserted.values.toSeq.map(spark.read.parquet(_).count()).sum)
    val before = spark.read.parquet(table).count()
    val (_, nAppended) = w.appendPartitionsCounted(rel(200L, 9), table, "shard")
    assert(nAppended == 9L)
    assert(nAppended == spark.read.parquet(table).count() - before)
  }

  test("footer reader: files and rows per directory equal a listing and a scan") {
    val table = s"${tmpDir()}/t"
    spark.range(0, 500).selectExpr("id", "id % 4 AS part").repartition(5)
      .write.partitionBy("part").parquet(table)
    val dirs = (0 until 4).map(p => s"$table/part=$p")
    val got = Footers.counts(spark, dirs :+ table)
    dirs.zip(got).foreach { case (d, (files, rows)) =>
      assert(files > 1, s"$d should hold several files")
      assert(files == new java.io.File(d).list().count(_.endsWith(".parquet")))
      assert(rows == spark.read.parquet(d).count())
    }
    // the table root counts every file beneath it
    assert(got.last == ((got.init.map(_._1).sum, 500L)))
  }

  test("footer reader: a two-level table and a single-file root equal a scan") {
    val table = s"${tmpDir()}/t"
    spark.range(0, 300).selectExpr("id", "id % 2 AS a", "id % 3 AS b")
      .repartition(4).write.partitionBy("a", "b").parquet(table)
    val part = s"$table/a=1"
    val file = new java.io.File(s"$part/b=2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val Seq((tFiles, tRows), (pFiles, pRows), (fFiles, fRows)) =
      Footers.counts(spark, Seq(table, part, file))
    assert(tRows == spark.read.parquet(table).count())
    assert(pRows == spark.read.parquet(part).count())
    assert(tFiles > pFiles && pFiles > 1)
    assert(fFiles == 1L && fRows == spark.read.parquet(file).count())
  }

  test("two committers racing one table: the second fails fast, state stays whole") {
    val table = tmpDir()
    val fs = fsOps
    val w = new AtomicPartitionWriter(fs, spark)
    w.write(writeDf(3), table, 2023)
    // committer A is mid-commit: its lease is on the table
    w.withCommitLease(table) {
      // committer B (every entry point) must refuse, not interleave
      val e = intercept[ConcurrentCommitException] {
        new AtomicPartitionWriter(fs, spark).write(writeDf(9), table, 2023)
      }
      assert(e.getMessage.contains(table))
      intercept[ConcurrentCommitException] {
        new AtomicPartitionWriter(fs, spark)
          .commitPartitioned(writeDf(4).withColumn("shard",
            org.apache.spark.sql.functions.lit(0L)), table, "shard")
      }
    }
    // the loser touched nothing: no _tmp litter, old content intact
    assert(spark.read.parquet(s"$table/year=2023").count() == 3)
    assert(!fs.exists(s"$table/year=2023_tmp"))
    // lease released with the block: the next commit proceeds
    w.write(writeDf(5), table, 2023)
    assert(spark.read.parquet(s"$table/year=2023").count() == 5)
  }

  test("commit lease: in-process failure releases it; a stale one is stolen and reaped") {
    val table = tmpDir()
    val fs = fsOps
    val w = new AtomicPartitionWriter(fs, spark)
    // an injected mid-commit failure must release the lease (finally)
    val failing = new AtomicPartitionWriter(fs, spark) {
      override protected def syncMetastore(t: String, d: String, y: Int): Unit =
        sys.error("injected")
    }
    intercept[RuntimeException] {
      failing.write(writeDf(2), table, 2023, table = Some("lease_rel_test"))
    }
    assert(!fs.exists(s"$table/_commit_lease"),
      "in-process failure must release the lease")
    // a process-killed committer leaks the lease; past the TTL the next
    // committer steals it...
    fs.createExclusive(s"$table/_commit_lease", """{"app":"dead","ts":0}""")
    val stale = new org.apache.hadoop.fs.Path(s"$table/_commit_lease")
    fs.fs.setTimes(stale,
      System.currentTimeMillis() - AtomicPartitionWriter.LeaseTtlMs - 1000L, -1L)
    w.write(writeDf(4), table, 2024)
    assert(spark.read.parquet(s"$table/year=2024").count() == 4)
    // ...and repair reaps a stale lease as litter (a fresh one it keeps)
    fs.createExclusive(s"$table/_commit_lease", """{"app":"dead","ts":0}""")
    fs.fs.setTimes(stale,
      System.currentTimeMillis() - AtomicPartitionWriter.LeaseTtlMs - 1000L, -1L)
    assert(w.repair(table).exists(_.endsWith("_commit_lease")))
    assert(!fs.exists(s"$table/_commit_lease"))
    fs.createExclusive(s"$table/_commit_lease", """{"app":"live","ts":1}""")
    assert(!w.repair(table).exists(_.endsWith("_commit_lease")))
    fs.delete(s"$table/_commit_lease")
  }

  test("upsertPartitions swaps only the delta's partitions; the rest never move") {
    val table = tmpDir()
    val fs = fsOps
    val w = new AtomicPartitionWriter(fs, spark)
    w.commitPartitioned(Seq((1L, 0L), (2L, 1L), (3L, 2L)).toDF("id", "shard"),
      table, "shard")
    def ids(shard: Long): Set[Long] =
      spark.read.parquet(s"$table/shard=$shard")
        .collect().map(_.getLong(0)).toSet
    def listing(p: String) = fs.lsRecursive(p).sorted.map(f =>
      f -> fs.fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
        .getModificationTime)
    val before1 = listing(s"$table/shard=1")
    val before2 = listing(s"$table/shard=2")
    // delta: replaces shard=0's content, creates shard=3, names neither 1 nor 2
    w.upsertPartitionsCounted(Seq((10L, 0L), (11L, 3L)).toDF("id", "shard"),
      table, "shard")
    assert(ids(0L) === Set(10L)) // touched: swapped to the delta's content
    assert(ids(3L) === Set(11L)) // new partition created through the swap
    // absent from the delta: identical files, identical mtimes — the
    // delta-commit never rewrites (or deletes, unlike commitPartitioned)
    // what it does not name
    assert(ids(1L) === Set(2L) && ids(2L) === Set(3L))
    assert(listing(s"$table/shard=1") === before1)
    assert(listing(s"$table/shard=2") === before2)
    assert(!fs.exists(s"$table/shard=0_old") && !fs.exists(s"$table/shard_stage_tmp"))
  }

  test("appendPartitions adds files without touching existing ones; untouched partitions never move") {
    val table = tmpDir()
    val fs = fsOps
    val w = new AtomicPartitionWriter(fs, spark)
    w.commitPartitioned(Seq((1L, 0L), (2L, 1L), (3L, 2L)).toDF("id", "shard"),
      table, "shard")
    def ids(shard: Long): Set[Long] =
      spark.read.parquet(s"$table/shard=$shard")
        .collect().map(_.getLong(0)).toSet
    def listing(p: String) = fs.lsRecursive(p).sorted.map(f =>
      f -> fs.fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
        .getModificationTime)
    val before0 = listing(s"$table/shard=0")
    val before1 = listing(s"$table/shard=1")
    // delta: appends into shard=0, creates shard=3, names neither 1 nor 2
    val (appended, _) = w.appendPartitionsCounted(
      Seq((10L, 0L), (11L, 3L)).toDF("id", "shard"), table, "shard")
    assert(appended.keySet === Set("0", "3"))
    // touched partition: old content PLUS the delta — the pre-existing
    // files are byte-untouched (same names, same mtimes), the delta
    // arrived as NEW files
    assert(ids(0L) === Set(1L, 10L))
    val after0 = listing(s"$table/shard=0")
    assert(after0.filter(f => before0.exists(_._1 == f._1)) === before0,
      "append must never rewrite an existing file")
    assert(after0.size > before0.size, "append must add files")
    assert(ids(3L) === Set(11L)) // new partition created by the append
    // untouched partitions: identical files, identical mtimes
    assert(ids(1L) === Set(2L))
    assert(listing(s"$table/shard=1") === before1)
    assert(!fs.exists(s"$table/shard_append_tmp"))
  }

  test("commitPartitioned removes partitions a shrinking re-commit dropped") {
    val table = tmpDir()
    val w = new AtomicPartitionWriter(fsOps, spark)
    def rel(shards: Int) =
      Seq.tabulate(12)(i => (i.toLong, (i % shards).toLong)).toDF("id", "shard")
    w.commitPartitioned(rel(4), table, "shard")
    assert(spark.read.parquet(table).select("shard").distinct().count() == 4)
    // shard 3 vanishes from the relation — the re-commit must not leave
    // its previous directory mixed into the table
    w.commitPartitioned(rel(3), table, "shard")
    assert(!fsOps.exists(s"$table/shard=3"), "stale partition must be removed")
    val back = spark.read.parquet(table)
    assert(back.select("shard").distinct().count() == 3)
    assert(back.count() == 12)
  }

  test("swap failure rolls the backup partition back") {
    val table = tmpDir()
    val fs = fsOps
    // a LakeFs whose commit rename fails once
    val failing = new LakeFs(fs.fs) {
      override def rename(src: String, dst: String): Boolean =
        if (src.endsWith("_tmp")) false else super.rename(src, dst)
    }
    val w = new AtomicPartitionWriter(failing, spark)
    new AtomicPartitionWriter(fs, spark).write(writeDf(3), table, 2023)
    intercept[IllegalStateException] {
      w.write(writeDf(9), table, 2023)
    }
    // original data still live, no litter
    assert(spark.read.parquet(s"$table/year=2023").count() == 3)
    assert(!fs.exists(s"$table/year=2023_old"))
    assert(!fs.exists(s"$table/year=2023_tmp"))
  }

  test("repair reaps _tmp always and _old only when the live partition exists") {
    val table = tmpDir()
    val fs = fsOps
    val w = new AtomicPartitionWriter(fs, spark)
    w.write(writeDf(2), table, 2023)
    fs.mkdirs(s"$table/year=2023_old")
    fs.mkdirs(s"$table/year=2024_tmp")
    fs.mkdirs(s"$table/year=2025_old") // no live year=2025: keep (recovery data)
    val reaped = w.repair(table).map(_.split('/').last).sorted
    assert(reaped == Seq("year=2023_old", "year=2024_tmp"))
    assert(fs.exists(s"$table/year=2025_old"))
  }

  test("crash between commit rename and metastore sync: repair reconciles catalog with FS") {
    val table = tmpDir()
    val fs = fsOps
    val w = new AtomicPartitionWriter(fs, spark)
    w.write(writeDf(3), table, 2023)
    Catalog.registerPartitionedParquet(spark, "lake_div_test", table)
    assert(spark.table("lake_div_test").count() == 3)
    // a writer killed between the commit rename and the ALTER TABLE —
    // the one crash-matrix cell where FS and metastore diverge
    val crashing = new AtomicPartitionWriter(fs, spark) {
      override protected def syncMetastore(t: String, d: String, y: Int): Unit =
        sys.error("killed between rename and ALTER TABLE")
    }
    intercept[RuntimeException] {
      crashing.write(writeDf(9), table, 2024, table = Some("lake_div_test"))
    }
    // divergence: the partition is committed on FS but invisible via the catalog
    assert(spark.read.parquet(s"$table/year=2024").count() == 9)
    assert(spark.table("lake_div_test").count() == 3)
    // a second crash, this time overwriting 2023 — leaves an _old backup too
    intercept[RuntimeException] {
      crashing.write(writeDf(5), table, 2023, table = Some("lake_div_test"))
    }
    assert(fs.exists(s"$table/year=2023_old"))
    // the reconciling repair: reap litter, then re-derive the partition index
    val reaped = w.repair(table, "lake_div_test").map(_.split('/').last)
    assert(reaped == Seq("year=2023_old"))
    assert(spark.table("lake_div_test").count() == 5 + 9)
    // idempotent: a repeat (crash mid-repair) changes nothing
    assert(w.repair(table, "lake_div_test").isEmpty)
    assert(spark.table("lake_div_test").count() == 5 + 9)
    spark.sql("DROP TABLE IF EXISTS lake_div_test")
  }

  // --- Versioning (X3) ---

  test("versioning: metadata, newest-first order, retention, restore") {
    val root = tmpDir()
    val table = tmpDir()
    val fs = fsOps
    var now = 1700000000000L
    val v = new Versioning(fs, spark, root, keepVersions = 2,
      clock = () => { now += 60000; now })
    val w = new AtomicPartitionWriter(fs, spark)
    val v1 = v.create(writeDf(3), 2023, "a.csv")
    val v2 = v.create(writeDf(4), 2023, "b.csv")
    val v3 = v.create(writeDf(5), 2023, "c.csv")
    assert(v.list(2023) == Seq(v3, v2, v1))
    val meta = v.metadataJson(2023, v3).get
    assert(meta.contains("\"row_count\":5"))
    assert(meta.contains("\"source_file\":\"c.csv\""))
    assert(meta.contains("\"year\":2023"))
    assert(v.cleanup(2023) == Seq(v1))
    assert(v.list(2023) == Seq(v3, v2))
    v.restore(2023, v2, table, w)
    assert(spark.read.parquet(s"$table/year=2023").count() == 4)
  }

  test("versioning: same-second suffixes order numerically past _9") {
    val root = tmpDir()
    // frozen clock: every create lands in the same second → suffixes
    // _2.._11; lexicographic order would rank _2 above _10/_11
    val v = new Versioning(fsOps, spark, root, keepVersions = 3,
      clock = () => 1700000000000L)
    val ids = (1 to 11).map(_ => v.create(writeDf(1), 2023, "s.csv"))
    assert(v.list(2023) == ids.reverse)
    assert(v.cleanup(2023).toSet == ids.dropRight(3).toSet)
    assert(v.list(2023) == ids.reverse.take(3))
  }

  test("q234 backfill: stale-only rewrites, capped waves, data fixed") {
    val sf = "/root/testdata/sf0.001"
    val out = Backfill.backfillExec(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(out.nonEmpty)
    // everything ends at the current version, stale = even years only
    assert(out.forall(_._3 == Backfill.PipelineVersion))
    out.foreach { case (y, vb, _, w, _, _) =>
      assert(vb == (if (y % 2 == 0) 1L else Backfill.PipelineVersion))
      assert((w > 0) == (y % 2 == 0), s"year $y wave $w") }
    // waves fill in year order at the cap
    val staleWaves = out.filter(_._1 % 2 == 0).map(_._4)
    assert(staleWaves.zipWithIndex.forall { case (w, i) =>
      w == i / Backfill.WaveCap + 1 })
    // the backfill actually fixed the zeroed cents column
    assert(out.forall(_._6 > 0L))
  }
}
