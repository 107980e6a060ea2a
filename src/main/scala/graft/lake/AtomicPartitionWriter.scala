package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Par

/** Crash-atomic partition commit via the swap pattern (reference X2 —
  * `jobs/utils/retry.py:63-165`, crash matrix `README.md:247-281`):
  *
  *  1. write the partition's data to `<table>/year=Y_tmp`
  *  2. if `<table>/year=Y` exists, rename it to `year=Y_old` (backup)
  *  3. rename `year=Y_tmp` → `year=Y` (the commit point; HDFS rename is
  *     atomic)
  *  4. sync the metastore partition if the table is registered
  *  5. delete `year=Y_old`
  *
  * Failure handling matches the reference exactly: a failed step-3 rename
  * rolls the backup back (`jobs/utils/retry.py:154-157`); any failure
  * before the commit point deletes the `_tmp` dir; `repair()` reaps
  * leftover `_tmp`/`_old` dirs from crashed runs. Other partitions are
  * never touched. This is deliberately NOT Spark's dynamic partition
  * overwrite: that is not crash-atomic across the metastore sync, and the
  * explicit protocol is unit-testable against an injected filesystem.
  */
/** Raised when a second committer races an in-flight commit on the same
  * table directory — the caller must back off / retry, never proceed:
  * proceeding is silent last-writer-wins with possible `_old` orphans.
  */
class ConcurrentCommitException(tableDir: String, holder: String)
  extends IllegalStateException(
    s"concurrent commit on $tableDir — lease held by $holder")

object AtomicPartitionWriter {
  /** Commit-lease time-to-live: a lease older than this belongs to a
    * crashed committer (a live one HEARTBEATS — bumps the lease mtime
    * every [[AtomicPartitionWriter.LeaseTtlMs]]/3 — so however long its
    * staging runs, its lease never ages past TTL/3) and is stolen.
    * Kept generous — stealing a LIVE committer's lease reintroduces the
    * race this guard exists to close; the heartbeat makes that require
    * a 10-minute total process stall, and the pre-swap ownership
    * re-check fences even that.
    */
  val LeaseTtlMs: Long = 15L * 60L * 1000L

  /** Staging jobs [[AtomicPartitionWriter.writeYears]] overlaps. */
  val StagingWidth = 4

  /** Raised at a swap point when the committer's own lease is gone or
    * rewritten — the live-but-stalled-holder fence: a committer whose
    * lease was stolen (heartbeat starved past TTL, thief moved in) must
    * ABORT before touching the table, because the thief may be mid-swap
    * on the same partitions. The staged `_tmp` data is litter for
    * [[AtomicPartitionWriter.repair]]; nothing committed is torn.
    */
  class LeaseLostException(tableDir: String)
    extends IllegalStateException(
      s"commit lease on $tableDir was lost mid-commit — aborting before swap")
}

class AtomicPartitionWriter(fsOps: LakeFs, spark: SparkSession) {

  def partitionPath(tableDir: String, year: Int, suffix: String = ""): String =
    s"$tableDir/year=$year$suffix"

  private def leasePath(tableDir: String) = s"$tableDir/_commit_lease"

  /** Heartbeat period — how often a live holder bumps its lease mtime.
    * TTL/3 means a holder must miss THREE consecutive beats (a 10-minute
    * process stall) before a concurrent committer can judge it dead.
    * Overridable so the spec can exercise the beat without wall-clock
    * TTLs.
    */
  protected def leaseHeartbeatMs: Long = AtomicPartitionWriter.LeaseTtlMs / 3

  /** The lease this thread holds mid-`withCommitLease`, as (path, token)
    * — [[swap]] re-verifies it before every backup rename. Thread-local
    * because the in-JVM race specs drive one writer from two threads;
    * on a cluster each committer is its own driver process anyway.
    */
  private val heldLease =
    new ThreadLocal[Option[(String, String)]] {
      override def initialValue(): Option[(String, String)] = None
    }

  /** Exclusive commit lease over `tableDir` for the duration of `body` —
    * the single-writer guard for the whole swap protocol. Two committers
    * racing the same table previously interleaved silently: both staged
    * into the SAME `_tmp` path (torn staging), and the loser's `_old`
    * backup could orphan. Now the second committer fails fast with
    * [[ConcurrentCommitException]] — callers expecting benign
    * same-table contention (different-partition writers serialized by
    * the table-level lease) wrap the commit in [[withLeaseRetry]].
    *
    * The lease is an atomic create-if-absent file ([[LakeFs
    * .createExclusive]]) recording the holder's app id plus a per-
    * acquisition nonce; it is released in a `finally`, so an in-process
    * failure (the crash matrix's injected faults) never leaks it. A
    * PROCESS-kill crash does leak it — past [[AtomicPartitionWriter
    * .LeaseTtlMs]] the next committer (and [[repair]]) treats it as
    * litter and steals/reaps it.
    *
    * Liveness + safety against the two classic lease races:
    *  - STEAL IS ATOMIC: a stale lease is stolen by renaming it to a
    *    unique tombstone — rename is atomic, so of two committers that
    *    both judged it stale, exactly one wins the rename; the loser
    *    falls through to `createExclusive`, which arbitrates atomically
    *    again. The old delete-then-create steal let the slow stealer's
    *    `delete` remove the fast stealer's FRESH lease (TOCTOU — two
    *    holders).
    *  - LIVE HOLDERS HEARTBEAT: a background daemon bumps the lease
    *    mtime every [[leaseHeartbeatMs]] while `body` runs, so a
    *    legitimate commit whose staging exceeds the TTL (plausible at
    *    100 TB) is never judged dead. If the beat ever finds the lease
    *    content is not its own token, the lease was stolen — it stops
    *    beating and the next [[swap]] aborts via the ownership re-check
    *    rather than interleaving with the thief.
    *  - RELEASE IS OWNERSHIP-CHECKED: the `finally` deletes the lease
    *    only while it still carries this holder's token, so a (stolen)
    *    successor's lease is never reaped by the victim's exit.
    */
  def withCommitLease[T](tableDir: String)(body: => T): T = {
    val lp = leasePath(tableDir)
    val token = s"""{"app":"${spark.sparkContext.applicationId}",""" +
      s""""ts":${System.currentTimeMillis()},""" +
      s""""nonce":"${java.util.UUID.randomUUID().toString}"}"""
    def tryAcquire(): Boolean = fsOps.createExclusive(lp, token)
    var acquired = tryAcquire()
    if (!acquired) {
      val age =
        try System.currentTimeMillis() - fsOps.fs.getFileStatus(
          new org.apache.hadoop.fs.Path(lp)).getModificationTime
        catch { case _: java.io.IOException => Long.MaxValue } // gone: retry
      if (age > AtomicPartitionWriter.LeaseTtlMs) {
        // Stealing is SERIALIZED through a steal-lock (atomic
        // create-if-absent, held for microseconds): the old
        // judge-then-delete steal let a slow stealer act on a stale
        // VERDICT against a lease a faster stealer had already
        // replaced — deleting (or renaming away) the thief's FRESH
        // lease and re-opening the two-holder race. With the lock,
        // at most one stealer operates on the lease path at a time,
        // and ordinary acquirers can't interfere (they only create
        // when the path is absent; it stays present until the reap).
        // Under the lock the reap itself is still belt-and-braces:
        // re-verify staleness, rename to a private tombstone, and
        // re-verify ON the tombstone before discarding — so even a
        // crashed-stealer's leaked lock (reaped past TTL below, the
        // same liveness rule as the lease) degrades to a restored
        // lease + ConcurrentCommitException, never to two holders.
        // Whatever residual interleave one constructs, the swap
        // fence keeps committed data safe.
        def mtimeOf(p: String): Option[Long] =
          try Some(fsOps.fs.getFileStatus(
            new org.apache.hadoop.fs.Path(p)).getModificationTime)
          catch { case _: java.io.IOException => None }
        def isStale(mtime: Option[Long]): Boolean = mtime.exists(t =>
          System.currentTimeMillis() - t > AtomicPartitionWriter.LeaseTtlMs)
        val sl = s"${lp}_steal"
        if (isStale(mtimeOf(sl))) fsOps.delete(sl) // crashed stealer's litter
        if (fsOps.createExclusive(sl, token)) {
          try {
            if (isStale(mtimeOf(lp))) {
              val tomb =
                s"${lp}_tomb_${java.util.UUID.randomUUID().toString.take(8)}"
              val won =
                try fsOps.rename(lp, tomb)
                catch { case _: java.io.IOException => false }
              if (won) {
                if (isStale(mtimeOf(tomb))) fsOps.delete(tomb) // corpse
                else if (!fsOps.rename(tomb, lp)) fsOps.delete(tomb)
              }
            }
          } finally fsOps.delete(sl)
        }
        acquired = tryAcquire()
      }
    }
    if (!acquired) {
      val holder = try fsOps.readString(lp) catch {
        case _: java.io.IOException => "<unreadable>"
      }
      throw new ConcurrentCommitException(tableDir, holder)
    }
    val beat = startHeartbeat(lp, token)
    heldLease.set(Some((lp, token)))
    try body finally {
      heldLease.set(None)
      beat.interrupt()
      if (ownsLease(lp, token)) fsOps.delete(lp)
    }
  }

  /** True while the lease file still carries `token` — i.e. it was
    * neither reaped nor stolen since acquisition.
    */
  private def ownsLease(lp: String, token: String): Boolean =
    try fsOps.readString(lp) == token
    catch { case _: java.io.IOException => false }

  private def startHeartbeat(lp: String, token: String): Thread = {
    val t = new Thread(() => {
      try {
        var mine = true
        while (mine && !Thread.currentThread().isInterrupted) {
          Thread.sleep(leaseHeartbeatMs)
          try {
            // stolen → stop beating; the next swap's re-check aborts
            mine = ownsLease(lp, token)
            if (mine) fsOps.fs.setTimes(new org.apache.hadoop.fs.Path(lp),
              System.currentTimeMillis(), -1L)
          } catch { case _: java.io.IOException => () } // transient: next beat
        }
      } catch { case _: InterruptedException => () } // released: exit
    })
    t.setDaemon(true)
    t.setName(s"graft-lease-heartbeat-${Integer.toHexString(lp.hashCode)}")
    t.start()
    t
  }

  /** Retry wrapper for benign commit contention: re-attempts `body`
    * under the reference backoff law (X1) when — and ONLY when — it
    * fails with [[ConcurrentCommitException]]; any other failure
    * surfaces immediately (re-staging a whole commit three times over a
    * data error is not a retry, it is a bill). This is the caller-facing
    * answer to the table-level lease serializing commits to DIFFERENT
    * partitions of one table: writers that used to interleave safely on
    * disjoint `year=` paths now queue behind each other here.
    */
  def withLeaseRetry[T](label: String,
      maxRetries: Int = Retry.DefaultMaxRetries,
      delaySeconds: Double = Retry.DefaultDelaySeconds,
      sleep: Double => Unit = s => Thread.sleep((s * 1000).toLong))(
      body: => T): T = {
    val attempts = math.max(1, maxRetries)
    var attempt = 0
    var last: ConcurrentCommitException = null
    while (attempt < attempts) {
      attempt += 1
      try return body
      catch {
        case e: ConcurrentCommitException =>
          last = e
          if (attempt < attempts)
            sleep(delaySeconds * math.pow(2, attempt - 1))
      }
    }
    throw Retry.RetriesExhausted(label, attempts, last)
  }

  /** Write `df` as the new content of partition `year=Y` of `tableDir`
    * — the one-partition case of [[writeYears]]. Returns the committed
    * partition path.
    */
  def write(df: DataFrame, tableDir: String, year: Int,
      table: Option[String] = None): String =
    writeYears(Seq(year -> df), tableDir, table).head

  /** Commit SEVERAL year partitions of one table under ONE commit
    * lease. The per-partition staging writes are independent Spark
    * jobs, so up to [[AtomicPartitionWriter.StagingWidth]] of them
    * overlap through [[Par.map]] (guide §2.6: one job's straggler tail
    * back-fills with the next job's tasks — serially, a 7-partition
    * rewrite pays 7 full job latencies); every swap then lands
    * SEQUENTIALLY on the calling thread in year order. Crash semantics
    * per partition: a staging failure deletes every partition's `_tmp`
    * (once every staging job has finished) and fails the commit before
    * ANY swap ran; a failure from the swap on deletes that partition's
    * `_tmp`; a crash mid-swap leaves each partition either old or new
    * plus `_tmp`/`_old` litter [[repair]] reaps; the metastore syncs
    * before each partition's backup is deleted. Returns the committed
    * partition paths in year order.
    */
  def writeYears(parts: Seq[(Int, DataFrame)], tableDir: String,
      table: Option[String] = None): Seq[String] = withCommitLease(tableDir) {
    def tmp(y: Int) = partitionPath(tableDir, y, "_tmp")
    try Par.map(parts, AtomicPartitionWriter.StagingWidth) { case (y, df) =>
      df.write.mode("overwrite").parquet(tmp(y))
    } catch {
      case e: Throwable =>
        parts.foreach { case (y, _) => deleteIfExists(tmp(y)) }
        throw e
    }
    parts.map(_._1).sorted.map { y =>
      try swapIn(tmp(y), partitionPath(tableDir, y),
        partitionPath(tableDir, y, "_old"))(
        table.foreach(syncMetastore(_, tableDir, y)))
      catch {
        case e: Throwable =>
          deleteIfExists(tmp(y))
          throw e
      }
    }
  }

  /** Commit a WHOLE partitioned relation atomically per partition:
    * `df` is staged ONCE ([[stagePartitioned]]: one pipeline evaluation
    * however many partitions exist), then every staged `partCol=value`
    * directory is swapped into place. Atomicity is PER PARTITION, as
    * with every other entry point here: a crash mid-commit leaves each
    * partition either old or new plus `_tmp`/`_old` litter that
    * [[repair]] reaps (the staging dir's `_tmp` suffix makes it
    * reapable too).
    *
    * The commit REPLACES the table: pre-existing `partCol=value`
    * directories absent from the new relation are removed after every
    * swap lands (a shrinking re-commit must not leave a previous
    * commit's partitions mixed in — e.g. a hash shard that became
    * empty). A crash between the swaps and this sweep leaves the stale
    * dirs readable-but-old; the next successful commit removes them.
    * Returns committed paths keyed by partition value.
    */
  def commitPartitioned(df: DataFrame, tableDir: String,
      partCol: String): Map[String, String] =
    stagePartitioned(df, tableDir, partCol, "stage_tmp") { (staging, parts) =>
      val committed = swapStaged(staging, tableDir, partCol, parts)
      val newSet = parts.toSet
      fsOps.fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => n.startsWith(s"$partCol=") && !newSet.contains(n) &&
          !n.endsWith("_old") && !n.endsWith("_tmp"))
        .foreach(n => fsOps.delete(s"$tableDir/$n"))
      committed
    }

  /** [[commitPartitioned]]'s UPSERT twin: stage `df` once and swap each
    * staged partition into place — but partitions ABSENT from `df` are
    * left untouched (no removal sweep). This is the delta-commit
    * primitive: an incremental ingest rewrites only the partitions that
    * received new rows, paying IO proportional to the touched mass
    * instead of the table. Same lease, same per-partition atomicity,
    * same `_tmp`/`_old` litter discipline ([[repair]] reaps a crashed
    * run's leftovers; a crash mid-upsert leaves each partition either
    * old or new — callers needing all-or-nothing visibility must
    * version-gate readers, as [[graft.operators.AnnIndex]] does with its
    * sidecar).
    *
    * Also returns the total rows staged — read from the staged parquet
    * FOOTERS between the staging write and the swaps (driver metadata
    * IO, never a job). Staged rows ARE the rows the swapped partitions
    * now hold, so callers never pay a separate materialize+count.
    */
  def upsertPartitionsCounted(df: DataFrame, tableDir: String,
      partCol: String): (Map[String, String], Long) =
    stagePartitioned(df, tableDir, partCol, "stage_tmp") { (staging, parts) =>
      val rows = stagedRows(staging, parts)
      (swapStaged(staging, tableDir, partCol, parts), rows)
    }

  /** The APPEND-side delta primitive — the write-amplification
    * mitigation [[upsertPartitionsCounted]]'s wholesale-bucket swap
    * demands at high ingest rates: stage `df` once, then MOVE each
    * staged partition's data files INTO the existing live partition
    * directory under stage-unique names. Kept rows are never rewritten
    * — IO ∝ the delta alone, not the touched buckets' occupancy — at
    * the cost of one extra file per touched partition per append
    * (callers bound that with a file-count-threshold compaction pass;
    * [[graft.operators.AnnIndex]] grades both sides).
    *
    * Atomicity is PER FILE, not per partition: a crash mid-append
    * leaves whole files (rename is atomic), possibly a partial subset
    * of the staged set — readers gating on a version sidecar never see
    * the half-applied append as current, and a replayed append is made
    * row-idempotent by the caller's anti-join against existing
    * members, the same contract as the upsert's delta chain. Every
    * file move re-checks the lease ([[fenceLease]]). Returns data files
    * appended per partition value, and the total rows staged (from the
    * staged footers, as in [[upsertPartitionsCounted]]).
    */
  def appendPartitionsCounted(df: DataFrame, tableDir: String,
      partCol: String): (Map[String, Int], Long) =
    stagePartitioned(df, tableDir, partCol, "append_tmp") { (staging, parts) =>
      val stamp = java.util.UUID.randomUUID().toString.take(8)
      val rows = stagedRows(staging, parts)
      val appended = parts.map { p =>
        val fin = s"$tableDir/$p"
        fsOps.mkdirs(fin)
        val files = fsOps.fs
          .listStatus(new org.apache.hadoop.fs.Path(s"$staging/$p"))
          .filter(_.isFile)
          .map(_.getPath.getName)
          .filter(n => !n.startsWith("_") && !n.startsWith("."))
          .sorted
        files.zipWithIndex.foreach { case (f, i) =>
          fenceLease()
          if (!fsOps.rename(s"$staging/$p/$f", s"$fin/append-$stamp-$i-$f"))
            throw new IllegalStateException(
              s"append rename failed: $staging/$p/$f -> $fin")
        }
        p.stripPrefix(s"$partCol=") -> files.length
      }.toMap
      (appended, rows)
    }

  /** The stage-and-list step of the partitioned commits: under the
    * table's lease, write `df` ONCE via `partitionBy(partCol)` into
    * `<tableDir>/<partCol>_<suffix>`, list the staged `partCol=value`
    * dirs (sorted), and hand both to `commit`. The staging dir is
    * deleted afterwards whatever `commit` did.
    */
  private def stagePartitioned[T](df: DataFrame, tableDir: String,
      partCol: String, suffix: String)(
      commit: (String, Seq[String]) => T): T = withCommitLease(tableDir) {
    val staging = s"$tableDir/${partCol}_$suffix"
    try {
      df.write.mode("overwrite").partitionBy(partCol).parquet(staging)
      commit(staging, fsOps.fs
        .listStatus(new org.apache.hadoop.fs.Path(staging))
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith(s"$partCol="))
        .sorted.toSeq)
    } finally deleteIfExists(staging)
  }

  /** Swap every staged `partCol=value` dir into `tableDir`, in order;
    * committed paths keyed by partition value.
    */
  private def swapStaged(staging: String, tableDir: String, partCol: String,
      parts: Seq[String]): Map[String, String] =
    parts.map { p =>
      p.stripPrefix(s"$partCol=") ->
        swapIn(s"$staging/$p", s"$tableDir/$p", s"$tableDir/${p}_old")()
    }.toMap

  /** Total record count across the staged partition dirs, from parquet
    * footer metadata only ([[Footers]]; never a Spark job).
    */
  private def stagedRows(staging: String, parts: Seq[String]): Long =
    Footers.counts(spark, parts.map(p => s"$staging/$p")).map(_._2).sum

  /** One partition's commit: [[swap]] `tmp` into `fin`, run `sync`
    * BEFORE deleting the backup — a crash during the metastore sync
    * must leave `_old` for recovery (crash-matrix contract) — then
    * delete the backup. Returns `fin`.
    */
  private def swapIn(tmp: String, fin: String, old: String)(
      sync: => Unit = ()): String = {
    swap(tmp, fin, old)
    sync
    deleteIfExists(old)
    fin
  }

  private def deleteIfExists(path: String): Unit =
    if (fsOps.exists(path)) fsOps.delete(path)

  /** Abort with [[AtomicPartitionWriter.LeaseLostException]] unless the
    * calling thread still owns the lease it took in [[withCommitLease]].
    */
  private def fenceLease(): Unit =
    heldLease.get().foreach { case (lp, token) =>
      if (!ownsLease(lp, token))
        throw new AtomicPartitionWriter.LeaseLostException(
          lp.stripSuffix("/_commit_lease"))
    }

  /** The rename dance with rollback (reference `_hdfs_swap`,
    * `jobs/utils/retry.py:130-165`). Before touching anything it
    * re-verifies the calling thread's commit lease: a holder whose lease
    * was stolen (process stall past the heartbeat's tolerance) aborts
    * with [[AtomicPartitionWriter.LeaseLostException]] INSTEAD of
    * interleaving its renames with the thief's — staged `_tmp` data
    * becomes reapable litter, committed state stays whole. Checked per
    * swap so a multi-partition commit fences every partition, at the
    * cost of one tiny-file read each.
    */
  private[lake] def swap(tmp: String, fin: String, old: String): Unit = {
    fenceLease()
    val hadBackup = fsOps.exists(fin)
    if (hadBackup) {
      deleteIfExists(old) // stale backup from a crash
      if (!fsOps.rename(fin, old))
        throw new IllegalStateException(s"backup rename failed: $fin -> $old")
    }
    if (!fsOps.rename(tmp, fin)) {
      // rollback: restore the backup before surfacing the failure
      if (hadBackup) fsOps.rename(old, fin)
      throw new IllegalStateException(s"commit rename failed: $tmp -> $fin")
    }
  }

  /** Metastore partition sync (reference `jobs/utils/retry.py:110-111`).
    * Overridable so the crash matrix can kill the run between the commit
    * rename and the ALTER TABLE (SURVEY §7.5 risk 1).
    */
  protected def syncMetastore(table: String, tableDir: String, year: Int): Unit =
    Catalog.syncPartition(spark, table, tableDir, year)

  /** Reap `_tmp`/`_old` leftovers from crashed runs (reference
    * `jobs/utils/retry.py:144-165`): `_tmp` is always garbage; `_old` is
    * garbage only when the committed partition exists.
    */
  def repair(tableDir: String): Seq[String] = {
    if (!fsOps.exists(tableDir)) return Seq.empty // fresh lake root: nothing to reap
    val status = fsOps.fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
    val now = System.currentTimeMillis()
    val reaped = status.filter { s =>
      val name = s.getPath.getName
      name.endsWith("_tmp") ||
        (name.endsWith("_old") &&
          fsOps.exists(s.getPath.toUri.getPath.stripSuffix("_old"))) ||
        // a commit lease outliving its TTL belongs to a process-killed
        // committer (in-process failures release in a finally; live
        // holders heartbeat) — litter. The prefix also reaps steal
        // tombstones leaked by a stealer killed between its rename and
        // its delete.
        (name.startsWith("_commit_lease") &&
          now - s.getModificationTime > AtomicPartitionWriter.LeaseTtlMs)
    }.map(_.getPath.toUri.getPath)
    reaped.foreach(fsOps.delete)
    reaped.toSeq
  }

  /** FS reap + metastore reconciliation for a registered table. A crash
    * between the commit rename and the partition sync leaves the
    * directory live but the catalog without (or with a stale) entry —
    * the one divergence the FS-only [[repair]] cannot see. Reap first so
    * `_tmp`/`_old` litter never enters partition discovery, then let
    * `MSCK REPAIR` re-derive the partition index from the directory
    * layout. Both halves are idempotent, so re-running after a crash
    * mid-repair is safe.
    */
  def repair(tableDir: String, table: String): Seq[String] = {
    val reaped = repair(tableDir)
    Catalog.repair(spark, table)
    reaped
  }
}
