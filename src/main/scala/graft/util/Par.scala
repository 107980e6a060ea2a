package graft.util

/** The engine's one driver-side fan-out (optimization guide §2.6: the
  * scheduler happily runs several jobs at once inside one application;
  * actions are only sequential because driver code calls them
  * sequentially). Two kinds of work go through it:
  *  - independent Spark actions — the lifecycle operators' members/
  *    codes/model commits write DIFFERENT table directories under
  *    SEPARATE leases from one shared cached relation, and
  *    [[graft.lake.AtomicPartitionWriter.writeYears]] stages several
  *    partitions at once, so one job's tail back-fills with the next
  *    job's tasks;
  *  - driver metadata IO — listings and Parquet footer reads
  *    ([[graft.lake.Footers]]), bounded so a 100 TB partition count
  *    never turns into an unbounded thread or request burst.
  *
  * Safety preconditions (every call site in this repo satisfies them):
  *  - the thunks touch DISJOINT output directories (lease per dir);
  *  - any shared input is a persisted/checkpointed relation — Spark's
  *    BlockManager computes each cached partition once and blocks
  *    other readers, so a shared cache is not computed twice;
  *  - `SparkContext` local properties (job description/group) are an
  *    InheritableThreadLocal, so the fresh threads keep the caller's
  *    labels.
  *
  * Threads are created per call (no shared pool) and the caller is one
  * of the workers: call sites overlap 1-3 second write jobs or a few
  * hundred footer reads, so thread creation cost is noise, local
  * properties are inherited at creation, and a nested call can never
  * wait on a pool its own caller occupies.
  *
  * INVARIANT (r16 verdict hardening): nothing inside a Par region may
  * mutate SESSION-GLOBAL state that concurrently-running work reads —
  * in particular the streaming drains' `withStatePartitions` wrapper
  * rewrites `spark.sql.shuffle.partitions` for the whole session, so a
  * drain scheduled inside a Par region would re-plan the OTHER thread's
  * batch query at the drain's state-partition count. [[regionActive]]
  * lets such writers fail fast instead (the drain layer asserts it).
  */
object Par {
  private val activeRegions = new java.util.concurrent.atomic.AtomicInteger(0)

  /** True while ANY Par region is running in this JVM — coarse by
    * design: the hazard guarded against is a session-global conf write
    * racing any concurrently-scheduled sibling, not a per-thread
    * relationship.
    */
  def regionActive: Boolean = activeRegions.get() > 0

  /** `items.map(f)` with at most `width` applications of `f` running at
    * once: `min(width, items.size) - 1` fresh threads plus the calling
    * thread pull items in order. Results come back in input order.
    * Waits for EVERY item before returning or throwing (never leaves a
    * commit running past the call), then rethrows the failure of the
    * earliest failed item.
    */
  def map[A, B](items: Seq[A], width: Int)(f: A => B): Seq[B] = {
    val in = items.toIndexedSeq
    val results = new Array[Any](in.size)
    val errors = new Array[Throwable](in.size)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    def work(): Unit = {
      var i = next.getAndIncrement()
      while (i < in.size) {
        try results(i) = f(in(i))
        catch { case e: Throwable => errors(i) = e }
        i = next.getAndIncrement()
      }
    }
    activeRegions.incrementAndGet()
    try {
      val workers = (1 until math.min(width, in.size)).map { k =>
        val th = new Thread(() => work(), s"graft-par-$k")
        th.setDaemon(true)
        th.start()
        th
      }
      work()
      workers.foreach(_.join())
    } finally activeRegions.decrementAndGet()
    errors.collectFirst { case e if e != null => throw e }
    results.toSeq.asInstanceOf[Seq[B]]
  }

  /** Run two independent thunks concurrently; same wait-for-all /
    * first-failure contract as [[map]] (`fa`'s failure wins).
    */
  def pair[A, B](fa: => A, fb: => B): (A, B) = {
    val Seq(a, b) = map(Seq[() => Any](() => fa, () => fb), 2)(_())
    (a.asInstanceOf[A], b.asInstanceOf[B])
  }

  /** Run three independent thunks concurrently; same contract as
    * [[pair]].
    */
  def triple[A, B, C](fa: => A, fb: => B, fc: => C): (A, B, C) = {
    val Seq(a, b, c) = map(Seq[() => Any](() => fa, () => fb, () => fc), 3)(_())
    (a.asInstanceOf[A], b.asInstanceOf[B], c.asInstanceOf[C])
  }
}
