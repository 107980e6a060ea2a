package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Par

class ParSpec extends AnyFunSuite {

  test("regionActive is visible from both threads of a pair and clears after") {
    assert(!Par.regionActive)
    val (a, b) = Par.pair(Par.regionActive, Par.regionActive)
    assert(a && b)
    assert(!Par.regionActive)
  }

  test("regionActive clears even when a thunk fails") {
    intercept[IllegalStateException] {
      Par.pair(throw new IllegalStateException("boom"), ())
    }
    assert(!Par.regionActive)
  }

  test("pair waits for both and rethrows the first failure") {
    val done = new AtomicBoolean(false)
    intercept[IllegalStateException] {
      Par.pair(
        throw new IllegalStateException("first"),
        { Thread.sleep(50); done.set(true) })
    }
    assert(done.get, "pair must wait for the surviving thunk")
  }

  test("map runs width thunks at once and never more") {
    val width = 3
    // the first `width` items meet at a barrier: it trips only if that
    // many run together
    val barrier = new CyclicBarrier(width)
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    Par.map(0 until 12, width) { i =>
      val now = running.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
      if (i < width) barrier.await(10, TimeUnit.SECONDS)
      Thread.sleep(10)
      running.decrementAndGet()
    }
    assert(peak.get == width)
  }

  test("map returns results in input order") {
    val rnd = new scala.util.Random(7)
    val delays = Seq.fill(20)(rnd.nextInt(15).toLong)
    val out = Par.map(delays.indices, 4) { i => Thread.sleep(delays(i)); i * 10 }
    assert(out == delays.indices.map(_ * 10))
  }

  test("map waits for every thunk and rethrows the earliest failure") {
    val finished = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Par.map(0 until 6, 3) { i =>
        Thread.sleep(20L * (6 - i))
        finished.incrementAndGet()
        if (i == 1 || i == 4) throw new IllegalStateException(s"boom $i")
      }
    }
    assert(e.getMessage == "boom 1")
    assert(finished.get == 6, "every thunk ran to completion before the throw")
    assert(!Par.regionActive)
  }

  test("map: regionActive holds inside and clears afterwards") {
    val inside = Par.map(0 until 4, 2)(_ => Par.regionActive)
    assert(inside.forall(identity))
    assert(!Par.regionActive)
  }

  test("map: worker threads see the caller's SparkContext local properties") {
    val sc = GraftSession.local(2).sparkContext
    sc.setLocalProperty("graft.par.probe", "caller")
    // each thread blocks on its first item, so all four threads take one
    val barrier = new CyclicBarrier(4)
    try {
      val seen = Par.map(0 until 4, 4) { _ =>
        barrier.await(10, TimeUnit.SECONDS)
        (Thread.currentThread().getName, sc.getLocalProperty("graft.par.probe"))
      }
      assert(seen.map(_._1).distinct.size == 4, "one item per thread")
      assert(seen.forall(_._2 == "caller"))
    } finally sc.setLocalProperty("graft.par.probe", null)
  }
}
