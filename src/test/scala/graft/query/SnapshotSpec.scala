package graft.query

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.scalatest.funsuite.AnyFunSuite

/** The shared serving [[Snapshot]] holder, on the plain JVM: a stamp
  * the test moves, 8 threads reading through it. Pins the lifecycle
  * every stamped server inherits — one load per distinct stamp, each
  * replaced snapshot retired exactly once and never the one handed
  * out, the epoch hold, and `refresh()` under contention leaving one
  * live snapshot. */
class SnapshotSpec extends AnyFunSuite {

  private final class Snap(val stamp: Long)

  /** A holder over a test-controlled stamp, with load/retire ledgers. */
  private final class Rig {
    val stamp = new AtomicLong(0L)
    val hold = new AtomicBoolean(false)
    val loads = new ConcurrentHashMap[Long, AtomicInteger]()
    val loaded = new ConcurrentHashMap[Snap, java.lang.Boolean]()
    val retired = new ConcurrentHashMap[Snap, AtomicInteger]()
    val holder = new Snapshot[Snap](
      new Snapshot.Stamp(() => stamp.get, () => hold.get),
      () => {
        val s = new Snap(stamp.get)
        loads.computeIfAbsent(s.stamp, _ => new AtomicInteger).incrementAndGet()
        loaded.put(s, true)
        s
      },
      s => {
        retired.computeIfAbsent(s, _ => new AtomicInteger).incrementAndGet()
        ()
      })

    def live: Set[Snap] = {
      val all = scala.jdk.CollectionConverters
        .SetHasAsScala(loaded.keySet()).asScala.toSet
      all.filterNot(retired.containsKey)
    }
  }

  /** Run `f` on 8 threads released together; the values they saw. */
  private def onThreads[T](f: () => T): Seq[T] = {
    val go = new CountDownLatch(1)
    val out = new ConcurrentHashMap[Int, T]()
    val errors = new ConcurrentHashMap[Int, Throwable]()
    val ts = (0 until 8).map { i =>
      val t = new Thread(() => {
        go.await()
        try out.put(i, f()) catch { case e: Throwable => errors.put(i, e) }
        ()
      })
      t.start()
      t
    }
    go.countDown()
    ts.foreach(_.join(60000))
    assert(errors.isEmpty, s"thread failures: $errors")
    (0 until 8).map(out.get)
  }

  test("one load per distinct stamp; every replaced snapshot retired " +
    "exactly once; the snapshot handed out is never retired") {
    val r = new Rig
    for (v <- 0L to 5L) {
      r.stamp.set(v)
      val seen = onThreads(() => (1 to 200).map(_ => r.holder.current()))
        .flatten.distinct
      assert(seen.size == 1, s"stamp $v: readers saw ${seen.size} snapshots")
      assert(seen.head.stamp == v, s"stamp $v served a stale snapshot")
      assert(!r.retired.containsKey(seen.head),
        s"stamp $v: the snapshot handed out was retired")
      assert(r.loads.get(v).get == 1,
        s"stamp $v loaded ${r.loads.get(v).get} times")
    }
    assert(r.loaded.size == 6)
    assert(r.retired.size == 5, "a replaced snapshot was never retired")
    assert(r.retired.values().stream().allMatch(_.get == 1),
      "a snapshot was retired more than once")
    assert(r.live == Set(r.holder.current()))
  }

  test("an open epoch holds the snapshot on a moved stamp; its end " +
    "lets the next read rebuild") {
    val r = new Rig
    val before = r.holder.current()
    r.hold.set(true)
    r.stamp.set(1L)
    assert(onThreads(() => r.holder.current()).forall(_ eq before),
      "a moved stamp rebuilt inside the epoch")
    assert(r.loads.get(1L) == null, "the hold still loaded")
    r.hold.set(false)
    val after = r.holder.current()
    assert(after.stamp == 1L)
    assert(r.retired.get(before).get == 1)
  }

  test("refresh() under contention leaves exactly one live snapshot") {
    val r = new Rig
    r.stamp.set(7L)
    onThreads(() => {
      (1 to 20).foreach { _ =>
        r.holder.refresh()
        r.holder.current()
      }
    })
    val cur = r.holder.current()
    assert(r.live == Set(cur), s"live snapshots: ${r.live.size}")
    assert(!r.retired.containsKey(cur))
    assert(r.retired.values().stream().allMatch(_.get == 1),
      "a snapshot was retired more than once")
    assert(r.retired.size == r.loaded.size - 1)
  }
}
