package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bucketing

/** Single-flight build sharing in the [[SharedBuild]] registry (VERDICT
  * r17 item 3): concurrent callers for the same `(session, dir, level)`
  * must produce EXACTLY ONE build — late arrivals await the winner on a
  * per-key latch instead of racing a duplicate multi-minute build —
  * while a failed build releases its waiters so one can retry, and no
  * latch is ever held by a different key or a different ladder level.
  * Every case keys on its own spec-only `dir`, so entries from other
  * suites neither hit nor collide.
  */
class CacheLatchSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.session

  private def concurrently[A](n: Int)(body: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val barrier = new CyclicBarrier(n)
      val futs = (0 until n).map(i => pool.submit(
        new java.util.concurrent.Callable[A] {
          def call(): A = { barrier.await(10, TimeUnit.SECONDS); body(i) }
        }))
      futs.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  /** The dedup ladder's nesting shape, four levels deep: each level's
    * build re-enters the registry for the level below it. */
  private val ladder = Seq("clusters", "candidates", "signatures", "shingles")
  private def nested(dir: String, builds: ConcurrentHashMap[String, AtomicInteger]): Long = {
    def level(ls: Seq[String]): Long = SharedBuild(spark, dir, ls.head) {
      builds.computeIfAbsent(ls.head, _ => new AtomicInteger).incrementAndGet()
      if (ls.tail.isEmpty) 3L else level(ls.tail)
    }
    level(ladder)
  }

  test("SingleFlight: N barrier-released callers, exactly one build, all same value") {
    val builds = new AtomicInteger(0)
    val out = concurrently(8) { _ =>
      SharedBuild(spark, "latch-one-build", "k") {
        builds.incrementAndGet()
        Thread.sleep(100) // long enough that losers genuinely wait
        42
      }
    }
    assert(builds.get() === 1)
    assert(out.forall(_ == 42))
    assert(SharedBuild.inflightCount === 0)
  }

  test("SingleFlight: distinct keys build independently (no cross-key wait)") {
    // each key's build holds its latch until ALL three builds are
    // running: if one key waited on another's latch this would stall
    val started = new CountDownLatch(3)
    val out = concurrently(6) { i =>
      SharedBuild(spark, "latch-distinct", s"k${i % 3}") {
        started.countDown()
        started.await(10, TimeUnit.SECONDS)
      }
    }
    assert(out.forall(identity), "a key's build waited on another key's latch")
  }

  test("SingleFlight: a failed build releases waiters and one retries") {
    val builds = new AtomicInteger(0)
    val out = concurrently(6) { _ =>
      // first builder throws; every waiter wakes, exactly one becomes
      // the next builder and succeeds — callers retry the call like a
      // real consumer would
      def attempt(): Int =
        try SharedBuild(spark, "latch-retry", "k") {
          if (builds.incrementAndGet() == 1)
            throw new RuntimeException("transient build failure")
          7
        }
        catch { case _: RuntimeException => attempt() }
      attempt()
    }
    assert(out.forall(_ == 7))
    // one failure + one success; waiters that woke before the retry
    // published may become the retry builder themselves, but never more
    // than one at a time — the publish caps total builds at 2
    assert(builds.get() === 2)
    assert(SharedBuild.inflightCount === 0)
  }

  test("SharedBuild: nested build across levels from an EMPTY registry cannot deadlock") {
    // r16 regression shape: per-map flight registries compared maps by
    // CONTENT, so two empty caches shared one flight and the nested
    // build awaited its own latch. The fresh-JVM state — nothing built
    // yet — is the worst case.
    SharedBuild.evictStopped(_ => true)
    assert(SharedBuild.levelCounts.isEmpty)
    val builds = new ConcurrentHashMap[String, AtomicInteger]
    val done = new CountDownLatch(1)
    val t = new Thread(() => if (nested("latch-nested", builds) == 3L) done.countDown())
    t.setDaemon(true)
    t.start()
    assert(done.await(30, TimeUnit.SECONDS),
      "nested build across ladder levels deadlocked")
    ladder.foreach(l => assert(builds.get(l).get === 1, l))
  }

  test("SharedBuild: concurrent nested builds across ladder levels cannot deadlock") {
    val builds = new ConcurrentHashMap[String, AtomicInteger]
    val out = concurrently(6)(_ => nested("latch-nested-concurrent", builds))
    assert(out.forall(_ == 3L))
    ladder.foreach(l => assert(builds.get(l).get === 1, l))
    assert(SharedBuild.inflightCount === 0)
  }

  test("SingleFlight build clock: nested builds count once (outermost only)") {
    // r20 shared-build attribution: the ladder's nested builds
    // (clusters → candidates → …) must not double-count. An outer build
    // that sleeps 50ms around an inner 50ms build adds at least 0.1 s and
    // at most the outer call's own wall time; counting the inner build
    // twice would add outerWall + 50ms.
    val before = SingleFlight.buildSecondsTotal
    val t0 = System.nanoTime()
    SharedBuild(spark, "latch-clock", "outer") {
      Thread.sleep(50)
      SharedBuild(spark, "latch-clock", "inner") { Thread.sleep(50); 1 }
    }
    val outerWall = (System.nanoTime() - t0) / 1e9
    val delta = SingleFlight.buildSecondsTotal - before
    assert(delta >= 0.1 && delta <= outerWall + 0.005,
      s"nested build clock delta $delta s, outer wall $outerWall s " +
        "— expected the outermost build only")
  }

  test("SharedBuild: concurrent callers share one DataFrame build") {
    val builds = new AtomicInteger(0)
    val out = concurrently(6) { _ =>
      SharedBuild(spark, "latch-spec-dir", "frame") {
        builds.incrementAndGet()
        Thread.sleep(50)
        spark.range(5).toDF("id")
      }
    }
    assert(builds.get() === 1)
    assert(out.map(_.count()).forall(_ == 5L))
  }

  test("Bucketing.sharedBucketedTable: one bucketed write under concurrent callers") {
    val builds = new AtomicInteger(0)
    val kind = "latchspec"
    val out = concurrently(4) { _ =>
      Bucketing.sharedBucketedTable(spark, "latch-spec-dir", kind, "id",
        () => {
          builds.incrementAndGet()
          Thread.sleep(50)
          spark.range(20).toDF("id")
        })
    }
    assert(builds.get() === 1,
      "concurrent callers each paid the bucketed write")
    assert(SharedBuild.levelCounts(s"bucketed:$kind") === 1)
    assert(out.map(_.count()).forall(_ == 20L))
  }
}
