package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

/** Single-flight get-or-build behind [[SharedBuild]], the registry of
  * session-shared builds (VERDICT r17 item 3).
  *
  * The r17 compute-then-`putIfAbsent` discipline is correct but lets
  * two concurrent sessions both pay a multi-minute build (e.g. the sf10
  * bucketed write) and purge the loser. This keeps that discipline's
  * two invariants — no `ConcurrentHashMap` mapping lock is ever held
  * across a Spark job, and build callbacks may freely re-enter the
  * registry, whose hygiene sweeps (`evictStopped`/`boundSessions`)
  * mutate the SAME result map (undefined inside a `computeIfAbsent`
  * callback) — while making late arrivals await the one in-flight
  * builder on a per-key latch instead of duplicating the work.
  *
  * Protocol per call: result-map hit returns immediately; otherwise
  * race for the key's latch. The winner re-checks the map (a previous
  * builder may have published between our miss and the latch win),
  * builds with no lock held, publishes, then releases the latch in a
  * `finally`. Losers `await` the latch — a plain latch wait, not a map
  * lock — and loop: normally the re-check now hits; if the builder
  * FAILED (latch released, nothing published) exactly one waiter wins
  * the next latch and retries, so a transient build failure never
  * strands the key. Values must be pure functions of the key (the
  * caches' existing contract), so a rebuild after an eviction race is
  * at worst one recompute, never a wrong result.
  */
private[graft] final class SingleFlight[K] {
  private val inflight = new ConcurrentHashMap[K, CountDownLatch]

  def apply[V](m: ConcurrentHashMap[K, V], k: K)(build: => V): V = {
    while (true) {
      val hit = m.get(k)
      if (hit != null) return hit
      val latch = new CountDownLatch(1)
      val race = inflight.putIfAbsent(k, latch)
      if (race == null) {
        try {
          // a prior builder may have published while we raced for the
          // latch — build only on a genuine re-checked miss
          val again = m.get(k)
          if (again != null) return again
          // Shared-build attribution (VERDICT r19 item 3): every
          // session-shared structural build (bucketed writes, the dedup
          // ladder) runs inside this build closure, so timing
          // here captures the whole first-payer cost; Bench reads the
          // clock's delta around each query to decompose the q44-style
          // first-payer rows into build + query components. The ladder
          // is a DAG (clusters → candidates → signatures → shingles)
          // whose builds NEST on one thread — only the OUTERMOST build
          // adds its elapsed time, else the inner stages double-count.
          val outer = SingleFlight.depth.get == 0
          SingleFlight.depth.set(SingleFlight.depth.get + 1)
          val t0 = System.nanoTime()
          val built = try build finally {
            SingleFlight.depth.set(SingleFlight.depth.get - 1)
            if (outer) SingleFlight.buildNanos.addAndGet(System.nanoTime() - t0)
            ()
          }
          val prev = m.putIfAbsent(k, built)
          if (prev != null) {
            // Unreachable while every publish to `m` goes through this
            // latch: we hold the key's flight and re-checked the map
            // after winning it. A hit here means some code path wrote
            // to the result map directly — for the bucketed-table
            // caches that regression would silently leak the loser's
            // write dir + temp table until JVM exit (ADVICE r18), so
            // make it loud instead of quietly returning the winner.
            System.err.println(
              s"[single-flight] DUPLICATE publish for key $k: a build " +
                "completed outside the flight protocol; returning the " +
                "published value, this builder's side effects may leak")
          }
          return if (prev != null) prev else built
        } finally {
          inflight.remove(k, latch)
          latch.countDown()
        }
      } else {
        race.await()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Test hook: number of in-flight builds (0 when quiescent). */
  private[graft] def inflightCount: Int = inflight.size()
}

private[graft] object SingleFlight {
  /** JVM-wide nanoseconds spent INSIDE shared-build closures.
    * Monotone; consumers (Bench) read deltas around a timed region.
    * Waiters who `await` a builder are NOT
    * counted — only the one thread that pays the build adds time, so a
    * single-threaded bench's delta is exactly the build seconds its
    * query paid. */
  private[graft] val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def buildSecondsTotal: Double = buildNanos.get() / 1e9
  /** Per-thread build-nesting depth: nested ladder builds must not
    * double-count into [[buildNanos]]. */
  private val depth: ThreadLocal[Int] =
    ThreadLocal.withInitial(() => 0)
}
