package graft

import graft.operators.DedupQueries

/** The session-shared builds in [[SharedBuild]] (clusters, candidates,
  * shingles, signatures, jaccard pairs, caps) must not grow across
  * cycled sessions (VERDICT/ADVICE r12): every get-or-build purges
  * entries whose owning session is dead before touching the registry. A real `spark.stop()` would
  * kill the suite-shared context (SparkSpec contract), so the purge is
  * exercised through the injectable `dead` predicate; the default
  * predicate (`sparkContext.isStopped`) is asserted live on the shared
  * session.
  */
class DedupCacheSpec extends SparkSpec {

  private def total: Int = SharedBuild.levelCounts.values.sum

  test("cycled sessions do not accumulate cache entries; live sessions are kept") {
    val dir = sf("sf0.001")
    // start from an empty registry: other suites' sessions must not
    // trip the live-session bound in the middle of the counts below
    SharedBuild.evictStopped(_ => true)
    val before = total
    val s1 = spark.newSession()
    DedupQueries.sharedCandidates(s1, dir).count()
    val perSession = total - before
    // the layered build populates the whole ladder below candidates
    // (shingles, signatures, candidates at minimum)
    assert(perSession >= 3, SharedBuild.levelCounts.toString)

    // a second session gets its own entries (keyed by (session, dir))
    val s2 = spark.newSession()
    DedupQueries.sharedCandidates(s2, dir).count()
    assert(total == before + 2 * perSession)

    // s1 "ends": the next purge drops exactly its entries, keeps s2's
    SharedBuild.evictStopped(s => s eq s1)
    assert(total == before + perSession)

    // N sequential create-use-end cycles leave the count flat — the
    // Bench fresh-session-per-pass pattern cannot leak
    (1 to 3).foreach { _ =>
      val sn = spark.newSession()
      DedupQueries.sharedCandidates(sn, dir)
      SharedBuild.evictStopped(s => s eq sn)
      assert(total == before + perSession)
    }

    // the default predicate is the real signal: a normal access on a
    // live session purges nothing (shared context is not stopped)
    assert(!spark.sparkContext.isStopped)
    DedupQueries.sharedCandidates(s2, dir)
    assert(total == before + perSession)
  }

  test("e4, e5 and g24 add no entry after g2_minhash_pairs: they read its candidate level") {
    val dir = sf("sf0.001")
    val s = spark.newSession()
    def run(name: String): Unit =
      Registry.all.find(_.name == name).get.run(s, dir).collect()
    run("g2_minhash_pairs")
    val built = SharedBuild.levelCounts
    assert(built.contains("candidates"), built.toString)
    Seq("e4_dedup_quality", "e5_yield_funnel", "g24_band_agreement").foreach { n =>
      run(n)
      assert(SharedBuild.levelCounts === built, n)
    }
  }

  test("newSession-per-request on one LIVE context stays bounded (ADVICE r13)") {
    val dir = sf("sf0.001")
    // start from an empty registry so entries == sessions below (other
    // suites may have left multi-dir entries; they rebuild on demand)
    SharedBuild.evictStopped(_ => true)
    assert(total == 0)
    // sessions cycled via newSession() share a live context, so
    // isStopped never fires for them; the distinct-session bound must
    // cap growth on its own. Run past the cap's worth of
    // request-sessions without ever stopping anything.
    (1 to 2 * SharedBuild.MaxCachedSessions + 1).foreach { _ =>
      DedupQueries.sharedCandidates(spark.newSession(), dir).count()
      // each level holds at most cap+1 sessions' entries (the bound
      // evicts when the count EXCEEDS the cap), and for single-dir
      // traffic entries == sessions
      SharedBuild.levelCounts.values.foreach { n =>
        assert(n <= SharedBuild.MaxCachedSessions + 1,
          SharedBuild.levelCounts.toString)
      }
    }
  }
}
