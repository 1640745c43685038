package graft

import org.apache.spark.sql.functions._
import graft.sources.Bucketing

class BucketingSpec extends SparkSpec {

  // shared fixture: both tests need the bucketed tables, independent of
  // execution order
  private lazy val tablesReady: Unit = {
    val orders = Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_totalprice")
    val lineitem = Tables.lineitem(spark, sf("sf0.001"))
      .select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 4,
      sortCols = Seq("o_orderkey"))
    Bucketing.writeBucketed(lineitem, "b_lineitem", "o_orderkey", 4,
      sortCols = Seq("o_orderkey"))
  }

  private def withNoBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("same-key bucketed tables join without a shuffle exchange") {
    tablesReady
    val orders = Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_totalprice")
    val lineitem = Tables.lineitem(spark, sf("sf0.001"))
      .select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")

    withNoBroadcast {
      val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_lineitem",
        "o_orderkey")
      // correctness: same result as the plain join
      val expected = orders.join(lineitem, "o_orderkey").count()
      assert(joined.count() === expected)
      // the point of bucketing: no Exchange in the physical plan
      assert(Bucketing.isExchangeFree(joined),
        joined.queryExecution.executedPlan.toString.take(2000))
      // while the unbucketed join does shuffle
      val plain = orders.join(
        lineitem.withColumnRenamed("l_quantity", "q2"), "o_orderkey")
      assert(!Bucketing.isExchangeFree(plain))
    }
  }

  test("bucketed aggregation on the bucket key is exchange-free") {
    tablesReady
    val agg = spark.table("b_lineitem").groupBy("o_orderkey")
      .agg(count(lit(1)).as("n"))
    assert(Bucketing.isExchangeFree(agg))
  }

  test("evictStopped purges dead-session layouts AND their temp dirs (ADVICE r14)") {
    // populate both tracked layouts (orders/lineitem + shingle index)
    Bucketing.sharedBucketedOrderTables(spark, sf("sf0.001"))
    graft.operators.DedupQueries
      .sharedBucketedShingles(spark, sf("sf0.001")).count()
    val before = SharedBuild.trackedDirs
    assert(before.nonEmpty)
    before.foreach(p => assert(java.nio.file.Files.exists(p), p.toString))
    // treat every session as dead: entries AND their on-disk dirs go
    SharedBuild.evictStopped(_ => true)
    assert(SharedBuild.trackedDirs.isEmpty)
    before.foreach(p => assert(!java.nio.file.Files.exists(p), p.toString))
    // rebuild-on-demand: the accessor recreates a purged layout
    val (to, _) = Bucketing.sharedBucketedOrderTables(spark, sf("sf0.001"))
    assert(spark.table(to).count() > 0)
  }

  test("boundSessions drops LIVE sessions' entries but never their files (ADVICE r15)") {
    // a still-live evicted session may hold a DataFrame over the
    // bucketed files: eviction must only force a recompute on next
    // access, never a mid-query FileNotFoundException — dirs are left
    // for the shutdown hook (or a later evictStopped once truly dead)
    val df1 = graft.operators.DedupQueries
      .sharedBucketedShingles(spark, sf("sf0.001"))
    val n1 = df1.count()
    val dirs = SharedBuild.trackedDirs
    assert(dirs.nonEmpty)
    val other = spark.newSession()
    // maxSessions=0 forces the bound: every non-`other` entry drops
    SharedBuild.boundSessions(other, 0)
    // the files must survive the eviction...
    dirs.foreach(p => assert(java.nio.file.Files.exists(p), p.toString))
    // ...so the evicted session's already-returned frame still reads
    assert(df1.count() === n1)
    // and the accessor rebuilds into a FRESH dir on next access
    val df2 = graft.operators.DedupQueries
      .sharedBucketedShingles(spark, sf("sf0.001"))
    assert(df2.count() === n1)
  }

  test("live-evicted dirs are purged at owner death, not leaked to JVM exit (ADVICE r16)") {
    // boundSessions parks a live session's dir with its owner; the next
    // evictStopped sweep after the owner dies must reclaim it — without
    // this, cycling >MaxCachedSessions live sessions accumulates full
    // table projections in /tmp for the JVM lifetime (the sf10
    // shuffle-disk budget cannot absorb that)
    val preexisting = SharedBuild.trackedDirs.toSet
    val owner = spark.newSession()
    graft.operators.DedupQueries
      .sharedBucketedShingles(owner, sf("sf0.001")).count()
    val ownerDirs = SharedBuild.trackedDirs.toSet -- preexisting
    assert(ownerDirs.nonEmpty)
    val other = spark.newSession()
    SharedBuild.boundSessions(other, 0) // owner's entry dropped, dir parked
    ownerDirs.foreach(p => assert(java.nio.file.Files.exists(p), p.toString))
    // owner "dies": the parked dir is purged by the very next sweep
    SharedBuild.evictStopped(s => s eq owner)
    val after = SharedBuild.trackedDirs.toSet
    assert(ownerDirs.intersect(after).isEmpty,
      s"parked dirs must be reclaimed at owner death: $ownerDirs vs $after")
  }

  test("bucketed orders/lineitem layouts stay inside the live-session bound") {
    // sessions cycled with newSession() share a LIVE context, so only
    // the session bound can drop their entries; each entry pins a full
    // orders+lineitem projection on disk
    val preexisting = SharedBuild.trackedDirs.toSet
    val cycled = (1 to 2 * SharedBuild.MaxCachedSessions + 1).map { _ =>
      val s = spark.newSession()
      Bucketing.sharedBucketedOrderTables(s, sf("sf0.001"))
      assert(SharedBuild.levelCounts("orders+lineitem") <=
        SharedBuild.MaxCachedSessions + 1, SharedBuild.levelCounts.toString)
      s
    }
    // once those sessions die, none of their layouts' dirs survive
    SharedBuild.evictStopped(s => cycled.exists(_ eq s))
    val leaked = SharedBuild.trackedDirs.toSet -- preexisting
    assert(leaked.isEmpty, s"dirs of dead sessions survived: $leaked")
  }
}
