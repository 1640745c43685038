package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables

/** Bucketed-table utilities: pre-shuffle data once at write time so
  * repeated joins/aggregations on the bucket key run with NO exchange.
  *
  * At 100 TB the dominant cost of a fact-fact join is the shuffle; two
  * tables bucketed by the same key into the same bucket count join
  * shuffle-free (Spark plans a SortMergeJoin whose children are already
  * distributed by the bucket key). This is the physical-design lever the
  * reference's HDFS layout never had; it pairs with `Skew.saltedJoin` for
  * hot keys and with AQE for everything in between.
  */
object Bucketing {

  /** Write `df` as a bucketed table (parquet, overwrite). `path`, when
    * given, makes the table EXTERNAL (data at `path`, only metadata in
    * the session catalog) — the production layout, and what keeps
    * harness runs from littering the working directory's warehouse.
    *
    * The pre-write `repartition(buckets, key)` uses the same Murmur3
    * `pmod(hash, n)` as the bucket-id assignment, so every task holds
    * exactly one bucket's rows and each bucket lands in ONE file: that
    * is what lets the scan report the `sortBy` order back to the
    * planner (multi-file buckets lose it) — a bucketed+sorted join then
    * skips both the exchange AND the sort — and it is the small-files
    * discipline a 1000-writer cluster job needs anyway. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sortCols: Seq[String] = Seq.empty,
      path: Option[String] = None): Unit = {
    val w0 = df.repartition(buckets, col(key))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, key)
    val w1 = if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*) else w0
    path.fold(w1)(p => w1.option("path", p)).saveAsTable(table)
  }

  /** True when the physical plan of `df` contains no shuffle exchange —
    * the property bucketed joins are bought for. */
  def isExchangeFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange")

  /** Join two same-bucketed tables on the bucket key. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Bucket count for the shared orders/lineitem layout. Locally this
    * doubles as the scan parallelism (one task per bucket); on a real
    * cluster you size it to the target per-bucket file size
    * (~128-512 MB), thousands of buckets at 100 TB. */
  val OrderBuckets = 32

  /** Generic session-shared bucketed layout: ONE bucketed+sorted
    * parquet table per (session, dir, kind), written on first access
    * and read by every later consumer in the session — the q50
    * write-time-shuffle lever as reusable machinery. At warehouse scale
    * these are ingest-time physical tables; here the first consumer
    * query pays the write and the key column is never shuffled again
    * below any consumer's first aggregation. The table is EXTERNAL over
    * the entry's tracked temp dir, so [[graft.SharedBuild]] eviction
    * reclaims the files. `kind` must be lowercase-alpha (the
    * fingerprint normalizer strips only `graft_b_[a-z]+_<hex>`
    * suffixes). */
  private[graft] def sharedBucketedTable(s: SparkSession, d: String,
      kind: String, key: String, build: () => DataFrame): DataFrame = {
    val name = graft.SharedBuild.withTempDir(s, d, s"bucketed:$kind") { base =>
      val name = s"graft_b_${kind}_${java.util.UUID.randomUUID().toString.take(8)}"
      writeBucketed(build(), name, key, OrderBuckets,
        sortCols = Seq(key), path = Some(s"$base/$kind"))
      name
    }
    s.table(name)
  }

  /** Session-shared bucketed (orders, lineitem) layout, both bucketed +
    * sorted by the order key: built ONCE per (session, dir) — the
    * write-time shuffle is the LAST time this join key is ever
    * shuffled; every subsequent orderkey join or aggregate in the
    * session is exchange-free. The first consumer query in a session
    * pays the build; at warehouse scale these are the ingest-time
    * physical tables, not a query-time step. Registered as EXTERNAL
    * tables over the entry's tracked temp dir so no `spark-warehouse`
    * litter lands in the working directory. */
  private[graft] def sharedBucketedOrderTables(
      s: SparkSession, d: String): (String, String) =
    graft.SharedBuild.withTempDir(s, d, "orders+lineitem") { base =>
      val suffix = java.util.UUID.randomUUID().toString.take(8)
      val (to, tl) = (s"graft_b_orders_$suffix", s"graft_b_lineitem_$suffix")
      writeBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        to, "o_orderkey", OrderBuckets, sortCols = Seq("o_orderkey"),
        path = Some(s"$base/orders"))
      writeBucketed(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        tl, "l_orderkey", OrderBuckets, sortCols = Seq("l_orderkey"),
        path = Some(s"$base/lineitem"))
      (to, tl)
    }

  /** The zero-shuffle fact-fact join over the shared bucketed layout:
    * orders ⋈ lineitem on the order key as a SortMergeJoin whose
    * children are bucket scans — no Exchange anywhere below the join.
    * In-partition Sort nodes remain: Spark 3+ no longer reports written
    * bucket sort order to the planner by default
    * (spark.sql.legacy.bucketedTableScan.outputOrdering=false, guarding
    * against multi-file buckets); they are shuffle-free and linear over
    * the already-sorted single-file buckets. The `merge` hint keeps the
    * plan scale-stable: without it a small scale factor broadcasts and
    * the physical property this layout buys goes unexercised. Pinned
    * exchange-free in PlanAuditSpec. */
  def bucketedOrderLineitemJoin(s: SparkSession, d: String): DataFrame = {
    val (to, tl) = sharedBucketedOrderTables(s, d)
    s.table(to).hint("merge")
      .join(s.table(tl), col("o_orderkey") === col("l_orderkey"))
  }
}
