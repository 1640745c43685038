package graft

import org.apache.spark.sql.DataFrame

/** Locks in the physical-plan properties the 100 TB story depends on —
  * a regression here is invisible at test scale but fatal at cluster
  * scale, so it fails the suite instead. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String = {
    val q = Registry.all.find(_.name == name).get
    q.run(spark, sf("sf0.001")).queryExecution.executedPlan.toString
  }

  test("w1: partial+final hash aggregate around a single hash exchange") {
    val p = plan("w1_wordcount")
    // the map side is one tokenize-and-combine pass: no exploded rows
    assert(!p.contains("Generate"), p.take(1200))
    assert(p.contains("partial_sum(cnt"), p.take(1200))
    assert("Exchange hashpartitioning\\(word".r.findAllIn(p).length === 1, p.take(1200))
  }

  test("q2: both dimension joins are broadcast — the fact side never shuffles") {
    val p = plan("q2_region_rollup")
    assert(p.split("BroadcastHashJoin").length >= 3, p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q4: date + range predicates are pushed into the parquet scan") {
    val p = plan("q4_revenue_filter")
    assert(p.contains("PushedFilters: [IsNotNull"))
    assert(p.contains("GreaterThanOrEqual(l_shipda") || p.contains("GreaterThanOrEqual(l_disc"))
    // column pruning: scan must not read unused money columns
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"))
  }

  test("q3: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q3_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("a17: per-group limits join is broadcast") {
    assert(plan("a17_truncate").contains("BroadcastExchange"))
  }

  test("s1: query side of cosine top-k is broadcast") {
    assert(plan("s1_cosine_topk").contains("BroadcastExchange"))
  }

  test("w1 scan prunes to the text column only") {
    assert(plan("w1_wordcount").contains("ReadSchema: struct<text:string>"))
  }

  test("a18: as-of join plans NO join operator — union + one window") {
    val p = plan("a18_asof_value")
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("Window"))
  }

  test("r8: range join is an equality join, never nested-loop/cartesian") {
    val p = plan("r8_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(800))
  }

  test("q11: grouping sets compile to a single Expand pass") {
    val p = plan("q11_rollup")
    assert(p.contains("Expand"))
    // one scan feeds the rollup — no union of per-level re-scans
    assert("Scan parquet".r.findAllIn(p).length === 1)
  }

  test("q13: RANGE frame is one window pass with no self-join") {
    val p = plan("q13_sliding_window")
    assert(p.contains("Window"))
    assert(!p.contains("Join"), p.take(800))
  }

  test("g2: lazy LSH candidate core keeps the full signature pipeline auditable") {
    // the registered g2_minhash_pairs serves from the session-shared
    // materialized candidate table (an RDD scan), so the auditable plan
    // is the lazy builder the shared cache materializes
    val df = operators.Dedup.minhashCandidates(
      Tables.documents(spark, sf("sf0.001")), 4)
    val p = df.queryExecution.executedPlan.toString
    // full pipeline visible: stack unpivot of the per-band mins, no
    // cartesian anywhere, and the bucket-df cap survives optimization
    assert(p.contains("Generate stack") || p.contains("stack("), p.take(800))
    assert(!p.contains("CartesianProduct"))
    // the bucket-df cap must survive optimization — since r16 it is the
    // DERIVED cap column (the histogram's `<= ceiling` literal alone
    // would be a vacuous match)
    assert("#\\d+L? <= cap#".r.findFirstIn(
        df.queryExecution.optimizedPlan.toString).nonEmpty,
      "g2's derived bucket-df cap filter must be present in the optimized plan")
  }

  test("x4: HLL registers partial-aggregate before their exchange (mergeable sketch)") {
    val p = plan("x4_hll_distinct")
    assert(p.contains("partial_max") || p.contains("partial_"), p.take(800))
  }

  test("x7: bloom bit set reaches the probe side via broadcast") {
    val p = plan("x7_bloom_prefilter")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("f2: funnel has exactly one user_id exchange feeding chained windows") {
    val p = plan("f2_funnel_conversion")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length === 1, p.take(800))
    assert("Window".r.findAllIn(p).nonEmpty)
  }

  test("k1: kmeans step plans NO vector join — broadcast centroids + aggregates only") {
    val p = plan("k1_kmeans_step")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(800))
    assert(p.contains("BroadcastExchange"))
  }

  test("y2: chunking is map+explode only — no exchange anywhere") {
    // the registered query adds an orderBy purely for oracle determinism;
    // audit the operator itself
    val p = operators.Packing
      .chunkWindows(Tables.documents(spark, sf("sf0.001")), 32, 24)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(800))
    assert(p.contains("Generate explode") || p.contains("explode"))
  }

  test("q15: tie-max via broadcast 1-row aggregate — no global rank window") {
    val p = plan("q15_top_supplier")
    // Window.orderBy without partitionBy would single-task-sort every
    // supplier's aggregate at warehouse scale
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("BroadcastExchange"), p.take(800))
  }

  test("q5/q15: revenue partial-aggregates as a LONG sum, not >18-digit decimal") {
    // fixed-point cents-of-cents: partial_sum over bigint keeps the hash
    // aggregate in primitive adds (Decimal(28,4) exceeds the compact-long
    // range and allocates per row). Executed plans render the type
    // lowercase — "cast(... as decimal(28,4))" — so the negative guard
    // must match that spelling to be non-vacuous.
    val q5 = plan("q5_order_revenue")
    val q15 = plan("q15_top_supplier")
    assert(q5.contains("partial_sum"))
    assert(q15.contains("partial_sum"), q15.take(800))
    assert(!q5.toLowerCase.contains("decimal(28,4)"))
    assert(!q15.toLowerCase.contains("decimal(28,4)"))
  }

  test("e1: composed pipeline keeps the scale shapes of its parts") {
    // the registered query materializes the survivor frame (eager
    // checkpoint), so the auditable plan is the lazy core
    val p = operators.Pipeline
      .curate(Tables.documents(spark, sf("sf0.001")), 20, materialize = false)
      .queryExecution.executedPlan.toString
    // t9's vocab top-k must stay TakeOrderedAndProject (never a global
    // sort) and reach the token stream via broadcast; nothing in the
    // composition may degrade to a nested-loop join
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("g4/g7: lazy cores (wrapped eagerly in the public API) keep their shapes") {
    // the registered queries checkpoint their shared input, so the
    // auditable plans are the split-out lazy joins
    val docs = Tables.documents(spark, sf("sf0.001"))
    val ss = operators.Dedup.shingleHashRows(docs).distinct()
    val g4df = operators.Dedup.ngramJaccardJoin(ss, 10)
    val g4 = g4df.queryExecution.executedPlan.toString
    assert(g4.contains("TakeOrderedAndProject"), g4.take(800))
    assertNoPairwiseJoins(g4, "g4")
    // the per-doc sizes table is unbounded at corpus scale: no broadcast
    // HINT may reach it. The r16 derived cap legitimately hints its two
    // ONE-ROW derivation frames (the cap scalar and the doc count), so
    // the assert allows exactly those: every ResolvedHint's child must
    // produce a 1-row cap/n_docs aggregate, never the sizes table.
    assertOnlyCapHints(g4df, "g4")
    // the hot-shingle df cap must survive optimization (candidate
    // bound) — since r16 it is the DERIVED cap column, not a literal
    assert("#\\d+L? <= cap#".r.findFirstIn(
        g4df.queryExecution.optimizedPlan.toString).nonEmpty,
      "g4's derived df-cap filter must be present in the optimized plan")
    val g7 = operators.Sketch.cmsEstimateJoin(
        operators.Sketch.tokenCounts(docs), 4, 64)
      .queryExecution.executedPlan.toString
    assert(g7.contains("BroadcastHashJoin"), g7.take(800))
    assert(g7.contains("partial_sum") || g7.contains("partial_min"))
    assert(!g7.contains("CartesianProduct"))
  }

  test("g10: semdedup verify join is equality-keyed, centroids broadcast") {
    val p = plan("g10_semdedup")
    // the only cross shapes allowed are the tiny broadcast centroid
    // attaches; the in-cluster verify must be an equality join on
    // centroid_id and the dot product must be the codegen'd fp_dot
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("fp_dot"))
  }

  test("t10: zipf fit runs one scan; all moment math is aggregated") {
    val p = plan("t10_zipf")
    assert("Scan parquet".r.findAllIn(p).length === 1, p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("y6: chunk dedup has no window and map-side-combinable aggregates") {
    val p = plan("y6_chunk_dedup")
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("partial_min") || p.contains("partial_count"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q18: one lineitem scan, count-based blame — no semi/anti joins left") {
    val p = plan("q18_blame_supplier")
    // r13 restructure: EXISTS/NOT EXISTS ⟺ per-order counts — a single
    // lineitem scan (the r12 semi/anti form paid three) feeding two
    // stacked aggregates; at scale both reuse the join's l_orderkey
    // partitioning (at sf0.001 the orders side broadcasts instead, so
    // the exchange count here covers the two aggregate keys + s_name)
    assert(p.split("Scan parquet").map(_.takeWhile(_ != '\n')).count(_.contains("lineitem")) <= 1,
      "exactly one lineitem scan\n" + p.take(1500))
    assert(p.contains("lineitem"), "lineitem must be scanned\n" + p.take(400))
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"))
    assert(p.split("Exchange hashpartitioning").length - 1 <= 3,
      "no exchange beyond the two aggregate keys and the name rollup\n" + p.take(1500))
    assert(p.contains("BroadcastHashJoin")) // supplier dimension
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject")) // top-10, never a global sort
  }

  test("s4: label join builds on the bounded topk side, never the corpus") {
    val p = plan("s4_knn_label_vote")
    // broadcast(topk) is the LEFT side of the neighbor_id join → the
    // build side must be BuildLeft; building on the labels side would
    // broadcast one row per corpus vector (unbounded at scale)
    val m = "BroadcastHashJoin \\[neighbor_id[^\\n]*".r.findFirstIn(p)
    assert(m.isDefined, p.take(800))
    assert(m.get.contains("BuildLeft"), m.get)
  }

  test("x1: hash sample filter evaluates next to the scan, no shuffle") {
    val p = operators.Sampling
      .hashSample(Tables.documents(spark, sf("sf0.001")), 10)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(800))
  }

  test("t15: winnowing is windows over ONE doc_id shuffle — no join at all") {
    // the registered t15 serves the session-shared materialized table
    // (an RDD scan), so the auditable plan is the lazy builder the
    // shared cache materializes
    val p = operators.TextAnalysis.winnowFingerprints(
      Tables.documents(spark, sf("sf0.001")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("Window"))
    // exactly one exchange keyed on doc_id feeds both window passes (the
    // final orderBy adds only a range exchange for presentation)
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length === 1,
      p.take(800))
  }

  test("s8: PQ codebook is broadcast; the argmin is a combinable aggregate") {
    val p = plan("s8_pq_assign")
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(p.contains("partial_min_by") || p.contains("partial_min"),
      "per-(vec,sub) argmin must partially aggregate map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q20: decorrelated nested agg — two hash aggregates, dim broadcast after reduce") {
    val p = plan("q20_dominant_supplier")
    assert(p.contains("partial_sum"))
    assert(p.contains("BroadcastHashJoin")) // supplier dim
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the fact table is scanned once — per-part totals reduce the
    // ALREADY-aggregated pairs, never re-scan lineitem
    assert("Scan parquet".r.findAllIn(p).count(_ => true) <= 3, p.take(800))
  }

  test("q22: scalar bar is a 1-row broadcast; NOT EXISTS is a left-anti join") {
    val p = plan("q22_idle_rich")
    assert(p.contains("LeftAnti"), p.take(800))
    assert(p.contains("BroadcastExchange"))
    // the urgent-orders filter must sit under the anti join, pushed to
    // the scan side, not applied post-join
    assert(p.contains("1-URGENT"))
  }

  test("s9: dim census partial-aggregates before its one exchange") {
    val p = plan("s9_dim_stats")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(800))
    assert(!p.contains("Join"))
  }

  test("y9: fingerprint df is a groupBy joined back — no window over fp, no broadcast") {
    val df = operators.TextAnalysis.winnowCandidates(
      Tables.documents(spark, sf("sf0.001")), 4)
    val p = df.queryExecution.executedPlan.toString
    // per-fp partitioned windows would serialize hot fingerprints
    // through single tasks; doc_id windows (from the winnow selection)
    // are the only windows allowed
    val windowParts = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    // `df` is the r16 cap-derivation's cumulative window: unpartitioned
    // but over the <=cap-row df HISTOGRAM — bounded by the cap ceiling,
    // never by corpus size, so it cannot serialize data-scale rows
    assert(windowParts.subsetOf(Set("doc_id", "df")), s"window keys: $windowParts")
    // the df cap must survive optimization, bounding candidate emission
    // (since r16: the derived cap column, not a literal)
    assert("#\\d+L? <= cap#".r.findFirstIn(
        df.queryExecution.optimizedPlan.toString).nonEmpty,
      "y9's derived df-cap filter must be present in the optimized plan")
  }

  test("q24: orders reduce to per-customer counts BELOW the outer join") {
    val p = plan("q24_order_count_dist")
    // the aggregate on o_custkey must appear under the join, so the
    // join's right side is |customers|-sized, never the raw fact table
    val joinIdx = p.indexOf("Join")
    val aggIdx = p.indexOf("partial_count", joinIdx)
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      "per-custkey aggregate must sit below the join\n" + p.take(1200))
    // the priority filter reaches the orders scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority), Not(EqualTo(o_orderpriority"))
  }

  test("q25: ship window pushes to the scan; one fact pass, no self-join") {
    val p = plan("q25_promo_share")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_shipdate"), p.take(1200))
    // conditional aggregation: exactly one lineitem scan
    assert("lineitem\\.parquet".r.findAllMatchIn(p).size == 1,
      "promo share must read the fact table once")
  }

  test("t17: entropy is two reduces with zero joins") {
    val p = plan("t17_token_entropy")
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("g15: containment core keeps g4's disciplines — cap survives, no size hint") {
    val ss = operators.Dedup.shingleHashRows(
      Tables.documents(spark, sf("sf0.001"))).distinct()
    val df = operators.Dedup.containmentJoin(ss, 10)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assertNoPairwiseJoins(p, "g15")
    // per-doc sizes are unbounded at corpus scale: no user broadcast
    // hint beyond the derived cap's 1-row frames (see the g4 pin)
    assertOnlyCapHints(df, "g15")
    assert("#\\d+L? <= cap#".r.findFirstIn(
        df.queryExecution.optimizedPlan.toString).nonEmpty,
      "g15's derived df-cap filter must be present in the optimized plan")
  }

  test("g16: source rollup carries no broadcast hint; matrix agg is combinable") {
    // audit the lazy rollup over a stand-in pair table (the registered
    // query's pair input is y4's eager checkpoint)
    import spark.implicits._
    val pairs = Seq((1L, 2L, 0.75), (3L, 4L, 0.5))
      .toDF("doc_a", "doc_b", "jaccard")
    val docs = Tables.documents(spark, sf("sf0.001"))
    val src = docs.select($"doc_id", $"source")
    val df = pairs
      .select($"doc_a", $"doc_b",
        org.apache.spark.sql.functions.expr(
          "cast(floor(jaccard * 1000000.0 + 0.5) as bigint)").as("mj"))
      .join(src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "src_a"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "src_b"), "doc_b")
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "g16's doc→source joins must stay unhinted (AQE picks the side)")
    val p = operators.Dedup.sourceOverlap(docs, 0.99)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(800))
    // the y4 core's per-doc windows are audited elsewhere and safe
    // (doc_id partitions are bounded by document length); the rollup
    // itself must not add a window on any other key — a source- or
    // pair-keyed window would serialize hot sources through one task
    val windowParts = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(windowParts.subsetOf(Set("doc_id")), s"window keys: $windowParts")
  }

  test("f3: sessionization runs on ONE user_id exchange") {
    val p = plan("f3_gap_sessions")
    // lag, the running session-id sum, and the per-session groupBy must
    // all reuse a single hash exchange on user_id (plus the final sort's
    // range exchange) — a second hashpartitioning means a lost
    // co-partitioning
    val hashEx = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(hashEx == List("user_id"), s"hash exchanges on: $hashEx\n" + p.take(1000))
  }

  test("q26: fact reduces to distinct pairs below the joins; blacklist is anti") {
    val p = plan("q26_supplier_census")
    assert(p.contains("LeftAnti"), p.take(1000))
    // the distinct on (l_partkey, l_suppkey) must sit below the part join
    // (a distinct plans as a keyed HashAggregate with no agg functions)
    val joinIdx = p.indexOf("Join")
    val aggIdx = p.indexOf("HashAggregate(keys=[l_partkey", joinIdx)
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      "pair distinct must sit below the joins\n" + p.take(1200))
  }

  test("s10: bound sample and queries broadcast; windows only on q_id") {
    val p = plan("s10_mips_topk")
    assert(p.contains("BroadcastExchange"), p.take(800))
    val windowParts = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(windowParts.subsetOf(Set("q_id")), s"window keys: $windowParts")
  }

  test("q29: revenue reduces per-customer below the dim joins; top-20 is TakeOrdered") {
    val p = plan("q29_returned_customers")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    // the per-customer HashAggregate must sit BELOW the customer join:
    // the dims see |customers| rows, never raw fact rows
    val aggIdx = p.indexOf("HashAggregate(keys=[o_custkey")
    val custJoinIdx = p.indexOf("c_custkey")
    assert(aggIdx >= 0 && custJoinIdx >= 0 && custJoinIdx < aggIdx,
      "per-customer reduce must feed the customer join\n" + p.take(1200))
    // returnflag filter pushed to the lineitem scan
    assert(p.contains("EqualTo(l_returnflag,R)"), p.take(1500))
  }

  test("q31: grouping sets compile to ONE Expand — no union of re-scans") {
    val p = plan("q31_grouping_sets")
    assert("Expand".r.findAllIn(p).length === 1, p.take(800))
    assert("Scan parquet".r.findAllIn(p).length <= 4) // orders+customer+nation+region
    assert(!p.contains("Union"), p.take(800))
  }

  test("q32: unpivot is a zero-shuffle Expand over the reduced wide table") {
    val p = plan("q32_unpivot")
    assert(p.contains("Expand"), p.take(800))
    // no exchange ABOVE the Expand: the melt itself never repartitions
    val expandIdx = p.indexOf("Expand")
    val lastShuffleAbove = p.lastIndexOf("Exchange", expandIdx)
    // exchanges exist below (the groupBys); the plan segment above the
    // Expand (physical-plan text is top-down) must only be sort/project
    val above = p.substring(0, expandIdx)
    assert(!above.contains("Exchange hashpartitioning"),
      "melt must not introduce a hash exchange above it\n" + p.take(1200))
    assert(lastShuffleAbove >= -1) // document intent; real check is `above`
  }

  test("x19: KS scans prune to (value, event_type); gap math rides ONE window") {
    val p = plan("x19_ks_two_sample")
    assert(p.contains("ReadSchema: struct<event_type:string,value:double>") ||
      p.contains("ReadSchema: struct<value:double,event_type:string>"),
      p.take(1500))
    assert("windowspecdefinition".r.findAllIn(p).nonEmpty)
  }

  test("t18: the corpus tokenize+count executes ONCE via the shared scan") {
    // Four distinct consumers derive from the (source, word) count —
    // one of them a broadcast side, which runtime exchange reuse cannot
    // dedup (measured: 4 parquet scans in the executed plan before the
    // viaSharedScan rewire). With the shared scan, the corpus pass runs
    // once at materialization and the query plan reads ONLY the stored
    // rows — zero parquet scans may remain in the KL plan itself.
    val p = plan("t18_source_kl")
    assert(!p.contains("Scan parquet"),
      "the KL plan must read the materialized count, not re-scan the " +
        "corpus per branch\n" + p.take(1500))
  }

  test("x28: the rank window's input is the binned aggregate, not event rows") {
    // exactly one windowspecdefinition, and it sits ABOVE a partial+final
    // hash aggregate pair (the cent-value binning) — the window never
    // consumes the raw scan
    val p = plan("x28_mann_whitney")
    assert("windowspecdefinition".r.findAllIn(p).size >= 1)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(1200))
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0 && winIdx < p.lastIndexOf("HashAggregate"),
      "rank window must be fed by the bin aggregate")
  }

  test("x29: OLS is one combinable aggregate — no window, no self-join") {
    val p = plan("x29_ols_price_qty")
    assert(!p.contains("Window"), "moments need no window")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "single-pass moments need no join\n" + p.take(1000))
    assert(p.contains("partial"), "map-side partial aggregation required")
  }

  test("q36: only nation/region dims broadcast; customer and supplier joins shuffle") {
    val p = plan("q36_local_supplier_volume")
    // at sf0.001 AQE may elect broadcast for small sides; audit the
    // pre-AQE plan via the logical contract instead: no broadcast HINT
    // on customer/supplier in the analyzed plan
    val logical = Registry.all.find(_.name == "q36_local_supplier_volume").get
      .run(spark, sf("sf0.001")).queryExecution.analyzed.toString
    val hints = "ResolvedHint".r.findAllIn(logical).size
    assert(hints <= 1, s"only the nation-region dim may carry a broadcast hint\n$hints")
  }

  test("s18: every MRL rung broadcasts only the query side") {
    val p = plan("s18_mrl_recall")
    // sliced-corpus scans stay un-broadcast: each BroadcastExchange in
    // the rungs carries the 5-row query filter, bounded by #rungs + 1
    assert("BroadcastExchange".r.findAllIn(p).size <= 6, p.take(1200))
  }

  test("x37: both rank windows are fed by bin aggregates, never fact rows") {
    val p = plan("x37_spearman")
    // two cumulative windows (one per variable), each above a
    // partial+final aggregate; moments are map-side combinable
    assert("windowspecdefinition".r.findAllIn(p).size >= 2, p.take(1200))
    assert(p.contains("partial_count") || p.contains("partial_sum"))
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && winIdx < p.lastIndexOf("HashAggregate"),
      "rank windows must sit above the bin aggregates")
  }

  test("x40: lorenz windows run over cent bins; decile/total joins broadcast") {
    val p = plan("x40_lorenz_deciles")
    assert(p.contains("BroadcastExchange"), "decile + total tables broadcast")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && winIdx < p.lastIndexOf("HashAggregate"),
      "cumulative windows must be fed by the bin aggregate")
    assert(!p.contains("CartesianProduct"), p.take(1000))
  }

  test("s21: margin census broadcasts only the bounded centroid table") {
    val logical = Registry.all.find(_.name == "s21_assign_margin").get
      .run(spark, sf("sf0.001")).queryExecution.analyzed.toString
    // one hint: the centroid table; the corpus never carries one
    assert("ResolvedHint".r.findAllIn(logical).size <= 1, logical.take(800))
    val p = plan("s21_assign_margin")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("p6: column profile is one multi-distinct aggregate over one Expand") {
    val p = plan("p6_column_profile")
    assert("Expand".r.findAllIn(p).size <= 2,
      "multi-distinct must compile to a single Expand (+ stack projection)\n" +
        p.take(1000))
    assert(!p.contains("Join"), "no per-column re-scans\n" + p.take(1000))
  }

  test("x45: trailing-window self-join is bucket-equality, never a nested loop") {
    val p = plan("x45_ewma_revenue")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the 15-day range must join on bucket keys (r8 discipline)\n" +
        p.take(1000))
  }

  test("m9: banded Hamming join is an equality join, never a cross product") {
    val p = plan("m9_phash_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the (band, value) equi-join\n" + p.take(1000))
    assert(p.contains("bit_count"), "verify must be the codegen'd bit_count")
  }

  test("q40: only the nation dim carries broadcast hints; fact chains shuffle") {
    val logical = Registry.all.find(_.name == "q40_nation_trade").get
      .run(spark, sf("sf0.001")).queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(logical).size <= 2,
      "only the two 2-row nation dim joins may carry hints")
  }

  test("f11: no |users|-row global window — quartiles come from value tables") {
    val q = Registry.all.find(_.name == "f11_rfm_segments").get
      .run(spark, sf("sf0.001"))
    val p = q.queryExecution.executedPlan.toString
    // every window must sit above a HashAggregate (the distinct-value
    // reduction), never directly over the per-user table
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.substring(winIdx).contains("HashAggregate"),
      "quartile windows must be fed by value-domain aggregates\n" + p.take(1200))
  }

  test("g22: triangle closure is a LeftSemi equality join on the pair key") {
    val p = plan("g22_triangles")
    assert(p.contains("LeftSemi"),
      "wedge closure must be a semi-join probe, not a count join\n" + p.take(1000))
  }

  test("g23: existing-edge exclusion is a LeftAnti equality join") {
    val p = plan("g23_link_predict")
    assert(p.contains("LeftAnti"),
      "adjacent pairs must drop via anti-join on the canonical key\n" + p.take(1000))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must never be a global sort\n" + p.take(1000))
    // the F^3 wedge stream must collapse to the F^2 pair aggregate
    // BEFORE the anti-join: partial sum ahead of the exchange, and the
    // LeftAnti consumes the aggregate (agg-before-anti), never the raw
    // 2-path stream (exclusion commutes with the order-free sum)
    assert(p.contains("partial_sum"),
      "wedge contributions must partial-aggregate map-side\n" + p.take(1200))
    val antiIdx = p.indexOf("LeftAnti")
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0 && antiIdx >= 0 && aggIdx > antiIdx,
      "the (x, y) score aggregate must sit BELOW the anti-join in the " +
        "tree (agg first, exclusion after)\n" + p.take(1200))
  }

  test("s26: one dim-keyed exchange; margins and numerators are map-side combined") {
    val p = plan("s26_svm_step")
    assert(p.split("Exchange hashpartitioning\\(dim").length == 2,
      "exactly one shuffle, keyed on the 64-dim accumulator\n" + p.take(1200))
    assert(p.contains("partial_sum"),
      "per-dim numerators must partial-aggregate before the exchange")
  }

  test("x52: decile windows run over the (g, cents) bin table, never raw rows") {
    val p = plan("x52_decile_shift")
    assert(p.contains("hashpartitioning(g") && p.contains("partial_count"),
      "bins must reduce with map-side combine before any window\n" + p.take(1200))
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.substring(winIdx).contains("HashAggregate"),
      "cumulative windows must be fed by the bin aggregate\n" + p.take(1200))
  }

  test("p9: zones reduce on one bucket-keyed exchange") {
    val p = plan("p9_zonemap_skips")
    assert(p.contains("hashpartitioning(bucket"),
      "zone reduction must shuffle one row per bucket\n" + p.take(1000))
  }

  test("q47: consecutive-order join is equality-keyed; top-k is TakeOrdered") {
    val p = plan("q47_next_purchase")
    assert(!p.contains("CartesianProduct"),
      "transition pairs must come from the (custkey, rnk) equi-join\n" + p.take(1000))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("x57: permutations explode the day table, not the facts") {
    val p = plan("x57_perm_test")
    // the Generate (explode) must sit above the day HashAggregate —
    // i.e. an aggregate appears below it in the plan text
    val genIdx = p.indexOf("Generate")
    assert(genIdx >= 0 && p.substring(genIdx).contains("HashAggregate"),
      "the 64-way permutation explode (x57) must consume the reduced day table\n" + p.take(1200))
    assert(p.contains("hashpartitioning(p"),
      "per-permutation sums must reduce on the 64-key p column")
  }

  test("g15: containment candidates are equality-joined; top-20 is TakeOrdered") {
    val p = plan("g15_containment")
    assert(!p.contains("CartesianProduct"),
      "candidates must come from the shingle-key equi-join\n" + p.take(1000))
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must not be a global sort\n" + p.take(1000))
  }

  test("g16: overlap matrix never plans a cartesian pair comparison") {
    val p = plan("g16_source_overlap")
    assert(!p.contains("CartesianProduct"), p.take(1000))
  }

  test("q44: basket self-join reads the bucketed layout with no l_orderkey " +
    "exchange; top-k is TakeOrdered") {
    val p = plan("q44_also_bought")
    // r19: the capped-basket kernel is the session-shared BUCKETED table
    // (sorted by l_orderkey) — the join key is never shuffled at read
    // time; the only remaining exchange is the (part_a, part_b) pair
    // aggregation.
    assert(p.contains("Bucketed: true"),
      "basket sides must read the shared bucketed layout\n" + p.take(1000))
    assert(!p.contains("hashpartitioning(l_orderkey"),
      "the bucketed layout must remove the l_orderkey exchange\n" + p.take(1000))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q45: lift joins the materialized basket; frequency joins are broadcast") {
    val p = plan("q45_basket_lift")
    assert(p.contains("BroadcastExchange"),
      "item-frequency joins must broadcast the item-bounded side\n" + p.take(1000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q46: incremental merge is union + aggregate — no join operator") {
    val p = plan("q46_incremental_agg")
    assert(!p.contains("Join"), p.take(1000))
    assert(p.contains("Union"))
  }

  test("q48: quartile cut points window the distinct-spend table, matrix has no cartesian") {
    val p = plan("q48_segment_migration")
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct"), p.take(1000))
    // the cumulative window consumes the (g, spend) aggregate, never raw orders
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.substring(winIdx).contains("HashAggregate"),
      "cut points must come from the reduced spend table\n" + p.take(1200))
  }

  test("q49: regression moments reduce on one flag exchange with partial combine") {
    val p = plan("q49_group_ols")
    assert(p.contains("partial_"),
      "moments must partial-aggregate map-side\n" + p.take(1000))
    assert(p.contains("hashpartitioning(flag"),
      "one exchange on the group key\n" + p.take(1000))
    assert(!p.contains("Join"))
  }

  test("s25: IVF balance is broadcast-centroid map-only assignment, no sort-merge") {
    val p = plan("s25_ivf_balance")
    assert(p.contains("BroadcastExchange"),
      "centroids must arrive broadcast\n" + p.take(1000))
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle for a join\n" + p.take(1000))
  }

  test("s27/s30: PQ censuses never sort-merge the corpus") {
    Seq("s27_pq_distortion", "s30_pq_balance").foreach { n =>
      val p = plan(n)
      assert(!p.contains("SortMergeJoin"), s"$n\n" + p.take(1000))
      assert(!p.contains("CartesianProduct"), s"$n\n" + p.take(1000))
    }
  }

  test("g11/g17/g9: the cluster/graph family serves from the shared materialized tables") {
    // the r12 persisted-table discipline: after any family query runs,
    // every other member's plan reads the stored label/pair table
    // (a checkpoint scan) instead of re-deriving the signature build
    plan("g6_dedup_clusters") // populates the session-shared caches
    Seq("g11_cluster_reps", "g17_cluster_sizes", "g9_pagerank").foreach { n =>
      val p = plan(n)
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        s"$n must serve from the materialized shared table\n" + p.take(800))
      assert(!p.contains("stack("),
        s"$n must not re-derive the banded signature unpivot\n" + p.take(800))
    }
  }

  test("k5: silhouette is broadcast-centroid map-only + one vec_id window") {
    val p = plan("k5_silhouette")
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle for a join\n" + p.take(800))
    assert(p.contains("Window"))
  }

  test("g25: the recall census itself never plans a pairwise comparison") {
    val p = plan("g25_dedup_recall")
    assert(!p.contains("CartesianProduct"), p.take(1000))
    // pair masses are combinable c*(c-1)/2 counts off grouped labels,
    // not a self-join of the corpus
    assert(!p.contains("SortMergeJoin Inner (doc"), p.take(1000))
  }

  // ---- r13: pins for the remaining >1s-steady queries (VERDICT item 5)

  /** Group-key names of every hash exchange in the plan (the token
    * before the first `#` of each `Exchange hashpartitioning(...)`). */
  /** Forbid pairwise join shapes, EXCEPT the broadcast-scalar attach the
    * r16 cap derivation uses: a 1-row cap/n_docs frame crossJoined in
    * plans as a BroadcastNestedLoopJoin whose build side is that scalar
    * aggregate — bounded by construction (1 × N rows, no pair blow-up).
    * Any other BNLJ, and any CartesianProduct, stays fatal. */
  private def assertNoPairwiseJoins(plan: String, name: String): Unit = {
    assert(!plan.contains("CartesianProduct"), s"$name\n" + plan.take(800))
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("BroadcastNestedLoopJoin")).foreach { case (l, i) =>
        // the scalar shows up either in the join condition on the BNLJ
        // line itself (df <= cap) or in the build-side subtree below the
        // (bounded-depth) left subtree
        val ctx = (l +: lines.slice(i + 1, i + 80)).mkString(" ")
        assert(ctx.contains("cap#") || ctx.contains("n_docs#")
            || ctx.contains("rec0#"),
          s"$name: non-scalar BroadcastNestedLoopJoin\n" +
            lines.slice(i, i + 12).mkString("\n"))
      }
  }

  /** Every ResolvedHint in `df`'s analyzed plan must hint a ONE-ROW
    * cap-derivation frame (output `cap` or `n_docs`/`rec0`) — the only
    * broadcasts the r16 derived-cap plans introduce; a hint on a
    * corpus-sized table (e.g. per-doc sizes) stays forbidden. */
  private def assertOnlyCapHints(df: org.apache.spark.sql.DataFrame,
      name: String): Unit = {
    val lines = df.queryExecution.analyzed.toString.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("ResolvedHint")).foreach {
      case (_, i) =>
        val child = lines.slice(i + 1, i + 3).mkString(" ")
        assert(child.contains("cap#") || child.contains("n_docs#")
            || child.contains("rec0#"),
          s"$name: broadcast hint on a non-derivation frame\n$child")
    }
  }

  private def exchangeKeys(p: String): Seq[String] =
    "Exchange hashpartitioning\\((\\w+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq

  test("m9: phash candidates via band-bucket equi-join, never all-pairs") {
    val p = plan("m9_phash_neardup")
    assert(p.contains("Generate"), "band explode\n" + p.take(600))
    assert(p.contains("Join [bi"), "candidates equi-join on the (band, value) bucket\n" + p.take(1000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("y7: CDC chunking is one per-doc window over one doc_id exchange, no join") {
    val p = plan("y7_cdc_chunks")
    assert(p.contains("Window"))
    assert(!p.contains("Join"), p.take(800))
    assert(exchangeKeys(p).forall(_ == "doc_id"),
      "only the per-doc exchange\n" + p.take(800))
  }

  test("x33/x36: robust-stats family shuffles only on the group key, bounded broadcasts") {
    Seq("x33_winsorized_mean", "x36_mad").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$n\n" + p.take(800))
      assert(exchangeKeys(p).toSet.subsetOf(Set("g")),
        s"$n: every exchange must be on the group key, got ${exchangeKeys(p)}\n" + p.take(800))
    }
  }

  test("x34: daily percentiles exchange only on the calendar key") {
    val p = plan("x34_daily_percentiles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(exchangeKeys(p).toSet.subsetOf(Set("day")), exchangeKeys(p).toString)
  }

  test("x35: Benford cross is the bounded 9-digit domain, counts reduce per digit") {
    val p = plan("x35_benford")
    // the one nested-loop join crosses against the constant digit table
    assert(p.split("BroadcastNestedLoopJoin").length - 1 == 1, p.take(800))
    assert(p.contains("LocalTableScan"), "digit domain is a literal table\n" + p.take(800))
    assert(exchangeKeys(p).toSet.subsetOf(Set("digit")), exchangeKeys(p).toString)
  }

  test("x37: Spearman ranks window the REDUCED distinct-value tables") {
    val p = plan("x37_spearman")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // each rank window consumes an aggregate (distinct bins), never raw rows
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && p.substring(winIdx).contains("HashAggregate"),
      "ranks must come from the reduced bin table\n" + p.take(1200))
  }

  test("x52: decile shift crosses only the 10-row decile Range, joins on the decile") {
    val p = plan("x52_decile_shift")
    assert(p.contains("Range"), "decile domain from Range\n" + p.take(800))
    assert(!p.contains("CartesianProduct"))
    assert(exchangeKeys(p).toSet.subsetOf(Set("g", "decile")), exchangeKeys(p).toString)
  }

  test("q45: basket lift reduces pairs per part, one bounded totals cross, top-k") {
    val p = plan("q45_basket_lift")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.split("BroadcastNestedLoopJoin").length - 1 <= 1, p.take(800))
    assert(!p.contains("CartesianProduct"))
    assert(exchangeKeys(p).toSet.subsetOf(Set("part_a", "l_partkey", "l_orderkey")),
      exchangeKeys(p).toString)
  }

  test("q47: next purchase is one equality self-join on the customer key + top-k") {
    val p = plan("q47_next_purchase")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(exchangeKeys(p).toSet.subsetOf(Set("o_custkey", "part_from")),
      exchangeKeys(p).toString)
  }

  test("t21: DSIR weights cross only the 1-row corpus total") {
    val p = plan("t21_dsir_weights")
    assert(p.split("BroadcastNestedLoopJoin").length - 1 <= 1, p.take(800))
    assert(!p.contains("CartesianProduct"))
    assert(exchangeKeys(p).toSet.subsetOf(Set("doc_id", "b")), exchangeKeys(p).toString)
  }

  test("t22/t23: n-gram novelty and burstiness reduce on vocab-bounded keys") {
    val t22 = plan("t22_ngram_novelty")
    assert(!t22.contains("CartesianProduct") && !t22.contains("BroadcastNestedLoopJoin"))
    assert(exchangeKeys(t22).toSet.subsetOf(Set("doc_id", "g")), exchangeKeys(t22).toString)
    val t23 = plan("t23_burstiness")
    assert(t23.contains("TakeOrderedAndProject") || t23.contains("Sort"))
    assert(!t23.contains("Join"), t23.take(600))
    assert(exchangeKeys(t23).toSet.subsetOf(Set("w")), exchangeKeys(t23).toString)
  }

  test("t1/t2/t13: per-doc token stats are one per-row byte pass — no Generate, no doc_id shuffle") {
    Seq("t1_langid", "t2_quality", "t13_langid_confusion").foreach { n =>
      val p = plan(n)
      // computed once per row: in the projection, never in a filter
      val gs = p.linesIterator.filter(_.contains("gopher_stats(")).toSeq
      assert(gs.nonEmpty && gs.forall(_.trim.matches("[*(0-9) +:|-]*Project .*")),
        s"$n\n" + p.take(1200))
      assert(!p.contains("Generate"), s"$n\n" + p.take(1200))
      assert(!p.contains("Exchange hashpartitioning(doc_id"), s"$n\n" + p.take(1200))
    }
  }

  test("e4/e5/g24 read the shared candidate level — no (band, minh) join of their own") {
    val bucketKey = "\\b(band|minh)#".r
    Seq("e4_dedup_quality", "e5_yield_funnel", "g24_band_agreement").foreach { n =>
      val p = plan(n)
      val joins = p.linesIterator.filter(_.contains("Join")).toSeq
      assert(!joins.exists(l => bucketKey.findFirstIn(l).isDefined),
        s"$n\n" + joins.mkString("\n"))
    }
  }

  test("e5: yield funnel joins per-doc flags by id — no pairwise, one stack unpivot") {
    val p = plan("e5_yield_funnel")
    assertNoPairwiseJoins(p, "e5")
    assert(p.contains("Generate"), "stack unpivot to 4 rows\n" + p.take(600))
    // `df` is the r16 cap derivation's <=cap-row histogram rollup
    assert(exchangeKeys(p).toSet.subsetOf(Set("doc_id", "norm", "band", "df")),
      exchangeKeys(p).toString)
  }

  test("q50: the bucketed fact-fact join runs with ZERO exchange below the SMJ") {
    // the engine's core 100 TB physical lever: write-time bucketing is
    // the last time the order key is ever shuffled
    val joined = graft.sources.Bucketing
      .bucketedOrderLineitemJoin(spark, sf("sf0.001"))
    assert(graft.sources.Bucketing.isExchangeFree(joined),
      joined.queryExecution.executedPlan.toString.take(2000))
    val pj = joined.queryExecution.executedPlan.toString
    assert(pj.contains("SortMergeJoin"), "merge hint must hold\n" + pj.take(600))
    assert(pj.contains("Bucketed: true"), pj.take(2000))
    // the full query's only exchanges are on the 5-row priority aggregate
    val p = plan("q50_bucketed_revenue")
    assert(!p.contains("hashpartitioning(o_orderkey")
      && !p.contains("hashpartitioning(l_orderkey"),
      "the join key must never shuffle at query time\n" + p.take(2000))
    assert(p.contains("SortMergeJoin") && p.contains("partial_"),
      "SMJ over bucket scans + map-side combine\n" + p.take(2000))
  }

  test("g29: the bucketed shingle index never re-shuffles on sh_h") {
    import graft.operators.{Dedup, DedupQueries}
    import org.apache.spark.sql.functions.{col, count, lit}
    val b = DedupQueries.sharedBucketedShingles(spark, sf("sf0.001"))
    // The candidate front (df groupBy -> df join-back -> inverted-index
    // self-join) built over the bucketed scan, SMJ-hinted like q50 so
    // the small scale doesn't broadcast away the property being pinned:
    // ZERO exchange anywhere — the bucket layout satisfies every step's
    // required distribution.
    val bdf = b.groupBy("sh_h").agg(count(lit(1)).as("df"))
    val capped = b.hint("merge")
      .join(bdf.where(col("df") <= Dedup.DefaultShingleDfCap).hint("merge"),
        "sh_h")
      .select("doc_id", "sh_h")
    val cand = capped.as("x").join(capped.hint("merge").as("y"),
      col("x.sh_h") === col("y.sh_h") && col("x.doc_id") < col("y.doc_id"))
    assert(graft.sources.Bucketing.isExchangeFree(cand),
      cand.queryExecution.executedPlan.toString.take(2000))
    val pc = cand.queryExecution.executedPlan.toString
    assert(pc.contains("SortMergeJoin") && pc.contains("Bucketed: true"),
      pc.take(2000))
    // and the registered query (whatever join strategies the small scale
    // picks) must never shuffle on the shingle key — write-time
    // bucketing was the last sh_h shuffle ever
    val p = plan("g29_bucketed_jaccard")
    assert(!p.contains("hashpartitioning(sh_h"),
      "sh_h must never re-shuffle at query time\n" + p.take(2000))
    assert(p.contains("Bucketed: true"), p.take(2000))
  }

  test("r16 routed fronts: g15 and the winnow family never re-shuffle their index key") {
    // VERDICT r15 item 4: the bucketed layouts are now the candidate
    // FRONT of the whole ladder, not a g29-only demo. Each routed
    // query's plan must scan the bucketed table and never re-shuffle
    // the bucket key — write-time bucketing was that key's last shuffle.
    val g15 = plan("g15_containment")
    assert(!g15.contains("hashpartitioning(sh_h"),
      "g15 must inherit the sh_h bucket layout\n" + g15.take(2000))
    assert(g15.contains("Bucketed: true"), g15.take(2000))
    for (q <- Seq("y9_winnow_candidates", "g27_winnow_jaccard")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning(fp"),
        s"$q must inherit the fp bucket layout\n" + p.take(2000))
      assert(p.contains("Bucketed: true"), p.take(2000))
    }
    // y4's registered entry is a materialized-table scan; its lazy core
    // over the bucketed index keeps the df front exchange-free: the
    // only sh_h exchange left is the prefix self-join's (its input was
    // re-partitioned by doc_id for the per-doc windows — unavoidable),
    // where the unbucketed build pays one more for the df join-back.
    val core = graft.operators.SimilarityJoin.prefixJoinSliced(
      graft.operators.DedupQueries.sharedBucketedShingles(spark, sf("sf0.001")),
      0.5, 1, Some(false))
      .queryExecution.executedPlan.toString
    val shuffles = "hashpartitioning\\(sh_h".r.findAllIn(core).size
    assert(core.contains("Bucketed: true"), core.take(2000))
    assert(shuffles <= 1,
      s"bucketed prefix front must shuffle sh_h at most once (self-join), got $shuffles\n" +
        core.take(2000))
  }
}
