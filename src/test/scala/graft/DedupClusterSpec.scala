package graft

import graft.operators.Dedup

class DedupClusterSpec extends SparkSpec {
  import spark.implicits._

  test("components of a path + a disjoint edge get their min id as label") {
    // 1-2-3 chained (diameter 2) plus isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain converges within maxIter via propagation") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClusters(pairs, maxIter = 20).as[(Long, Long)]
      .collect().toMap
    assert(got.values.toSet === Set(1L))
    assert(got.keySet === (1L to 12L).toSet)
  }

  test("empty pair table yields empty clustering") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.dedupClusters(pairs).isEmpty)
  }

  test("star graph (1 hub, 1e4 spokes) converges in O(log diameter) rounds") {
    // the dominant skew shape for dedup: one hot document paired with
    // everything. Diameter 2 → contraction must finish in <= 2 rounds
    // (round 1 labels every spoke with the hub's min and contracts the
    // edge set to nothing); per-hop propagation would also take 2 here,
    // but the hub key concentrating 1e4 edges in one group is exactly
    // the skew the groupBy(src) relabel has to absorb without help.
    // Forest budget 2: every pair is its own local forest, so the global
    // rounds see the whole star.
    val pairs = (1L to 10000L).map(i => (0L, i)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.dedupClustersWithRounds(pairs, 25, 2)
    assert(rounds >= 1, "the star must reach the global rounds")
    assert(rounds <= 2, s"star should contract in <=2 rounds, took $rounds")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length === 10001)
    assert(got.forall(_._2 == 0L))
  }

  test("64-chain converges in logarithmically few rounds (pointer jumping)") {
    // diameter 63; one min-propagation hop + two pointer jumps per round
    // multiply effective reach, so rounds must stay well under the ~32
    // a plain per-hop propagation would need. Forest budget 2: the global
    // rounds see the whole chain.
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.dedupClustersWithRounds(pairs, 25, 2)
    assert(rounds >= 1, "the chain must reach the global rounds")
    assert(rounds <= 8, s"64-chain should need O(log 63) rounds, took $rounds")
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 1L))
  }

  test("maxIter exhaustion returns a valid PARTIAL clustering, loudly, without throwing") {
    // labels must still be an upper approximation: every label names a
    // member of the node's true component (here: everything is one
    // component, so any label in 1..12 is valid; full convergence would
    // give all 1s). Forest budget 2 keeps the chain whole for the
    // global rounds.
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.dedupClustersWithRounds(pairs, 1, 2)
    assert(rounds === 1)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.keySet === (1L to 12L).toSet)
    assert(got.forall { case (node, lbl) => lbl >= 1L && lbl <= node })
  }

  /** A 40-chain, an 8-clique, a 40-spoke star, a pair and a self-loop. */
  private def mixedGraph: Seq[(Long, Long)] =
    (100L until 139L).map(i => (i, i + 1)) ++
      (for (a <- 200L to 207L; b <- a + 1 to 207L) yield (a, b)) ++
      (301L to 340L).map(i => (300L, i)) ++
      Seq((500L, 501L), (600L, 600L))

  private def truth(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    var lbl = nodes.map(n => n -> n).toMap
    var changed = true
    while (changed) {
      val next = pairs.foldLeft(lbl) { case (m, (a, b)) =>
        val l = math.min(m(a), m(b))
        m.updated(a, l).updated(b, l)
      }
      changed = next != lbl
      lbl = next
    }
    lbl
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val rows = df.as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length === rows.length, "one label per node")
    rows.toMap
  }

  test("one forest read whole is the answer: no global round") {
    val pairs = mixedGraph.toDF("doc_a", "doc_b").repartition(1)
    val (got, rounds) = Dedup.dedupClustersWithRounds(pairs)
    assert(rounds === 0)
    assert(labels(got) === truth(mixedGraph))
  }

  test("forest budgets of 1 and 3 entries give the default's labels") {
    val pairs = mixedGraph.toDF("doc_a", "doc_b").repartition(1)
    val default = labels(Dedup.dedupClusters(pairs))
    assert(default === truth(mixedGraph))
    for (budget <- Seq(1, 3)) {
      val (got, rounds) = Dedup.dedupClustersWithRounds(pairs, 25, budget)
      assert(rounds >= 1, s"budget $budget flushes, so the global rounds run")
      assert(labels(got) === default, s"budget $budget")
    }
  }

  test("pairs spread over 4 partitions give the one-partition labels") {
    val pairs = mixedGraph.toDF("doc_a", "doc_b")
    val one = labels(Dedup.dedupClusters(pairs.repartition(1)))
    val (got, rounds) = Dedup.dedupClustersWithRounds(pairs.repartition(4))
    assert(rounds >= 1, "four forests need the global rounds")
    assert(labels(got) === one)
  }

  test("cluster size histogram: path(3) + edge(2) -> one size-3 and one size-2 cluster") {
    import org.apache.spark.sql.functions._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val hist = Dedup.dedupClusters(pairs)
      .groupBy("cluster").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .as[(Long, Long)].collect().toMap
    assert(hist === Map(3L -> 1L, 2L -> 1L))
  }

  test("cluster reps: each representative has its cluster's max quality") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf("sf0.001"))
    val reps = Dedup.clusterReps(docs, 4)
    // independent recomputation: cluster -> true max quality
    val clusters = Dedup.dedupClusters(Dedup.minhashCandidates(docs, 4))
    val q = operators.TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    val truth = docs.select(col("doc_id")).join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .join(q, Seq("doc_id"))
      .groupBy("cluster")
      .agg(max(col("quality")).as("max_q"), count(lit(1)).as("n"))
    val joined = reps.join(truth, "cluster")
    assert(joined.where(col("rep_quality") =!= col("max_q")).count() === 0)
    assert(joined.where(col("n_members") =!= col("n")).count() === 0)
    // every scored doc lands in exactly one cluster
    val scored = q.count()
    val members = reps.agg(sum("n_members")).collect().head.getLong(0)
    assert(members === scored)
  }
}
