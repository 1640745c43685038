package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}
import graft.functions.Parity.pround

/** PageRank over the near-dup candidate graph — the standard iterative
  * message-passing workload, here used to rank "hub" documents inside
  * duplicate neighborhoods (a doc whose text links many near-dup
  * clusters scores high; per-cluster survivors can then prefer
  * high-centrality members instead of min-id).
  *
  * Determinism: float summation order would make ranks differ between
  * engines AND between cluster sizes (partial aggregation), so each
  * neighbor contribution r/deg is quantized to 12 dp and summed as
  * DECIMAL(38,12) — exact and order-free; the damping arithmetic is a
  * fixed IEEE expression tree. The DuckDB oracle unrolls the same three
  * iterations and matches bit-for-bit.
  *
  * Design for 100 TB: each iteration is one shuffle — contributions
  * groupBy(dst) with map-side partial sums; degrees and ranks stay
  * joined on the node key; the plan for a FIXED iteration count is a
  * lazy chain (three joins deep — well under plan-blowup territory; an
  * open-ended solver would localCheckpoint per round like
  * [[Dedup.dedupClusters]]).
  */
object Graph {

  /** `iters` damped PageRank rounds (d=0.85) over the symmetric pair
    * graph; every node in `pairs` has degree >= 1 so there are no
    * dangling nodes. Returns (doc_id, pagerank) at 6 dp. */
  def pagerank(pairs: DataFrame, iters: Int): DataFrame = {
    // both directions from one scan (same discipline as dedupClusters)
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // EAGER degree table (r19): every iteration joins it, and the lazy
    // form re-ran the edge-table shuffle once per round (plus once for
    // the rank init) — the table is node-bounded, so storing it is safe
    // at any graph size; the edge frame itself deliberately stays lazy
    // (storing an edge-scale frame measured 6× slower at the 20×
    // replication density — see the g22 note below).
    val deg = Materialize.frame(
      edges.groupBy("src").agg(count(lit(1)).as("deg")))
    var ranks = deg.select(col("src").as("node"), lit(1.0).as("r"))
    (1 to iters).foreach { _ =>
      val contrib = edges
        .join(ranks, col("src") === col("node"))
        .join(deg, "src")
        .select(col("dst"),
          pround(col("r") / col("deg").cast("double"), 12).as("c"))
      ranks = contrib.groupBy(col("dst").as("node"))
        .agg((lit(0.15) + lit(0.85) *
          sum(col("c").cast(DecimalType(38, 12))).cast("double")).as("r"))
    }
    ranks.select(col("node").as("doc_id"), pround(col("r"), 6).as("pagerank"))
  }

  /** g22: triangle census over the near-dup candidate graph — the
    * cohesion read on duplicate neighborhoods. A high global clustering
    * coefficient means LSH candidates close into tight cliques (true
    * duplicate clusters); a low one means chains and hubs (shingle
    * collisions bridging unrelated docs) — the quality signal for the
    * banding choice, next to g21's bucket census.
    *
    * Design for 100 TB: triangle enumeration is the classic skew bomb —
    * a hub of degree d contributes d² wedges, so pivoting on arbitrary
    * vertices dies on the first celebrity node. The standard fix
    * (degree orientation): direct every edge from its lower-(deg, id)
    * endpoint to the higher; every triangle then has exactly one vertex
    * with BOTH out-edges, and out-degrees are bounded by the graph
    * degeneracy (O(√m) worst case) regardless of hub size. The wedge
    * self-join fans out per-edge-bounded, and closure is an equality
    * semi-join on the canonical (lo, hi) pair key — no inequality join
    * anywhere. The pair frame feeds four consumers (degrees,
    * orientation, closure probe, edge count), so it materializes once
    * via [[Materialize]] — one LSH pass ever.
    *
    * r16 hub guard (the sf10 finding): degree orientation bounds work
    * by the graph DEGENERACY — and a duplicate mega-clique of size c
    * IS degeneracy c−1, so admitted cliques near the candidate cap
    * (517 at sf10 by the budget rule) put ~c³/6 wedge rows through the
    * join per clique and exhaust shuffle disk, exactly the r14 df²
    * failure one level up. The guard is the same documented-lossy
    * discipline as [[resourceAllocTop]]'s pivot cap: vertices with
    * degree > `degCap` (default 256, mirrored in the oracle) are
    * excluded from the ENUMERATION subgraph — a ~clique-member's
    * triangles say nothing a g17 size census doesn't — while the FULL
    * graph's node/edge/wedge counts stay in-result as the monitors,
    * and `n_hub_nodes` makes the exclusion itself visible. The
    * clustering coefficient is computed consistently over the capped
    * subgraph (`n_wedges_capped` is its denominator). At organic test
    * densities no vertex crosses the cap, so the census reads
    * n_hub_nodes = 0 and the capped numbers equal the uncapped ones. */
  val DefaultTriangleDegCap = 256
  def triangleCensus(rawPairs: DataFrame,
      degCap: Int = DefaultTriangleDegCap): DataFrame = {
    val p = Materialize.frame(rawPairs.select(col("doc_a"), col("doc_b")))
    val deg = p.select(explode(array(col("doc_a"), col("doc_b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)).as("n_wedges"),
      coalesce(sum((col("deg") > degCap).cast("long")), lit(0L))
        .as("n_hub_nodes"))
    val keep = deg.where(col("deg") <= degCap).select(col("node"))
    val pc = p
      .join(keep.select(col("node").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(keep.select(col("node").as("doc_b")), Seq("doc_b"), "left_semi")
    val degc = pc.select(explode(array(col("doc_a"), col("doc_b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val wedgeStats = degc.agg(
      coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L))
        .as("n_wedges_capped"))
    val oriented = pc
      .join(degc.select(col("node").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(degc.select(col("node").as("doc_b"), col("deg").as("db")), "doc_b")
      .select(when(col("da") < col("db") ||
            (col("da") === col("db") && col("doc_a") < col("doc_b")),
          struct(col("doc_a").as("u"), col("doc_b").as("v")))
        .otherwise(struct(col("doc_b").as("u"), col("doc_a").as("v")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val wedges = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")), "u")
      .where(col("x") < col("y"))
    val tri = wedges
      .join(pc, col("x") === col("doc_a") && col("y") === col("doc_b"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val ec = p.agg(count(lit(1)).as("n_edges"))
    degStats.crossJoin(broadcast(ec)).crossJoin(broadcast(wedgeStats))
      .crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_hub_nodes"), col("n_wedges_capped"), col("n_triangles"),
        pround(when(col("n_wedges_capped") > 0,
          lit(3.0) * col("n_triangles").cast("double")
            / col("n_wedges_capped").cast("double")), 9).as("global_cc"))
  }

  /** g23: Resource-Allocation link prediction over the candidate graph —
    * score every NON-adjacent pair (x, y) by Σ_{u ∈ Γ(x)∩Γ(y)} 1/deg(u)
    * and keep the top k: "these two docs share several low-degree
    * (discriminative) neighbors but no LSH band put them together" —
    * the recall-recovery read for near-dup candidate generation (RA is
    * Adamic–Adar with 1/deg instead of 1/log deg, so no transcendental
    * enters the score).
    *
    * Determinism: each pivot contribution 1/deg quantizes to 12 dp and
    * sums as DECIMAL(38,12) (the g9 discipline) — order-free, so the
    * top-k ordering agrees bit-for-bit with the oracle.
    *
    * Design for 100 TB: common-neighbor enumeration needs BOTH wedge
    * directions (unlike g22's closed triangles, a 2-path's endpoints can
    * both out-rank the pivot), so hub pivots are genuinely quadratic.
    * The guard is a degree cap on the PIVOT (deg ≤ 256, mirrored in the
    * oracle): a hub's per-path contribution is ≤ 1/257 — noise for a
    * top-k score — while its fan-out is deg², so the cap drops the
    * least informative pivots exactly where they cost the most. The
    * existing-edge exclusion is a left-anti equality join on the
    * canonical pair key — applied AFTER the (x, y) aggregation, not
    * before: the wedge stream is the F³ mass (every 2-path), while the
    * aggregate is the F² mass (distinct co-neighbor pairs), and the
    * decimal sum is order-free so exclusion commutes with it. Summing
    * first means the map-side partial aggregate collapses the wedge
    * stream inside the self-join task and only distinct pairs ever
    * cross a shuffle into the anti-join; at the organic-10x scale this
    * ordering alone is the difference between 226 s and the graph
    * family's baseline shape (the join output never materializes the
    * 2-path mass downstream). */
  def resourceAllocTop(rawPairs: DataFrame, k: Int,
      degCap: Int = 256): DataFrame = {
    val p = Materialize.frame(rawPairs.select(col("doc_a"), col("doc_b")))
    val edges = p
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // deliberately NOT materialized: the adjacency is planned twice (one
    // per self-join side), but recomputing the cheap edges+degree
    // pipeline beats eagerly storing an edge-scale (2x pairs) frame in
    // the block store — measured 25 s vs 164 s at the 20x replication
    // density (35M edges), where the stored variant thrashes memory the
    // wedge join needs
    val adj = edges.join(deg.where(col("deg") <= degCap), "src")
    // per-wedge contribution in exact micro-units: round(1e12/deg) as a
    // LONG — floor(a/b + 1/2) = (2a+b) div 2b for positive integers —
    // so the hot partial aggregate is a primitive long sum, not a
    // Decimal(38,12) object sum. For deg <= 257 this integer rounding
    // equals the oracle's double path floor(1.0/deg*1e12+0.5): 1e12/deg
    // is never exactly x.5 (2e12/deg odd needs deg = 2^13*k > cap) and
    // the double error bound 1e12*2^-52 is far under the 1/(2*deg)
    // distance to the nearest half.
    val paths = adj.select(col("src"), col("dst").as("x"), col("deg"))
      .join(adj.select(col("src"), col("dst").as("y")), "src")
      .where(col("x") < col("y"))
      .select(col("x"), col("y"),
        expr("(2000000000000 + deg) div (2 * deg)").as("c"))
    val scored = paths
      .groupBy("x", "y")
      // exact decimal rescale (s * 1e-12, scale-12 product) then ONE
      // double rounding — same value as the oracle's CAST(decimal sum
      // AS DOUBLE), even past 2^53 micro-units. The sum is cast to
      // DECIMAL(25,0) — up to 1e13 common neighbors, ANSI-raising
      // beyond — so the product stays at precision 38 WITHOUT scale
      // truncation (a (38,0)x(12,12) product trims scale 12 -> 6 under
      // allowPrecisionLoss and silently rounds the score).
      .agg(pround((sum(col("c")).cast(DecimalType(25, 0)) *
          lit(new java.math.BigDecimal("1E-12"))).cast("double"), 9)
        .as("ra_score"))
    // The exclusion also names ra_score (never null: every group sums at
    // least one non-null c), so the condition reaches past the grouping
    // keys and Catalyst cannot push the anti-join below the aggregate —
    // which it otherwise does whenever `p` is small enough to broadcast,
    // probing the F³ wedge stream instead of the F² pairs.
    scored
      .join(p, scored("x") === p("doc_a") && scored("y") === p("doc_b") &&
        scored("ra_score").isNotNull, "left_anti")
      .select(col("x").as("doc_a"), col("y").as("doc_b"), col("ra_score"))
      .orderBy(col("ra_score").desc, col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** g31: the hub-guard adjudication for the graph CONSUMERS (VERDICT
    * r16 item 4). g22/g23 enumerate under a degree cap because a
    * derived-cap mega-clique IS the graph degeneracy; g9 (pagerank) and
    * g11 (cluster reps) still consume the FULL candidate graph — this
    * census measures, at the outcome level, what adopting the same
    * guard would change for them: (a) overlap of the top-k pagerank
    * doc sets between the full graph and the guarded subgraph (every
    * edge with a deg > degCap endpoint removed), and (b) the
    * quality-aware representative sets of the two graphs' cluster
    * labelings. One row; every branch reduces to a broadcast 1-row
    * aggregate before the final crossJoins.
    *
    * The decision hinge this query exposes: hub vertices in the
    * CANDIDATE graph are real duplicate mega-groups (not celebrity
    * noise like a social graph's) — guarding them out splits those
    * groups into singletons, so `n_reps_guarded - n_reps_common`
    * counts the duplicate copies a guarded cluster build would
    * re-admit as "representatives". That is the recall argument for
    * keeping the full graph under g6/g11; rank_overlap_k prices the
    * analytics side. */
  def hubGuardAdjudication(docs: DataFrame, fullPairs: DataFrame,
      fullClusters: DataFrame, degCap: Int = DefaultTriangleDegCap,
      k: Int = 100): DataFrame = {
    val p = fullPairs.select(col("doc_a"), col("doc_b"))
    val deg = p.select(explode(array(col("doc_a"), col("doc_b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum((col("deg") > degCap).cast("long")), lit(0L))
        .as("n_hub_nodes"))
    val keep = deg.where(col("deg") <= degCap).select(col("node"))
    // 3 consumers (degree build inside pagerank, cluster build, edge
    // count) — materialize once, the g22 discipline
    val guarded = Materialize.frame(p
      .join(keep.select(col("node").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(keep.select(col("node").as("doc_b")), Seq("doc_b"), "left_semi"))
    val ecF = p.agg(count(lit(1)).as("n_edges_full"))
    val ecG = guarded.agg(count(lit(1)).as("n_edges_guarded"))
    // ranks are 6-dp-rounded and bit-stable vs the oracle (g9), so the
    // (pagerank desc, doc_id) top-k cut is engine-deterministic
    def topK(pr: DataFrame): DataFrame = pr
      .orderBy(col("pagerank").desc, col("doc_id")).limit(k)
      .select(col("doc_id"))
    val overlap = topK(pagerank(p, 3))
      .join(topK(pagerank(guarded, 3)), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("rank_overlap_k"))
    val repsF = Dedup.clusterRepsFromLabels(docs, fullClusters)
      .select(col("rep_doc_id"))
    val repsG = Dedup.clusterRepsFromLabels(docs, Dedup.dedupClusters(guarded))
      .select(col("rep_doc_id"))
    val nF = repsF.agg(count(lit(1)).as("n_reps_full"))
    val nG = repsG.agg(count(lit(1)).as("n_reps_guarded"))
    val nC = repsF.join(repsG, Seq("rep_doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_reps_common"))
    degStats.crossJoin(broadcast(ecF)).crossJoin(broadcast(ecG))
      .crossJoin(broadcast(overlap)).crossJoin(broadcast(nF))
      .crossJoin(broadcast(nG)).crossJoin(broadcast(nC))
  }
}

object GraphQueries {
  import Graph._

  /** One unrolled oracle iteration over edge table `e` / degree table
    * `deg`: ranks `prev` -> new CTE `out`. Parameterized so g31 can
    * unroll the same arithmetic over two graphs in one oracle. */
  private def iterSqlOn(prev: String, out: String, e: String, deg: String) =
    s"""$out AS (
       |  SELECT $e.dst AS node,
       |         0.15 + 0.85 * CAST(sum(CAST(
       |             floor(p.r / CAST(d.deg AS DOUBLE) * 1000000000000.0 + 0.5)
       |               / 1000000000000.0 AS DECIMAL(38,12))) AS DOUBLE) AS r
       |  FROM $e JOIN $prev p ON $e.src = p.node
       |         JOIN $deg d ON $e.src = d.src
       |  GROUP BY $e.dst)""".stripMargin

  /** One unrolled oracle iteration: ranks `prev` -> new CTE `out`. */
  private def iterSql(prev: String, out: String) =
    iterSqlOn(prev, out, "e", "deg")

  /** The LSH candidate-pair CTE chain (shingles -> 4-band minhash ->
    * bucket-df cap -> canonical doc_a < doc_b pairs) — the SAME graph
    * g9/g22/g23 run on (capped, see [[Dedup.DefaultBucketDfCap]]),
    * factored so the oracles can't drift from each other or from the
    * Spark default. */
  private[operators] val candPairsSqlCtes =
    s"""${DedupQueries.shinglesSqlCte},
       |${DedupQueries.cappedSigSqlCtes},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sigc a JOIN sigc b
       |    ON a.band = b.band AND a.minh = b.minh AND a.doc_id < b.doc_id)""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("g9_pagerank",
      (s, d) => pagerank(DedupQueries.sharedCandidates(s, d), 3)
        .orderBy("doc_id"),
      Some(s"""WITH $candPairsSqlCtes,
              |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              |      UNION ALL SELECT doc_b, doc_a FROM pairs),
              |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
              |r0 AS (SELECT src AS node, 1.0 AS r FROM deg),
              |${iterSql("r0", "r1")},
              |${iterSql("r1", "r2")},
              |${iterSql("r2", "r3")}
              |SELECT node AS doc_id,
              |       floor(r * 1000000.0 + 0.5) / 1000000.0 AS pagerank
              |FROM r3 ORDER BY doc_id""".stripMargin),
      doc = "3-round damped PageRank over the LSH candidate graph — " +
        "decimal-exact contribution sums make ranks engine- and " +
        "partitioning-independent"),

    Q("g22_triangles",
      (s, d) => triangleCensus(DedupQueries.sharedCandidates(s, d)),
      Some(s"""WITH $candPairsSqlCtes,
              |e AS (SELECT doc_a AS node FROM pairs
              |      UNION ALL SELECT doc_b FROM pairs),
              |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
              |        FROM e GROUP BY 1),
              |ds AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
              |              CAST(coalesce(sum(deg * (deg - 1) // 2), 0)
              |                   AS BIGINT) AS n_wedges,
              |              CAST(coalesce(sum(CASE WHEN deg > ${Graph.DefaultTriangleDegCap}
              |                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hub_nodes
              |       FROM deg),
              |keep AS (SELECT node FROM deg
              |         WHERE deg <= ${Graph.DefaultTriangleDegCap}),
              |pc AS (SELECT p.doc_a, p.doc_b FROM pairs p
              |       JOIN keep ka ON p.doc_a = ka.node
              |       JOIN keep kb ON p.doc_b = kb.node),
              |ecp AS (SELECT doc_a AS node FROM pc
              |        UNION ALL SELECT doc_b FROM pc),
              |degc AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
              |         FROM ecp GROUP BY 1),
              |dsc AS (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0)
              |                    AS BIGINT) AS n_wedges_capped
              |        FROM degc),
              |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
              |       FROM pc p1
              |       JOIN pc p2 ON p2.doc_a = p1.doc_a
              |                 AND p2.doc_b > p1.doc_b
              |       JOIN pc p3 ON p3.doc_a = p1.doc_b
              |                 AND p3.doc_b = p2.doc_b),
              |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs)
              |SELECT n_nodes, n_edges, n_wedges, n_hub_nodes,
              |       n_wedges_capped, n_triangles,
              |       CASE WHEN n_wedges_capped > 0 THEN
              |         floor(3.0 * CAST(n_triangles AS DOUBLE)
              |               / CAST(n_wedges_capped AS DOUBLE)
              |               * 1000000000.0 + 0.5) / 1000000000.0
              |       END AS global_cc
              |FROM ds CROSS JOIN dsc CROSS JOIN tr CROSS JOIN ec""".stripMargin),
      doc = "triangle census over the LSH candidate graph with " +
        "degree-orientation (out-degree bounded by degeneracy, not hub " +
        "size) and the r16 hub guard (vertices with degree > " +
        s"${Graph.DefaultTriangleDegCap} excluded from enumeration — a " +
        "mega-dup-clique IS the degeneracy, ~c^3/6 wedges at sf10; " +
        "n_hub_nodes reports the exclusion, full-graph counts stay as " +
        "monitors, cc is consistent over n_wedges_capped); the oracle " +
        "counts canonical a<b<c triples naively on the same subgraph"),

    Q("g23_link_predict",
      (s, d) => resourceAllocTop(DedupQueries.sharedCandidates(s, d), 15),
      Some(s"""WITH $candPairsSqlCtes,
              |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              |      UNION ALL SELECT doc_b, doc_a FROM pairs),
              |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
              |        FROM e GROUP BY 1),
              |adj AS (SELECT e.src, e.dst, d.deg
              |        FROM e JOIN deg d ON d.src = e.src
              |        WHERE d.deg <= 256),
              |pth AS (
              |  SELECT a.dst AS x, b.dst AS y,
              |         CAST(floor(1.0 / CAST(a.deg AS DOUBLE)
              |                    * 1000000000000.0 + 0.5)
              |              / 1000000000000.0 AS DECIMAL(38,12)) AS c
              |  FROM adj a JOIN adj b
              |    ON a.src = b.src AND a.dst < b.dst),
              |ne AS (
              |  SELECT x, y, c FROM pth
              |  WHERE NOT EXISTS (SELECT 1 FROM pairs p
              |                    WHERE p.doc_a = pth.x AND p.doc_b = pth.y))
              |SELECT x AS doc_a, y AS doc_b,
              |       floor(CAST(sum(c) AS DOUBLE) * 1000000000.0 + 0.5)
              |         / 1000000000.0 AS ra_score
              |FROM ne GROUP BY 1, 2
              |ORDER BY ra_score DESC, doc_a, doc_b
              |LIMIT 15""".stripMargin),
      doc = "Resource-Allocation link prediction (Adamic-Adar's " +
        "transcendental-free sibling) over non-adjacent candidate " +
        "pairs: decimal-exact 1/deg pivot sums, 256-degree pivot cap " +
        "mirrored in the oracle (hub wedges are quadratic and worth " +
        "<= 1/257 each), anti-join edge exclusion, deterministic top-15"),

    Q("g31_hub_guard_adjudication",
      (s, d) => hubGuardAdjudication(graft.Tables.documents(s, d),
        DedupQueries.sharedCandidates(s, d),
        DedupQueries.sharedClusters(s, d)),
      Some(s"""WITH RECURSIVE $candPairsSqlCtes,
              |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              |      UNION ALL SELECT doc_b, doc_a FROM pairs),
              |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
              |        FROM e GROUP BY 1),
              |hs AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
              |              CAST(coalesce(sum(CASE WHEN deg > ${Graph.DefaultTriangleDegCap}
              |                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hub_nodes
              |       FROM deg),
              |keepn AS (SELECT src AS node FROM deg
              |          WHERE deg <= ${Graph.DefaultTriangleDegCap}),
              |gp AS (SELECT p.doc_a, p.doc_b FROM pairs p
              |       JOIN keepn ka ON p.doc_a = ka.node
              |       JOIN keepn kb ON p.doc_b = kb.node),
              |ge AS (SELECT doc_a AS src, doc_b AS dst FROM gp
              |       UNION ALL SELECT doc_b, doc_a FROM gp),
              |gdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
              |         FROM ge GROUP BY 1),
              |r0 AS (SELECT src AS node, 1.0 AS r FROM deg),
              |${iterSqlOn("r0", "r1", "e", "deg")},
              |${iterSqlOn("r1", "r2", "e", "deg")},
              |${iterSqlOn("r2", "r3", "e", "deg")},
              |s0 AS (SELECT src AS node, 1.0 AS r FROM gdeg),
              |${iterSqlOn("s0", "s1", "ge", "gdeg")},
              |${iterSqlOn("s1", "s2", "ge", "gdeg")},
              |${iterSqlOn("s2", "s3", "ge", "gdeg")},
              |tf AS (SELECT node AS doc_id FROM r3
              |       ORDER BY floor(r * 1000000.0 + 0.5) / 1000000.0 DESC,
              |                node LIMIT 100),
              |tg AS (SELECT node AS doc_id FROM s3
              |       ORDER BY floor(r * 1000000.0 + 0.5) / 1000000.0 DESC,
              |                node LIMIT 100),
              |ov AS (SELECT CAST(count(*) AS BIGINT) AS rank_overlap_k
              |       FROM tf JOIN tg USING (doc_id)),
              |wf(node, lbl) AS (
              |  SELECT src, src FROM e UNION
              |  SELECT e.src, wf.lbl FROM e JOIN wf ON e.dst = wf.node),
              |clf AS (SELECT node AS doc_id, min(lbl) AS cluster
              |        FROM wf GROUP BY node),
              |wg(node, lbl) AS (
              |  SELECT src, src FROM ge UNION
              |  SELECT ge.src, wg.lbl FROM ge JOIN wg ON ge.dst = wg.node),
              |clg AS (SELECT node AS doc_id, min(lbl) AS cluster
              |        FROM wg GROUP BY node),
              |${TextAnalysisQueries.statsSqlCte},
              |q AS (SELECT doc_id, ${TextAnalysisQueries.qualitySqlExpr} AS quality
              |      FROM st),
              |jf AS (SELECT coalesce(clf.cluster, d.doc_id) AS cluster,
              |              d.doc_id, q.quality
              |       FROM documents d
              |       LEFT JOIN clf ON d.doc_id = clf.doc_id
              |       JOIN q ON q.doc_id = d.doc_id),
              |rpf AS (SELECT cluster, doc_id,
              |          row_number() OVER (PARTITION BY cluster
              |            ORDER BY quality DESC, doc_id) AS rn
              |        FROM jf),
              |repf AS (SELECT doc_id FROM rpf WHERE rn = 1),
              |jg AS (SELECT coalesce(clg.cluster, d.doc_id) AS cluster,
              |              d.doc_id, q.quality
              |       FROM documents d
              |       LEFT JOIN clg ON d.doc_id = clg.doc_id
              |       JOIN q ON q.doc_id = d.doc_id),
              |rpg AS (SELECT cluster, doc_id,
              |          row_number() OVER (PARTITION BY cluster
              |            ORDER BY quality DESC, doc_id) AS rn
              |        FROM jg),
              |repg AS (SELECT doc_id FROM rpg WHERE rn = 1),
              |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_reps_full FROM repf),
              |ng AS (SELECT CAST(count(*) AS BIGINT) AS n_reps_guarded FROM repg),
              |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_reps_common
              |       FROM repf JOIN repg USING (doc_id)),
              |ef AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_full FROM pairs),
              |eg2 AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_guarded FROM gp)
              |SELECT n_nodes, n_hub_nodes, n_edges_full, n_edges_guarded,
              |       rank_overlap_k, n_reps_full, n_reps_guarded, n_reps_common
              |FROM hs CROSS JOIN ef CROSS JOIN eg2 CROSS JOIN ov
              |CROSS JOIN nf CROSS JOIN ng CROSS JOIN nc""".stripMargin),
      doc = "g31 hub-guard adjudication for the graph consumers " +
        "(VERDICT r16 item 4): top-100 pagerank overlap and " +
        "quality-rep set diff between the full candidate graph (what " +
        "g9/g11 consume) and the deg<=256 guarded subgraph (what " +
        "g22/g23 enumerate) — in the CANDIDATE graph a hub is a real " +
        "duplicate mega-group, so guarded clustering re-admits its " +
        "copies as singleton reps; this row prices that recall loss " +
        "against the analytics drift, the decision input for whether " +
        "graph consumers may adopt the cheaper guarded graph"),
  )
}
