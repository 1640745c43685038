package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumns.fpDot
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}
import graft.functions.Parity.pround

/** Similarity search over an embedding column (SURVEY.md §2.G [EXT]).
  *
  * Two plans:
  *  - Brute-force cosine top-k: broadcast the (small) query set against
  *    the corpus — the correct baseline, and the oracle-checkable one.
  *    At 100 TB this stays the *per-bucket* kernel, never the global plan.
  *  - Sign-LSH bucketing: deterministic integer hyperplanes partition
  *    vectors into 2^p buckets; search only inside a bucket. The bucket
  *    id is the shuffle key, so the plan scales linearly.
  *
  * Numeric parity: embeddings are quantized to fixed-point longs
  * (floor(x·10^5)) so dot products and norms are exact integer sums —
  * order-independent, hence bit-identical in Spark and DuckDB. sqrt and
  * the final division are single IEEE ops on identical operands.
  * (A float-sum cosine would differ in the last ulp between engines
  * because float addition is not associative.)
  */
object Similarity {

  /** Fixed-point embedding: array<long> of floor(x·1e5). */
  val fixedExpr =
    "transform(embedding, x -> cast(floor(cast(x as double) * 100000.0) as bigint))"

  /** Per-vector squared norm of the fixed-point embedding (exact long). */
  private[operators] def withFixed(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("label"), expr(fixedExpr).as("f"))
      .withColumn("nrm", fpDot(col("f"), col("f")))

  /** Exact cosine between two fixed-point vectors (columns fa/fb with
    * norms na/nb): long dot / (sqrt·sqrt). */
  private[operators] def cosCol: Column =
    fpDot(col("fa"), col("fb")).cast("double") /
      (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))

  /** Brute-force cosine top-k: queries (tiny) broadcast against all. */
  def cosineTopK(vecs: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val base = withFixed(vecs)
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("f").as("fa"), col("nrm").as("na"))
    val corpus = base
      .select(col("vec_id").as("neighbor_id"), col("f").as("fb"), col("nrm").as("nb"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(queries).join(corpus, col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"),
        cosCol.as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rn").as("rank"),
        pround(col("cos"), 6).as("cos_sim"))
  }

  /** S10: EXACT maximum-inner-product top-k with Cauchy-Schwarz norm
    * pruning — the y4 discipline applied to MIPS: a cheap bound pass
    * buys a provably lossless candidate filter, and the oracle is the
    * naive full join, so the gate proves no qualifying neighbor is
    * lost. Two passes:
    *
    *  1. Bound: the top-`sampleM` corpus vectors BY NORM (one
    *     TakeOrdered, broadcastable) are scored exactly against each
    *     query; the kth-best sample ip is a valid lower bound L_q on
    *     the true kth-best (the sample is a subset of the corpus).
    *  2. Prune + verify: a corpus vector can only enter the top-k if
    *     ip(q,x) >= L_q, and Cauchy–Schwarz gives
    *     ip² <= ‖q‖²·‖x‖², so `L_q <= 0 OR nq·nx >= L_q²` is a
    *     lossless survivor test — evaluated in Decimal(38,0) (the
    *     norm product overflows long at 64 dims × 1e5 fixed-point;
    *     decimal keeps the comparison exact, matching DuckDB's
    *     HUGEINT). Survivors get the exact dot product; a window
    *     takes the top-k.
    *
    * At 100 TB the norm table is a per-vector projection computed in
    * the same scan that fixes the vectors, the sample is k-bounded,
    * and the expensive exact scoring touches only the survivor
    * fraction — on norm-skewed corpora (the common case for trained
    * embeddings) that fraction is small; worst case (L_q <= 0) it
    * degrades to s1's full scan, never worse. */
  def mipsTopK(vecs: DataFrame, nQueries: Int, k: Int,
               sampleM: Int = 50): DataFrame = {
    val base = withFixed(vecs)
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("f").as("fa"), col("nrm").as("na"))
    val corpus = base
      .select(col("vec_id").as("neighbor_id"), col("f").as("fb"), col("nrm").as("nb"))
    val sample = corpus.orderBy(col("nb").desc, col("neighbor_id")).limit(sampleM)
    val wq = Window.partitionBy("q_id").orderBy(col("ip").desc, col("neighbor_id"))
    val bounds = broadcast(queries)
      .join(broadcast(sample), col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"),
        fpDot(col("fa"), col("fb")).as("ip"))
      .withColumn("rn", row_number().over(wq))
      .where(col("rn") === k)
      .select(col("q_id"), col("ip").as("lb"))
    val dec = DecimalType(38, 0)
    // LEFT join: a query with no kth sample partner (sampleM < k+1) has
    // no bound and must keep its full scan, not silently vanish
    val survivors = broadcast(queries.join(bounds, Seq("q_id"), "left"))
      .join(corpus, col("q_id") =!= col("neighbor_id"))
      .where(col("lb").isNull || col("lb") <= 0 ||
        col("na").cast(dec) * col("nb").cast(dec) >=
          col("lb").cast(dec) * col("lb").cast(dec))
      .select(col("q_id"), col("neighbor_id"),
        fpDot(col("fa"), col("fb")).as("ip"))
    survivors
      .withColumn("rn", row_number().over(wq))
      .where(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rn").as("rank"),
        pround(col("ip").cast("double") / 1e10, 6).as("inner_product"))
  }

  /** Embedding dimension the literal hyperplane weights are generated
    * for (the testdata embeddings are 64-dim; shorter vectors work via
    * the slice below, longer ones need a bigger constant). */
  val LshDim = 64

  /** Deterministic decorrelated hyperplane weights for one LSH table:
    * murmur-finalizer mix of (table, plane, dim-index), reduced to
    * [−9, 9]. An earlier draft used the closed form
    * ((i·37 + p·61) mod 19) − 9, which algebraically collapses to
    * ((4p − i) mod 19) − 9 — every plane a circular SHIFT of one
    * period-19 pattern, i.e. maximally correlated planes; measured
    * recall@3 sat at the random-chance floor. Weights are emitted as
    * LITERALS into both the Spark plan and the DuckDB oracle SQL, so
    * the two engines agree by construction and neither recomputes
    * weights per row. */
  def planeWeights(table: Int, planes: Int, dim: Int = LshDim): Array[Array[Long]] =
    Array.tabulate(planes, dim) { (p, i) =>
      var x = (table.toLong * planes + p) * 1000003L + i
      x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
      x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
      x ^= x >>> 33
      java.lang.Long.remainderUnsigned(x, 19L) - 9L
    }

  /** The p-plane sign-LSH bucket-id column for LSH table `table`, over a
    * fixed-point column `f`: bit_p = (⟨f, w_p⟩ >= 0). The weight vector
    * is a literal array, so each bit is one exact long dot product
    * (fp_dot) against a constant. */
  private[operators] def bucketCol(planes: Int, table: Int) =
    concat(planeWeights(table, planes).map { w =>
      val wLit = s"array(${w.mkString("L,")}L)"
      when(fpDot(col("f"), expr(s"slice($wLit, 1, size(f))")) >= 0, lit("1"))
        .otherwise(lit("0"))
    }.toIndexedSeq: _*)

  /** Sign-LSH bucket id per vector: `planes` deterministic decorrelated
    * hyperplanes (see [[planeWeights]]); `table` selects an independent
    * plane family for multi-table search. */
  def lshBuckets(vecs: DataFrame, planes: Int, table: Int = 0): DataFrame =
    withFixed(vecs).select(col("vec_id"),
      bucketCol(planes, table).as("bucket"))

  /** Embedding-cosine near-dup pairs, LSH-prefiltered: exact cosine runs
    * only on pairs sharing a sign-LSH bucket (the dedup scale path — the
    * bucket key is the shuffle key, never all-pairs). Top-k by similarity
    * with deterministic tie-breaks. */
  def embeddingNearDupTop(vecs: DataFrame, planes: Int, k: Int): DataFrame = {
    val withB = withFixed(vecs).join(lshBuckets(vecs, planes), "vec_id")
    val a = withB.select(col("bucket"), col("vec_id").as("vec_a"),
      col("f").as("fa"), col("nrm").as("na"))
    val b = withB.select(col("bucket"), col("vec_id").as("vec_b"),
      col("f").as("fb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket")).where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosCol.as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(k)
      .select(col("vec_a"), col("vec_b"), pround(col("cos"), 6).as("cos_sim"))
  }

  /** IVF coarse quantization: a BOUNDED deterministic centroid subset
    * (the `nCents` smallest vec_ids — in production, k-means on a
    * sample), every vector assigned to its max-cosine centroid (ties →
    * smaller centroid id). At scale: centroids broadcast, assignment is
    * a map-only pass, and the centroid id becomes the partition key an
    * in-bucket search shuffles on.
    *
    * The centroid count MUST be independent of the input size: an
    * earlier draft selected `vec_id % mod == 0` — a sampling RATE — so
    * centroids (and the broadcast cross product) grew linearly with the
    * data, making assignment quadratic overall. The 20× ScaleDemo sweep
    * surfaced it as an 81× wall-time blowup. */
  def ivfAssign(vecs: DataFrame, nCents: Int): DataFrame =
    assignFixed(vecs, nCents).select(col("vec_id"), col("centroid_id"))

  /** The shared coarse-assignment kernel behind [[ivfAssign]] and
    * [[semDedup]]: every vector to its max-cosine centroid (ties →
    * smaller centroid id), CARRYING the fixed-point vector and norm so
    * a downstream in-cluster kernel doesn't recompute them. */
  private def assignFixed(vecs: DataFrame, nCents: Int): DataFrame = {
    val base = withFixed(vecs)
    val cents = base.orderBy("vec_id").limit(nCents)
      .select(col("vec_id").as("centroid_id"), col("f").as("fb"),
        col("nrm").as("nb"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("centroid_id"))
    base.select(col("vec_id"), col("f").as("fa"), col("nrm").as("na"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"), col("fa"), col("na"),
        cosCol.as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"), col("cos"),
        col("fa").as("f"), col("na").as("nrm"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster by coarse quantization, then inside each cluster drop every
    * vector that has an EARLIER (smaller vec_id) cluster-mate with
    * cosine >= `minCos`. The keep-rule is declarative — "no earlier
    * neighbor above threshold" — hence order-independent and
    * reproducible across engines, unlike the greedy chain variant whose
    * result depends on scan order (an already-dropped earlier vector
    * still disqualifies its later neighbors here, so this drops a
    * superset of the greedy rule's victims).
    *
    * 100 TB: the centroid count is the scale knob, exactly like an LSH
    * bucket count — the within-cluster self-join keys on centroid_id
    * (never all-pairs), AQE splits skewed clusters, and the dropped-id
    * set joins back by vec_id as a plain hash join (NOT broadcast: the
    * dropped fraction is unbounded, routinely ~50% on web crawl). */
  def semDedup(vecs: DataFrame, nCents: Int, minCos: Double): DataFrame = {
    val assigned = assignFixed(vecs, nCents)
    val a = assigned.select(col("centroid_id"), col("vec_id").as("id_a"),
      col("f").as("fa"), col("nrm").as("na"))
    val b = assigned.select(col("centroid_id"), col("vec_id").as("id_b"),
      col("f").as("fb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("centroid_id"))
      .where(col("id_a") < col("id_b") && cosCol >= minCos)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("centroid_id"))
      .join(dropped.withColumn("__drop", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        when(col("__drop").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** e2: the embedding-side composition — coarse-quantize, semantic-
    * dedup, reduce to a per-cluster census: how many vectors landed in
    * each cluster, how many survive the prune, and the cluster's
    * cosine-to-centroid spread. The spread is reported as min/max (NOT
    * mean): extremes of identical doubles are order-independent, so the
    * result is engine-exact, where a float mean would differ in the
    * last ulp with aggregation order. One lazy plan, same kernels as
    * g10/s5 — the census adds a single centroid_id-keyed reduce. */
  def semDedupCensus(vecs: DataFrame, nCents: Int,
                     minCos: Double): DataFrame = {
    val cos6 = assignFixed(vecs, nCents)
      .select(col("vec_id"), pround(col("cos"), 6).as("cent_cos"))
    semDedup(vecs, nCents, minCos)
      .join(cos6, Seq("vec_id"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_members"), sum(col("kept")).as("n_kept"),
        min(col("cent_cos")).as("min_cos"), max(col("cent_cos")).as("max_cos"))
  }

  /** Probe set for a query's `bucket` string: the bucket itself plus —
    * when `hamming` = 1 — every Hamming-1 neighbor (one plane's bit
    * flipped). Multi-probe is the standard recall lever that costs
    * NOTHING on the corpus side: only the (tiny, broadcast) query side
    * fans out ×(planes+1), so the candidate count stays bounded while
    * near-misses on a single hyperplane stop being lost. A vector's
    * bucket matches exactly one probe string, so the candidate set
    * needs no dedup. */
  private[operators] def probeBucketsExpr(planes: Int, hamming: Int) = {
    require(hamming == 0 || hamming == 1,
      s"hamming radius $hamming not supported (0 = exact bucket, 1 = flip each plane)")
    val self = col("bucket")
    val flips = (1 to planes).map { i =>
      concat(
        substring(col("bucket"), 1, i - 1),
        when(substring(col("bucket"), i, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(col("bucket"), i + 1, planes - i))
    }
    if (hamming >= 1) array(self +: flips: _*) else array(self)
  }

  /** ANN quality measurement: recall@k of LSH-bucket-restricted search
    * vs exact brute force, per query — the evaluation loop every
    * approximate-search deployment needs ("measure, don't guess"
    * applied to the approximation itself). At scale the exact side runs
    * on a SAMPLE of queries (here: the nQueries smallest ids), which is
    * exactly how production recall monitoring works — the corpus-wide
    * search stays approximate; only the probe set pays brute force.
    *
    * `hamming` = 1 turns on multi-probe (see [[probeBucketsExpr]]) and
    * `tables` > 1 unions candidates across independent plane families —
    * the two standard recall levers, both of which cost only on the
    * index/probe side (candidates stay a tunable corpus fraction, they
    * never become all-pairs). Output includes the measured per-query
    * candidate count, so the recall-vs-cost trade-off is a number in
    * the result, not a guess. */
  def annRecall(vecs: DataFrame, planes: Int, nQueries: Int, k: Int,
                hamming: Int = 0, tables: Int = 1): DataFrame = {
    val exact = cosineTopK(vecs, nQueries, k)
      .select(col("q_id"), col("neighbor_id"))
    val base = withFixed(vecs)
    // one row per (vector, table) with that table's bucket id — the
    // multi-table LSH index (×tables storage, the classic recall trade)
    val tblBuckets = explode(array((0 until tables).map(t =>
      struct(lit(t).as("tbl"), bucketCol(planes, t).as("bucket"))): _*))
    val c = base
      .select(col("vec_id").as("neighbor_id"), tblBuckets.as("tb"))
      .select(col("neighbor_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), tblBuckets.as("tb"))
      .select(col("q_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      .select(col("q_id"), col("tbl"),
        explode(probeBucketsExpr(planes, hamming)).as("bucket"))
    // distinct BEFORE the cosine: a candidate found by several tables is
    // scored once; the distinct shuffles bare (q_id, neighbor_id) longs,
    // never the 64-long embedding arrays
    val candIds = broadcast(q).join(c, Seq("tbl", "bucket"))
      .where(col("q_id") =!= col("neighbor_id"))
      .select("q_id", "neighbor_id").distinct()
    val qv = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("f").as("fa"), col("nrm").as("na"))
    val nv = base.select(col("vec_id").as("neighbor_id"),
      col("f").as("fb"), col("nrm").as("nb"))
    val cand = candIds
      .join(broadcast(qv), Seq("q_id"))
      .join(nv, Seq("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), cosCol.as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))
    // one candidate subtree, two consumers (top-k and the count) — both
    // partition on q_id, so exchange reuse computes it once at runtime
    val nCand = cand.groupBy("q_id").agg(count(lit(1)).as("n_cand"))
    val approx = cand
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"))
    exact.join(approx.withColumn("hit", lit(1)),
        Seq("q_id", "neighbor_id"), "left_outer")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .join(nCand, Seq("q_id"), "left_outer")
      .select(col("q_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("n_hits"),
        pround(col("n_hits").cast("double") / k, 6).as("recall"))
  }

  /** k-NN label vote: majority label of the top-k neighbors per query;
    * ties broken by smaller label. The broadcast side is the TOPK table
    * (bounded at nQueries×k rows by construction), never the labels side
    * — labels is one row per corpus vector, unbounded at 100 TB of
    * embeddings, and broadcasting it would OOM the driver. */
  def knnLabelVote(vecs: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val topk = cosineTopK(vecs, nQueries, k)
    val labels = vecs.select(col("vec_id").as("neighbor_id"), col("label"))
    val w = Window.partitionBy("q_id").orderBy(col("votes").desc, col("label"))
    broadcast(topk).join(labels, "neighbor_id")
      .groupBy("q_id", "label").agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
  }

  /** s9: per-dimension embedding census — count, mean, min, max of every
    * coordinate across the corpus, the standard embedding-QA pass (dead
    * dimensions, scale drift, normalization checks) run before any
    * ANN/cluster work. Exact: coordinates are fixed-point longs, the
    * mean is one integer sum divided once, extremes are integer min/max
    * — bit-identical under any partitioning.
    *
    * Scale shape: posexplode emits d rows per vector map-side; partial
    * aggregation collapses every partition to ≤ d rows before the ONE
    * exchange, so the shuffle carries d rows per partition regardless
    * of corpus size (the mergeable-sketch property, x4's class). */
  def dimStats(vecs: DataFrame): DataFrame =
    withFixed(vecs)
      .select(posexplode(col("f")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        pround(sum(col("v")).cast("double") / count(lit(1)).cast("double")
          / 100000.0, 6).as("mean_val"),
        (min(col("v")).cast("double") / 100000.0).as("min_val"),
        (max(col("v")).cast("double") / 100000.0).as("max_val"))

  /** s8: product-quantization assignment (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11) — the
    * compressed-domain ANN representation: split each d-dim embedding
    * into `m` subvectors and code each against a per-subspace codebook
    * of `k` codewords (seeded deterministically from the k smallest
    * vec_ids, the kmeansStep convention). Output: one row per
    * (vec_id, subspace) with the chosen code and the exact fixed-point
    * squared L2 residual — m·log2(k) bits replace 4·d bytes per vector.
    *
    * Scale shape: the corpus is scanned ONCE — a transform+explode emits
    * the m subvector slices per row map-side (no self-union re-scan);
    * the codebook (m·k rows) broadcasts; the per-(vec, sub) argmin is a
    * map-side-combinable min_by aggregate, so the only corpus-sized
    * shuffle carries m rows per vector. Distances are exact BIGINT sums
    * of fixed-point squares (≤16 dims × (2·10^5)² ≈ 6.4·10^11 « 2^53),
    * so codes are bit-reproducible on any engine. */
  /** The m-subspace slice expression shared by s8/s14: one map-side
    * transform+explode emits the subvector slices, no re-scan. */
  private def pqSlices(m: Int): String = {
    val d = 64
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    s"transform(sequence(0, ${m - 1}), " +
      s"si -> struct(si as sub, slice(f, si * $sub + 1, $sub) as fv))"
  }

  /** Deterministic per-subspace codebook (k codewords seeded from the k
    * smallest vec_ids, the kmeansStep convention): (sub, code, cw). */
  private def pqBook(fixed: DataFrame, m: Int, k: Int): DataFrame =
    fixed.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("code"), col("f"))
      .select(col("code"), explode(expr(pqSlices(m))).as("e"))
      .select(col("e.sub").as("sub"), col("code"), col("e.fv").as("cw"))

  def pqAssign(vecs: DataFrame, m: Int = 4, k: Int = 4): DataFrame = {
    val fixed = withFixed(vecs)
    val slices = pqSlices(m)
    val pieces = fixed
      .select(col("vec_id"), explode(expr(slices)).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.fv").as("fv"))
    val book = pqBook(fixed, m, k)
    pieces.join(broadcast(book), "sub")
      .select(col("vec_id"), col("sub"), col("code"),
        expr("aggregate(zip_with(fv, cw, (a, b) -> (a - b) * (a - b)), " +
          "0L, (s, x) -> s + x)").as("dist2"))
      .groupBy("vec_id", "sub")
      .agg(min_by(struct(col("code"), col("dist2")),
        struct(col("dist2"), col("code"))).as("pick"))
      .select(col("vec_id"), col("sub"), col("pick.code").as("code"),
        col("pick.dist2").as("dist2"))
  }

  /** s14: PQ asymmetric-distance (ADC) top-k — the compressed-domain ANN
    * scan (Jégou/Douze/Schmid TPAMI'11 §IV.A): corpus vectors are ranked
    * through their PQ codes alone; only the QUERY side ever touches exact
    * subvectors. Estimated distance(q, x) = Σ_sub LUT_q[sub][code(x,sub)],
    * where the LUT holds the exact squared L2 between each query
    * subvector and each codeword.
    *
    * Scale shape — this is why PQ exists at 100 TB: after coding, the
    * only corpus-sized input is the code table (m small ints per vector,
    * ~1/64th of the raw embedding bytes); the LUT is nq·m·k rows and
    * broadcasts; the per-(query, vector) distance is a map-side-
    * combinable sum keyed on the corpus id (m rows in per vector); and
    * the top-k is a bounded per-query window. The embedding column is
    * never re-read after coding — on a real cluster the code table is
    * the thing you keep in memory while 100 TB of raw vectors stay in
    * cold storage. All distances are exact BIGINTs (fixed-point), so
    * ranks are bit-reproducible across engines. */
  def pqAdcTopK(vecs: DataFrame, nQueries: Int, k: Int,
                m: Int = 4, codebookK: Int = 4): DataFrame = {
    val fixed = withFixed(vecs)
    val codes = pqAssign(vecs, m, codebookK).drop("dist2")
    val book = pqBook(fixed, m, codebookK)
    val qs = fixed.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), explode(expr(pqSlices(m))).as("e"))
      .select(col("q_id"), col("e.sub").as("sub"), col("e.fv").as("qv"))
    val lut = qs.join(book, "sub")
      .select(col("q_id"), col("sub"), col("code"),
        expr("aggregate(zip_with(qv, cw, (a, b) -> (a - b) * (a - b)), " +
          "0L, (s, x) -> s + x)").as("qd2"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist2"), col("vec_id"))
    codes.join(broadcast(lut), Seq("sub", "code"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum("qd2").as("adc_dist2"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("rn").as("rank"), col("adc_dist2"))
  }

  /** s15: IVF-PQ search — the two-level production ANN index (IVFADC,
    * Jégou et al. TPAMI'11 §V): a coarse quantizer restricts the search
    * to nProbe cells, and within them candidates are ranked by PQ
    * asymmetric distance, never the raw vectors. This composes s5's
    * coarse assignment with s14's ADC kernel — exactly how FAISS-style
    * engines lay it out.
    *
    * Scale shape: the "inverted list" is the code table keyed by
    * centroid_id — m small ints + a cell id per vector, built once in
    * two corpus scans (coarse assign, code). At query time NOTHING
    * corpus-sized moves: the probe set (nq·nProbe cells) broadcasts,
    * the cell restriction is a broadcast hash join on centroid_id that
    * touches only probed-cell rows, the LUT join is a second broadcast,
    * and the per-(query, vector) reduce is map-side combinable. Cost ≈
    * (probed fraction) × s14's scan, with s14's exact-BIGINT
    * reproducibility. */
  def ivfPqSearch(vecs: DataFrame, nCents: Int, nQueries: Int,
                  nProbe: Int, k: Int, m: Int = 4,
                  codebookK: Int = 4): DataFrame = {
    val base = withFixed(vecs)
    val cents = base.orderBy("vec_id").limit(nCents)
      .select(col("vec_id").as("centroid_id"), col("f").as("fb"),
        col("nrm").as("nb"))
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("f").as("fa"), col("nrm").as("na"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("centroid_id"))
    val probes = broadcast(queries).crossJoin(broadcast(cents))
      .select(col("q_id"), col("centroid_id"), cosCol.as("cos"))
      .withColumn("prn", row_number().over(wProbe))
      .where(col("prn") <= nProbe)
      .select(col("q_id"), col("centroid_id"))
    // the IVF list layout: PQ codes keyed by coarse cell
    val lists = pqAssign(vecs, m, codebookK).drop("dist2")
      .join(assignFixed(vecs, nCents).select(col("vec_id"), col("centroid_id")),
        "vec_id")
    val book = pqBook(base, m, codebookK)
    val lut = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), explode(expr(pqSlices(m))).as("e"))
      .select(col("q_id"), col("e.sub").as("sub"), col("e.fv").as("qv"))
      .join(book, "sub")
      .select(col("q_id"), col("sub"), col("code"),
        expr("aggregate(zip_with(qv, cw, (a, b) -> (a - b) * (a - b)), " +
          "0L, (s, x) -> s + x)").as("qd2"))
    val wRank = Window.partitionBy("q_id")
      .orderBy(col("adc_dist2"), col("vec_id"))
    lists.join(broadcast(probes), Seq("centroid_id"))
      .where(col("vec_id") =!= col("q_id"))
      .join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum("qd2").as("adc_dist2"))
      .withColumn("rn", row_number().over(wRank))
      .where(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("rn").as("rank"), col("adc_dist2"))
  }

  /** s16: IVF recall-vs-probes ladder — measured recall@k of the IVF
    * read path ([[ivfSearch]]) against the brute-force truth
    * ([[cosineTopK]]) for each probe budget. This is the tuning curve an
    * ANN deployment actually publishes ("2 probes = 87% recall at 1/3
    * the scan"), measured in-result — the s6 discipline of carrying the
    * evaluation with the operator instead of asserting it offline.
    *
    * Recall is monotone in nProbe BY CONSTRUCTION (probe sets are
    * nested, and a true neighbor displaced from an in-cell top-k is
    * displaced only by strictly-better true neighbors), so the ladder
    * doubles as a correctness invariant — the spec pins it.
    *
    * Scale shape: the truth join is nq·k rows against nq·k·|probes|
    * rows — bounded; each rung reuses the ivfSearch plan (broadcast
    * probes, corpus never shuffles); the union is plan-level, not a
    * re-scan of anything corpus-sized beyond each rung's own cell
    * restriction. */
  def ivfRecall(vecs: DataFrame, nCents: Int, nQueries: Int,
                maxProbe: Int, k: Int): DataFrame = {
    val truth = cosineTopK(vecs, nQueries, k)
      .select(col("q_id"), col("neighbor_id"))
    // r20 (VERDICT r19 item 4): the rungs used to be maxProbe separate
    // ivfSearch plans, each re-deriving the corpus cell ASSIGNMENT (the
    // one corpus×|cells| cosine pass) — 3 assignment passes for 3 probe
    // depths. Probe sets are nested (rung p probes exactly the cells
    // with probe-rank ≤ p), so ONE candidate pass at maxProbe, with the
    // cell's probe rank `prn` carried through, replays every rung: a
    // candidate scored in cell rank prn participates in rungs
    // prn..maxProbe (a calendar-style bounded explode, factor ≤
    // maxProbe), and the per-rung top-k window reproduces each
    // ivfSearch(p) result set exactly — same centroids, same probe
    // ranking, same tie order. The assignment subtree now appears ONCE
    // in the plan; nothing corpus-scale is checkpointed.
    val assigned = assignFixed(vecs, nCents)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"),
        col("f").as("fb"), col("nrm").as("nb"))
    val base = withFixed(vecs)
    val cents = base.orderBy("vec_id").limit(nCents)
      .select(col("vec_id").as("centroid_id"), col("f").as("fb"),
        col("nrm").as("nb"))
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("f").as("fa"), col("nrm").as("na"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("centroid_id"))
    val probes = broadcast(queries).crossJoin(broadcast(cents))
      .select(col("q_id"), col("centroid_id"), col("fa"), col("na"),
        cosCol.as("cos"))
      .withColumn("prn", row_number().over(wProbe))
      .where(col("prn") <= maxProbe)
      .select(col("q_id"), col("centroid_id"), col("prn"),
        col("fa"), col("na"))
    val wRank = Window.partitionBy("n_probe", "q_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val runs = broadcast(probes).join(assigned, Seq("centroid_id"))
      .where(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), col("prn"),
        cosCol.as("cos"))
      .select(col("q_id"), col("neighbor_id"), col("cos"),
        explode(expr(s"sequence(prn, $maxProbe)")).as("n_probe"))
      .withColumn("rn", row_number().over(wRank))
      .where(col("rn") <= k)
      .select(col("n_probe"), col("q_id"), col("neighbor_id"))
    runs.join(truth, Seq("q_id", "neighbor_id"))
      .groupBy("n_probe")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("n_probe"), col("n_hits"),
        pround(col("n_hits").cast("double") /
          lit((nQueries * k).toDouble), 6).as("recall"))
  }

  /** Per-(label, dim) centroid moments — the shared front for the
    * class-separation censuses (s11/s12): ONE explode pass over the
    * corpus reduces to |labels| × d rows carrying exact integer sums
    * (Σv, Σv², n per cell). Everything downstream (centroid distances,
    * within-class variance) is arithmetic over this bounded table — the
    * corpus is never rescanned and nothing bigger than |labels|×d ever
    * shuffles again. */
  private[operators] def labelMoments(vecs: DataFrame): DataFrame =
    withFixed(vecs)
      .select(col("label"), posexplode(col("f")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(sum("v").cast("long").as("s"),
        sum(col("v") * col("v")).cast("long").as("sq"),
        count(lit(1)).cast("long").as("cnt"))

  /** s11: pairwise centroid distance matrix between labels — the
    * embedding-space class-separation census (how well label regions
    * separate; collapsing pairs flag label noise or near-duplicate
    * classes). Per-dim squared centroid deltas are rounded to fixed
    * scale and summed as DECIMAL (addition-order-independent), distance
    * is one sqrt at the end. The pair join runs on the |labels|×d
    * moments table, not the corpus. */
  def centroidMatrix(vecs: DataFrame): DataFrame = {
    val per = labelMoments(vecs)
    val ca = col("a.s").cast("double") / col("a.cnt").cast("double")
    val cb = col("b.s").cast("double") / col("b.cnt").cast("double")
    val delta = (ca - cb) / lit(100000.0)
    per.as("a").join(per.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        pround(delta * delta, 9).cast(DecimalType(28, 9)).as("t"))
      .groupBy("label_a", "label_b")
      .agg(pround(sqrt(sum(col("t")).cast("double")), 6).as("centroid_dist"))
  }

  /** s12: per-label spread census — class size, total within-class
    * variance (trace of the covariance: Σ_dim E[v²]−E[v]², the
    * compactness side of s11's separation), and centroid norm. All from
    * the same bounded moments table; decimal term sums keep every
    * double partitioning-independent. */
  def labelSpread(vecs: DataFrame): DataFrame = {
    val mean = col("s").cast("double") / col("cnt").cast("double")
    val varTerm = (col("sq").cast("double") / col("cnt").cast("double") -
      mean * mean) / lit(1.0e10)
    val centTerm = (mean / lit(100000.0)) * (mean / lit(100000.0))
    labelMoments(vecs)
      .select(col("label"), col("cnt"),
        pround(varTerm, 9).cast(DecimalType(28, 9)).as("vt"),
        pround(centTerm, 9).cast(DecimalType(28, 9)).as("ct"))
      .groupBy("label")
      .agg(min("cnt").as("n_vecs"),
        pround(sum(col("vt")).cast("double"), 6).as("within_var"),
        pround(sqrt(sum(col("ct")).cast("double")), 6).as("centroid_norm"))
  }

  /** s13: end-to-end IVF search — the production ANN read path that
    * s5 (assign) and s6/s7 (recall monitors) are components of: coarse-
    * assign the corpus once, probe each query's `nProbe` nearest cells,
    * exact-cosine re-rank INSIDE the probed cells only, top-k per query.
    *
    * Scale shape: cell restriction is a broadcast hash join on
    * centroid_id against the tiny (q_id, centroid_id, query-vector)
    * probe table — the corpus never shuffles; rows outside probed cells
    * fall out of the join without being scored. Re-rank cost is
    * |probed cells| / |cells| of brute force (s1), which is the whole
    * point of IVF; the recall price is measured by s6. Window runs per
    * q_id over candidate rows only. */
  def ivfSearch(vecs: DataFrame, nCents: Int, nQueries: Int,
                nProbe: Int, k: Int): DataFrame = {
    val assigned = assignFixed(vecs, nCents)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"),
        col("f").as("fb"), col("nrm").as("nb"))
    val base = withFixed(vecs)
    val cents = base.orderBy("vec_id").limit(nCents)
      .select(col("vec_id").as("centroid_id"), col("f").as("fb"),
        col("nrm").as("nb"))
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("f").as("fa"), col("nrm").as("na"))
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("centroid_id"))
    val probes = broadcast(queries).crossJoin(broadcast(cents))
      .select(col("q_id"), col("centroid_id"), col("fa"), col("na"),
        cosCol.as("cos"))
      .withColumn("prn", row_number().over(wProbe))
      .where(col("prn") <= nProbe)
      .select(col("q_id"), col("centroid_id"), col("fa"), col("na"))
    val wRank = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(assigned, Seq("centroid_id"))
      .where(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), cosCol.as("cos"))
      .withColumn("rn", row_number().over(wRank))
      .where(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rn").as("rank"),
        pround(col("cos"), 6).as("cos_sim"))
  }

  /** s17: reciprocal-rank-fusion hybrid retrieval (Cormack/Clarke/
    * Buettcher SIGIR'09) — merge two retrieval signals' top-k lists by
    * score = Σ 1/(60 + rank), the standard hybrid-search combiner
    * (dense + sparse, or here cosine + inner-product, which disagree
    * exactly where corpus norms vary). RRF needs only RANKS, so the
    * fusion is scale-free: no score normalization across signals.
    *
    * Scale shape: fusion consumes two ALREADY k-bounded lists
    * (nQueries×kIn rows each — driver-safe whatever the corpus size),
    * full-outer-joined on (query, neighbor); a missing rank contributes
    * 0, the top-kIn convention. The heavy lifting stays inside the
    * component retrievers (s1's broadcast scan, s10's norm-pruned MIPS);
    * the combiner itself is a bounded join plus one tiny window. */
  def rrfFusion(vecs: DataFrame, nQueries: Int = 5, kIn: Int = 10,
                kOut: Int = 5): DataFrame = {
    val cosR = cosineTopK(vecs, nQueries, kIn)
      .select(col("q_id"), col("neighbor_id"), col("rank").as("r_cos"))
    val ipR = mipsTopK(vecs, nQueries, kIn)
      .select(col("q_id"), col("neighbor_id"), col("rank").as("r_ip"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    cosR.join(ipR, Seq("q_id", "neighbor_id"), "full_outer")
      .withColumn("score", expr(rrfScoreExpr))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= kOut)
      .select(col("q_id"), col("neighbor_id"), col("rn").as("rank"),
        pround(col("score"), 9).as("rrf_score"))
  }

  // RRF score tree, shared verbatim with the oracle: ranks are exact
  // ints, 1/(60+r) is one IEEE division — identical on both engines.
  private[operators] val rrfScoreExpr =
    "(coalesce(1.0 / (60.0 + cast(r_cos as double)), 0.0) + " +
      "coalesce(1.0 / (60.0 + cast(r_ip as double)), 0.0))"

  /** s18: Matryoshka truncation recall ladder (Kusupati et al.
    * NeurIPS'22) — retrieval recall@k when only the first m embedding
    * dimensions are used, for a ladder of m. MRL-trained models front-
    * load information so prefixes stay usable; this census measures
    * exactly the storage/recall trade a 100 TB vector store would bank
    * on (half the dims = half the scan bytes and twice the cache hits).
    *
    * Scale shape: each rung reuses [[cosineTopK]]'s broadcast-query
    * scan on a SLICED copy of the corpus (narrower vectors, same plan);
    * recall joins two nQueries·k-bounded lists on (query, neighbor) and
    * reduces to |dims| rows — nothing corpus-sized ever shuffles. The
    * full-width rung doubles as a built-in sanity bound (recall = 1). */
  def mrlRecall(vecs: DataFrame, nQueries: Int, k: Int,
                dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val full = cosineTopK(vecs, nQueries, k)
      .select(col("q_id"), col("neighbor_id"))
    val perDim = dims.map { m =>
      cosineTopK(vecs.withColumn("embedding",
        slice(col("embedding"), 1, m)), nQueries, k)
        .select(lit(m).as("dim"), col("q_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    perDim.join(full, Seq("q_id", "neighbor_id"))
      .groupBy("dim").agg(count(lit(1)).as("hits"))
      .select(col("dim"), col("hits"),
        pround(col("hits").cast("double") /
          lit((nQueries * k).toDouble), 6).as("recall"))
      .orderBy("dim")
  }

  /** s19: pairwise covariance/correlation census over the leading
    * embedding dimensions — the feature-health check (dead, duplicated,
    * or highly-correlated dimensions) run before trusting an embedding
    * space for dedup or retrieval; the bivariate complement to s9's
    * per-dimension univariate census.
    *
    * Scale shape: ONE projection explodes each vector into its
    * C(nDims,2) leading-dim pairs (a generator, not a join — the
    * self-join alternative would shuffle the corpus on vec_id); the
    * pair moments are a single combinable DECIMAL(38,0) aggregate to a
    * C(nDims,2)-row table, and covariance/correlation are shared-text
    * IEEE trees over those exact integers. */
  def dimCovariance(vecs: DataFrame, nDims: Int = 8): DataFrame = {
    val dec = DecimalType(38, 0)
    val pairs = vecs.select(expr(fixedExpr).as("f"))
      .select(expr(
        // element_at is 1-based (Spark's bracket indexing is 0-based,
        // DuckDB's is 1-based — element_at matches the oracle)
        s"""inline(flatten(transform(sequence(1, ${nDims - 1}), i ->
           |  transform(sequence(i + 1, $nDims), j ->
           |    struct(cast(i as bigint) as i, cast(j as bigint) as j,
           |           element_at(f, i) as xi, element_at(f, j) as xj)))))""".stripMargin))
    pairs.groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum(col("xi").cast(dec)).as("si"), sum(col("xj").cast(dec)).as("sj"),
        sum(col("xi").cast(dec) * col("xj").cast(dec)).as("sij"),
        sum(col("xi").cast(dec) * col("xi").cast(dec)).as("sii"),
        sum(col("xj").cast(dec) * col("xj").cast(dec)).as("sjj"))
      .select(col("i"), col("j"), col("n"),
        pround(expr(dimCovExpr), 9).as("cov"),
        pround(expr(dimCorrExpr), 9).as("corr"))
      .orderBy("i", "j")
  }

  /** s20: nDCG@k retrieval-quality census — cosine top-k judged by
    * label agreement (binary relevance), the standard position-
    * discounted IR metric; the graded companion to s6/s16/s18's recall
    * ladders (recall counts hits, nDCG also rewards ranking them high).
    *
    * Engine parity: the rank discounts 1/log2(r+1) are baked in as a
    * 12-dp DECIMAL literal table — libm's log2 is NOT guaranteed
    * bit-identical across engines, a shared literal table is. DCG and
    * ideal-DCG are exact decimal sums over that table (ideal = the
    * cumulative weight at R = min(k, #relevant-in-corpus)); the one
    * division is a shared-text tree, null when a query's label class
    * has no other member.
    *
    * Scale shape: ranking cost is the component retriever's; judging
    * joins the nQueries·k-bounded list against the label projection
    * (broadcast the LIST side, never the corpus) plus a |labels|-row
    * class-size aggregate. */
  def ndcgAtK(vecs: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val wdf = broadcast(ndcgWeights.take(k).toDF("r", "w")
      .select(col("r"), col("w").cast(DecimalType(14, 12)).as("w"))
      .withColumn("cumw", sum("w").over(
        Window.orderBy("r").rowsBetween(Window.unboundedPreceding,
          Window.currentRow))))
    val lab = vecs.select(col("vec_id"), col("label"))
    val classSize = lab.groupBy("label").agg(count(lit(1)).as("csize"))
    val ranked = cosineTopK(vecs, nQueries, k)
      .select(col("q_id"), col("neighbor_id"), col("rank"))
    val judged = broadcast(ranked)
      .join(lab.select(col("vec_id").as("q_id"), col("label").as("ql")), "q_id")
      .join(lab.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl")), "neighbor_id")
      .join(broadcast(wdf.select(col("r").as("rank"), col("w"))), "rank")
    val dcg = judged.groupBy("q_id", "ql")
      .agg(sum(when(col("nl") === col("ql"), col("w"))
        .otherwise(lit(0).cast(DecimalType(14, 12)))).as("dcg"),
        sum(when(col("nl") === col("ql"), 1L).otherwise(0L)).as("hits"))
    dcg.join(broadcast(classSize.select(col("label").as("ql"),
        col("csize"))), "ql")
      .withColumn("rr", least(lit(k), col("csize") - 1))
      .join(broadcast(wdf.select(col("r").as("rr"), col("cumw"))), Seq("rr"), "left")
      .select(col("q_id"), col("hits"), (col("csize") - 1).as("n_relevant"),
        pround(expr(ndcgExpr), 9).as("ndcg"))
      .orderBy("q_id")
  }

  // 1/log2(r+1) at 12 dp, r = 1..10 — the shared literal discount table.
  private val ndcgWeights: Seq[(Int, BigDecimal)] = Seq(
    1 -> BigDecimal("1.000000000000"), 2 -> BigDecimal("0.630929753571"),
    3 -> BigDecimal("0.500000000000"), 4 -> BigDecimal("0.430676558073"),
    5 -> BigDecimal("0.386852807235"), 6 -> BigDecimal("0.356207187108"),
    7 -> BigDecimal("0.333333333333"), 8 -> BigDecimal("0.315464876786"),
    9 -> BigDecimal("0.301029995664"), 10 -> BigDecimal("0.289064826318"))

  // SQL VALUES mirror of the weight table (r, w, cumulative w).
  private[operators] val ndcgWeightsSql: String =
    ndcgWeights.scanLeft((0, BigDecimal(0), BigDecimal(0))) {
      case ((_, _, acc), (r, w)) => (r, w, acc + w)
    }.tail.map { case (r, w, c) => s"($r, $w, $c)" }.mkString(", ")

  private[operators] val ndcgExpr =
    "(case when rr < 1 then cast(null as double) else " +
      "cast(dcg as double) / cast(cumw as double) end)"

  // Covariance in ORIGINAL float units (fixed-point is 1e5 per axis ->
  // divide the sample covariance by 1e10); correlation is unitless.
  // Shared verbatim with the oracle; constant-dim corpora -> null corr.
  private[operators] val dimCovExpr =
    "(((cast(sij as double) - cast(si as double) * cast(sj as double) / cast(n as double)) / " +
      "(cast(n as double) - 1.0)) / 10000000000.0)"
  private val dimCorrDen =
    "(sqrt(cast(n as double) * cast(sii as double) - cast(si as double) * cast(si as double)) * " +
      "sqrt(cast(n as double) * cast(sjj as double) - cast(sj as double) * cast(sj as double)))"
  private[operators] val dimCorrExpr =
    s"(case when $dimCorrDen = 0.0 then cast(null as double) else " +
      s"(cast(n as double) * cast(sij as double) - cast(si as double) * cast(sj as double)) / " +
      s"$dimCorrDen end)"

  /** s21: coarse-assignment margin census — the silhouette-style quality
    * number for the IVF/SemDeDup partition: per vector, how decisively
    * does it belong to its cell? margin = (cos₁ − cos₂) / (1 − worse
    * cosine), where cos₁/cos₂ are the best and runner-up centroid
    * cosines (the silhouette (b−a)/max(a,b) under cosine distance, with
    * own-cell distance taken to the centroid). Cells full of near-zero
    * margins are boundary soup — splitting or re-seeding them is the
    * standard remedy before trusting cluster-local dedup (g10) or
    * probe-limited search (s13).
    *
    * Scale shape: identical to s5 — centroids broadcast (bounded knob),
    * ONE map-side pass ranks each vector's top-2 centroids, and the
    * census reduces to |centroids| rows. Per-vector margins are
    * 6-dp-quantized then decimal-summed (order-free), so the cell means
    * are engine-exact. */
  def assignMarginCensus(vecs: DataFrame, nCents: Int): DataFrame = {
    val base = withFixed(vecs)
    val cents = base.orderBy("vec_id").limit(nCents)
      .select(col("vec_id").as("centroid_id"), col("f").as("fb"),
        col("nrm").as("nb"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("centroid_id"))
    val per = base.select(col("vec_id"), col("f").as("fa"), col("nrm").as("na"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"), cosCol.as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .groupBy("vec_id")
      .agg(max(when(col("rn") === 1, col("centroid_id"))).as("centroid_id"),
        max(when(col("rn") === 1, col("cos"))).as("cos1"),
        max(when(col("rn") === 2, col("cos"))).as("cos2"))
      .select(col("centroid_id"), pround(expr(marginExpr), 6).as("marg"))
    per.groupBy("centroid_id")
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("marg").cast(DecimalType(28, 6))).cast("double") /
          count(lit(1))).as("mean_margin"),
        min("marg").as("min_margin"))
      .orderBy("centroid_id")
  }

  // Silhouette-form margin under cosine distance: a = 1 - cos1 (own
  // cell), b = 1 - cos2 (runner-up); (b - a)/max(a,b) with cos1 >= cos2
  // by ranking. A vector identical to both centroids has no defined
  // margin: guarded null, not ANSI divide-by-zero.
  private[operators] val marginExpr =
    "(case when greatest(1.0 - cos1, 1.0 - cos2) = 0.0 then cast(null as double) " +
      "else (cos1 - cos2) / greatest(1.0 - cos1, 1.0 - cos2) end)"

  /** s23: embedding-norm census per label — the unnormalized-embedding
    * detector: cosine retrieval assumes ‖x‖ ≈ const, and a label whose
    * norm distribution drifts (a fine-tuned tower, a truncated batch, a
    * zero-vector bug) silently breaks MIPS/cosine agreement (the exact
    * failure s10's norm prune exploits). Reports min/max exactly and
    * p50/p95 off squared-norm BINS.
    *
    * Scale shape: the exact integer squared norm already exists in the
    * fixed-point pass; everything reduces to (label, norm-bin) counts —
    * windows see bins (0.01 squared-norm units), never vectors. */
  /** s24: pair-cosine calibration census — the histogram a pipeline
    * reads BEFORE choosing g5/g10's cosine threshold. Pairs are the
    * deterministic consecutive-id pairing (vec 2k vs 2k+1): an EQUALITY
    * join on the partner id, corpus-linear (n/2 pairs), no sampling RNG
    * and no all-pairs product. Cosine is the exact integer dot over
    * correctly-rounded sqrt (IEEE-exact in both engines); bins are
    * floor(cos·20) (0.05 wide), and same-label counts per bin give the
    * separability read the threshold choice needs. Output ≤ 41 rows. */
  def pairSimCensus(vecs: DataFrame): DataFrame = {
    val base = withFixed(vecs)
    val a = base.where(expr("vec_id % 2 = 0"))
      .select((col("vec_id") + 1).as("pk"), col("label").as("la"),
        col("f").as("fa"), col("nrm").as("na"))
    val b = base.where(expr("vec_id % 2 = 1"))
      .select(col("vec_id").as("pk"), col("label").as("lb"),
        col("f").as("fb"), col("nrm").as("nb"))
    a.join(b, Seq("pk"))
      .select(
        floor(cosCol * 20.0).cast("bigint").as("cos_bin"),
        when(col("la") === col("lb"), 1L).otherwise(0L).as("same"))
      .groupBy("cos_bin")
      .agg(count(lit(1)).as("n_pairs"), sum("same").as("n_same_label"))
      .orderBy("cos_bin")
  }

  /** s25: IVF cell-balance census — the hot-cell read before deploying
    * s13's IVF search: if max_cell ≫ n/k, probing the hot cell costs a
    * near-full scan and the index is mis-trained. One assignment pass
    * (broadcast centroids), one k-row rollup, one census row with the
    * imbalance factor max/(n/k). */
  def ivfBalance(vecs: DataFrame, nCents: Int = 6): DataFrame = {
    val sizes = ivfAssign(vecs, nCents)
      .groupBy("centroid_id").agg(count(lit(1)).as("c"))
    sizes.agg(count(lit(1)).as("n_cells"), sum("c").as("n_vectors"),
        max("c").as("max_cell"), min("c").as("min_cell"))
      .select(col("n_cells"), col("n_vectors"), col("min_cell"),
        col("max_cell"),
        pround(col("max_cell").cast("double") * col("n_cells").cast("double")
          / col("n_vectors").cast("double"), 6).as("imbalance"))
  }

  def normCensus(vecs: DataFrame): DataFrame = {
    val b = withFixed(vecs)
      .select(col("label"), col("nrm"), expr("nrm div 100000000").as("nb"))
    val bins = b.groupBy("label", "nb").agg(count(lit(1)).as("cnt"))
    val tot = b.groupBy("label").agg(count(lit(1)).as("n"),
      min("nrm").as("min_nrm"), max("nrm").as("max_nrm"))
    val w = Window.partitionBy("label").orderBy("nb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val q = bins.withColumn("cum", sum("cnt").over(w))
      .join(broadcast(tot.select(col("label"), col("n"))), "label")
      .groupBy("label")
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("nb"))).as("b50"),
        min(when(col("cum") >= expr("(19 * n + 19) div 20"), col("nb"))).as("b95"))
    tot.join(broadcast(q), "label")
      .select(col("label"), col("n"),
        pround(col("min_nrm").cast("double") / 1e10, 6).as("min_sq_norm"),
        pround(col("max_nrm").cast("double") / 1e10, 6).as("max_sq_norm"),
        (col("b50").cast("double") / 100.0).as("p50_sq_norm"),
        (col("b95").cast("double") / 100.0).as("p95_sq_norm"))
      .orderBy("label")
  }

  /** s22: one exact PCA power-iteration step — the dominant-direction
    * probe (is the embedding space collapsing onto one axis?) that
    * complements s19's leading-dim covariance census with a WHOLE-SPACE
    * answer. Applies the centered covariance C to the all-ones start
    * vector u₀ and reports the max-normalized direction C·u₀.
    *
    * The trick that keeps it one pass with NO d² expansion:
    * (C·u₀)_i ∝ n·Σ_t x_i(t)·T(t) − S_i·ΣT, where T(t) is vector t's
    * coordinate sum — so a per-vector T column plus a posexplode gives
    * every Σ_j C_ij from d accumulators instead of d² pair moments.
    * All sums are exact DECIMAL integers; normalization is by max|·|
    * (order-independent, overflow-free), not the L2 norm, so no
    * floating accumulation anywhere. */
  def pcaPowerStep(vecs: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val withT = withFixed(vecs).select(col("vec_id"), col("f"),
      expr("aggregate(f, 0L, (acc, x) -> acc + x)").as("t"))
    val mo = withT.select(col("t"), posexplode(col("f")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(sum(col("x").cast(dec)).as("si"),
        sum(col("x").cast(dec) * col("t").cast(dec)).as("sit"))
    val tot = withT.agg(count(lit(1)).cast("long").as("n"),
      sum(col("t").cast(dec)).as("st"))
    val raw = mo.crossJoin(broadcast(tot))
      .select(col("dim"),
        (col("n").cast(dec) * col("sit") - col("si") * col("st")).as("r"))
    val mx = raw.agg(max(abs(col("r"))).as("m"))
    raw.crossJoin(broadcast(mx))
      .select(col("dim"),
        pround(col("r").cast("double") / col("m").cast("double"), 9)
          .as("loading"))
      .orderBy("dim")
  }

  /** s30: PQ code-population balance — per subspace, how evenly the
    * corpus spreads over the codewords (a dead or overloaded codeword
    * wastes quantization bits exactly like a hot IVF cell wastes probe
    * budget — this is s25's read for the PQ codebook, and with s27 it
    * completes the codebook health panel: distortion says codewords
    * sit in the wrong PLACE, imbalance says they split mass in the
    * wrong PROPORTION). One m·k-row rollup of the shared s8
    * assignment; imbalance = max/(n/k). */
  def pqBalance(vecs: DataFrame, m: Int = 4, k: Int = 4): DataFrame =
    pqAssign(vecs, m, k)
      .groupBy("sub", "code").agg(count(lit(1)).as("c"))
      .groupBy("sub")
      .agg(count(lit(1)).as("n_live_codes"), sum("c").as("n_vecs"),
        min("c").as("min_code"), max("c").as("max_code"))
      .select(col("sub"), col("n_live_codes"), col("n_vecs"),
        col("min_code"), col("max_code"),
        pround(col("max_code").cast("double") * lit(k.toDouble)
          / col("n_vecs").cast("double"), 6).as("imbalance"))
      .orderBy("sub")

  /** s28: filtered-search census — the vector-DB "filtered ANN" gotcha,
    * measured: PRE-filter search restricts the corpus to the predicate
    * and then ranks (always returns k); POST-filter ranks the full
    * corpus and then filters the top-k (cheap, but silently starves —
    * returns ≤ k and, under selective predicates, far fewer). The
    * predicate is label parity (≈50% selectivity). Because a
    * predicate-passing row's filtered rank is never worse than its
    * global rank, the post-filter survivors are a SUBSET of the
    * pre-filter top-k, so n_post/n_pre IS the post-filter recall.
    * One broadcast query join scores the corpus once; both ranks are
    * windows over the same scored frame. */
  def filteredTopK(vecs: DataFrame, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val base = withFixed(vecs)
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("f").as("fa"), col("nrm").as("na"))
    val corpus = base.select(col("vec_id").as("neighbor_id"),
      (col("label") % 2 === 0).as("keep"), col("f").as("fb"), col("nrm").as("nb"))
    val scored = broadcast(queries)
      .join(corpus, col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), col("keep"),
        cosCol.as("cos"))
    val wAll = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val wKeep = Window.partitionBy("q_id", "keep")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rn_all", row_number().over(wAll))
      .withColumn("rn_keep", row_number().over(wKeep))
      .groupBy("q_id")
      .agg(
        sum(when(col("keep") && col("rn_keep") <= k, 1L).otherwise(0L))
          .as("n_pre"),
        sum(when(col("keep") && col("rn_all") <= k, 1L).otherwise(0L))
          .as("n_post"))
      .select(col("q_id"), col("n_pre"), col("n_post"),
        // degenerate guard: a query with ZERO predicate-passing
        // neighbors must yield null, not Spark's silent non-ANSI
        // divide-by-zero null vs DuckDB's NaN — the repo's standard
        // case-when convention, mirrored in the oracle
        when(col("n_pre") === 0, lit(null).cast("double"))
          .otherwise(pround(col("n_post").cast("double")
            / col("n_pre").cast("double"), 6))
          .as("post_recall"))
      .orderBy("q_id")
  }

  /** s27: PQ codebook distortion census — per subspace, how much
    * squared error does quantizing to the codebook leave? The
    * "is this codebook good enough" pre-flight for s14's ADC scan
    * (distortion is exactly the noise floor ADC distance estimates
    * carry): a subspace whose mean distortion dwarfs the others needs
    * more codewords or a rotation. One |m·n|-row rollup of [[pqAssign]]
    * — the dist2 column is already the exact fixed-point quantization
    * error, so the census adds one combinable groupBy, nothing else. */
  def pqDistortion(vecs: DataFrame, m: Int = 4, k: Int = 4): DataFrame =
    pqAssign(vecs, m, k)
      .groupBy("sub")
      .agg(count(lit(1)).as("n_vecs"), sum("dist2").as("sum_dist2"),
        max("dist2").as("max_dist2"))
      .select(col("sub"), col("n_vecs"), col("sum_dist2"), col("max_dist2"),
        pround(col("sum_dist2").cast("double") / col("n_vecs").cast("double"), 6)
          .as("mean_dist2"))
      .orderBy("sub")

  /** s26: one linear-SVM (hinge-loss) subgradient step — the
    * quality-classifier training primitive a curation pipeline runs at
    * full-corpus scale (fastText-style filters are linear models over
    * document features). Pegasos subgradient of
    * λ/2·‖w‖² + mean hinge(y·⟨w,x⟩): g_j = λ·w_j − (1/n)·Σ_{active}
    * y_i·x_ij, active ⟺ y_i·⟨w,x_i⟩ < 1.
    *
    * Determinism: the hinge is piecewise LINEAR — no sigmoid, no exp —
    * so with fixed-point vectors the entire active-set decision is an
    * exact integer compare (y·z < 1e5 where z = ⟨f, w⟩ is an exact long
    * dot against the integer weight literal), and the per-dim numerator
    * Σ y·f_j is an exact long sum (order-free). Only the final 64-row
    * projection divides into doubles, on a fixed IEEE tree.
    *
    * Design for 100 TB: one scan — margin + active filter + posexplode
    * to 64 accumulators with map-side combine; the weight vector rides
    * as a literal (zero-byte "broadcast"), the dim spine and row count
    * are 64-row/1-row broadcasts. This is exactly one distributed-SGD
    * epoch step; a real trainer loops it with [[Materialize]] like
    * dedupClusters. Binary task: label < 5 vs rest. */
  def svmStep(vecs: DataFrame, lambda: Double = 0.01): DataFrame = {
    val s = vecs.sparkSession
    val w = planeWeights(7, 1)(0) // 64 ints in [-9,9]; family 7 is not an LSH table
    val wLit = s"array(${w.mkString("L,")}L)"
    val active = vecs
      .selectExpr("label", s"$fixedExpr as f")
      .select(col("f"),
        expr("(case when label < 5 then 1L else -1L end)").as("y"),
        fpDot(col("f"), expr(s"slice($wLit, 1, size(f))")).as("z"))
      .where(col("y") * col("z") < lit(100000L))
    val perDim = active
      .select(col("y"), posexplode(col("f")).as(Seq("dim", "x")))
      .groupBy("dim").agg(sum(col("y") * col("x")).as("syf"))
    val spine = s.range(1)
      .selectExpr(s"posexplode(array(${w.mkString(",")})) as (dim, w)")
    val nn = vecs.agg(count(lit(1)).as("n"))
    spine.join(perDim, Seq("dim"), "left").crossJoin(broadcast(nn))
      .select(col("dim"), col("w").cast("long").as("w"),
        coalesce(col("syf"), lit(0L)).as("sum_yf"),
        pround(expr(s"$lambda * cast(w as double) - " +
          "cast(coalesce(syf, 0L) as double) / (cast(n as double) * 100000.0)"), 9)
          .as("grad"))
      .orderBy("dim")
  }
}

object SimilarityQueries {
  import Similarity._
  private def vecs(s: SparkSession, d: String) = Tables.embeddings(s, d)

  private[operators] val fixedSqlCte =
    """f AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 100000.0) AS BIGINT)) AS f
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, f,
      |         CAST(list_sum(list_transform(f, x -> x * x)) AS BIGINT) AS nrm
      |  FROM f)""".stripMargin

  /** SQL fragment: the sign-LSH bucket id of table `table` over a
    * fixed-point column `f` — generated from the SAME
    * [[Similarity.planeWeights]] literals the Spark plan embeds, so the
    * two engines agree by construction. */
  private[operators] def bucketSqlDuck(planes: Int, table: Int): String =
    Similarity.planeWeights(table, planes).map { w =>
      s"""(CASE WHEN CAST(list_sum(list_transform(range(1, len(f) + 1),
         |   i -> f[i] * ([${w.mkString(",")}])[i])) AS BIGINT) >= 0
         |   THEN '1' ELSE '0' END)""".stripMargin
    }.mkString(" || ")

  /** The single-table 4-plane bucket id (s2/s3/s6). */
  private[operators] val bucketSqlExpr = bucketSqlDuck(4, 0)

  /** The PQ assignment CTE chain (seeds → codebook → subvector pieces →
    * exact distances → rank-1 pick) — shared by s8 and s27 so the
    * assignment the distortion census rolls up cannot drift from the
    * assignment query itself. */
  private[operators] val pqAssignSqlCtes =
    """seeds AS (SELECT vec_id, f FROM n ORDER BY vec_id LIMIT 4),
      |book AS (
      |  SELECT si AS sub, vec_id AS code,
      |         f[si * 16 + 1 : (si + 1) * 16] AS cw
      |  FROM seeds, (SELECT unnest(range(0, 4)) AS si)),
      |pieces AS (
      |  SELECT vec_id, si AS sub,
      |         f[si * 16 + 1 : (si + 1) * 16] AS fv
      |  FROM n, (SELECT unnest(range(0, 4)) AS si)),
      |dists AS (
      |  SELECT p.vec_id, p.sub, b.code,
      |         CAST(list_sum(list_transform(range(1, 17),
      |           i -> (p.fv[i] - b.cw[i]) * (p.fv[i] - b.cw[i])))
      |           AS BIGINT) AS dist2
      |  FROM pieces p JOIN book b ON p.sub = b.sub),
      |r AS (
      |  SELECT vec_id, sub, code, dist2,
      |         row_number() OVER (PARTITION BY vec_id, sub
      |           ORDER BY dist2, code) AS rn
      |  FROM dists)""".stripMargin

  /** SQL fragment: exact pair cosine between rows a/c of the `n` CTE. */
  private[operators] def pairCosSql(a: String, b: String) =
    s"""CAST(CAST(list_sum(list_transform(range(1, len($a.f) + 1),
       |     i -> $a.f[i] * $b.f[i])) AS BIGINT) AS DOUBLE)
       |  / (sqrt(CAST($a.nrm AS DOUBLE)) * sqrt(CAST($b.nrm AS DOUBLE)))""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("s5_ivf_assign",
      (s, d) => ivfAssign(vecs(s, d), 6).orderBy("vec_id"),
      Some(s"""WITH $fixedSqlCte,
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, c.centroid_id,
              |         ${pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, centroid_id,
              |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p)
              |SELECT vec_id, centroid_id FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),
      doc = "IVF coarse quantization: max-cosine centroid assignment (broadcast centroids)"),

    Q("s1_cosine_topk",
      (s, d) => cosineTopK(vecs(s, d), 5, 5).orderBy("q_id", "rank"),
      Some(s"""WITH $fixedSqlCte,
              |p AS (
              |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
              |         CAST(CAST(list_sum(list_transform(range(1, len(a.f) + 1),
              |                i -> a.f[i] * b.f[i])) AS BIGINT) AS DOUBLE)
              |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
              |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
              |  WHERE a.vec_id < 5),
              |r AS (
              |  SELECT q_id, neighbor_id, cos,
              |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
              |  FROM p)
              |SELECT q_id, neighbor_id, rn AS rank,
              |       floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
              |FROM r WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin),
      doc = "brute-force cosine top-k, fixed-point exact dot products"),

    Q("s10_mips_topk",
      (s, d) => mipsTopK(vecs(s, d), 5, 5).orderBy("q_id", "rank"),
      // the oracle is the NAIVE full MIPS join — matching it proves the
      // Cauchy-Schwarz norm prune loses no qualifying neighbor
      Some(s"""WITH $fixedSqlCte,
              |p AS (
              |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
              |         CAST(list_sum(list_transform(range(1, len(a.f) + 1),
              |                i -> a.f[i] * b.f[i])) AS BIGINT) AS ip
              |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
              |  WHERE a.vec_id < 5),
              |r AS (
              |  SELECT q_id, neighbor_id, ip,
              |         row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, neighbor_id) AS rn
              |  FROM p)
              |SELECT q_id, neighbor_id, rn AS rank,
              |       floor(CAST(ip AS DOUBLE) / 10000000000.0 * 1000000.0 + 0.5)
              |         / 1000000.0 AS inner_product
              |FROM r WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin),
      doc = "exact MIPS top-k with Cauchy-Schwarz norm pruning: kth-best " +
        "ip against the top-norm sample lower-bounds the answer, " +
        "na*nb >= lb^2 (Decimal(38,0), exact) is the lossless survivor " +
        "test; oracle is the naive full join"),

    Q("s2_lsh_buckets",
      (s, d) => lshBuckets(vecs(s, d), 4).orderBy("vec_id"),
      Some(s"""WITH $fixedSqlCte,
              |b AS (
              |  SELECT vec_id,
              |         $bucketSqlExpr AS bucket
              |  FROM n)
              |SELECT vec_id, bucket FROM b ORDER BY vec_id""".stripMargin),
      doc = "sign-LSH bucketing with deterministic integer hyperplanes (scale path)"),

    Q("s3_bucket_stats",
      (s, d) => lshBuckets(vecs(s, d), 4)
        .groupBy("bucket").agg(count(lit(1)).as("n_vectors"))
        .orderBy("bucket"),
      Some(s"""WITH $fixedSqlCte,
              |b AS (
              |  SELECT vec_id,
              |         $bucketSqlExpr AS bucket
              |  FROM n)
              |SELECT bucket, count(*) AS n_vectors FROM b
              |GROUP BY bucket ORDER BY bucket""".stripMargin),
      doc = "LSH bucket occupancy histogram"),

    Q("s6_ann_recall",
      (s, d) => annRecall(vecs(s, d), 4, 10, 3).drop("n_cand").orderBy("q_id"),
      Some(s"""WITH $fixedSqlCte,
              |ex AS (
              |  SELECT q_id, neighbor_id FROM (
              |    SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
              |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
              |             ${pairCosSql("a", "b")} DESC, b.vec_id) AS rn
              |    FROM n a JOIN n b ON b.vec_id <> a.vec_id
              |    WHERE a.vec_id < 10)
              |  WHERE rn <= 3),
              |bk AS (SELECT vec_id, $bucketSqlExpr AS bucket FROM n),
              |nb AS (SELECT n.vec_id, n.f, n.nrm, bk.bucket
              |       FROM n JOIN bk ON n.vec_id = bk.vec_id),
              |ap AS (
              |  SELECT q_id, neighbor_id FROM (
              |    SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
              |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
              |             ${pairCosSql("a", "b")} DESC, b.vec_id) AS rn
              |    FROM nb a JOIN nb b
              |      ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
              |    WHERE a.vec_id < 10)
              |  WHERE rn <= 3)
              |SELECT ex.q_id,
              |       CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
              |       floor(CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
              |             / 3.0 * 1000000.0 + 0.5) / 1000000.0 AS recall
              |FROM ex LEFT JOIN ap
              |  ON ex.q_id = ap.q_id AND ex.neighbor_id = ap.neighbor_id
              |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin),
      doc = "ANN recall@k: LSH-bucket-restricted top-k vs exact brute force " +
        "per probe query — the approximation-quality monitor"),

    Q("s7_ann_multiprobe",
      (s, d) => annRecall(vecs(s, d), 5, 10, 3, hamming = 1, tables = 4)
        .orderBy("q_id"),
      Some(s"""WITH $fixedSqlCte,
              |bk AS (
              |  ${(0 until 4).map(t =>
                  s"SELECT vec_id, $t AS tbl, ${bucketSqlDuck(5, t)} AS bucket FROM n")
                  .mkString("\n  UNION ALL\n  ")}),
              |ex AS (
              |  SELECT q_id, neighbor_id FROM (
              |    SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
              |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
              |             ${pairCosSql("a", "b")} DESC, b.vec_id) AS rn
              |    FROM n a JOIN n b ON b.vec_id <> a.vec_id
              |    WHERE a.vec_id < 10)
              |  WHERE rn <= 3),
              |pr AS (
              |  SELECT vec_id AS q_id, tbl,
              |         unnest([bucket] || list_transform(range(1, 6),
              |           i -> substr(bucket, 1, i - 1)
              |                || (CASE WHEN substr(bucket, i, 1) = '1'
              |                    THEN '0' ELSE '1' END)
              |                || substr(bucket, i + 1, 5 - i))) AS probe
              |  FROM bk WHERE vec_id < 10),
              |cand AS (
              |  SELECT DISTINCT pr.q_id, c.vec_id AS neighbor_id
              |  FROM pr JOIN bk c
              |    ON c.tbl = pr.tbl AND c.bucket = pr.probe AND c.vec_id <> pr.q_id),
              |cd AS (
              |  SELECT cand.q_id, cand.neighbor_id, ${pairCosSql("a", "b")} AS cos
              |  FROM cand
              |  JOIN n a ON a.vec_id = cand.q_id
              |  JOIN n b ON b.vec_id = cand.neighbor_id),
              |nc AS (
              |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand
              |  FROM cd GROUP BY q_id),
              |ap AS (
              |  SELECT q_id, neighbor_id FROM (
              |    SELECT q_id, neighbor_id,
              |           row_number() OVER (PARTITION BY q_id
              |             ORDER BY cos DESC, neighbor_id) AS rn
              |    FROM cd)
              |  WHERE rn <= 3),
              |hits AS (
              |  SELECT ex.q_id,
              |         CAST(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
              |  FROM ex LEFT JOIN ap
              |    ON ex.q_id = ap.q_id AND ex.neighbor_id = ap.neighbor_id
              |  GROUP BY ex.q_id)
              |SELECT h.q_id, CAST(COALESCE(nc.n_cand, 0) AS BIGINT) AS n_cand,
              |       h.n_hits,
              |       floor(CAST(h.n_hits AS DOUBLE) / 3.0 * 1000000.0 + 0.5) / 1000000.0 AS recall
              |FROM hits h LEFT JOIN nc ON h.q_id = nc.q_id
              |ORDER BY h.q_id""".stripMargin),
      doc = "multi-table multi-probe ANN recall@k: 4 independent plane " +
        "families unioned, Hamming-1 neighbor buckets probed on the " +
        "(broadcast) query side — the two recall levers at a measured, " +
        "tunable candidate fraction (never all-pairs); per-query " +
        "candidate count is in the result"),

    Q("s4_knn_label_vote",
      (s, d) => knnLabelVote(vecs(s, d), 20, 5).orderBy("q_id"),
      Some(s"""WITH $fixedSqlCte,
              |p AS (
              |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
              |         CAST(CAST(list_sum(list_transform(range(1, len(a.f) + 1),
              |                i -> a.f[i] * b.f[i])) AS BIGINT) AS DOUBLE)
              |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
              |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
              |  WHERE a.vec_id < 20),
              |r AS (
              |  SELECT q_id, neighbor_id,
              |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
              |  FROM p),
              |v AS (
              |  SELECT q_id, e.label, count(*) AS votes
              |  FROM r JOIN embeddings e ON e.vec_id = r.neighbor_id
              |  WHERE rn <= 5 GROUP BY q_id, e.label),
              |rk AS (
              |  SELECT q_id, label, votes,
              |         row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS rk
              |  FROM v)
              |SELECT q_id, label AS pred_label, votes FROM rk
              |WHERE rk = 1 ORDER BY q_id""".stripMargin),
      doc = "k-NN majority-label vote over cosine top-k"),

    Q("g10_semdedup",
      (s, d) => semDedup(vecs(s, d), 6, 0.40).orderBy("vec_id"),
      Some(s"""WITH $fixedSqlCte,
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, c.centroid_id,
              |         ${pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, centroid_id,
              |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p),
              |asg AS (
              |  SELECT r.vec_id, r.centroid_id, n.f, n.nrm
              |  FROM r JOIN n ON n.vec_id = r.vec_id WHERE rn = 1),
              |pr AS (
              |  SELECT a.vec_id AS ia, b.vec_id AS ib,
              |         ${pairCosSql("a", "b")} AS cos
              |  FROM asg a JOIN asg b
              |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
              |drp AS (SELECT DISTINCT ib AS vec_id FROM pr WHERE cos >= 0.40)
              |SELECT asg.vec_id, asg.centroid_id,
              |       CAST(CASE WHEN drp.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
              |FROM asg LEFT JOIN drp ON asg.vec_id = drp.vec_id
              |ORDER BY asg.vec_id""".stripMargin),
      doc = "G2+ SemDeDup-style semantic dedup: coarse-quantized clusters, " +
        "in-cluster cosine prune keeping the earliest vector. minCos=0.40 " +
        "is calibrated to the synthetic corpus (max in-cluster pair cosine " +
        "0.513, 21/500 dropped at sf0.01); real embeddings use ~0.95+"),

    Q("e2_embed_census",
      (s, d) => semDedupCensus(vecs(s, d), 6, 0.40).orderBy("centroid_id"),
      Some(s"""WITH $fixedSqlCte,
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, c.centroid_id,
              |         ${pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, centroid_id, cos,
              |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p),
              |asg AS (
              |  SELECT r.vec_id, r.centroid_id,
              |         floor(r.cos * 1000000.0 + 0.5) / 1000000.0 AS cent_cos,
              |         n.f, n.nrm
              |  FROM r JOIN n ON n.vec_id = r.vec_id WHERE rn = 1),
              |pr AS (
              |  SELECT a.vec_id AS ia, b.vec_id AS ib,
              |         ${pairCosSql("a", "b")} AS cos
              |  FROM asg a JOIN asg b
              |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
              |drp AS (SELECT DISTINCT ib AS vec_id FROM pr WHERE cos >= 0.40)
              |SELECT asg.centroid_id, count(*) AS n_members,
              |       CAST(sum(CASE WHEN drp.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |       min(asg.cent_cos) AS min_cos, max(asg.cent_cos) AS max_cos
              |FROM asg LEFT JOIN drp ON asg.vec_id = drp.vec_id
              |GROUP BY asg.centroid_id ORDER BY asg.centroid_id""".stripMargin),
      doc = "e2 embedding-side composition: quantize -> semantic dedup -> " +
        "per-cluster census with engine-exact min/max cosine spread " +
        "(extremes, not float means, so aggregation order can't matter)"),

    Q("s8_pq_assign",
      (s, d) => pqAssign(vecs(s, d), 4, 4).orderBy("vec_id", "sub"),
      Some(s"""WITH $fixedSqlCte,
              |$pqAssignSqlCtes
              |SELECT vec_id, sub, code, dist2 FROM r WHERE rn = 1
              |ORDER BY vec_id, sub""".stripMargin),
      doc = "product-quantization assignment (Jegou et al. TPAMI'11): " +
        "4 subspaces x 4 codewords, one corpus scan (map-side " +
        "slice-explode), broadcast codebook, combinable min_by argmin; " +
        "exact fixed-point residuals make codes engine-reproducible"),

    Q("s14_pq_adc",
      (s, d) => pqAdcTopK(vecs(s, d), 3, 10).orderBy("q_id", "rank"),
      Some(s"""WITH $fixedSqlCte,
              |seeds AS (SELECT vec_id, f FROM n ORDER BY vec_id LIMIT 4),
              |book AS (
              |  SELECT si AS sub, vec_id AS code,
              |         f[si * 16 + 1 : (si + 1) * 16] AS cw
              |  FROM seeds, (SELECT unnest(range(0, 4)) AS si)),
              |pieces AS (
              |  SELECT vec_id, si AS sub,
              |         f[si * 16 + 1 : (si + 1) * 16] AS fv
              |  FROM n, (SELECT unnest(range(0, 4)) AS si)),
              |dists AS (
              |  SELECT p.vec_id, p.sub, b.code,
              |         CAST(list_sum(list_transform(range(1, 17),
              |           i -> (p.fv[i] - b.cw[i]) * (p.fv[i] - b.cw[i])))
              |           AS BIGINT) AS dist2
              |  FROM pieces p JOIN book b ON p.sub = b.sub),
              |codes AS (
              |  SELECT vec_id, sub, code FROM (
              |    SELECT vec_id, sub, code,
              |           row_number() OVER (PARTITION BY vec_id, sub
              |             ORDER BY dist2, code) AS rn
              |    FROM dists) WHERE rn = 1),
              |lut AS (
              |  SELECT p.vec_id AS q_id, p.sub, b.code,
              |         CAST(list_sum(list_transform(range(1, 17),
              |           i -> (p.fv[i] - b.cw[i]) * (p.fv[i] - b.cw[i])))
              |           AS BIGINT) AS qd2
              |  FROM pieces p JOIN book b ON p.sub = b.sub
              |  WHERE p.vec_id < 3),
              |adc AS (
              |  SELECT l.q_id, c.vec_id, CAST(sum(l.qd2) AS BIGINT) AS adc_dist2
              |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
              |  WHERE c.vec_id <> l.q_id
              |  GROUP BY 1, 2),
              |r AS (
              |  SELECT q_id, vec_id, adc_dist2,
              |         row_number() OVER (PARTITION BY q_id
              |           ORDER BY adc_dist2, vec_id) AS rn
              |  FROM adc)
              |SELECT q_id, vec_id AS neighbor_id, rn AS rank, adc_dist2
              |FROM r WHERE rn <= 10 ORDER BY q_id, rank""".stripMargin),
      doc = "PQ asymmetric-distance top-k (Jegou et al. TPAMI'11): corpus " +
        "ranked through m-int codes only, nq*m*k LUT broadcast, " +
        "combinable per-vector sum, bounded per-query window; exact " +
        "BIGINT distances so ranks reproduce on any engine"),

    Q("s15_ivf_pq",
      (s, d) => ivfPqSearch(vecs(s, d), 6, 3, 2, 5).orderBy("q_id", "rank"),
      Some(s"""WITH $fixedSqlCte,
              |seeds AS (SELECT vec_id, f FROM n ORDER BY vec_id LIMIT 4),
              |book AS (
              |  SELECT si AS sub, vec_id AS code,
              |         f[si * 16 + 1 : (si + 1) * 16] AS cw
              |  FROM seeds, (SELECT unnest(range(0, 4)) AS si)),
              |pieces AS (
              |  SELECT vec_id, si AS sub,
              |         f[si * 16 + 1 : (si + 1) * 16] AS fv
              |  FROM n, (SELECT unnest(range(0, 4)) AS si)),
              |dists AS (
              |  SELECT p.vec_id, p.sub, b.code,
              |         CAST(list_sum(list_transform(range(1, 17),
              |           i -> (p.fv[i] - b.cw[i]) * (p.fv[i] - b.cw[i])))
              |           AS BIGINT) AS dist2
              |  FROM pieces p JOIN book b ON p.sub = b.sub),
              |codes AS (
              |  SELECT vec_id, sub, code FROM (
              |    SELECT vec_id, sub, code,
              |           row_number() OVER (PARTITION BY vec_id, sub
              |             ORDER BY dist2, code) AS rn
              |    FROM dists) WHERE rn = 1),
              |lut AS (
              |  SELECT p.vec_id AS q_id, p.sub, b.code,
              |         CAST(list_sum(list_transform(range(1, 17),
              |           i -> (p.fv[i] - b.cw[i]) * (p.fv[i] - b.cw[i])))
              |           AS BIGINT) AS qd2
              |  FROM pieces p JOIN book b ON p.sub = b.sub
              |  WHERE p.vec_id < 3),
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |cp AS (
              |  SELECT n.vec_id, c.centroid_id,
              |         ${pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |cr AS (
              |  SELECT vec_id, centroid_id,
              |         row_number() OVER (PARTITION BY vec_id
              |           ORDER BY cos DESC, centroid_id) AS rn
              |  FROM cp),
              |asg AS (SELECT vec_id, centroid_id FROM cr WHERE rn = 1),
              |probe AS (
              |  SELECT vec_id AS q_id, centroid_id FROM cr
              |  WHERE vec_id < 3 AND rn <= 2),
              |cand AS (
              |  SELECT pr.q_id, a.vec_id
              |  FROM probe pr JOIN asg a ON a.centroid_id = pr.centroid_id
              |  WHERE a.vec_id <> pr.q_id),
              |adc AS (
              |  SELECT cd.q_id, cd.vec_id, CAST(sum(l.qd2) AS BIGINT) AS adc_dist2
              |  FROM cand cd
              |  JOIN codes c ON c.vec_id = cd.vec_id
              |  JOIN lut l ON l.q_id = cd.q_id AND l.sub = c.sub AND l.code = c.code
              |  GROUP BY 1, 2),
              |rr AS (
              |  SELECT q_id, vec_id, adc_dist2,
              |         row_number() OVER (PARTITION BY q_id
              |           ORDER BY adc_dist2, vec_id) AS rn
              |  FROM adc)
              |SELECT q_id, vec_id AS neighbor_id, rn AS rank, adc_dist2
              |FROM rr WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin),
      doc = "IVF-PQ (IVFADC) two-level search: probe 2 nearest cells, " +
        "rank in-cell candidates by PQ asymmetric distance — broadcast " +
        "probe set + broadcast LUT over the centroid-keyed code lists, " +
        "nothing corpus-sized moves at query time"),

    Q("s16_ivf_recall",
      (s, d) => ivfRecall(vecs(s, d), 12, 5, 3, 5).orderBy("n_probe"),
      Some {
        val perProbe = (1 to 3).map { p =>
          s"""sc$p AS (
             |  SELECT cd.q_id, cd.neighbor_id, ${pairCosSql("a", "b")} AS cos
             |  FROM (
             |    SELECT pr.q_id, a.vec_id AS neighbor_id
             |    FROM (SELECT vec_id AS q_id, centroid_id FROM cr
             |          WHERE vec_id < 5 AND rn <= $p) pr
             |    JOIN asg a ON a.centroid_id = pr.centroid_id
             |    WHERE a.vec_id <> pr.q_id) cd
             |  JOIN n a ON a.vec_id = cd.q_id
             |  JOIN n b ON b.vec_id = cd.neighbor_id),
             |sel$p AS (
             |  SELECT q_id, neighbor_id FROM (
             |    SELECT q_id, neighbor_id,
             |           row_number() OVER (PARTITION BY q_id
             |             ORDER BY cos DESC, neighbor_id) AS rn
             |    FROM sc$p) WHERE rn <= 5)""".stripMargin
        }.mkString(",\n")
        s"""WITH $fixedSqlCte,
           |cents AS (
           |  SELECT vec_id AS centroid_id, f, nrm FROM n
           |  ORDER BY vec_id LIMIT 12),
           |cp AS (
           |  SELECT n.vec_id, c.centroid_id,
           |         ${pairCosSql("n", "c")} AS cos
           |  FROM n, cents c),
           |cr AS (
           |  SELECT vec_id, centroid_id,
           |         row_number() OVER (PARTITION BY vec_id
           |           ORDER BY cos DESC, centroid_id) AS rn
           |  FROM cp),
           |asg AS (SELECT vec_id, centroid_id FROM cr WHERE rn = 1),
           |tp AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
           |         row_number() OVER (PARTITION BY a.vec_id
           |           ORDER BY ${pairCosSql("a", "b")} DESC, b.vec_id) AS rn
           |  FROM n a JOIN n b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
           |truth AS (SELECT q_id, neighbor_id FROM tp WHERE rn <= 5),
           |$perProbe,
           |u AS (
           |  SELECT 1 AS n_probe, q_id, neighbor_id FROM sel1
           |  UNION ALL SELECT 2, q_id, neighbor_id FROM sel2
           |  UNION ALL SELECT 3, q_id, neighbor_id FROM sel3)
           |SELECT n_probe, count(*) AS n_hits,
           |       floor(CAST(count(*) AS DOUBLE) / 25.0
           |             * 1000000.0 + 0.5) / 1000000.0 AS recall
           |FROM u JOIN truth USING (q_id, neighbor_id)
           |GROUP BY 1 ORDER BY n_probe""".stripMargin
      },
      doc = "IVF recall-vs-probes tuning curve measured in-result " +
        "against the brute-force truth: nested probe sets make the " +
        "ladder provably monotone (spec-pinned); bounded truth join, " +
        "each rung reuses the broadcast-probe IVF plan"),

    Q("s9_dim_stats",
      (s, d) => dimStats(vecs(s, d)).orderBy("dim"),
      Some(s"""WITH $fixedSqlCte,
              |ex AS (
              |  SELECT i AS dim, f[i + 1] AS v
              |  FROM n, (SELECT unnest(range(0, 64)) AS i)
              |  WHERE i < len(f))
              |SELECT dim, count(*) AS n,
              |       floor(CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
              |             / CAST(count(*) AS DOUBLE) / 100000.0
              |             * 1000000.0 + 0.5) / 1000000.0 AS mean_val,
              |       CAST(min(v) AS DOUBLE) / 100000.0 AS min_val,
              |       CAST(max(v) AS DOUBLE) / 100000.0 AS max_val
              |FROM ex GROUP BY dim ORDER BY dim""".stripMargin),
      doc = "per-dimension embedding census (dead dims, scale drift): " +
        "exact fixed-point mean/min/max, partial agg collapses to <= d " +
        "rows per partition before the one exchange"),

    Q("s11_centroid_matrix",
      (s, d) => centroidMatrix(vecs(s, d)).orderBy("label_a", "label_b"),
      Some(s"""WITH $fixedSqlCte,
              |ex AS (
              |  SELECT label, i AS dim, f[i + 1] AS v
              |  FROM n, (SELECT unnest(range(0, 64)) AS i)
              |  WHERE i < len(f)),
              |per AS (
              |  SELECT label, dim, CAST(sum(v) AS BIGINT) AS s,
              |         CAST(count(*) AS BIGINT) AS cnt
              |  FROM ex GROUP BY 1, 2),
              |pt AS (
              |  SELECT a.label AS label_a, b.label AS label_b,
              |         CAST(floor(
              |           ((CAST(a.s AS DOUBLE) / CAST(a.cnt AS DOUBLE)
              |             - CAST(b.s AS DOUBLE) / CAST(b.cnt AS DOUBLE)) / 100000.0)
              |           * ((CAST(a.s AS DOUBLE) / CAST(a.cnt AS DOUBLE)
              |               - CAST(b.s AS DOUBLE) / CAST(b.cnt AS DOUBLE)) / 100000.0)
              |           * 1000000000.0 + 0.5) / 1000000000.0
              |           AS DECIMAL(28,9)) AS t
              |  FROM per a JOIN per b
              |    ON a.dim = b.dim AND a.label < b.label)
              |SELECT label_a, label_b,
              |       floor(sqrt(CAST(sum(t) AS DOUBLE)) * 1000000.0 + 0.5)
              |         / 1000000.0 AS centroid_dist
              |FROM pt GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin),
      doc = "pairwise label-centroid distance matrix (class separation " +
        "census): one corpus explode pass reduces to |labels| x d exact " +
        "moments; the pair join and decimal term sums run over that " +
        "bounded table only"),

    Q("s12_label_spread",
      (s, d) => labelSpread(vecs(s, d)).orderBy("label"),
      Some(s"""WITH $fixedSqlCte,
              |ex AS (
              |  SELECT label, i AS dim, f[i + 1] AS v
              |  FROM n, (SELECT unnest(range(0, 64)) AS i)
              |  WHERE i < len(f)),
              |per AS (
              |  SELECT label, dim, CAST(sum(v) AS BIGINT) AS s,
              |         CAST(sum(v * v) AS BIGINT) AS sq,
              |         CAST(count(*) AS BIGINT) AS cnt
              |  FROM ex GROUP BY 1, 2),
              |t AS (
              |  SELECT label, cnt,
              |         CAST(floor(
              |           (CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE)
              |            - (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))
              |              * (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)))
              |           / 10000000000.0 * 1000000000.0 + 0.5) / 1000000000.0
              |           AS DECIMAL(28,9)) AS vt,
              |         CAST(floor(
              |           (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) / 100000.0)
              |           * (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) / 100000.0)
              |           * 1000000000.0 + 0.5) / 1000000000.0
              |           AS DECIMAL(28,9)) AS ct
              |  FROM per)
              |SELECT label, min(cnt) AS n_vecs,
              |       floor(CAST(sum(vt) AS DOUBLE) * 1000000.0 + 0.5)
              |         / 1000000.0 AS within_var,
              |       floor(sqrt(CAST(sum(ct) AS DOUBLE)) * 1000000.0 + 0.5)
              |         / 1000000.0 AS centroid_norm
              |FROM t GROUP BY 1 ORDER BY label""".stripMargin),
      doc = "per-label spread census: class size, within-class variance " +
        "(covariance trace), centroid norm — compactness companion to " +
        "s11's separation matrix, same bounded moments table"),

    Q("s13_ivf_search",
      (s, d) => ivfSearch(vecs(s, d), 6, 5, 2, 5).orderBy("q_id", "rank"),
      Some(s"""WITH $fixedSqlCte,
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, c.centroid_id,
              |         ${pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, centroid_id,
              |         row_number() OVER (PARTITION BY vec_id
              |           ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p),
              |asg AS (SELECT vec_id, centroid_id FROM r WHERE rn = 1),
              |probe AS (
              |  SELECT vec_id AS q_id, centroid_id FROM r
              |  WHERE vec_id < 5 AND rn <= 2),
              |cand AS (
              |  SELECT pr.q_id, a.vec_id AS neighbor_id
              |  FROM probe pr JOIN asg a ON a.centroid_id = pr.centroid_id
              |  WHERE a.vec_id <> pr.q_id),
              |sc AS (
              |  SELECT c.q_id, c.neighbor_id,
              |         ${pairCosSql("a", "b")} AS cos
              |  FROM cand c
              |  JOIN n a ON a.vec_id = c.q_id
              |  JOIN n b ON b.vec_id = c.neighbor_id),
              |rr AS (
              |  SELECT q_id, neighbor_id, cos,
              |         row_number() OVER (PARTITION BY q_id
              |           ORDER BY cos DESC, neighbor_id) AS rn
              |  FROM sc)
              |SELECT q_id, neighbor_id, rn AS rank,
              |       floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
              |FROM rr WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin),
      doc = "end-to-end IVF search (assign -> probe 2 nearest cells -> " +
        "exact re-rank in-cell): corpus never shuffles, cell restriction " +
        "is a broadcast join on centroid_id, re-rank cost = probed " +
        "fraction of brute force"),

    Q("s17_rrf_fusion",
      (s, d) => rrfFusion(vecs(s, d)).orderBy("q_id", "rank"),
      // oracle fuses the NAIVE full cosine and MIPS rankings — matching
      // it re-proves s10's prune losslessness inside the fused list too
      Some(s"""WITH $fixedSqlCte,
              |pcos AS (
              |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
              |         CAST(CAST(list_sum(list_transform(range(1, len(a.f) + 1),
              |                i -> a.f[i] * b.f[i])) AS BIGINT) AS DOUBLE)
              |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
              |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
              |  WHERE a.vec_id < 5),
              |rcos AS (
              |  SELECT q_id, neighbor_id,
              |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS r_cos
              |  FROM pcos),
              |tcos AS (SELECT q_id, neighbor_id, r_cos FROM rcos WHERE r_cos <= 10),
              |pip AS (
              |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
              |         CAST(list_sum(list_transform(range(1, len(a.f) + 1),
              |                i -> a.f[i] * b.f[i])) AS BIGINT) AS ip
              |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
              |  WHERE a.vec_id < 5),
              |rip AS (
              |  SELECT q_id, neighbor_id,
              |         row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, neighbor_id) AS r_ip
              |  FROM pip),
              |tip AS (SELECT q_id, neighbor_id, r_ip FROM rip WHERE r_ip <= 10),
              |u AS (
              |  SELECT q_id, neighbor_id, r_cos, r_ip
              |  FROM tcos FULL OUTER JOIN tip USING (q_id, neighbor_id)),
              |sc AS (SELECT q_id, neighbor_id, ($rrfScoreExpr) AS score FROM u),
              |rr AS (
              |  SELECT q_id, neighbor_id, score,
              |         row_number() OVER (PARTITION BY q_id
              |           ORDER BY score DESC, neighbor_id) AS rn
              |  FROM sc)
              |SELECT q_id, neighbor_id, rn AS rank,
              |       floor(score * 1000000000.0 + 0.5) / 1000000000.0 AS rrf_score
              |FROM rr WHERE rn <= 5 ORDER BY q_id, rank""".stripMargin),
      doc = "reciprocal-rank-fusion hybrid retrieval (cosine + MIPS " +
        "top-10 lists, score = sum 1/(60+rank)): bounded-list full-outer " +
        "join, heavy work stays in the component retrievers"),

    Q("s18_mrl_recall",
      (s, d) => mrlRecall(vecs(s, d), 5, 5),
      Some("""WITH dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
             |fm AS (
             |  SELECT dim, vec_id,
             |         list_transform(range(1, dim + 1),
             |           i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 100000.0) AS BIGINT)) AS f
             |  FROM embeddings CROSS JOIN dims),
             |nm AS (
             |  SELECT dim, vec_id, f,
             |         CAST(list_sum(list_transform(f, x -> x * x)) AS BIGINT) AS nrm
             |  FROM fm),
             |p AS (
             |  SELECT a.dim, a.vec_id AS q_id, b.vec_id AS neighbor_id,
             |         CAST(CAST(list_sum(list_transform(range(1, len(a.f) + 1),
             |                i -> a.f[i] * b.f[i])) AS BIGINT) AS DOUBLE)
             |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
             |  FROM nm a JOIN nm b ON b.vec_id <> a.vec_id AND b.dim = a.dim
             |  WHERE a.vec_id < 5),
             |r AS (
             |  SELECT dim, q_id, neighbor_id,
             |         row_number() OVER (PARTITION BY dim, q_id
             |           ORDER BY cos DESC, neighbor_id) AS rn
             |  FROM p),
             |t AS (SELECT dim, q_id, neighbor_id FROM r WHERE rn <= 5),
             |base AS (SELECT q_id, neighbor_id FROM t WHERE dim = 64),
             |h AS (
             |  SELECT t.dim, count(*) AS hits
             |  FROM t JOIN base USING (q_id, neighbor_id) GROUP BY 1)
             |SELECT dim, hits,
             |       floor(cast(hits as double) / 25.0 * 1000000.0 + 0.5)
             |         / 1000000.0 AS recall
             |FROM h ORDER BY dim""".stripMargin),
      doc = "Matryoshka truncation recall ladder (prefix dims 8/16/32/64 " +
        "vs full-width top-5): sliced-corpus reuse of the broadcast " +
        "cosine scan, bounded-list recall join, full rung pins recall=1",
    ),

    Q("s19_dim_covariance",
      (s, d) => dimCovariance(vecs(s, d)),
      Some(s"""WITH f0 AS (
              |  SELECT list_transform(embedding,
              |           x -> CAST(floor(CAST(x AS DOUBLE) * 100000.0) AS BIGINT)) AS f
              |  FROM embeddings),
              |px AS (
              |  SELECT unnest(flatten(list_transform(range(1, 8), i ->
              |           list_transform(range(i + 1, 9), j ->
              |             {'i': i, 'j': j, 'xi': f[i], 'xj': f[j]})))) AS p
              |  FROM f0),
              |mo AS (
              |  SELECT p.i AS i, p.j AS j, count(*) AS n,
              |         sum(CAST(p.xi AS HUGEINT)) AS si,
              |         sum(CAST(p.xj AS HUGEINT)) AS sj,
              |         sum(CAST(p.xi AS HUGEINT) * CAST(p.xj AS HUGEINT)) AS sij,
              |         sum(CAST(p.xi AS HUGEINT) * CAST(p.xi AS HUGEINT)) AS sii,
              |         sum(CAST(p.xj AS HUGEINT) * CAST(p.xj AS HUGEINT)) AS sjj
              |  FROM px GROUP BY 1, 2)
              |SELECT i, j, n,
              |       floor(($dimCovExpr) * 1000000000.0 + 0.5) / 1000000000.0 AS cov,
              |       floor(($dimCorrExpr) * 1000000000.0 + 0.5) / 1000000000.0 AS corr
              |FROM mo ORDER BY i, j""".stripMargin),
      doc = "pairwise covariance/correlation census over the leading 8 " +
        "embedding dims (feature-health check): one generator projection " +
        "to C(8,2) pairs per vector — no self-join — then a combinable " +
        "DECIMAL moment pass to a 28-row table"),

    Q("s20_ndcg",
      (s, d) => ndcgAtK(vecs(s, d)),
      Some(s"""WITH $fixedSqlCte,
              |w(r, w, cumw) AS (VALUES $ndcgWeightsSql),
              |p AS (
              |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
              |         CAST(CAST(list_sum(list_transform(range(1, len(a.f) + 1),
              |                i -> a.f[i] * b.f[i])) AS BIGINT) AS DOUBLE)
              |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
              |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
              |  WHERE a.vec_id < 5),
              |rk AS (
              |  SELECT q_id, neighbor_id,
              |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
              |  FROM p),
              |t AS (SELECT q_id, neighbor_id, rn FROM rk WHERE rn <= 10),
              |lab AS (SELECT vec_id, label FROM embeddings),
              |cs AS (SELECT label, count(*) AS csize FROM lab GROUP BY 1),
              |j AS (
              |  SELECT t.q_id, ql.label AS ql, nl.label AS nl, w.w
              |  FROM t JOIN lab ql ON ql.vec_id = t.q_id
              |         JOIN lab nl ON nl.vec_id = t.neighbor_id
              |         JOIN w ON w.r = t.rn),
              |d AS (
              |  SELECT q_id, ql,
              |         sum(CASE WHEN nl = ql THEN w
              |                  ELSE CAST(0 AS DECIMAL(14,12)) END) AS dcg,
              |         CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT) AS hits
              |  FROM j GROUP BY 1, 2),
              |fin AS (
              |  SELECT d.q_id, d.hits, cs.csize - 1 AS n_relevant,
              |         least(10, cs.csize - 1) AS rr, d.dcg
              |  FROM d JOIN cs ON cs.label = d.ql)
              |SELECT q_id, hits, n_relevant,
              |       floor(($ndcgExpr) * 1000000000.0 + 0.5) / 1000000000.0 AS ndcg
              |FROM fin LEFT JOIN w ON w.r = fin.rr
              |ORDER BY q_id""".stripMargin),
      doc = "nDCG@10 of cosine retrieval judged by label agreement: " +
        "position discounts from a shared 12-dp DECIMAL literal table " +
        "(libm log2 is not cross-engine stable), exact decimal DCG/IDCG " +
        "sums, bounded-list label joins"),

    Q("s21_assign_margin",
      (s, d) => assignMarginCensus(vecs(s, d), 6),
      Some(s"""WITH $fixedSqlCte,
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, c.centroid_id,
              |         ${pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, centroid_id, cos,
              |         row_number() OVER (PARTITION BY vec_id
              |           ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p),
              |per AS (
              |  SELECT vec_id,
              |         max(CASE WHEN rn = 1 THEN centroid_id END) AS centroid_id,
              |         max(CASE WHEN rn = 1 THEN cos END) AS cos1,
              |         max(CASE WHEN rn = 2 THEN cos END) AS cos2
              |  FROM r WHERE rn <= 2 GROUP BY 1),
              |m AS (
              |  SELECT centroid_id,
              |         floor(($marginExpr) * 1000000.0 + 0.5) / 1000000.0 AS marg
              |  FROM per)
              |SELECT centroid_id, count(*) AS n_vecs,
              |       CAST(sum(CAST(marg AS DECIMAL(28,6))) AS DOUBLE) / count(*)
              |         AS mean_margin,
              |       min(marg) AS min_margin
              |FROM m GROUP BY 1 ORDER BY centroid_id""".stripMargin),
      doc = "coarse-assignment margin census (silhouette under cosine " +
        "distance, own-cell distance to centroid): broadcast centroids, " +
        "one top-2 ranking pass, 6-dp-quantized decimal-summed cell means"),

    Q("s22_pca_step",
      (s, d) => pcaPowerStep(vecs(s, d)),
      Some(s"""WITH $fixedSqlCte,
              |wt AS (SELECT vec_id, f, CAST(list_sum(f) AS BIGINT) AS t FROM n),
              |ex AS (
              |  SELECT t, i AS dim, f[i + 1] AS x
              |  FROM wt, (SELECT unnest(range(0, 64)) AS i)
              |  WHERE i < len(f)),
              |mo AS (
              |  SELECT dim, sum(CAST(x AS HUGEINT)) AS si,
              |         sum(CAST(x AS HUGEINT) * t) AS sit
              |  FROM ex GROUP BY 1),
              |tt AS (SELECT count(*) AS nn,
              |              CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS st
              |       FROM wt),
              |raw AS (SELECT dim, CAST(nn AS HUGEINT) * sit - si * st AS r
              |        FROM mo CROSS JOIN tt),
              |m AS (SELECT max(abs(r)) AS m FROM raw)
              |SELECT dim,
              |       floor(CAST(r AS DOUBLE) / CAST(m AS DOUBLE)
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS loading
              |FROM raw CROSS JOIN m ORDER BY dim""".stripMargin),
      doc = "one exact PCA power-iteration step (C*ones, max-normalized): " +
        "per-vector coordinate-sum column turns the d^2 covariance apply " +
        "into d accumulators — one pass, exact DECIMAL, no float sums"),

    Q("s23_norm_census",
      (s, d) => normCensus(vecs(s, d)),
      Some(s"""WITH $fixedSqlCte,
              |b AS (SELECT label, nrm, nrm // 100000000 AS nb FROM n),
              |bins AS (SELECT label, nb, count(*) AS cnt FROM b GROUP BY 1, 2),
              |t AS (SELECT label, count(*) AS cn,
              |             min(nrm) AS min_nrm, max(nrm) AS max_nrm
              |      FROM b GROUP BY 1),
              |c AS (
              |  SELECT label, nb, cnt, cn,
              |         sum(cnt) OVER (PARTITION BY label ORDER BY nb
              |           ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM bins JOIN t USING (label)),
              |q AS (
              |  SELECT label,
              |         min(CASE WHEN cum >= (cn + 1) // 2 THEN nb END) AS b50,
              |         min(CASE WHEN cum >= (19 * cn + 19) // 20 THEN nb END) AS b95
              |  FROM c GROUP BY 1)
              |SELECT label, cn AS n,
              |       floor(CAST(min_nrm AS DOUBLE) / 10000000000.0
              |             * 1000000.0 + 0.5) / 1000000.0 AS min_sq_norm,
              |       floor(CAST(max_nrm AS DOUBLE) / 10000000000.0
              |             * 1000000.0 + 0.5) / 1000000.0 AS max_sq_norm,
              |       CAST(b50 AS DOUBLE) / 100.0 AS p50_sq_norm,
              |       CAST(b95 AS DOUBLE) / 100.0 AS p95_sq_norm
              |FROM t JOIN q USING (label) ORDER BY label""".stripMargin),
      doc = "embedding-norm census per label (unnormalized-embedding " +
        "detector): exact integer squared norms, min/max exact, p50/p95 " +
        "off 0.01-unit squared-norm bins — windows see bins, not vectors"),

    Q("s24_pair_sim_census",
      (s, d) => pairSimCensus(vecs(s, d)),
      Some(s"""WITH $fixedSqlCte,
              |a AS (SELECT vec_id + 1 AS pk, label AS la, f, nrm
              |      FROM n WHERE vec_id % 2 = 0),
              |b AS (SELECT vec_id AS pk, label AS lb, f, nrm
              |      FROM n WHERE vec_id % 2 = 1),
              |p AS (
              |  SELECT CAST(floor((${pairCosSql("a", "b")}) * 20.0) AS BIGINT)
              |           AS cos_bin,
              |         CASE WHEN la = lb THEN 1 ELSE 0 END AS same
              |  FROM a JOIN b USING (pk))
              |SELECT cos_bin, count(*) AS n_pairs,
              |       CAST(sum(same) AS BIGINT) AS n_same_label
              |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "pair-cosine calibration census (read before picking the " +
        "semantic-dedup threshold): deterministic consecutive-id pairing " +
        "via an equality join — corpus-linear, no RNG, no all-pairs — " +
        "exact integer dot, 0.05 cosine bins with same-label share"),

    Q("s25_ivf_balance",
      (s, d) => ivfBalance(vecs(s, d)),
      Some(s"""WITH $fixedSqlCte,
              |cents AS (
              |  SELECT vec_id AS centroid_id, f, nrm FROM n
              |  ORDER BY vec_id LIMIT 6),
              |p AS (
              |  SELECT n.vec_id, c.centroid_id,
              |         ${pairCosSql("n", "c")} AS cos
              |  FROM n, cents c),
              |r AS (
              |  SELECT vec_id, centroid_id,
              |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
              |  FROM p),
              |sz AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS c
              |       FROM r WHERE rn = 1 GROUP BY 1)
              |SELECT count(*) AS n_cells, CAST(sum(c) AS BIGINT) AS n_vectors,
              |       min(c) AS min_cell, max(c) AS max_cell,
              |       floor(CAST(max(c) AS DOUBLE) * CAST(count(*) AS DOUBLE)
              |             / CAST(sum(c) AS DOUBLE) * 1000000.0 + 0.5)
              |         / 1000000.0 AS imbalance
              |FROM sz""".stripMargin),
      doc = "IVF cell-balance census (hot-cell pre-flight for s13): one " +
        "broadcast-centroid assignment pass, k-row rollup, imbalance " +
        "factor max/(n/k) on one census row"),

    Q("s26_svm_step",
      (s, d) => svmStep(vecs(s, d)),
      Some {
        val w = Similarity.planeWeights(7, 1)(0)
        val wl = s"[${w.mkString(",")}]"
        s"""WITH $fixedSqlCte,
           |m AS (
           |  SELECT f, CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
           |         CAST(list_sum(list_transform(range(1, len(f) + 1),
           |                i -> f[i] * ($wl)[i])) AS BIGINT) AS z
           |  FROM f),
           |act AS (SELECT f, y FROM m WHERE y * z < 100000),
           |ex AS (
           |  SELECT y, i AS dim, f[i + 1] AS x
           |  FROM act, (SELECT unnest(range(0, 64)) AS i)
           |  WHERE i < len(f)),
           |pd AS (SELECT dim, CAST(sum(y * x) AS BIGINT) AS syf
           |       FROM ex GROUP BY 1),
           |sp AS (SELECT i AS dim, ($wl)[i + 1] AS w
           |       FROM (SELECT unnest(range(0, 64)) AS i)),
           |nn AS (SELECT count(*) AS n FROM f)
           |SELECT sp.dim, CAST(sp.w AS BIGINT) AS w,
           |       CAST(coalesce(pd.syf, 0) AS BIGINT) AS sum_yf,
           |       floor((0.01 * CAST(sp.w AS DOUBLE)
           |              - CAST(coalesce(pd.syf, 0) AS DOUBLE)
           |                / (CAST(n AS DOUBLE) * 100000.0))
           |             * 1000000000.0 + 0.5) / 1000000000.0 AS grad
           |FROM sp CROSS JOIN nn LEFT JOIN pd USING (dim)
           |ORDER BY sp.dim""".stripMargin
      },
      doc = "one linear-SVM hinge subgradient step (label<5 vs rest): " +
        "exact integer margins against the weight literal (piecewise-" +
        "linear loss, no transcendentals), exact long per-dim numerators " +
        "with map-side combine, one scan; the distributed-SGD epoch " +
        "primitive behind fastText-style quality filters"),

    Q("s27_pq_distortion",
      (s, d) => pqDistortion(vecs(s, d), 4, 4),
      Some(s"""WITH $fixedSqlCte,
              |$pqAssignSqlCtes,
              |a AS (SELECT sub, dist2 FROM r WHERE rn = 1)
              |SELECT sub, CAST(count(*) AS BIGINT) AS n_vecs,
              |       CAST(sum(dist2) AS BIGINT) AS sum_dist2,
              |       CAST(max(dist2) AS BIGINT) AS max_dist2,
              |       floor(CAST(sum(dist2) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS mean_dist2
              |FROM a GROUP BY sub ORDER BY sub""".stripMargin),
      doc = "PQ codebook distortion census (the noise floor under s14's " +
        "ADC estimates): per-subspace mean/max exact quantization error " +
        "from the SHARED s8 assignment chain plus one combinable rollup " +
        "— the 'which subspace needs more codewords' pre-flight"),

    Q("s28_filtered_topk",
      (s, d) => filteredTopK(vecs(s, d)),
      Some(s"""WITH $fixedSqlCte,
              |sc AS (
              |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
              |         (b.label % 2 = 0) AS keep,
              |         ${pairCosSql("a", "b")} AS cos
              |  FROM n a JOIN n b ON b.vec_id <> a.vec_id
              |  WHERE a.vec_id < 5),
              |r AS (
              |  SELECT q_id, keep,
              |         row_number() OVER (PARTITION BY q_id
              |           ORDER BY cos DESC, neighbor_id) AS rn_all,
              |         row_number() OVER (PARTITION BY q_id, keep
              |           ORDER BY cos DESC, neighbor_id) AS rn_keep
              |  FROM sc)
              |SELECT q_id,
              |       CAST(sum(CASE WHEN keep AND rn_keep <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
              |       CAST(sum(CASE WHEN keep AND rn_all <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
              |       CASE WHEN sum(CASE WHEN keep AND rn_keep <= 5 THEN 1 ELSE 0 END) = 0
              |            THEN NULL ELSE
              |         floor(CAST(sum(CASE WHEN keep AND rn_all <= 5 THEN 1 ELSE 0 END) AS DOUBLE)
              |               / CAST(sum(CASE WHEN keep AND rn_keep <= 5 THEN 1 ELSE 0 END) AS DOUBLE)
              |               * 1000000.0 + 0.5) / 1000000.0 END AS post_recall
              |FROM r GROUP BY q_id ORDER BY q_id""".stripMargin),
      doc = "filtered-ANN census (pre-filter vs post-filter search at " +
        "~50% label-parity selectivity): one scored frame, two window " +
        "ranks; post-filter survivors are provably a subset of the " +
        "pre-filter top-k, so n_post/n_pre is the post-filter recall"),

    Q("s30_pq_balance",
      (s, d) => pqBalance(vecs(s, d), 4, 4),
      Some(s"""WITH $fixedSqlCte,
              |$pqAssignSqlCtes,
              |a AS (SELECT sub, code FROM r WHERE rn = 1),
              |pc AS (SELECT sub, code, CAST(count(*) AS BIGINT) AS c
              |       FROM a GROUP BY 1, 2)
              |SELECT sub, CAST(count(*) AS BIGINT) AS n_live_codes,
              |       CAST(sum(c) AS BIGINT) AS n_vecs,
              |       CAST(min(c) AS BIGINT) AS min_code,
              |       CAST(max(c) AS BIGINT) AS max_code,
              |       floor(CAST(max(c) AS DOUBLE) * 4.0
              |             / CAST(sum(c) AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS imbalance
              |FROM pc GROUP BY sub ORDER BY sub""".stripMargin),
      doc = "PQ code-population balance (s27's proportion companion — " +
        "together the codebook health panel): m*k-row rollup of the " +
        "shared s8 assignment, max/(n/k) imbalance per subspace"),
  )
}
