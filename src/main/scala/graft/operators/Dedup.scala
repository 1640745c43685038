package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftColumns, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.{AccumulatorV2, LongAccumulator}

import graft.{Q, SharedBuild, Tables}
import graft.functions.Parity.pround

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §2.G [EXT]): exact, MinHash+LSH banding, SimHash, and
  * n-gram Jaccard verification.
  *
  * Design for 100 TB:
  *  - Exact dedup is a hash groupBy on the normalized text — one shuffle,
  *    map-side partial agg.
  *  - Near-dup NEVER does all-pairs: MinHash signatures (b bands × min
  *    hash per band) turn similarity into equality — candidate pairs come
  *    from a shuffle join on the (band, min-hash) bucket key, which is
  *    exactly the banded-LSH plan that scales linearly in corpus size.
  *  - Jaccard verification runs only on pairs sharing a shingle (an
  *    inverted-index join), never on the cross product.
  *
  * Hash portability: signatures use md5 prefixes — MD5 is bit-identical
  * in every engine (unlike Spark's murmur3 `hash()` vs DuckDB's xxhash),
  * so the whole pipeline is DuckDB-oracle-checkable.
  */
object Dedup {

  /** Whitespace-tokenize into a non-empty-token array (same class as
    * WordCount.WhitespaceRe on both engines). NOTE: this string is parsed
    * by Spark's SQL parser, whose single-quoted literals process
    * backslash escapes ('\f' collapses to 'f', silently making f a
    * delimiter!) — hence the doubled backslashes. */
  def tokensExprOn(c: String): String =
    s"filter(split($c, '[ \\\\t\\\\n\\\\r\\\\f]+'), x -> x != '')"
  val tokensExpr: String = tokensExprOn("text")

  /** 3-word shingles over a materialized `toks` column, 1-based positions
    * (matches DuckDB list indexing). The tokenizer regex runs ONCE per row
    * — inlining $tokensExpr here would re-split the text for every
    * element_at call. */
  private val shinglesFromToks =
    """CASE WHEN size(toks) >= 3
      | THEN transform(sequence(1, size(toks) - 2),
      |        i -> concat_ws(' ', element_at(toks, i),
      |                            element_at(toks, i + 1),
      |                            element_at(toks, i + 2)))
      | ELSE array() END""".stripMargin

  /** (doc_id, sh): exploded 3-shingles, tokenizer evaluated once per doc. */
  def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(tokensExpr).as("toks"))
      .select(col("doc_id"), explode(expr(shinglesFromToks)).as("sh"))

  /** (doc_id, pos, sh): positional 3-shingles, 1-based positions (DuckDB
    * list-indexing parity). Order matters to consumers like the winnowing
    * fingerprint selector (TextAnalysis.winnowFingerprints), which slides
    * a window over the positional hash sequence. */
  def shinglePosRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(tokensExpr).as("toks"))
      .select(col("doc_id"), posexplode(expr(shinglesFromToks)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("sh"))

  /** (doc_id, sh_h): shingles as 56-bit md5-prefix longs. Joining and
    * grouping on fixed-width longs instead of ~20-char strings cuts
    * shuffle bytes and key-compare cost in the inverted-index join;
    * md5 keeps it engine-portable. Collision odds ≈ 2^-56 per pair. */
  def shingleHashRows(docs: DataFrame): DataFrame =
    shingleRows(docs).select(col("doc_id"),
      GraftColumns.md5Long56(col("sh")).as("sh_h"))

  /** G1: exact dedup on whitespace-normalized lowercased text; survivor =
    * min doc_id per group. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), normText(col("text")).as("norm"))
      .groupBy("norm")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")

  /** Modulus for the per-band affine permutations: the largest prime below
    * 2^30, so `(2b+1) * (h % P) + B_b` stays far under 2^63 in BOTH engines
    * (DuckDB BIGINT multiply raises on overflow; Spark wraps silently). */
  val MinhashP: Long = graft.plans.MinhashSig.P

  /** Offset mixer for the affine family (Knuth's 2^32 golden ratio). */
  val MinhashMixer: Long = graft.plans.MinhashSig.Mixer

  /** SQL fragment: the j-th affine permutation of non-negative long `h`.
    * The per-band offset is XOR-mixed into `h` BEFORE the mod so two
    * hashes that collide mod P do NOT collide in every band (a plain
    * affine map of `h % P` makes band collisions perfectly correlated,
    * inflating LSH false positives on mod-P-colliding shingles). After
    * the mix, `(2j+1)` odd and P prime keep it a bijection on [0, P).
    * Products stay < 2^63 for any j < ~2^31 (see MinhashP).
    * DuckDB mirror: xor(h, off) — both engines XOR BIGINTs identically
    * (h is a non-negative 56-bit md5 prefix, off < P < 2^30). */
  def affinePerm(j: Int, h: String): String = {
    val a = 2L * j + 1
    val off = (j.toLong * MinhashMixer) % MinhashP
    s"($a * (($h ^ $off) % $MinhashP) + $off) % $MinhashP"
  }

  /** DuckDB mirror of [[affinePerm]] with the band index as a SQL
    * expression `j` (a column, e.g. from unnest(range(...))) instead of a
    * compile-time constant. Kept next to affinePerm so the two stay in
    * lockstep — every oracle that mirrors the hash family uses this. */
  def affinePermSqlDuck(j: String, h: String): String =
    s"((2*$j+1) * (xor($h, ($j * $MinhashMixer) % $MinhashP) % $MinhashP)" +
      s" + ($j * $MinhashMixer) % $MinhashP) % $MinhashP"

  private[graft] def normText(c: org.apache.spark.sql.Column) =
    lower(trim(regexp_replace(c, "[ \\t\\n\\r\\f]+", " ")))

  /** g18: cross-language shared-opening census — which language
    * combinations share a document OPENING (the lowercased first
    * `preTokens` tokens)? Shared openings inside one language are
    * template families (crawl redundancy); openings spanning languages
    * are boilerplate headers or mislabeled langid ("click here to
    * continue" tagged five ways) — and a mixture design needs the two
    * separated before per-language weighting, because boilerplate
    * counted once per language silently re-weights it.
    *
    * Scale shape: same skeleton as g1 with the prefix as the dedup key
    * (a bounded-width key however long documents run); the lang-set is
    * a collect_set bounded by |langs| (census dimension, never
    * doc-scale), rendered sort_array+concat_ws for a deterministic
    * group key; the rollup is |lang-combinations| rows. */
  def crossLangDupCensus(docs: DataFrame, preTokens: Int = 5): DataFrame =
    docs.select(
        concat_ws(" ",
          slice(expr(s"transform($tokensExpr, x -> lower(x))"), 1, preTokens))
          .as("pre"),
        col("lang"))
      .groupBy("pre")
      .agg(count(lit(1)).as("nd"),
        concat_ws(",", sort_array(collect_set(col("lang")))).as("lang_set"))
      .where(col("nd") > 1)
      .groupBy("lang_set")
      .agg(count(lit(1)).as("n_groups"), sum("nd").as("n_docs"))
      .orderBy("lang_set")

  /** G1b: INCREMENTAL exact dedup — dedupe an incoming batch against an
    * existing corpus and within itself, the production shape for a
    * continuously-growing dataset (never re-deduplicate the whole
    * corpus per batch). The existing side reduces to its distinct norm
    * set; the anti-join is an equality join on the norm key, so at scale
    * it is one shuffle of the (small) incoming batch against the
    * bucketed/persisted norm index. */
  def exactDedupIncremental(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val known = existing.select(normText(col("text")).as("norm")).distinct()
    incoming.select(col("doc_id"), normText(col("text")).as("norm"))
      .join(known, Seq("norm"), "left_anti")
      .groupBy("norm")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
  }

  /** G2a: banded MinHash signature, (doc_id, band, minh) with one row per
    * band of every document that has a 3-shingle. Each shingle is
    * md5-hashed ONCE, then each band applies a cheap affine permutation
    * `(2b+1)·((h XOR off_b) mod P) + off_b mod P` ([[affinePerm]]) and
    * keeps its minimum — the classic one-strong-hash +
    * k-universal-permutations MinHash construction. A document's
    * signature depends only on its own text, so the whole computation is
    * the native per-row [[graft.plans.MinhashSig]] byte pass, unpivoted
    * by `posexplode`: one narrow projection over `docs`, with no shingle
    * rows and no shuffle.
    *
    * Assumes `doc_id` is the key of `docs` (one row per id), as
    * [[TextAnalysis.qualityScore]]'s token stats do; every fixture
    * satisfies it. A duplicated id gives one signature per input row. */
  def minhashSignature(docs: DataFrame, bands: Int): DataFrame =
    docs.select(col("doc_id"),
      posexplode(GraftColumns.minhashSig(col("text"), bands)).as(Seq("band", "minh")))

  /** G2c: INCREMENTAL near-dup — flag incoming docs that LSH-collide
    * with the EXISTING corpus's signature index, the nightly-ingest
    * analog of [[exactDedupIncremental]] for near-duplicates. In
    * production the corpus side is a persisted signature table
    * (signatures are computed once per document ever); the per-batch
    * cost is the batch's own signatures plus one equality join on the
    * (band, minh) bucket key against that index — the whole corpus is
    * never re-shingled, and no all-pairs comparison exists anywhere.
    * Output per flagged incoming doc: how many bands collided (more
    * bands ≈ higher Jaccard, the usual LSH evidence ladder) and the
    * smallest colliding corpus doc id. */
  def minhashIncremental(existing: DataFrame, incoming: DataFrame,
                         bands: Int,
                         bucketCap: Option[Int] = None): DataFrame =
    incrementalFromSig(minhashSignature(existing, bands),
      minhashSignature(incoming, bands), bucketCap)

  /** [[minhashIncremental]] over existing signature tables — signatures
    * are PER-DOC, so a doc-subset's signature table is exactly the full
    * table filtered by doc_id, and the registered split query can serve
    * both sides from one shared signature build. */
  private[graft] def incrementalFromSig(existingSig: DataFrame,
      incomingSig: DataFrame,
      bucketCap: Option[Int] = None): DataFrame = {
    // The INDEX side is bucket-capped (see DefaultBucketDfCap): an
    // incoming row landing in a degenerate corpus bucket would join
    // |bucket| rows, so capping the index bounds the per-batch emission
    // at |batch| × bands × cap. The batch's own buckets never self-join.
    val idx = cappedSignature(existingSig, bucketCap)
      .select(col("band"), col("minh"), col("doc_id").as("corpus_doc"))
    incomingSig
      .join(idx, Seq("band", "minh"))
      .groupBy("doc_id")
      .agg(countDistinct(col("band")).as("n_bands_hit"),
        min(col("corpus_doc")).as("first_match"))
  }

  /** Materialize `src` once (eager — see [[Materialize.frame]]), then
    * build the derived result over the stored rows, so the shared input
    * is computed exactly once however many consumers `build` wires up.
    * The stored blocks are freed by the ContextCleaner once the returned
    * DataFrame is unreferenced. At warehouse scale the equivalent is
    * persisting the intermediate as a table.
    *
    * Round-10 change: the src goes through `Materialize.frame`
    * (row-format localCheckpoint, or a reliable checkpoint under
    * spark.graft.checkpointDir) instead of `persist()` + checkpointing
    * the RESULT — measured 1.5-2× faster at sf0.1 (the columnar
    * in-memory cache pays an array/string encoding the block store
    * skips), and the returned frame's plan downstream of the stored scan
    * stays auditable with explain().
    *
    * Trade-offs, so use it deliberately: the SRC computes EAGERLY at
    * call time (constructing the DataFrame runs a job). Reserve it for
    * shapes with 3+ distinct consumers of the shared input (e.g.
    * broadcast sides, which exchange reuse cannot dedup); plain
    * self-joins should stay lazy and let runtime exchange reuse compute
    * the shared subtree once. */
  private[graft] def viaSharedScan(src: DataFrame)(build: DataFrame => DataFrame): DataFrame =
    build(Materialize.frame(src))

  /** Default hot-bucket document-frequency cap for the (band, minh) LSH
    * self-join. An uncapped bucket join emits |bucket|²/2 pairs per
    * bucket — one degenerate bucket (empty/boilerplate docs collapsing
    * to a single signature, or a broken permutation) is quadratic in
    * corpus size, the exact failure mode [[DefaultShingleDfCap]] bounds
    * for the shingle index. Same documented-lossy contract applied to
    * the bucket key: a bucket shared by >cap documents is a DUPLICATE
    * BLOB, not a pair list — at that density per-pair edges add no
    * information a "these N docs share a signature" census doesn't, and
    * emitting them anyway is what melts the 100 TB run. The
    * [[lshBucketCensus]] (g21) stays UNCAPPED as the monitoring pair,
    * so what the cap would drop is always observable before it drops.
    * The cap sits far above any organic bucket at test scales (sf0.1
    * max bucket = 20; the 20× replica sweep ≈ 400), so capped and
    * uncapped answers coincide there — the DuckDB oracles apply the
    * same cap, checking the capped semantics end-to-end.
    *
    * r16 (VERDICT r15 item 1): this constant is no longer the cap — it
    * is the cap CEILING. The session cap is density-DERIVED per index at
    * build time (the g26 budget rule over the bucket-size histogram:
    * in-plan through [[autoCapped]], or on the driver by [[bandPairs]]
    * for the session-shared candidate level, whose bucket pass keeps
    * member ids only up to the largest cap the rule can return),
    * clamped to [[[DefaultCapFloor]], this ceiling]. A fixed cap was
    * scale-unsafe in both directions: too high admits the df²
    * tail that melted the r14 sf10 run; too low silently splits organic
    * dup groups. `SPARK_GRAFT_BUCKET_DF_CAP` overrides the ceiling, read
    * once at class load and interpolated into BOTH the Spark plans and
    * every DuckDB oracle string from this same val — the two engines
    * cannot desync. Like `GraftSession.shufflePartitions`, the value is
    * part of the recorded measurement context; re-baseline before gating
    * under a new one. */
  val DefaultBucketDfCap: Int =
    graft.Env.posInt("SPARK_GRAFT_BUCKET_DF_CAP", 1000)

  /** doc_id offset for g25's exact-copy probes — interpolated into both
    * the Scala augmentation and the oracle SQL so they cannot desync. */
  val RecallProbeOffset = 10000000L

  /** Signature rows restricted to buckets with <= cap members — the
    * g4 df-cap discipline on the (band, minh) key, density-derived by
    * default ([[autoCapped]]; `cap = Some(c)` pins a fixed cap for
    * specs/diagnostics). */
  private[graft] def cappedSignature(sig: DataFrame,
      cap: Option[Int] = None): DataFrame =
    autoCapped(sig, Seq("band", "minh"), cap, ceilCap = DefaultBucketDfCap)

  /** G2b: LSH candidate pairs — equality join on the (band, minh) bucket
    * key, restricted to buckets with <= bucketCap members (documented-
    * lossy — see [[DefaultBucketDfCap]]). This is the scale path: no
    * all-pairs comparison ever happens, and no single bucket can emit
    * more than cap²/2 pairs. Deliberately LAZY (no cache/checkpoint):
    * both join sides are the identical capped-signature subtree
    * partitioned on the same join key, so exchange reuse computes it
    * once at runtime, and the full plan stays auditable with explain()
    * (see PLANS.md). */
  def minhashCandidates(docs: DataFrame, bands: Int,
                        bucketCap: Option[Int] = None): DataFrame =
    candidatesFromSig(minhashSignature(docs, bands), bucketCap)

  /** The capped bucket self-join over an existing signature table. The
    * session-shared candidate level ([[DedupQueries.sharedBandPairs]])
    * is built by [[bandPairs]] instead, which keeps each pair's band
    * count; this form serves [[minhashCandidates]] and g25's augmented
    * signature table. */
  private[graft] def candidatesFromSig(rawSig: DataFrame,
      bucketCap: Option[Int] = None): DataFrame = {
    val sig = cappedSignature(rawSig, bucketCap)
    sig.as("a").join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.minh") === col("b.minh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** G2c: AND-amplified near-dup pairs — candidates must collide in at
    * least `minShared` bands. Cuts false positives (and the candidate
    * count) sharply on low-vocabulary corpora where single-band
    * collisions are common; with the bucket cap (see
    * [[DefaultBucketDfCap]]) these are the two knobs that keep the LSH
    * join bounded as the corpus grows. */
  def minhashNearDups(docs: DataFrame, bands: Int, minShared: Int,
                      bucketCap: Option[Int] = None): DataFrame =
    nearDupsFromSig(minhashSignature(docs, bands), minShared, bucketCap)

  /** The AND-amplified bucket self-join over an existing signature
    * table: (doc_a, doc_b, shared_bands) for the pairs colliding in at
    * least `minShared` bands, in one lazy plan. At `minShared = 1` and
    * the same cap it has the rows of [[bandPairs]], the bounded bucket
    * pass that builds the session-shared candidate level
    * ([[DedupQueries.sharedBandPairs]]); PropertySpec pins the two
    * equal. */
  private[graft] def nearDupsFromSig(rawSig: DataFrame, minShared: Int,
      bucketCap: Option[Int] = None): DataFrame = {
    val sig = cappedSignature(rawSig, bucketCap)
    sig.as("a").join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.minh") === col("b.minh") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_bands"))
      .where(col("shared_bands") >= minShared)
  }

  /** The session-shared candidate level's build: (doc_a, doc_b,
    * shared_bands) for every pair colliding in at least one capped
    * (band, minh) bucket, and the bucket cap it derived — the rows of
    * `nearDupsFromSig(sig, 1, Some(cap))` at that cap, from one bounded
    * pass per bucket instead of a df aggregate, its join-back, a cap
    * table and a self-join:
    *
    *  1. the signatures are shuffled once on (band, minh) and sorted by
    *     (band, minh, doc_id) within partitions; [[BucketWalk]] walks
    *     each bucket's run once and emits (band, minh, df, ids), ids
    *     being the sorted member ids while df is at most the largest cap
    *     the rule can return and null above it — no buffer holds more.
    *     Singleton buckets emit nothing: they hold no pair. The result
    *     is materialized, and that job's result stage also fills two
    *     accumulators: the df histogram (2 ≤ df ≤ ceilCap) and the
    *     count of band-0 rows;
    *  2. the driver applies [[budgetRule]] to them, with no Spark job.
    *     The band-0 count is `countDistinct(doc_id)` of the signatures,
    *     the `n_docs` of [[derivedCap]], because `doc_id` is the key of
    *     `documents` ([[minhashSignature]] assumes it) and every signed
    *     document has exactly one band-0 row;
    *  3. one `flatMap` emits each admitted bucket's (doc_a < doc_b) pairs
    *     — at most cap²/2 per bucket — and one `groupBy(doc_a, doc_b)`
    *     counts the bands, materialized as the level.
    *
    * Four jobs in all: each materialization runs its shuffle's map stage
    * and its result stage. The columns, types and nullability are
    * [[nearDupsFromSig]]'s. */
  private[graft] def bandPairs(sig: DataFrame): (DataFrame, Long) =
    bandPairs(sig, DefaultCapBudgetPerDoc, DefaultCapFloor, DefaultBucketDfCap)

  /** [[bandPairs]] under the given budget rule, so specs reach a bucket
    * above the ceiling at small sizes. */
  private[graft] def bandPairs(sig: DataFrame, budgetPerDoc: Long,
      floorCap: Int, ceilCap: Int): (DataFrame, Long) = {
    val sc = sig.sparkSession.sparkContext
    val hist = new DfHistogram
    sc.register(hist, "bucket df histogram")
    val nDocs = sc.longAccumulator("band-0 signature rows")
    val maxIds = floorCap max ceilCap
    val walk: Iterator[(Int, Long, java.lang.Long)] => Iterator[Bucket] =
      BucketWalk.buckets(_, maxIds, ceilCap, hist, nDocs)
    val buckets = Materialize.frame(sig
      .select(col("band").cast("int"), col("minh").cast("long"),
        col("doc_id").cast("long"))
      .repartition(col("band"), col("minh"))
      .sortWithinPartitions("band", "minh", "doc_id")
      .as(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.LONG))
      .mapPartitions(walk)(Encoders.product[Bucket])
      .toDF())
    val cap = budgetRule(hist.value, nDocs.value, budgetPerDoc, floorCap, ceilCap)
    // boxed ids keep doc_a/doc_b nullable, as the self-join's columns are
    val boxedPair = Encoders.tuple(Encoders.LONG, Encoders.LONG)
    val pairs = buckets.where(col("df") <= cap)
      .as(Encoders.product[Bucket])
      .flatMap(BucketWalk.pairs)(boxedPair)
      .toDF("doc_a", "doc_b")
      // true of every emitted pair; it hands the stored level the
      // self-join's constraints (doc_a < doc_b, neither null), so its
      // readers plan no null filter of their own
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_bands"))
    (Materialize.frame(pairs), cap)
  }

  /** G6: dedup clusters — connected components over the candidate-pair
    * graph, labelled by their least doc_id. Two phases:
    *
    *  - a partition-local union-find ([[LocalForest]]) reads each
    *    partition's pairs once, before any shuffle, and emits one
    *    (node, root) row per node it saw, root = the least id the
    *    partition's pairs join it to. Cliques — the dominant near-dup
    *    shape — collapse to stars here. If the whole graph was read as
    *    ONE forest (one non-empty partition, never flushed at the
    *    per-task entry budget), its roots ARE the component minima and
    *    the forest is the answer: one job, no global round. Curation's
    *    candidate level is coalesced to one partition, so it takes this
    *    path.
    *  - otherwise the forests' rows, read as node–root star edges (one
    *    per node seen, however dense the partition's pairs), go through
    *    global min-label propagation WITH GRAPH CONTRACTION.
    *    Each round: (a) every cluster takes the min of itself and its
    *    neighboring clusters plus pointer jumps (the doubling step →
    *    O(log diameter) rounds; real LSH graphs chain — sf0.01 already
    *    has a 220-node component of diameter 23); (b) the edge set is
    *    CONTRACTED to distinct inter-cluster edges, so duplicate cliques
    *    that span partitions collapse to a single node after one round
    *    and later rounds join a vanishing edge set. Terminates when no
    *    inter-cluster edge remains; the row count of each round's
    *    materialized edge set is the test, so no emptiness probe runs.
    *    Labels only decrease and always name a component member, so the
    *    fixpoint is the component minimum. Lineage is truncated per round
    *    by [[Materialize]], the standard guard against iterative-plan
    *    blowup.
    *
    * Output: (doc_id, cluster) where cluster = min doc_id in the
    * component, one row per doc_id that appears in a pair; survivors of
    * cluster-dedup are the rows with doc_id == cluster. */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    dedupClustersWithRounds(pairs, maxIter)._1

  /** g11: quality-aware representative per near-dup cluster — instead of
    * g1's "keep the smallest doc_id", keep the copy a curation pipeline
    * actually wants: the best t2 quality score (ties → smallest id).
    * Singleton docs (no LSH candidate edge) are their own cluster.
    *
    * Scale shape: the clustering is [[dedupClusters]] (O(log d) rounds);
    * everything after it is two doc_id-keyed joins and ONE map-side-
    * combinable argmax — `min(struct(-quality, doc_id))` — so no window
    * over cluster (a mega-cluster of near-identical boilerplate would
    * single-task a rank window; the struct-min aggregate partial-combines
    * instead). EAGER like its clustering core. */
  def clusterReps(docs: DataFrame, bands: Int): DataFrame =
    clusterRepsFromLabels(docs, dedupClusters(minhashCandidates(docs, bands)))

  /** [[clusterReps]] over a PRECOMPUTED cluster-label table (the g6
    * output, or the persisted cluster table a production pipeline keeps)
    * — the cluster family (g6 labels / g11 reps / g17 sizes) shares one
    * signature + bucket-join + contraction pass instead of each
    * re-paying it; see [[DedupQueries.sharedClusters]]. */
  def clusterRepsFromLabels(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality"))
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .join(q, Seq("doc_id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("quality")).as("nq"), col("doc_id").as("id")))
          .as("best"))
      .select(col("cluster"), col("n_members"),
        col("best.id").as("rep_doc_id"),
        (-col("best.nq")).as("rep_quality"))
  }

  /** G25: end-to-end dedup recall census — the near-dup pipeline graded
    * against the one truth set it must never miss: EXACT duplicates
    * (identical normalized text) are near-dups by definition, so every
    * exact-dup group should land inside one LSH cluster. Pair-level
    * recall = captured exact-dup pairs / all exact-dup pairs, where a
    * pair is captured when both copies carry the same cluster label.
    * This is the OUTCOME-level monitoring pair of the bucket-df cap:
    * a dup group larger than the cap loses its bucket, splits, and
    * shows up here as lost pairs — g21 shows what the cap drops going
    * in, g25 shows what that costs coming out (at organic bucket sizes
    * the census reads 1.0).
    *
    * Scale shape: norm groups and cluster labels are both doc_id-keyed
    * reductions; captured/total pair masses are Σ c(c−1)/2 per group —
    * combinable counts, never a pairwise join; output is one row. */
  def dedupRecallCensus(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val lbl = docs
      .select(col("doc_id"),
        GraftColumns.md5Long56(normText(col("text")))
          .as("g"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("g"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val per = lbl.groupBy("g", "cluster").agg(count(lit(1)).as("c"))
      .groupBy("g")
      .agg(sum("c").as("n"),
        sum(expr("c * (c - 1) div 2")).as("captured"),
        max("c").as("maxc"))
      .where(col("n") >= 2)
    per.agg(
        coalesce(count(lit(1)), lit(0L)).as("n_dup_groups"),
        coalesce(sum((col("maxc") === col("n")).cast("long")), lit(0L))
          .as("n_intact_groups"),
        coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("exact_pairs"),
        coalesce(sum("captured"), lit(0L)).as("captured_pairs"))
      .select(col("n_dup_groups"), col("n_intact_groups"),
        col("exact_pairs"), col("captured_pairs"),
        when(col("exact_pairs") > 0,
          pround(col("captured_pairs").cast("double")
            / col("exact_pairs").cast("double"), 6)).as("pair_recall"))
  }

  /** [[dedupClusters]] plus the number of global contraction rounds it
    * ran — the observable the O(log diameter) convergence claim is tested
    * against (DedupClusterSpec pins a star graph to ≤2 rounds and a
    * 64-chain to a logarithmic bound; a regression to per-hop
    * propagation would blow those up immediately). 0 when the local
    * forest was the whole answer. */
  private[graft] def dedupClustersWithRounds(
      pairs: DataFrame, maxIter: Int = 25): (DataFrame, Int) =
    dedupClustersWithRounds(pairs, maxIter, LocalForest.MaxEntries)

  /** [[dedupClustersWithRounds]] with the local forest flushing at
    * `forestEntries` nodes per task. */
  private[graft] def dedupClustersWithRounds(
      pairs: DataFrame, maxIter: Int, forestEntries: Int): (DataFrame, Int) = {
    val pieces = pairs.sparkSession.sparkContext.longAccumulator
    val forest: Iterator[(Long, Long)] => Iterator[(Long, Long)] =
      LocalForest.roots(_, forestEntries, pieces)
    val longPair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    // null endpoints name no document
    val roots = Materialize.frame(pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long")).na.drop()
      .as(longPair).mapPartitions(forest)(longPair)
      .toDF("node", "root"))
    // read as one forest: every pair of a component was unioned into it
    if (pieces.value <= 1L) (roots.toDF("doc_id", "cluster"), 0)
    else globalRounds(roots, maxIter)
  }

  /** The global phase of [[dedupClusters]] over the local forests'
    * (node, root) rows, read as star edges. */
  private def globalRounds(roots: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // both directions from ONE scan (an explode, not a union). Root rows
    // (root, root) keep self-loop-only nodes in round 1's map domain;
    // duplicate edges are absorbed by the groupBy below
    var edges = roots
      .select(explode(array(
        struct(col("node").as("src"), col("root").as("dst")),
        struct(col("root").as("src"), col("node").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // two or more forests hold at least one row each
    var nEdges = 1L
    // r20 (VERDICT r19 item 5): the node-scale label table is no longer
    // composed (joined + materialized) inside every round — each round
    // only stores its cluster-keyed relabel map, and ONE backward
    // composition after the loop rebuilds the final labels. Proof the
    // left-join composition is exact: edges are symmetric, so round r's
    // map domain dom(j_r) = all endpoints of edges_r; every map VALUE is
    // itself an endpoint (least of src and edge dsts, jump targets are
    // map values), so image(j_r) ⊆ dom(j_r); and round r+1's endpoints
    // are j_r-images, so dom(j_{r+1}) ⊆ dom(j_r). Hence a label leaving
    // any map's domain can never re-enter a later map, and
    // T_r = j_r ∘ T_{r+1} with "missing ⇒ keep j_r's value" (the left
    // join + coalesce below) equals the old per-round compose chain
    // f_k(…f_1(node)). Round 1's map domain = every node, so T_1 IS the
    // final label table. Saves one node-scale shuffle join +
    // localCheckpoint per round; the compose chain joins only the
    // shrinking per-round maps and is materialized once for the cluster
    // family's three consumers.
    var maps = List.empty[DataFrame] // most recent round's map first
    var iter = 0
    while (nEdges > 0 && iter < maxIter) {
      // every endpoint appears as src (edges are symmetric), so the
      // relabel map covers every cluster that still has an edge
      val step = edges.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("lu"))
        .select(col("src").as("u"), col("lu"))
      // pointer jumping: compose the relabel map with itself. Each
      // application SQUARES the reach (shift-k becomes shift-2k), and the
      // per-round jump count escalates with the round number, so round r
      // reaches 2^(r+2) hops. This is what makes the total round count
      // O(log diameter) even on pure chains, where edge contraction only
      // shortens additively (labels shift uniformly, so distinct labels
      // stay distinct and the contracted graph is a chain again): reaches
      // 4+8+16+... cover any diameter d within ~log2(d) rounds. The map is
      // one row per still-active cluster — far smaller than the edge set —
      // so the extra self-joins on it are much cheaper than the
      // whole-graph rounds they replace, and early rounds (where real LSH
      // graphs — cliques and stars — already finish) cost exactly the
      // two jumps they always did.
      def jump(m: DataFrame): DataFrame = m
        .join(m.select(col("u").as("u2"), col("lu").as("l2")),
          col("lu") === col("u2"), "left")
        .select(col("u"),
          least(col("lu"), coalesce(col("l2"), col("lu"))).as("lu"))
      val jumped = (1 to (iter + 2)).foldLeft(step)((m, _) => jump(m))
        .transform(Materialize.frame)
      maps ::= jumped
      // contract: map both endpoints, drop intra-cluster edges, dedupe.
      // Symmetry is preserved (both directions map pairwise).
      val (contracted, n) = Materialize.counted(edges
        .join(jumped.select(col("u").as("su"), col("lu").as("sl")),
          col("src") === col("su"), "left")
        .join(jumped.select(col("u").as("du"), col("lu").as("dl")),
          col("dst") === col("du"), "left")
        .select(coalesce(col("sl"), col("src")).as("src"),
          coalesce(col("dl"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
      edges = contracted
      nEdges = n
      iter += 1
    }
    // A silent partial clustering would make cluster-dedup keep extra
    // survivors with no signal — converging graphs finish in O(log
    // diameter) rounds, so hitting maxIter means the input is
    // pathological (or maxIter was lowered); surface it loudly.
    if (nEdges > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupClusters: $maxIter rounds exhausted with inter-cluster " +
          "edges remaining — the returned clustering is PARTIAL (labels " +
          "are valid upper approximations, components may stay split)")
    val labels = maps match {
      case Nil =>
        // zero rounds ran (maxIter = 0): the identity-label table
        edges.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("cluster"))
          .transform(Materialize.frame)
      case last :: rest =>
        // backward composition T_r = j_r ∘ T_{r+1} (see proof above);
        // `rest` runs from round k−1 down to round 1, whose map domain
        // is every node — so the fold's result is the label table
        val total = rest.foldLeft(last) { (t, jr) =>
          jr.join(t.select(col("u").as("u2"), col("lu").as("l2")),
              col("lu") === col("u2"), "left")
            .select(col("u"), coalesce(col("l2"), col("lu")).as("lu"))
        }
        Materialize.frame(
          total.select(col("u").as("node"), col("lu").as("cluster")))
    }
    (labels.withColumnRenamed("node", "doc_id"), iter)
  }

  /** G3: 16-bit SimHash — per-bit majority vote over md5-derived token
    * hashes (with multiplicity); ties vote 1. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(tokensExpr)).as("w"))
      .select(col("doc_id"), col("w"))
      .select(col("doc_id"),
        expr("cast(conv(substr(md5(w), 1, 4), 16, 10) as bigint)").as("h"))
      .select(col("doc_id"), col("h"),
        explode(expr("sequence(0, 15)")).as("j"))
      .groupBy("doc_id", "j")
      .agg(sum(when(expr("(h div cast(pow(2, j) as bigint)) % 2") === 1, 1)
        .otherwise(-1)).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") >= 0, expr("cast(pow(2, j) as bigint)"))
        .otherwise(0L)).as("simhash"))

  /** Default hot-shingle document-frequency cap for [[ngramJaccardTop]].
    * An uncapped inverted-index join emits df² candidate rows per
    * shingle — a stopword-like 3-shingle ("one of the", df 1e8+ on a web
    * corpus) alone produces 1e16 rows. Capping df bounds the worst
    * per-shingle emission at cap²/2 and is the standard lossy contract
    * for a top-k near-dup ranking: a shingle shared by >cap documents
    * carries ~no Jaccard signal (same reason prefix filtering excludes
    * high-df shingles from the index, SimilarityJoin.scala:28-33).
    *
    * A FIXED cap constant is scale-UNSAFE — the r14 sf10 probe proved
    * it: at a 100× corpus the organic df of cross-group shingles
    * crosses the dup-group size (~100) and the df ∈ (group, cap] tail,
    * admitted by cap=1000, emits df² pairs per shingle and exhausts
    * ~70 GB of shuffle disk (BENCH_sf10_tier2 errors).
    *
    * r16 (VERDICT r15 item 1): the density-derived cap is now the
    * DEFAULT, not a lever — this constant is the cap CEILING. Every
    * capped index derives its session cap at build time via
    * [[autoCapped]] (g26's budget rule over the index's own df
    * histogram — one combinable groupBy, a rounding error next to the
    * join it protects), clamped to [[[DefaultCapFloor]], this ceiling],
    * so a dense-corpus run with stock settings can no longer reproduce
    * the r14 df² disk death. `SPARK_GRAFT_SHINGLE_DF_CAP` overrides the
    * ceiling at class load; it is interpolated into both the Spark
    * plans and the DuckDB oracle strings from the same val, so the
    * engines stay in lockstep. [[recommendShingleDfCap]] (g26) remains
    * the registered, oracle-gated read of the same rule. */
  val DefaultShingleDfCap: Int =
    graft.Env.posInt("SPARK_GRAFT_SHINGLE_DF_CAP", 1000)

  /** G4: n-gram Jaccard over distinct 3-shingles, computed with an
    * inverted-index join (pairs sharing >= 1 shingle only), restricted
    * to shingles with document frequency <= dfCap (documented-lossy for
    * the top-k contract — see [[DefaultShingleDfCap]]). Jaccard is
    * computed consistently over the capped shingle space: both the
    * per-doc sizes and the intersections count only surviving shingles.
    * EAGER: the distinct shingle set feeds four consumers (df + sizes +
    * both join sides), so it is computed once via viaSharedScan —
    * building this DataFrame runs the job. The lazy core is
    * [[ngramJaccardJoin]], kept separate so its plan stays auditable
    * (same discipline as SimilarityJoin.prefixJoin). */
  def ngramJaccardTop(docs: DataFrame, k: Int,
                      dfCap: Option[Int] = None): DataFrame =
    viaSharedScan(shingleHashRows(docs).distinct())(ngramJaccardJoin(_, k, dfCap))

  /** The candidate pairs of the capped inverted-index join — exposed so
    * ScaleDemo can show the candidate count stays bounded under
    * replication. One row per (doc_a, doc_b) sharing >= 1 surviving
    * shingle, with their capped-space intersection size. */
  /** The df-capped distinct shingle table — the shared front of every
    * inverted-index pair operator (g4/g15). df as a map-side-combinable
    * groupBy joined back — never a window over sh_h (the same skew
    * argument as SimilarityJoin.prefixJoin: a hot shingle would
    * serialize through one window task). */
  private[graft] def cappedShingles(shingleSet: DataFrame,
      dfCap: Option[Int] = None,
      capTab: Option[DataFrame] = None): DataFrame =
    autoCapped(shingleSet, Seq("sh_h"), dfCap, capTab = capTab)

  private[graft] def ngramCandidates(shingleSet: DataFrame,
      dfCap: Option[Int] = None): DataFrame = {
    val capped = cappedShingles(shingleSet, dfCap)
    capped.as("x").join(capped.as("y"),
        col("x.sh_h") === col("y.sh_h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Cap-stress probe (VERDICT r12 item 8): append `n` exact copies of
    * one distinct-vocabulary boilerplate doc. An exact-dup group larger
    * than [[DefaultBucketDfCap]] saturates ALL of its (band, minh)
    * buckets past the cap, so [[cappedSignature]] drops the whole group
    * and [[dedupRecallCensus]] must report exactly C(n, 2) lost pairs —
    * the documented-lossy path firing at its real threshold, quantified
    * by the monitoring pair (g21 shows the df-n bucket going in, g25
    * prices the loss coming out). The probe vocabulary is disjoint from
    * any organic corpus token, so planted buckets cannot intersect
    * organic ones and the prediction is exact. */
  def plantBoilerplate(docs: DataFrame, n: Int,
                       offset: Long = 900000000L): DataFrame = {
    val text = (1 to 12).map(i => s"boilerplate_probe_token_$i").mkString(" ")
    val planted = docs.sparkSession.range(n.toLong)
      .select((col("id") + offset).as("doc_id"), lit(text).as("text"),
        lit("xx").as("lang"), lit("probe").as("source"),
        lit(text.length.toLong).as("n_chars"))
    docs.unionByName(planted)
  }

  /** g21: LSH index-health census — g19's read for the OTHER index:
    * the bucket-size profile of g2's banded minhash table, predicting
    * the candidate join's exact cost BEFORE running it (per band, the
    * pair mass Σ c·(c−1)/2 IS the number of rows the band's self-join
    * will emit). A hot bucket here means a degenerate permutation or a
    * boilerplate-dominated corpus — the two failure modes the banded
    * join inherits. Two combinable rollups; |bands| output rows. */
  def lshBucketCensus(docs: DataFrame, bands: Int = 4): DataFrame =
    lshBucketCensusFromSig(minhashSignature(docs, bands))

  /** [[lshBucketCensus]] over an existing signature table (the
    * registered g21 reads the shared session signature build). */
  private[graft] def lshBucketCensusFromSig(sig: DataFrame): DataFrame =
    sig
      .groupBy("band", "minh").agg(count(lit(1)).as("c"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"), max("c").as("max_bucket"),
        sum(expr("c * (c - 1) div 2")).as("pair_mass"))
      .orderBy("band")

  /** g24: band-agreement curve — how many candidate pairs survive each
    * AND-amplification threshold (collide in ≥ k of the 4 bands)? The
    * tuning read for [[minhashNearDups]]'s `minShared` knob: the drop
    * from k to k+1 is exactly the pair volume that extra band of
    * agreement buys, so the operator picks its precision/recall point
    * from this 4-row table instead of re-running dedup per setting.
    *
    * Scale shape: ONE signature pass and ONE (band, minh) bucket join
    * (the same join every candidate generator pays), reduced to a
    * shared-band histogram; the ladder is a cumulative window over the
    * |bands|-row spine — nothing per-pair survives the first groupBy. */
  def bandAgreementCurve(docs: DataFrame, bands: Int = 4): DataFrame =
    bandAgreementFromPairs(
      nearDupsFromSig(minhashSignature(docs, bands), 1), bands)

  /** [[bandAgreementCurve]] over an existing (doc_a, doc_b, shared_bands)
    * pair table holding every pair that shares at least one band. The
    * registered g24 reads the session-shared candidate level
    * ([[DedupQueries.sharedBandPairs]]), so it runs no bucket join of its
    * own: its plan is the histogram over the stored pairs. */
  private[graft] def bandAgreementFromPairs(pairs: DataFrame,
      bands: Int = 4): DataFrame = {
    val hist = pairs
      .groupBy("shared_bands").agg(count(lit(1)).as("n"))
    val spine = pairs.sparkSession.range(1, bands + 1)
      .select(col("id").as("min_bands"))
    val cw = Window.orderBy(col("min_bands").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(hist.withColumnRenamed("shared_bands", "min_bands"),
        Seq("min_bands"), "left")
      .select(col("min_bands"), coalesce(col("n"), lit(0L)).as("n_exact"))
      .select(col("min_bands"), col("n_exact"),
        sum("n_exact").over(cw).as("n_pairs"))
      .orderBy("min_bands")
  }

  /** g19: inverted-index health census — the df distribution that
    * justifies g4's hot-shingle cap, as a first-class profiling query a
    * pipeline runs BEFORE choosing the cap. Per decimal order of
    * magnitude of df (digit-count bins: exact, portable, no libm log):
    * shingle count, posting mass (Σdf — index size), and the pair mass
    * an UNCAPPED inverted index would emit (Σ df·(df−1)/2, the df²
    * blow-up made visible as a number). Both rollups are combinable;
    * output is ≤ ~10 rows at any corpus size. */
  def shingleDfCensus(docs: DataFrame): DataFrame =
    dfCensusFromShingles(shingleHashRows(docs).distinct())

  /** [[shingleDfCensus]] over an existing DISTINCT (doc_id, sh_h) table
    * (the registered g19 reads the shared session shingle build). */
  private[graft] def dfCensusFromShingles(shingles: DataFrame): DataFrame =
    shingles
      .groupBy("sh_h").agg(count(lit(1)).as("df"))
      .select(expr("cast(length(cast(df as string)) as bigint)")
        .as("df_digits"), col("df"))
      .groupBy("df_digits")
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("postings"),
        sum(expr("df * (df - 1) div 2")).as("pair_candidates"))
      .orderBy("df_digits")

  /** Per-document candidate-pair budget for [[recommendShingleDfCap]]:
    * the admitted inverted-index emission is bounded at budget × |docs|
    * — LINEAR in corpus size by construction. Sized from the r15 sf10
    * g19 census: a 100×-duplicated corpus measures ~68 GENUINE dup
    * pairs/doc (the df < group-size bins hold 34M of the 5.5G uncapped
    * pairs; everything above is the df² cross-group tail that melted
    * the r14 run), so 256/doc affords full recall on that density with
    * ~4× headroom. Cost meaning: budget × |docs| × 16 B is the shuffle
    * the candidate join ships — 256/doc keeps a 1e9-doc corpus at
    * ~4 TB cluster-wide, while the r14 failure (cap 1000 ≈ 11000
    * admitted pairs/doc at sf10) is exactly what an over-generous
    * budget reproduces. */
  val DefaultCapBudgetPerDoc = 256L

  /** Recall floor for [[recommendShingleDfCap]]: the cap never drops
    * below this, so dup groups up to ~64 copies keep their
    * discriminative shingles even on corpora whose organic density
    * would price the budget rule lower. */
  val DefaultCapFloor = 64

  /** The g26 budget rule as a one-row (`cap`) derivation over an
    * arbitrary document-frequency table `dfTab` (one `df` row per index
    * key) and a one-row doc count `nd` (`n_docs`): admit df levels
    * ascending while the cumulative uncapped pair mass
    * Σ n_keys(df)·df(df−1)/2 stays within `budgetPerDoc × n_docs`,
    * clamp to [floorCap, ceilCap]. The rule's in-plan form, built on
    * [[budgetWindow]] as [[recommendShingleDfCap]] (g26) is, so every
    * capped index can apply it in-plan; [[budgetRule]] is its driver
    * form. CapDerivationSpec pins the three equal. */
  private[graft] def budgetCap(dfTab: DataFrame, nd: DataFrame,
      budgetPerDoc: Long = DefaultCapBudgetPerDoc,
      floorCap: Int = DefaultCapFloor,
      ceilCap: Int = DefaultShingleDfCap): DataFrame = {
    val (_, rec0) = budgetWindow(dfTab, nd, budgetPerDoc, ceilCap)
    rec0.select(clampCap(floorCap, ceilCap).as("cap"))
  }

  /** The in-plan half of the budget rule, shared by [[budgetCap]] and
    * [[recommendShingleDfCap]]: the cumulative pair mass per admitted df
    * level (`df`, `cum_pairs`; ≤ ceilCap rows, so the single-partition
    * cumulative window is bounded by the cap ceiling, never by corpus
    * size) and the largest df whose mass fits the budget (one row,
    * `rec0`, null when none does). */
  private def budgetWindow(dfTab: DataFrame, nd: DataFrame,
      budgetPerDoc: Long, ceilCap: Int): (DataFrame, DataFrame) = {
    val hist = dfTab.where(col("df").between(2, ceilCap))
      .groupBy("df")
      .agg((count(lit(1)) * expr("df * (df - 1) div 2")).as("pairs"))
    val cw = Window.orderBy("df")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.select(col("df"), sum("pairs").over(cw).as("cum_pairs"))
    val rec0 = cum.crossJoin(broadcast(nd))
      .where(col("cum_pairs") <= col("n_docs") * budgetPerDoc)
      .agg(max(col("df")).as("rec0"))
    (cum, rec0)
  }

  /** `rec0` clamped to [floorCap, ceilCap], floorCap when null. */
  private def clampCap(floorCap: Int, ceilCap: Int): Column =
    greatest(lit(floorCap.toLong), least(lit(ceilCap.toLong),
      coalesce(col("rec0"), lit(floorCap.toLong))))

  /** [[budgetCap]]'s rule on the driver, over a df → key-count histogram
    * (levels outside [2, ceilCap] are ignored) and a document count: the
    * same arithmetic, with no Spark job. CapDerivationSpec pins the two
    * equal. [[bandPairs]] applies it to the histogram its bucket pass
    * collected. */
  private[graft] def budgetRule(hist: collection.Map[Long, Long], nDocs: Long,
      budgetPerDoc: Long = DefaultCapBudgetPerDoc,
      floorCap: Int = DefaultCapFloor,
      ceilCap: Int = DefaultShingleDfCap): Long = {
    val levels = hist.toSeq
      .filter { case (df, _) => df >= 2 && df <= ceilCap }.sortBy(_._1)
    val cum = levels
      .scanLeft(0L) { case (c, (df, n)) => c + n * (df * (df - 1) / 2) }.tail
    val rec0 = levels.map(_._1).zip(cum)
      .collect { case (df, c) if c <= nDocs * budgetPerDoc => df }
      .maxOption
    floorCap.toLong max (ceilCap.toLong min rec0.getOrElse(floorCap.toLong))
  }

  /** Density-derived df-capped index over a (doc_id, keys...) table —
    * THE default capping path since r16 (VERDICT r15 item 1: a fixed
    * default cap re-created the measured r14 df² disk death on a dense
    * corpus; the in-repo fix, g26's budget rule, existed but was
    * opt-in). The per-key df is a map-side-combinable groupBy joined
    * back (never a window over the key — a hot key would serialize
    * through one window task); the derived cap rides in as a broadcast
    * 1-row crossJoin, so the whole derivation stays in-plan: no
    * collect, no driver round-trip, and the identical-subtree df
    * exchange is deduplicated by runtime exchange reuse. `fixedCap`
    * (the per-call override and the env-ceiling escape hatch) bypasses
    * the derivation entirely — that is the pre-r16 behavior, kept for
    * specs that pin exact caps. This is the lazy per-plan path (g2's
    * lazy core, g13, g25/g30's augmented tables, the shingle and winnow
    * indexes); the session-shared LSH candidate level applies the same
    * rule from its own bucket pass instead ([[bandPairs]]). */
  private[graft] def autoCapped(tbl: DataFrame, keys: Seq[String],
      fixedCap: Option[Int] = None,
      ceilCap: Int = DefaultShingleDfCap,
      capTab: Option[DataFrame] = None): DataFrame = {
    val kc = keys.map(col)
    val outCols = col("doc_id") +: kc
    val dfTab = tbl.groupBy(kc: _*).agg(count(lit(1)).as("df"))
    fixedCap match {
      case Some(c) =>
        tbl.join(dfTab.where(col("df") <= c), keys).select(outCols: _*)
      case None =>
        // capTab (VERDICT r16 item 1): the session-shared 1-row derived
        // cap — value-identical to deriving here (CapDerivationSpec pins
        // it), but the histogram + n_docs aggregates run once per
        // session instead of once per query plan. Only passed when
        // `tbl` IS the session-shared index the cap was derived from;
        // subset/augmented inputs (g13, g25/g30) must keep the in-plan
        // derivation because their density differs from the corpus's.
        val cap = capTab.getOrElse(derivedCap(tbl, keys, ceilCap))
        tbl.join(dfTab, keys).crossJoin(broadcast(cap))
          .where(col("df") <= col("cap"))
          .select(outCols: _*)
    }
  }

  /** The in-plan cap derivation [[autoCapped]] applies when no
    * precomputed cap is supplied — split out so the session-shared cap
    * tables (DedupQueries.sharedShingleCap & co.) are built from the
    * SAME code path and cannot drift from the per-plan rule. */
  private[graft] def derivedCap(tbl: DataFrame, keys: Seq[String],
      ceilCap: Int): DataFrame = {
    val dfTab = tbl.groupBy(keys.map(col): _*).agg(count(lit(1)).as("df"))
    val nd = tbl.agg(countDistinct(col("doc_id")).as("n_docs"))
    budgetCap(dfTab.select(col("df")), nd, ceilCap = ceilCap)
  }

  /** g26: density-derived shingle df-cap recommendation — the
    * scale-aware replacement for a fixed cap constant, priced from the
    * corpus's own df distribution (the r14 sf10 finding: cap=1000
    * admits the df ∈ (dup-group-size, cap] tail whose emission is df²
    * per shingle). Rule: walk df levels ascending and admit while the
    * cumulative UNCAPPED pair mass Σ n_shingles(df)·df(df−1)/2 stays
    * within a LINEAR per-document budget; the recommendation is the
    * largest admitted df, clamped to [floorCap, ceilCap]. Low-df
    * (discriminative, recall-bearing) shingles are admitted first, so
    * the rule cuts exactly the quadratic tail and nothing else.
    *
    * Scale shape: the df table is one combinable groupBy over the
    * shingle index; the histogram is ≤ ceilCap rows, so its cumulative
    * window and the 1-row joins after it are driver-trivial at ANY
    * corpus size. Output: one row — n_docs, budget_pairs,
    * recommended_cap, admitted_pairs (the emission the cap buys). */
  def recommendShingleDfCap(shingleSet: DataFrame,
      budgetPerDoc: Long = DefaultCapBudgetPerDoc,
      floorCap: Int = DefaultCapFloor,
      ceilCap: Int = DefaultShingleDfCap): DataFrame = {
    val dfTab = shingleSet.groupBy("sh_h").agg(count(lit(1)).as("df"))
    val nd = shingleSet.agg(countDistinct(col("doc_id")).as("n_docs"))
    val (cum, rec0) = budgetWindow(dfTab, nd, budgetPerDoc, ceilCap)
    val rec = nd.crossJoin(broadcast(rec0))
      .select(col("n_docs"),
        (col("n_docs") * budgetPerDoc).as("budget_pairs"),
        clampCap(floorCap, ceilCap).as("recommended_cap"))
    // admitted_pairs reports the mass at the FINAL (clamped) cap — when
    // the floor overrides the budget rule, the over-budget cost of the
    // recall floor is visible in-result, not hidden
    rec.join(cum, col("df") <= col("recommended_cap"), "left")
      .groupBy("n_docs", "budget_pairs", "recommended_cap")
      .agg(coalesce(max("cum_pairs"), lit(0L)).as("admitted_pairs"))
  }

  /** The lazy capped inverted-index Jaccard join over a distinct
    * (doc_id, sh_h) shingle table. The per-doc sizes table is one row
    * per document — unbounded at corpus scale — so it is deliberately
    * NOT broadcast-hinted: the join shuffles on the doc id (AQE may
    * still choose a broadcast at runtime from measured sizes, which is
    * fine; an unconditional hint OOMs the driver at 1e9 documents). */
  private[graft] def ngramJaccardJoin(shingleSet: DataFrame, k: Int,
                                      dfCap: Option[Int] = None,
                                      capTab: Option[DataFrame] = None): DataFrame = {
    val capped = cappedShingles(shingleSet, dfCap, capTab)
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = capped.as("x").join(capped.as("y"),
        col("x.sh_h") === col("y.sh_h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jac"))
      .orderBy(col("jac").desc, col("doc_a"), col("doc_b"))
      .limit(k)
      .select(col("doc_a"), col("doc_b"), pround(col("jac"), 6).as("jaccard"))
  }

  /** G15: asymmetric shingle CONTAINMENT — inter / min(|A|, |B|), the
    * doc-in-doc signal Jaccard misses: a page quoted whole inside a
    * 100× larger page has Jaccard ≈ 0.01 but containment ≈ 1.0
    * (Broder's resemblance-vs-containment distinction). Same df-capped
    * inverted-index core as g4 (shared [[cappedShingles]] front, same
    * bounded candidate emission), different score. EAGER — see
    * [[ngramJaccardTop]]. */
  def containmentTop(docs: DataFrame, k: Int,
                     dfCap: Option[Int] = None): DataFrame =
    viaSharedScan(shingleHashRows(docs).distinct())(containmentJoin(_, k, dfCap))

  /** The lazy containment join — split out so its plan stays auditable
    * (the public entry wraps it in an eager checkpoint). Per-doc sizes
    * are NOT broadcast-hinted (unbounded at corpus scale — the g4
    * argument verbatim). */
  private[graft] def containmentJoin(shingleSet: DataFrame, k: Int,
                                     dfCap: Option[Int] = None,
                                     capTab: Option[DataFrame] = None): DataFrame = {
    val capped = cappedShingles(shingleSet, dfCap, capTab)
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = capped.as("x").join(capped.as("y"),
        col("x.sh_h") === col("y.sh_h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("inter").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("cont"))
      .orderBy(col("cont").desc, col("doc_a"), col("doc_b"))
      .limit(k)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        pround(col("cont"), 6).as("containment"))
  }

  /** G16: cross-source near-dup overlap census — the y4 threshold
    * similarity join rolled up to an ordered (source, source) matrix:
    * how much does each pair of ingest feeds duplicate each other?
    * The per-source census a curation pipeline consults before
    * admitting a new feed (a source whose rows are mostly near-dups of
    * an existing one adds bytes, not information).
    *
    * Scale shape: the pair table is the already-pruned y4 output
    * (prefix-filtered, threshold-selected — NOT all pairs), the
    * doc→source joins shuffle on doc ids (unhinted: pairs can be large
    * on a duplicate-heavy corpus, sources table is corpus-sized; AQE
    * picks the build side from measured sizes), and the final matrix
    * is at most |sources|² rows out of a map-side-combinable groupBy.
    * Mean Jaccard sums micro-quantized integers, so aggregation order
    * cannot shift it. */
  def sourceOverlap(docs: DataFrame, t: Double): DataFrame =
    sourceOverlapFromPairs(docs, SimilarityJoin.jaccardThresholdJoin(docs, t))

  /** [[sourceOverlap]]'s rollup over an existing (doc_a, doc_b, jaccard)
    * pair table — the registered g16 reads the shared session
    * threshold-join build instead of re-running the exact join. */
  private[graft] def sourceOverlapFromPairs(docs: DataFrame,
      jacPairs: DataFrame): DataFrame = {
    val pairs = jacPairs
      .select(col("doc_a"), col("doc_b"),
        expr("cast(floor(jaccard * 1000000.0 + 0.5) as bigint)").as("mj"))
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "src_a"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "src_b"), "doc_b")
      .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("mj")).as("sj"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        pround(col("sj").cast("double") / 1000000.0 /
          col("n_pairs").cast("double"), 6).as("mean_jaccard"))
      .orderBy("source_a", "source_b")
  }
}

object DedupQueries {
  import Dedup._
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Session-shared materialized cluster-label table for the cluster
    * family (g6 labels / g11 reps / g17 sizes). Production discipline:
    * signatures, candidate pairs and cluster labels are computed ONCE
    * per corpus and persisted as a table; every downstream consumer
    * reads that table instead of re-paying the shingle scan + bucket
    * join + contraction loop per query (the r11 verdict's #2: g11/g17
    * each re-ran the full candidate build g6 had already paid). Keyed
    * by (session, dir); the value is the [[Dedup.dedupClusters]] output,
    * whose final frame is already Materialize'd — holding the reference
    * keeps the stored blocks alive for the session. Content is
    * byte-identical to a fresh build, so which query populates the
    * cache first cannot change any result. */
  private[graft] def sharedClusters(s: SparkSession, d: String): DataFrame =
    SharedBuild(s, d, "clusters")(dedupClusters(sharedCandidates(s, d)))

  /** Session-shared materialized LSH candidate level — the same
    * persisted-table discipline one level lower: the capped (band, minh)
    * bucket pairing over [[sharedSignatures]] runs ONCE per corpus. The
    * level stores (doc_a, doc_b, shared_bands): every pair (doc_a <
    * doc_b) colliding in at least one capped bucket, with the number of
    * bands it collides in — the rows of [[Dedup.nearDupsFromSig]] at
    * `minShared = 1`, built by [[Dedup.bandPairs]]'s one bounded pass per
    * bucket, which also derives the bucket cap (the g26 budget rule,
    * ceiling [[Dedup.DefaultBucketDfCap]]) from the same job, so no cap
    * table is built. Readers: the pair graph [[sharedCandidates]], the
    * full-band near-dup audits e4/e5 (`shared_bands >= 4`) and g24's
    * band-agreement histogram. The pair table is tiny relative to the
    * corpus (bounded by Σ min(df,cap)²/2 over buckets), so materializing
    * it is cheap; content is independent of which query builds it
    * first. */
  private[graft] def sharedBandPairs(s: SparkSession, d: String): DataFrame =
    candidateLevel(s, d)._1

  /** The bucket cap the candidate level's build derived and applied. */
  private[graft] def candidateBucketCap(s: SparkSession, d: String): Long =
    candidateLevel(s, d)._2

  private def candidateLevel(s: SparkSession, d: String): (DataFrame, Long) =
    SharedBuild(s, d, "candidates")(bandPairs(sharedSignatures(s, d)))

  /** The LSH candidate-pair graph (doc_a, doc_b): the pair projection of
    * [[sharedBandPairs]], whose rows are already distinct pairs. Every
    * consumer of the candidate graph ([[sharedClusters]], g2b and the
    * graph analytics g9/g22/g23) reads it. */
  private[graft] def sharedCandidates(s: SparkSession, d: String): DataFrame =
    sharedBandPairs(s, d).select(col("doc_a"), col("doc_b"))

  /** Docs a full-band near-dup rule drops: `doc_b` of every candidate
    * pair sharing all 4 bands (the g2c/g13 convention), read from
    * [[sharedBandPairs]]. */
  private[graft] def sharedFullBandDropped(s: SparkSession,
      d: String): DataFrame =
    sharedBandPairs(s, d).where(col("shared_bands") >= 4)
      .select(col("doc_b").as("doc_id")).distinct()

  /** Session-shared materialized DISTINCT (doc_id, sh_h) shingle table —
    * the bottom of the shingle half of the shared-build ladder (the
    * signature half, signatures → candidates → clusters, reads
    * `documents` directly). Every shingle consumer (inverted-index joins g4/g15,
    * df census g19, contamination y3, dup-exposure y8, the prefix-
    * filtered exact join) reads this one stored table; at warehouse
    * scale it is THE persisted shingle index a pipeline maintains,
    * computed at ingest and read by every dedup/similarity job. Content
    * is a pure function of the corpus, so populate order cannot change
    * any result. */
  private[graft] def sharedShingles(s: SparkSession, d: String): DataFrame =
    SharedBuild(s, d, "shingles")(Materialize.frame(
      shingleHashRows(docs(s, d)).distinct()))

  /** Session-shared materialized 4-band minhash signature table: one
    * narrow pass of [[Dedup.minhashSignature]] over `documents`, which
    * never builds [[sharedShingles]]. Consumers: the candidate build
    * (which e4, e5 and g24 read, and which derives the bucket cap), the
    * uncapped bucket census g21, the split incremental g13 (signatures
    * are per-doc, so a doc-subset's table is a doc_id filter of this
    * one) and g25's augmented table. */
  private[graft] def sharedSignatures(s: SparkSession, d: String): DataFrame =
    SharedBuild(s, d, "signatures")(Materialize.frame(
      minhashSignature(docs(s, d), 4)))

  /** Session-shared materialized exact threshold-Jaccard pair table
    * (prefix-filtered All-Pairs join at t = 0.5 over [[sharedShingles]])
    * — the truth-set side of the dedup-quality family. y4 returns it,
    * g16 rolls it up by source, g14 grades the LSH candidates against
    * it; before this table existed each of the three re-ran the full
    * exact join. */
  private[graft] def sharedJaccardPairs(s: SparkSession, d: String): DataFrame =
    // r16: reads the BUCKETED shingle index — the prefix table's df
    // groupBy and df join-back inherit the sh_h bucket layout (zero
    // Exchange until the per-doc windows), amortizing the one write
    // across the y4/g14/g16 family
    SharedBuild(s, d, "jaccard")(Materialize.frame(
      SimilarityJoin.prefixJoin(sharedBucketedShingles(s, d), 0.5)))

  /** Session-shared materialized winnow-fingerprint table (t15's
    * (doc_id, fp_pos, fp) selection over the positional shingle
    * sequence). The winnowed index is the ~2/(w+1)-density sibling of
    * [[sharedShingles]] — the table a MOSS-style pipeline persists —
    * and positions don't survive the distinct shingle set, so it is its
    * own build, not derivable from the shingle table. t15 returns it;
    * y9's candidate join reads it instead of re-winnowing the corpus. */
  private[graft] def sharedWinnowFps(s: SparkSession, d: String): DataFrame =
    SharedBuild(s, d, "winnow")(Materialize.frame(
      TextAnalysis.winnowFingerprints(docs(s, d))))

  /** Session-shared BUCKETED shingle index (VERDICT r14 item 6): the
    * distinct (doc_id, sh_h) table written ONCE per (session, dir) as a
    * parquet table bucketed+sorted by sh_h — the q50 write-time-shuffle
    * lever applied to the dedup ladder. Every sh_h-keyed step of the
    * candidate build (the df groupBy, the df join-back, the inverted-
    * index self-join) then runs with ZERO Exchange below the pair
    * aggregation, because every operator's required distribution is
    * already the bucket layout. At 100 TB this is THE recurring cost
    * the ladder pays per session today: the shingle index re-shuffles
    * on sh_h once per join — bucketing at ingest pays that shuffle
    * exactly once, at write time. Temp dir tracked/purged via
    * [[graft.SharedBuild]] hygiene.
    *
    * r16 (VERDICT r15 item 4): this is now the candidate FRONT of the
    * whole sh_h ladder, not a g29-only demonstration — g15's
    * containment join and the exact threshold join behind y4/g14/g16
    * read it too, so the one write is amortized across every consumer
    * (g29 measured the solo trade as break-even: the write costs what
    * one join saves; with 3+ readers per session the layout wins
    * outright). g4 deliberately stays on the unbucketed shared table as
    * the measured contrast (the bucketed-vs-not family bench row). */
  private[graft] def sharedBucketedShingles(s: SparkSession, d: String): DataFrame =
    graft.sources.Bucketing.sharedBucketedTable(s, d, "shingles", "sh_h",
      () => sharedShingles(s, d))

  /** Session-shared BUCKETED winnow-fingerprint index: the DISTINCT
    * (doc_id, fp) projection of [[sharedWinnowFps]], bucketed+sorted by
    * fp — the same write-time-shuffle lever for the winnow ladder
    * (y9/g27/g28's candidate fronts are fp-keyed: the df groupBy, the
    * df join-back and the inverted-index self-join all inherit the
    * bucket layout). The distinct runs once, at write time: the winnow
    * table keys fingerprints by position, and every candidate consumer
    * first collapses to the (doc_id, fp) set — pre-collapsing in the
    * layout removes that exchange from every read. At 100 TB this IS
    * the persisted fingerprint index a MOSS-style pipeline maintains
    * (the cheap estimator lane — the r16 budget-matched g28/g30
    * censuses adjudicated banded LSH the default candidate generator,
    * winnow recall 0.754/0.579 vs LSH 0.878/0.995 at sf10). */
  private[graft] def sharedBucketedWinnowFps(s: SparkSession, d: String): DataFrame =
    graft.sources.Bucketing.sharedBucketedTable(s, d, "winnowfp", "fp",
      () => sharedWinnowFps(s, d).select(col("doc_id"), col("fp")).distinct())

  /** Session-shared 1-row derived-cap tables (VERDICT r16 item 1): the
    * [[Dedup.autoCapped]] derivation — df histogram + n_docs + budget
    * walk — is a pure function of the session-shared index it caps, yet
    * it re-ran inside EVERY consumer's query plan (the measured bulk of
    * the r16 +11.6% sf0.1 sweep creep, and several redundant 1-row jobs
    * per sf10 query group). Each index's cap is now derived ONCE per
    * (session, dir) through the same [[Dedup.derivedCap]] code path the
    * per-plan rule uses (CapDerivationSpec pins shared ≡ per-plan),
    * materialized as a 1-row table, and handed to consumers via
    * `capTab` — their plans broadcast-crossJoin the stored row instead
    * of re-aggregating the index. ONLY full-corpus consumers read these:
    * g13 (doc-subset index side) and g25/g30 (augmented corpora) keep
    * the in-plan derivation because their input density differs. The
    * LSH bucket index has no cap table: [[sharedBandPairs]]' build
    * derives its cap from its own bucket pass. */

  /** Derived df cap for the shingle index (g4/g15/g29's `sh_h` key).
    * Built from [[sharedShingles]] — the bucketed projection has
    * identical content, so one cap serves both layouts. */
  private[graft] def sharedShingleCap(s: SparkSession, d: String): DataFrame =
    SharedBuild(s, d, "cap:sh_h")(Materialize.frame(
      Dedup.derivedCap(sharedShingles(s, d), Seq("sh_h"),
        Dedup.DefaultShingleDfCap)))

  /** Derived df cap for the winnow fingerprint index (`fp` —
    * y9/g27/g28), over the distinct (doc_id, fp) projection the
    * bucketed layout stores. */
  private[graft] def sharedWinnowCap(s: SparkSession, d: String): DataFrame =
    SharedBuild(s, d, "cap:fp")(Materialize.frame(
      Dedup.derivedCap(
        sharedWinnowFps(s, d).select(col("doc_id"), col("fp")).distinct(),
        Seq("fp"), Dedup.DefaultShingleDfCap)))

  private val toksSql = "list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '')"

  /** DuckDB mirror of [[Dedup.autoCapped]]: a CTE chain that derives the
    * density cap over `src` (a relation with doc_id + `keys`) and emits
    * `<p>capped` — the cap-filtered index — plus `<p>cap` (one row,
    * `cap`). The budget/floor/ceiling constants interpolate from the
    * SAME vals the Spark side reads, so the engines cannot desync; every
    * oracle whose Spark twin joins a capped index chains this builder.
    * `p` prefixes the intermediate CTE names so several derivations can
    * coexist in one statement. */
  private[operators] def autoCappedSqlCtes(src: String, keys: Seq[String],
      p: String, ceil: Int = Dedup.DefaultShingleDfCap): String = {
    val kl = keys.mkString(", ")
    s"""${p}df AS (SELECT $kl, count(*) AS df FROM $src GROUP BY $kl),
       |${p}hist AS (SELECT df, CAST(count(*) * (df * (df - 1) // 2) AS BIGINT) AS pairs
       |            FROM ${p}df WHERE df BETWEEN 2 AND $ceil GROUP BY df),
       |${p}cum AS (SELECT df, CAST(sum(pairs) OVER (ORDER BY df) AS BIGINT) AS cum_pairs
       |           FROM ${p}hist),
       |${p}nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM $src),
       |${p}cap AS (SELECT greatest(${Dedup.DefaultCapFloor}, least($ceil,
       |             coalesce((SELECT max(df) FROM ${p}cum CROSS JOIN ${p}nd
       |                       WHERE cum_pairs <= n_docs * ${Dedup.DefaultCapBudgetPerDoc}),
       |                      ${Dedup.DefaultCapFloor}))) AS cap),
       |${p}capped AS (SELECT s.doc_id, ${keys.map("s." + _).mkString(", ")}
       |              FROM $src s JOIN ${p}df USING ($kl) CROSS JOIN ${p}cap
       |              WHERE ${p}df.df <= ${p}cap.cap)""".stripMargin
  }

  /** Shared DuckDB CTE chain producing the 4-band minhash signature
    * table `sig` (mirror of [[Dedup.minhashSignature]]). Prepend
    * [[shinglesSqlCte]]. */
  private[operators] lazy val sigSqlCtes =
    s"""hh AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 14))::BIGINT AS h FROM sh),
       |b AS (SELECT doc_id, h, unnest(range(0, 4)) AS band FROM hh),
       |sig AS (
       |  SELECT doc_id, band,
       |         min(${Dedup.affinePermSqlDuck("band", "h")}) AS minh
       |  FROM b GROUP BY doc_id, band)""".stripMargin

  /** [[sigSqlCtes]] plus the DENSITY-DERIVED bucket-df cap producing
    * `sigc` — the DuckDB mirror of [[Dedup.cappedSignature]] (g26's
    * budget rule over the bucket-size histogram, ceiling
    * [[Dedup.DefaultBucketDfCap]]). Every oracle whose Spark twin joins
    * capped signatures uses `sigc`, so the correctness gate checks the
    * derived-cap semantics end-to-end (at sf0.01 the max bucket is 5 <<
    * the 64 floor, so this also equals the uncapped answer). */
  private[operators] lazy val cappedSigSqlCtes =
    s"""$sigSqlCtes,
       |${autoCappedSqlCtes("sig", Seq("band", "minh"), "b",
          ceil = Dedup.DefaultBucketDfCap)},
       |sigc AS (SELECT doc_id, band, minh FROM bcapped)""".stripMargin

  /** [[shinglesSqlCte]] over an arbitrary (doc_id, text) relation —
    * g25 runs the chain over an AUGMENTED corpus CTE. */
  private[operators] def shinglesSqlCteOn(table: String): String =
    s"""toks AS (SELECT doc_id, $toksSql AS t FROM $table),
       |sh AS (
       |  SELECT doc_id,
       |         unnest(CASE WHEN len(t) >= 3
       |                THEN list_transform(range(1, len(t) - 1),
       |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |                ELSE CAST([] AS VARCHAR[]) END) AS sh
       |  FROM toks)""".stripMargin

  private[operators] val shinglesSqlCte = shinglesSqlCteOn("documents")

  /** g4's oracle — a named val because g29 (the bucketed-layout variant)
    * returns the same ANSWER from a different physical plan, and sharing
    * the text keeps the two gates from drifting. */
  private[operators] lazy val g4OracleSql =
    s"""WITH $shinglesSqlCte,
       |ss0 AS (SELECT DISTINCT doc_id,
       |         ('0x' || substr(md5(sh), 1, 14))::BIGINT AS sh_h FROM sh),
       |${autoCappedSqlCtes("ss0", Seq("sh_h"), "g")},
       |ss AS (SELECT doc_id, sh_h FROM gcapped),
       |sz AS (SELECT doc_id, count(*) AS n FROM ss GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM ss x JOIN ss y ON x.sh_h = y.sh_h AND x.doc_id < y.doc_id
       |  GROUP BY doc_a, doc_b),
       |j AS (
       |  SELECT doc_a, doc_b,
       |         CAST(inter AS DOUBLE) / CAST(a.n + b.n - inter AS DOUBLE) AS jac
       |  FROM inter
       |  JOIN sz a ON a.doc_id = doc_a
       |  JOIN sz b ON b.doc_id = doc_b)
       |SELECT doc_a, doc_b, floor(jac * 1000000.0 + 0.5) / 1000000.0 AS jaccard
       |FROM j ORDER BY jac DESC, doc_a, doc_b LIMIT 20""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("g1_exact_dedup",
      (s, d) => exactDedup(docs(s, d)).orderBy("doc_id"),
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
             |FROM (SELECT doc_id,
             |             lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))) AS norm
             |      FROM documents)
             |GROUP BY norm ORDER BY doc_id""".stripMargin),
      doc = "G1 exact dedup via hash groupBy on normalized text"),

    Q("g18_cross_lang_dup",
      (s, d) => crossLangDupCensus(docs(s, d)),
      Some(s"""WITH p AS (
              |  SELECT array_to_string(
              |           list_transform(($toksSql)[1:5], x -> lower(x)), ' ') AS pre,
              |         lang
              |  FROM documents),
              |g AS (
              |  SELECT pre, count(*) AS nd,
              |         array_to_string(list_sort(list(DISTINCT lang)), ',') AS lang_set
              |  FROM p GROUP BY pre)
              |SELECT lang_set, count(*) AS n_groups,
              |       CAST(sum(nd) AS BIGINT) AS n_docs
              |FROM g WHERE nd > 1
              |GROUP BY lang_set ORDER BY lang_set""".stripMargin),
      doc = "cross-language shared-opening census: g1's dedup skeleton " +
        "keyed on the lowercased 5-token prefix (bounded-width key), " +
        "|langs|-bounded sorted lang-set — separates template families " +
        "from cross-lang boilerplate before mixture weighting"),

    Q("g8_incremental_dedup",
      (s, d) => exactDedupIncremental(
          docs(s, d).where(col("doc_id") < 250),
          docs(s, d).where(col("doc_id") >= 250))
        .orderBy("doc_id"),
      Some("""WITH e AS (
             |  SELECT DISTINCT lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))) AS norm
             |  FROM documents WHERE doc_id < 250),
             |i AS (
             |  SELECT doc_id, lower(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))) AS norm
             |  FROM documents WHERE doc_id >= 250)
             |SELECT min(doc_id) AS doc_id, count(*) AS n_copies
             |FROM i
             |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.norm = i.norm)
             |GROUP BY i.norm ORDER BY doc_id""".stripMargin),
      doc = "G1b incremental dedup: new batch anti-joined against the " +
        "existing corpus's norm index, then deduped within itself"),

    Q("g2_minhash_sig",
      (s, d) => sharedSignatures(s, d).orderBy("doc_id", "band"),
      Some(s"""WITH $shinglesSqlCte,
              |$sigSqlCtes
              |SELECT doc_id, band, minh
              |FROM sig ORDER BY doc_id, band""".stripMargin),
      doc = "G2a banded MinHash signatures (one md5 per shingle + affine band permutations)"),

    Q("g2_minhash_pairs",
      (s, d) => sharedCandidates(s, d).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $shinglesSqlCte,
              |$cappedSigSqlCtes
              |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |FROM sigc a JOIN sigc b
              |  ON a.band = b.band AND a.minh = b.minh AND a.doc_id < b.doc_id
              |ORDER BY doc_a, doc_b""".stripMargin),
      doc = "G2b LSH candidate pairs: equality join on (band, min-hash) " +
        "bucket, hot buckets with df > cap excluded (documented-lossy — " +
        "bounds any bucket's emission at cap^2/2; g21 monitors uncapped)"),

    Q("g3_simhash",
      (s, d) => simhash(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
              |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 4))::BIGINT AS h FROM toks),
              |bits AS (
              |  SELECT doc_id, j,
              |         sum(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
              |                  THEN 1 ELSE -1 END) AS s
              |  FROM h, (SELECT unnest(range(0, 16)) AS j)
              |  GROUP BY doc_id, j)
              |SELECT doc_id,
              |       CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
              |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      doc = "G3 16-bit SimHash: per-bit majority of md5-derived token hashes"),

    Q("g5_embedding_neardup",
      (s, d) => Similarity.embeddingNearDupTop(Tables.embeddings(s, d), 4, 20),
      Some(s"""WITH ${SimilarityQueries.fixedSqlCte},
              |b AS (
              |  SELECT vec_id, ${SimilarityQueries.bucketSqlExpr} AS bucket
              |  FROM n),
              |nb AS (
              |  SELECT n.vec_id, n.f, n.nrm, b.bucket
              |  FROM n JOIN b ON n.vec_id = b.vec_id),
              |p AS (
              |  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
              |         ${SimilarityQueries.pairCosSql("a", "c")} AS cos
              |  FROM nb a JOIN nb c
              |    ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
              |SELECT vec_a, vec_b, floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
              |FROM p ORDER BY cos DESC, vec_a, vec_b LIMIT 20""".stripMargin),
      doc = "G5 embedding-cosine near-dup: exact cosine only within LSH buckets"),

    Q("g6_dedup_clusters",
      (s, d) => sharedClusters(s, d).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $shinglesSqlCte,
              |$cappedSigSqlCtes,
              |pairs AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM sigc a JOIN sigc b
              |    ON a.band = b.band AND a.minh = b.minh AND a.doc_id < b.doc_id),
              |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              |      UNION ALL SELECT doc_b, doc_a FROM pairs),
              |walk(node, lbl) AS (
              |  SELECT src, src FROM e
              |  UNION
              |  SELECT e.src, walk.lbl FROM e JOIN walk ON e.dst = walk.node)
              |SELECT node AS doc_id, min(lbl) AS cluster
              |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin),
      doc = "G6 dedup clusters: connected components of the LSH candidate " +
        "graph via min-label propagation (oracle: recursive CTE); serves " +
        "from the session-shared persisted label table — one signature + " +
        "bucket-join + contraction build for the whole g6/g11/g17 family"),

    Q("g13_incremental_neardup",
      (s, d) => incrementalFromSig(
          sharedSignatures(s, d).where(col("doc_id") % 2 === 0),
          sharedSignatures(s, d).where(col("doc_id") % 2 === 1))
        .orderBy("doc_id"),
      Some(s"""WITH $shinglesSqlCte,
              |$sigSqlCtes,
              |e0 AS (SELECT doc_id, band, minh FROM sig
              |       WHERE doc_id % 2 = 0),
              |${autoCappedSqlCtes("e0", Seq("band", "minh"), "ex",
                 ceil = Dedup.DefaultBucketDfCap)},
              |e AS (SELECT band, minh, doc_id AS corpus_doc FROM excapped),
              |i AS (SELECT doc_id, band, minh FROM sig WHERE doc_id % 2 = 1)
              |SELECT i.doc_id,
              |       CAST(count(DISTINCT i.band) AS BIGINT) AS n_bands_hit,
              |       min(e.corpus_doc) AS first_match
              |FROM i JOIN e ON e.band = i.band AND e.minh = i.minh
              |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin),
      doc = "G2c incremental near-dup: batch signatures equality-joined " +
        "against the persisted corpus signature index on (band, minh) — " +
        "the corpus is never re-shingled, band-hit count is the LSH " +
        "evidence ladder; the index side is bucket-df-capped so a " +
        "degenerate corpus bucket cannot blow up a batch join"),

    Q("g11_cluster_reps",
      (s, d) => clusterRepsFromLabels(docs(s, d), sharedClusters(s, d))
        .orderBy("cluster"),
      Some(s"""WITH RECURSIVE $shinglesSqlCte,
              |$cappedSigSqlCtes,
              |prs AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM sigc a JOIN sigc b
              |    ON a.band = b.band AND a.minh = b.minh AND a.doc_id < b.doc_id),
              |e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
              |      UNION ALL SELECT doc_b, doc_a FROM prs),
              |walk(node, lbl) AS (
              |  SELECT src, src FROM e
              |  UNION
              |  SELECT e.src, walk.lbl FROM e JOIN walk ON e.dst = walk.node),
              |cl AS (SELECT node AS doc_id, min(lbl) AS cluster
              |       FROM walk GROUP BY node),
              |${TextAnalysisQueries.statsSqlCte},
              |q AS (SELECT doc_id, ${TextAnalysisQueries.qualitySqlExpr} AS quality
              |      FROM st),
              |wc AS (SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS cluster
              |       FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
              |j AS (SELECT wc.cluster, wc.doc_id, q.quality
              |      FROM wc JOIN q ON wc.doc_id = q.doc_id),
              |nm AS (SELECT cluster, count(*) AS n_members FROM j GROUP BY cluster),
              |rp AS (SELECT cluster, doc_id, quality,
              |         row_number() OVER (PARTITION BY cluster
              |           ORDER BY quality DESC, doc_id) AS rn
              |       FROM j)
              |SELECT nm.cluster, nm.n_members, rp.doc_id AS rep_doc_id,
              |       rp.quality AS rep_quality
              |FROM nm JOIN rp ON nm.cluster = rp.cluster AND rp.rn = 1
              |ORDER BY nm.cluster""".stripMargin),
      doc = "G6+ quality-aware cluster representatives: per near-dup " +
        "cluster (singletons included) keep the copy with the best t2 " +
        "quality score, ties to the smallest doc_id. EAGER: consumes the " +
        "session-shared g6 label table (first family query pays the " +
        "clustering build)"),

    Q("g4_ngram_jaccard",
      (s, d) => ngramJaccardJoin(sharedShingles(s, d), 20,
        capTab = Some(sharedShingleCap(s, d))),
      // the oracle applies the SAME df cap, so the gate checks the capped
      // semantics end-to-end (at sf0.01 the cap is never hit — every
      // shingle's df <= corpus size << cap — so this also equals the
      // uncapped answer)
      Some(g4OracleSql),
      doc = "G4 n-gram Jaccard via df-capped inverted-index join (never " +
        "all-pairs; hot shingles with df > cap excluded — documented-" +
        "lossy top-k contract). EAGER: building this DataFrame runs the " +
        "job (viaSharedScan checkpoint) — keep it out of explain()/" +
        "plan-dump paths"),

    Q("g26_cap_recommendation",
      (s, d) => recommendShingleDfCap(sharedShingles(s, d)),
      Some(s"""WITH $shinglesSqlCte,
              |ss AS (SELECT DISTINCT doc_id,
              |         ('0x' || substr(md5(sh), 1, 14))::BIGINT AS sh_h FROM sh),
              |dfq AS (SELECT sh_h, count(*) AS df FROM ss GROUP BY sh_h),
              |hist AS (SELECT df,
              |           CAST(count(*) * (df * (df - 1) // 2) AS BIGINT) AS pairs
              |         FROM dfq
              |         WHERE df BETWEEN 2 AND ${Dedup.DefaultShingleDfCap}
              |         GROUP BY df),
              |cum AS (SELECT df, CAST(sum(pairs) OVER (ORDER BY df) AS BIGINT)
              |               AS cum_pairs FROM hist),
              |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM ss),
              |rec AS (SELECT n_docs,
              |          CAST(n_docs * ${Dedup.DefaultCapBudgetPerDoc} AS BIGINT)
              |            AS budget_pairs,
              |          CAST(greatest(${Dedup.DefaultCapFloor},
              |            least(${Dedup.DefaultShingleDfCap},
              |              coalesce((SELECT max(df) FROM cum CROSS JOIN nd
              |                        WHERE cum_pairs <= n_docs * ${Dedup.DefaultCapBudgetPerDoc}),
              |                       ${Dedup.DefaultCapFloor}))) AS BIGINT)
              |            AS recommended_cap
              |        FROM nd)
              |SELECT rec.n_docs, rec.budget_pairs, rec.recommended_cap,
              |       CAST(coalesce(max(cum.cum_pairs), 0) AS BIGINT) AS admitted_pairs
              |FROM rec LEFT JOIN cum ON cum.df <= rec.recommended_cap
              |GROUP BY 1, 2, 3""".stripMargin),
      doc = "G26 density-derived shingle df-cap recommendation (the r14 " +
        "sf10 fix): admit df levels ascending while the cumulative " +
        "uncapped pair mass stays within a LINEAR per-doc budget " +
        s"(${Dedup.DefaultCapBudgetPerDoc} pairs/doc), clamp to " +
        s"[${Dedup.DefaultCapFloor}, cap-ceiling] — keeps the " +
        "recall-bearing low-df shingles, cuts exactly the df² tail; " +
        "histogram is <= ceiling rows so everything after the df " +
        "groupBy is driver-trivial at any corpus size"),

    Q("g29_bucketed_jaccard",
      (s, d) => ngramJaccardJoin(sharedBucketedShingles(s, d), 20,
        capTab = Some(sharedShingleCap(s, d))),
      // same answer as g4 by construction — the oracle TEXT is shared so
      // the two registrations cannot drift; what g29 changes is the
      // PHYSICAL plan (bucketed scan, zero Exchange below the pair agg)
      Some(g4OracleSql),
      doc = "g4 over the session-shared BUCKETED shingle index (q50's " +
        "write-time-shuffle lever on the dedup ladder): the df groupBy, " +
        "df join-back and inverted-index self-join all inherit the " +
        "sh_h bucket layout — ZERO Exchange below the pair aggregation " +
        "(pinned in PlanAuditSpec). EAGER: first access writes the " +
        "bucketed table (the ingest-time cost the exchange-free join " +
        "amortizes)"),

    Q("g15_containment",
      // r16: the bucketed shingle index is the ladder's candidate front
      // (df groupBy + join-back + self-join all exchange-free below the
      // pair agg — PlanAuditSpec pins it); answer identical to the
      // unbucketed build by construction
      (s, d) => containmentJoin(sharedBucketedShingles(s, d), 20,
        capTab = Some(sharedShingleCap(s, d))),
      // same capped CTE chain as g4; the score is Broder containment
      // inter/min(|A|,|B|) instead of Jaccard
      Some(s"""WITH $shinglesSqlCte,
              |ss0 AS (SELECT DISTINCT doc_id,
              |         ('0x' || substr(md5(sh), 1, 14))::BIGINT AS sh_h FROM sh),
              |${autoCappedSqlCtes("ss0", Seq("sh_h"), "g")},
              |ss AS (SELECT doc_id, sh_h FROM gcapped),
              |sz AS (SELECT doc_id, count(*) AS n FROM ss GROUP BY doc_id),
              |inter AS (
              |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
              |  FROM ss x JOIN ss y ON x.sh_h = y.sh_h AND x.doc_id < y.doc_id
              |  GROUP BY doc_a, doc_b),
              |j AS (
              |  SELECT doc_a, doc_b, inter,
              |         CAST(inter AS DOUBLE) / CAST(least(a.n, b.n) AS DOUBLE) AS cont
              |  FROM inter
              |  JOIN sz a ON a.doc_id = doc_a
              |  JOIN sz b ON b.doc_id = doc_b)
              |SELECT doc_a, doc_b, inter,
              |       floor(cont * 1000000.0 + 0.5) / 1000000.0 AS containment
              |FROM j ORDER BY cont DESC, doc_a, doc_b LIMIT 20""".stripMargin),
      doc = "G15 Broder containment (inter/min set size) over the g4 " +
        "df-capped inverted index: the doc-in-doc signal Jaccard " +
        "misses. EAGER (viaSharedScan)"),

    Q("g16_source_overlap",
      (s, d) => sourceOverlapFromPairs(docs(s, d), sharedJaccardPairs(s, d)),
      // the pair table is y4's NAIVE oracle (pruning proven lossless
      // there), rolled up to the ordered source-pair matrix
      Some(s"""WITH $shinglesSqlCte,
              |ss AS (SELECT DISTINCT doc_id,
              |         ('0x' || substr(md5(sh), 1, 14))::BIGINT AS sh_h FROM sh),
              |sz AS (SELECT doc_id, count(*) AS n FROM ss GROUP BY doc_id),
              |inter AS (
              |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
              |  FROM ss x JOIN ss y ON x.sh_h = y.sh_h AND x.doc_id < y.doc_id
              |  GROUP BY doc_a, doc_b),
              |j AS (
              |  SELECT doc_a, doc_b,
              |         CAST(i AS DOUBLE) / CAST(a.n + b.n - i AS DOUBLE) AS jac
              |  FROM inter
              |  JOIN sz a ON a.doc_id = doc_a
              |  JOIN sz b ON b.doc_id = doc_b),
              |p AS (
              |  SELECT doc_a, doc_b,
              |         CAST(floor(floor(jac * 1000000.0 + 0.5) / 1000000.0
              |              * 1000000.0 + 0.5) AS BIGINT) AS mj
              |  FROM j WHERE jac >= 0.5),
              |m AS (
              |  SELECT least(sa.source, sb.source) AS source_a,
              |         greatest(sa.source, sb.source) AS source_b, mj
              |  FROM p
              |  JOIN documents sa ON sa.doc_id = doc_a
              |  JOIN documents sb ON sb.doc_id = doc_b)
              |SELECT source_a, source_b, count(*) AS n_pairs,
              |       floor(CAST(sum(mj) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE)
              |             * 1000000.0 + 0.5) / 1000000.0 AS mean_jaccard
              |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "G16 cross-source near-dup overlap matrix: y4's threshold " +
        "pairs rolled up per ordered source pair with micro-quantized " +
        "mean Jaccard — the feed-redundancy census. EAGER: reads the " +
        "session-shared threshold-pair table (one exact join serves " +
        "y4/g14/g16)",
    ),

    Q("g17_cluster_sizes",
      (s, d) => sharedClusters(s, d)
        .groupBy("cluster").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("size"),
      // the g6 recursive-CTE oracle with a two-level rollup on top
      Some(s"""WITH RECURSIVE $shinglesSqlCte,
              |$cappedSigSqlCtes,
              |pairs AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM sigc a JOIN sigc b
              |    ON a.band = b.band AND a.minh = b.minh AND a.doc_id < b.doc_id),
              |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              |      UNION ALL SELECT doc_b, doc_a FROM pairs),
              |walk(node, lbl) AS (
              |  SELECT src, src FROM e
              |  UNION
              |  SELECT e.src, walk.lbl FROM e JOIN walk ON e.dst = walk.node),
              |c AS (SELECT node AS doc_id, min(lbl) AS cluster
              |      FROM walk GROUP BY node),
              |sz AS (SELECT cluster, count(*) AS size FROM c GROUP BY 1)
              |SELECT size, count(*) AS n_clusters
              |FROM sz GROUP BY 1 ORDER BY size""".stripMargin),
      doc = "G17 dedup-cluster size census: the mega-cluster detector " +
        "run before choosing retention policy — two combinable rollups " +
        "on the session-shared g6 label table, output bounded by " +
        "|distinct sizes|"),

    Q("g19_shingle_df_census",
      (s, d) => Dedup.dfCensusFromShingles(sharedShingles(s, d)),
      Some(s"""WITH $shinglesSqlCte,
              |ss AS (SELECT DISTINCT doc_id,
              |        ('0x' || substr(md5(sh), 1, 14))::BIGINT AS sh_h FROM sh),
              |dfq AS (SELECT sh_h, CAST(count(*) AS BIGINT) AS df
              |        FROM ss GROUP BY sh_h)
              |SELECT CAST(length(CAST(df AS VARCHAR)) AS BIGINT) AS df_digits,
              |       count(*) AS n_shingles,
              |       CAST(sum(df) AS BIGINT) AS postings,
              |       CAST(sum(df * (df - 1) // 2) AS BIGINT) AS pair_candidates
              |FROM dfq GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "shingle df census (the measurement behind g4's cap choice): " +
        "digit-count df bins — exact, no libm log — with posting mass " +
        "and the uncapped df^2 pair mass per bin; <=~10 output rows at " +
        "any corpus size"),

    Q("g21_lsh_bucket_census",
      (s, d) => Dedup.lshBucketCensusFromSig(sharedSignatures(s, d)),
      Some(s"""WITH $shinglesSqlCte,
              |$sigSqlCtes,
              |bk AS (SELECT band, minh, CAST(count(*) AS BIGINT) AS c
              |       FROM sig GROUP BY band, minh)
              |SELECT band, count(*) AS n_buckets, max(c) AS max_bucket,
              |       CAST(sum(c * (c - 1) // 2) AS BIGINT) AS pair_mass
              |FROM bk GROUP BY band ORDER BY band""".stripMargin),
      doc = "LSH bucket census (g19's read for the minhash index): per " +
        "band, bucket count, largest bucket and the exact UNCAPPED pair " +
        "mass the band's candidate self-join would emit — the pre-flight " +
        "cost estimate for g2 and the monitoring pair of the bucket-df " +
        "cap (what the cap drops is visible here before it drops); two " +
        "combinable rollups, |bands| rows"),

    Q("g24_band_agreement",
      (s, d) => Dedup.bandAgreementFromPairs(sharedBandPairs(s, d), 4),
      Some(s"""WITH $shinglesSqlCte,
              |$cappedSigSqlCtes,
              |ps AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |         CAST(count(*) AS BIGINT) AS shared
              |  FROM sigc a JOIN sigc b
              |    ON a.band = b.band AND a.minh = b.minh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |h AS (SELECT shared, CAST(count(*) AS BIGINT) AS n
              |      FROM ps GROUP BY 1),
              |sp AS (SELECT unnest(range(1, 5)) AS min_bands),
              |j AS (SELECT min_bands, CAST(coalesce(n, 0) AS BIGINT) AS n_exact
              |      FROM sp LEFT JOIN h ON shared = min_bands)
              |SELECT min_bands, n_exact,
              |       CAST(sum(n_exact) OVER (ORDER BY min_bands DESC)
              |            AS BIGINT) AS n_pairs
              |FROM j ORDER BY min_bands""".stripMargin),
      doc = "AND-amplification tuning curve: candidate pairs surviving " +
        "each >= k shared-band threshold from ONE signature pass and " +
        "one bucket join — the precision/recall dial for g2c read off a " +
        "4-row ladder instead of re-running dedup per setting"),

    Q("g25_dedup_recall", {
      // graded over an AUGMENTED corpus (every 5th doc re-keyed as an
      // exact copy) — the organic testdata has no exact dups, which
      // would make the census vacuously zero; the augmentation gives
      // the gate real pairs to capture AND demonstrates grading an
      // incremental drop against the rebuilt cluster table
      (s, d) => {
        val aug = docs(s, d).select(col("doc_id"), col("text"))
          .unionByName(docs(s, d).where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + Dedup.RecallProbeOffset).as("doc_id"),
              col("text")))
        // r19: the augmented corpus's signature table is DERIVED from the
        // session-shared organic build instead of re-shingling + re-min-
        // hashing the 1.2× corpus per run: minhashSignature is per-doc
        // deterministic (min per band over the doc's own shingles), so an
        // exact copy's signature rows are the original's with the probe
        // offset added — value-identical to minhashSignature(aug, 4),
        // proven by the unchanged oracle. The cap stays derived IN-PLAN
        // over the augmented table (its density differs from the
        // corpus's), exactly as before.
        val sig = sharedSignatures(s, d)
        val sigAug = sig.unionByName(
          sig.where(col("doc_id") % 5 === 0)
            .withColumn("doc_id", col("doc_id") + Dedup.RecallProbeOffset))
        dedupRecallCensus(aug, dedupClusters(Dedup.candidatesFromSig(sigAug)))
      }},
      Some(s"""WITH RECURSIVE
              |aug AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + ${Dedup.RecallProbeOffset}, text
              |  FROM documents WHERE doc_id % 5 = 0),
              |${shinglesSqlCteOn("aug")},
              |$cappedSigSqlCtes,
              |prs AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM sigc a JOIN sigc b
              |    ON a.band = b.band AND a.minh = b.minh AND a.doc_id < b.doc_id),
              |e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
              |      UNION ALL SELECT doc_b, doc_a FROM prs),
              |walk(node, lbl) AS (
              |  SELECT src, src FROM e UNION
              |  SELECT e.dst, walk.lbl FROM walk JOIN e ON e.src = walk.node
              |  WHERE walk.lbl < e.dst),
              |cl AS (SELECT node AS doc_id, min(lbl) AS cluster
              |       FROM walk GROUP BY node),
              |lb AS (
              |  SELECT ('0x' || substr(md5(lower(trim(regexp_replace(d.text,
              |           '[ \t\n\r\f]+', ' ', 'g')))), 1, 14))::BIGINT AS g,
              |         coalesce(cl.cluster, d.doc_id) AS cluster
              |  FROM aug d LEFT JOIN cl ON cl.doc_id = d.doc_id),
              |pc AS (SELECT g, cluster, CAST(count(*) AS BIGINT) AS c
              |       FROM lb GROUP BY 1, 2),
              |pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
              |              CAST(sum(c * (c - 1) // 2) AS BIGINT) AS captured,
              |              CAST(max(c) AS BIGINT) AS maxc
              |       FROM pc GROUP BY 1 HAVING sum(c) >= 2)
              |SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
              |       CAST(coalesce(sum(CASE WHEN maxc = n THEN 1 ELSE 0 END), 0)
              |            AS BIGINT) AS n_intact_groups,
              |       CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS exact_pairs,
              |       CAST(coalesce(sum(captured), 0) AS BIGINT) AS captured_pairs,
              |       CASE WHEN coalesce(sum(n * (n - 1) // 2), 0) > 0 THEN
              |         floor(CAST(coalesce(sum(captured), 0) AS DOUBLE)
              |               / CAST(sum(n * (n - 1) // 2) AS DOUBLE)
              |               * 1000000.0 + 0.5) / 1000000.0
              |       END AS pair_recall
              |FROM pg""".stripMargin),
      doc = "G25 end-to-end dedup recall: exact-dup groups (identical " +
        "normalized text — near-dups by definition) graded against the " +
        "LSH cluster labels; pair_recall = captured/total exact-dup " +
        "pairs — the OUTCOME-level monitoring pair of the bucket-df cap " +
        "(an over-cap dup group splits and surfaces here as lost " +
        "pairs); combinable per-group counts, never a pairwise join, " +
        "1-row output off the session-shared label table"),

    Q("g30_winnow_dedup_recall", {
      // the g25 census with the WINNOW-FED cluster build (VERDICT r15
      // item 6): g28 grades winnow candidates at the pair level (0.860
      // recall at sf10 vs banded LSH's 0.399); this grades them at the
      // OUTCOME level — same augmented corpus, same truth set, clusters
      // built from the winnow inverted-index candidates instead of the
      // (band, minh) bucket join, so the two pipelines' pair_recall
      // numbers are directly comparable decision inputs
      (s, d) => {
        val aug = docs(s, d).select(col("doc_id"), col("text"))
          .unionByName(docs(s, d).where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + Dedup.RecallProbeOffset).as("doc_id"),
              col("text")))
        // r19: the augmented corpus's distinct (doc_id, fp) table is
        // DERIVED from the session-shared winnow build instead of
        // re-winnowing the 1.2× corpus per run: winnowFingerprints is
        // per-doc deterministic (windows partitioned by doc_id over the
        // doc's own shingle sequence), so an exact copy selects exactly
        // the original's fingerprints — the offset-shifted union is
        // value-identical to winnowFingerprints(aug)'s distinct
        // projection, proven by the unchanged oracle. Reads the bucketed
        // layout (already distinct at write time); the cap stays derived
        // IN-PLAN over the augmented table, exactly as before.
        val fp = sharedBucketedWinnowFps(s, d)
        val fpAug = fp.unionByName(
          fp.where(col("doc_id") % 5 === 0)
            .withColumn("doc_id", col("doc_id") + Dedup.RecallProbeOffset))
        dedupRecallCensus(aug,
          dedupClusters(TextAnalysis.candidatesFromDistinctFps(fpAug)
            .select("doc_a", "doc_b")))
      }},
      Some(s"""WITH RECURSIVE
              |aug AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + ${Dedup.RecallProbeOffset}, text
              |  FROM documents WHERE doc_id % 5 = 0),
              |${TextAnalysisQueries.winnowSqlCteOn("aug")},
              |f AS (SELECT DISTINCT doc_id, fp FROM wfp),
              |${autoCappedSqlCtes("f", Seq("fp"), "w")},
              |prs AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM wcapped a JOIN wcapped b
              |    ON a.fp = b.fp AND a.doc_id < b.doc_id),
              |e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
              |      UNION ALL SELECT doc_b, doc_a FROM prs),
              |walk(node, lbl) AS (
              |  SELECT src, src FROM e UNION
              |  SELECT e.dst, walk.lbl FROM walk JOIN e ON e.src = walk.node
              |  WHERE walk.lbl < e.dst),
              |cl AS (SELECT node AS doc_id, min(lbl) AS cluster
              |       FROM walk GROUP BY node),
              |lb AS (
              |  SELECT ('0x' || substr(md5(lower(trim(regexp_replace(d.text,
              |           '[ \t\n\r\f]+', ' ', 'g')))), 1, 14))::BIGINT AS g,
              |         coalesce(cl.cluster, d.doc_id) AS cluster
              |  FROM aug d LEFT JOIN cl ON cl.doc_id = d.doc_id),
              |pc AS (SELECT g, cluster, CAST(count(*) AS BIGINT) AS c
              |       FROM lb GROUP BY 1, 2),
              |pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
              |              CAST(sum(c * (c - 1) // 2) AS BIGINT) AS captured,
              |              CAST(max(c) AS BIGINT) AS maxc
              |       FROM pc GROUP BY 1 HAVING sum(c) >= 2)
              |SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
              |       CAST(coalesce(sum(CASE WHEN maxc = n THEN 1 ELSE 0 END), 0)
              |            AS BIGINT) AS n_intact_groups,
              |       CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS exact_pairs,
              |       CAST(coalesce(sum(captured), 0) AS BIGINT) AS captured_pairs,
              |       CASE WHEN coalesce(sum(n * (n - 1) // 2), 0) > 0 THEN
              |         floor(CAST(coalesce(sum(captured), 0) AS DOUBLE)
              |               / CAST(sum(n * (n - 1) // 2) AS DOUBLE)
              |               * 1000000.0 + 0.5) / 1000000.0
              |       END AS pair_recall
              |FROM pg""".stripMargin),
      doc = "g30 winnow-fed end-to-end dedup recall (the g25 census " +
        "with the cluster build consuming winnow-fingerprint candidates " +
        "instead of banded LSH): exact duplicates share every shingle, " +
        "so they share every selected fingerprint — the winnow index " +
        "cannot miss an identical pair below the df cap, and this " +
        "1-row census prices what the caps cost the winnow pipeline at " +
        "the outcome level, directly comparable to g25's number at the " +
        "same corpus and budget"),
  )
}

/** [[Dedup.dedupClusters]]'s partition-local union-find. Reads a
  * partition's undirected (a, b) pairs once and emits its spanning
  * forest as one (node, root) row per node, root = the least id the pairs
  * read so far join the node to. When a pair would take the forest past
  * its node budget, the forest so far is emitted and cleared, and reading
  * resumes at that pair, so memory per task stays bounded. Every emitted
  * forest keeps its nodes connected to its roots, so the forests together
  * have the components of the pairs. `pieces` counts the forests emitted:
  * a graph emitted as at most one forest was read whole, and its roots
  * are the component minima. */
private[graft] object LocalForest {

  /** Node budget per forest: ~20 B per node (id, parent, two hash
    * slots), so a task's forest stays under ~40 MB with the table's
    * growth slack. The seed-1 curation candidate graph has 124 nodes. */
  val MaxEntries = 1 << 20

  def roots(pairs: Iterator[(Long, Long)], maxEntries: Int,
      pieces: LongAccumulator): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private val forest = new UnionFind
      private var pending: (Long, Long) = null // the pair that did not fit
      private var emitted = -1                 // nodes emitted; -1: reading

      def hasNext: Boolean = {
        if (emitted >= 0 && emitted < forest.size) return true
        if (emitted >= 0) { forest.clear(); emitted = -1 }
        var full = false
        while (!full && (pending != null || pairs.hasNext)) {
          val p = if (pending != null) pending else pairs.next()
          pending = null
          full = forest.size > 0 &&
            forest.size + forest.absent(p._1, p._2) > maxEntries
          if (full) pending = p else forest.union(p._1, p._2)
        }
        if (forest.size > 0) { emitted = 0; pieces.add(1L) }
        forest.size > 0
      }

      def next(): (Long, Long) = {
        if (!hasNext) throw new NoSuchElementException
        emitted += 1
        (forest.id(emitted - 1), forest.id(forest.root(emitted - 1)))
      }
    }
}

/** Union-find over Long ids with an open-addressing index. Union links
  * the larger root under the smaller, so a set's root is its least id;
  * `root` halves paths as it walks. */
private[operators] final class UnionFind {
  private var ids = new Array[Long](64)
  private var parent = new Array[Int](64)
  private var slots = new Array[Int](128) // entry index + 1; 0 = free
  var size = 0

  def id(i: Int): Long = ids(i)

  def root(i: Int): Int = {
    var x = i
    while (parent(x) != x) {
      parent(x) = parent(parent(x))
      x = parent(x)
    }
    x
  }

  def union(a: Long, b: Long): Unit = {
    val ra = root(index(a))
    val rb = root(index(b))
    if (ids(ra) < ids(rb)) parent(rb) = ra
    else if (rb != ra) parent(ra) = rb
  }

  /** How many of `a` and `b` are not entries yet. */
  def absent(a: Long, b: Long): Int =
    (if (slots(slot(a)) == 0) 1 else 0) +
      (if (a != b && slots(slot(b)) == 0) 1 else 0)

  def clear(): Unit = {
    java.util.Arrays.fill(slots, 0)
    size = 0
  }

  private def slot(x: Long): Int = {
    val mask = slots.length - 1
    val h = x * 0x9E3779B97F4A7C15L
    var s = (h ^ (h >>> 32)).toInt & mask
    while (slots(s) != 0 && ids(slots(s) - 1) != x) s = (s + 1) & mask
    s
  }

  private def index(x: Long): Int = {
    val s = slot(x)
    if (slots(s) != 0) slots(s) - 1
    else {
      if (size == ids.length) {
        ids = java.util.Arrays.copyOf(ids, size * 2)
        parent = java.util.Arrays.copyOf(parent, size * 2)
      }
      ids(size) = x
      parent(size) = size
      size += 1
      if (size * 2 > slots.length) rehash() else slots(s) = size
      size - 1
    }
  }

  private def rehash(): Unit = {
    slots = new Array[Int](slots.length * 2)
    var i = 0
    while (i < size) {
      slots(slot(ids(i))) = i + 1
      i += 1
    }
  }
}

/** One LSH bucket of [[Dedup.bandPairs]]'s walk: its document frequency
  * and its sorted member ids, null when df is past the walk's id bound. */
private[graft] final case class Bucket(band: Int, minh: Long, df: Long,
    ids: Array[Long])

/** [[Dedup.bandPairs]]'s partition-local bucket pass. */
private[graft] object BucketWalk {

  /** Walks a partition's (band, minh, doc_id) rows, sorted by all three,
    * one bucket run at a time, and emits one [[Bucket]] per run of two
    * or more rows. The id buffer stops at `maxIds` entries; a longer run
    * is only counted. Each bucket with 2 ≤ df ≤ `ceilCap` adds its df to
    * `hist`, and each band-0 row with an id adds one to `band0`. A null
    * id counts towards df, as the self-join's `count` does, but joins no
    * pair. */
  def buckets(rows: Iterator[(Int, Long, java.lang.Long)], maxIds: Int,
      ceilCap: Int, hist: DfHistogram,
      band0: LongAccumulator): Iterator[Bucket] = {
    val in = rows.buffered
    new Iterator[Bucket] {
      private var ids = new Array[Long](16)
      private var ready: Bucket = null

      def hasNext: Boolean = {
        while (ready == null && in.hasNext) {
          val (band, minh, _) = in.head
          var df = 0L
          var n = 0
          while (in.hasNext && in.head._1 == band && in.head._2 == minh) {
            val id = in.next()._3
            df += 1
            if (id != null) {
              if (band == 0) band0.add(1L)
              if (df <= maxIds) {
                if (n == ids.length) ids = java.util.Arrays.copyOf(ids, n * 2)
                ids(n) = id
                n += 1
              }
            }
          }
          if (df >= 2) {
            if (df <= ceilCap) hist.add(df)
            ready = Bucket(band, minh, df,
              if (df <= maxIds) java.util.Arrays.copyOf(ids, n) else null)
          }
        }
        ready != null
      }

      def next(): Bucket = {
        if (!hasNext) throw new NoSuchElementException
        val b = ready
        ready = null
        b
      }
    }
  }

  /** The (doc_a < doc_b) pairs of an admitted bucket's sorted ids. */
  def pairs(b: Bucket): Iterator[(java.lang.Long, java.lang.Long)] = {
    val ids = b.ids
    for {
      i <- ids.indices.iterator
      j <- (i + 1 until ids.length).iterator
      if ids(i) < ids(j)
    } yield (Long.box(ids(i)), Long.box(ids(j)))
  }
}

/** df → number of buckets with that df, summed over tasks. */
private[graft] final class DfHistogram
    extends AccumulatorV2[Long, Map[Long, Long]] {
  private val counts = scala.collection.mutable.LongMap.empty[Long]

  def isZero: Boolean = counts.isEmpty
  def copy(): DfHistogram = {
    val c = new DfHistogram
    c.counts ++= counts
    c
  }
  def reset(): Unit = counts.clear()
  def add(df: Long): Unit = counts(df) = counts.getOrElse(df, 0L) + 1L
  def merge(other: AccumulatorV2[Long, Map[Long, Long]]): Unit =
    other.value.foreach { case (df, n) => counts(df) = counts.getOrElse(df, 0L) + n }
  def value: Map[Long, Long] = counts.toMap
}
