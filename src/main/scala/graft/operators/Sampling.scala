package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.Parity.pround

/** Deterministic sampling operators for training-data pipelines
  * (SURVEY.md §2.G [EXT] extension): Bernoulli-by-hash sampling,
  * fixed-size stratified sampling, and train/val/test splitting.
  *
  * Everything keys off a content-independent md5 of the row id — never
  * `rand()` — so samples are reproducible run-to-run, stable under
  * repartitioning, and identical across engines (the property a training
  * pipeline needs: re-running the job must not change the train set).
  *
  * Design for 100 TB:
  *  - Bernoulli sampling and split assignment are map-only projections —
  *    no shuffle, filters evaluate next to the scan.
  *  - Stratified top-n is one shuffle on the stratum key; the hash-order
  *    rank is a window, with the standard skew note: a stratum far larger
  *    than an executor's sort budget wants a two-phase per-partition
  *    pre-truncation (keep each partition's n smallest, then re-rank),
  *    which preserves exactly the same result set.
  */
object Sampling {

  /** Portable 56-bit md5 hash of `doc_id`, after an optional prefix. */
  private def idHash(prefix: String = ""): Column = GraftColumns.md5Long56(
    if (prefix.isEmpty) col("doc_id").cast("string")
    else concat(lit(prefix), col("doc_id").cast("string")))

  /** Portable uniform hash of doc_id in [0, 100). */
  private def idPct: Column = idHash() % 100

  /** Bernoulli-by-hash sample: keep rows whose id-hash falls under
    * `pct`. Map-only; rate is exact in expectation and deterministic. */
  def hashSample(docs: DataFrame, pct: Int): DataFrame =
    docs.where(idPct < pct)
      .select("doc_id", "lang", "source", "n_chars")

  /** x11: deterministic WEIGHTED sample without replacement, the
    * Efraimidis–Spirakis one-pass scheme: each row gets the key
    * -ln(u)/w from a reproducible md5-uniform u and its weight w, and
    * the k smallest keys ARE a weighted sample without replacement
    * (w_i / Σw inclusion dynamics). Top-k compiles to
    * TakeOrderedAndProject — a map-side heap per partition, never a
    * global sort — so the pass is one scan at any scale. Rows with
    * non-positive weight are excluded (their key would be ±inf). */
  def weightedSample(docs: DataFrame, weightCol: String, k: Int): DataFrame = {
    // u in (0,1): the 56-bit hash midpoint-normalized so ln(u) is finite
    val key = -ln((idHash().cast("double") + 0.5) / 72057594037927936.0) /
      col(weightCol).cast("double")
    docs.where(col(weightCol) > 0)
      .select(col("doc_id"), col(weightCol).as("w"), key.as("es_key"))
      .orderBy(col("es_key"), col("doc_id")).limit(k)
      .select(col("doc_id"), col("w"), pround(col("es_key"), 9).as("es_key"))
  }

  /** x13: Population Stability Index between the train and test splits
    * of the x3 hash split, over fixed-width document-length bins — the
    * standard drift alarm between what a model trains on and what it's
    * evaluated on. Laplace smoothing (+0.5 per bin over `bins` cells)
    * keeps every term finite, and the result is PER-BIN contributions,
    * not a float total: each contribution is a pure projection of two
    * integer counts, so it is engine-exact, where summing the doubles
    * would depend on aggregation order (consumers sum the 10 rows —
    * PSI > 0.2 is the conventional alarm). One groupBy on the bin plus
    * a 1-row totals broadcast. */
  def psiDrift(docs: DataFrame, bins: Int = 10, binWidth: Int = 100): DataFrame = {
    val split = idPct % 10
    val counts = docs.select(
        least(floor(col("n_chars") / binWidth), lit(bins - 1))
          .cast("long").as("bin"),
        when(split < 8, 1L).otherwise(0L).as("tr"),
        when(split === 9, 1L).otherwise(0L).as("te"))
      .groupBy("bin")
      .agg(sum(col("tr")).as("n_train"), sum(col("te")).as("n_test"))
    val tot = counts.agg(sum(col("n_train")).as("tt"), sum(col("n_test")).as("et"))
    val p = (col("n_train").cast("double") + 0.5) /
      (col("tt").cast("double") + 0.5 * bins)
    val q = (col("n_test").cast("double") + 0.5) /
      (col("et").cast("double") + 0.5 * bins)
    counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_train"), col("n_test"),
        pround((p - q) * log(p / q), 9).as("psi_contrib"))
  }

  /** Fixed-size stratified sample: the `n` hash-smallest docs per
    * stratum — a deterministic uniform draw within each stratum.
    *
    * Two-phase top-n so huge strata never serialize into one sort task:
    * phase 1 ranks within (stratum, salt) — `salts` parallel windows per
    * stratum, each pruning to its own n smallest — and phase 2 ranks the
    * <= salts·n survivors per stratum. The global n hash-smallest rows
    * are contained in the union of per-salt n-smallest, so the result is
    * IDENTICAL to the single-window form; only the physical sort width
    * changes (each phase-1 partition sorts |stratum|/salts rows). */
  def stratifiedSample(docs: DataFrame, stratum: String, n: Int,
                       salts: Int = 64): DataFrame = {
    val h = idHash()
    val pre = Window.partitionBy(col(stratum), (col("doc_id") % salts).as("salt"))
      .orderBy(col("h"), col("doc_id"))
    val fin = Window.partitionBy(stratum).orderBy(col("h"), col("doc_id"))
    docs.select(col(stratum), col("doc_id"), h.as("h"))
      .withColumn("pr", row_number().over(pre))
      .where(col("pr") <= n)
      .withColumn("rn", row_number().over(fin))
      .where(col("rn") <= n)
      .select(col(stratum), col("rn").as("rank"), col("doc_id"))
  }

  /** Deterministic dataset-mixture resampling — the "N epochs of source
    * A, half an epoch of source B" step that assembles a training mix
    * from heterogeneous corpora. Each group's epoch factor is an exact
    * rational num/denom: every doc emits `num div denom` full copies,
    * plus one more iff its namespaced id-hash mod denom falls under
    * `num % denom` — so a 2.5× group upsamples every doc twice and
    * exactly half the docs (by hash) a third time, reproducibly. Zero
    * weights drop the group entirely.
    *
    * Scale shape: broadcast the (tiny) weight table, map-side join +
    * explode — no shuffle at all; output rows carry an `epoch` index so
    * downstream global shuffling/packing can treat copies as distinct. */
  def mixture(docs: DataFrame, keyCol: String,
              epochs: Seq[(String, Int, Int)]): DataFrame = {
    require(epochs.forall { case (_, n, d) => n >= 0 && d > 0 },
      "epoch factors must be non-negative rationals")
    val sp = docs.sparkSession
    import sp.implicits._
    val w = epochs.toDF(keyCol, "num", "denom")
    val bucket = idHash("mix:") % col("denom")
    docs.join(broadcast(w), keyCol)
      .withColumn("n_copies",
        expr("num div denom") + (bucket < expr("num % denom")).cast("long"))
      .where(col("n_copies") > 0)
      .select(col("doc_id"), col(keyCol),
        explode(expr("sequence(1L, n_copies)")).as("epoch"))
  }

  /** x17: Poisson bootstrap confidence interval for a corpus mean — the
    * bootstrap that actually runs at 100 TB. Classic resampling draws n
    * rows with replacement, which needs a global index; the Poisson
    * bootstrap (Chamandy et al., "Estimating Uncertainty for Massive
    * Data Streams", Google 2012) replaces each replicate's multinomial
    * with independent per-row Poisson(1) weights, so every replicate is
    * a MAP-SIDE projection: one scan fans each row out to `reps`
    * (replicate, weight) pairs and partial aggregation collapses every
    * partition to ≤ `reps` partial sums before the one tiny shuffle.
    *
    * Determinism: the weight is the Poisson(1) inverse CDF applied to a
    * reproducible md5-uniform of (doc_id, replicate) — literal CDF
    * thresholds, identical in both engines; weights are capped at 7
    * (P(w>7) ≈ 1e-5, bias far below the CI's own Monte-Carlo error).
    * Each replicate mean is quantized to micro-units BEFORE the
    * cross-replicate aggregation, so boot_mean is an exact integer sum
    * and the CI bounds are exact rank statistics (ranks ⌈0.025·R⌉ and
    * ⌈0.975·R⌉ over the R=64 quantized means; the rank window sorts 64
    * rows — one task, by construction). */
  def bootstrapCI(docs: DataFrame, valueCol: String = "n_chars",
                  reps: Int = 64): DataFrame = {
    require(reps >= 40, "need ≥40 replicates for a 2.5%/97.5% rank CI")
    val u = (GraftColumns.md5Long56(concat(lit("bs:"), col("doc_id").cast("string"),
      lit(":"), col("r").cast("string"))).cast("double") + 0.5) / 72057594037927936.0
    val poisson =
      """CASE WHEN u < 0.36787944117144233 THEN 0L
        | WHEN u < 0.7357588823428847 THEN 1L
        | WHEN u < 0.9196986029286058 THEN 2L
        | WHEN u < 0.9810118431238463 THEN 3L
        | WHEN u < 0.9963401531726563 THEN 4L
        | WHEN u < 0.9994058151824183 THEN 5L
        | WHEN u < 0.999916758850712 THEN 6L
        | ELSE 7L END""".stripMargin
    val ev = docs
      .select(col("doc_id"), col(valueCol).cast("long").as("v"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("r"))
      .withColumn("u", u)
      .withColumn("w", expr(poisson))
    val repMeans = ev.groupBy("r")
      .agg(sum(col("w") * col("v")).as("ws"), sum(col("w")).as("wn"))
      .select(col("r"), expr(
        "cast(floor(cast(ws as double) / cast(wn as double) * 1000000.0) as bigint)")
        .as("m_micro"))
    val loRk = math.ceil(0.025 * reps).toInt
    val hiRk = math.ceil(0.975 * reps).toInt
    val ranked = repMeans.withColumn("rk",
      row_number().over(Window.orderBy(col("m_micro"), col("r"))))
    val summ = ranked.agg(
      sum(col("m_micro")).as("sm"),
      max(when(col("rk") === loRk, col("m_micro"))).as("lo"),
      max(when(col("rk") === hiRk, col("m_micro"))).as("hi"))
    docs.agg(count(lit(1)).as("n_docs"),
        sum(col(valueCol).cast("long")).as("sv"))
      .crossJoin(broadcast(summ))
      .select(col("n_docs"),
        pround(col("sv").cast("double") / col("n_docs").cast("double"), 6)
          .as("sample_mean"),
        pround(col("sm").cast("double") / reps.toDouble / 1000000.0, 6)
          .as("boot_mean"),
        (col("lo").cast("double") / 1000000.0).as("ci_lo"),
        (col("hi").cast("double") / 1000000.0).as("ci_hi"))
  }

  /** x18: temperature-scaled language mixing — the mT5/XLM-R α-sampling
    * step that decides how much of each language a multilingual training
    * mix takes: sampling share q_l ∝ p_l^α (α=0.3 upsamples tail
    * languages; α=1 keeps the natural mix). Returns the per-language
    * plan AND the realized deterministic sample census in one table.
    *
    * Determinism across engines: p^α is quantized to nano-units
    * (bigint) per language BEFORE the normalizing sum, so the
    * normalizer is an exact integer; the per-doc inclusion test
    * compares the namespaced id-hash against floor(rate·2^56) where
    * rate is itself micro-quantized — both engines see the identical
    * threshold. Scale shape: the census pass reduces to |langs| rows,
    * the 5-row rate table broadcasts back, and the realized pass is a
    * map-side filter + partial-agg count; nothing but the tiny rate
    * table ever crosses the driver. */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.3,
                     targetFrac: Double = 0.5): DataFrame = {
    // EAGER (r19): the |langs|-row census feeds the total, the p^α
    // normalizer and the rate table — without storage the corpus scan
    // + lang shuffle ran once per consumer.
    val census = Materialize.frame(
      docs.groupBy("lang").agg(count(lit(1)).as("n")))
    val tot = census.agg(sum(col("n")).as("nt"))
    val pa = census.crossJoin(broadcast(tot))
      .withColumn("paq", expr(
        s"cast(floor(pow(cast(n as double) / cast(nt as double), $alpha) * 1000000000.0 + 0.5) as bigint)"))
    val spa = pa.agg(sum(col("paq")).as("spa"))
    val rates = pa.crossJoin(broadcast(spa))
      .withColumn("tgt", expr(s"cast(floor(cast(nt as double) * $targetFrac) as bigint)"))
      // pround (column ops) keeps `rate` a true DOUBLE — a SQL-string
      // `/ 1000000.0` would parse the literal as DECIMAL and infect the
      // column type
      .withColumn("rate", pround(least(lit(1.0),
        col("tgt").cast("double") * col("paq").cast("double") /
          (col("spa").cast("double") * col("n").cast("double"))), 6))
      .select(col("lang"), col("n"), col("nt"), col("paq"), col("spa"),
        col("rate"))
    val kept = docs
      .join(broadcast(rates.select(col("lang"), col("rate"))), Seq("lang"))
      .where(idHash("temp:") <
        expr("cast(floor(rate * 72057594037927936.0) as bigint)"))
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    rates.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n").as("n_docs"),
        pround(col("n").cast("double") / col("nt").cast("double"), 6)
          .as("p_share"),
        pround(col("paq").cast("double") / col("spa").cast("double"), 6)
          .as("q_share"),
        col("rate").as("keep_rate"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
  }

  /** Train/val/test split by hash decile (8/1/1), with per-(split, lang)
    * counts — the reproducible split a fine-tuning pipeline snapshots. */
  def splitCounts(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("doc_id"),
      when(idPct % 10 < 8, lit("train"))
        .when(idPct % 10 === 8, lit("val"))
        .otherwise(lit("test")).as("split"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
}

object SamplingQueries {
  import Sampling._
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** DuckDB mirror of the doc_id percent hash. */
  private val pctSql =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100"

  val qs: Seq[Q] = Seq(
    Q("x1_hash_sample",
      (s, d) => hashSample(docs(s, d), 10).orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, source, n_chars FROM documents
              |WHERE $pctSql < 10 ORDER BY doc_id""".stripMargin),
      doc = "deterministic Bernoulli-by-hash sample (map-only, reproducible)"),

    Q("x2_stratified_sample",
      (s, d) => stratifiedSample(docs(s, d), "lang", 20).orderBy("lang", "rank"),
      Some(s"""WITH h AS (
              |  SELECT lang, doc_id,
              |         row_number() OVER (PARTITION BY lang
              |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT, doc_id) AS rn
              |  FROM documents)
              |SELECT lang, rn AS rank, doc_id FROM h
              |WHERE rn <= 20 ORDER BY lang, rank""".stripMargin),
      doc = "fixed-size stratified sample: n hash-smallest docs per stratum"),

    Q("x11_weighted_sample",
      (s, d) => weightedSample(docs(s, d), "n_chars", 50).orderBy("es_key", "doc_id"),
      Some(s"""WITH keyed AS (
              |  SELECT doc_id, n_chars AS w,
              |         -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
              |                   AS DOUBLE) + 0.5) / 72057594037927936.0)
              |           / CAST(n_chars AS DOUBLE) AS es_key
              |  FROM documents WHERE n_chars > 0)
              |SELECT doc_id, w,
              |       floor(es_key * 1000000000.0 + 0.5) / 1000000000.0 AS es_key
              |FROM keyed ORDER BY keyed.es_key, doc_id LIMIT 50""".stripMargin),
      doc = "deterministic Efraimidis-Spirakis weighted sample without " +
        "replacement: -ln(md5-uniform)/weight keys, k smallest via " +
        "TakeOrderedAndProject — one scan, no global sort"),

    Q("x13_psi_drift",
      (s, d) => psiDrift(docs(s, d)).orderBy("bin"),
      Some(s"""WITH c AS (
              |  SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bin,
              |         sum(CASE WHEN $pctSql % 10 < 8 THEN 1 ELSE 0 END) AS n_train,
              |         sum(CASE WHEN $pctSql % 10 = 9 THEN 1 ELSE 0 END) AS n_test
              |  FROM documents GROUP BY 1),
              |t AS (SELECT sum(n_train) AS tt, sum(n_test) AS et FROM c)
              |SELECT bin, CAST(n_train AS BIGINT) AS n_train,
              |       CAST(n_test AS BIGINT) AS n_test,
              |       floor(((CAST(n_train AS DOUBLE) + 0.5) / (CAST(tt AS DOUBLE) + 5.0)
              |              - (CAST(n_test AS DOUBLE) + 0.5) / (CAST(et AS DOUBLE) + 5.0))
              |             * ln(((CAST(n_train AS DOUBLE) + 0.5) / (CAST(tt AS DOUBLE) + 5.0))
              |                  / ((CAST(n_test AS DOUBLE) + 0.5) / (CAST(et AS DOUBLE) + 5.0)))
              |             * 1000000000.0 + 0.5) / 1000000000.0 AS psi_contrib
              |FROM c, t ORDER BY bin""".stripMargin),
      doc = "PSI drift between the hash-split train and test length " +
        "distributions: per-bin contributions (engine-exact projections " +
        "of integer counts; consumers sum them — >0.2 is the alarm)"),

    Q("x17_bootstrap_ci",
      (s, d) => bootstrapCI(docs(s, d)),
      Some("""WITH ev AS (
             |  SELECT doc_id, n_chars AS v, r,
             |         (CAST(('0x' || substr(md5('bs:' || CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 14))::BIGINT AS DOUBLE) + 0.5)
             |           / 72057594037927936.0 AS u
             |  FROM documents, (SELECT unnest(range(0, 64)) AS r) reps),
             |w AS (
             |  SELECT r, v,
             |         CASE WHEN u < 0.36787944117144233 THEN 0
             |              WHEN u < 0.7357588823428847 THEN 1
             |              WHEN u < 0.9196986029286058 THEN 2
             |              WHEN u < 0.9810118431238463 THEN 3
             |              WHEN u < 0.9963401531726563 THEN 4
             |              WHEN u < 0.9994058151824183 THEN 5
             |              WHEN u < 0.999916758850712 THEN 6
             |              ELSE 7 END AS w
             |  FROM ev),
             |rm AS (
             |  SELECT r, CAST(floor(CAST(sum(w * v) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
             |                 * 1000000.0) AS BIGINT) AS m_micro
             |  FROM w GROUP BY r),
             |rk AS (SELECT m_micro,
             |              row_number() OVER (ORDER BY m_micro, r) AS rk
             |       FROM rm),
             |s AS (SELECT CAST(sum(m_micro) AS BIGINT) AS sm,
             |             max(CASE WHEN rk = 2 THEN m_micro END) AS lo,
             |             max(CASE WHEN rk = 63 THEN m_micro END) AS hi
             |      FROM rk),
             |b AS (SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sv
             |      FROM documents)
             |SELECT n_docs,
             |       floor(CAST(sv AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS sample_mean,
             |       floor(CAST(sm AS DOUBLE) / 64.0 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS boot_mean,
             |       CAST(lo AS DOUBLE) / 1000000.0 AS ci_lo,
             |       CAST(hi AS DOUBLE) / 1000000.0 AS ci_hi
             |FROM b, s""".stripMargin),
      doc = "Poisson bootstrap 95% CI for the corpus mean doc length: " +
        "per-row Poisson(1) replicate weights from an md5-uniform " +
        "inverse CDF — every replicate is map-side, partial agg " +
        "collapses each partition to ≤64 rows, CI bounds are exact " +
        "rank statistics over micro-quantized replicate means"),

    Q("x18_temperature_mix",
      (s, d) => temperatureMix(docs(s, d)).orderBy("lang"),
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c),
             |pa AS (SELECT lang, n, nt,
             |         CAST(floor(pow(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 0.3)
             |              * 1000000000.0 + 0.5) AS BIGINT) AS paq
             |       FROM c, t),
             |s AS (SELECT CAST(sum(paq) AS BIGINT) AS spa FROM pa),
             |r AS (SELECT lang, n, nt, paq, spa,
             |        floor(least(1.0,
             |          CAST(CAST(floor(CAST(nt AS DOUBLE) * 0.5) AS BIGINT) AS DOUBLE)
             |            * CAST(paq AS DOUBLE)
             |            / (CAST(spa AS DOUBLE) * CAST(n AS DOUBLE)))
             |          * 1000000.0 + 0.5) / 1000000.0 AS rate
             |      FROM pa, s),
             |k AS (
             |  SELECT d.lang, count(*) AS n_sampled
             |  FROM documents d JOIN r ON d.lang = r.lang
             |  WHERE ('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
             |        < CAST(floor(rate * 72057594037927936.0) AS BIGINT)
             |  GROUP BY d.lang)
             |SELECT r.lang, n AS n_docs,
             |       floor(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS p_share,
             |       floor(CAST(paq AS DOUBLE) / CAST(spa AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS q_share,
             |       rate AS keep_rate,
             |       CAST(coalesce(n_sampled, 0) AS BIGINT) AS n_sampled
             |FROM r LEFT JOIN k ON r.lang = k.lang
             |ORDER BY r.lang""".stripMargin),
      doc = "mT5-style temperature sampling (α=0.3): per-language plan " +
        "q∝p^α plus the realized deterministic hash-threshold sample " +
        "census — nano-quantized p^α so the normalizer is an exact " +
        "integer, broadcast rate table, map-side inclusion test"),

    Q("x3_split_counts",
      (s, d) => splitCounts(docs(s, d)).orderBy("split", "lang"),
      Some(s"""SELECT CASE WHEN $pctSql % 10 < 8 THEN 'train'
              |            WHEN $pctSql % 10 = 8 THEN 'val'
              |            ELSE 'test' END AS split,
              |       lang, count(*) AS n_docs, min(doc_id) AS first_doc
              |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin),
      doc = "reproducible train/val/test split by hash decile + per-split census"),

    Q("y5_mixture",
      (s, d) => mixture(docs(s, d), "lang",
          Seq(("en", 1, 2), ("de", 2, 1), ("es", 5, 4), ("fr", 1, 1), ("zh", 0, 1)))
        .orderBy("doc_id", "epoch"),
      Some("""WITH w(lang, num, denom) AS (
             |  VALUES ('en', 1, 2), ('de', 2, 1), ('es', 5, 4), ('fr', 1, 1), ('zh', 0, 1)),
             |j AS (
             |  SELECT doc_id, d.lang, num, denom,
             |         ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % denom AS b
             |  FROM documents d JOIN w ON d.lang = w.lang),
             |c AS (
             |  SELECT doc_id, lang,
             |         num // denom + CASE WHEN b < num % denom THEN 1 ELSE 0 END AS n
             |  FROM j)
             |SELECT doc_id, lang, CAST(unnest(range(1, n + 1)) AS BIGINT) AS epoch
             |FROM c WHERE n > 0 ORDER BY doc_id, epoch""".stripMargin),
      doc = "deterministic dataset-mixture resampling: exact-rational epoch " +
        "factors per language (2x de, 1.25x es, 0.5x en, drop zh) via " +
        "broadcast weights + hash residual — map-only, no shuffle"),
  )
}
