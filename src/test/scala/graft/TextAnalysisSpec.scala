package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the cat sat on the mat and it is a good mat", "en", "s0", 43L),
    (1L, "der hund lief schnell durch den park heute morgen", "de", "s1", 49L),
    (2L, "a b", "en", "s2", 3L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("langId: stopword-dense text is 'en', stopword-free text is 'other'") {
    val got = TextAnalysis.langId(docs).orderBy("doc_id")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toList
    assert(got === List(0L -> "en", 1L -> "other", 2L -> "en"))
  }

  test("quality score combines length and stopword signals, bounded [0,1]") {
    val q = TextAnalysis.qualityScore(docs)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(0L) > q(1L)) // stopword-rich English scores higher
  }

  test("token counts: whitespace vs BPE-ish regex segmentation") {
    val t = TextAnalysis.tokenCounts(docs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(t(0L)._1 === 12L)
    assert(t(2L)._1 === 2L)
    assert(t(0L)._2 >= t(0L)._1) // regex segmentation never merges ws tokens
  }

  test("fingerprint: whitespace-insensitive, content-sensitive") {
    val variant = Seq((10L, "the cat sat on the mat and it is a good  mat"))
      .toDF("doc_id", "text")
    val fp0 = TextAnalysis.fingerprint(docs).where(col("doc_id") === 0)
      .select("fp").as[String].head()
    val fp10 = TextAnalysis.fingerprint(variant).select("fp").as[String].head()
    assert(fp0 === fp10) // double space normalized away
    val fp1 = TextAnalysis.fingerprint(docs).where(col("doc_id") === 1)
      .select("fp").as[String].head()
    assert(fp0 !== fp1)
  }

  test("tfidf: corpus-wide words score 0, doc-unique words rank first") {
    val corpus = Seq(
      (0L, "alpha beta shared"), (1L, "gamma delta shared"),
      (2L, "epsilon zeta shared")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTop(corpus, 3)
      .where(col("doc_id") === 0).orderBy("rank")
      .select("term", "tfidf").as[(String, Double)].collect().toList
    assert(top.map(_._1) === List("alpha", "beta", "shared"))
    assert(top(0)._2 > 0.0)
    assert(top(2)._2 === 0.0) // ln(3/3) = 0 for the corpus-wide word
  }

  test("repetition: a one-word loop maxes every repetition signal") {
    val loop = Seq((0L, "spam spam spam spam spam spam")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionScore(loop).collect().head
    assert(r.getAs[Long]("n_tokens") == 6L)
    assert(r.getAs[Double]("ttr") == 0.166667)          // 1/6 rounded to 6dp
    assert(r.getAs[Double]("dup_trigram_frac") == 0.75) // 4 trigrams, 1 distinct
    assert(r.getAs[Double]("top_bigram_frac") == 1.0)   // all 5 bigram slots
    assert(r.getAs[Long]("keep") == 0L)
  }

  test("repetition: an all-distinct document is clean and kept") {
    // long enough that one bigram occurrence / (n-1) slots clears the
    // 0.18 top-bigram cut (a 6-token doc would sit at 1/5 = 0.2 and fail)
    val clean = Seq((0L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionScore(clean).collect().head
    assert(r.getAs[Double]("ttr") == 1.0)
    assert(r.getAs[Double]("dup_trigram_frac") == 0.0)
    assert(r.getAs[Double]("top_bigram_frac") == 0.090909) // 1 / 11 slots
    assert(r.getAs[Long]("keep") == 1L)
  }

  test("oov rate: in-vocab docs score 0, rate reflects occurrence fraction") {
    val corpus = Seq(
      (0L, "common common common common rare"), // 'common' dominates the vocab
      (1L, "common common common common common"),
      (2L, "common unseen")).toDF("doc_id", "text")
    val got = TextAnalysis.oovRate(corpus, 1) // vocab = top-1 = {common}
      .orderBy("doc_id")
      .select("doc_id", "n_oov", "oov_ratio")
      .as[(Long, Long, Double)].collect().toList
    assert(got(0) === (0L, 1L, 0.2))
    assert(got(1) === (1L, 0L, 0.0))
    assert(got(2) === (2L, 1L, 0.5))
  }

  test("repetition: degenerate short docs produce defined zero metrics") {
    val tiny = Seq((0L, "solo"), (1L, "")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionScore(tiny).orderBy("doc_id").collect()
    assert(rows(0).getAs[Double]("dup_trigram_frac") == 0.0)
    assert(rows(0).getAs[Double]("top_bigram_frac") == 0.0)
    assert(rows(1).getAs[Long]("n_tokens") == 0L)
  }

  test("zipf: hand-computed slope on a 3-level corpus, counts exact") {
    // freqs: a=4, b=2, c=1 -> singleton levels, mid-ranks 1, 2, 3
    val tiny = Seq((0L, "a a a a b b c")).toDF("doc_id", "text")
    val row = TextAnalysis.zipfFit(tiny).collect().head
    assert(row.getAs[Long]("n_types") === 3L)
    assert(row.getAs[Long]("n_tokens") === 7L)
    val x = Seq(1.0, 2.0, 3.0).map(math.log)
    val y = Seq(4.0, 2.0, 1.0).map(math.log)
    val (mx, my) = (x.sum / 3, y.sum / 3)
    val slope = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum /
      x.map(a => (a - mx) * (a - mx)).sum
    assert(math.abs(row.getAs[Double]("zipf_slope") - slope) < 1e-6)
  }

  test("zipf: slope is negative on the real corpus and deterministic") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val a = TextAnalysis.zipfFit(docs).collect().head
    val b = TextAnalysis.zipfFit(docs).collect().head
    assert(a === b)
    assert(a.getAs[Double]("zipf_slope") < 0.0,
      "more frequent types must sit at lower mid-ranks")
  }

  test("langid confusion: exact cells on a constructed corpus, shares sum to 1") {
    val docs = Seq(
      (0L, "the cat sat on the mat", "en", 22L),   // stopword-rich -> pred en
      (1L, "cat mat hat bat rat sat", "en", 23L),  // no stopwords -> pred other
      (2L, "der hund lief schnell weg", "de", 25L) // no en stopwords -> other
    ).toDF("doc_id", "text", "lang", "n_chars")
    val cells = TextAnalysis.langIdConfusion(docs)
      .orderBy("true_lang", "pred_lang")
      .as[(String, String, Long, Double)].collect().toList
    assert(cells === List(
      ("en", "en", 1L, 0.5), ("en", "other", 1L, 0.5),
      ("other", "other", 1L, 1.0)))
  }

  test("bpe pairs: frequency-weighted adjacent pair counts, hand-checked") {
    // wf: ab x2, abc x1 -> pairs: 'ab' from both words (2+1), 'bc' from abc
    val tiny = Seq((0L, "ab ab abc")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(tiny, 10)
      .as[(String, Long)].collect().toList
    assert(got === List(("ab", 3L), ("bc", 1L)))
  }

  test("t42 bpe merges: the classic low/lower corpus, 4 hand-computed rounds") {
    // wf: low x3, lower x2
    // r1 pairs: (l,o)=5 (o,w)=5 (w,e)=2 (e,r)=2 -> tie at 5, lhs 'l'<'o'
    //   -> merge (l,o,5):   low -> [lo,w], lower -> [lo,w,e,r]
    // r2 pairs: (lo,w)=5 (w,e)=2 (e,r)=2      -> (lo,w,5)
    //   -> low -> [low], lower -> [low,e,r]
    // r3 pairs: (low,e)=2 (e,r)=2             -> tie at 2, 'e'<'low'
    //   -> merge (e,r,2): lower -> [low,er]
    // r4 pairs: (low,er)=2                    -> (low,er,2)
    val tiny = Seq((0L, "low low low lower lower")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(tiny, 4)
      .as[(Int, String, String, Long)].collect().toList
    assert(got === List((1, "l", "o", 5L), (2, "lo", "w", 5L),
      (3, "e", "r", 2L), (4, "low", "er", 2L)))
  }

  test("t42 bpe merges: lhs==rhs runs merge greedily leftmost, never overlap") {
    // 'aaaa': r1 (a,a)=3 -> [aa,aa] (NOT [a,aa,a]); r2 (aa,aa)=1
    val tiny = Seq((0L, "aaaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(tiny, 2)
      .as[(Int, String, String, Long)].collect().toList
    assert(got === List((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("surprisal: hand-computed micro-nat values on a 2-doc corpus") {
    // N=4 tokens; p(a)=3/4, p(b)=1/4
    val tiny = Seq((0L, "a a a"), (1L, "b")).toDF("doc_id", "text")
    val got = TextAnalysis.surprisal(tiny).orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    val expA = math.floor(-math.log(0.75) * 1e6) / 1e6
    val expB = math.floor(-math.log(0.25) * 1e6) / 1e6
    assert(math.abs(got(0)._3 - expA) < 1e-9)
    assert(math.abs(got(1)._3 - expB) < 1e-9)
  }

  test("surprisal: rare-token docs score higher than common-token docs") {
    val docs = Seq((0L, "common common common common common common"),
      (1L, "rare1 rare2 rare3")).toDF("doc_id", "text")
    val s = TextAnalysis.surprisal(docs).orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    assert(s(1)._3 > s(0)._3)
  }

  test("t16 bigram surprisal: hand-computed micro-nat values") {
    // corpus: doc0 = a b a b a, doc1 = a b
    // unigrams: a=4, b=3, N=7; bigrams: "a b"=3, "b a"=2; ctx: c(a)=3, c(b)=2
    val tiny = Seq((0L, "a b a b a"), (1L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(tiny).orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    val nllAB = math.floor(-math.log(0.75 * (3.0 / 3.0) + 0.25 * (3.0 / 7.0)) * 1e6)
    val nllBA = math.floor(-math.log(0.75 * (2.0 / 2.0) + 0.25 * (4.0 / 7.0)) * 1e6)
    val exp0 = math.floor((2 * nllAB + 2 * nllBA) / 1e6 / 4.0 * 1e6 + 0.5) / 1e6
    val exp1 = math.floor(nllAB / 1e6 / 1.0 * 1e6 + 0.5) / 1e6
    assert(got.map(_._1).toList === List(0L, 1L))
    assert(got(0)._2 === 4L && got(1)._2 === 1L)
    assert(math.abs(got(0)._3 - exp0) < 1e-9)
    assert(math.abs(got(1)._3 - exp1) < 1e-9)
  }

  test("t16 bigram surprisal: shuffled transitions score above patterned ones") {
    // identical unigram profiles (4x, 4y each) — only the transitions
    // differ, which is exactly the signal t11's unigram model cannot see
    val d = Seq((0L, "x y x y x y x y"), (1L, "x x y y x y y x"))
      .toDF("doc_id", "text")
    val s = TextAnalysis.bigramSurprisal(d).orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    assert(s(0)._2 === 7L && s(1)._2 === 7L)
    assert(s(1)._3 > s(0)._3)
  }

  test("t16 bigram surprisal: single-token docs drop, counts are tokens-1") {
    val d = Seq((0L, "one"), (1L, "two words"), (2L, "three word doc"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(d).orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    assert(got.map(r => r._1 -> r._2).toList === List(1L -> 1L, 2L -> 2L))
  }

  test("zipf: a perfectly uniform corpus has an undefined (null) slope") {
    // one frequency level only -> zero rank variance -> undefined fit
    val uni = Seq((0L, "a b c a b c")).toDF("doc_id", "text")
    val row = TextAnalysis.zipfFit(uni).collect().head
    assert(row.isNullAt(row.fieldIndex("zipf_slope")))
  }

  test("t14 PII scrub: counts each span kind, redacts all of them") {
    val docs = Seq(
      (0L, "contact alice@example.com or 10.0.0.1 and ssn 123-45-6789 ok"),
      (1L, "no pii here at all"),
      (2L, "two mails a@b.io c.d@e.org one ip 192.168.1.255")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(docs).orderBy("doc_id")
      .as[(Long, Int, Int, Int, Int)].collect().toList
    assert(got(0) === ((0L, 1, 1, 1, "contact <PII> or <PII> and ssn <PII> ok".length)))
    assert(got(1) === ((1L, 0, 0, 0, "no pii here at all".length)))
    assert(got(2) === ((2L, 2, 1, 0, "two mails <PII> <PII> one ip <PII>".length)))
  }

  test("bm25: monotone in tf at equal length, term-free docs absent, ranks contiguous") {
    val d = Seq(
      (1L, "join x"),       // tf(join)=1, dl=2
      (2L, "join join"),    // tf(join)=2, dl=2 — must outrank doc 1
      (3L, "x y z"))        // no query terms — must be absent
      .toDF("doc_id", "text")
    val r = TextAnalysis.bm25TopDocs(d, Seq("join", "vector", "stream"), 10)
      .orderBy("rank").as[(Long, Int, Double)].collect()
    assert(r.map(_._1).toSet === Set(1L, 2L), "term-free doc leaked in")
    assert(r.map(_._2).toSeq === Seq(1, 2), "ranks not contiguous")
    assert(r.head._1 === 2L, "higher tf at equal dl must rank first")
    assert(r.forall(_._3 > 0.0), "smoothed idf keeps scores positive")
  }

  test("dsir: target-like text outranks off-domain text, regardless of provenance") {
    // DSIR weights are RELATIVE (resampling cares about ordering): with
    // target ⊆ corpus and add-one smoothing the absolute sign drifts
    // with totals, but target-domain bigrams must always outrank
    // off-domain ones. Target source writes over {aa bb}; off-domain
    // over {cc dd}.
    val d = Seq(
      (1L, "aa bb aa bb aa", "src0"),
      (2L, "aa bb aa bb", "src0"),
      (3L, "cc dd cc dd cc", "src1"),
      (4L, "aa bb aa", "src1"),  // off-target doc WITH target-like text
      (5L, "x", "src1"))         // single token: no bigrams, absent
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.dsirWeights(d, "src0").collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_bigrams"), x.getAs[Double]("log_weight"))).toMap
    assert(!r.contains(5L), "bigram-free doc must be absent")
    assert(r(1L)._1 == 4L)
    // per-bigram normalization so length doesn't confound the ordering
    def perBg(id: Long) = r(id)._2 / r(id)._1
    assert(perBg(1L) > perBg(3L) && perBg(2L) > perBg(3L),
      "target-domain text must outrank off-domain text")
    // the weight scores TEXT, not provenance: target-like text in a
    // non-target source still ranks with the target docs (the point of
    // importance resampling)
    assert(perBg(4L) > perBg(3L))
  }

  test("ngram novelty: first doc is all-novel, repeats decay to zero") {
    val d = Seq(
      (1L, "a b c"),    // bigrams {a b, b c}: both novel -> 1.0
      (2L, "a b d"),    // {a b (seen), b d (new)} -> 0.5
      (3L, "a b c d"))  // {a b, b c, c d}: c d new -> 1/3
      .toDF("doc_id", "text")
    val r = TextAnalysis.ngramNovelty(d).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_bigram_types"), x.getAs[Long]("n_novel"),
          x.getAs[Double]("novelty_rate"))).toMap
    assert(r(1L) == (2L, 2L, 1.0))
    assert(r(2L) == (2L, 1L, 0.5))
    assert(r(3L) == (3L, 1L, 0.333333))
  }

  test("burstiness: clumped word beats evenly-spread word; df<2 filtered") {
    import spark.implicits._
    val df = Seq((1L, "a a a b"), (2L, "a b"), (3L, "b c"))
      .toDF("doc_id", "text")
    val rows = operators.TextAnalysis.wordBurstiness(df).collect()
    val m = rows.map(r => r.getAs[String]("word") ->
      (r.getAs[Long]("df"), r.getAs[Long]("total_tf"),
        r.getAs[Double]("vmr"))).toMap
    // a: tf {3, 1} over 2 docs -> mean 2, var 2, VMR 1; b: tf {1,1,1} -> VMR 0
    assert(m("a") == (2L, 4L, 1.0))
    assert(m("b") == (3L, 3L, 0.0))
    assert(!m.contains("c"), "df=1 word must be filtered")
    assert(rows.head.getAs[String]("word") == "a", "ordered by VMR desc")
  }

  test("hapax census: counts, hapax share and TTR match hand values") {
    import spark.implicits._
    // source s0: tokens [a a b c] -> vocab 3, hapax {b, c} = 2, n = 4
    // source s1: tokens [x x] -> vocab 1, hapax 0, n = 2
    val df = Seq(("s0", "a a b"), ("s0", "c"), ("s1", "x x"))
      .toDF("source", "text")
    val m = operators.TextAnalysis.hapaxCensus(df).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"),
          r.getAs[Long]("hapax"), r.getAs[Double]("hapax_share"),
          r.getAs[Double]("ttr"))).toMap
    assert(m("s0") == (4L, 3L, 2L, 0.666666667, 0.75))
    assert(m("s1") == (2L, 1L, 0L, 0.0, 0.5))
  }

  test("vocab overlap: jaccard from distinct vocabularies, ordered pairs only") {
    import spark.implicits._
    // vocabularies: s0 {a,b}, s1 {b,c}, s2 {z} — tf never matters
    val df = Seq(("s0", "a a b"), ("s1", "b c c"), ("s2", "z"))
      .toDF("source", "text")
    val rows = operators.TextAnalysis.vocabOverlap(df).collect()
    val m = rows.map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
      (r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))).toMap
    assert(m(("s0", "s1")) == (1L, 0.333333333))
    assert(!m.contains(("s1", "s0")), "only ordered pairs")
    assert(!m.contains(("s0", "s2")), "disjoint vocabularies emit no row")
  }

  test("char classes: shares match hand counts and sum to 1") {
    import spark.implicits._
    // "ab 12!" -> 6 chars: 2 alpha, 2 digit, 1 space, 1 other
    val df = Seq(("s0", "ab 12!")).toDF("source", "text")
    val r = operators.TextAnalysis.charClassProfile(df).collect().head
    assert(r.getAs[Long]("n_chars") == 6L)
    assert(r.getAs[Double]("alpha_share") == 0.333333333)
    assert(r.getAs[Double]("digit_share") == 0.333333333)
    assert(r.getAs[Double]("space_share") == 0.166666667)
    assert(r.getAs[Double]("other_share") == 0.166666667)
  }

  test("log-odds keywords: group-exclusive words get opposite-signed z") {
    import spark.implicits._
    val df = Seq(
      (0L, "alpha alpha shared", "en", "s0", 0L),
      (1L, "beta beta shared", "de", "s0", 0L),
      (2L, "ignored entirely", "fr", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = operators.TextAnalysis.logOddsKeywords(df).collect()
    val z = rows.map(r => r.getAs[String]("word") -> r.getAs[Double]("z")).toMap
    assert(z("alpha") > 0.0, "en-exclusive word must lean en")
    assert(z("beta") < 0.0, "de-exclusive word must lean de")
    assert(math.abs(z("shared")) < math.abs(z("alpha")),
      "a balanced word must score nearer zero than an exclusive one")
    assert(!z.contains("ignored"), "out-of-group langs must not contribute")
    assert(rows.head.getAs[String]("word") == "alpha", "ordered by z desc")
  }

  test("simpson diversity: one source is HHI 1, two equal sources effectively 2") {
    import spark.implicits._
    val df = Seq(
      (0L, "en", "a"), (1L, "en", "a"),                // en: all from a
      (2L, "de", "a"), (3L, "de", "b"))                // de: 50/50
      .toDF("doc_id", "lang", "source")
    val m = operators.TextAnalysis.simpsonDiversity(df).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_sources"),
          r.getAs[Double]("hhi"), r.getAs[Double]("effective_sources"))).toMap
    assert(m("en") == (2L, 1L, 1.0, 1.0))
    assert(m("de") == (2L, 2L, 0.5, 2.0))
  }

  test("js divergence: identical sources give 0, disjoint vocabularies ln 2") {
    import spark.implicits._
    val df = Seq(
      ("s0", "a a b"), ("s1", "a a b"),   // identical distributions
      ("s2", "x y z"))                    // disjoint from both
      .toDF("source", "text")
    val m = operators.TextAnalysis.jsDivergence(df).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        r.getAs[Double]("js_nats")).toMap
    assert(m(("s0", "s1")) == 0.0)
    // fully disjoint pairs have no co-occurrence rows and drop out of the
    // join — the observable contract: identical < everything else
    m.foreach { case (pair, js) =>
      assert(js >= 0.0 && js <= 0.6931471806, s"$pair out of [0, ln2]: $js")
    }
  }

  test("pmi collocations: exclusive pair outranks the self-pair; rare pairs filtered") {
    import spark.implicits._
    // doc 10: "alpha beta" x5 -> bigrams: (alpha beta) x5, (beta alpha) x4
    // doc 11: "c" x6 -> (c c) x5
    // n_tok = 16, n_bg = 14; only fbg >= 5 survive (beta-alpha at 4 drops)
    val df = Seq(
      (10L, Seq.fill(5)("alpha beta").mkString(" "), "en", "s0", 0L),
      (11L, Seq.fill(6)("c").mkString(" "), "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextAnalysis.pmiCollocations(df).collect()
    def micro(fbg: Double, f1: Double, f2: Double): Long =
      math.floor(math.log((fbg / 14.0) / ((f1 / 16.0) * (f2 / 16.0))) * 1e6).toLong
    assert(rows.map(_.getAs[String]("bg")).toList == List("alpha beta", "c c"))
    val m = rows.map(r => r.getAs[String]("bg") ->
      (r.getAs[Long]("fbg"), r.getAs[Long]("pmi_micro"))).toMap
    assert(m("alpha beta") == (5L, micro(5, 5, 5)))
    assert(m("c c") == (5L, micro(5, 6, 6)))
  }

  test("readability: sentence runs, vowel groups, flesch tree by hand") {
    import spark.implicits._
    // "Go. Go now!": [.!?]+ runs = 2; ws tokens = 3; vowel groups = 3
    // wps = 1.5, vpw = 1.0, flesch = 206.835 - 1.5225 - 84.6 = 120.7125
    val df = Seq((0L, "Go. Go now!", "en", "s0", 11L),
      (1L, "xyz", "en", "s1", 3L)) // no terminator -> 1 sentence; 0 vowels
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = TextAnalysis.readability(df).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(m("s0").getAs[Double]("words_per_sentence") == 1.5)
    assert(m("s0").getAs[Double]("vowel_groups_per_word") == 1.0)
    assert(m("s0").getAs[Double]("flesch_score") == 120.7125)
    assert(m("s1").getAs[Double]("words_per_sentence") == 1.0)
    assert(m("s1").getAs[Double]("vowel_groups_per_word") == 0.0)
  }

  test("heldout ppl: even docs train, odd score; unseen backs off to add-one unigram") {
    import spark.implicits._
    // train (doc 0): "a b a b" -> uni a:2 b:2 (N=4, V=2);
    // fbg "a b":2 "b a":1; ctx a->2 b->1.
    // test (doc 1): "a b c" -> bigrams "a b" (seen), "b c" (unseen w2)
    val df = Seq((0L, "a b a b", "en", "s0", 7L),
      (1L, "a b c", "en", "s0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def nllMicro(p: Double): Long = math.floor(-math.log(p) * 1e6).toLong
    val n1 = nllMicro(0.75 * (2.0 / 2.0) + 0.25 * (3.0 / 7.0)) // "a b"
    val n2 = nllMicro(0.25 * (1.0 / 7.0))                       // "b c"
    val expPpl = math.floor(math.exp((n1 + n2) / 2.0 / 1e6) * 1e4 + 0.5) / 1e4
    val r = TextAnalysis.heldoutPerplexity(df).collect().head
    assert(r.getAs[String]("source") == "s0")
    assert(r.getAs[Long]("n_bigrams") == 2L)
    assert(r.getAs[Double]("heldout_ppl") == expPpl)
  }

  test("heaps curve: prefix checkpoints count first-occurrence vocabulary") {
    import spark.implicits._
    // doc 0 "a b", doc 1 "a c": lim=2; deciles 1-4 -> threshold 0,
    // 5-9 -> 1 (doc 0 only), 10 -> 2 (both)
    val df = Seq((0L, "a b", "en", "s0", 3L), (1L, "a c", "en", "s0", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = TextAnalysis.heapsCurve(df).collect()
      .map(r => r.getAs[Long]("decile") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab_size"))).toMap
    assert(m(1L) == (0L, 0L))
    assert(m(5L) == (2L, 2L))
    assert(m(9L) == (2L, 2L))
    assert(m(10L) == (4L, 3L))
  }

  test("code detect: symbol-dense text flags as code, prose does not") {
    import spark.implicits._
    val df = Seq(
      ("src", "if (x == 1) { y = 2; }"),          // symbol-heavy
      ("src", "plain english words flow here"))    // prose
      .toDF("source", "text")
    val r = operators.TextAnalysis.codeDetect(df).collect().head
    assert(r.getAs[Long]("n_docs") == 2L)
    assert(r.getAs[Long]("n_code") == 1L)
    assert(r.getAs[Double]("code_share") == 0.5)
    assert(r.getAs[Double]("symbol_density") > 0.0)
  }

  test("burrows delta: identical sources are distance 0, a deviant source is not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x y", "A"), (2L, "x x y", "B"),  // identical style profiles
      (3L, "z z z w", "C"))                     // different vocabulary
      .toDF("doc_id", "text", "source")
    val m = operators.TextAnalysis.burrowsDelta(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("A", "B")) == 0.0, "same micro-frequencies -> identical z profiles")
    assert(m(("A", "C")) > 0.0 && m(("B", "C")) > 0.0)
    assert(m(("A", "C")) == m(("B", "C")), "symmetric deviation from C")
  }

  test("filter ablation: exclusive vs multi-rule failures partition the drops") {
    import spark.implicits._
    val good = Array.fill(10)("the cats sat on the mats").mkString(" ") // 60 toks
    val docs = Seq(
      (1L, "s", good),                       // passes all four rules
      (2L, "s", "the cats sat on the mats"), // 6 tokens: fails ONLY length
      (3L, "s", "1234 5678 9012"))           // fails length + stopword + alpha
      .toDF("doc_id", "source", "text")
    val r = operators.TextAnalysis.filterAblation(docs).collect().head
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_pass") == 1L)
    assert(r.getAs[Long]("only_len") == 1L)
    assert(r.getAs[Long]("only_wlen") == 0L)
    assert(r.getAs[Long]("only_stop") == 0L)
    assert(r.getAs[Long]("only_alpha") == 0L)
    assert(r.getAs[Long]("multi_fail") == 1L)
    // the five buckets partition the corpus
    assert(r.getAs[Long]("n_pass") + r.getAs[Long]("only_len") +
      r.getAs[Long]("only_wlen") + r.getAs[Long]("only_stop") +
      r.getAs[Long]("only_alpha") + r.getAs[Long]("multi_fail") == 3L)
  }

  test("t41 lexicon screen: hand census with flag boundary and empty doc") {
    import spark.implicits._
    // md5-surrogate lexicon membership (hash % 5 == 0), precomputed:
    // IN: alpha, spam, bar; OUT: beta, gamma, delta, foo
    val docs = Seq(
      (1L, "alpha spam beta gamma", "a"),  // 2/4 = 0.50 > 0.25 -> flagged
      (2L, "beta gamma delta foo", "a"),   // 0/4 -> clean
      (3L, "alpha beta gamma delta", "b"), // 1/4 = 0.25, NOT > 0.25 -> unflagged
      (4L, "", "b"))                       // empty: no tokens, null rate
      .toDF("doc_id", "text", "source")
    val m = TextAnalysis.lexiconScreen(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = m("a"); val b = m("b")
    assert(a.getAs[Long]("n_docs") == 2L && a.getAs[Long]("n_flagged") == 1L)
    assert(a.getAs[Long]("lexicon_hits") == 2L && a.getAs[Long]("total_tokens") == 8L)
    assert(a.getAs[Double]("mean_hit_rate") == 0.25) // (0.5 + 0.0) / 2
    assert(b.getAs[Long]("n_docs") == 2L && b.getAs[Long]("n_flagged") == 0L,
      "exactly-at-threshold and empty docs must not flag")
    assert(b.getAs[Long]("lexicon_hits") == 1L && b.getAs[Long]("total_tokens") == 4L)
    assert(b.getAs[Double]("mean_hit_rate") == 0.25) // empty doc excluded from the mean
  }

  test("t1, t2, t13 and t19 run on a session built without spark.sql.extensions") {
    // gopher_stats is built as a Column, not looked up by name; the
    // shared test session carries GraftExtensions, so the plain session
    // runs in a child JVM and its results are compared with this one's
    assertPlainSessionParity(sf("sf0.001"),
      Seq("t1_langid", "t2_quality", "t13_langid_confusion", "t19_gopher_rules"))
  }
}
