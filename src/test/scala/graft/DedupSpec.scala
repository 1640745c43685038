package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "spark makes big data small again and again and again"),
    (1L, "spark  makes\tbig data small again and again and again"), // ws variant of 0
    (2L, "completely different content with many unique words here"),
    (3L, "spark makes big data small again and again and again"),   // exact dup of 0
    (4L, "tiny doc")                                                // < 3 tokens → no shingles
  ).toDF("doc_id", "text")

  test("G1: exact dedup groups whitespace-normalized duplicates, min-id survivor") {
    val got = Dedup.exactDedup(docs).orderBy("doc_id")
      .as[(Long, Long)].collect().toList
    assert(got === List(0L -> 3L, 2L -> 1L, 4L -> 1L))
  }

  test("G1: dedup is idempotent") {
    val once = Dedup.exactDedup(docs)
    val docs2 = docs.join(once.select("doc_id"), "doc_id").select("doc_id", "text")
    val twice = Dedup.exactDedup(docs2).orderBy("doc_id")
      .select("doc_id").as[Long].collect().toList
    assert(twice === List(0L, 2L, 4L))
  }

  test("G1b: incremental dedup drops docs known to the existing corpus") {
    val existing = Seq((100L, "spark makes big data small again and again and again"))
      .toDF("doc_id", "text")
    // doc 0/1/3 normalize to the existing text → dropped; 2 and 4 survive,
    // and within-batch dedup keeps min ids
    val got = Dedup.exactDedupIncremental(existing, docs)
      .orderBy("doc_id").as[(Long, Long)].collect().toList
    assert(got === List(2L -> 1L, 4L -> 1L))
  }

  test("G1b: incremental of an empty corpus equals plain exact dedup") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val inc = Dedup.exactDedupIncremental(empty, docs)
      .orderBy("doc_id").as[(Long, Long)].collect().toList
    val full = Dedup.exactDedup(docs)
      .orderBy("doc_id").as[(Long, Long)].collect().toList
    assert(inc === full)
  }

  test("G2: identical docs get identical MinHash signatures; distinct docs differ") {
    val sig = Dedup.minhashSignature(docs, 4)
      .groupBy("doc_id").agg(concat_ws("|", collect_list(col("minh"))).as("s"))
      .as[(Long, String)].collect().toMap
    assert(sig(0L) === sig(3L))
    assert(sig(0L) !== sig(2L))
    assert(!sig.contains(4L)) // too short for 3-shingles
  }

  test("G2b: LSH candidates include the exact-dup pair, not the unrelated doc") {
    val pairs = Dedup.minhashCandidates(docs, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("G2c: AND-amplification keeps true dups and only tightens candidates") {
    val all = Dedup.minhashCandidates(docs, 4).as[(Long, Long)].collect().toSet
    val strict = Dedup.minhashNearDups(docs, 4, 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(strict.contains((0L, 3L))) // identical docs share all 4 bands
    assert(strict.subsetOf(all))      // amplification never adds pairs
  }

  test("G3: SimHash is deterministic and equal for identical docs") {
    val h = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(h(0L) === h(3L))
    assert(h.values.forall(v => v >= 0 && v < 65536))
  }

  test("G4: Jaccard of exact/ws-variant dups is 1.0 and tops the ranking") {
    // docs 0, 1, 3 tokenize identically → all three pairs tie at 1.0,
    // ordered by (doc_a, doc_b)
    val top = Dedup.ngramJaccardTop(docs, 5).as[(Long, Long, Double)].collect()
    assert(top.take(3).toList ===
      List((0L, 1L, 1.0), (0L, 3L, 1.0), (1L, 3L, 1.0)))
  }

  test("G4: df cap drops hot shingles from candidates and the Jaccard space") {
    // every shingle of docs 0/1/3 has df=3; with dfCap=2 those shingles
    // vanish, so the dup trio produces NO candidate pairs at all —
    // bounding the inverted-index emission is exactly the scale contract
    val ss = Dedup.shingleHashRows(docs).distinct()
    assert(Dedup.ngramCandidates(ss, Some(2)).count() === 0L)
    assert(Dedup.ngramJaccardTop(docs, 5, dfCap = Some(2)).count() === 0L)
    // a cap >= the max df is a no-op: identical to the uncapped ranking
    val capped = Dedup.ngramJaccardTop(docs, 5, dfCap = Some(100))
      .as[(Long, Long, Double)].collect().toList
    val default = Dedup.ngramJaccardTop(docs, 5).as[(Long, Long, Double)]
      .collect().toList
    assert(capped === default)
  }

  test("G2c: incremental near-dup flags the duplicate batch doc in every band") {
    // corpus: docs 0 (+2 as noise); batch: 1 (ws-variant of 0) and 2's
    // unique-content twin under a new id
    val corpus = docs.where(col("doc_id").isin(0L, 2L))
    val batch = Seq(
      (10L, "spark  makes\tbig data small again and again and again"),
      (11L, "nothing shares any three gram with the corpus at all")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashIncremental(corpus, batch, 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(10L) === ((4L, 0L)),
      "a whitespace variant must collide in all 4 bands with corpus doc 0")
    assert(!got.contains(11L), "unrelated content must not be flagged")
  }

  test("G2b: bucket-df cap drops degenerate buckets; ample cap is a no-op") {
    // 6 identical docs collapse to ONE signature per band -> every band
    // has a single bucket of df 6. With bucketCap=5 those buckets are
    // excluded, so the clique emits NO candidate pairs — the cap bounds
    // any bucket's emission at cap^2/2, the 100 TB boilerplate guard.
    val clique = (0L until 6L).map(i => (i, "a b c d e f g")).toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(clique, 4, bucketCap = Some(5)).count() === 0L)
    assert(Dedup.minhashNearDups(clique, 4, 1, bucketCap = Some(5)).count() === 0L)
    // a cap >= the max bucket df is a no-op: identical to the default
    val capped = Dedup.minhashCandidates(clique, 4, bucketCap = Some(6))
      .as[(Long, Long)].collect().toSet
    val default = Dedup.minhashCandidates(clique, 4).as[(Long, Long)].collect().toSet
    assert(capped === default)
    assert(default.size === 15) // C(6,2) — under the cap the clique is intact
    // the uncapped census still SEES the degenerate buckets the cap drops
    val census = Dedup.lshBucketCensus(clique).collect()
    census.foreach(r => assert(r.getAs[Long]("max_bucket") === 6L))
  }

  test("G25: dedup recall census — intact groups at ample cap, measured loss under it") {
    // two exact-dup groups (sizes 4 and 2) + a unique doc
    val docs = ((0L until 4L).map(i => (i, "a b c d e")) ++
      Seq((10L, "x y z w q"), (11L, "x y z w q"), (20L, "solo doc here")))
      .toDF("doc_id", "text")
    // ample cap: every exact-dup pair is captured -> recall exactly 1
    val full = Dedup.dedupRecallCensus(docs,
      Dedup.dedupClusters(Dedup.minhashCandidates(docs, 4))).collect().head
    assert(full.getAs[Long]("n_dup_groups") == 2L)
    assert(full.getAs[Long]("n_intact_groups") == 2L)
    assert(full.getAs[Long]("exact_pairs") == 7L)   // C(4,2) + C(2,2)
    assert(full.getAs[Long]("captured_pairs") == 7L)
    assert(full.getAs[Double]("pair_recall") == 1.0)
    // cap BELOW the 4-clique's bucket df: its buckets drop, the group
    // splits to singletons, and the census MEASURES the loss — the
    // outcome-level read of the documented-lossy bucket cap
    val capped = Dedup.dedupRecallCensus(docs,
      Dedup.dedupClusters(Dedup.minhashCandidates(docs, 4, bucketCap = Some(3))))
      .collect().head
    assert(capped.getAs[Long]("n_intact_groups") == 1L)
    assert(capped.getAs[Long]("captured_pairs") == 1L)
    assert(capped.getAs[Double]("pair_recall") == 0.142857) // 1/7 at 6 dp
  }

  test("DEFAULT cap bites on a >cap boilerplate group: g21 predicts it, g25 prices C(n,2)") {
    // r13 (VERDICT item 8): every dataset sits far below
    // DefaultBucketDfCap=1000, so until now the LOSSY path only fired at
    // toy caps. Plant a dup group ABOVE the real cap on a real corpus:
    // the capped join must drop the whole group — no pairwise work — and
    // the monitoring pair must quantify exactly the predicted loss.
    val docs = Tables.documents(spark, sf("sf0.001"))
    def census(d: org.apache.spark.sql.DataFrame) =
      Dedup.dedupRecallCensus(d,
        Dedup.dedupClusters(Dedup.minhashCandidates(d, 4))).collect().head
    val base = census(docs)
    val n = Dedup.DefaultBucketDfCap + 50
    val aug = Dedup.plantBoilerplate(docs, n)
    // prediction side (g21, uncapped): the planted group is a df-n
    // bucket in EVERY band — visible before the cap drops it
    Dedup.lshBucketCensus(aug).collect().foreach { r =>
      assert(r.getAs[Long]("max_bucket") >= n.toLong, r.toString)
    }
    // outcome side (g25): exactly C(n,2) pairs lost, nothing else moves
    val got = census(aug)
    val lost = n.toLong * (n - 1) / 2
    assert(got.getAs[Long]("n_dup_groups") ===
      base.getAs[Long]("n_dup_groups") + 1)
    assert(got.getAs[Long]("exact_pairs") ===
      base.getAs[Long]("exact_pairs") + lost)
    assert(got.getAs[Long]("captured_pairs") ===
      base.getAs[Long]("captured_pairs"),
      "the organic capture must be untouched by the planted group")
    assert(got.getAs[Long]("n_intact_groups") ===
      base.getAs[Long]("n_intact_groups"))
  }

  test("G2c: incremental index-side bucket cap shields a batch from hot corpus buckets") {
    // corpus: 4 identical docs (one hot bucket per band, df 4); batch:
    // one more copy. With cap=3 the index rows vanish -> no flag; with
    // the default cap the batch doc collides in all 4 bands.
    val corpus = (0L until 4L).map(i => (i, "a b c d e f g")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b c d e f g")).toDF("doc_id", "text")
    assert(Dedup.minhashIncremental(corpus, batch, 4, bucketCap = Some(3)).count() === 0L)
    val got = Dedup.minhashIncremental(corpus, batch, 4)
      .as[(Long, Long, Long)].collect().toList
    assert(got === List((10L, 4L, 0L)))
  }

  test("g18: dup groups split by language composition; singletons dropped") {
    val df = Seq(
      (0L, "same  text", "en"), (1L, "same text", "de"),  // cross-lang pair
      (2L, "other text", "en"), (3L, "other text", "en"), // same-lang pair
      (4L, "unique text", "fr"))                          // singleton
      .toDF("doc_id", "text", "lang")
    val m = Dedup.crossLangDupCensus(df).collect()
      .map(r => r.getAs[String]("lang_set") ->
        (r.getAs[Long]("n_groups"), r.getAs[Long]("n_docs"))).toMap
    assert(m == Map("de,en" -> (1L, 2L), "en" -> (1L, 2L)))
  }

  test("g21: duplicate docs share every band bucket; pair mass counts the join") {
    val df = Seq(
      (0L, "a b c d e"), (1L, "a b c d e"), // identical -> same sig all bands
      (2L, "v w x y z"))
      .toDF("doc_id", "text")
    val rows = Dedup.lshBucketCensus(df).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_buckets") == 2L)
      assert(r.getAs[Long]("max_bucket") == 2L)
      assert(r.getAs[Long]("pair_mass") == 1L)
    }
  }

  test("g19: df census bins by digits; pair mass is df*(df-1)/2 per shingle") {
    // 11 copies of a 5-token text -> 3 shingles at df=11 (2 digits);
    // one unique 5-token text -> 3 shingles at df=1 (1 digit)
    val copies = (0L until 11L).map(i => (i, "a b c d e"))
    val df = (copies :+ (99L, "v w x y z")).toDF("doc_id", "text")
    val m = Dedup.shingleDfCensus(df).collect()
      .map(r => r.getAs[Long]("df_digits") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("postings"),
          r.getAs[Long]("pair_candidates"))).toMap
    assert(m == Map(
      1L -> (3L, 3L, 0L),          // unique shingles emit no pairs
      2L -> (3L, 33L, 3L * 55L)))  // df=11 -> C(11,2)=55 pairs each
  }

  test("band agreement curve: ladder is non-increasing; twins agree in all bands") {
    val df = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"),
      (3L, "v w x y z q r")).toDF("doc_id", "text")
    val rows = Dedup.bandAgreementCurve(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L))
    // identical docs share identical signatures -> survive every threshold
    (1L to 4L).foreach(k => assert(rows(k)._2 >= 1L, s"k=$k: $rows"))
    assert(rows(4L)._1 >= 1L, "the twin pair collides in exactly 4 bands")
    // cumulative ladder never increases with the threshold
    (1L to 3L).foreach(k => assert(rows(k)._2 >= rows(k + 1)._2))
    // threshold-1 volume is exactly the candidate-pair count
    assert(rows(1L)._2 == Dedup.minhashCandidates(df, 4).count())
  }

  test("g26 budget rule: admits ascending df levels within the per-doc budget") {
    import spark.implicits._
    // 100 docs; 10 rare shingles with df=2 (1 pair each, cum 10 at df=2);
    // 1 hot shingle with df=100 (C(100,2)=4950 pairs, cum 4960 at df=100)
    val rare = (0 until 10).flatMap(i => Seq((2L * i, 1000L + i), (2L * i + 1, 1000L + i)))
    val hot = (0 until 100).map(d => (d.toLong, 1L))
    val sh = (rare ++ hot).toDF("doc_id", "sh_h")
    def rec(budget: Long, floor: Int, ceil: Int) = {
      val r = Dedup.recommendShingleDfCap(sh, budget, floor, ceil).collect()(0)
      (r.getAs[Long]("n_docs"), r.getAs[Long]("budget_pairs"),
        r.getAs[Long]("recommended_cap"), r.getAs[Long]("admitted_pairs"))
    }
    // budget 1/doc (=100): the df=2 level fits (10 <= 100), the df=100
    // level (cum 4960) does not -> cap lands between them
    assert(rec(1L, 1, 1000) === ((100L, 100L, 2L, 10L)))
    // budget 50/doc (=5000) affords everything -> cap = densest level
    assert(rec(50L, 1, 1000) === ((100L, 5000L, 100L, 4960L)))
    // the recall floor overrides a tighter budget pick, and the result
    // reports the mass actually admitted at the CLAMPED cap
    assert(rec(1L, 64, 1000) === ((100L, 100L, 64L, 10L)))
    // levels above the ceiling are never admitted, whatever the budget
    assert(rec(50L, 1, 80) === ((100L, 5000L, 2L, 10L)))
  }

  test("g26: all-unique corpus recommends the floor with zero admitted mass") {
    import spark.implicits._
    val uniq = (0 until 20).map(d => (d.toLong, 5000L + d)).toDF("doc_id", "sh_h")
    val r = Dedup.recommendShingleDfCap(uniq, 10L, 64, 1000).collect()(0)
    assert(r.getAs[Long]("n_docs") === 20L)
    assert(r.getAs[Long]("recommended_cap") === 64L)
    assert(r.getAs[Long]("admitted_pairs") === 0L)
  }

  test("g26 recommendation composes with cappedShingles: the hot tail is cut") {
    import spark.implicits._
    val rare = (0 until 10).flatMap(i => Seq((2L * i, 1000L + i), (2L * i + 1, 1000L + i)))
    val hot = (0 until 100).map(d => (d.toLong, 1L))
    val sh = (rare ++ hot).toDF("doc_id", "sh_h")
    val cap = Dedup.recommendShingleDfCap(sh, 1L, 1, 1000)
      .collect()(0).getAs[Long]("recommended_cap").toInt
    // under the recommended cap the inverted-index join emits exactly
    // the 10 rare pairs — the 4950-pair hot tail is gone
    assert(Dedup.ngramCandidates(sh, Some(cap)).count() === 10L)
  }

  test("x1 and g2_minhash_sig run on a session built without spark.sql.extensions") {
    // md5_long56 and minhash_sig are built as Columns, not looked up by
    // name: a Sampling query and Dedup.minhashSignature (the signature
    // level g2_minhash_sig returns) need no GraftExtensions
    assertPlainSessionParity(sf("sf0.001"), Seq("x1_hash_sample", "g2_minhash_sig"))
  }
}
