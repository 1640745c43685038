package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupQueries}

/** The r16 default-cap change (VERDICT r15 item 1): every capped index
  * derives its df cap from its OWN density via the g26 budget rule —
  * the fixed default constant is now only the ceiling. These specs pin
  * the rule's arithmetic, its clamps, the equality with the registered
  * g26 recommendation, and the scale property the change exists for: a
  * dense corpus's df² tail is cut at stock settings, no env vars.
  */
class CapDerivationSpec extends SparkSpec {
  import spark.implicits._

  private def cap(dfs: Seq[Int], nDocs: Long): Long = {
    val dfTab = dfs.toDF("df")
    val nd = Seq(nDocs).toDF("n_docs")
    Dedup.budgetCap(dfTab, nd).head().getLong(0)
  }

  test("budget rule: admit ascending df while cumulative pair mass fits the linear budget") {
    // n_docs=100 -> budget 25600 pairs. Levels: 100 keys at df=2 carry
    // 100 pairs (cum 100); one df=80 key carries 3160 (cum 3260); one
    // df=500 key carries 124750 (cum 128010 > budget) -> rec = 80.
    val dfs = Seq.fill(100)(2) ++ Seq(80, 500)
    assert(cap(dfs, 100) === 80L)
  }

  test("the driver-side budgetRule equals the in-plan budgetCap on random df tables") {
    val rnd = new scala.util.Random(7)
    // (budgetPerDoc, floor, ceiling): the stock rule, and a small one
    // whose every clamp a short table reaches
    val rules = Seq((Dedup.DefaultCapBudgetPerDoc, Dedup.DefaultCapFloor,
      Dedup.DefaultBucketDfCap), (2L, 3, 9))
    var between = 0
    (0 until 24).foreach { i =>
      val (budget, floor, ceil) = rules(i % 2)
      val nDocs = 1L + rnd.nextInt(300)
      // df levels below the floor, between floor and ceiling, and above
      // the ceiling, with repeats so levels carry several keys
      val dfs = Seq.fill(rnd.nextInt(40)) {
        val hi = ceil + ceil / 2
        Seq(1 + rnd.nextInt(floor + 1), floor + rnd.nextInt(ceil - floor + 1),
          1 + rnd.nextInt(hi))(rnd.nextInt(3)).toLong
      }
      val inPlan = Dedup.budgetCap(dfs.toDF("df"), Seq(nDocs).toDF("n_docs"),
        budget, floor, ceil).head().getLong(0)
      val hist = dfs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val onDriver = Dedup.budgetRule(hist, nDocs, budget, floor, ceil)
      assert(onDriver === inPlan, s"rule $i: n_docs $nDocs, dfs $dfs")
      if (onDriver > floor && onDriver < ceil && i % 2 == 0) between += 1
    }
    // the stock rule's budget bound strictly inside its clamps in some
    // tables, not only at the floor where test-scale corpora sit
    assert(between >= 2, s"$between tables bound between floor and ceiling")
  }

  test("budget rule clamps: floor on sparse/tiny, ceiling bounds the histogram") {
    // sparse: every level fits, max admitted df=2 -> clamped UP to floor
    assert(cap(Seq(2, 2, 2), 1) === Dedup.DefaultCapFloor.toLong)
    // no level >= 2 at all -> NULL rec -> floor
    assert(cap(Seq(1, 1), 5) === Dedup.DefaultCapFloor.toLong)
    // df above the ceiling never enters the histogram, so an enormous
    // budget still cannot recommend past the ceiling
    assert(cap(Seq(2, Dedup.DefaultShingleDfCap + 500), 1000000000L)
      === 2L.max(Dedup.DefaultCapFloor.toLong))
    // a level AT the ceiling with budget to spare recommends itself
    assert(cap(Seq.fill(1)(900), 1000000000L) === 900L)
  }

  test("the in-plan derived cap equals the registered g26 recommendation") {
    val ss = Dedup.shingleHashRows(Tables.documents(spark, sf("sf0.001")))
      .distinct()
    val dfTab = ss.groupBy("sh_h").agg(count(lit(1)).as("df"))
      .select(col("df"))
    val nd = ss.agg(countDistinct(col("doc_id")).as("n_docs"))
    val derived = Dedup.budgetCap(dfTab, nd).head().getLong(0)
    val g26 = Dedup.recommendShingleDfCap(ss).head()
      .getAs[Long]("recommended_cap")
    assert(derived === g26)
  }

  test("autoCapped(None) is exactly the fixed-cap filter at the derived value") {
    val ss = Dedup.shingleHashRows(Tables.documents(spark, sf("sf0.001")))
      .distinct()
    val derived = Dedup.recommendShingleDfCap(ss).head()
      .getAs[Long]("recommended_cap").toInt
    val auto = Dedup.cappedShingles(ss)
      .as[(Long, Long)].collect().toSet
    val fixed = Dedup.cappedShingles(ss, Some(derived))
      .as[(Long, Long)].collect().toSet
    assert(auto === fixed)
    assert(auto.nonEmpty)
  }

  test("dense corpus at STOCK settings: the df² tail is cut, emission stays within budget") {
    // the r14 failure shape in miniature: 100 docs all sharing 10 hot
    // keys (df=100 each -> 49,500 uncapped pairs, ~19x the 2,560+...
    // linear budget at n_docs=100) plus one discriminative key each.
    // With NO env vars and NO explicit cap the derived cap must drop
    // the hot keys: the budget rule admits nothing >= df 100, the floor
    // (64) keeps every discriminative key, and the candidate join emits
    // ZERO pairs instead of 45 hot pairs per doc.
    val idx = (0L until 100L).flatMap(d =>
      (1L to 10L).map(h => (d, h)) :+ (d, 1000L + d))
      .toDF("doc_id", "sh_h")
    val kept = Dedup.cappedShingles(idx)
    // hot keys dropped, discriminative keys all kept
    assert(kept.where(col("sh_h") <= 10L).count() === 0L)
    assert(kept.where(col("sh_h") >= 1000L).count() === 100L)
    val pairs = Dedup.ngramCandidates(idx, None).count()
    assert(pairs === 0L, s"df² tail must be cut at stock settings, got $pairs pairs")
    // while the pre-r16 fixed default (the ceiling) would have admitted
    // the full quadratic emission
    val uncapped = Dedup.ngramCandidates(idx,
      Some(Dedup.DefaultShingleDfCap)).count()
    assert(uncapped === 4950L, s"fixture must be genuinely dense, got $uncapped")
  }

  test("organic dup groups below the floor are untouched: capped == uncapped at test density") {
    // the invisibility contract the oracles rely on at sf0.001/sf0.01:
    // no organic df crosses the floor, so the derived cap changes nothing
    val ss = Dedup.shingleHashRows(Tables.documents(spark, sf("sf0.001")))
      .distinct()
    val auto = Dedup.ngramCandidates(ss, None)
      .as[(Long, Long, Long)].collect().toSet
    val unc = Dedup.ngramCandidates(ss, Some(Int.MaxValue))
      .as[(Long, Long, Long)].collect().toSet
    assert(auto === unc)
  }

  test("session-shared caps are bit-identical to the per-plan derivation (VERDICT r16 item 1)") {
    val d = sf("sf0.001")
    // shingle cap: shared 1-row table == in-plan derivation over the
    // same shared index == the registered g26 recommendation
    val ss = DedupQueries.sharedShingles(spark, d)
    val sharedSh = DedupQueries.sharedShingleCap(spark, d).head().getLong(0)
    val perPlanSh = Dedup.derivedCap(ss, Seq("sh_h"),
      Dedup.DefaultShingleDfCap).head().getLong(0)
    assert(sharedSh === perPlanSh)
    assert(sharedSh === Dedup.recommendShingleDfCap(ss).head()
      .getAs[Long]("recommended_cap"))
    // bucket cap: the one the candidate build derived from its bucket
    // pass == the in-plan derivation over the shared signature table
    val sig = DedupQueries.sharedSignatures(spark, d)
    val usedBk = DedupQueries.candidateBucketCap(spark, d)
    val perPlanBk = Dedup.derivedCap(sig, Seq("band", "minh"),
      Dedup.DefaultBucketDfCap).head().getLong(0)
    assert(usedBk === perPlanBk)
    // winnow cap over the distinct (doc_id, fp) projection
    val fp = DedupQueries.sharedWinnowFps(spark, d)
      .select(col("doc_id"), col("fp")).distinct()
    val sharedWn = DedupQueries.sharedWinnowCap(spark, d).head().getLong(0)
    val perPlanWn = Dedup.derivedCap(fp, Seq("fp"),
      Dedup.DefaultShingleDfCap).head().getLong(0)
    assert(sharedWn === perPlanWn)
  }

  test("a consumer fed the shared capTab returns exactly the per-plan rows") {
    val d = sf("sf0.001")
    val ss = DedupQueries.sharedShingles(spark, d)
    val withShared = Dedup.cappedShingles(ss,
        capTab = Some(DedupQueries.sharedShingleCap(spark, d)))
      .as[(Long, Long)].collect().toSet
    val perPlan = Dedup.cappedShingles(ss)
      .as[(Long, Long)].collect().toSet
    assert(withShared === perPlan)
    assert(withShared.nonEmpty)
  }

  test("bucket-index derivation: a planted boilerplate blob is dropped wholesale at stock settings") {
    // g25's documented-lossy contract now fires from the DERIVED cap:
    // 500 identical docs saturate their (band, minh) buckets at df=500
    // — 4·C(500,2) ≈ 499k pairs against a 256·(500+500) = 256k budget —
    // on a corpus whose organic buckets are tiny, so the budget rule
    // rejects the level, the floor (64) keeps every organic bucket, and
    // the planted group contributes no candidate pair — no pairwise work
    val docs = Tables.documents(spark, sf("sf0.001"))
    val aug = Dedup.plantBoilerplate(docs, 500)
    val base = Dedup.minhashCandidates(docs, 4).count()
    val got = Dedup.minhashCandidates(aug, 4).count()
    assert(got === base,
      s"planted 500-blob must be dropped by the derived bucket cap ($base vs $got)")
  }
}
