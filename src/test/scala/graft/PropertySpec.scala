package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.plans.StageAggregator
import graft.plans.StageAggregator.ProgressEvent

/** Property tests (SURVEY §5): invariants that must hold for ANY input,
  * not just fixtures. Uses seeded scalacheck generators directly (the
  * scalatest-scalacheck bridge isn't in the offline cache). */
class PropertySpec extends SparkSpec {

  private def forAllSamples[A](g: Gen[A], n: Int = 50)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }

  private val eventGen = for {
    t <- Gen.choose(0L, 10000L)
    m <- Gen.choose(0, 100)
    r <- Gen.choose(0, 100)
  } yield (t, m, r)

  test("stage times: durations non-negative, overlap in [0,100], total >= map") {
    forAllSamples(Gen.nonEmptyListOf(eventGen)) { evs =>
      val buf = evs.map { case (t, m, r) => ProgressEvent("r", t, m, r) }
        .foldLeft(StageAggregator.agg.zero)(StageAggregator.agg.reduce)
      val st = StageAggregator.agg.finish(buf)
      assert(st.totalS >= 0.0 && st.mapS >= 0.0 && st.reduceS >= 0.0)
      // NOTE: shuffleS has no non-negativity invariant — the reference's
      // 2nd-from-end fallback (common_utils.py:112-119, copied as-is per
      // SURVEY §7 risk 4) can end the shuffle before its detected start
      // for pathological event orders; parity beats sanity here.
      assert(st.overlapPct >= 0.0 && st.overlapPct <= 100.0)
      assert(st.totalS >= st.mapS)
    }
  }

  test("aggregator merge is commutative and agrees with sequential reduce") {
    forAllSamples(Gen.zip(Gen.nonEmptyListOf(eventGen), Gen.nonEmptyListOf(eventGen))) { case (l, r) =>
      val a = l.map { case (t, m, x) => ProgressEvent("r", t, m, x) }
        .foldLeft(StageAggregator.agg.zero)(StageAggregator.agg.reduce)
      val b = r.map { case (t, m, x) => ProgressEvent("r", t, m, x) }
        .foldLeft(StageAggregator.agg.zero)(StageAggregator.agg.reduce)
      val merged = StageAggregator.agg.finish(StageAggregator.agg.merge(a, b))
      val mergedRev = StageAggregator.agg.finish(StageAggregator.agg.merge(b, a))
      val seq = (l ++ r).map { case (t, m, x) => ProgressEvent("r", t, m, x) }
        .foldLeft(StageAggregator.agg.zero)(StageAggregator.agg.reduce)
      assert(merged === mergedRev)
      assert(merged === StageAggregator.agg.finish(seq))
    }
  }

  test("affine permutations: range, collisions only via the mixed residue, bands distinct") {
    import operators.Dedup.{MinhashP, affinePerm}
    def evalPerm(j: Int, h: Long): Long = {
      val a = 2L * j + 1
      val off = (j.toLong * operators.Dedup.MinhashMixer) % MinhashP
      (a * ((h ^ off) % MinhashP) + off) % MinhashP
    }
    // (2j+1) is odd and < P (prime), so x -> (2j+1)x + off is a bijection
    // on [0, P): a band collision can ONLY come from the XOR-mixed
    // residues colliding mod P, never from the affine map itself
    forAllSamples(Gen.zip(Gen.choose(0L, MinhashP - 1), Gen.choose(0L, MinhashP - 1)), n = 200) {
      case (h1, h2) =>
        (0 until 4).foreach { j =>
          val off = (j.toLong * operators.Dedup.MinhashMixer) % MinhashP
          if (((h1 ^ off) % MinhashP) != ((h2 ^ off) % MinhashP))
            assert(evalPerm(j, h1) !== evalPerm(j, h2))
          assert(evalPerm(j, h1) >= 0 && evalPerm(j, h1) < MinhashP)
        }
    }
    // decorrelation (the point of the XOR pre-mix): raw hashes that
    // collide mod P — h and h + P — must NOT collide in every band.
    // Under the old family ((2j+1)·(h%P)+off) they collided in ALL bands.
    forAllSamples(Gen.choose(0L, (1L << 55) - 1), n = 100) { h =>
      assert((1 until 4).exists(j => evalPerm(j, h) != evalPerm(j, h + MinhashP)),
        s"h=$h and h+P collide in every band — bands are correlated")
    }
    // bands must be DISTINCT permutations: for every band pair, at least
    // one probe input maps differently (a regression collapsing all bands
    // to one permutation would turn banded LSH into a single band)
    val probes = Seq(0L, 1L, 2L, 12345L, MinhashP - 1)
    for (j1 <- 0 until 4; j2 <- j1 + 1 until 4)
      assert(probes.exists(h => evalPerm(j1, h) != evalPerm(j2, h)),
        s"bands $j1 and $j2 are the same permutation")
    // the Scala evaluation must agree with the SQL fragment both engines run
    import spark.implicits._
    val hs = Seq(0L, 1L, MinhashP - 1, 123456789L, (1L << 56) - 1).toDF("h")
    (0 until 4).foreach { j =>
      val sql = hs.selectExpr(s"h", s"${affinePerm(j, "h")} as p")
        .as[(Long, Long)].collect().toMap
      sql.foreach { case (h, p) => assert(p === evalPerm(j, h)) }
    }
  }

  test("replicateDocs mints globally unique doc_ids at any factor") {
    import spark.implicits._
    val docs = Seq((0L, "a", "en", "s", 1L), (1L, "b", "en", "s", 1L),
      (7L, "c", "de", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Seq(1, 3, 20).foreach { f =>
      val ids = ScaleDemo.replicateDocs(docs, f).select("doc_id")
        .as[Long].collect()
      assert(ids.length === 3 * f)
      assert(ids.distinct.length === ids.length, s"factor $f: id collision")
    }
  }

  test("as-of join agrees with a naive per-row reference on random data") {
    import spark.implicits._
    import java.sql.Timestamp
    val rowGen = for {
      key <- Gen.choose(1L, 3L)     // few keys → dense per-key history
      t <- Gen.choose(0L, 50L)      // coarse ts → frequent ties
      id <- Gen.choose(0L, 10000L)
      v <- Gen.choose(0, 100).map(_.toDouble)
    } yield (key, t, id, v)
    forAllSamples(Gen.zip(Gen.nonEmptyListOf(rowGen), Gen.nonEmptyListOf(rowGen)), n = 6) {
      case (lRaw, rRaw) =>
        // unique tie-break ids per side (the operator requires a total order)
        val l = lRaw.zipWithIndex.map { case ((k, t, _, v), i) => (k, t, i.toLong, v) }
        val r = rRaw.zipWithIndex.map { case ((k, t, _, v), i) => (k, t, i.toLong, v) }
        val left = l.map { case (k, t, id, _) =>
          (k, new Timestamp(t * 1000), id) }.toDF("key", "ts", "event_id")
        val right = r.map { case (k, t, id, v) =>
          (k, new Timestamp(t * 1000), id, v) }.toDF("key", "ts", "event_id", "value")
        val got = operators.AsOf.asofLatest(left, right, "key", "ts",
            "event_id", "value", "v")
          .select("event_id", "v").as[(Long, Option[Double])].collect().toMap
        l.foreach { case (k, t, id, _) =>
          // naive reference: latest right row at-or-before (ties: max id)
          val cand = r.filter(rr => rr._1 == k && rr._2 <= t)
          val expect = if (cand.isEmpty) None
            else Some(cand.maxBy(rr => (rr._2, rr._3))._4)
          assert(got(id) === expect, s"key=$k t=$t")
        }
    }
  }

  test("range join agrees with a naive filter join on random intervals") {
    import spark.implicits._
    import java.sql.Timestamp
    val ptGen = for {
      k <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 100L)
    } yield (k, t)
    val ivGen = for {
      k <- Gen.choose(1L, 3L); s <- Gen.choose(0L, 100L)
      len <- Gen.choose(0L, 40L)
    } yield (k, s, s + len)
    forAllSamples(Gen.zip(Gen.nonEmptyListOf(ptGen), Gen.nonEmptyListOf(ivGen)), n = 6) {
      case (ps, ivs) =>
        val points = ps.zipWithIndex.map { case ((k, t), i) =>
          (k, new Timestamp(t * 1000), i.toLong) }.toDF("key", "ts", "event_id")
        val intervals = ivs.zipWithIndex.map { case ((k, s, e), i) =>
          (k, i.toLong, new Timestamp(s * 1000), new Timestamp(e * 1000))
        }.toDF("key", "iv_id", "start_ts", "end_ts")
        val got = operators.RangeJoin.pointInInterval(points, intervals,
            "key", "ts", "start_ts", "end_ts", bucketSec = 17L)
          .select(col("iv_id"), col("pt_event_id"))
          .as[(Long, Long)].collect().toSet
        val expect = (for {
          ((ik, s, e), ii) <- ivs.zipWithIndex
          ((pk, t), pi) <- ps.zipWithIndex
          if ik == pk && t >= s && t < e
        } yield (ii.toLong, pi.toLong)).toSet
        assert(got === expect)
    }
  }

  test("zorder key de-interleaves back to its inputs (pure-integer mirror)") {
    // Scala mirror of Stats.zorderTerms — the polynomial both engines run
    def zkey(x: Long, y: Long): Long = (0 until 8).map { b =>
      ((x / (1L << b)) % 2) * (1L << (2 * b)) +
        ((y / (1L << b)) % 2) * (1L << (2 * b + 1))
    }.sum
    def deinterleave(z: Long): (Long, Long) = {
      val x = (0 until 8).map(b => ((z >> (2 * b)) & 1) << b).sum
      val y = (0 until 8).map(b => ((z >> (2 * b + 1)) & 1) << b).sum
      (x, y)
    }
    forAllSamples(Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L)), n = 300) {
      case (x, y) => assert(deinterleave(zkey(x, y)) === ((x, y)))
    }
    // locality: within an aligned 1024-wide z-range, both dims span <= 31
    forAllSamples(Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L)), n = 100) {
      case (x, y) =>
        val z = zkey(x, y)
        val (x0, y0) = deinterleave(z - (z % 1024))
        assert(x - x0 >= 0 && x - x0 <= 31 && y - y0 >= 0 && y - y0 <= 31)
    }
  }

  test("wordCount conserves tokens for arbitrary ascii text") {
    import spark.implicits._
    val textGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)), Gen.const(" "), Gen.const("\t")))
      .map(_.mkString)
    forAllSamples(Gen.nonEmptyListOf(textGen), n = 8) { texts =>
      val df = texts.toDF("text")
      val totals = operators.WordCount.tokenTotals(df)
        .collect()(0)
      val expected = texts.flatMap(_.split("[ \t\n\r\f]+")).count(_.nonEmpty)
      assert((if (totals.isNullAt(0)) 0L else totals.getLong(0)) === expected.toLong)
    }
  }

  test("wordCount conserves tokens and matches explode(split) per word on arbitrary unicode text") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, length, split}
    import operators.WordCount
    // the five delimiters, and whitespace that must NOT split: \x0B,
    // NBSP, NEL, LINE SEPARATOR
    val sep = Gen.oneOf(" ", "\t", "\n", "\r", "\f", "\u000B", "\u00A0",
      "\u0085", "\u2028", "  \t ")
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("é", "中", "😀", "aé中😀", "naïve", "x"))
    val line = Gen.listOf(Gen.oneOf(word, sep)).map(_.mkString)
    val text = Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some("")),
      8 -> line.map(Some(_)))
    // one line of invalid UTF-8: a lone lead byte before a space, a stray
    // 0xFF, a truncated 3-byte sequence, a bare continuation byte
    val invalid = spark.sql(
      "SELECT cast(X'2061C3206280FF09E4B8AD0CE4B82063800B64' AS string) AS text")
    forAllSamples(Gen.nonEmptyListOf(text), n = 8) { texts =>
      val df = texts.toDF("text").union(invalid)
      val got = WordCount.wordCount(df).as[(String, Long)].collect().toMap
      val want = df.select(explode(split(col("text"), WordCount.WhitespaceRe)).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").count()
        .as[(String, Long)].collect().toMap
      assert(got === want)
      val tokens = (texts.flatten :+ invalid.as[String].head())
        .flatMap(_.split(WordCount.WhitespaceRe)).count(_.nonEmpty)
      assert(got.values.sum === tokens.toLong)
    }
  }

  // per-doc text: null, empty, whitespace-only, and lines of words (often
  // fewer than 3) over the five delimiters, whitespace that must NOT
  // split (\x0B, NBSP, NEL, LINE SEPARATOR) and multi-byte characters
  private val unicodeText: Gen[Option[String]] = {
    val sep = Gen.oneOf(" ", "\t", "\n", "\r", "\f", "\u000B", "\u00A0",
      "\u0085", "\u2028", "  \t ")
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("é", "中", "😀", "naïve", "The", "the", "OF", "of", "a", "A"))
    val line = Gen.listOf(Gen.oneOf(word, sep)).map(_.mkString)
    Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some("")),
      1 -> Gen.oneOf(" ", "\t\n", " \r\f ").map(Some(_)), 6 -> line.map(Some(_)))
  }

  // one line of invalid UTF-8 as a SQL expression: five tokens, three of
  // them with a bare continuation byte 0x80 or a truncated sequence
  private val invalidUtf8Text =
    "cast(X'2061C3206280FF09E4B8AD0CE4B82063800B64' AS string)"

  test("minhash_sig equals the exploded-shingle md5 + per-band min + stack unpivot on arbitrary unicode text") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import operators.Dedup
    // the signature as it was computed before the minhash_sig byte pass,
    // kept as the reference: md5_long56 of every exploded 3-shingle, the
    // per-band min of its affine permutation grouped by doc, unpivoted
    def refSig(docs: DataFrame, bands: Int): DataFrame = {
      val mins = (0 until bands).map(b =>
        min(expr(Dedup.affinePerm(b, "sh_h"))).as(s"m$b"))
      val stackArgs = (0 until bands).map(b => s"$b, m$b").mkString(", ")
      Dedup.shingleHashRows(docs)
        .groupBy("doc_id").agg(mins.head, mins.tail: _*)
        .select(col("doc_id"),
          expr(s"stack($bands, $stackArgs)").as(Seq("band", "minh")))
    }
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val invalid = spark.sql(s"SELECT -1L AS doc_id, $invalidUtf8Text AS text")
    forAllSamples(Gen.nonEmptyListOf(unicodeText), n = 8) { ts =>
      val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").union(invalid)
      // docs with fewer than 3 tokens (null, empty, whitespace-only,
      // short lines) have no signature rows
      val signed = ts.zipWithIndex.collect {
        case (Some(t), i) if t.split("[ \t\n\r\f]+").count(_.nonEmpty) >= 3 => i.toLong
      }.toSet + -1L
      Seq(1, 4).foreach { bands =>
        val got = Dedup.minhashSignature(docs, bands)
        assert(got.select("doc_id").distinct().as[Long].collect().toSet === signed)
        assert(rows(got) === rows(refSig(docs, bands)), s"bands=$bands")
      }
    }
  }

  test("langId and qualityScore match the explode + groupBy token stats on arbitrary unicode text") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.functions.Parity.pround
    import operators.TextAnalysis
    // the per-doc stats as they were computed before the gopher_stats
    // byte pass, kept as the reference: one row per token, grouped by doc
    def explodeStats(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), col("lang"),
          explode(expr(operators.Dedup.tokensExpr)).as("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("w").isin(TextAnalysis.Stopwords: _*), 1L).otherwise(0L))
            .as("n_stop"),
          sum(length(col("w"))).as("sum_wlen"),
          first(col("lang")).as("lang"))
    def refLangId(docs: DataFrame): DataFrame = explodeStats(docs)
      .select(col("doc_id"),
        (col("n_stop").cast("double") / col("n_tokens").cast("double")).as("stop_ratio"),
        col("lang"))
      .select(col("doc_id"), pround(col("stop_ratio"), 6).as("stop_ratio"),
        when(col("stop_ratio") >= 0.05, lit("en")).otherwise(lit("other")).as("pred_lang"),
        (col("lang") === "en").cast("int").as("is_en"))
    def refQuality(docs: DataFrame): DataFrame = explodeStats(docs)
      .select(col("doc_id"), col("n_tokens"),
        pround(col("sum_wlen").cast("double") / col("n_tokens").cast("double"), 4).as("avg_wlen"),
        pround(col("n_stop").cast("double") / col("n_tokens").cast("double"), 4).as("stop_ratio"),
        pround(least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5 +
          (col("n_stop").cast("double") / col("n_tokens").cast("double")) * 0.5, 4)
          .as("quality"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

    val doc = Gen.zip(unicodeText, Gen.oneOf("en", "fr"))
    val invalid = spark.sql(s"SELECT -1L AS doc_id, $invalidUtf8Text AS text, " +
      "'en' AS lang, 17L AS n_chars")
    forAllSamples(Gen.nonEmptyListOf(doc), n = 8) { ds =>
      val docs = ds.zipWithIndex
        .map { case ((t, l), i) => (i.toLong, t, l, t.fold(0L)(_.length.toLong)) }
        .toDF("doc_id", "text", "lang", "n_chars").union(invalid)
      // docs with no token (null, empty, whitespace-only) are absent
      val withTokens = ds.zipWithIndex.collect {
        case ((Some(t), _), i) if t.split("[ \t\n\r\f]+").exists(_.nonEmpty) => i.toLong
      }.toSet + -1L
      val lang = TextAnalysis.langId(docs)
      assert(lang.select("doc_id").as[Long].collect().toSet === withTokens)
      assert(rows(lang) === rows(refLangId(docs)))
      // the byte pass and the decoded split agree on every valid line
      val valid = docs.where(col("doc_id") >= 0L)
      assert(rows(TextAnalysis.qualityScore(valid)) === rows(refQuality(valid)))
    }
    // on the invalid line they agree on the token and stopword counts but
    // not on word length: split decodes each bad byte to one U+FFFD, the
    // byte pass counts a bare continuation byte as no character
    // (a^ + b + ^ + 中 + ^ + c + \x0B + d = 9 chars over 5 tokens, not 11)
    val q = TextAnalysis.qualityScore(invalid).as[(Long, Long, Double, Double, Double)].head()
    assert(q === ((-1L, 5L, 1.8, 0.0, 0.025)))
    assert(refQuality(invalid).select("avg_wlen").as[Double].head() === 2.2)
  }

  test("chunk dedup conserves chunks for arbitrary tiny-alphabet corpora") {
    import spark.implicits._
    // 3-letter alphabet forces heavy window collisions
    val docGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c")).map(_.mkString(" "))
    forAllSamples(Gen.nonEmptyListOf(docGen), n = 8) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") }
        .toDF("doc_id", "text", "lang")
      val out = operators.Packing.chunkDedup(docs, 3, 3)
      val rows = out.collect()
      // per-doc: 0 <= n_kept <= n_chunks; globally kept = distinct contents
      assert(rows.forall(r => r.getAs[Long]("n_kept") >= 0 &&
        r.getAs[Long]("n_kept") <= r.getAs[Long]("n_chunks")))
      val keptSum = rows.map(_.getAs[Long]("n_kept")).sum
      val distinctChunks = operators.Packing.chunkWindows(docs, 3, 3)
        .select("chunk_text").distinct().count()
      assert(keptSum === distinctChunks)
    }
  }

  test("weighted sample: exact size, subset of positive-weight rows, deterministic") {
    import spark.implicits._
    val rowGen = Gen.zip(Gen.choose(1L, 1000L), Gen.choose(-5L, 500L))
    forAllSamples(Gen.nonEmptyListOf(rowGen).map(_.distinctBy(_._1)), n = 8) { rows =>
      val df = rows.toDF("doc_id", "wt")
      val pos = rows.filter(_._2 > 0).map(_._1).toSet
      val k = 5
      val got = operators.Sampling.weightedSample(df, "wt", k)
        .select("doc_id").as[Long].collect()
      assert(got.length === math.min(k, pos.size))
      assert(got.toSet.subsetOf(pos))
      val again = operators.Sampling.weightedSample(df, "wt", k)
        .select("doc_id").as[Long].collect()
      assert(got.toSeq === again.toSeq)
    }
  }

  test("skyline: window formulation equals brute-force dominance on any point set") {
    import spark.implicits._
    val ptGen = Gen.zip(Gen.choose(1, 8), Gen.choose(1, 8))
    forAllSamples(Gen.nonEmptyListOf(ptGen), n = 8) { pts =>
      val rows = pts.zipWithIndex.map { case ((sz, pr), i) =>
        (i.toLong, sz, pr.toDouble) }
      val df = rows.toDF("p_partkey", "p_size", "p_retailprice")
      val got = operators.Stats.skylineParts(df).collect()
        .map(_.getLong(0)).toSet
      val brute = rows.filter { case (_, s, p) =>
        !rows.exists { case (_, ds, dp) =>
          ds >= s && dp <= p && (ds > s || dp < p) }
      }.map(_._1).toSet
      assert(got === brute, s"points: $rows")
    }
  }

  test("triangle census: orientation count equals brute-force on any graph") {
    import spark.implicits._
    val edgeGen = Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L))
      .suchThat { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    forAllSamples(Gen.nonEmptyListOf(edgeGen).map(_.distinct), n = 8) { edges =>
      val df = edges.toDF("doc_a", "doc_b")
      val r = operators.Graph.triangleCensus(df).collect().head
      val es = edges.toSet
      def adj(a: Long, b: Long) = es((math.min(a, b), math.max(a, b)))
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val tri = (for {
        i <- nodes; j <- nodes if j > i; k <- nodes if k > j
        if adj(i, j) && adj(j, k) && adj(i, k)
      } yield 1).size.toLong
      val deg = nodes.map(n => edges.count(e => e._1 == n || e._2 == n).toLong)
      assert(r.getAs[Long]("n_nodes") === nodes.size.toLong)
      assert(r.getAs[Long]("n_edges") === edges.size.toLong)
      assert(r.getAs[Long]("n_wedges") === deg.map(d => d * (d - 1) / 2).sum)
      // 10-node graphs: every degree is far under the hub cap, so the
      // capped subgraph IS the graph and the census must say so
      assert(r.getAs[Long]("n_hub_nodes") === 0L)
      assert(r.getAs[Long]("n_wedges_capped") === deg.map(d => d * (d - 1) / 2).sum)
      assert(r.getAs[Long]("n_triangles") === tri, s"edges: $edges")
    }
  }

  test("kendall tau-b: spark grid equals the sequential brute count") {
    import spark.implicits._
    import java.sql.Timestamp
    // (dayOffset, priceCents) orders; days collapse like the query's
    val oGen = Gen.zip(Gen.choose(0, 5), Gen.choose(1, 50))
    forAllSamples(Gen.nonEmptyListOf(oGen), n = 8) { os =>
      val df = os.map { case (d, c) =>
        (Timestamp.valueOf(f"2024-01-${d + 1}%02d 06:00:00"), c.toDouble) }
        .toDF("o_orderdate", "o_totalprice")
      val r = operators.Stats.kendallTau(df).collect().head
      val daily = os.groupBy(_._1).map { case (d, g) =>
        (d, g.map(x => x._2.toLong * 100L).sum, g.size.toLong) }.toSeq.sortBy(_._1)
      val pairs = for { a <- daily; b <- daily if a._1 < b._1 } yield (a, b)
      val conc = pairs.count { case (a, b) =>
        (b._2 > a._2 && b._3 > a._3) || (b._2 < a._2 && b._3 < a._3) }
      val disc = pairs.count { case (a, b) =>
        (b._2 > a._2 && b._3 < a._3) || (b._2 < a._2 && b._3 > a._3) }
      assert(r.getAs[Long]("n_days") === daily.size.toLong)
      assert(r.getAs[Long]("n_pairs") === pairs.size.toLong)
      assert(r.getAs[Long]("concordant") === conc.toLong)
      assert(r.getAs[Long]("discordant") === disc.toLong)
    }
  }

  test("bounded bucket pass: the capped self-join's pairs at its derived cap, on any signature table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, countDistinct, lit}
    import operators.Dedup
    // a small rule (floor 2, ceiling 4) puts buckets above the ceiling
    // and at the cap within a few docs; budget 1/doc binds, 256 does not
    val (floor, ceil) = (2, 4)
    val sigGen = for {
      n <- Gen.choose(1, 14)
      width <- Gen.choose(0L, 4L)          // minh range: 0 → one bucket per band
      minhs <- Gen.listOfN(n * 4, Gen.choose(0L, width))
      nullDoc <- Gen.oneOf(-1, 0, n - 1)   // a doc whose id is null
      budget <- Gen.oneOf(1L, 256L)
    } yield ((0 until n).flatMap { d =>
      val id = if (d == nullDoc) None else Some(d.toLong * 3)
      (0 until 4).map(b => (id, b, minhs(d * 4 + b)))
    }, budget)
    val empty = (Seq.empty[(Option[Long], Int, Long)], 256L)
    var above, atCap, multiBand = 0
    val samples = (0 until 30).flatMap(i =>
      sigGen.apply(Gen.Parameters.default, Seed(42L + i)))
    (empty +: samples).foreach { case (rows, budget) =>
      val sig = rows.toDF("doc_id", "band", "minh")
      val (pairs, cap) = Dedup.bandPairs(sig, budget, floor, ceil)
      val ref = Dedup.nearDupsFromSig(sig, 1, Some(cap.toInt))
      val got = pairs.as[(Long, Long, Long)].collect().sorted.toSeq
      val want = ref.as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got === want, s"cap $cap, rows $rows")
      assert(pairs.schema === ref.schema)
      // the cap came from the walk's accumulators: it is the in-plan rule
      val derived = Dedup.budgetCap(
        sig.groupBy("band", "minh").agg(count(lit(1)).as("df")).select("df"),
        sig.agg(countDistinct("doc_id").as("n_docs")), budget, floor, ceil)
        .head().getLong(0)
      assert(cap === derived, s"rows $rows")
      val dfs = rows.groupBy(r => (r._2, r._3)).values.map(_.size)
      if (dfs.exists(_ > ceil)) above += 1
      if (dfs.exists(_ == cap)) atCap += 1
      if (want.exists(_._3 >= 2)) multiBand += 1
    }
    assert(above > 0 && atCap > 0 && multiBand > 0, (above, atCap, multiBand))
  }
}
