package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming soak harness (VERDICT r16 item 7): drives the §2.E lanes
  * against a rate source for a sustained interval and records the
  * numbers the 100 TB design claim needs attached — processed rows/s,
  * state-store rows/bytes (the bounded-memory contract of
  * dropDuplicatesWithinWatermark and windowed aggregation), and
  * watermark lag (is event time keeping up with arrival). Writes ONE
  * machine-readable artifact, STREAMING_SOAK.json.
  *
  * Pipelines soaked (the state-bearing representatives):
  *  - stream_dedup: [[graft.streaming.StreamDedup.dedupStream]] over a
  *    synthetic doc stream with a built-in duplicate rate (every 5
  *    consecutive ids share a text), watermark 10 s — state must
  *    plateau at ~unique-texts-per-watermark, not grow with the stream.
  *  - monitor_window: [[graft.streaming.MonitorStream.windowedClusterAvg]]
  *    over synthetic 8-node monitor samples (10 s tumbling windows,
  *    5 s watermark) — the A12 lane live.
  *  - monitor_sessions: [[graft.streaming.MonitorStream.sessionWindows]]
  *    (native session_window state with gap merge) on the same samples.
  *  - stream_join (r18, VERDICT r17 item 4):
  *    [[graft.streaming.StreamJoin.attributionJoin]] — the interval
  *    join's DOUBLE-sided buffer; state must plateau at
  *    ~rate × (horizon + watermark) rows, not grow with either stream.
  *  - stream_funnel: [[graft.streaming.StreamFunnel.liveStages]] —
  *    mapGroupsWithState per-user state; plateaus at the live key
  *    space (the soak drives a bounded 2 000-user population).
  *  - stream_upsert: [[graft.streaming.StreamUpsert.maintain]] —
  *    foreachBatch snapshot maintenance; the bounded quantity is the
  *    SNAPSHOT (rows = live key space regardless of patch volume),
  *    reported as snapshot_rows/snapshot_bytes/n_versions instead of
  *    state-store rows (foreachBatch has no state operator).
  *  - stream_trends (r19, VERDICT r18 item 5):
  *    [[graft.streaming.StreamTrends.trendingTerms]] — windowed
  *    (window, token) counts whose soak vocabulary GROWS with the
  *    stream (one fresh numeric token per 5 source rows), so a plateau
  *    proves the watermark actually drops closed windows' state: live
  *    rows ≈ tokens per window × live windows, not total vocabulary.
  *  - stream_topk: [[graft.streaming.StreamTopK.heavyHitters]] — the
  *    sharded SpaceSaving sketch; state must hold at EXACTLY
  *    nShards × capacity counters (256) no matter how many distinct
  *    cold tokens stream through.
  *  - stream_anomaly: [[graft.streaming.StreamAnomaly.anomalies]] —
  *    per-type Welford moments; state = one row per event type (5),
  *    forever, while ~1/1000 spiked values emit as outliers.
  *
  * Usage: runMain graft.StreamSoak [seconds]   (default 60)
  * Env: SPARK_GRAFT_SOAK_RPS — source rows/sec (default 20000).
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val secs = args.headOption.map(_.toInt).getOrElse(60)
    val rps = sys.env.getOrElse("SPARK_GRAFT_SOAK_RPS", "20000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      // default retention is 100 progress objects; a >=300 s soak at 1 s
      // triggers needs the full run retained so peak_state_rows is the
      // TRUE peak, not the peak of the last 100 batches
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rate(): DataFrame = spark.readStream.format("rate")
      .option("rowsPerSecond", rps.toString)
      .option("rampUpTime", "0s").load()

    // ~20% unique: every 5 consecutive ids share one text, so the dedup
    // state carries one norm per 5 source rows per watermark interval
    val docStream = rate().select(
      col("timestamp").as("ts"), col("value").as("doc_id"),
      concat(lit("sample document body text number "),
        (col("value") - (col("value") % 5)).cast("string")).as("text"))
    val sampleStream = rate().select(
      col("timestamp").as("ts"),
      concat(lit("node-"), (col("value") % 8).cast("string")).as("node"),
      ((col("value") % 100).cast("double")).as("cpu"),
      ((col("value") % 97).cast("double")).as("mem"))

    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString

    def drive(q: org.apache.spark.sql.streaming.StreamingQuery)
        : Array[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      try Thread.sleep(secs * 1000L) finally q.stop()
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0)
    }

    def metrics(name: String,
        ps: Array[org.apache.spark.sql.streaming.StreamingQueryProgress],
        extra: String = ""): String = {
      val rows = ps.map(_.numInputRows).sum
      val execMs = ps.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toLong)).sum
      val throughput = if (execMs > 0) rows * 1000.0 / execMs else 0.0
      val lastState = ps.lastOption.toSeq.flatMap(_.stateOperators)
      val stateRows = lastState.map(_.numRowsTotal).sum
      val stateBytes = lastState.map(_.memoryUsedBytes).sum
      // bounded-state evidence: the PEAK state row count across the run —
      // a plateau reads peak ≈ final; state growing with the stream
      // would read peak ≫ watermark-window bound and final ≈ peak ∝ input
      val peakStateRows =
        (0L +: ps.map(_.stateOperators.map(_.numRowsTotal).sum)).max
      val maxBatchMs = (0L +: ps.flatMap(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.toLong))).max
      // watermark lag: batch wall-clock timestamp minus the watermark it
      // carried — how far event-time completeness trails arrival
      val lags = ps.flatMap { p =>
        val wm = Option(p.eventTime.get("watermark")).filter(_.nonEmpty)
          .map(java.time.Instant.parse(_).toEpochMilli)
          .filter(_ > 0L) // first batches carry the unset epoch-0 watermark
        wm.map(java.time.Instant.parse(p.timestamp).toEpochMilli - _)
      }
      val maxLagMs = (0L +: lags).max
      s""""$name":{"n_batches":${ps.length},"input_rows":$rows,""" +
        s""""processed_rows_per_sec":${fmt(throughput)},""" +
        s""""max_batch_ms":$maxBatchMs,"state_rows":$stateRows,""" +
        s""""peak_state_rows":$peakStateRows,""" +
        s""""state_bytes":$stateBytes,"max_watermark_lag_ms":$maxLagMs$extra}"""
    }

    def soak(name: String, df: DataFrame, mode: String = "append"): String = {
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_soak_$name").toString
      val q = df.writeStream.format("noop")
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
      val ps = drive(q)
      graft.SharedBuild.purgeDir(java.nio.file.Paths.get(ckpt))
      metrics(name, ps)
    }

    // snapshot-maintenance lane: foreachBatch has no state operator, so
    // the bounded quantity is the SNAPSHOT itself — rows stay at the
    // live key space no matter how many patch rows streamed through
    def soakUpsert(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_soak_upsert").toString
      val patches = rate().select(
        (col("value") % 10000).as("doc_id"),
        concat(lit("src-"), (col("value") % 3).cast("string")).as("source"),
        (col("value") % 1000).as("n_chars"))
      val q = graft.streaming.StreamUpsert.maintain(patches, dir)
      val ps = drive(q)
      val snap = graft.streaming.StreamUpsert.currentSnapshot(spark, dir)
      val snapRows = snap.count()
      val p = java.nio.file.Paths.get(dir)
      val versions = java.nio.file.Files.list(p)
      val (nVersions, bytes) = try {
        import scala.jdk.CollectionConverters._
        val vs = versions.iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("v"))
        val latest = vs.sortBy(_.getFileName.toString.drop(1).toLong).lastOption
        val b = latest.map { d =>
          val w = java.nio.file.Files.walk(d)
          try w.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
          finally w.close()
        }.getOrElse(0L)
        (vs.size, b)
      } finally versions.close()
      graft.SharedBuild.purgeDir(p)
      metrics("stream_upsert", ps,
        s""","snapshot_rows":$snapRows,"snapshot_bytes":$bytes,""" +
          s""""n_versions":$nVersions""")
    }

    // interval-join lane: 4/5 of one rate source are views, 1/5 of a
    // second are purchases over a 10k-user key space — both sides
    // buffer in state until the watermark clears view_ts + horizon, so
    // the plateau bound is ~rate × (horizon + watermark) rows
    val viewStream = rate().where(col("value") % 5 =!= 0).select(
      (col("value") % 10000).as("user_id"),
      col("timestamp").as("view_ts"),
      concat(lit("page-"), (col("value") % 7).cast("string")).as("page"))
    val purchaseStream = rate().where(col("value") % 5 === 0).select(
      (col("value") % 10000).as("user_id"),
      col("timestamp").as("buy_ts"),
      (col("value") % 500).cast("double").as("amount"))

    // funnel lane: 2 000 live users; stages rotate in 2 000-value blocks
    // so each user's view/click/purchase arrive at strictly increasing
    // event times (consecutive rate values can share a millisecond, and
    // FunnelState.advance requires strict progression)
    import spark.implicits._
    val funnelEvents = rate().select(
      col("timestamp").as("ts"),
      (col("value") % 2000).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("purchase")),
        (((col("value") / 2000) % 3) + 1).cast("int")).as("event_type"))
      .as[graft.streaming.StreamFunnel.FunnelEvent]

    // top-k lane: 30% of rows hit 3 hot tokens, the rest spread over a
    // 100k cold vocabulary — far beyond the 8×32 counter budget, so the
    // plateau at exactly 256 state rows is the SpaceSaving contract
    val tokStream = rate().select(
      col("timestamp").as("ts"),
      when(col("value") % 10 < 3,
        concat(lit("hot-"), (col("value") % 3).cast("string")))
        .otherwise(
          concat(lit("cold-"), (col("value") % 100000).cast("string")))
        .as("token"))
      .as[graft.streaming.StreamTopK.Tok]

    // anomaly lane: per-type uniform values with a +10000 spike every
    // 1000th row — ~rate/1000 outliers/s emitted against 5 moment rows
    val anomalyStream = rate().select(
      col("timestamp").as("ts"),
      col("value").as("event_id"),
      concat(lit("type-"), (col("value") % 5).cast("string"))
        .as("event_type"),
      ((col("value") % 100).cast("double") +
        when(col("value") % 1000 === 999, lit(10000.0)).otherwise(lit(0.0)))
        .as("value"))
      .as[graft.streaming.StreamAnomaly.ValueEvent]

    val parts = Seq(
      soak("stream_dedup",
        graft.streaming.StreamDedup.dedupStream(docStream, "10 seconds")),
      soak("monitor_window",
        graft.streaming.MonitorStream
          .windowedClusterAvg(sampleStream, "10 seconds", "5 seconds")),
      soak("monitor_sessions",
        graft.streaming.MonitorStream
          .sessionWindows(sampleStream, "3 seconds", "5 seconds")),
      soak("stream_join",
        graft.streaming.StreamJoin.attributionJoin(
          viewStream, purchaseStream, "10 seconds", "10 seconds")),
      soak("stream_funnel",
        graft.streaming.StreamFunnel.liveStages(funnelEvents).toDF(),
        mode = "update"),
      soak("stream_trends",
        graft.streaming.StreamTrends
          .trendingTerms(docStream, "10 seconds", "5 seconds")),
      soak("stream_topk",
        graft.streaming.StreamTopK.heavyHitters(tokStream).toDF()),
      soak("stream_anomaly",
        graft.streaming.StreamAnomaly.anomalies(anomalyStream).toDF()),
      soakUpsert())

    val line = s"""{"metric":"streaming_soak","duration_s":$secs,""" +
      s""""source_rows_per_sec":$rps,"cpus":$cpus,""" +
      s""""pipelines":{${parts.mkString(",")}}}"""
    println(line)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("STREAMING_SOAK.json"), line + "\n")
    spark.stop()
  }
}
