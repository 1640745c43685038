package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.{Registry, SingleFlight, Tables}
import graft.operators.WordCount
import graft.streaming.{MonitorStream, StreamDedup}

/** The benchmark's JVM side. It drives graft only through its public entry
  * points (the query registry, WordCount, MonitorStream, StreamDedup) and
  * the shared-build clock, times each operation, and writes one JSON
  * document of raw measurements that `perfbench/run.py` turns into metrics.
  *
  * Usage: Harness <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *                <seed> <expected.json> <out.json>
  */
object Harness {

  /** Queries of the `curation` workload, in the order they run: readers of
    * the dedup ladder's cluster and signature levels (shared builds that use
    * the native md5 kernel), two Pipeline queries (one through the native
    * gopher kernel) and the per-document token-stat queries t1/t2. The order
    * is fixed because it decides which query pays which build, and the
    * builds' total depends on it. */
  val curationQueries: Seq[String] = Seq(
    "g17_cluster_sizes", "g6_dedup_clusters", "g2_minhash_sig",
    "g2_minhash_pairs", "e4_dedup_quality", "e5_yield_funnel", "t1_langid",
    "t2_quality")

  val SpanProp = "perfbench.span"

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, secondsArg, traceArg, seedArg,
      expectedPath, outPath) = args
    val run = new Run(workload, inputDir, Paths.get(workDir),
      secondsArg.toDouble, traceArg == "1", seedArg.toLong,
      Json.readStringMap(Paths.get(expectedPath)))
    val out = run.execute()
    Files.writeString(Paths.get(outPath), Json.write(out))
  }

  /** A `local[<cores>]` session whose tables and files stay under `work`. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Order-insensitive hash of a DataFrame's full result. */
object ResultHash {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** One aggregate row: the row count and the exact (decimal) sum of a
    * 64-bit hash of every output column, so row order never matters and
    * the sum never overflows. Columns are renamed by position first, so
    * duplicate output names cannot collide; maps (which Spark will not
    * hash) are hashed through their JSON form. */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) F.to_json(F.col(f.name)) else F.col(f.name)
    }
    val h = if (cols.isEmpty) F.lit(0L) else F.xxhash64(cols: _*)
    named.agg(F.count(F.lit(1)).as("n"),
      F.sum(h.cast(DecimalType(38, 0))).as("h"))
  }

  /** Number of output columns the optimized hash plan still reads. The
    * harness requires it to equal the query's output width, so no column
    * of the timed result can be pruned away. */
  def hashedColumns(hashed: DataFrame): Int =
    hashed.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
      _.collect { case x: org.apache.spark.sql.catalyst.expressions.XxHash64 =>
        x.children.size })).headOption.getOrElse(0)

  def value(hashed: DataFrame): String = {
    val r = hashed.collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  def of(df: DataFrame): String = value(frame(df))
}

/** Spans kept in memory and written when the run ends. Times are
  * microseconds on one clock shared with Spark's listener events. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      start: Double, end: Double)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 1L
  private val offsetUs = System.currentTimeMillis() * 1000.0 -
    System.nanoTime() / 1000.0
  def nowUs: Double = System.nanoTime() / 1000.0 + offsetUs

  def id(): Long = synchronized { next += 1; next }

  def add(id: Long, parent: Long, op: Long, name: String, s: Double,
      e: Double): Unit = if (on) synchronized { spans += Span(id, parent, op, name, s, e) }

  /** Run `body` inside a span; Spark jobs it submits carry the span id. */
  def span[T](spark: SparkSession, parent: Long, op: Long, name: String)(
      body: => T): T = {
    if (!on) return body
    val sid = id()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Harness.SpanProp)
    sc.setLocalProperty(Harness.SpanProp, s"$sid:$op")
    val s = nowUs
    try body finally {
      add(sid, parent, op, name, s, nowUs)
      sc.setLocalProperty(Harness.SpanProp, prev)
    }
  }

  def rows: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end))
  }
}

final class Run(workload: String, inputDir: String, work: Path,
    seconds: Double, trace: Boolean, seed: Long,
    expected: Map[String, String]) {

  private val tracer = new Tracer(trace)
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passes = mutable.ArrayBuffer.empty[Double]
  /** Share of each pass's busy CPU time that the hypervisor stole. */
  private val passesStolen = mutable.ArrayBuffer.empty[Double]
  private var sweeps = 1.0
  /** Start and end of the timed region, in tracer microseconds, and the
    * GC time and heap peak inside it. */
  private var timed = (0.0, 0.0)
  private var gcTimed, heapPeak = 0.0

  private def timedStart(): Double = {
    gcTimed = Jvm.gcSeconds
    Jvm.resetHeapPeaks()
    tracer.nowUs
  }

  private def timedEnd(start: Double): Unit = {
    timed = (start, tracer.nowUs)
    gcTimed = Jvm.gcSeconds - gcTimed
    heapPeak = Jvm.heapPeakMb
  }
  private val hashes = mutable.LinkedHashMap.empty[String, String]
  private val planStats = mutable.LinkedHashMap.empty[String, Map[String, Int]]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private val runSpan = tracer.id()

  private def fail(what: String): Unit = synchronized { errors += what }

  private def tables: Seq[String] = workload match {
    case "curation" => Seq("documents", "embeddings")
    case _ => Seq.empty
  }

  /** Sets up a warmed session: creates it and runs one small job.
    * -> (session, seconds from JVM start, which covers JVM boot, class
    * loading and the query registry's initialisation) */
  private def setup(): (SparkSession, Double) = {
    val spark = Harness.session(work)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    (spark, (System.currentTimeMillis() - jvmStartMs) / 1000.0)
  }

  /** Untimed: reads the workload's inputs once, so the timed work finds
    * them in the file cache. */
  private def warmInputs(spark: SparkSession): Unit = {
    tables.foreach(t => Tables.table(spark, inputDir, t).count())
    workload match {
      case "wordcount" => spark.read.text(s"$inputDir/corpus").count()
      case "telemetry_stream" => Seq("monitor", "docs").foreach(d =>
        spark.read.text(s"$inputDir/$d").count())
      case _ =>
    }
  }

  def execute(): Map[String, Any] = {
    val (spark, setupS) = setup()
    val setupTicks = Host.ticks()
    warmInputs(spark)
    val listener = new LayerListener(tracer)
    if (trace) spark.sparkContext.addSparkListener(listener)
    workload match {
      case "curation" => curation(spark)
      case "wordcount" => wordcount(spark)
      case "telemetry_stream" => telemetry(spark)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.add(runSpan, 0L, 0L, "run", timed._1, timed._2)
    if (trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.stop()
    // the probes run with the session stopped, so nothing of graft or
    // Spark runs beside them
    val witnesses = Witness.all()
    Map(
      "workload" -> workload, "seed" -> seed,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "setup_s" -> setupS, "setup_ticks" -> Seq(setupTicks._1, setupTicks._2),
      "passes_s" -> passes.toSeq, "passes_stolen" -> passesStolen.toSeq,
      "sweeps" -> sweeps, "ops" -> ops.toSeq,
      "attempted" -> attempted, "errors" -> errors.toSeq,
      "hashes" -> hashes.toMap, "plans" -> planStats.toMap,
      "jvm" -> Map("gc_s" -> gcTimed, "heap_peak_mb" -> heapPeak,
        "rss_peak_mb" -> Jvm.rssPeakMb),
      "witness" -> witnesses,
      "spark" -> (if (trace) listener.summary else Map.empty),
      "spans" -> (tracer.rows ++ (if (trace) listener.spans else Nil))
    ) ++ extra
  }

  // ---- query workloads -------------------------------------------------

  private val registry = Registry.all.map(q => q.name -> q).toMap

  /** Run one query, check its full-result hash, and record the op. */
  private def timedQuery(spark: SparkSession, name: String): Unit = {
    val q = registry(name)
    val op = tracer.id()
    attempted += 1
    val b0 = SingleFlight.buildSecondsTotal
    val h0 = Host.ticks()
    val t0 = System.nanoTime()
    val s0 = tracer.nowUs
    var buildS, planS = 0.0
    val ok = try {
      val df = tracer.span(spark, op, op, "operators.build") {
        val b = System.nanoTime(); val d = q.run(spark, inputDir)
        buildS = (System.nanoTime() - b) / 1e9; d
      }
      val hashed = ResultHash.frame(df)
      tracer.span(spark, op, op, "plans.plan") {
        val p = System.nanoTime()
        if (trace) hashed.queryExecution.executedPlan
        planS = (System.nanoTime() - p) / 1e9
      }
      val h = tracer.span(spark, op, op, "execute")(ResultHash.value(hashed))
      // the optimized plan is already built by now, so this costs nothing
      require(ResultHash.hashedColumns(hashed) == df.columns.length,
        s"$name: the timed plan no longer reads every output column")
      if (trace && !planStats.contains(name)) planStats(name) = PlanStats.of(hashed)
      expected.get(name) match {
        case Some(e) if e != h => fail(s"$name: hash $h, expected $e"); false
        case Some(_) => true
        case None => hashes.get(name) match {
          case Some(prev) if prev != h =>
            fail(s"$name: hash $h differs from an earlier run's $prev"); false
          case _ => hashes(name) = h; true
        }
      }
    } catch {
      case e: Exception =>
        fail(s"$name: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" "))
        false
    }
    val lat = (System.nanoTime() - t0) / 1e9
    tracer.add(op, runSpan, op, "query", s0, tracer.nowUs)
    ops += Map("name" -> name, "latency_s" -> lat,
      "stolen" -> Host.stolen(h0, Host.ticks()), "ok" -> ok,
      "build_s" -> buildS, "plan_s" -> planS,
      "shared_build_s" -> (SingleFlight.buildSecondsTotal - b0))
    spark.catalog.clearCache()
  }

  /** Untimed check pass: each query's result is written as parquet for the
    * DuckDB oracle compare and hashed back from the file. */
  private def referencePass(spark: SparkSession, names: Seq[String]): Unit =
    names.foreach { name =>
      val dir = work.resolve("results").resolve(name).toString
      try {
        registry(name).run(spark, inputDir).coalesce(1)
          .write.mode("overwrite").parquet(dir)
        val h = ResultHash.of(spark.read.parquet(dir))
        hashes.get(name) match {
          case Some(t) if t != h => fail(s"$name: timed hash $t, written result $h")
          case _ => hashes(name) = h
        }
      } catch {
        case e: Exception => fail(s"$name: reference pass: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }

  /** A closed loop with one client: the next query starts when the previous
    * one ends. Each sweep runs in a fresh session, so each shared build is
    * paid once per sweep. Three untimed sweeps bring the JIT close to
    * steady state (after two, the second timed sweep still ran 10-20%
    * faster than the first), then two are timed; on a seed's first run,
    * the reference pass follows. */
  private def curation(spark: SparkSession): Unit = {
    val names = Harness.curationQueries
    extra("oracle_sql") = names.flatMap(n => registry(n).oracle.map(n -> _)).toMap
    Seq(spark, spark.newSession(), spark.newSession()).foreach { warm =>
      names.foreach(n => ResultHash.of(registry(n).run(warm, inputDir)))
    }
    spark.catalog.clearCache()
    val s0 = timedStart()
    val sessions = Seq(spark.newSession(), spark.newSession())
    sessions.foreach { session =>
      val t0 = System.nanoTime()
      val h0 = Host.ticks()
      names.foreach(timedQuery(session, _))
      passes += (System.nanoTime() - t0) / 1e9
      passesStolen += Host.stolen(h0, Host.ticks())
    }
    sweeps = sessions.size
    timedEnd(s0)
    if (expected.isEmpty) referencePass(sessions.last, names)
  }

  // ---- wordcount -------------------------------------------------------

  private val WarmPasses = 5

  private def wordcount(spark: SparkSession): Unit = {
    val out = work.resolve("wc-out").toString
    def one(pass: Int): Unit = {
      val op = if (pass > 0) tracer.id() else 0L
      val s0 = tracer.nowUs
      val t0 = System.nanoTime()
      val h0 = Host.ticks()
      var lat, stolen = 0.0
      val ok = try {
        def job() = {
          val text = spark.read.text(s"$inputDir/corpus").withColumnRenamed("value", "text")
          WordCount.writeTsv(WordCount.wordCount(text), out)
        }
        if (pass > 0) tracer.span(spark, op, op, "execute")(job()) else job()
        lat = (System.nanoTime() - t0) / 1e9
        stolen = Host.stolen(h0, Host.ticks())
        if (pass > 0) tracer.add(op, runSpan, op, "query", s0, tracer.nowUs)
        val h = ResultHash.of(spark.read.option("sep", "\t")
          .schema("word STRING, cnt LONG").csv(out))
        expected.get("wordcount").orElse(hashes.get("wordcount")) match {
          case Some(e) if e != h => fail(s"wordcount pass $pass: hash $h, expected $e"); false
          case _ => hashes("wordcount") = h; true
        }
      } catch {
        case e: Exception => fail(s"wordcount pass $pass: ${e.getMessage}"); false
      }
      attempted += 1
      if (pass > 0) {
        passes += lat
        passesStolen += stolen
        ops += Map("name" -> "wordcount", "latency_s" -> lat, "stolen" -> stolen, "ok" -> ok,
          "build_s" -> 0.0, "plan_s" -> 0.0, "shared_build_s" -> 0.0)
      }
    }
    // untimed passes bring the JIT close to steady state: after three, the
    // timed passes still sped up by 10-20% through the run
    (0 until WarmPasses).foreach(_ => one(0))
    val s0 = timedStart()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 1
    while (pass == 1 || System.nanoTime() < deadline) { one(pass); pass += 1 }
    sweeps = pass - 1.0
    timedEnd(s0)
    extra("wordcount_output") = out
    extra("output_files") = Files.list(work.resolve("wc-out"))
      .iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
  }

  // ---- telemetry_stream ------------------------------------------------

  private def telemetry(spark: SparkSession): Unit = {
    val monSchema = "ts TIMESTAMP, line STRING"
    val docSchema = "ts TIMESTAMP, doc_id BIGINT, text STRING"
    def stream(dir: String, schema: String) = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", 1).json(dir)
    // the far-future end-of-backlog line is not part of any result
    val end = F.lit("2100-01-01").cast("timestamp")
    def real(df: DataFrame) = df.columns.collectFirst {
      case c if c.endsWith("start") || c == "ts" => F.col(c) < end }.fold(df)(df.where)
    // incremental and one-shot averages differ in the last bits
    def rounded(df: DataFrame) = df.select(df.schema.fields.toSeq.map(f =>
      if (f.dataType == DoubleType) F.round(F.col(f.name), 9).as(f.name) else F.col(f.name)): _*)
    def static(dir: String, schema: String) = real(spark.read.schema(schema).json(dir))
    // (name, stream, the same computation in batch) over one backlog
    def jobs(in: String): Seq[(String, DataFrame, () => DataFrame)] = {
      val (mon, docs) = (s"$in/monitor", s"$in/docs")
      Seq(
        ("window_avg",
          MonitorStream.windowedClusterAvg(MonitorStream.samples(stream(mon, monSchema)),
            "1 minute", "2 minutes"),
          () => MonitorStream.windowedClusterAvg(
            MonitorStream.samples(static(mon, monSchema)), "1 minute", "2 minutes")),
        ("sessions",
          MonitorStream.sessionWindows(MonitorStream.samples(stream(mon, monSchema)),
            "30 seconds", "2 minutes"),
          () => MonitorStream.sessionWindows(
            MonitorStream.samples(static(mon, monSchema)), "30 seconds", "2 minutes")),
        ("dedup", StreamDedup.dedupStream(stream(docs, docSchema), "10 minutes"),
          () => {
            // first occurrence of each normalized text; copies never share
            // a file with their original, so arrival order is event order
            val d = static(docs, docSchema)
              .withColumn("norm", F.lower(F.trim(F.regexp_replace(F.col("text"),
                "[ \\t\\n\\r\\f]+", " "))))
            d.withColumn("rk", F.row_number().over(org.apache.spark.sql.expressions
                .Window.partitionBy("norm").orderBy("ts", "doc_id")))
              .where(F.col("rk") === 1).select("ts", "doc_id", "text")
          }))
    }
    val streamListener = new BatchSpans(tracer)
    if (trace) spark.streams.addListener(streamListener)

    /** Runs the three streams side by side, as one monitoring service
      * would, from a cold start until the backlog is drained.
      * -> (stream, drain s) */
    def drain(): Seq[(StreamingQuery, Double)] = {
      val s0 = timedStart()
      val t0 = System.nanoTime()
      val h0 = Host.ticks()
      val started = jobs(inputDir).map { case (name, df, _) =>
        val op = tracer.id()
        // the stream's thread inherits this property, so its jobs nest
        // under the stream's span
        if (trace) spark.sparkContext.setLocalProperty(Harness.SpanProp, s"$op:$op")
        val q = df.writeStream.format("parquet").outputMode(OutputMode.Append())
          .option("checkpointLocation", work.resolve(s"ckpt-$name").toString)
          .queryName(name).start(work.resolve(s"sink-$name").toString)
        spark.sparkContext.setLocalProperty(Harness.SpanProp, null)
        streamListener.register(q.id.toString, op)
        (op, tracer.nowUs, q)
      }
      val out = started.map { case (op, start, q) =>
        q.processAllAvailable()
        tracer.add(op, runSpan, op, "stream", start, tracer.nowUs)
        (q, (System.nanoTime() - t0) / 1e9)
      }
      passes += (System.nanoTime() - t0) / 1e9
      passesStolen += Host.stolen(h0, Host.ticks())
      timedEnd(s0)
      started.foreach(_._3.stop())
      out
    }

    val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
    jobs(inputDir).zip(drain()).foreach {
      case ((name, _, batch), (q, lat)) =>
        attempted += 1
        q.recentProgress.toSeq.foreach { p =>
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
          val st = p.stateOperators.toSeq
          progress += Map("stream" -> name, "batch" -> p.batchId,
            "input_rows" -> p.numInputRows,
            "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
            "add_batch_ms" -> d.getOrElse("addBatch", 0L),
            "wal_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
            "state_commit_ms" -> st.map(_.commitTimeMs).sum,
            "state_rows" -> st.map(_.numRowsTotal).sum,
            "state_bytes" -> st.map(_.memoryUsedBytes).sum)
        }
        val ok = try {
          val h = ResultHash.of(rounded(real(
            spark.read.parquet(work.resolve(s"sink-$name").toString))))
          val e = ResultHash.of(rounded(batch()))
          if (h != e) fail(s"$name: stream result $h, batch over the same files $e")
          h == e
        } catch {
          case e: Exception => fail(s"$name: ${e.getMessage}"); false
        }
        ops += Map("name" -> name, "latency_s" -> lat, "ok" -> ok,
          "build_s" -> 0.0, "plan_s" -> 0.0, "shared_build_s" -> 0.0)
    }
    extra("batches") = progress.toSeq
    extra("output_files") = Seq("window_avg", "sessions", "dedup").map { n =>
      Files.list(work.resolve(s"sink-$n")).iterator().asScala
        .count(_.getFileName.toString.startsWith("part-")) }.sum
  }
}

/** Counts read off an executed (final adaptive) plan. */
object PlanStats extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.exchange._
  import org.apache.spark.sql.execution.window.WindowExec

  def of(df: DataFrame): Map[String, Int] = {
    val plan = df.queryExecution.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    Map(
      "exchanges" -> nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      "single_partition_steps" -> nodes.count {
        case e: ShuffleExchangeLike => e.outputPartitioning == SinglePartition
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      "scans" -> nodes.count {
        case _: FileSourceScanExec | _: datasources.v2.BatchScanExec => true
        case _ => false
      })
  }
}

/** JVM-wide readings: GC time, heap peak and resident-set peak. */
object Jvm {
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM of this process, in MB. */
  def rssPeakMb: Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Regime witnesses: readings of the machine, not of graft, recorded beside
  * the metrics so a change in the machine's state shows as such. */
object Witness {
  private def spin(n: Int): Long = {
    var x = 0x9E3779B97F4A7C15L; var acc = 0L; var i = 0
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1 }
    acc
  }

  private def timed(body: => Long): (Double, Long) = {
    val t0 = System.nanoTime(); val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  def all(): Map[String, Any] = {
    val n = 50000000
    spin(n / 10)
    val (cpu, a) = timed(spin(n))
    val cores = Runtime.getRuntime.availableProcessors()
    val (par, b) = timed {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      try pool.invokeAll((0 until cores).map(_ =>
          (() => spin(n)): java.util.concurrent.Callable[Long]).asJava)
        .asScala.map(_.get).sum
      finally pool.shutdown()
    }
    Map("cpu_probe_s" -> cpu, "parallel_probe_s" -> par,
      "parallel_tasks" -> cores, "probe_sum" -> (a ^ b))
  }
}

/** The machine's CPU time counters: busy (user, nice, system, irq, softirq)
  * and stolen, the time a virtual CPU had work but the hypervisor ran
  * something else, both in ticks over all CPUs (`/proc/stat`). */
object Host {
  def ticks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
  }

  /** Share of the CPU time wanted between two readings that was stolen. */
  def stolen(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1
    val steal = b._2 - a._2
    if (busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }
}
