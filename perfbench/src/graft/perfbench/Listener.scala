package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-stage totals of the task metrics the per-layer view reports. */
final class StageTotals {
  var tasks = 0L
  var runS, cpuS, waitS, fetchWaitS = 0.0
  var inBytes, inRows, outBytes, shufR, shufW, spill, peakMem = 0L
  val durations = mutable.ArrayBuffer.empty[Double]
}

/** The harness's SparkListener: jobs and stages become spans under the
  * harness span that submitted them (the `perfbench.span` local property),
  * and task metrics are summed per stage. Only jobs submitted inside a
  * timed span are kept. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private final case class Job(span: Long, parent: Long, op: Long,
      start: Long, var end: Long, stages: Seq[Int])
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageInfo = mutable.HashMap.empty[Int, StageInfo]
  private val totals = mutable.LinkedHashMap.empty[Int, StageTotals]
  private val nativeByExec = mutable.HashMap.empty[Long, Int]
  private val execOp = mutable.HashMap.empty[Long, Long]

  /** Plan nodes that call one of graft's native expressions. */
  private def nativeNodes(p: SparkPlanInfo): Int =
    (if (LayerListener.Native.exists(p.simpleString.contains)) 1 else 0) +
      p.children.map(nativeNodes).sum

  // every SQL execution, shared builds inside `Q.run` included; adaptive
  // re-plans replace the execution's count
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        nativeByExec(s.executionId) = nativeNodes(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        nativeByExec(u.executionId) = nativeNodes(u.sparkPlanInfo)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(Harness.SpanProp)))
    tag.foreach { t =>
      val Array(parent, op) = t.split(":").map(_.toLong)
      val j = Job(tracer.id(), parent, op, e.time, e.time, e.stageIds)
      jobs(e.jobId) = j
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execOp.getOrElseUpdate(x.toLong, op))
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageInfo(e.stageInfo.stageId) = e.stageInfo
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val t = totals.getOrElseUpdate(e.stageId, new StageTotals)
      val m = e.taskMetrics
      t.tasks += 1
      t.durations += e.taskInfo.duration / 1000.0
      t.runS += m.executorRunTime / 1000.0
      t.cpuS += m.executorCpuTime / 1e9
      t.waitS += math.max(0L, e.taskInfo.launchTime -
        stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime)) / 1000.0
      t.inBytes += m.inputMetrics.bytesRead
      t.inRows += m.inputMetrics.recordsRead
      t.outBytes += m.outputMetrics.bytesWritten
      t.shufR += m.shuffleReadMetrics.totalBytesRead
      t.shufW += m.shuffleWriteMetrics.bytesWritten
      t.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1000.0
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Job and stage spans (times in microseconds). */
  def spans: Seq[Map[String, Any]] = synchronized {
    val js = jobs.values.toSeq.map(j => Map("id" -> j.span, "parent" -> j.parent,
      "op" -> j.op, "name" -> "spark.job", "start_us" -> j.start * 1000.0,
      "end_us" -> j.end * 1000.0))
    val ss = stageInfo.toSeq.flatMap { case (sid, info) =>
      for {
        jid <- stageJob.get(sid); j <- jobs.get(jid)
        s <- info.submissionTime; c <- info.completionTime
      } yield Map("id" -> ((1L << 40) + sid), "parent" -> j.span, "op" -> j.op,
        "name" -> "spark.stage", "start_us" -> s * 1000.0, "end_us" -> c * 1000.0)
    }
    js ++ ss
  }

  /** Per-op totals: the harness sums them per pass. */
  def summary: Map[String, Any] = synchronized {
    val perOp = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Double]]
    def acc(op: Long) = perOp.getOrElseUpdate(op, mutable.Map.empty[String, Double]
      .withDefaultValue(0.0))
    jobs.values.foreach(j => acc(j.op)("jobs") += 1)
    val longest = mutable.HashMap.empty[Long, (Double, Double)] // op -> (dur, skew)
    totals.foreach { case (sid, t) =>
      val op = jobs(stageJob(sid)).op
      val a = acc(op)
      a("stages") += 1; a("tasks") += t.tasks
      a("executor_run_s") += t.runS; a("executor_cpu_s") += t.cpuS
      a("task_wait_s") += t.waitS; a("shuffle_fetch_wait_s") += t.fetchWaitS
      a("input_bytes") += t.inBytes; a("input_rows") += t.inRows
      a("output_bytes") += t.outBytes; a("shuffle_read_bytes") += t.shufR
      a("shuffle_write_bytes") += t.shufW; a("spill_bytes") += t.spill
      a("peak_exec_mem_mb") = math.max(a("peak_exec_mem_mb"), t.peakMem / 1048576.0)
      val dur = stageInfo.get(sid).flatMap(i => for {
        s <- i.submissionTime; c <- i.completionTime } yield (c - s) / 1000.0)
        .getOrElse(0.0)
      val med = median(t.durations.toSeq)
      val skew = if (med > 0) t.durations.max / med else 1.0
      if (longest.get(op).forall(_._1 < dur)) longest(op) = (dur, skew)
    }
    longest.foreach { case (op, (_, skew)) => acc(op)("max_task_skew") = skew }
    execOp.foreach { case (x, op) => acc(op)("native_exprs") += nativeByExec.getOrElse(x, 0) }
    Map("per_op" -> perOp.map { case (op, m) => op.toString -> m.toMap }.toMap)
  }
}

object LayerListener {
  val Native = Seq("md5_long56(", "gopher_stats(", "fp_dot(")
}

/** Turns streaming progress into batch spans and tags the batch's jobs. */
final class BatchSpans(tracer: Tracer) extends StreamingQueryListener {
  private val opOf = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  def register(queryId: String, op: Long): Unit = opOf.put(queryId, op)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val op = opOf.getOrDefault(p.id.toString, 0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000.0
    val dur = p.durationMs.asScala.get("triggerExecution").map(_.longValue()).getOrElse(0L)
    tracer.add(tracer.id(), op, op, "stream.batch", start, start + dur * 1000.0)
  }
}
