package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * `sbt test` fast; suites must not stop it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Jobs that `body` starts, counted by a listener. */
  def jobsOf(body: => Unit): Int = jobPropertiesOf(body).size

  /** The properties of each job that `body` starts, in start order, seen
    * by a listener. A marker job run after `body` drains the listener
    * queue: events arrive in order, so once the marker's end is seen,
    * every job of `body` has been seen. */
  def jobPropertiesOf(body: => Unit): Seq[Properties] = {
    val marker = "spark-spec-jobs-marker"
    val started = new ConcurrentLinkedQueue[Properties]
    val markerEnded = new CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties).getOrElse(new Properties)
        if (props.getProperty("spark.jobGroup.id") == marker) markerJob = e.jobId
        else started.add(props)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerEnded.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerEnded.await(60, TimeUnit.SECONDS), "marker job never ended")
      started.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `main`'s `main(args)` in a child JVM with this JVM's classpath
    * and `--add-opens` flags and asserts it exits 0. For cases that need
    * their own SparkContext (a JVM holds one, and the shared session
    * carries `GraftExtensions`). */
  def runInChildJvm(main: AnyRef, args: String*): Unit = {
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx512m") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), main.getClass.getName.stripSuffix("$")) ++ args
    val log = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => log.append(l).append('\n')))
    assert(code === 0, log.takeRight(3000).toString)
  }

  /** Runs the named registered queries over `dir` on a session built
    * without `spark.sql.extensions` ([[PlainSessionQueries]], in a child
    * JVM) and asserts each gives this session's rows. */
  def assertPlainSessionParity(dir: String, names: Seq[String]): Unit = {
    val out = java.nio.file.Files.createTempDirectory("plain_session").toString
    runInChildJvm(PlainSessionQueries, Seq(dir, out) ++ names: _*)
    names.foreach { n =>
      val want = Registry.all.find(_.name == n).get.run(spark, dir)
        .toJSON.collect().sorted.toList
      val got = spark.read.text(s"$out/$n").collect().map(_.getString(0)).sorted.toList
      assert(got.nonEmpty && got === want, n)
    }
  }
}

/** Child-JVM half of [[SparkSpec.assertPlainSessionParity]]: runs the
  * named registered queries on a SparkSession with no extensions and
  * writes each result as JSON lines to `<outDir>/<name>`.
  * Args: sfDir, outDir, query names. */
object PlainSessionQueries {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      require(!spark.sparkContext.getConf.contains("spark.sql.extensions"))
      Seq("fp_dot", "gopher_stats", "md5_long56").foreach { f =>
        require(!spark.catalog.functionExists(f), s"GraftExtensions loaded: $f")
      }
      args.drop(2).foreach { name =>
        Registry.all.find(_.name == name).get.run(spark, args(0))
          .toJSON.write.text(s"${args(1)}/$name")
      }
    } finally spark.stop()
  }
}

object SparkSpec {
  /** The plan-document session, with a temp warehouse dir. */
  lazy val session: SparkSession = GraftSession.forPlans(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
}
