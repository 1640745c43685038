package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * `sbt test` fast; suites must not stop it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

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
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
