package graft

import org.apache.spark.sql.SparkSession

/** The one builder of graft's own SparkSessions: every main and the spec
  * suite get their session here, so a session setting applies to all of
  * them at once. Each session runs `local[cores]` with `cores` shuffle
  * partitions unless told otherwise, `GraftExtensions`, the UTC session
  * time zone, no UI and one log level.
  *
  * Two sets of (cores, partitions):
  *  - [[fromEnv]]: `SPARK_GRAFT_CPUS` (default 32) and
  *    `SPARK_GRAFT_SHUFFLE_PARTITIONS` (default the core count) — the
  *    mains that run queries for timings or results;
  *  - [[PlanSettings]], fixed: the mains that document plans (Plans,
  *    PlanSmell) and the spec suite, so PLANS.md, the plan-smell counts
  *    and `PLAN_FINGERPRINTS.json` describe the same plans.
  *
  * A caller that needs one more conf passes it as an extra pair.
  */
object GraftSession {

  /** Local cores of an env-configured session (`local[n]`). */
  lazy val cpus: Int = Env.posInt("SPARK_GRAFT_CPUS", 32)

  /** Shuffle partitions of an env-configured session; the core count
    * unless set. More partitions is a scale-probe lever: at sf1, 128
    * partitions cut g23's wedge-stage hash-agg spill 9.1 -> 0.8 GB and
    * its warmed time 72 -> 60 s. Timings recorded under different values
    * do not compare. */
  lazy val shufflePartitions: Int =
    Env.posInt("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)

  /** (cores, shuffle partitions) of the plan-document sessions. */
  val PlanSettings: (Int, Int) = (4, 4)

  /** A session with the env's cores and partitions. */
  def fromEnv(extra: (String, String)*): SparkSession =
    build(cpus, shufflePartitions, extra: _*)

  /** A session with [[PlanSettings]]. */
  def forPlans(extra: (String, String)*): SparkSession =
    build(PlanSettings._1, PlanSettings._2, extra: _*)

  private def build(cores: Int, partitions: Int,
      extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
