package graft

/** Ad-hoc per-query profiler: times the named queries (default: all) on a
  * scale-factor dir in an env-configured [[GraftSession]], as Bench does,
  * with Bench's warm-up and per-query step ([[Bench.timeRun]]). Prints one
  * line per query with each run's seconds, so warm-up vs steady-state is
  * visible; a run that paid shared builds adds them as `(build s)`, and a
  * failed run prints `FAIL` and, on its own line, the reason.
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <runs> [query ...]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSeq
    val spark = GraftSession.fromEnv()
    Bench.warmUp(spark, sfDir)
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
    qs.foreach { case (name, fn) =>
      val rs = (1 to runs).map(_ => Bench.timeRun(spark, sfDir, fn))
      val cells = rs.map { r =>
        if (r.failure.nonEmpty) "  FAIL"
        else f"${r.sec}%6.2f" +
          (if (r.buildSec > 0.0005) f"(build ${r.buildSec}%.2f)" else "")
      }
      println(f"[profile] $name%-24s ${cells.mkString(" ")}")
      rs.flatMap(_.failure).distinct
        .foreach(why => println(s"[profile] $name failed: $why"))
    }
    spark.stop()
  }
}
