package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query profiler: times the named queries (default: all) on a
  * scale-factor dir with the same session config as Bench (cores from
  * `SPARK_GRAFT_CPUS`, shuffle partitions from
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS`), printing each run so warm-up vs
  * steady-state is visible.
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <runs> [query ...]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSeq
    val spark = SparkSession.builder()
      .master(s"local[${Bench.cpus}]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Bench.shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
    qs.foreach { case (name, fn) =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        s
      }
      println(f"[profile] $name%-24s ${times.map(t => f"$t%6.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
