package graft

/** r19 plan-smell survey: per registered query, operator counts that
  * flag structural cost (shuffle exchanges, nested-loop joins, single-
  * partition windows/sorts, parquet scans, codegen-opaque fallbacks) so
  * the optimization round ranks by plan shape instead of reading 308
  * plans by hand. Runs in the plan-document session
  * ([[GraftSession.forPlans]]), so its counts describe the plans
  * PLANS.md and `PLAN_FINGERPRINTS.json` pin.
  *
  * Usage: runMain graft.PlanSmell <sfDir> [minScore]
  */
object PlanSmell {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val min = args.lift(1).map(_.toInt).getOrElse(0)
    val spark = GraftSession.forPlans()
    println("query,exchanges,single_part,bnlj,smj,scans,windows,generates")
    Registry.all.sortBy(_.name).foreach { q =>
      try {
        val p = q.run(spark, sfDir).queryExecution.executedPlan.toString
        def c(s: String) = s.r.findAllMatchIn(p).length
        val ex = c("Exchange hashpartitioning") + c("Exchange rangepartitioning")
        val sp = c("Exchange SinglePartition")
        val bnlj = c("BroadcastNestedLoopJoin")
        val smj = c("SortMergeJoin")
        val scans = c("FileScan parquet") + c("Scan parquet")
        val win = c("Window ")
        val gen = c("Generate ")
        val score = ex + sp + bnlj * 2 + scans
        if (score >= min)
          println(s"[smell] ${q.name},$ex,$sp,$bnlj,$smj,$scans,$win,$gen")
      } catch {
        case e: Throwable =>
          // padded to the header's 8 columns so a CSV parse of the
          // survey stays uniform on failing queries (ADVICE r19); the
          // exception class rides in the last column
          println(s"[smell] ${q.name},ERR,ERR,ERR,ERR,ERR,ERR," +
            e.getClass.getSimpleName)
      }
    }
    spark.stop()
  }
}
