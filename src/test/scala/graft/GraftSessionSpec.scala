package graft

import org.apache.spark.sql.GraftColumns
import org.apache.spark.sql.functions._

/** The suite session is the one [[GraftSession]] builds for plan
  * documents: it carries the settings every graft session shares, and
  * the (cores, partitions) that Plans, PlanSmell and
  * PLAN_FINGERPRINTS.json's plans come from. */
class GraftSessionSpec extends SparkSpec {

  test("graft's native functions are registered") {
    Seq("fp_dot", "gopher_stats", "md5_long56", "minhash_sig").foreach(f =>
      assert(spark.catalog.functionExists(f), f))
  }

  test("minhash_sig in SQL text is the Column form; its band count must be a constant") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val mism = docs.where(
      !(expr("minhash_sig(text, 4)") <=> GraftColumns.minhashSig(col("text"), 4)))
    assert(mism.count() === 0L)
    val e = intercept[Exception] {
      spark.range(1).select(expr("minhash_sig('a b c', cast(id as int))")).collect()
    }
    assert(e.getMessage.contains("constant int"))
  }

  test("the session time zone is UTC") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("the suite session runs Plans' settings: local[4], 4 shuffle partitions") {
    assert(GraftSession.PlanSettings === ((4, 4)))
    val (cores, partitions) = GraftSession.PlanSettings
    assert(spark.sparkContext.master === s"local[$cores]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === partitions.toString)
  }
}
