package graft.perfbench

import org.apache.spark.sql.functions._

/** Checks of the harness's result hash, run by perfbench/tests: the hash
  * ignores row order and partitioning, sees duplicate rows and single
  * value changes, and its optimized plan reads every output column.
  * Usage: SelfCheck <work dir>. Prints `ok` and exits 0, or throws. */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(args(0)), "selfcheck")
    val spark = Harness.session(work)
    import spark.implicits._
    val df = Seq((1L, "a", 1.5, Map("k" -> 1)), (2L, "b", 2.5, Map("k" -> 2)),
      (3L, "c", 3.5, Map.empty[String, Int])).toDF("id", "s", "x", "m")
    val h = ResultHash.of(df)
    def same(other: org.apache.spark.sql.DataFrame, what: String): Unit =
      require(ResultHash.of(other) == h, s"hash changed under $what")
    same(df.orderBy(desc("id")), "a different row order")
    same(df.repartition(3), "repartitioning")
    same(df.union(df.limit(0)), "an empty union")
    require(ResultHash.of(df.union(df.limit(1))) != h, "a duplicated row was not seen")
    require(ResultHash.of(df.withColumn("x", when($"id" === 2, 2.25)
      .otherwise($"x"))) != h, "a changed value was not seen")
    val dup = df.select($"id", $"id", $"s")
    require(ResultHash.hashedColumns(ResultHash.frame(dup)) == 3,
      "the hash plan does not read every output column")
    require(ResultHash.hashedColumns(ResultHash.frame(df.orderBy("s"))) == 4,
      "the hash plan does not read every output column")
    spark.stop()
    println("ok")
  }
}
