package graft

import java.nio.file.Files

import graft.operators.{Dedup, Materialize}

/** The materialization seam every lineage-truncating operator goes
  * through (viaSharedScan shapes g4/g7/y4/e1, the dedupClusters loop):
  * default local checkpoint, opt-in reliable checkpoint under
  * spark.graft.checkpointDir — the cluster-production setting where an
  * executor loss must not kill an iterative job. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("default mode: eager, lineage truncated to a stored-rows scan") {
    val df = Seq(1, 2, 3).toDF("x").where($"x" > 1)
    val m = Materialize.frame(df)
    assert(m.as[Int].collect().sorted === Array(2, 3))
    // the parent plan is gone — downstream audits see a stored scan
    assert(m.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      m.queryExecution.executedPlan.toString.take(400))
  }

  test("default mode: the frame carries its measured row count, from one job") {
    val df = spark.range(0, 1000, 1, 4).toDF("x").where($"x" % 7 === 0)
    var counted: (org.apache.spark.sql.DataFrame, Long) = null
    assert(jobsOf { counted = Materialize.counted(df) } === 1,
      "materializing must run exactly one job")
    val (m, n) = counted
    assert(n === 143 && m.count() === 143)
    val stats = m.queryExecution.optimizedPlan.stats
    assert(stats.rowCount === Some(BigInt(143)))
    // UnsafeRow bytes of one long column: 8 B null bitset + 8 B value
    assert(stats.sizeInBytes === BigInt(143 * 16))
  }

  test("spark.graft.checkpointDir: reliable checkpoint files are written " +
      "and the iterative operator still converges") {
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    spark.conf.set(Materialize.ConfKey, dir.getAbsolutePath)
    try {
      val (m, n) = Materialize.counted(Seq(1, 2, 3).toDF("x"))
      assert(m.as[Int].collect().sorted === Array(1, 2, 3))
      assert(n === 3)
      assert(m.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(3)))
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      assert(files(dir).nonEmpty, "reliable mode must write checkpoint files")
      // end-to-end: the pointer-jumping loop materializes per round via
      // the reliable path and must produce the same clustering
      val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
      val cl = Dedup.dedupClusters(pairs)
        .as[(Long, Long)].collect().toMap
      assert(cl === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L))
    } finally spark.conf.unset(Materialize.ConfKey)
  }
}
