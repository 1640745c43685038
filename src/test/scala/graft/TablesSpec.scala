package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}

/** [[Tables.table]]'s schema memo: a repeated read of an unchanged table
  * runs no inference job, and a rewritten table or a toggled
  * schema-conversion conf reads the schema a bare read would. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): String =
    Files.createTempDirectory("tables_spec").toString

  test("a second read of an unchanged table submits no Spark job") {
    val dir = tempDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(jobsOf(Tables.table(spark, dir, "t")) >= 1,
      "the first read infers the schema with a job")
    var df: DataFrame = null
    assert(jobsOf { df = Tables.table(spark, dir, "t") } === 0)
    assert(df.columns.toSeq === Seq("id", "s"))
    assert(df.as[(Long, String)].collect().sorted.toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("a table overwritten at the same path reads with its new column") {
    val dir = tempDir()
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("id"))
    Seq((3L, "x")).toDF("id", "extra").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.table(spark, dir, "t")
    assert(df.columns.toSeq === Seq("id", "extra"))
    assert(df.as[(Long, String)].collect().toSeq === Seq((3L, "x")))
  }

  test("a binary column's type follows spark.sql.parquet.binaryAsString") {
    // written without Spark: a Spark-written footer carries its own Spark
    // schema, which inference takes over the conf
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi")) finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    def typeOfB = Tables.table(spark, dir, "t").schema("b").dataType
    try {
      spark.conf.set(key, "false")
      assert(typeOfB === BinaryType)
      spark.conf.set(key, "true")
      assert(typeOfB === StringType)
      assert(Tables.table(spark, dir, "t").as[String].collect().toSeq === Seq("hi"))
      spark.conf.set(key, "false")
      assert(typeOfB === BinaryType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("four threads reading an unread table at once get one schema") {
    val dir = tempDir()
    Seq((1L, 2.0, "z")).toDF("id", "v", "s").write.parquet(s"$dir/t.parquet")
    val n = 4
    val start = new CyclicBarrier(n)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futures = (1 to n).map { _ =>
        pool.submit(new Callable[StructType] {
          def call() = { start.await(); Tables.table(spark, dir, "t").schema }
        })
      }
      val schemas = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(schemas.distinct.size === 1)
      assert(schemas.head.fieldNames.toSeq === Seq("id", "v", "s"))
    } finally pool.shutdownNow()
  }
}
