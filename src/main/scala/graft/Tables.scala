package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All operators take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1+ (bench). At
  * cluster scale the same code reads a 100 TB table: parquet scans get
  * column pruning + predicate pushdown from Catalyst for free, so every
  * downstream operator should select only the columns it needs.
  *
  * [[table]] is graft's one parquet reader, and it reads each table's
  * schema once per JVM. A bare `spark.read.parquet` infers the schema with
  * a one-task Spark job that reads a footer, on every call (about 0.1 s
  * warm, 4 cores, `local[4]`).
  * The memo keeps the inferred schema per (path, schema-conversion confs),
  * checked against the table's leaf files (path, length, modification
  * time) on each read. A hit reads with the schema given, which gives the
  * same relation and plan: Spark makes a given schema nullable just as it
  * does an inferred one. A changed file set re-infers and replaces the
  * entry.
  */
object Tables {
  /** Session confs that steer how a parquet footer converts to a Spark
    * schema; part of the memo key, so a toggled conf re-infers. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive")

  /** (path, length, modification time) of every leaf file of a table. */
  private type Files = Seq[(String, Long, Long)]

  private val schemas =
    new ConcurrentHashMap[(String, Seq[Option[String]]), (Files, StructType)]

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Testdata timestamps are parquet TIMESTAMP(NANOS), which the Spark
    // reader rejects; read them as raw nano longs (converted per-table
    // below with exact integer division).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    // an unlistable path infers as a bare read does, so it fails the same way
    Try(leafFiles(spark, path)).toOption.fold(spark.read.parquet(path)) { files =>
      val key = (path, SchemaConfs.map(spark.conf.getOption))
      Option(schemas.get(key)).filter(_._1 == files) match {
        case Some((_, schema)) => spark.read.schema(schema).parquet(path)
        case None =>
          // inferred with no lock held: racing readers both infer the
          // same schema, and the last put wins
          val df = spark.read.parquet(path)
          schemas.put(key, (files, df.schema))
          df
      }
    }
  }

  /** A recursive `listStatus` walk that reads only path, length and
    * mtime. `FileSystem.listFiles` builds a `LocatedFileStatus` per file,
    * which copies its permissions, and on the local filesystem reading
    * those forks an `ls -ld` (about 5 ms per table read). */
  private def leafFiles(spark: SparkSession, path: String): Files = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    walk(fs.getFileStatus(p)).sorted
  }

  /** Nano-long → naive micro timestamp (TIMESTAMP_NTZ, so parquet sinks
    * write isAdjustedToUTC=false and DuckDB sees identical wall times).
    * Micro-precision columns already load as TIMESTAMP_NTZ and are left
    * alone — only NANOS columns surface as LongType under nanosAsLong. */
  private def nanosToTs(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      if (d.schema(c).dataType == org.apache.spark.sql.types.LongType)
        // convert_timezone pins the NTZ wall time to the UTC rendering of
        // the instant regardless of spark.sql.session.timeZone (a bare
        // cast to timestamp_ntz renders in the session zone, silently
        // shifting wall times for non-UTC sessions)
        d.withColumn(c, expr(
          s"convert_timezone(current_timezone(), 'UTC', " +
            s"cast(timestamp_micros($c div 1000) as timestamp_ntz))"))
      else d
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    nanosToTs(table(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    nanosToTs(table(s, d, "lineitem"), "l_shipdate")
  def events(s: SparkSession, d: String): DataFrame =
    nanosToTs(table(s, d, "events"), "ts")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table as a temp view so ad-hoc
    * `spark.sql(...)` works against the same loaders (timestamp handling
    * included). */
  def registerAll(s: SparkSession, d: String): Unit = Seq(
    "region" -> region _, "nation" -> nation _, "customer" -> customer _,
    "supplier" -> supplier _, "part" -> part _, "orders" -> orders _,
    "lineitem" -> lineitem _, "events" -> events _,
    "documents" -> documents _, "embeddings" -> embeddings _)
    .foreach { case (n, f) => f(s, d).createOrReplaceTempView(n) }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
