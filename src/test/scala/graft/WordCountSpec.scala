package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{TokenCounts, WordCount}

class WordCountSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    "the quick brown fox",
    "  the\tlazy  dog ",          // leading/multiple whitespace, tab
    "the the the",
    "",                            // empty line → no tokens
    "fox").toDF("text")

  test("wordCount matches hand-counted golden (StringTokenizer semantics)") {
    val got = WordCount.wordCount(corpus).orderBy("word")
      .as[(String, Long)].collect().toList
    assert(got === List("brown" -> 1L, "dog" -> 1L, "fox" -> 2L,
      "lazy" -> 1L, "quick" -> 1L, "the" -> 5L))
  }

  test("no empty tokens from leading whitespace or empty lines") {
    val words = WordCount.wordCount(corpus).select("word").as[String].collect()
    assert(words.forall(_.nonEmpty))
  }

  test("token conservation: sum(cnt) == total token count (W2 vs W7)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val total = WordCount.tokenTotals(docs).select("total_tokens").as[Long].head()
    val direct = docs.select(explode(split(col("text"),
      WordCount.WhitespaceRe)).as("w"))
      .where(length(col("w")) > 0).count()
    assert(total === direct)
  }

  test("topWords is a prefix of the full ordering with deterministic ties") {
    val top = WordCount.topWords(corpus, 3).as[(String, Long)].collect().toList
    assert(top === List("the" -> 5L, "fox" -> 2L, "brown" -> 1L))
  }

  test("writeTsv emits raw word<TAB>count lines, overwrite-idempotent (W8/W9)") {
    val dir = java.nio.file.Files.createTempDirectory("wc_tsv").toString + "/out"
    WordCount.writeTsv(WordCount.wordCount(corpus), dir)
    WordCount.writeTsv(WordCount.wordCount(corpus), dir) // W9: overwrite
    val lines = spark.read.text(dir).as[String].collect().sorted
    assert(lines.contains("the\t5"))
    assert(lines.length === 6)
  }

  test("combiner flush budgets of 1 and 3 entries give the default's counts") {
    val docs = Seq("a b a c", "b b d a", "  e a\tb  ", "", "c c c c")
      .toDF("text")
      .union(Tables.documents(spark, sf("sf0.001")).select("text"))
    def counts(df: DataFrame) =
      df.as[(String, Long)].collect().toMap
    val default = counts(WordCount.wordCount(docs))
    Seq(1, 3).foreach { budget =>
      assert(counts(WordCount.wordCount(docs, budget)) === default, s"budget $budget")
    }
    // a full map still counts the words it holds, flushes at the first
    // new one (mid-line) and resumes there, so a word can be emitted twice
    val partials = TokenCounts.combine(Iterator("a b a c", null, "b b d a"), 3).toList
    assert(partials === List("a" -> 2L, "b" -> 3L, "c" -> 1L, "d" -> 1L, "a" -> 1L))
    assert(TokenCounts.combine(Iterator("x y x"), 1).toList ===
      List("x" -> 1L, "y" -> 1L, "x" -> 1L))
  }

  test("wordCount + writeTsv run on a session built without spark.sql.extensions") {
    // the shared test session carries GraftExtensions, and a JVM holds one
    // SparkContext, so the plain session runs in a child JVM
    val dir = Files.createTempDirectory("wc_plain")
    val lines = Seq("the quick brown fox", "  the\tlazy  dog ", "the the the", "", "fox")
    Files.write(dir.resolve("corpus.txt"), lines.mkString("\n").getBytes("UTF-8"))
    val out = dir.resolve("out").toString
    runInChildJvm(PlainSessionWordCount, dir.resolve("corpus.txt").toString, out)
    val got = spark.read.text(out).as[String].collect().sorted.toList
    assert(got === List("brown\t1", "dog\t1", "fox\t2", "lazy\t1", "quick\t1", "the\t5"))
  }
}

/** Child-JVM half of WordCountSpec's plain-session case: `wordCount` →
  * `writeTsv` over a text file on a SparkSession with no extensions.
  * Args: input file, output dir. */
object PlainSessionWordCount {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      require(!spark.sparkContext.getConf.contains("spark.sql.extensions"))
      require(!spark.catalog.functionExists("md5_long56"), "GraftExtensions loaded")
      val docs = spark.read.text(args(0)).withColumnRenamed("value", "text")
      WordCount.writeTsv(WordCount.wordCount(docs), args(1))
    } finally spark.stop()
  }
}
