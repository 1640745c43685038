package graft

import org.apache.spark.sql.functions._

/** Same-data-scale throughput comparison against the reference's headline
  * numbers (BASELINE.md: 100MB WordCount best = 129.39 s, 1GB best =
  * 847.96 s, on a 4-VM Hadoop cluster).
  *
  * Builds a corpus of the requested size from the testdata documents
  * (replicated, with per-replica synthetic tokens so the aggregation
  * state grows with scale like a real corpus), writes it as plain text,
  * then times the full W1-W8 pipeline: recursive text scan → tokenize →
  * count → TSV sink.
  *
  * Usage: runMain graft.ThroughputDemo [targetMB] [targetVocab]
  *
  * `targetVocab` (optional) grows the synthetic vocabulary to ~that
  * many distinct words so the aggregation STATE matches a real corpus
  * at the same byte scale — the reference's 5 GB run carries 22.2 M
  * distinct words (/root/reference/MapReduceLog/_5G_slowstart_0.5/
  * job_output.log), an order more than the default suffix scheme
  * produces; word-count state size is what stresses the shuffle and
  * the final aggregate, so matching it is part of "same data scale".
  */
object ThroughputDemo {
  def main(args: Array[String]): Unit = {
    val targetMB = args.headOption.map(_.toInt).getOrElse(100)
    val targetVocab = args.lift(1).map(_.toLong).getOrElse(0L)
    val spark = GraftSession.fromEnv()

    val base = Tables.documents(spark, "/root/testdata/sf0.1")
    val baseBytes = base.select(sum(octet_length(col("text")) + 1)).first().getLong(0)
    val replicas = math.max(1, (targetMB * 1024L * 1024L / baseBytes).toInt)
    val corpusDir = s"/tmp/graft_corpus_${targetMB}mb"
    // per-replica token suffix grows the vocabulary with corpus size
    // (a pure repeat would keep the aggregation state unrealistically
    // tiny); with targetVocab set, each (doc, replica) carries enough
    // unique synthetic tokens to land the distinct-word count near it
    val nDocs = base.count()
    val vocabPerRow =
      if (targetVocab <= 0) 0
      else math.max(1, (targetVocab / (replicas.toLong * nDocs)).toInt)
    val suffix =
      if (vocabPerRow == 0)
        expr("concat(' tok', replica, '_', doc_id % 997)")
      else
        expr(s"concat(' ', concat_ws(' ', transform(sequence(1, $vocabPerRow), " +
          "j -> concat('tok', replica, '_', doc_id, '_', j))))")
    base.select(col("doc_id"), col("text"))
      .withColumn("replica", explode(expr(s"sequence(1, $replicas)")))
      .select(concat(col("text"), suffix).as("value"))
      .write.mode("overwrite").text(corpusDir)

    val corpus = spark.read.option("recursiveFileLookup", "true")
      .text(corpusDir).withColumnRenamed("value", "text")
    val inBytes = corpus.select(sum(octet_length(col("text")) + 1)).first().getLong(0)
    val inMB = inBytes / 1048576.0

    val t0 = System.nanoTime()
    operators.WordCount.writeTsv(
      operators.WordCount.wordCount(corpus), s"/tmp/graft_wc_${targetMB}mb")
    val sec = (System.nanoTime() - t0) / 1e9
    val distinct = spark.read.text(s"/tmp/graft_wc_${targetMB}mb").count()

    // nearest documented reference scale (README.md §4 best times; the 5G
    // point is BASELINE.md's log-derived single-run best, no README row)
    val refPoints = Seq(100 -> 129.39, 500 -> 545.09, 1000 -> 847.96,
      5000 -> 4479.0)
    val (refMB, refSec) = refPoints.minBy { case (m, _) => math.abs(m - targetMB) }
    println(f"""{"demo":"wordcount_throughput","input_mb":$inMB%.1f,"seconds":$sec%.2f,"mb_per_s":${inMB / sec}%.2f,"distinct_words":$distinct,"reference_mb":$refMB,"reference_seconds":$refSec,"speedup_vs_reference":${refSec / sec}%.1f}""")
    spark.stop()
  }
}
