package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prints the density-derived df cap of every capped index lane for a
  * corpus dir — the measurement side of the dense-corpus loss proof
  * (VERDICT r16 item 2). `tools/dense_census.py` derives its
  * closed-form planted-loss predictions from these caps: a planted
  * group is dropped in a lane exactly when its effective df exceeds
  * that lane's derived cap, so the predictions branch on the values
  * this main reports rather than assuming one global cap.
  *
  * Reports both the RAW-corpus caps (what g4/g22's shared indexes
  * derive) and the caps over the %5-exact-copy AUGMENTED corpus that
  * g25/g30 build in-plan (their planted groups are 1.2x larger, and
  * the corpus is denser, so the derived caps can differ).
  *
  * Usage: runMain graft.CapsReport <sfDir> [outJson]
  */
object CapsReport {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1_dense")
    val spark = GraftSession.fromEnv()
    import graft.operators.{Dedup, TextAnalysis}

    val docs = Tables.documents(spark, dir)
    val aug = docs.select(col("doc_id"), col("text")).unionByName(
      docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + Dedup.RecallProbeOffset).as("doc_id"),
          col("text")))

    def caps(d: DataFrame): (Long, Long, Long) = {
      val shingle = Dedup.derivedCap(Dedup.shingleHashRows(d).distinct(),
        Seq("sh_h"), Dedup.DefaultShingleDfCap).head().getLong(0)
      val bucket = Dedup.derivedCap(Dedup.minhashSignature(d, 4),
        Seq("band", "minh"), Dedup.DefaultBucketDfCap).head().getLong(0)
      val winnow = Dedup.derivedCap(
        TextAnalysis.winnowFingerprints(d).select("doc_id", "fp").distinct(),
        Seq("fp"), Dedup.DefaultShingleDfCap).head().getLong(0)
      (shingle, bucket, winnow)
    }
    val (sh, bk, wn) = caps(docs)
    val (ash, abk, awn) = caps(aug)
    // dir is user input — escape it so a path with quotes/backslashes
    // can't break the JSON that dense_census.py json.load()s (ADVICE r17)
    val dirJson = dir.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }
    val line = s"""{"dir":"$dirJson","shingle_cap":$sh,"bucket_cap":$bk,""" +
      s""""winnow_cap":$wn,"aug_shingle_cap":$ash,""" +
      s""""aug_bucket_cap":$abk,"aug_winnow_cap":$awn}"""
    println(line)
    args.lift(1).foreach(p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n"))
    spark.stop()
  }
}
