package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.Parity.pround

/** Benchmark decontamination (SURVEY.md §2.G [EXT] extension): measure
  * n-gram overlap between the training split and a held-out eval split —
  * the check every LLM data pipeline runs so eval answers don't leak
  * into the train set.
  *
  * The splits reuse the deterministic hash decile from [[Sampling]]
  * (eval = top decile), so the operator is self-contained and
  * oracle-reproducible. Overlap is counted over each eval doc's DISTINCT
  * 3-token shingles against the train side's distinct shingle index.
  *
  * Design for 100 TB: this is an inverted-index equality join on the
  * 56-bit shingle hash — the train index is a distinct projection
  * (partial-agg'd before its exchange), the probe side is the (small)
  * eval split, and nothing ever compares docs pairwise. The same plan
  * decontaminates against an external benchmark table by swapping the
  * eval side's source.
  */
object Contamination {

  import Dedup.shingleHashRows

  private def pct = GraftColumns.md5Long56(col("doc_id").cast("string")) % 100

  /** Per-eval-doc contamination: distinct-shingle count, how many of
    * them occur anywhere in the train split, and the overlap ratio. */
  def contaminationReport(docs: DataFrame, evalPct: Int): DataFrame =
    contaminationFromShingles(shingleHashRows(docs).distinct(), evalPct)

  /** [[contaminationReport]] over an existing DISTINCT (doc_id, sh_h)
    * table. The eval/train split keys on doc_id alone, so filtering the
    * shared shingle table is identical to shingling each filtered doc
    * subset — the registered y3 reads the session-shared shingle build
    * instead of re-shingling the corpus twice. */
  private[graft] def contaminationFromShingles(shingles: DataFrame,
      evalPct: Int): DataFrame = {
    val evalSh = shingles.where(pct >= 100 - evalPct)
    val trainSh = shingles.where(pct < 100 - evalPct)
      .select("sh_h").distinct()
    val perDoc = evalSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hit = evalSh.join(trainSh, Seq("sh_h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    perDoc.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_ratio",
        pround(col("n_overlap").cast("double") / col("n_shingles").cast("double"), 6))
  }

  /** y8: intra-corpus repeated-n-gram exposure — per doc, the fraction of
    * its distinct 3-shingles that occur in at least one OTHER document.
    * This is the duplication-exposure signal sequence-level dedup acts on
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22 — substring duplication predicts memorization):
    * docs high on this scale are mostly boilerplate/templates even when
    * no single near-dup pair flags them.
    *
    * Scale shape: the shingle document frequency is a map-side-combinable
    * groupBy on the 56-bit hash joined back to the index — never a window
    * over sh_h (the y4 hot-shingle argument, SimilarityJoin.scala:53-61)
    * and never pairwise. Two key-reduced shuffles total. */
  def dupNgramRate(docs: DataFrame): DataFrame =
    dupNgramRateFromShingles(shingleHashRows(docs).distinct())

  /** [[dupNgramRate]] over an existing DISTINCT (doc_id, sh_h) table
    * (the registered y8 reads the session-shared shingle build). */
  private[graft] def dupNgramRateFromShingles(sh: DataFrame): DataFrame = {
    val docFreq = sh.groupBy("sh_h").agg(count(lit(1)).as("df"))
    sh.join(docFreq, "sh_h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_rate",
        pround(col("n_shared").cast("double") / col("n_shingles").cast("double"), 6))
  }
}

object ContaminationQueries {
  import Contamination._

  private val pctSql =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 100"
  private val toksSql =
    "list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '')"

  private def shingleCte(name: String, cond: String) =
    s"""${name}_t AS (SELECT doc_id, $toksSql AS t FROM documents WHERE $cond),
       |$name AS (
       |  SELECT DISTINCT doc_id,
       |    ('0x' || substr(md5(sh), 1, 14))::BIGINT AS sh_h
       |  FROM (
       |    SELECT doc_id,
       |           unnest(CASE WHEN len(t) >= 3
       |                  THEN list_transform(range(1, len(t) - 1),
       |                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |                  ELSE CAST([] AS VARCHAR[]) END) AS sh
       |    FROM ${name}_t))""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("y3_contamination",
      (s, d) => contaminationFromShingles(
          DedupQueries.sharedShingles(s, d), 10)
        .orderBy("doc_id"),
      Some(s"""WITH ${shingleCte("ev", s"$pctSql >= 90")},
              |${shingleCte("tr", s"$pctSql < 90")},
              |per AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY doc_id),
              |hit AS (
              |  SELECT doc_id, count(*) AS n_overlap FROM ev
              |  WHERE sh_h IN (SELECT sh_h FROM tr)
              |  GROUP BY doc_id)
              |SELECT per.doc_id, n_shingles,
              |       coalesce(n_overlap, 0) AS n_overlap,
              |       floor(CAST(coalesce(n_overlap, 0) AS DOUBLE)
              |             / CAST(n_shingles AS DOUBLE) * 1000000.0 + 0.5)
              |         / 1000000.0 AS overlap_ratio
              |FROM per LEFT JOIN hit ON per.doc_id = hit.doc_id
              |ORDER BY per.doc_id""".stripMargin),
      doc = "train/eval n-gram decontamination report: inverted-index " +
        "shingle overlap per held-out doc, never pairwise"),

    Q("y8_dup_ngram_rate",
      (s, d) => dupNgramRateFromShingles(DedupQueries.sharedShingles(s, d))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
              |s AS (
              |  SELECT DISTINCT doc_id,
              |    ('0x' || substr(md5(sh), 1, 14))::BIGINT AS sh_h
              |  FROM (
              |    SELECT doc_id,
              |           unnest(CASE WHEN len(t) >= 3
              |                  THEN list_transform(range(1, len(t) - 1),
              |                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              |                  ELSE CAST([] AS VARCHAR[]) END) AS sh
              |    FROM t)),
              |df AS (SELECT sh_h, count(*) AS df FROM s GROUP BY sh_h)
              |SELECT s.doc_id, count(*) AS n_shingles,
              |       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              |         AS n_shared,
              |       floor(CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
              |             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS dup_rate
              |FROM s JOIN df ON s.sh_h = df.sh_h
              |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),
      doc = "intra-corpus repeated-n-gram exposure: per doc, the fraction " +
        "of its distinct 3-shingles shared with any other doc (the " +
        "duplication-exposure signal of Lee et al. ACL'22) - groupBy df " +
        "joined back, never a window over sh_h, never pairwise"),
  )
}
