package graft

import org.apache.spark.sql.SparkSession

/** Golden plan fingerprints for the whole query surface (VERDICT r13
  * item 6): a normalized executedPlan hash per registered query,
  * committed as `PLAN_FINGERPRINTS.json`. PlanFingerprintSpec recomputes
  * every fingerprint on each `sbt test` and diffs against the golden
  * file, so ANY plan change — a join strategy flip, a new exchange, a
  * lost pushdown — becomes an explicit, reviewed event instead of
  * relying on the bench to notice. The narrated PLANS.md subset stays
  * for human reading; this is the exhaustive machine gate.
  *
  * Regeneration (after an intentional plan change):
  *   GRAFT_WRITE_FINGERPRINTS=1 sbt "testOnly graft.PlanFingerprintSpec"
  * then review the golden-file diff in the commit.
  *
  * Normalization strips the volatile parts of a plan string — expr ids,
  * plan ids, RDD ids, temp paths, per-session bucketed-table suffixes —
  * and keeps everything shape-relevant: operator tree, join strategies,
  * exchanges and their keys, pushed filters, read schemas, codegen
  * spans, literals and caps. */
object Fingerprints {

  val GoldenPath = "PLAN_FINGERPRINTS.json"

  def normalize(p: String): String = maskSessionNames(p)
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[N]")
    .replaceAll("InMemoryFileIndex\\([^)]*\\)\\[[^\\]]*\\]",
      "InMemoryFileIndex[...]")
    .replaceAll("\\[file:[^\\]]*\\]", "[file:...]")
    // the Materialize call-site line number moves on unrelated edits
    .replaceAll("at (localCheckpoint|checkpoint) at [A-Za-z]+\\.scala:\\d+",
      "at $1")

  /** Masks the names a plan string gets from its JVM and session rather
    * than from its shape; PLANS.md applies this alone, so its plans keep
    * their expr ids. */
  def maskSessionNames(p: String): String = p
    // per-session bucketed-table suffixes: graft_b_basket_69e36c38
    .replaceAll("graft_b_([a-z]+)_[0-9a-f]+", "graft_b_$1")
    // their per-JVM temp dirs: /tmp/graft_buckets_1522690699906582053
    .replaceAll("graft_buckets_\\d+", "graft_buckets_N")
    // JVM-assigned lambda class names + identity hashes (the
    // mapPartitions decode seam): Lambda$5738/0x00007f1b...@77065121
    .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+(@[0-9a-f]+)?", "Lambda")

  /** Per-line plan SKELETON: operator + sorted attribute-name set +
    * join/partitioning/build keywords + sorted pushed filters + sorted
    * scan-schema fields. Full plan text is NOT hashable: Catalyst's
    * RewriteDistinctAggregates / grouping-sets Expand orders grouping
    * keys and assigns gids from ExpressionSet iteration, which hashes
    * on the JVM-GLOBAL exprId counter — the same query planned after a
    * different amount of prior work in the JVM legally permutes
    * `keys=[a, b, gid]` to `keys=[b, a, gid]` (observed: p5/p6/p8/x21/
    * x39 flipped depending on suite order). The skeleton is invariant
    * to those permutations while still pinning everything review-worthy:
    * the operator tree, join strategies and types, exchanges and their
    * key SETS, scan relations, pushed filters, read schemas, codegen
    * span membership. */
  private val OpRe = "^(\\*?)(?:\\(\\d+\\) )?([A-Za-z][A-Za-z0-9.$_]*)".r
  private val AttrRe = "([a-zA-Z_][a-zA-Z0-9_]*)#".r
  private val PushedRe = "PushedFilters: \\[([^\\]]*)\\]".r
  private val StructRe = "struct<([^>]*)>".r
  private val ScanRe = "(?:FileScan|Scan) (\\w+) (spark_catalog\\.\\S+|\\[file:[^\\]]*\\])?".r
  private val Keywords = Seq(
    "hashpartitioning", "rangepartitioning", "SinglePartition",
    "RoundRobinPartitioning", "Inner", "LeftOuter", "RightOuter",
    "FullOuter", "LeftSemi", "LeftAnti", "Cross", "BuildLeft",
    "BuildRight", "ExistenceJoin", "Bucketed: true", "isFinalPlan=false",
    "localCheckpoint", "ReliableCheckpoint")

  def skeleton(plan: String): String =
    normalize(plan).linesIterator.map { line =>
      val prefix = line.takeWhile(c => c == ' ' || c == ':' || c == '+' || c == '-')
      val rest = line.drop(prefix.length)
      val (star, op) = OpRe.findFirstMatchIn(rest)
        .map(m => (m.group(1), m.group(2))).getOrElse(("", ""))
      val attrs = AttrRe.findAllMatchIn(rest).map(_.group(1))
        .toSeq.distinct.sorted
      val kws = Keywords.filter(rest.contains)
      val pushed = PushedRe.findFirstMatchIn(rest)
        .map(_.group(1).split(",").map(_.trim).sorted.mkString("|"))
        .fold("")(f => s" pushed[$f]")
      val schema = StructRe.findFirstMatchIn(rest)
        .map(_.group(1).split(",").map(_.takeWhile(_ != ':').trim)
          .filter(_.nonEmpty).sorted.mkString("|"))
        .fold("")(f => s" schema[$f]")
      val scan = ScanRe.findFirstMatchIn(rest)
        .map(m => s" src[${m.group(1)} ${Option(m.group(2)).getOrElse("")}]")
        .getOrElse("")
      s"$prefix$star$op [${kws.mkString(",")}] (${attrs.mkString(",")})$pushed$schema$scan"
    }.mkString("\n")

  def fingerprint(plan: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(skeleton(plan).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** (name, fingerprint, raw plan) for every registered query, computed
    * at the given scale dir in the given session. Raw plans are
    * returned so a caller can show reviewable context on mismatch. */
  def compute(spark: SparkSession, dir: String): Seq[(String, String, String)] =
    Registry.all.sortBy(_.name).map { q =>
      val plan = q.run(spark, dir).queryExecution.executedPlan.toString
      (q.name, fingerprint(plan), plan)
    }

  def render(fps: Seq[(String, String)]): String =
    fps.map { case (n, h) => s"""  "$n": "$h"""" }
      .mkString("{\n", ",\n", "\n}\n")

  def parse(json: String): Map[String, String] =
    """"([a-z0-9_]+)":\s*"([0-9a-f]{32})"""".r
      .findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toMap
}
