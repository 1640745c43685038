package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** The reference's one distributed query: WordCount (SURVEY.md §2.A,
  * W1-W9; reference invocation `wheel/run_mr_real.sh:53-57`).
  *
  * Spark-first mapping: declarative scan → one map-side pass that
  * tokenizes and combines → Exchange hashpartitioning(word) → final
  * HashAggregate, which IS the MR map/combine/shuffle/reduce pipeline.
  * The combiner (reference counters `job_output.log:102-103`) is
  * hand-written: [[TokenCounts]] counts each partition's tokens over the
  * lines' UTF-8 bytes in one open-addressing map and emits one
  * `(word, cnt)` row per distinct word, so no per-token row or String
  * is ever built. Catalyst's partial `sum` then only sees those rows.
  * Counts are Long, not Int: MR's IntWritable overflows past 2^31
  * tokens, which a 100 TB corpus exceeds (SURVEY §7 risk 6).
  *
  * Tokenizer parity (SURVEY §7 risk 3): Java StringTokenizer emits no
  * empty tokens, and neither does the kernel; the delimiters are exactly
  * [[WhitespaceRe]]'s five bytes.
  */
object WordCount {

  /** Whitespace class shared with the DuckDB oracle: Java `\s` includes
    * \x0B while RE2's does not, so both sides use this explicit class
    * (= StringTokenizer's default delims " \t\n\r\f"). [[TokenCounts]]
    * splits on the same five bytes. */
  val WhitespaceRe = "[ \t\n\r\f]+"

  /** W1-W7: tokenize + count. Input: any DataFrame with a string `text`
    * column; null texts have no tokens. */
  def wordCount(docs: DataFrame): DataFrame =
    wordCount(docs, TokenCounts.MaxEntries)

  /** [[wordCount]] with the combiner flushing at `maxEntries` words. */
  private[graft] def wordCount(docs: DataFrame, maxEntries: Int): DataFrame = {
    val combine: Iterator[String] => Iterator[(String, Long)] =
      TokenCounts.combine(_, maxEntries)
    docs.select(col("text")).as(Encoders.STRING)
      .mapPartitions(combine)(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .toDF("word", "cnt")
      .groupBy("word")
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Top-k words (k small → `orderBy.limit` = TakeOrderedAndProject, no
    * global sort materialization). Ties broken by word for determinism. */
  def topWords(docs: DataFrame, k: Int): DataFrame =
    wordCount(docs).orderBy(col("cnt").desc, col("word")).limit(k)

  /** Token-conservation invariant surface (W2/W7: `Map output records` ==
    * sum of counts; reference counters `job_output.log:98,104-107`). */
  def tokenTotals(docs: DataFrame): DataFrame =
    wordCount(docs).agg(
      sum(col("cnt")).as("total_tokens"),
      count(lit(1)).as("distinct_words"))

  /** W8 sink: raw `word\tcount` lines (MR TextOutputFormat parity — the
    * CSV writer would quote fields containing tabs/quotes), one file per
    * partition, overwrite (W9). No global sort: MR only sorts within each
    * reducer, and a total order is pure overhead at 100 TB. */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.sortWithinPartitions("word")
      .select(concat_ws("\t", col("word"), col("cnt")).as("value"))
      .write.mode("overwrite").text(path)
}

/** WordCount's map-side combiner. Each line is encoded to UTF-8 once
  * (the `text` column arrives decoded, as the `split` path also decodes
  * it, so invalid UTF-8 yields the same tokens), scanned once, and every
  * token — a maximal run of bytes outside `[ \t\n\r\f]` — is counted in
  * a [[TokenTable]]. Only ASCII bytes split, so a multi-byte character is
  * never cut. The table's partial counts are emitted at partition end,
  * or earlier when a new word would pass its budget; counting resumes
  * at that word afterwards, so memory per task stays bounded. */
private[graft] object TokenCounts {

  /** Flush budget: a partition's map emits its partial counts early once
    * it holds this many distinct words or key bytes (MR's combiner
    * spill), so a task's map stays under ~32 MB at any vocabulary size.
    * The whole 58 MiB perfbench corpus holds ~401k words in ~4.6 MB, so
    * even one partition of it never flushes early. */
  val MaxEntries = 1 << 19
  private val MaxKeyBytes = 16 << 20

  def combine(lines: Iterator[String], maxEntries: Int): Iterator[(String, Long)] =
    new Iterator[(String, Long)] {
      private val table = new TokenTable(maxEntries, MaxKeyBytes)
      private var line: Array[Byte] = null // the line being counted
      private var pos = 0                  // where counting resumes in it
      private var emitted = -1             // entries emitted; -1: counting

      def hasNext: Boolean = {
        if (emitted >= 0 && emitted < table.size) return true
        if (emitted >= 0) { table.clear(); emitted = -1 }
        var full = false
        while (!full && (line != null || lines.hasNext)) {
          if (line == null) {
            val s = lines.next()
            if (s != null) { line = s.getBytes(UTF_8); pos = 0 }
          } else {
            pos = table.countTokens(line, pos)
            full = pos < line.length
            if (!full) line = null
          }
        }
        if (table.size > 0) emitted = 0
        table.size > 0
      }

      def next(): (String, Long) = {
        if (!hasNext) throw new NoSuchElementException
        emitted += 1
        table.entry(emitted - 1)
      }
    }
}

/** Open-addressing map from byte-slice keys to Long counts. Keys live
  * back to back in one byte arena; a slot holds the key's 32-bit hash in
  * its high half and its entry index + 1 in the low half (0 = free), so
  * a probe touches the arena only when the hashes match. */
private[operators] final class TokenTable(maxEntries: Int, maxKeyBytes: Int) {
  require(maxEntries > 0)
  private var slots = new Array[Long](1024)
  private var keyOff = new Array[Int](512)
  private var keyLen = new Array[Int](512)
  private var counts = new Array[Long](512)
  private var keys = new Array[Byte](8192)
  private var used = 0
  private var entries = 0

  def size: Int = entries

  /** Counts the tokens of `buf` from `from` on; returns `buf.length`, or
    * the start of the first new token that did not fit the budget. */
  def countTokens(buf: Array[Byte], from: Int): Int = {
    val n = buf.length
    var p = from
    while (p < n) {
      while (p < n && TokenTable.isDelim(buf(p))) p += 1
      if (p < n) {
        val start = p
        var h = 0x811c9dc5 // FNV-1a
        while (p < n && !TokenTable.isDelim(buf(p))) {
          h = (h ^ (buf(p) & 0xff)) * 0x01000193
          p += 1
        }
        if (!add(buf, start, p - start, TokenTable.fmix(h))) return start
      }
    }
    n
  }

  /** Counts one occurrence of `buf[off, off + len)`; false, counting
    * nothing, when the key is new and the table is at its budget. */
  private def add(buf: Array[Byte], off: Int, len: Int, hash: Int): Boolean = {
    val mask = slots.length - 1
    var i = hash & mask
    var s = slots(i)
    while (s != 0L) {
      if ((s >>> 32).toInt == hash) {
        val e = s.toInt - 1
        val ko = keyOff(e)
        if (keyLen(e) == len &&
            java.util.Arrays.equals(keys, ko, ko + len, buf, off, off + len)) {
          counts(e) += 1
          return true
        }
      }
      i = (i + 1) & mask
      s = slots(i)
    }
    if (entries >= maxEntries || (entries > 0 && used + len > maxKeyBytes)) return false
    if (entries == keyOff.length) {
      val cap = entries * 2
      keyOff = java.util.Arrays.copyOf(keyOff, cap)
      keyLen = java.util.Arrays.copyOf(keyLen, cap)
      counts = java.util.Arrays.copyOf(counts, cap)
    }
    if (used + len > keys.length)
      keys = java.util.Arrays.copyOf(keys, math.max(keys.length * 2, used + len))
    System.arraycopy(buf, off, keys, used, len)
    keyOff(entries) = used
    keyLen(entries) = len
    counts(entries) = 1L
    used += len
    entries += 1
    slots(i) = (hash.toLong << 32) | entries
    if (entries * 2 > slots.length) grow()
    true
  }

  /** Doubles the slot array; load stays at most 1/2. */
  private def grow(): Unit = {
    val old = slots
    slots = new Array[Long](old.length * 2)
    val mask = slots.length - 1
    old.foreach { s =>
      if (s != 0L) {
        var i = (s >>> 32).toInt & mask
        while (slots(i) != 0L) i = (i + 1) & mask
        slots(i) = s
      }
    }
  }

  def entry(e: Int): (String, Long) =
    (new String(keys, keyOff(e), keyLen(e), UTF_8), counts(e))

  /** Empties the table, keeping its arrays for the next batch. */
  def clear(): Unit = {
    java.util.Arrays.fill(slots, 0L)
    entries = 0
    used = 0
  }
}

private object TokenTable {
  /** `[ \t\n\r\f]` as a bit set over byte values 0..32 */
  private val DelimMask =
    (1L << ' ') | (1L << '\t') | (1L << '\n') | (1L << '\r') | (1L << '\f')

  @inline def isDelim(b: Byte): Boolean =
    b >= 0 && b <= ' ' && ((DelimMask >>> b) & 1L) != 0L

  /** murmur3's 32-bit finalizer: spreads FNV's low bits over the slots */
  @inline def fmix(x: Int): Int = {
    var h = x
    h ^= h >>> 16
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }
}

object WordCountQueries {
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  val qs: Seq[Q] = Seq(
    Q(
      "w1_wordcount",
      (s, d) => WordCount.wordCount(docs(s, d)).orderBy("word"),
      Some("""SELECT word, count(*) AS cnt
             |FROM (SELECT unnest(string_split_regex(text, '[ \t\n\r\f]+')) AS word
             |      FROM documents)
             |WHERE length(word) > 0
             |GROUP BY word ORDER BY word""".stripMargin),
      doc = "W1-W8 scan→tokenize→combine→shuffle→sum"),
    Q(
      "w2_top_words",
      (s, d) => WordCount.topWords(docs(s, d), 100),
      Some("""SELECT word, count(*) AS cnt
             |FROM (SELECT unnest(string_split_regex(text, '[ \t\n\r\f]+')) AS word
             |      FROM documents)
             |WHERE length(word) > 0
             |GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin),
      doc = "top-k with deterministic tie-break"),
    Q(
      "w3_token_totals",
      (s, d) => WordCount.tokenTotals(docs(s, d)),
      Some("""SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens, count(*) AS distinct_words
             |FROM (SELECT word, count(*) AS cnt
             |      FROM (SELECT unnest(string_split_regex(text, '[ \t\n\r\f]+')) AS word
             |            FROM documents)
             |      WHERE length(word) > 0 GROUP BY word)""".stripMargin),
      doc = "token-conservation invariant (W2 vs W7 counters)"),
  )
}
