package graft.plans

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `minhash_sig(text, bands) -> array<bigint>`: a document's banded
  * MinHash signature as ONE native codegen byte pass; element `b` is
  * band `b`'s minimum.
  *
  * Replaces (and PropertySpec pins it equal to) the composition the
  * dedup ladder ran over the exploded shingle table:
  *
  *   - tokens `filter(split(text, '[ \t\n\r\f]+'), x -> x != '')`;
  *   - shingles: each run of 3 consecutive tokens joined by one space;
  *   - `h = md5_long56(shingle)` ([[Md5Long56.hash]]);
  *   - per band `b`, `min(affinePerm(b, h))` grouped by document
  *     (`Dedup.affinePerm`, the same arithmetic as below).
  *
  * A document's signature depends only on its own text, so this is the
  * map-side combine of that aggregate applied to one row: no shingle
  * rows, no groupBy shuffle, no unpivot. Tokens are maximal runs of
  * bytes outside `[ \t\n\r\f]` (single ASCII bytes, which no UTF-8
  * lead or continuation byte equals); each shingle is assembled in one
  * reused buffer and hashed from it.
  *
  * Null text, and text with fewer than 3 tokens (no shingle), give null:
  * `posexplode` then emits no rows, as the exploded form had none.
  *
  * Invalid UTF-8 (a string made by `cast(binary as string)`) is first
  * decoded the way `split` decodes it, each malformed sequence becoming
  * U+FFFD, so the shingle bytes hashed are the ones the composed form
  * hashed.
  *
  * Operators build it as a Column with
  * `org.apache.spark.sql.GraftColumns.minhashSig`, which works on any
  * session; `GraftExtensions` registers the name for SQL text, with a
  * constant band count. Reader: `Dedup.minhashSignature`, and through it
  * the `signatures` level of the dedup ladder.
  */
case class MinhashSig(child: Expression, bands: Int) extends UnaryExpression {
  require(bands > 0, s"minhash_sig needs at least one band, got $bands")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(v: Any): Any =
    MinhashSig.sig(v.asInstanceOf[UTF8String], bands)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.plans.MinhashSig.sig($c, $bands);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  /** Modulus and offset mixer of the per-band affine permutations
    * (`Dedup.MinhashP`/`MinhashMixer` alias these). */
  val P = 1000000007L
  val Mixer = 2654435761L

  /** Band mins of `text`'s 3-shingles, or null with fewer than 3 tokens. */
  def sig(text: UTF8String, bands: Int): ArrayData = {
    val s = if (text.isValid()) text.getBytes
      else text.toString.getBytes(StandardCharsets.UTF_8)
    // token [start, end) byte offsets
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < s.length) {
      if (GopherStats.isDelim(s(i))) i += 1
      else {
        val start = i
        while (i < s.length && !GopherStats.isDelim(s(i))) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, 2 * nTok)
          ends = java.util.Arrays.copyOf(ends, 2 * nTok)
        }
        starts(nTok) = start
        ends(nTok) = i
        nTok += 1
      }
    }
    if (nTok < 3) return null
    val offs = Array.tabulate(bands)(b => (b.toLong * Mixer) % P)
    val mins = Array.fill(bands)(Long.MaxValue)
    // the shingle's bytes: three tokens joined by one space
    var sh = new Array[Byte](64)
    var t = 0
    while (t + 2 < nTok) {
      var n = 0
      var k = t
      while (k <= t + 2) {
        val len = ends(k) - starts(k)
        if (n + len + 1 > sh.length) sh = java.util.Arrays.copyOf(sh, 2 * (n + len + 1))
        if (k > t) { sh(n) = ' '; n += 1 }
        System.arraycopy(s, starts(k), sh, n, len)
        n += len
        k += 1
      }
      val h = Md5Long56.hash(sh, n)
      var b = 0
      while (b < bands) {
        val p = ((2L * b + 1) * ((h ^ offs(b)) % P) + offs(b)) % P
        if (p < mins(b)) mins(b) = p
        b += 1
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
