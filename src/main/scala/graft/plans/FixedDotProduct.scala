package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `fp_dot(array<long>, array<long>) -> long`: exact fixed-point dot
  * product as a native Catalyst expression with codegen.
  *
  * The composable alternative — `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0L, (acc,x) -> acc+x)` — is a higher-order function: interpreted
  * per element with lambda-variable boxing and an intermediate zipped
  * array allocation per row. This expression participates in whole-stage
  * codegen as a tight primitive long loop — the difference is the hot
  * inner kernel of similarity search over 100 TB of embeddings.
  *
  * Semantics notes: length mismatch truncates to the shorter array
  * (embedding dims are uniform in practice); null array → null; elements
  * are assumed non-null (fixed-point quantization never produces nulls).
  */
case class FixedDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fp_dot expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "fp_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FixedDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session extension registering graft's native functions; enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("fp_dot"),
      new ExpressionInfo(classOf[FixedDotProduct].getName, "fp_dot"),
      (children: Seq[Expression]) =>
        FixedDotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("md5_long56"),
      new ExpressionInfo(classOf[Md5Long56].getName, "md5_long56"),
      (children: Seq[Expression]) => Md5Long56(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("gopher_stats"),
      new ExpressionInfo(classOf[GopherStats].getName, "gopher_stats"),
      (children: Seq[Expression]) => GopherStats(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        val bands = children(1)
        require(bands.foldable && bands.dataType == IntegerType,
          s"minhash_sig's band count must be a constant int, got ${bands.sql}")
        MinhashSig(children.head, bands.eval().asInstanceOf[Int])
      }))
  }
}
