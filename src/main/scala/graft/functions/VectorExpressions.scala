package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over `array<double>` (SURVEY.md §4.3 phase 2).
  *
  * The HOF pipeline (`aggregate(zip_with(...))`) evaluates lambda functions
  * per element through the interpreter; this expression compiles to a tight
  * primitive loop inside whole-stage codegen instead. SQL `vec_dot`,
  * [[VectorOps.dot]] and [[graft.plans.RewriteHofDotProduct]] (which
  * substitutes it into USER queries, so divergence would silently change
  * results) all build it, and it matches the HOF form EXACTLY:
  *  - accumulation order: sequential left-to-right doubles (bit-for-bit);
  *  - length mismatch → NULL (zip_with pads with null, and null products
  *    poison the aggregate);
  *  - any NULL element → NULL.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  // element null checks needed only when the array type admits null
  // elements — the branch-free loop is kept where possible
  private def checkElems: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => false
  })

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    if (checkElems) {
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getDouble(i) * y.getDouble(i); i += 1
      }
    } else {
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("sum")
      val nullCheck =
        if (checkElems)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
        final int $n = $a.numElements();
        if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $nullCheck
            $s += $a.getDouble($i) * $b.getDouble($i);
          }
          if (!${ev.isNull}) { ${ev.value} = $s; }
        }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  private val dotBuilder: Seq[Expression] => Expression =
    children => DotProduct(children(0), children(1))

  private[functions] val normBuilder: Seq[Expression] => Expression = {
    case Seq(c) => NormalizeText(c, TextNormUtil.NFC)
    case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(m, _)) =>
      NormalizeText(c, TextNormUtil.modeOf(String.valueOf(m)))
    case other => throw new IllegalArgumentException(
      s"text_normalize expects (str[, mode-literal]), got ${other.size} args")
  }

  /** Column-level native dot product (no registry needed). */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  private[functions] val minhashBuilder: Seq[Expression] => Expression = {
    case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(n, _)) =>
      val numHashes =
        try String.valueOf(n).toInt
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"minhash_sig: numHashes must be an integer literal, got '$n'")
        }
      MinHashSignature(c, numHashes)
    case Seq(_, nonLiteral) => throw new IllegalArgumentException(
      "minhash_sig: numHashes must be a literal (the signature width is " +
        s"fixed at plan time), got non-literal ${nonLiteral.sql}")
    case other => throw new IllegalArgumentException(
      s"minhash_sig expects (array<string>, numHashes-literal), got ${other.size} args")
  }

  private[functions] val jaccardBuilder: Seq[Expression] => Expression =
    children => JaccardSim(children(0), children(1))

  /** Register the native expressions (`vec_dot`, `text_normalize`,
    * `minhash_sig`, `jaccard_sim`) for SQL use in an existing session. */
  def register(spark: SparkSession): Unit = {
    Bridge.registerFunction(spark, "vec_dot", classOf[DotProduct], dotBuilder)
    Bridge.registerFunction(spark, "text_normalize", classOf[NormalizeText], normBuilder)
    Bridge.registerFunction(spark, "minhash_sig", classOf[MinHashSignature], minhashBuilder)
    Bridge.registerFunction(spark, "jaccard_sim", classOf[JaccardSim], jaccardBuilder)
  }
}

/** `spark.sql.extensions` entry point: registers the native function AND the
  * optimizer rule that rewrites the equivalent HOF idiom onto it
  * ([[graft.plans.RewriteHofDotProduct]]) — the full Expression + Rule +
  * extensions stack — and the planner strategy of the exact cosine top-k
  * node ([[graft.operators.CosineTopKStrategy]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(Bridge.functionDescription("vec_dot", classOf[DotProduct],
      children => DotProduct(children(0), children(1))))
    ext.injectFunction(Bridge.functionDescription("text_normalize",
      classOf[NormalizeText], VectorExpressions.normBuilder))
    ext.injectFunction(Bridge.functionDescription("minhash_sig",
      classOf[MinHashSignature], VectorExpressions.minhashBuilder))
    ext.injectFunction(Bridge.functionDescription("jaccard_sim",
      classOf[JaccardSim], VectorExpressions.jaccardBuilder))
    ext.injectOptimizerRule(_ => graft.plans.RewriteHofDotProduct)
    ext.injectOptimizerRule(_ => graft.plans.MvRoutingRule)
    ext.injectPlannerStrategy(_ => graft.operators.CosineTopKStrategy)
  }
}
