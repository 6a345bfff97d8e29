package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double arrays,
  * with whole-stage codegen (`doGenCode` emits a static call to the
  * primitive loop in [[CosineSimilarity.cosine]] — no per-element
  * lambda dispatch like the `aggregate`/`zip_with` higher-order-function
  * formulation, and no UDF serialization boundary).
  *
  * Semantics (kept bit-identical to the HOF/DuckDB formulation used by
  * the oracle-checked queries): strict left-to-right double
  * accumulation of dot/norms over float→double-cast elements, null
  * elements contribute 0, denominator `sqrt(na)*sqrt(nb)`, zero
  * denominator → 0.0. Inputs of array<float> are implicitly cast.
  *
  * This is the preference-order (b) path from the build contract: a
  * scalar capability Spark lacks, added as a codegen'd `Expression`
  * rather than a UDF. Registration: [[GraftFunctions.register]] (per
  * session) or [[GraftExtensions]] (spark.sql.extensions).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // (AbstractDataType/ImplicitCastInputTypes are private[sql] in Spark 4
  // — the registry builder inserts the array<double> casts instead.)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  // generated code calls the same loop, so codegen, interpreted eval
  // and the IVF trainer share one definition of the fold
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${classOf[CosineSimilarity].getName}.cosine($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The fold itself: strict left-to-right double accumulation of
    * dot/norms over the common prefix, null elements contribute 0,
    * denominator `sqrt(na)*sqrt(nb)`, zero denominator → 0.0. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else a.getDouble(i)
      val y = if (b.isNullAt(i)) 0.0 else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}
