package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd cosine similarity over two float-array columns.
  *
  * One fused loop computes dot product and both norms (the composed
  * zip_with/aggregate formulation walks the arrays three times and
  * materializes an intermediate array). Numerics are IDENTICAL to the
  * portable fold recipe (SimSearch.dotD): each product in double
  * (float->double is exact), sequential left-to-right accumulation into
  * separate accumulators, cosine = dot / sqrt(na*nb) — so swapping one
  * for the other cannot change a single output bit (asserted in
  * PlansSpec).
  *
  * Like the engine's other custom Catalyst expressions, this one was
  * earned by a measured failure of the composed-builtin form (three
  * array walks here). Everything else uses built-ins, which get
  * Catalyst's own optimizations for free. The preference order
  * (compose built-ins > custom Expression > custom operator >
  * mapPartitions) is applied, not just cited.
  *
  * DataFrame code calls [[CosineSimilarity.of]] (via
  * `SimSearch.cosineSim`), a Column built without the function
  * registry; SQL text calls `cosine_sim`, bound by [[GraftExtensions]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, " +
          s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, dot, na, nb, xv, yv) = (
        ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("dot"),
        ctx.freshName("na"), ctx.freshName("nb"), ctx.freshName("xv"), ctx.freshName("yv"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val fnName = "cosine_sim"

  /** The one argument check, shared by [[of]] and the SQL name that
    * [[GraftExtensions]] binds.
    */
  private[plans] def build(children: Seq[Expression]): Expression = {
    require(children.length == 2, s"$fnName expects 2 arguments")
    CosineSimilarity(children.head, children(1))
  }

  /** Registry-free Column entry: plans on any session, clones and
    * streaming microbatch sessions included.
    */
  def of(a: Column, b: Column): Column =
    GraftSqlShim.column(build(Seq(GraftSqlShim.expression(a), GraftSqlShim.expression(b))))
}
