package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity between two double arrays.
  *
  * Why a custom Expression instead of the higher-order-function composition
  * (`aggregate(zip_with(a, b, ...))`, see operators.SimilarityQueries):
  * the HOF path allocates an intermediate array of products per row and
  * walks three lambda closures; this expression emits a single fused
  * primitive loop in whole-stage codegen — no allocation, no boxing. Same
  * accumulation order (left-to-right with 0.0 seeds), so results are
  * bit-identical with the HOF path and the DuckDB oracle.
  *
  * This is tier (b) of the custom-operator preference order (compose
  * built-ins > custom Expression > custom LogicalPlan); nothing in the
  * engine needs tier (c).
  *
  * Null semantics: null if either array is null or lengths differ
  * (mirrors zip_with's conservative behavior for ragged input); returns
  * NaN for zero vectors (0/0), matching the HOF arithmetic.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {

  // AbstractDataType is private[sql]; the covariant Seq[ArrayType] override
  // satisfies ExpectsInputTypes without naming it.
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xi = $a.getDouble($i);
         |    final double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi;
         |    $nx += $xi * $xi;
         |    $ny += $yi * $yi;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val info = new ExpressionInfo(
    classOf[CosineSimilarity].getName, null, "graft_cosine",
    "graft_cosine(a, b) - cosine similarity between two numeric arrays.", "")
}

/** Session extension (spark.sql.extensions=graft.functions.GraftExtensions):
  * the one install path for the graft SQL functions, the as-of join
  * strategy and the edit-distance guard rule. [[graft.GraftSession]] sets
  * it; a cluster sets the same conf at submit time.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_cosine"),
      CosineSimilarity.info,
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_topk"),
      TopKAggregate.info,
      (exprs: Seq[Expression]) => GraftTopK(exprs(0), exprs(1), exprs(2))))
    e.injectFunction((
      FunctionIdentifier("graft_maxsim"),
      MaxSimScore.info,
      (exprs: Seq[Expression]) => MaxSimScore(exprs(0), exprs(1), exprs(2))))
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoin.Strategy)
    e.injectOptimizerRule(_ => graft.plans.LevenshteinGuard)
  }
}
