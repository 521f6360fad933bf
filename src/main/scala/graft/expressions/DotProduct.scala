package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * Why a custom Expression (SURVEY preference order (b)): the
  * composable formulation `aggregate(zip_with(a, b, _*_), 0d, _+_)`
  * allocates an intermediate array and evaluates two lambda closures
  * per row — at 10⁷ candidate pairs × 64 dims that dominated the
  * benchmark. This expression is a single codegen'd primitive loop:
  * no allocation, stays inside whole-stage codegen.
  *
  * Summation is left-to-right, identical to the lambda formulation and
  * to DuckDB's `list_reduce` fold — results stay bit-identical to the
  * t2 oracle.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects (array<double>, array<double>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** The engine's session extensions: its native functions and the
  * [[SingleTaskPlan]] planner rule. Installed by `graft.Sessions.local`
  * and usable as the `spark.sql.extensions` class of a cluster
  * deployment, so both get the same planner; the functions also have an
  * idempotent runtime registration ([[GraftFunctions.ensureRegistered]]).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectPreCBORule(SingleTaskPlan(_))
  }
}

object GraftFunctions {
  private[graft] val descriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (FunctionIdentifier("z_value"),
      new ExpressionInfo(classOf[ZValue].getName, "z_value"),
      (children: Seq[Expression]) => ZValue(children)),
    (FunctionIdentifier("search_sorted"),
      new ExpressionInfo(classOf[SearchSorted].getName, "search_sorted"),
      (children: Seq[Expression]) => SearchSorted(children(0), children(1))),
    (FunctionIdentifier("quantize_i8"),
      new ExpressionInfo(classOf[QuantizeI8].getName, "quantize_i8"),
      (children: Seq[Expression]) => QuantizeI8(children(0), children(1))),
    (FunctionIdentifier("dot_product_i8"),
      new ExpressionInfo(classOf[DotProductI8].getName, "dot_product_i8"),
      (children: Seq[Expression]) => DotProductI8(children(0), children(1))),
    (FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (children: Seq[Expression]) => CmsEstimate(children(0), children(1))),
    (FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "shingles"),
      (children: Seq[Expression]) => Shingles(children(0), children(1))),
    (FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1))),
    (FunctionIdentifier("shingles_all"),
      new ExpressionInfo(classOf[ShinglesAll].getName, "shingles_all"),
      (children: Seq[Expression]) => ShinglesAll(children(0), children(1))),
    (FunctionIdentifier("min_shingle_md5"),
      new ExpressionInfo(classOf[MinShingleMd5].getName, "min_shingle_md5"),
      (children: Seq[Expression]) => MinShingleMd5(children(0), children(1))),
    // Spark ships these two for its runtime-bloom-filter rewrite but
    // keeps them off the public registry; surfacing them (unchanged)
    // gives user-level queries the same no-false-negative prefilter
    // primitive the optimizer uses internally (q105)
    (FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        // mirror Spark's own 1/2/3-arg forms (defaults from the
        // auxiliary constructors) instead of crashing on short calls
        children match {
          case Seq(c)       => new BloomFilterAggregate(c)
          case Seq(c, n)    => new BloomFilterAggregate(c, n)
          case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
          case _ => throw new IllegalArgumentException(
            s"bloom_filter_agg takes 1-3 arguments, got ${children.size}")
        }
      }),
    (FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))

  /** Idempotent per-session registration of the native functions. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident))
        registry.registerFunction(ident, info, builder)
    }
  }
}
