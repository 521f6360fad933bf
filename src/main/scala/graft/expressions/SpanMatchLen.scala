package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Kernel for [[SpanMatchLen]]: the extend-while-equal verifier of the
  * anchor-gram maximal-match dedup ([[graft.operators.Dedup
  * .maximalMatchPairs]]). Given two token arrays and 1-based anchor
  * positions where a `minLen`-token window is expected to agree,
  * returns
  *   - `-1` when the anchor is NOT the head of a maximal match — the
  *     windows disagree (anchor-hash collision; the kernel re-verifies
  *     so the operator is correct under any join key), or both anchors
  *     have a preceding token and those tokens agree (the match
  *     extends left, so a smaller-position anchor of the SAME match
  *     will report it — each maximal match is emitted exactly once);
  *   - otherwise the FULL match length: `minLen` plus the number of
  *     consecutive equal tokens after the window (extend right until
  *     first mismatch or either array ends).
  *
  * One O(match_len) pass per candidate — no intermediate
  * comparison-vector array, no per-token lambda dispatch: this is the
  * codegen replacement for the
  * `transform(sequence(...), j -> ...)` + `array_position` chain,
  * which (a) allocates the full extension vector per candidate and
  * (b) runs on Spark's interpreted higher-order-function path.
  */
object SpanMatchLenKernel {
  def compute(a: ArrayData, pa: Int, b: ArrayData, pb: Int,
              minLen: Int): Long = {
    val la = a.numElements()
    val lb = b.numElements()
    if (minLen < 1 || pa < 1 || pb < 1 ||
      pa - 1 + minLen > la || pb - 1 + minLen > lb) return -1L
    var j = 0
    while (j < minLen) {
      if (!a.getUTF8String(pa - 1 + j).equals(b.getUTF8String(pb - 1 + j)))
        return -1L
      j += 1
    }
    if (pa > 1 && pb > 1 &&
      a.getUTF8String(pa - 2).equals(b.getUTF8String(pb - 2))) return -1L
    var e = 0
    while (pa - 1 + minLen + e < la && pb - 1 + minLen + e < lb &&
      a.getUTF8String(pa - 1 + minLen + e)
        .equals(b.getUTF8String(pb - 1 + minLen + e))) e += 1
    (minLen + e).toLong
  }
}

/** `span_match_len(toksA, posA, toksB, posB)` with the window length
  * carried as a construction parameter (the [[BlocklistHits]] idiom for
  * non-Expression state; built via GraftColumnBridge, not the string
  * registry). Returns -1 for non-head anchors, else the maximal match
  * length — see [[SpanMatchLenKernel]].
  */
case class SpanMatchLen(first: Expression, second: Expression,
                        third: Expression, fourth: Expression,
                        minLen: Int)
    extends QuaternaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "span_match_len"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(StringType, _), IntegerType,
            ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"span_match_len expects (array<string>, int, array<string>, " +
          s"int), got (${a.simpleString}, ${b.simpleString}, " +
          s"${c.simpleString}, ${d.simpleString})")
    }

  override def nullSafeEval(a: Any, pa: Any, b: Any, pb: Any): Any =
    SpanMatchLenKernel.compute(a.asInstanceOf[ArrayData],
      pa.asInstanceOf[Int], b.asInstanceOf[ArrayData],
      pb.asInstanceOf[Int], minLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, pa, b, pb) =>
      s"${ev.value} = graft.expressions.SpanMatchLenKernel.compute(" +
        s"$a, $pa, $b, $pb, $minLen);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): SpanMatchLen =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}
