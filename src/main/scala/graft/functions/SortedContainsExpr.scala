package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Native Catalyst expression: membership probe of a BIGINT value in a
  * SORTED-ascending distinct ARRAY<BIGINT> by binary search — the hot
  * loop of every broadcast-fingerprint-set scrub (boilerplate removal,
  * line dedup) where a per-document lambda probes a corpus-level set.
  *
  * Versus `array_contains(set, v)`: array_contains is a LINEAR scan, so
  * a scrub probing L lines per document against an S-entry boilerplate
  * set costs O(L×S) per document — measured 16× superlinear at the ×10
  * corpus cut where S grows with the (shifted) vocabulary. The binary
  * search is O(L log S) with the same broadcast 1-row-join shape: the
  * set is sorted ONCE at aggregate time (array_sort over the
  * collect_set), amortized over every document×line probe.
  *
  * CONTRACT: the array side sorted ascending with distinct, non-null
  * elements (what array_sort ∘ collect_set over non-null hashes emits).
  * Unsorted input silently mis-answers — a private engine primitive for
  * the scrub loops, not a general SQL surface. Null array or null probe
  * → null, mirroring array_contains.
  */
case class SortedContainsExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    // containsNull = false is REQUIRED, not just documented: both
    // producers emit array_sort ∘ collect_set over non-null hashes
    // (containsNull = false), and a null element would make the binary
    // search's getLong undefined. Rejecting nullable element types here
    // turns one whole misuse class into an analysis-time error.
    val okArr = left.dataType match {
      case ArrayType(LongType, false) => true
      case _ => false
    }
    if (okArr && right.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_contains requires (ARRAY<BIGINT> with non-null elements," +
        s" BIGINT), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "sorted_contains"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[Long]
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val m = arr.getLong(mid)
      if (m == v) return true
      else if (m < v) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val m = ctx.freshName("m")
      val found = ctx.freshName("found")
      s"""
         |int $lo = 0; int $hi = $a.numElements() - 1;
         |boolean $found = false;
         |while ($lo <= $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  long $m = $a.getLong($mid);
         |  if ($m == $b) { $found = true; break; }
         |  else if ($m < $b) { $lo = $mid + 1; } else { $hi = $mid - 1; }
         |}
         |${ev.value} = $found;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
