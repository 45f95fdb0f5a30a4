package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: |a ∩ b| of two SORTED-ascending distinct
  * ARRAY<BIGINT> columns by two-pointer merge — the hot instruction
  * stream of every candidate-pair Jaccard verify (MinHash dedup,
  * incremental dedup, near-dup decontamination).
  *
  * Versus `size(array_intersect(a, b))`: array_intersect builds a hash
  * set over one side PER ROW PAIR and allocates the materialized
  * intersection array, only for `size` to throw it away. On a
  * duplicate-dense corpus the verify loop IS the operator's cost (the
  * candidate volume × avg token count inner loop), so replacing
  * build-hash-set-allocate-array with a fused allocation-free merge scan
  * is a direct multiplier on the whole near-dup family. The producer
  * sorts once per document ([[graft.operators.Dedup.hashedTokenSet]]),
  * amortized over every candidate pair the document appears in.
  *
  * CONTRACT: both inputs sorted ascending with distinct, non-null
  * elements (what array_sort ∘ array_distinct over non-null hashes
  * emits). Unsorted input silently undercounts — this is a private
  * engine primitive for the verify loops, not a general SQL surface.
  * Null array → null, mirroring the array_intersect form.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count requires two ARRAY<BIGINT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      val c = ctx.freshName("c")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $c++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
