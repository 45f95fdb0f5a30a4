package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native 64-bit SimHash over an ARRAY<BIGINT> of feature hashes: bit b of
  * the result is set iff at least half of the input hashes have bit b set.
  *
  * This replaces the explode → groupBy(doc) → 64-conditional-sums pipeline:
  * that shape shuffles one row per (doc, token) to re-assemble per-doc
  * counts, while this expression folds the majority vote in a single
  * per-row loop — the signature stage becomes shuffle-free and scales with
  * input splits alone. Codegen'd, so it stays inside whole-stage codegen
  * with the surrounding tokenize/hash projections.
  *
  * Semantics: null if the array is null or any element is null; an empty
  * array yields 0L (no evidence → all-zero signature, special-cased: the
  * bare majority rule would set every bit at n=0, and the aggregation form
  * this replaces emitted no row at all for a token-less doc).
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires ARRAY<BIGINT>, got ${dt.simpleString}")
  }

  override def dataType: DataType = LongType

  /** Unconditionally nullable: a null ELEMENT nulls the signature. */
  override def nullable: Boolean = true

  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n == 0) return 0L
    val cnt = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      val h = xs.getLong(i)
      var b = 0
      while (b < 64) {
        cnt(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2 * cnt(b) >= n) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $a.numElements();
         |int[] $cnt = new int[64];
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |  } else {
         |    long $h = $a.getLong($i);
         |    for (int $b = 0; $b < 64; $b++) {
         |      $cnt[$b] += (int) (($h >>> $b) & 1L);
         |    }
         |  }
         |}
         |long $sig = 0L;
         |if ($n > 0) {
         |  for (int $b = 0; $b < 64; $b++) {
         |    if (2 * $cnt[$b] >= $n) $sig |= (1L << $b);
         |  }
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
