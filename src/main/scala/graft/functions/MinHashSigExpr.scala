package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native minhash signature over an ARRAY<BIGINT> of feature hashes: one
  * pass over the array computing, for each of `numPerms` affine
  * permutations (odd multiplier + offset, wrapping 64-bit — a universal
  * hash family), the minimum permuted value.
  *
  * This replaces the explode → groupBy(doc) → numPerms-min-aggregates
  * pipeline: that shape shuffles a row per (doc, shingle) to re-assemble
  * per-doc minima, while this expression keeps the whole signature stage
  * per-row and shuffle-free — only the (doc_id, band-key) rows ever cross
  * the wire. The permutation constants derive deterministically from
  * [[MinHashSigExpr.mixers]] (fixed LCG, no RNG at plan time), so
  * signatures are stable across runs and executors.
  *
  * Semantics: null if the array is null or any element is null; an empty
  * array yields an all-Long.MaxValue signature (min over nothing —
  * upstream shingling guarantees at least one shingle, so this is a
  * defensive identity, not a reachable corpus case).
  */
case class MinHashSigExpr(child: Expression, numPerms: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires ARRAY<BIGINT>, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Unconditionally nullable: a null ELEMENT nulls the signature. */
  override def nullable: Boolean = true

  override def prettyName: String = "minhash_sig"

  private lazy val (mulArr, addArr) = {
    val m = MinHashSigExpr.mixers(numPerms)
    (m.map(_._1).toArray, m.map(_._2).toArray)
  }

  override protected def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val mins = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      val h = xs.getLong(i)
      var j = 0
      while (j < numPerms) {
        val v = h * mulArr(j) + addArr(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mulRef = ctx.addReferenceObj("mhMul", mulArr, "long[]")
      val addRef = ctx.addReferenceObj("mhAdd", addArr, "long[]")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[$numPerms];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |  } else {
         |    long $h = $a.getLong($i);
         |    for (int $j = 0; $j < $numPerms; $j++) {
         |      long $v = $h * $mulRef[$j] + $addRef[$j];
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigExpr {

  /** Deterministic (odd multiplier, offset) pairs for the affine
    * permutation family — fixed LCG, no RNG at plan time. Public so specs
    * can recompute expected signatures.
    */
  def mixers(n: Int): Seq[(Long, Long)] = {
    var state = 0x5DEECE66DL
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      state
    }
    Seq.fill(n)((next() | 1L, next()))
  }
}
