package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** The `k` smallest DISTINCT values of a BIGINT column per group, ascending
  * — what `slice(sort_array(collect_set(x)), 1, k)` keeps, as a typed
  * Aggregator (the [[VectorCentroidAggregator]] shape) whose buffer never
  * exceeds `k` values, where `collect_set` buffers a whole skewed group. A
  * merge keeps the `k` smallest of both: those of a union are among each
  * part's `k` smallest.
  */
final class SmallestDistinctAggregator(k: Int)
    extends Aggregator[Long, SmallestDistinctAggregator.Buf, Array[Long]] {
  import SmallestDistinctAggregator.Buf
  require(k > 0, s"k must be positive, got $k")

  override def zero: Buf = Buf(Array.emptyLongArray)

  override def reduce(b: Buf, x: Long): Buf = {
    val at = java.util.Arrays.binarySearch(b.items, x)
    val ins = -at - 1
    if (at >= 0 || ins >= k) b // already kept, or above a full buffer's max
    else {
      // not full: grow by one; full: x displaces the max, in place
      val out =
        if (b.items.length < k) java.util.Arrays.copyOf(b.items, b.items.length + 1)
        else b.items
      System.arraycopy(out, ins, out, ins + 1, out.length - 1 - ins)
      out(ins) = x
      Buf(out)
    }
  }

  override def merge(l: Buf, r: Buf): Buf = Buf((l.items ++ r.items).distinct.sorted.take(k))
  override def finish(b: Buf): Array[Long] = b.items
  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

object SmallestDistinctAggregator {

  /** Strictly ascending, at most `k` values. */
  case class Buf(items: Array[Long])
}
