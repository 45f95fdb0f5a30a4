package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** THE materialization policy for every form that is more than a plain
  * eager checkpoint.
  *
  * A plain eager `df.localCheckpoint()` is the right form when a frame is
  * read by several later plans, or when its first read is not one action
  * that follows at once: it pays one job now, and every reader then scans
  * stored blocks. Operators call it directly. Everything else goes here:
  *
  *   - [[lazily]]: a LAZY checkpoint inside a [[loop]]. The loop's next
  *     action stores the blocks inside ITS job, so a loop round pays one
  *     driver roundtrip instead of two. That action's readers can be
  *     CONCURRENT jobs (the broadcast builds of the next plan); the first
  *     to finish truncates the lineage while the others' tasks still
  *     report the source plan's SQL metrics, so the loop holds each
  *     source until its checkpoint is stored (unheld, the metrics can be
  *     collected first: `Failed to update accumulator`, those tasks'
  *     metrics lost). The hold changes no plan, job or task. A lazy
  *     checkpoint that
  *     several consumers read before it is stored recomputes its
  *     lineage once per consumer.
  *   - [[freshStats]]: an eager checkpoint whose leaf carries the
  *     session-default size estimate. A checkpoint leaf carries the child
  *     plan's ESTIMATED sizeInBytes; a loop whose round joins the state
  *     frame k times compounds it to ~S^(k^round), and past ~15 rounds
  *     the optimizer's million-bit stats products dominate the wall
  *     (measured: SCC sweep-2 rounds 0.4 → 4 → 17 → 78 s on a 200-edge
  *     graph). Shallow loops (PageRank ≤ 10 rounds, label propagation 3)
  *     stay on plain checkpoints.
  *   - [[ifLarge]]: an eager checkpoint at or above [[LargeRows]], the
  *     live lineage below it.
  *
  * Losing an executor after a form has stored its blocks fails the query,
  * as with any local checkpoint; before that (a lazy checkpoint before
  * its first action, `ifLarge` below the gate) the lineage recomputes.
  * SCALING.md "Materialization & failure-recovery policy" has the table.
  */
private[graft] object Materialize {

  /** Row-count crossover of [[ifLarge]], for a multi-consumed intermediate
    * whose recompute is CHEAP per row (simhash's single fold, the
    * embedding-LSH fused dot products). Below it the checkpoint's own job,
    * block-store write and per-consumer read cost more than one extra
    * codegen'd pass; above it each consumer would re-run the pipeline
    * over the corpus (the round-3 bench showed 4× signature recompute). A
    * conservative local-mode crossover: at 100 TB every input is far above
    * it. Operators with EXPENSIVE per-row recompute (minhash) skip the
    * gate and always materialize.
    */
  val LargeRows = 200000L

  /** Eager localCheckpoint when `rows` is at or above [[LargeRows]]; the
    * live lineage otherwise.
    */
  def ifLarge(df: DataFrame, rows: Long): DataFrame =
    if (rows >= LargeRows) df.localCheckpoint() else df

  /** Eager localCheckpoint rebuilt as a fresh-stats leaf over the
    * checkpointed InternalRows (no Row round-trip).
    */
  def freshStats(df: DataFrame): DataFrame =
    GraftSqlBridge.freshStatsFrame(df.localCheckpoint())

  /** A lazy checkpoint's source and the RDD whose storing releases it. */
  private final case class Hold(source: DataFrame, checkpoint: RDD[_])

  /** The holds of each open loop on this thread, innermost first. */
  private val open = ThreadLocal.withInitial[List[ArrayBuffer[Hold]]](() => Nil)

  /** Run `body` as one loop scope: each [[lazily]] source it takes is
    * held (strongly, by this thread's open-loop stack) until the
    * checkpoint is stored, or at the latest until `body` returns. A
    * nested loop releases only its own holds.
    */
  def loop[A](body: => A): A = {
    val outer = open.get
    open.set(ArrayBuffer.empty[Hold] :: outer)
    try body
    finally open.set(outer)
  }

  /** `df.localCheckpoint(eager = false)` with `df` held by the innermost
    * open [[loop]]; with `freshStats`, rebuilt as a fresh-stats leaf.
    */
  def lazily(df: DataFrame, freshStats: Boolean): DataFrame = {
    val holds = open.get
    require(holds.nonEmpty,
      "Materialize.lazily outside Materialize.loop: a lazy checkpoint is safe " +
        "only where the loop's next action materializes it")
    val ck = df.localCheckpoint(eager = false)
    // a stored checkpoint's first action has returned on this thread, and
    // with it every job that read the source: its hold can go
    holds.head.filterInPlace(!_.checkpoint.isCheckpointed)
    holds.head += Hold(df, ck.queryExecution.logical match { case r: LogicalRDD => r.rdd })
    if (freshStats) GraftSqlBridge.freshStatsFrame(ck) else ck
  }

  /** Test seam: each open loop's hold count, innermost first. */
  private[graft] def held: List[Int] = open.get.map(_.size)
}
