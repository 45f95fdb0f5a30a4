package graft.operators

import org.apache.spark.sql.SparkSession

/** The single point where an operator overrides session configuration:
  * no other code under `operators/` writes `spark.conf`. Every override
  * goes through [[scoped]], which saves the keys it touches, sets them
  * for the body, and restores them on exit — normal or exceptional —
  * unsetting any key that had no explicit value before.
  *
  * The overrides live on the SESSION, so a concurrent query on the same
  * session would see them for the body's duration: the engine assumes
  * one query at a time per session (every entry point — Bench, Verify,
  * the specs — runs queries sequentially).
  *
  * The width policy for ITERATIVE loops (the star-contraction lesson,
  * shared): the session's wide-start AQE posture (high
  * initialPartitionNum, coalesce by size) is right for one-shot
  * queries, but a loop that localCheckpoints per round materializes
  * through the RDD path, which AQE's coalescing does not re-plan — so
  * every round would launch wide-start-many tasks over a state frame
  * that is |nodes|/|edges|-bounded. [[pinned]] pins BOTH width confs
  * (AQE reads initialPartitionNum as the pre-coalesce width when set)
  * to ~1M rows per task for the loop body. Lazy frames returned from
  * `body` plan any post-loop presentation sort after the restore, at
  * session width.
  */
private[graft] object LoopWidth {
  private val PartsKey = "spark.sql.shuffle.partitions"
  private val InitialKey =
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** Run `body` with `overrides` set on the session conf; on exit each
    * key gets back its explicit prior value, or is unset if it had none.
    */
  def scoped[T](spark: SparkSession, overrides: (String, String)*)(body: => T): T = {
    val explicit = spark.conf.getAll
    val saved = overrides.map { case (k, _) => k -> explicit.get(k) }
    try {
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The session's shuffle width (≈ core count). */
  def sessionWidth(spark: SparkSession): Long = spark.conf.get(PartsKey).toLong

  /** Both exchange-width confs at `w` for the body. */
  def atWidth[T](spark: SparkSession, w: Long)(body: => T): T =
    scoped(spark, PartsKey -> w.toString, InitialKey -> w.toString)(body)

  /** Loop width for an estimated `estRows` shuffled rows, floored at the
    * session width: the loop's map-side compute — the per-round joins
    * over the checkpointed edge frame — still wants full parallelism
    * even when the shuffled STATE rows are few (the star-contraction
    * loop, whose rounds are pure shuffles of the contracted edges, keeps
    * its own tighter per-round sizing); scale past it only at ~1M rows
    * per task.
    */
  def pinned[T](spark: SparkSession, estRows: Long)(body: => T): T =
    atWidth(spark, math.max(estRows / 1000000L + 1L, sessionWidth(spark)))(body)
}
