package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's `private[sql]` Column ↔ Catalyst Expression
  * converters — the standard extension-library technique (public Spark
  * connectors and engines ship the same shim) for wrapping an internal
  * expression that has no public DSL constructor. Used for
  * `BloomFilterMightContain`, whose only public surface is the
  * optimizer's runtime-filter injection.
  */
object GraftSqlBridge {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Rebuild a frame as a fresh `LogicalRDD` leaf over its OWN
    * InternalRow RDD — no Row encode/decode pass (the public
    * `createDataFrame(df.rdd, schema)` idiom deserializes every row to
    * external format and back). Used by the iterative graph loops to
    * reset the leaf's statistics after a localCheckpoint: the
    * checkpoint leaf CARRIES the child plan's estimated sizeInBytes,
    * and a k-self-join loop compounds that estimate to ~S^(k^round),
    * after which the optimizer's million-bit BigInt stats products
    * dominate wall time. The caller must have checkpointed `df` first —
    * the InternalRows then come from storage (stable objects), not
    * from a reused codegen buffer.
    */
  def freshStatsFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
  }

  /** `DataType.sameType` (equality ignoring nullability at every level) is
    * `private[spark]`; the stored-artifact schema validation in
    * `graft.sources.IO` needs exactly that comparison.
    */
  def sameTypeIgnoreNullability(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)
}
