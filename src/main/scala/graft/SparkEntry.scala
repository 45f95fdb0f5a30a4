package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Relational
import graft.registry.{QuerySpec, Registry}

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 plus the LLM-pipeline extensions is
  * registered as a named query, declared once as a [[graft.registry.QuerySpec]]
  * in its family's file under `graft/registry/`. The two maps below are
  * derived from those declarations.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.qStarJoin(spark, "/root/testdata/sf0.001")

  /** Every registered query's builder by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySpec.builders(Registry.specs)

  /** DuckDB oracles (driver runs these on the same parquet tables), by
    * name. Queries whose semantics are not ANSI-SQL-expressible (xxhash64
    * fingerprints, approximate sketches, the PlayStore pipelines over the
    * reference CSV) declare a `NoOracle` reason instead → the driver
    * records a rows-only check; ScalaTest golden/unit specs cover them.
    */
  val oracleSql: Map[String, String] =
    QuerySpec.oracles(Registry.specs)
}
