package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query, declared once: its name, the builder the driver
  * runs over an sf directory, its DuckDB oracle, and what `graft.Bench`
  * does with it. `SparkEntry.queries` and `SparkEntry.oracleSql` are
  * derived from these (see [[QuerySpec.builders]], [[QuerySpec.oracles]]).
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    bench: BenchRole = BenchRole.Untimed)

/** How the driver checks a row's output. */
sealed trait Oracle

object Oracle {

  /** DuckDB SQL over the same parquet tables: same column names, same
    * deterministic ORDER BY, compared by value hash.
    */
  final case class Sql(text: String) extends Oracle

  /** Row-identical by construction to the named row, whose `Sql` it reuses:
    * a stored, rebuild, join-loop, incremental or native twin.
    */
  final case class SameAs(name: String) extends Oracle

  /** Rows-only check; the reason says what covers the row instead. */
  final case class NoOracle(reason: String) extends Oracle
}

/** What `graft.Bench` does with a row: time it on the board, run it once
  * untimed in set-up to prime the artifacts its serve path reads, and show
  * it in the printed digest.
  */
sealed abstract class BenchRole(val timed: Boolean, val primed: Boolean, val headline: Boolean)

object BenchRole {
  case object Untimed extends BenchRole(false, false, false)
  case object Timed extends BenchRole(true, false, false)
  case object Headline extends BenchRole(true, false, true)
  case object Primed extends BenchRole(true, true, false)
  case object PrimedHeadline extends BenchRole(true, true, true)

  /** In the digest, but timed by Bench's own case rather than the
    * registered builder (Part 5 reads the warm-up's materialized df_4).
    */
  case object HeadlineOwnTiming extends BenchRole(false, false, true)
}

object QuerySpec {

  private def byName(specs: Seq[QuerySpec]): Map[String, QuerySpec] =
    specs.groupBy(_.name).map {
      case (name, Seq(spec)) => name -> spec
      case (name, _) => throw new IllegalArgumentException(s"query '$name' is declared twice")
    }

  /** Every spec's builder by name; throws on a name declared twice. */
  def builders(specs: Seq[QuerySpec]): Map[String, (SparkSession, String) => DataFrame] =
    byName(specs).map { case (name, spec) => name -> spec.build }

  /** Every oracled spec's SQL by name, a `SameAs` resolved to its row's
    * text; throws on a name declared twice or a `SameAs` that does not
    * name a `Sql` spec.
    */
  def oracles(specs: Seq[QuerySpec]): Map[String, String] = {
    val all = byName(specs)
    all.collect {
      case (name, QuerySpec(_, _, Oracle.Sql(text), _)) => name -> text
      case (name, QuerySpec(_, _, Oracle.SameAs(twin), _)) =>
        all.get(twin).map(_.oracle) match {
          case Some(Oracle.Sql(text)) => name -> text
          case _ => throw new IllegalArgumentException(
            s"query '$name': SameAs('$twin') does not name a Sql-oracled query")
        }
    }
  }
}
