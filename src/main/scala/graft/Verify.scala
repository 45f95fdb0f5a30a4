package graft

import java.nio.file.{Files, Paths}

import graft.obs.RunRecord
import graft.registry.Registry

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for fast local
    // iteration (the driver always runs the full registry); an unknown
    // name fails the run instead of dumping nothing
    val only: Option[Set[String]] =
      if (args.length > 2) Some(Registry.known(args(2).split(',').toSeq).toSet) else None
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A query that throws must stay VISIBLE on the scoreboard: write a
    // one-row parquet {err: "<class>: <message>"} in its slot (the driver's
    // DuckDB compare then reports an explicit schema/hash FAIL instead of
    // silently dropping the name — an analysis regression can never vanish
    // again) and collect every failure into errors.json.
    // Each row runs under its own run record; its notes (loop telemetry,
    // degraded paths) go to notes.json, keyed by row.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val notes = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Long]]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      notes(name) = RunRecord.capture {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
          System.err.println(s"[verify] $name failed: $msg")
          errors(name) = msg
          try {
            import spark.implicits._
            Seq(msg).toDF("err").coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          } catch { case e2: Throwable =>
            System.err.println(s"[verify] $name error-row write failed: ${e2.getMessage}")
          }
        }
      }._2
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    val notesJson = notes.map { case (k, n) =>
      s"${q(k)}: " + n.toSeq.sorted.map { case (nk, v) => s"${q(nk)}: $v" }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/notes.json"), notesJson)
    spark.stop()
  }
}
