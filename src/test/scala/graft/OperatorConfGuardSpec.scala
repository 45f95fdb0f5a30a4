package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the operators and functions packages: session-conf
  * overrides go through `LoopWidth` only, and no operator reads the
  * environment, so a query plans the same way whatever ran before it and
  * whatever the shell exports. Stored artifacts are reached only through
  * `IO.servedArtifact`, so every one is keyed, primed, checked and healed
  * the same way. The near-dup hash families are spelled in `HashFamily`
  * only, so an oracled row and its production twin cannot hash apart.
  * Driver-side memos go through `Memo` only, so every value derived from
  * a table is checked against the table's files before it is reused.
  * Registered queries are listed only by their specs under `registry/`,
  * so no hand-kept row list can drift from the registry. Loop telemetry
  * and degraded paths are notes in `obs.RunRecord`, never driver globals
  * or console lines, so every caller reads them per run. Lazy, fresh-stats
  * and size-gated checkpoints are spelled only in `Materialize`, so every
  * lazy checkpoint is held by its loop and the size gate has one threshold.
  */
class OperatorConfGuardSpec extends AnyFunSuite {

  private def sources(packages: Seq[String]): Seq[Path] = packages.flatMap { d =>
    val dir = Paths.get(s"src/main/scala/graft/$d")
    assert(Files.isDirectory(dir), s"sources not found at ${dir.toAbsolutePath}")
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally s.close()
  }

  private def offenders(
      pattern: String,
      allowed: Set[String],
      packages: Seq[String] = Seq("operators", "functions")): Seq[String] = {
    val re = pattern.r
    for {
      f <- sources(packages) if !allowed(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if re.findFirstIn(line).isDefined
    } yield s"${f.getFileName}:${i + 1}: ${line.trim}"
  }

  test("only LoopWidth writes the session conf") {
    val bad = offenders("""conf\.(set|unset)\b""", Set("LoopWidth.scala"))
    assert(bad.isEmpty, bad.mkString("conf writes outside LoopWidth:\n", "\n", ""))
  }

  test("no operator reads the environment") {
    val bad = offenders("""sys\.env|System\.getenv""", Set.empty)
    assert(bad.isEmpty, bad.mkString("environment reads in operators:\n", "\n", ""))
  }

  test("the 60-bit md5 prefix is spelled only in HashFamily") {
    val bad = offenders("""1,\s*15\),\s*16,\s*10""", Set("HashFamily.scala"))
    assert(bad.isEmpty, bad.mkString("md5-prefix hashes outside HashFamily:\n", "\n", ""))
  }

  test("stored artifacts are reached only through IO.servedArtifact") {
    val bad = offenders(
      """contentKeyedArtifactPath|artifactExists|readStamped|java\.nio\.file""", Set.empty)
    assert(bad.isEmpty, bad.mkString("artifact access outside IO.servedArtifact:\n", "\n", ""))
  }

  test("driver memos go through Memo") {
    // task-local java.util.HashMaps inside a partition are not memos and
    // stay allowed; a driver-lifetime concurrent map is one
    val bad = offenders("""ConcurrentHashMap|TrieMap""", Set("Memo.scala"),
      Seq("operators", "functions", "sources"))
    assert(bad.isEmpty, bad.mkString("driver memos outside Memo:\n", "\n", ""))
  }

  test("loop telemetry and degraded paths go to the run record") {
    // a driver global is last-writer-wins across queries, and a stderr
    // line reaches no payload; `pw.println` (a PrintWriter) is file output
    val bad = offenders("""@volatile|System\.(err|out)|(?<![.\w])println\(""", Set.empty,
      Seq("operators", "functions", "sources"))
    assert(bad.isEmpty, bad.mkString("globals or console output outside RunRecord:\n", "\n", ""))
  }

  test("non-plain checkpoint forms go through Materialize") {
    val bad = offenders("""eager\s*=\s*false|freshStatsFrame|reachabilityFence|200000L""",
      Set("Materialize.scala"), Seq("operators", "functions", "plans", "sources"))
    assert(bad.isEmpty, bad.mkString("checkpoint forms outside Materialize:\n", "\n", ""))
  }

  test("no hand-kept query-name lists in Bench or SparkEntry") {
    // the canary basket and Bench's own Part-5 row
    val allowed =
      Set("q1_pricing_summary", "q_join_agg", "w1_row_number_topk", "ps_part5_metrics")
    val literal = "\"([a-z0-9_]+)\"".r
    val bad = for {
      name <- Seq("Bench.scala", "SparkEntry.scala")
      (line, i) <- Files.readAllLines(Paths.get(s"src/main/scala/graft/$name")).asScala.zipWithIndex
      m <- literal.findAllMatchIn(line)
      if SparkEntry.queries.contains(m.group(1)) && !allowed(m.group(1))
    } yield s"$name:${i + 1}: ${line.trim}"
    assert(bad.isEmpty, bad.mkString("query names spelled outside their specs:\n", "\n", ""))
  }
}
