package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the operators package: session-conf overrides go
  * through `LoopWidth` only, and no operator reads the environment, so a
  * query plans the same way whatever ran before it and whatever the
  * shell exports.
  */
class OperatorConfGuardSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/operators")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(dir), s"operators sources not found at ${dir.toAbsolutePath}")
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally s.close()
  }

  private def offenders(pattern: String, allowed: Set[String]): Seq[String] = {
    val re = pattern.r
    for {
      f <- sources if !allowed(f.getFileName.toString)
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
}
