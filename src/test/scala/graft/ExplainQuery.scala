package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev scratch main (the DecontamTimer precedent): print a
  * registered query's formatted physical plan and its wall time on any
  * sf dir — the `.explain`-and-iterate loop the build brief prescribes.
  *
  * Usage: Test/runMain graft.ExplainQuery <query[,query...]> [sfDir] [outDir] [--no-run]
  *
  * With `outDir`, each row's formatted plan goes to `<outDir>/<row>.txt`
  * instead of stdout, expression ids (`#123`) rewritten to `#N`, so two
  * builds' plans compare with `diff -r`.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(2).filterNot(_ == "--no-run")
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val spark = GraftSession.build("explain-query")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
      outDir match {
        case Some(d) =>
          Files.write(Paths.get(d, s"$name.txt"),
            plan.replaceAll("#\\d+", "#N").getBytes(StandardCharsets.UTF_8))
        case None => println(plan)
      }
      if (!args.contains("--no-run")) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"WALL ${(System.nanoTime() - t0) / 1e9}%.2f s  ($name @ $sfDir)")
      }
    }
    spark.stop()
  }
}
