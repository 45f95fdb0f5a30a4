package graft

/** Dev scratch main (the DecontamTimer precedent): print a
  * registered query's formatted physical plan and its wall time on any
  * sf dir — the `.explain`-and-iterate loop the build brief prescribes.
  *
  * Usage: Test/runMain graft.ExplainQuery <query> [sfDir] [--no-run]
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.build("explain-query")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (!args.contains("--no-run")) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"WALL ${(System.nanoTime() - t0) / 1e9}%.2f s  ($name @ $sfDir)")
    }
    spark.stop()
  }
}
