package graft.tools

/** Dev utility: write `.explain("formatted")` of declared queries to files —
  * the before/after plan evidence committed under plans/r15/.
  *
  *   runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> <name> [name...]
  *
  * Each query's plan lands at `<outDir>/<name>_<suffix>.txt`. Runs on the
  * same session as Bench (`SparkEntry.localSession`), so the dumped plans
  * match what the bench executes.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ExplainDump <sfDir> <outDir> <suffix> <name> [name...]")
    val dir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = graft.SparkEntry.localSession("graft-explaindump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => System.err.println(s"unknown query: $n")
        case Some(fn) =>
          val df = fn(spark, dir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
      }
    }
    spark.stop()
  }
}
