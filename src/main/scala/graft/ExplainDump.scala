package graft

/** Dev-only plan dumper: `runMain graft.ExplainDump <sfDir> <outDir> <prefix>[,<prefix>...] [suffix]`.
  *
  * Writes `<outDir>/<query>_<suffix>.txt` with the `.explain("formatted")`
  * output of each selected query, under the [[LocalSpark]] session.
  * Streaming gates are skipped unless explicitly prefixed —
  * their returned frame is the post-run sink table, so the interesting
  * plan (the micro-batch plan) is not what explain would show.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val prefixes = args(2).split(",").toSeq
    val suffix = if (args.length > 3) args(3) else "after"
    val spark = LocalSpark.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    sel.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"EXPLAINED $name -> $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
