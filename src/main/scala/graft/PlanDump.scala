package graft

/** Evidence tool: write `.explain("formatted")` for named registry
  * queries to `<outDir>/<name>_<suffix>.txt` (the optimization rounds'
  * before/after plan protocol). Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    for (name <- names.split(",")) {
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
            println(s"dumped $name")
          } catch { case e: Throwable =>
            System.err.println(s"$name failed: ${e.getMessage}")
          }
          Scratch.release()
        case None => System.err.println(s"unknown query $name")
      }
    }
    spark.stop()
  }
}
