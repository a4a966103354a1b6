package graft

/** Dev tool (optimization rounds): dump `.explain("formatted")` for a
  * list of registered queries to files, under the SAME session config
  * as Bench/BenchOne so the captured plans are the benched plans.
  * Usage: runMain graft.PlanDump <outDir> <suffix> <key>[,<key>...] [sfDir]
  * Writes <outDir>/<key>_<suffix>.txt per key.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <keys> [sfDir]")
    val (outDir, suffix, keys) = (args(0), args(1), args(2).split(",").toSeq)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = BenchEnv.session()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    keys.foreach { k =>
      val plan = SparkEntry.queries(k)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${k}_$suffix.txt"), plan)
      println(s"[plan-dump] wrote $outDir/${k}_$suffix.txt")
    }
    spark.stop()
  }
}
