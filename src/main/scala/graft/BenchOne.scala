package graft

/** Single-query timing harness for plan iteration: runs one registered
  * query N times (default 3) on a fresh session and prints each pass —
  * isolates a query from the full Bench's shared-JVM codegen-cache
  * pressure so a plan change's effect is measurable on its own.
  * Usage: runMain graft.BenchOne <queryKey> [sfDir] [passes]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryKey> [sfDir] [passes]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = BenchEnv.session()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    (1 to passes).foreach { i =>
      val pinsBefore = graft.api.Graft.pinSnapshot(spark)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[bench-one] $name pass $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      // same per-query pin hygiene as Bench (r16): free this pass's
      // lazy checkpoints (memos exempt) outside the timed region
      graft.api.Graft.releaseQueryPins(spark, pinsBefore): Unit
    }
    spark.stop()
  }
}
