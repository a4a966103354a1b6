package graft

/** Scaling-exponent harness: times registered queries across the three
  * test SFs (sf0.001 / sf0.01 / sf0.1, 100× input growth end to end)
  * in one JVM and prints per-query times plus the fitted exponent
  * log10(t_0.1 / t_0.01) — the empirical check behind SCALE.md's
  * plan-shape arguments. Exponent ≈ 0 means fixed-cost-floor-bound,
  * ≈ 1 linear, > 1.2 needs a plan explanation (results recorded in
  * BENCH_NOTES.md §scaling).
  * Usage: runMain graft.ScaleCurve [key ...] (default: the heavy
  * data-bound set). */
object ScaleCurve {
  private val defaultKeys = Seq(
    "dedup_cluster_star", "dedup_cluster_canonical", "bpe_encode",
    "bpe_train_merges", "retrieval_hybrid_rrf", "ta_langid",
    "graph_event_rank", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_exact_substring", "streaming_session_window",
    // round-4/5 additions (VERDICT r4 #7): the corpus-bound ones scale
    // with sfDir; t4_row_isolation reads a fixed fixture, so its
    // exponent ≈ 0 documents the micro-batch floor, not data scaling
    "dedup_keep_best", "curate_dsir_weights", "ta_lm_perplexity",
    "dedup_exact_substring_cut", "t4_row_isolation", "dedup_simhash64")

  def main(args: Array[String]): Unit = {
    val keys = if (args.nonEmpty) args.toSeq else defaultKeys
    val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
    val spark = BenchEnv.session()
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    def time(key: String, dir: String): Double = {
      val fn = SparkEntry.queries(key)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      once(); math.min(once(), once()) // warm codegen, then min of 2
    }
    val rows = keys.map { k =>
      val ts = sfs.map(sf => time(k, s"/root/testdata/$sf"))
      val expn = math.log10(ts(2) / ts(1)) // per 10× on the top decade
      println(f"[scale] $k%-28s ${ts(0)}%7.2f ${ts(1)}%7.2f ${ts(2)}%7.2f  exp=$expn%5.2f")
      (k, ts, expn)
    }
    println("key,sf0.001,sf0.01,sf0.1,exponent")
    rows.foreach { case (k, ts, e) =>
      println(f"$k,${ts(0)}%.3f,${ts(1)}%.3f,${ts(2)}%.3f,$e%.2f") }
    spark.stop()
  }
}
