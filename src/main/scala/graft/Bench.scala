package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchEnv.session()
    spark.sparkContext.setLogLevel("WARN")
    // t4's INTENTIONALLY poisoned micro-batch logs a full stack trace
    // through the (async) streaming thread — at ERROR level, so ERROR
    // silencing still let it through in r4 (it landed before the JSON
    // line only because println follows spark.stop()). Streaming
    // progress/termination is not bench output — drop both subtrees to
    // OFF so the ~2.9 KB capture window stays deterministic.
    // The poison surfaces through TASK-side loggers too (Executor,
    // TaskSetManager, Utils "Aborting task", FileFormatWriter "Aborting
    // job"), each with a full stack trace — r5 measured those four, not
    // the streaming subtree, as the remaining tail noise. A real query
    // failure still reaches the artifact as its -1 entry plus the
    // "[bench] query failed" stderr line from `once`, so benching loses
    // no signal by silencing them here.
    Seq("org.apache.spark.sql.execution.streaming",
        "org.apache.spark.sql.streaming",
        "org.apache.spark.executor.Executor",
        "org.apache.spark.scheduler.TaskSetManager",
        "org.apache.spark.util.Utils",
        "org.apache.spark.sql.execution.datasources.FileFormatWriter",
        "org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.OFF))
    // graph_connected_components_loop unpersists each round's
    // localCheckpointed labels RDD once the next round is pinned —
    // benign by construction (nothing re-reads it), but the RDD
    // logger WARNs per round. ERROR (not OFF) so a genuine
    // ShuffledRDD error in any other query still surfaces.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.ShuffledRDD", org.apache.logging.log4j.Level.ERROR)
    // Untimed warmup: JIT + whole-stage-codegen compilation and parquet
    // footer reads otherwise land entirely on the first measured query.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Streaming-machinery warmup (r8 verdict #7): the first streaming
    // query in a fresh JVM pays 4-10× steady state (state-store
    // provider init, microbatch thread pools, streaming-specific
    // codegen — BENCH_NOTES §r8). One untimed run retires that cost so
    // the streaming trio's timed passes measure the PLAN, not JVM
    // boot. Swallow failures: warmup must never fail the bench.
    try SparkEntry.queries.get("streaming_event_counts")
      .foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }
    // Two passes, min per query: reports steady-state latency (first
    // pass pays per-query codegen compilation + JIT, which is noise at
    // this scale and absent in any long-running deployment).
    // a failed query reports -1, never a bogus fast timing
    // NonFatal only (r11 advice): an OutOfMemoryError/LinkageError means
    // the JVM may be corrupted — every timing after it is suspect, so
    // fatal errors abort the run instead of degrading to a -1 sentinel.
    // Per-query pin hygiene (r16, VERDICT r15 #3): each query closure
    // lazily checkpoints its multi-consumer frames; those blocks are
    // dead the moment the action returns (every pass rebuilds its
    // own), but un-freed they accumulate — ~40 orphaned checkpoint
    // RDDs per pass across a 401-query session. releaseQueryPins
    // frees exactly the non-memo pins a query created, AFTER the
    // timing is captured — the timed region is unchanged.
    var freedPins = 0L
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val pinsBefore = graft.api.Graft.pinSnapshot(spark)
      val t0 = System.nanoTime()
      val dt =
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] query failed: ${e.getMessage}"); -1.0 }
      freedPins += graft.api.Graft.releaseQueryPins(spark, pinsBefore)
      dt
    }
    // Noop-sink mode (r16, VERDICT r15 #1; guide §1.4): count() lets
    // Catalyst prune computed columns (the ts_gap_fill_interpolate
    // blind spot — its 0.5 s count() number timed the spine join while
    // the full-column cost was O(n²)); the noop sink computes EVERY
    // column of every row. ADDITIVE and flag-gated: the driver's
    // bench contract (same queries, same count() action, same JSON
    // line) is untouched unless SPARK_GRAFT_NOOP=1, which appends
    // "<name>@noop" keys timed with df.write.format("noop") next to
    // the unchanged count() keys; the headline total stays the
    // count()-keys sum so even a local noop run's `value` is
    // comparable round-over-round.
    val noopMode = sys.env.get("SPARK_GRAFT_NOOP").exists(v => v == "1" || v == "true")
    def onceNoop(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val pinsBefore = graft.api.Graft.pinSnapshot(spark)
      val t0 = System.nanoTime()
      val dt =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] noop pass failed: ${e.getMessage}"); -1.0 }
      freedPins += graft.api.Graft.releaseQueryPins(spark, pinsBefore)
      dt
    }
    // Host-drift probe (r9 seed #3): this host degrades late-session
    // (identical code measured 141.78 → 177.26 s twenty minutes apart,
    // BENCH_NOTES §r9), which poisons ROUND-over-round comparisons
    // because the two rounds' runs sit at different drift phases. A
    // fixed cheap query timed at the start, middle, and end of the run
    // calibrates the run's own drift; cross-round deltas divide it out
    // (paired-plans-in-one-JVM is impossible across code versions, so
    // the probe is the practical instrument). min-of-3 so one GC pause
    // can't fake a drift reading.
    // Guarded like once(): a probe failure (or a renamed probe key)
    // must degrade to a -1 sentinel, never abort the whole bench run.
    def probeMin(): Double = SparkEntry.queries.get("a1_count_by_year") match {
      case None =>
        System.err.println("[bench] probe query missing: a1_count_by_year")
        -1.0
      case Some(fn) =>
        def p(): Double =
          try {
            val t0 = System.nanoTime(); fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] probe failed: ${e.getMessage}"); -1.0
          }
        val runs = Seq(p(), p(), p())
        if (runs.exists(_ < 0)) -1.0 else runs.min
    }
    val sortedQ = SparkEntry.queries.toSeq.sortBy(_._1)
    val probePre = probeMin()
    val passes = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    var probeMid = -1.0
    sortedQ.zipWithIndex.foreach { case ((name, fn), i) =>
      if (i == sortedQ.size / 2) probeMid = probeMin()
      passes(name) = (once(fn), once(fn))
      if (noopMode) passes(name + "@noop") = (onceNoop(fn), onceNoop(fn))
    }
    val probePost = probeMin()
    val results = passes.toSeq.map { case (name, (a, b)) =>
      name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    // The driver keeps only the LAST ~2.9 KB of output, so the ENTIRE
    // line plus sbt's trailing "[success] Total time: ..." suffix must
    // fit inside that window or the line's HEAD (metric/value/slowest
    // keys) is cut and parsing fails (the r01/r02 failure: a 2.6 KB
    // entry budget + ~160 B of metadata + the sbt suffix overflowed).
    // Budget is now 1700 B of entries → line ≈1.9 KB, leaving ≈1 KB of
    // slack for sbt/log suffix lines. Entries stay slowest-first so the
    // perf-graded (slow) keys are always the ones that survive the
    // budget; `omitted` counts the fast tail. The COMPLETE
    // full-precision map goes to target/bench_full.json, a snapshot of
    // which is committed per round (BENCH_LOCAL_r{N}.json) so every key
    // stays diffable round-over-round regardless of capture size.
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    // failures (-1) sort FIRST so a regression marker can never fall
    // into the omitted tail of the capture window
    val bySlow = results.sortBy { case (_, v) =>
      if (v < 0) Double.NegativeInfinity else -v
    }
    val budget = 1700
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    bySlow.foreach { case (k, v) =>
      val e = "\"" + k + "\":" + (if (v < 0) "-1" else math.round(v * 1000).toString)
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
    }
    val qs = entries.mkString("{", ",", "}")
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val passesFull = passes.map { case (k, (a, b)) => s""""$k":[$a,$b]""" }
      .mkString("{", ",", "}")
    val probeJson =
      s"""{"pre":$probePre,"mid":$probeMid,"post":$probePost}"""
    // failures are flagged as -1 entries; they must not SUBTRACT from
    // the headline total. @noop keys (flag-gated diagnostics) are
    // excluded so `value` stays the count()-action sum in every mode.
    val total = results.collect {
      case (k, v) if v >= 0 && !k.endsWith("@noop") => v }.sum
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    val omitted = results.size - entries.size
    val probeMs = Seq(probePre, probeMid, probePost)
      .map(v => math.round(v * 1000)).mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","q_unit":"ms","n_queries":${results.size},"omitted":$omitted,"probe_ms":$probeMs,"full":"target/bench_full.json","queries":$qs,"sf":"$sfName"}"""
    // Full-precision artifact FIRST: even if the capture-budget guard
    // below trips, the complete results survive on disk.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_full.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,""" +
      s""""passes":$passesFull,"probe":$probeJson,"sf":"$sfDir"}""")
    // Hard guard: if the line ever outgrows the capture window again,
    // fail loudly at bench time instead of silently shipping a
    // head-decapitated artifact to the driver.
    require(line.length <= 2200,
      s"bench line ${line.length}B exceeds driver capture budget")
    // Pin-lifecycle accounting (r16, VERDICT r15 #3 "log it once at
    // the end"): what survives a full run should be session memos +
    // in-flight generational frames only, bounded — not O(queries).
    System.err.println(s"[pins] persistent RDDs at end of run: " +
      s"${spark.sparkContext.getPersistentRDDs.size} (freed $freedPins per-query pins)")
    // Stop Spark BEFORE printing: nothing (executor shutdown chatter,
    // lingering streaming threads) can print after the JSON line, so it
    // is the final stdout line the driver sees.
    try spark.stop() catch { case _: Throwable => () }
    println(line)
  }
}
