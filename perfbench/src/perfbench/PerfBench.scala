package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable

import graft.{BenchEnv, SparkEntry}
import graft.api.Graft
import graft.apps.RagPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set up several times, each on a fresh
  * session (session start and one warm-up pass), then drive the engine's
  * public entry points in a closed loop with one client (each call waits
  * for the previous one) for a fixed time, on `local[4]`.
  *
  * Workloads:
  *  - `rag_refresh`: one operation is a refresh cycle of `RagPipeline.run`
  *    over the generated corpus: a full build into an empty directory, then
  *    an incremental rerun whose ingest state already holds 90 % of the
  *    doc_ids.
  *  - `adhoc_queries`: one operation is one registry query from `--keys`:
  *    the `SparkEntry.queries` closure is called (build), then its
  *    DataFrame is counted (action).
  *
  * Writes a JSON result (per-operation records and, in a traced run, layer
  * metrics and spans) for `perfbench/run.py`, which checks correctness and
  * prints the metrics.
  *
  * Usage: PerfBench --workload W --data DIR --work DIR --seconds S --trace 0|1
  *        --out FILE [--keys K1,K2,..] [--state90 DIR]
  */
object PerfBench {
  val Cores = "4"
  /** Set-ups per run (session start and one warm-up pass); `setup_s` is
    * their median. */
  val Setups = 3

  /** Registry modules by name, from each module's public query map. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = {
    import graft.operators._
    Seq("CatalogOps" -> CatalogOps.queries, "EventOps" -> EventOps.queries,
      "TpchOps" -> TpchOps.queries, "TranscriptOps" -> TranscriptOps.queries,
      "PipelineOps" -> PipelineOps.queries, "DedupOps" -> DedupOps.queries,
      "RetrievalOps" -> RetrievalOps.queries, "LexicalOps" -> LexicalOps.queries,
      "TextAnalysisOps" -> TextAnalysisOps.queries, "CleanOps" -> CleanOps.queries,
      "CurationOps" -> CurationOps.queries, "PrepOps" -> PrepOps.queries,
      "MultimodalOps" -> MultimodalOps.queries, "GraphOps" -> GraphOps.queries,
      "LayoutOps" -> LayoutOps.queries, "RelationalExtOps" -> RelationalExtOps.queries,
      "StatSketchOps" -> StatSketchOps.queries, "TimeSeriesOps" -> TimeSeriesOps.queries,
      "QualityOps" -> QualityOps.queries, "GeoOps" -> GeoOps.queries,
      "LinkageOps" -> LinkageOps.queries, "StreamingOps" -> graft.streaming.StreamingOps.queries,
      "FileSources" -> graft.sources.FileSources.queries)
  }
  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  final case class Op(id: Int, key: String, module: String, startNs: Long, endNs: Long,
                      parts: Seq[(String, Double)], rows: Long, error: String,
                      traced: Boolean, pinsCreated: Int, pinsReleased: Int, gcMs: Long) {
    def wall: Double = (endNs - startNs) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    quietLogs()

    def session(): SparkSession = BenchEnv.benchSessionBuilder(Cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

    val isRag = workload == "rag_refresh"
    val data = Paths.get(opt("data")).toAbsolutePath.toString
    val keys: Seq[String] = if (isRag) Seq("rag_refresh") else opt("keys").split(",").toSeq

    /** A full refresh into an empty directory, then an incremental rerun
      * whose ingest state holds `--state90`; returns each phase's span. */
    def refreshCycle(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
      copyDir(Paths.get(opt("state90")), Paths.get(s"$dir/incr/state"))
      Seq("full", "incr").map { phase =>
        val s = System.nanoTime()
        spark.sparkContext.setLocalProperty("perfbench.phase", phase)
        RagPipeline.run(spark, data, s"$dir/$phase")
        (phase, s, System.nanoTime())
      }
    }

    // Set-up, done `Setups` times, each on a fresh session: session start,
    // then one warm-up pass over the keys (RAG: one full refresh into an
    // empty directory), which fills what later operations reuse (JIT,
    // whole-stage codegen, footer reads, session memos). The first set-up
    // also warms the JVM; the median is reported, and the timed operations
    // run in the last session.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (s <- 0 until Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      spark.sparkContext.setLogLevel("ERROR")
      if (isRag) RagPipeline.run(spark, data, s"$work/warm/s$s")
      else keys.foreach { k =>
        val before = Graft.pinSnapshot(spark)
        SparkEntry.queries(k)(spark, data).count()
        Graft.releaseQueryPins(spark, before)
      }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ops = mutable.ArrayBuffer.empty[Op]
    val cycles = mutable.ArrayBuffer.empty[(String, String)]
    var nextSpan = 0
    def span(op: Int, parent: Int, name: String, s: Long, e: Long): Int = {
      nextSpan += 1
      tracer.foreach(_.spans += Span(nextSpan, op, parent, name, s, e))
      nextSpan
    }

    // Host-speed probe before the first operation and after each one: the
    // timed numbers are also reported in units of its median.
    val probeS = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until 5) probeS += Probe()
    // Whole passes over the keys until the time is up, so every key has the
    // same weight in every run (one refresh cycle is a pass of its own). A
    // traced run traces every other pass, the tracer attached only during
    // its operations, and ends on an untraced pass, so that untraced passes
    // bracket the traced ones and traced minus untraced time is the tracing
    // overhead.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = if (trace) 3 else if (isRag) 2 else 1
    var i = 0
    def passes = i / keys.size
    while (i % keys.size != 0 || System.nanoTime() < deadline || passes < minPasses ||
           (trace && passes % 2 == 0)) {
      val key = keys(i % keys.size)
      val traced = trace && passes % 2 == 1
      if (traced) tracer.foreach(_.attach())
      sc.setLocalProperty("perfbench.op", if (traced) i.toString else null)
      val pinsBefore = Graft.pinSnapshot(spark)
      val gc0 = Gc.ms
      var rows = -1L; var err = ""
      val parts = mutable.ArrayBuffer.empty[(String, Double)]
      val spanIds = mutable.ArrayBuffer.empty[(String, Long, Long)]
      var t0 = 0L
      if (isRag) {
        val dir = s"$work/rag/c$i"
        t0 = System.nanoTime()
        try {
          val phases = refreshCycle(spark, dir)
          t0 = phases.head._2 // after the untimed copy of the prior state
          phases.foreach { case (phase, s, e) =>
            parts += phase -> (e - s) / 1e9
            spanIds += ((s"RagPipeline.run.$phase", s, e))
          }
          cycles += ((s"$dir/full", s"$dir/incr"))
        } catch { case scala.util.control.NonFatal(e) => err = String.valueOf(e.getMessage) }
      } else {
        val fn = SparkEntry.queries(key)
        t0 = System.nanoTime()
        try {
          sc.setLocalProperty("perfbench.phase", "build")
          val df = fn(spark, data)
          val t1 = System.nanoTime()
          sc.setLocalProperty("perfbench.phase", "action")
          rows = df.count()
          val t2 = System.nanoTime()
          parts += "build" -> (t1 - t0) / 1e9 += "action" -> (t2 - t1) / 1e9
          spanIds += ((s"SparkEntry.${moduleOf(key)}.build", t0, t1)) += (("action", t1, t2))
        } catch { case scala.util.control.NonFatal(e) => err = String.valueOf(e.getMessage) }
      }
      val t3 = System.nanoTime()
      sc.setLocalProperty("perfbench.phase", null)
      sc.setLocalProperty("perfbench.op", null)
      val gc = Gc.ms - gc0
      val created = (Graft.pinSnapshot(spark) -- pinsBefore).size
      val released = Graft.releaseQueryPins(spark, pinsBefore)
      if (traced) {
        tracer.foreach(_.detach())
        val root = span(i, 0, s"op.$key", t0, t3)
        spanIds.foreach { case (n, s, e) => span(i, root, n, s, e) }
      }
      ops += Op(i, key, if (isRag) "RagPipeline" else moduleOf(key), t0, t3, parts.toSeq,
        rows, err, traced, created, released, gc)
      i += 1
      probeS += Probe()
    }

    val oracle = if (isRag) Map.empty[String, String]
      else SparkEntry.oracleSql.filter(kv => keys.contains(kv._1))
    val layers = tracer.map(t => Layers(t, ops.toSeq, spark, isRag, cycles.toSeq, data, opt.get("state90")))
    val json = Json.obj(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "probe_s" -> Json.arr(probeS.map(Json.num)),
      "ops" -> Json.arr(ops.map(o => Json.obj(
        "id" -> Json.num(o.id), "key" -> Json.str(o.key), "module" -> Json.str(o.module),
        "wall_s" -> Json.num(o.wall), "rows" -> Json.num(o.rows.toDouble),
        "error" -> Json.str(o.error), "traced" -> Json.bool(o.traced),
        "parts" -> Json.obj(o.parts.map { case (k, v) => k -> Json.num(v) }: _*)))),
      "cycles" -> Json.arr(cycles.map { case (f, n) => Json.obj("full" -> Json.str(f), "incr" -> Json.str(n)) }),
      "oracle" -> Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*),
      "layers" -> layers.map(_._1).getOrElse(Json.obj()),
      "detail" -> layers.map(_._2).getOrElse(Json.obj()))
    Files.writeString(Paths.get(opt("out")), json)
    spark.stop()
  }

  private def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    Files.createDirectories(dst)
    Files.list(src).forEach(f => Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  /** The registry's streaming drains and the RAG writes log expected
    * warnings; the result goes to a file, so only errors reach stderr. */
  private def quietLogs(): Unit = {
    import org.apache.logging.log4j.core.config.Configurator
    import org.apache.logging.log4j.Level
    Configurator.setRootLevel(Level.ERROR)
    Seq("org.apache.spark.sql.execution.streaming", "org.apache.spark.sql.streaming",
        "org.apache.spark.executor.Executor", "org.apache.spark.scheduler.TaskSetManager",
        "org.apache.spark.util.Utils",
        "org.apache.spark.sql.execution.datasources.FileFormatWriter")
      .foreach(Configurator.setLevel(_, Level.OFF))
  }
}

/** Host-speed probe: SHA-256 over 64 MB on one thread, about 50 ms. It
  * runs none of the engine's code and none of Spark's, so it moves with the
  * host (CPU frequency, steal) and not with changes to the program or with
  * JIT warm-up of Spark's paths; dividing a run's times by it takes out
  * the host's drift between runs. */
object Probe {
  private val block = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)

  def apply(): Double = {
    val t0 = System.nanoTime()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (_ <- 0 until 64) md.update(block)
    require(md.digest().length == 32)
    (System.nanoTime() - t0) / 1e9
  }
}
