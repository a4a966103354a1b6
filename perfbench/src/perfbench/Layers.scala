package perfbench

import scala.collection.mutable

import graft.api.Graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Per-layer metrics of a traced run, from the traced operations only.
  * Returns the metrics printed by the benchmark (each one exists on every
  * workload) and the detail written to the trace file: spans with self
  * times, per-module and per-RAG-stage costs, and row counts. */
object Layers {
  private val Stage = Map("state_next" -> "ingest", "dialogues" -> "dialogues",
    "index" -> "index", "index_meta" -> "index_meta", "retrieval_demo" -> "retrieval")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def apply(t: Tracer, ops: Seq[PerfBench.Op], spark: SparkSession, isRag: Boolean,
            cycles: Seq[(String, String)], data: String, state90: Option[String]): (String, String) = {
    val sc = spark.sparkContext
    val traced = ops.filter(o => o.traced && o.error.isEmpty)
    val n = math.max(traced.size, 1).toDouble
    // epoch ms of a System.nanoTime() value
    val offMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def epochMs(ns: Long): Double = offMs + ns / 1e6

    val perOp = traced.map { o =>
      val js = t.opJobs(o.id)
      val st = t.stagesOf(js).filter(_.tasks > 0) // skipped stages launch no task
      val reads = js.filter(_.callSite.contains("Tables.scala"))
      val busy = t.jobBusy(js)
      Map(
        "op.driver_s" -> (o.wall - busy).max(0.0), "op.jobs_s" -> busy,
        "spark.jobs" -> js.size.toDouble, "spark.stages" -> st.size.toDouble,
        "tasks" -> st.map(_.tasks).sum.toDouble,
        "exec.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9, "exec.gc_s" -> o.gcMs / 1e3,
        "exec.sched_wait_s" -> st.filter(s => s.submitMs >= 0 && s.firstLaunchMs >= 0)
          .map(s => (s.firstLaunchMs - s.submitMs).max(0L)).sum / 1e3,
        "shuffle.write_bytes" -> st.map(_.shuffleW).sum.toDouble,
        "shuffle.read_bytes" -> st.map(_.shuffleR).sum.toDouble,
        "spill.bytes" -> st.map(_.spill).sum.toDouble,
        "catalyst.plan_s" -> t.planMsIn(epochMs(o.startNs), epochMs(o.endNs)) / 1e3,
        "Tables.read_jobs" -> reads.size.toDouble,
        "Tables.read_s" -> reads.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum / 1e3,
        "Graft.pins_created" -> o.pinsCreated.toDouble,
        "Graft.pins_released" -> o.pinsReleased.toDouble,
        "wall" -> o.wall)
    }
    def total(k: String): Double = perOp.map(_(k)).sum
    def mean(k: String): Double = total(k) / n

    // Tracing overhead: traced minus untraced wall time of the same key,
    // median over keys that ran both ways. The tracer is attached only
    // around traced operations, so untraced ones carry none of its cost.
    val ok = ops.filter(_.error.isEmpty)
    val pairs = ok.groupBy(_.key).values.flatMap { os =>
      val (a, b) = os.partition(_.traced)
      if (a.nonEmpty && b.nonEmpty) Some(median(a.map(_.wall)) - median(b.map(_.wall))) else None
    }.toSeq
    val overhead = if (pairs.nonEmpty) median(pairs)
      else median(ok.filter(_.traced).map(_.wall)) - median(ok.filterNot(_.traced).map(_.wall))

    val metrics = Seq(
      "op.driver_s" -> mean("op.driver_s"), "op.jobs_s" -> mean("op.jobs_s"),
      "spark.jobs" -> mean("spark.jobs"), "spark.stages" -> mean("spark.stages"),
      "spark.tasks_per_stage" -> total("tasks") / math.max(total("spark.stages"), 1.0),
      "exec.task_cpu_s" -> mean("exec.task_cpu_s"),
      "exec.cpu_util" -> total("exec.task_cpu_s") / math.max(total("wall") * PerfBench.Cores.toDouble, 1e-9),
      "exec.gc_s" -> mean("exec.gc_s"), "exec.sched_wait_s" -> mean("exec.sched_wait_s"),
      "shuffle.write_bytes" -> mean("shuffle.write_bytes"),
      "shuffle.read_bytes" -> mean("shuffle.read_bytes"), "spill.bytes" -> mean("spill.bytes"),
      "catalyst.plan_s" -> mean("catalyst.plan_s"),
      "Tables.read_jobs" -> mean("Tables.read_jobs"), "Tables.read_s" -> mean("Tables.read_s"),
      "Graft.pins_created" -> mean("Graft.pins_created"),
      "Graft.pins_released" -> mean("Graft.pins_released"),
      "Graft.persistent_rdds_end" -> sc.getPersistentRDDs.size.toDouble,
      "storage.mem_bytes_peak" -> t.storagePeak.toDouble,
      "jvm.heap_used_peak_mb" -> t.heapPeak / 1048576.0,
      "trace.overhead_s" -> overhead)

    // Detail: RAG stages derived from SQL executions, per-module costs,
    // spans with self times and their reconciliation with each op's wall.
    val detail = mutable.ArrayBuffer.empty[(String, String)]
    val spans = mutable.ArrayBuffer.from(t.spans)
    if (isRag) {
      val stageSum = mutable.LinkedHashMap.empty[String, Array[Double]] // wall, cpu, jobs
      for (o <- traced; runSpan <- t.spans.filter(s => s.op == o.id && s.name.startsWith("RagPipeline.run."))) {
        val phase = runSpan.name.stripPrefix("RagPipeline.run.")
        val (s0, s1) = (epochMs(runSpan.startNs), epochMs(runSpan.endNs))
        val writes = t.synchronized(t.execs.values.filter(e =>
          e.output.nonEmpty && e.startMs >= s0 - 1 && e.endMs >= 0 && e.endMs <= s1 + 1).toSeq)
          .flatMap(e => Stage.get(e.output.split('/').last).map(_ -> e)).sortBy(_._2.startMs)
        val js = t.opJobs(o.id).filter(_.phase == phase)
        var prevEnd = s0
        writes.foreach { case (stage, w) =>
          val mine = js.filter(j => j.exec == w.id ||
            (!writes.exists(_._2.id == j.exec) && j.startMs >= prevEnd && j.startMs <= w.endMs))
          val a = stageSum.getOrElseUpdate(s"$phase.$stage", Array(0.0, 0.0, 0.0))
          a(0) += (w.endMs - prevEnd) / 1e3
          a(1) += t.stagesOf(mine).map(_.cpuNs).sum / 1e9
          a(2) += mine.size
          val toNs = (ms: Double) => ((ms - offMs) * 1e6).toLong
          spans += Span(spans.map(_.id).max + 1, o.id, runSpan.id, s"RagPipeline.$stage",
            toNs(prevEnd), toNs(w.endMs.toDouble))
          prevEnd = w.endMs.toDouble
        }
      }
      val nt = math.max(traced.size, 1)
      stageSum.foreach { case (k, a) =>
        detail += s"RagPipeline.$k.wall_s" -> Json.num(a(0) / nt)
        detail += s"RagPipeline.$k.task_cpu_s" -> Json.num(a(1) / nt)
        detail += s"RagPipeline.$k.jobs" -> Json.num(a(2) / nt)
      }
      cycles.lastOption.foreach { case (full, incr) =>
        def cnt(p: String) = spark.read.parquet(p).count().toDouble
        val docs = spark.read.parquet(s"$data/documents.parquet")
        val dropped = Graft.clusterNearDups(Graft.minhashNearDups(docs, "doc_id", "text"), "a_id", "b_id")
          .filter(col("id") =!= col("cluster_id")).count()
        detail += "rows.corpus_docs" -> Json.num(docs.count().toDouble)
        detail += "rows.fresh_docs.full" -> Json.num(cnt(s"$full/state"))
        detail += "rows.fresh_docs.incr" -> Json.num(cnt(s"$incr/state") - state90.map(cnt).getOrElse(0.0))
        detail += "rows.dedup_dropped" -> Json.num(dropped.toDouble)
        detail += "rows.index_rows" -> Json.num(cnt(s"$incr/index"))
        detail += "rows.dialogue_rows.full" -> Json.num(cnt(s"$full/dialogues"))
        detail += "rows.dialogue_rows.incr" -> Json.num(cnt(s"$incr/dialogues"))
      }
    } else {
      traced.groupBy(_.module).toSeq.sortBy(_._1).foreach { case (m, os) =>
        val buildJobs = os.map(o => t.opJobs(o.id).count(_.phase == "build")).sum.toDouble
        detail += s"$m.ops" -> Json.num(os.size.toDouble)
        detail += s"$m.wall_s" -> Json.num(os.map(_.wall).sum / os.size)
        detail += s"$m.build_jobs" -> Json.num(buildJobs / os.size)
      }
      detail += "SparkEntry.build_s" -> Json.num(traced.map(_.parts.toMap.getOrElse("build", 0.0)).sum / n)
      detail += "SparkEntry.build_jobs" -> Json.num(traced.map(o => t.opJobs(o.id).count(_.phase == "build")).sum / n)
      detail += "action_s" -> Json.num(traced.map(_.parts.toMap.getOrElse("action", 0.0)).sum / n)
    }

    // Self time of a span: its duration minus the part its children cover.
    // Children are sequential calls, so the self times of an op's tree sum
    // to the op's wall time; the largest residual is reported.
    val byParent = spans.groupBy(_.parent)
    def self(s: Span): Double = s.dur - byParent.getOrElse(s.id, Nil).map(_.dur).sum
    val selfByName = spans.groupBy(_.name.replaceAll("^op\\..*", "op")).map { case (k, ss) => k -> ss.map(self).sum / n }
    val residual = spans.filter(_.parent == 0).map { root =>
      def tree(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).toSeq.flatMap(tree)
      math.abs(tree(root).map(self).sum - root.dur)
    }.foldLeft(0.0)((a, b) => math.max(a, b))
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    detail += "self_s" -> Json.obj(selfByName.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*)
    detail += "self_reconcile_max_residual_s" -> Json.num(residual)
    detail += "spans" -> Json.arr(spans.sortBy(_.startNs).map(s => Json.obj(
      "id" -> Json.num(s.id), "op" -> Json.num(s.op), "parent" -> Json.num(s.parent),
      "name" -> Json.str(s.name), "start_s" -> Json.num((s.startNs - t0) / 1e9),
      "end_s" -> Json.num((s.endNs - t0) / 1e9), "self_s" -> Json.num(self(s)))))
    (Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }: _*), Json.obj(detail.toSeq: _*))
  }
}

/** Enough JSON for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
