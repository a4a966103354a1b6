package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call the benchmark makes into a layer, or a stage derived
  * from listener events. `op` is the operation the span belongs to. */
final case class Span(id: Int, op: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def dur: Double = (endNs - startNs) / 1e9
}

/** Counts from a `SparkListener` and a `QueryExecutionListener`, keyed by
  * the operation that launched them. The benchmark tags each operation with
  * the local properties `perfbench.op` and `perfbench.phase`; Spark copies
  * local properties to every job the thread (or a thread it starts, such as
  * a micro-batch runner) submits. Attached only around traced operations. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, op: Int, phase: String, exec: Long, callSite: String,
                       startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Stage(var submitMs: Long = -1, var firstLaunchMs: Long = -1,
                         var tasks: Int = 0, var cpuNs: Long = 0, var shuffleW: Long = 0,
                         var shuffleR: Long = 0, var spill: Long = 0)
  final case class Exec(id: Long, output: String, startMs: Long, var endMs: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, Stage]
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val plans = mutable.ArrayBuffer.empty[(Long, Double)] // (start epoch ms, plan ms)
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var heapPeak = 0L
  @volatile var storagePeak = 0L
  @volatile private var sampling = false

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(q => Option(q.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = prop(e.properties, "perfbench.op").map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = Job(e.jobId, op, prop(e.properties, "perfbench.phase").getOrElse(""),
      prop(e.properties, "spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      // the job's call site is the name of its result stage, the last one created
      e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""), e.time, -1, e.stageIds)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, Stage()))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, Stage()).submitMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, Stage())
    if (s.firstLaunchMs < 0) s.firstLaunchMs = e.taskInfo.launchTime
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, Stage())
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.shuffleW += m.shuffleWriteMetrics.bytesWritten
      s.shuffleR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  // the write node's detail block: "(n) Execute InsertIntoHadoopFsRelationCommand
  // ... Arguments: file:/out/dir, ..."
  private val InsertPath =
    """\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: (?:file:)?([^,\s]+)""".r
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val out = InsertPath.findFirstMatchIn(s.physicalPlanDescription).map(_.group(1)).getOrElse("")
        execs(s.executionId) = Exec(s.executionId, out, s.time, -1)
      case s: SparkListenerSQLExecutionEnd => execs.get(s.executionId).foreach(_.endMs = s.time)
      case _ =>
    }
  }

  // QueryExecutionListener: analysis + optimization + planning time of each action
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  // Delivered on the listener bus thread, which has no local properties:
  // the operation is found later from the planning start time.
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      plans += ((ph.map(_.startTimeMs).min, ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
    }
  }
  def planMsIn(fromMs: Double, toMs: Double): Double =
    synchronized(plans.filter(p => p._1 >= fromMs && p._1 <= toMs).map(_._2).sum)

  private var sampler: Thread = null

  /** Starts tracing an operation: registers both listeners and starts the
    * memory sampler, so that untraced operations pay for none of them. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    sampling = true
    sampler = new Thread(() => {
      val mem = ManagementFactory.getMemoryMXBean
      while (sampling) {
        heapPeak = math.max(heapPeak, mem.getHeapMemoryUsage.getUsed)
        val used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (mx, free) => mx - free }.sum
        storagePeak = math.max(storagePeak, used)
        Thread.sleep(25)
      }
    }, "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Stops tracing after an operation, once every event it posted has been
    * delivered. */
  def detach(): Unit = {
    sampling = false
    sampler.join()
    org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def opJobs(op: Int): Seq[Job] = synchronized(jobs.values.filter(_.op == op).toSeq)
  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized(js.flatMap(_.stages).distinct.flatMap(stages.get))

  /** Seconds covered by at least one of the jobs. */
  def jobBusy(js: Seq[Job]): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e } else curE = math.max(curE, e)
    }
    (busy + curE - curS) / 1e3
  }
}

object Gc {
  def ms: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
