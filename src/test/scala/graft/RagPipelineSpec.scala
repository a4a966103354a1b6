package graft

import graft.apps.RagPipeline
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, count, hash, sum}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** End-to-end app run on sf0.001 + exactly-once rerun semantics, the
  * app's outputs under layouts that must not change them, and how its two
  * concurrent branches fail, join and inherit the caller's job settings. */
class RagPipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def wipe(out: String): Unit =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(out), true): Unit

  /** Runs the pipeline into an empty `out` under the given session confs
    * (restored afterwards) and returns the executed plan of its dialogue
    * write, taken from the listener once the write has finished. */
  private def runUnder(out: String, confs: (String, String)*)
      : org.apache.spark.sql.execution.SparkPlan = {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        writes.add(qe): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    wipe(out)
    spark.listenerManager.register(listener)
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      RagPipeline.run(spark, sf, out)
      def dialogueWrite = {
        import scala.jdk.CollectionConverters._
        writes.asScala.find(_.executedPlan.toString.contains(s"$out/dialogues"))
      }
      // the listener fires asynchronously; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (dialogueWrite.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(dialogueWrite.isDefined, "no dialogue write reported")
      dialogueWrite.get.executedPlan
    } finally {
      spark.listenerManager.unregister(listener)
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** (rows, sum of per-row hashes) of one output table: equal pairs mean
    * the same multiset of rows, whatever the files' order and split. */
  private def rowHash(path: String): (Long, Long) = {
    val df = spark.read.parquet(path)
    val r = df.agg(count("*"),
        sum(hash(df.columns.map(col).toSeq: _*).cast("long"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Every shuffle in the dialogue write is the one `doc_id` layout `run`
    * puts on the fresh docs, which both align inputs carry as `file_id`:
    * the joins, windows and the per-file aggregate above it add none. An
    * added shuffle would be coalesced by adaptive execution into the
    * single-task stage the layout exists to avoid. (With adaptive
    * execution off the planner may drop the layout as well, since it
    * then knows the ingested frame is already hashed by doc_id at that
    * width. The broadcasts it may pick for the small per-file sides do
    * not move the probe side.) */
  private def assertDialogueLayout(plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
    val width = Tables.spreadWidth(spark)
    collect(plan) { case e: ShuffleExchangeExec => e }.foreach { e =>
      val byDocId = e.outputPartitioning match {
        case HashPartitioning(Seq(a: AttributeReference), n) =>
          a.name == "doc_id" && n == width
        case _ => false
      }
      assert(e.shuffleOrigin == REPARTITION_BY_NUM && byDocId,
        s"unexpected exchange in the dialogue write:\n$e\n$plan")
    }
  }

  /** Whether a thread named `rag-index` (the index branch) is alive. */
  private def indexBranchAlive: Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.exists(t => t.getName == "rag-index" && t.isAlive)
  }

  /** `e` and its causes, outermost first. */
  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  /** The failures `run` reports: the one it throws, then the other
    * branch's, attached as suppressed. Spark attaches the caller's stack
    * trace to some of its exceptions as a suppressed entry too; that is
    * not a failure. */
  private def branchFailures(e: Throwable): Seq[Throwable] =
    e +: e.getSuppressed.toSeq.filterNot(
      _.getClass.getName.endsWith("OriginalTryStackTraceException"))

  /** Writes a garbage file into `out/state`: a state that is present but
    * cannot be read, which must fail the ingest. */
  private def corruptState(out: String): Unit = {
    val dir = java.nio.file.Paths.get(out, "state")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("part-00000.parquet"), "not parquet".getBytes): Unit
  }

  test("pipeline stages all artifacts; rerun ingests nothing new") {
    val out = "target/test_rag_pipeline"
    wipe(out)

    RagPipeline.run(spark, sf, out)
    val dialogues1 = spark.read.parquet(s"$out/dialogues").count()
    val index1 = spark.read.parquet(s"$out/index").count()
    val retr = spark.read.parquet(s"$out/retrieval_demo")
    assert(dialogues1 > 0 && index1 > 0)
    // every query returns ranks 1..3 (qid is the composite chunk key)
    val byQ = retr.collect().groupBy(_.getStruct(0))
    assert(byQ.nonEmpty)
    byQ.values.foreach(rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3)))
    // index and metadata agree key-for-key (the collision-free contract:
    // every vector joins exactly one chunk text)
    val meta = spark.read.parquet(s"$out/index_meta")
    assert(meta.count() == index1)
    assert(spark.read.parquet(s"$out/index")
      .join(meta, "chunk_key").count() == index1)
    // index rows carry unit vectors
    val norms = spark.read.parquet(s"$out/index")
      .select(graft.functions.VectorFns.l2Norm(
        org.apache.spark.sql.functions.col("vec")).as("n"))
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-9))

    // rerun: state gate admits nothing; dialogues unchanged (exactly-once
    // append), index rebuilt to the same size (idempotent overwrite)
    RagPipeline.run(spark, sf, out)
    assert(spark.read.parquet(s"$out/dialogues").count() == dialogues1)
    assert(spark.read.parquet(s"$out/index").count() == index1)
  }

  test("outputs are identical under shuffle widths 1 and 7 and with adaptive execution off") {
    val outputs = Seq("index", "index_meta", "dialogues", "retrieval_demo")
    val runs = Seq(
      "p1" -> Seq("spark.sql.shuffle.partitions" -> "1"),
      "p7" -> Seq("spark.sql.shuffle.partitions" -> "7"),
      "noaqe" -> Seq("spark.sql.adaptive.enabled" -> "false"))
    val hashes = runs.map { case (name, confs) =>
      val out = s"target/test_rag_layout_$name"
      assertDialogueLayout(runUnder(out, confs: _*))
      name -> outputs.map(t => t -> rowHash(s"$out/$t")).toMap
    }
    val (_, first) = hashes.head
    assert(first("index")._1 > 0 && first("retrieval_demo")._1 > 0)
    hashes.tail.foreach { case (name, h) =>
      outputs.foreach(t => assert(h(t) == first(t), s"$t differs under $name"))
    }
  }

  test("dialogue write: no exchange above the file layout; demo takes the smallest keys") {
    val out = "target/test_rag_plan"
    assertDialogueLayout(runUnder(out))
    // the demo's queries are the index's three smallest chunk keys, not
    // whichever rows its first file happens to hold
    val keys = spark.read.parquet(s"$out/index")
      .orderBy(col("chunk_key")).limit(3).collect().map(_.getStruct(0)).toSet
    val qids = spark.read.parquet(s"$out/retrieval_demo")
      .select(col("qid")).distinct().collect().map(_.getStruct(0)).toSet
    assert(qids == keys)
  }

  test("a corrupt ingest state fails the run with the ingest error; the index is still written") {
    val good = "target/test_rag_good"
    val out = "target/test_rag_corrupt_state"
    wipe(good)
    wipe(out)
    RagPipeline.run(spark, sf, good)
    corruptState(out)
    val e = intercept[Exception](RagPipeline.run(spark, sf, out))
    assert(!indexBranchAlive, "run returned while its index branch was running")
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("part-00000.parquet")), e)
    assert(branchFailures(e).size == 1, e)
    // the index branch does not read the state: it ran to the end and
    // wrote what a successful run writes
    Seq("index", "index_meta", "retrieval_demo").foreach(t =>
      assert(rowHash(s"$out/$t") == rowHash(s"$good/$t"), t))
  }

  test("an index-branch failure reaches the caller; with both failing, one is suppressed") {
    // a corpus without the `lang` column: ingest and the dialogues need
    // only doc_id and text, curation stratifies by lang
    val noLang = "target/test_rag_nolang_sf"
    wipe(noLang)
    Tables.documents(spark, sf).drop("lang").write.parquet(s"$noLang/documents.parquet")
    val out = "target/test_rag_nolang"
    wipe(out)
    val e = intercept[org.apache.spark.sql.AnalysisException](RagPipeline.run(spark, noLang, out))
    assert(!indexBranchAlive, "run returned while its index branch was running")
    assert(e.getMessage.contains("lang") && branchFailures(e).size == 1, e)
    // the caller's branch finished: its dialogues are written
    assert(spark.read.parquet(s"$out/dialogues").count() > 0)

    wipe(out)
    corruptState(out)
    val both = intercept[Exception](RagPipeline.run(spark, noLang, out))
    assert(!indexBranchAlive, "run returned while its index branch was running")
    val all = branchFailures(both)
    assert(all.size == 2, both)
    assert(all.exists(_.isInstanceOf[org.apache.spark.sql.AnalysisException]), both)
    assert(all.exists(f =>
      causes(f).exists(c => String.valueOf(c.getMessage).contains("part-00000.parquet"))), both)
  }

  test("the index branch carries the caller's job group, and cancelling the group reaches it") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id"))): Unit
    }
    val out = "target/test_rag_group"
    wipe(out)
    // Listener events arrive in job order: the jobs seen between a marker
    // job before the run and one after it are exactly the run's jobs.
    def marker(group: String): Unit = {
      sc.setJobGroup(group, "marker")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("rag-start")
      sc.setJobGroup("rag-caller", "caller of RagPipeline.run")
      try RagPipeline.run(spark, sf, out) finally sc.clearJobGroup()
      marker("rag-end")
      val deadline = System.currentTimeMillis() + 10000
      while (!groups.contains("rag-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.contains("rag-end"), seen)
    val during = seen.dropWhile(_ != "rag-start").drop(1).takeWhile(_ != "rag-end")
    assert(during.nonEmpty && during.forall(_ == "rag-caller"),
      s"jobs outside the caller's group: ${during.filter(_ != "rag-caller")}")

    // Cancel the caller's group while both branches wait for a core: once
    // the index branch has started, a job outside the group takes every
    // core, so each branch's next job stays pending until the group is
    // cancelled. Both fail: one failure is thrown, the other is attached
    // as suppressed. An index branch outside the group would wait for the
    // cores, then run to the end unharmed.
    wipe(out)
    val cores = sc.defaultParallelism
    val blocker = new Thread(() => {
      sc.setJobGroup("rag-blocker", "holds every core")
      sc.parallelize(1 to cores, cores).foreach(_ => CoreGate.await())
    })
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val canceller = new Thread(() => {
      while (!indexBranchAlive && !done.get) Thread.sleep(1)
      blocker.start()
      val deadline = System.currentTimeMillis() + 60000
      while (!done.get && System.currentTimeMillis() < deadline) {
        sc.cancelJobGroup("rag-cancel")
        Thread.sleep(20)
      }
      CoreGate.open()
    })
    canceller.start()
    sc.setJobGroup("rag-cancel", "cancelled caller of RagPipeline.run")
    val e = try intercept[Exception](RagPipeline.run(spark, sf, out))
      finally { done.set(true); canceller.join(); blocker.join(); sc.clearJobGroup() }
    assert(!indexBranchAlive, "run returned while its index branch was running")
    val all = branchFailures(e)
    assert(all.size == 2, e)
    all.foreach(f => assert(causes(f).exists(c =>
      String.valueOf(c.getMessage).toLowerCase.contains("cancel")), f))
  }
}

/** Holds the tasks of a core-blocking job until opened. An object, so
  * task closures reach it without serializing it. */
private object CoreGate {
  private val latch = new java.util.concurrent.CountDownLatch(1)
  def await(): Unit = latch.await(2, java.util.concurrent.TimeUnit.MINUTES): Unit
  def open(): Unit = latch.countDown()
}
