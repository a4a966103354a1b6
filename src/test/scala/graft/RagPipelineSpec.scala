package graft

import graft.apps.RagPipeline
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, count, hash, sum}
import org.apache.spark.sql.util.QueryExecutionListener

/** End-to-end app run on sf0.001 + exactly-once rerun semantics, and the
  * app's outputs under layouts that must not change them. */
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
}
