package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming semantics (SURVEY.md §2.10): T2 exactly-once via
  * checkpoint restart, T5 progress metrics, and observe()-based
  * counters (the reference's stats.log, main.py:38-43). */
class StreamingOpsSpec extends SparkSpec {

  // footer-probed, never assumed: the lake's physical ts encoding has
  // changed under us before (r5: NANOS → MICROS/NTZ)
  private def schema = Tables.eventsRawSchema(spark, sf)

  test("streaming final state equals batch aggregate (T1/T2)") {
    val streamed = graft.streaming.StreamingOps
      .queries("streaming_event_counts")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = Tables.events(spark, sf).groupBy(col("event_type")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed == batch)
  }

  test("streaming_topk_per_window: ranks are a true top-2 of the batch windowed counts") {
    val got = graft.streaming.StreamingOps
      .queries("streaming_topk_per_window")(spark, sf).collect()
    assert(got.nonEmpty)
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("event_type"), col("n"))
      .collect()
      .groupBy(_.getTimestamp(0))
      .map { case (w, rs) =>
        w -> rs.map(r => (r.getLong(2), r.getString(1)))
          .sortBy { case (n, t) => (-n, t) }.take(2)
      }
    got.groupBy(_.getTimestamp(0)).foreach { case (w, rs) =>
      assert(rs.length <= 2)
      val ranked = rs.sortBy(_.getAs[Long]("rk"))
        .map(r => (r.getAs[Long]("n"), r.getString(1)))
      assert(ranked.toSeq == batch(w).toSeq,
        s"window $w: streamed top-2 $ranked != batch ${batch(w)}")
    }
    assert(got.groupBy(_.getTimestamp(0)).size == batch.size,
      "streamed windows diverge from batch windows")
  }

  test("streamed event-time range equals the batch table's (no silent unit mis-scale)") {
    // The r5 wrong-answer mode: streaming read divided micros by 1000 and
    // every timestamp collapsed ~1000× — watermark/window queries were
    // wrong while count-shaped ones stayed green. This pins stream and
    // batch to the SAME instants, so a mis-scaled read fails a test
    // instead of an oracle round.
    import org.apache.spark.sql.streaming.Trigger
    val agg = graft.streaming.StreamingOps.eventsStream(spark, sf, maxFiles = 1)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    val name = "range_sink_" + System.nanoTime()
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val s = spark.table(name).collect()(0)
    val b = Tables.events(spark, sf)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).collect()(0)
    assert(s.getTimestamp(0) == b.getTimestamp(0), "stream min(ts) != batch min(ts)")
    assert(s.getTimestamp(1) == b.getTimestamp(1), "stream max(ts) != batch max(ts)")
  }

  test("checkpointed restart does not reprocess files (T2 exactly-once)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ckpt = tempDir("graft_ckpt", parent = "target").toString
    val out = tempDir("graft_out", parent = "target").toString
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sf)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val n1 = spark.read.parquet(out).count()
    runOnce() // second start from same checkpoint: source already drained
    val n2 = spark.read.parquet(out).count()
    assert(n1 == Tables.events(spark, sf).count())
    assert(n2 == n1) // nothing reprocessed
  }

  test("streaming dropDuplicates holds exactly-once state across micro-batches (T2)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val name = "dedup_sink_" + System.nanoTime()
    val q = src.toDF().toDF("key", "v")
      .dropDuplicates("key")
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    src.addData((1L, "a"), (2L, "b"), (1L, "dup-in-batch"))
    q.processAllAvailable()
    src.addData((2L, "dup-across-batch"), (3L, "c"))
    q.processAllAvailable()
    q.stop()
    val keys = spark.table(name).collect().map(_.getLong(0)).sorted
    assert(keys.toSeq == Seq(1L, 2L, 3L)) // each key exactly once, ever
  }

  test("stream-stream join: clicks attach to purchases within the time bound") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val buys = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    // both sides watermarked; join condition bounds purchase time within
    // [click, click + 30 min] so state for either side is droppable —
    // the shape Spark REQUIRES for unbounded stream-stream inner joins
    val cd = clicks.toDF().toDF("user_id", "click_ts")
      .withWatermark("click_ts", "1 hour")
    val bd = buys.toDF().toDF("buyer_id", "buy_ts")
      .withWatermark("buy_ts", "1 hour")
    val joined = cd.join(bd,
      col("user_id") === col("buyer_id") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
    val name = "ss_join_" + System.nanoTime()
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    clicks.addData((1L, ts(0)), (2L, ts(0)), (3L, ts(0)))
    buys.addData((1L, ts(10)), (2L, ts(45)), (9L, ts(5)))
    q.processAllAvailable()
    // second micro-batch: a late-but-in-bound purchase still joins
    buys.addData((3L, ts(29)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getTimestamp(3).getTime / 60000 % 1440)).sorted
    // user 1 (10 min, in bound) and user 3 (29 min, across batches) join;
    // user 2's purchase at +45 min is out of bound; user 9 never clicked
    assert(got.map(_._1).toSeq == Seq(1L, 3L))
  }

  test("t5_observe_metrics query: observed counters equal direct aggregates") {
    val row = graft.streaming.StreamingOps
      .queries("t5_observe_metrics")(spark, sf).collect()(0)
    val docs = Tables.documents(spark, sf)
    assert(row.getLong(0) == docs.count())
    assert(row.getLong(1) + row.getLong(2) == row.getLong(0)) // failed + ok = all
    assert(row.getLong(3) == docs.agg(sum(col("n_chars"))).collect()(0).getLong(0))
  }

  test("streaming observedMetrics surface per micro-batch (T5 streaming twin)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val name = "obs_sink_" + System.nanoTime()
    val q = src.toDF().toDF("id", "kind")
      .observe("batch_stats", count(lit(1)).as("n"),
               count(when(col("kind") === "err", 1)).as("n_err"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    src.addData((1L, "ok"), (2L, "err"), (3L, "ok"))
    q.processAllAvailable()
    q.stop()
    // the data-carrying micro-batch reports the counters in its progress
    val stats = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("batch_stats")))
    assert(stats.exists(r => r.getLong(0) == 3L && r.getLong(1) == 1L), stats)
  }

  test("drains delete their graft_ckpt_<name> checkpoint directory") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import scala.jdk.CollectionConverters._
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // onQueryStarted runs before start() returns, so every drain's name
    // is recorded by the time its query closure does
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Option(e.name).foreach(started.add)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      // a memory-sink drain and the foreachBatch drain of the IVF ingest
      assert(graft.streaming.StreamingOps
        .queries("streaming_event_counts")(spark, sf).collect().nonEmpty)
      assert(graft.operators.RetrievalOps
        .queries("streaming_ivf_ingest")(spark, sf).collect().nonEmpty)
    } finally spark.streams.removeListener(listener)
    val names = started.asScala.toSeq
    assert(names.exists(_.startsWith("graft_sink_")) &&
      names.exists(_.startsWith("graft_ivf_ingest_")), names)
    names.foreach(n => assert(
      !new java.io.File(s"${BenchEnv.localDir}/graft_ckpt_$n").exists(),
      s"graft_ckpt_$n survived its drain"))
  }

  test("observe() exposes running counters on a batch pass (T5)") {
    val observed = Tables.events(spark, sf)
      .observe("stats", count(lit(1)).as("n"),
               count(when(col("event_type") === "error", 1)).as("n_error"))
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var metrics: Option[(Long, Long)] = None
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, duration: Long): Unit = {
        qe.observedMetrics.get("stats").foreach { row =>
          metrics = Some((row.getLong(0), row.getLong(1)))
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val total = observed.count()
      // listener fires asynchronously; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (listener.metrics.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(listener.metrics.exists(_._1 == total))
    } finally spark.listenerManager.unregister(listener)
  }

  test("t4 foreachBatch: poisoned batch quarantined as 'failed', stream drains, rest 'ok'") {
    val rows = graft.streaming.StreamingOps
      .queries("t4_foreachbatch_isolation")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // the stream completed despite the raise_error batch, and no row was
    // lost: the poisoned batch (b2, 3 rows incl. the negative amount) is
    // quarantined whole; clean batches land as ok
    assert(rows.toSet == Set(
      ("b1", "ok", 2L, 1450L),
      ("b2", "failed", 3L, 1550L),
      ("b3", "ok", 1L, 4000L)))
  }

  test("t4 row grain: healthy rows in a poisoned batch stay ok, only the bad row fails") {
    val rows = graft.streaming.StreamingOps
      .queries("t4_row_isolation")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // b2 carries the poisoned row: at row grain its two healthy rows
    // land 'ok' and ONLY event 4 is quarantined — nothing is lost and
    // nothing healthy is dragged down with the bad row
    assert(rows.toSet == Set(
      ("b1", "ok", 2L, 1450L),
      ("b2", "failed", 1L, -50L),
      ("b2", "ok", 2L, 1600L),
      ("b3", "ok", 1L, 4000L)))
  }

  test("streaming_ss_left_outer: matched half equals the inner join; unmatched are watermark-gated, none lost") {
    import org.apache.spark.sql.functions._
    val outer = graft.streaming.StreamingOps
      .queries("streaming_ss_left_outer")(spark, sf).collect()
    val inner = graft.streaming.StreamingOps
      .queries("streaming_stream_stream_join")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_pairs")).toMap
    assert(outer.nonEmpty)
    outer.foreach { r =>
      assert(r.getAs[Long]("n_rows") ==
        r.getAs[Long]("n_matched") + r.getAs[Long]("n_unconverted"))
      assert(r.getAs[Long]("n_matched") == inner.getOrElse(r.getLong(0), 0L),
        s"user ${r.getLong(0)}: outer join's matched rows diverge from inner join")
    }
    // conservation against batch truth: every click either matched,
    // emitted as provably-unconverted, or is HELD in state because its
    // match window still straddles the final watermark — never dropped
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"))
    val cond = col("user_id") === col("p_user_id") &&
      col("p_ts") >= col("ts") &&
      col("p_ts") <= col("ts") + expr("interval 1 hour")
    val unmatched = clicks.join(purchases, cond, "left_anti")
    // final global watermark, at full timestamp precision
    val wmDf = clicks.agg(max(col("ts")).as("mc"))
      .crossJoin(purchases.agg(max(col("p_ts")).as("mp")))
      .select((least(col("mc"), col("mp")) - expr("interval 1 hour")).as("wm"))
    val heldBack = unmatched.crossJoin(broadcast(wmDf))
      .filter(!(col("ts") + expr("interval 1 hour") < col("wm"))).count()
    val emitted = outer.map(_.getAs[Long]("n_rows")).sum
    val totalClickMatches = inner.values.sum
    val unmatchedClicks = unmatched.count()
    assert(heldBack > 0, "fixture should hold at least one tail click in state")
    assert(emitted == totalClickMatches + (unmatchedClicks - heldBack),
      "emitted rows must be matches plus watermark-expired unmatched clicks")
  }

  test("streaming_foreachbatch_merge leaves no graft_merge_state directory behind") {
    def stateDirs: Int = Option(new java.io.File("target").listFiles()).toSeq.flatten
      .count(_.getName.startsWith("graft_merge_state"))
    val before = stateDirs
    assert(graft.streaming.StreamingOps
      .queries("streaming_foreachbatch_merge")(spark, sf).collect().nonEmpty)
    assert(stateDirs == before)
  }

  test("overlapping drains leave the session's shuffle width unchanged") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "7") // not the drain width, so a leaked drain width shows
    try {
      val src = tempDir("graft_drain_width").resolve("src").toString
      spark.range(1).write.json(src)
      def drain(i: Int) = Future(graft.streaming.StreamingOps.drainWithHandle(spark,
        spark.readStream.schema("id LONG").json(src)
          .select(udf((x: Long) => DrainGate.pass(i, x)).apply(col("id"))), "append"))
      // A starts, B starts, A ends, B ends: each waits inside its batch
      val a = drain(0)
      assert(DrainGate.entered(0).await(60, SECONDS))
      val b = drain(1)
      assert(DrainGate.entered(1).await(60, SECONDS))
      DrainGate.release(0).countDown()
      Await.result(a, 2.minutes)
      DrainGate.release(1).countDown()
      Await.result(b, 2.minutes)
      assert(spark.conf.get(key) == "7")
    } finally spark.conf.set(key, saved)
  }

  test("ensureEventsReadConf keeps an explicit disable and sets an unset key") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    s.conf.set(key, "false")
    Tables.ensureEventsReadConf(s)
    assert(s.conf.get(key) == "false")
    s.conf.unset(key)
    Tables.ensureEventsReadConf(s)
    assert(s.conf.get(key) == "true")
  }
}

/** Latches a test stream's batch waits on, reached from inside a task:
  * an object, so tasks share it instead of a serialized copy. */
object DrainGate {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  val entered: Array[CountDownLatch] = Array.fill(2)(new CountDownLatch(1))
  val release: Array[CountDownLatch] = Array.fill(2)(new CountDownLatch(1))
  def pass(i: Int, x: Long): Long = {
    entered(i).countDown()
    release(i).await(60, TimeUnit.SECONDS)
    x
  }
}
