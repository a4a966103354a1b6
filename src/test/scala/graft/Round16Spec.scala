package graft

import graft.api.{Graft, Pins}
import graft.api.Pins.PinSyntax
import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit.SECONDS
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD

/** r16 optimization-round internals: size-guarded pins (VERDICT r15
  * #2) and per-query pin lifecycle (VERDICT r15 #3). */
class Round16Spec extends SparkSpec {

  private def isPinned(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists(_.isInstanceOf[LogicalRDD])

  private def withPinBound[T](v: String)(body: => T): T = {
    val key = "spark.graft.pinMaxInputBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("inputFileBytes sums the parquet leaves, not join-product estimates") {
    val part = Tables.part(spark, sf)
    val solo = Pins.inputFileBytes(part)
    assert(solo > 0L, "a parquet-backed frame must report its file bytes")
    // a self-join would send stats.sizeInBytes into product territory;
    // the leaf sum just doubles
    val joined = part.as("a").join(part.as("b"), "p_partkey")
    assert(Pins.inputFileBytes(joined) == 2 * solo)
    // an already-checkpointed leaf counts 0 (bounded-by-contract input)
    val pinned = part.limit(5).localCheckpoint()
    assert(Pins.inputFileBytes(pinned) == 0L)
    pinned.unpersist(): Unit
  }

  test("pinBounded pins under the bound, refuses above it, off at 0") {
    val frame = Tables.part(spark, sf).select(col("p_partkey"), col("p_size"))
    // default bound (4 GiB) >> sf0.001 input: pinned
    assert(isPinned(Pins.bounded(frame)),
      "sub-bound frame must localCheckpoint")
    // 1-byte bound: the corpus-scale branch — frame returned UNPINNED,
    // keeping pruned fault-tolerant re-scans
    withPinBound("1") {
      assert(!isPinned(Pins.bounded(frame)),
        "above-bound frame must keep its scan lineage")
    }
    // 0 disables pinning outright (the session-conf opt-out)
    withPinBound("0") {
      assert(!isPinned(Pins.bounded(frame)))
    }
  }

  test("tpch_q2 keeps its 4-column pruned lineitem scan inside the pin build") {
    // r15 advice #2: the consumer plan only shows Scan ExistingRDD, so
    // a pruning regression in the checkpointed build would be
    // invisible — assert on the PRE-pin build subtree instead, under a
    // bound that disables pinning so the full lineage is in ONE plan.
    withPinBound("1") {
      val p = SparkEntry.queries("tpch_q2")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Scan ExistingRDD"), "pin must be off under the bound")
      val re = """ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint,l_quantity:double,l_extendedprice:double>"""
      assert(p.contains(re),
        s"lineitem must scan exactly its 4 needed columns; plan:\n${p.take(2000)}")
    }
  }

  test("releaseQueryPins frees per-query pins but never memo blocks") {
    val sc = spark.sparkContext
    // a session memo (protected): build one through memoizedExchange
    val memo = graft.api.Graft.coPurchasePairs(spark, sf)
    val memoRdds = sc.getPersistentRDDs.keySet
    assert(memoRdds.nonEmpty)
    val before = graft.api.Graft.pinSnapshot(spark)
    // a per-query pin: lazy checkpoint materialized by an action
    val pinned = Tables.part(spark, sf).select(col("p_partkey")).pin(eager = false)
    assert(pinned.count() > 0)
    assert(graft.api.Graft.pinSnapshot(spark).size > before.size)
    val freed = graft.api.Graft.releaseQueryPins(spark, before)
    assert(freed >= 1, "the per-query pin must be freed")
    assert(graft.api.Graft.pinSnapshot(spark) == before,
      "release must restore the pre-query persistent-RDD set")
    // the memo still serves reads after the release (blocks intact)
    assert(memo.limit(1).count() == 1)
  }

  test("releaseQueryPins across a memo build protects the memo's blocks") {
    val before = graft.api.Graft.pinSnapshot(spark)
    // trigger a fresh memo build inside the "query" (distinct label per
    // run not needed: coPurchaseEdges reuses co_purchase_pairs; use the
    // shingled memo instead to get a build if not yet present)
    val m = graft.operators.DedupOps.shingled(spark, sf)
    m.limit(1).count(): Unit
    graft.api.Graft.releaseQueryPins(spark, before): Unit
    // memo blocks survive: a re-read must not throw missing-block
    assert(m.limit(1).count() == 1)
  }

  // ---- pins of concurrent queries ----------------------------------

  private def partKeys: DataFrame = Tables.part(spark, sf).select(col("p_partkey"))

  private def rddId(pinned: DataFrame): Int =
    pinned.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }.get

  /** Runs `body` on a new thread; the result joins it and rethrows
    * what it threw. */
  private def spawn(body: => Unit): () => Unit = {
    @volatile var failure: Option[Throwable] = None
    val t = new Thread(() => try body catch { case e: Throwable => failure = Some(e) })
    t.start()
    () => {
      t.join(SECONDS.toMillis(180))
      assert(!t.isAlive, "thread did not finish")
      failure.foreach(throw _)
    }
  }

  test("a query's release leaves another query's live pin readable") {
    val aSnapped, bCounted, aReleased = new CountDownLatch(1)
    val joinA = spawn {
      val before = Graft.pinSnapshot(spark)
      aSnapped.countDown()
      assert(bCounted.await(60, SECONDS))
      Graft.releaseQueryPins(spark, before): Unit
      aReleased.countDown()
    }
    @volatile var counts = (0L, 0L)
    val joinB = spawn {
      assert(aSnapped.await(60, SECONDS))
      val before = Graft.pinSnapshot(spark)
      val pinned = partKeys.pin(eager = false)
      val first = pinned.count()
      bCounted.countDown()
      assert(aReleased.await(60, SECONDS))
      counts = (first, pinned.count())
      Graft.releaseQueryPins(spark, before): Unit
    }
    joinA()
    joinB()
    assert(counts._1 > 0 && counts._2 == counts._1, counts)
  }

  test("a pin made while another thread builds a memo is freed by its own release") {
    val joinBuild = spawn {
      Graft.memoizedExchange("r16_concurrent_build", spark, sf) {
        spark.range(1, 2, 1, 1).select(udf((x: Long) => PinGate.pass(x)).apply(col("id")).as("id"))
      }: Unit
    }
    // the build's checkpoint job is running: pin, then let the build end
    assert(PinGate.entered.await(60, SECONDS))
    val before = Graft.pinSnapshot(spark)
    val pinned = partKeys.pin(eager = false)
    assert(pinned.count() > 0)
    PinGate.release.countDown()
    joinBuild()
    assert(Graft.releaseQueryPins(spark, before) >= 1)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId(pinned)),
      "the pin outlived its query's release")
  }

  test("a pin made on a thread the query started is freed by the query's release") {
    @volatile var result = (0, -1)
    val joinQuery = spawn {
      val before = Graft.pinSnapshot(spark)
      @volatile var id = -1
      val joinChild = spawn {
        val pinned = partKeys.pin(eager = false)
        assert(pinned.count() > 0)
        id = rddId(pinned)
      }
      joinChild()
      result = (Graft.releaseQueryPins(spark, before), id)
    }
    joinQuery()
    val (freed, id) = result
    assert(freed >= 1 && id >= 0, result)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "the helper thread's pin outlived the query's release")
  }
}

/** Holds a memo build's checkpoint job inside its one task until
  * released. An object, so the task reaches it without a copy. */
object PinGate {
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
  def pass(x: Long): Long = {
    entered.countDown()
    release.await(60, SECONDS)
    x
  }
}
