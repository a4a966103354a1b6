package graft.api

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import scala.jdk.CollectionConverters._

/** The one place a DataFrame is pinned (`localCheckpoint`), and the
  * registry that decides when each pin is freed.
  *
  * `localCheckpoint` persists its RDD outside the CacheManager, so
  * `Dataset.unpersist` cannot free it. Every pin is therefore recorded
  * when it is made: the pinned RDD's id (read from the result's own
  * `LogicalRDD` leaf, never from a diff of the context's persistent
  * RDDs), its owner and its scope:
  *  - `Query`: freed by its owner's [[release]];
  *  - `Generation`: a round of an iterative loop, freed when
  *    [[nextGeneration]] pins the round built from it (or, for the
  *    last round, by its owner's [[release]]);
  *  - `Session`: made inside a [[session]] block (a memoized-exchange
  *    build); never freed per query.
  *
  * The owner is the query running on the calling thread. A query
  * starts at [[snapshot]]: a thread that takes a snapshot owns the pins
  * it makes from then on, and so do the threads it starts (the owner is
  * an `InheritableThreadLocal`, copied into a `new Thread`), so a query
  * that fans out to a helper thread still frees the helper's pins. A
  * pin made by another query — concurrent or not — is never freed by
  * this one's release. */
object Pins {
  object Scope extends Enumeration { val Query, Generation, Session = Value }
  import Scope.{Generation, Query, Session}

  // The RDD is held weakly, so a pin no query releases is still
  // cleaned up once nothing else references it.
  private final case class Pin(owner: Thread, scope: Scope.Value, rdd: WeakReference[RDD[_]])

  // The owner is the thread that started the query; threads it starts
  // inherit it.
  private val owner = new InheritableThreadLocal[Thread] {
    override def initialValue(): Thread = Thread.currentThread
  }
  private val sessionDepth = ThreadLocal.withInitial[Int](() => 0)

  // RDD ids are numbered per context; a stopped context's table goes
  // with its last reference.
  private val registry = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, ConcurrentHashMap[Int, Pin]]())
  private def pinsOf(sc: SparkContext): ConcurrentHashMap[Int, Pin] =
    registry.computeIfAbsent(sc, _ => new ConcurrentHashMap[Int, Pin]())

  /** The RDDs `df`'s plan reads from pins (a pin's result reads one). */
  private def leaves(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  private def record(df: DataFrame, eager: Boolean, scope: Scope.Value): DataFrame = {
    val out = df.localCheckpoint(eager)
    leaves(out).foreach(rdd => pinsOf(df.sparkSession.sparkContext).put(rdd.id,
      Pin(owner.get, if (sessionDepth.get > 0) Session else scope, new WeakReference(rdd))))
    out
  }

  private def free(sc: SparkContext, id: Int): Unit =
    Option(pinsOf(sc).remove(id)).flatMap(p => Option(p.rdd.get)).foreach(_.unpersist(false))

  implicit class PinSyntax(private val df: DataFrame) extends AnyVal {
    /** Pin this frame for the calling query, `eager` as in
      * `localCheckpoint`; `when = false` returns it unpinned. */
    def pin(eager: Boolean, when: Boolean = true): DataFrame =
      if (when) record(df, eager, Query) else df
  }

  /** Raw file bytes feeding a frame's plan: the sum of the on-disk
    * sizes of every file-sourced leaf. A cheap, deterministic proxy
    * for "is this frame sub-corpus?" that needs no action — post-join
    * `stats.sizeInBytes` is useless here (the non-CBO visitor
    * MULTIPLIES child sizes across joins), but the leaves' footprint
    * bounds what a pin of any projection/aggregate of them can cost
    * to rebuild. Non-file leaves (an already-checkpointed input, a
    * memoized exchange) count 0: they are bounded-by-contract
    * relations, not raw corpus. */
  private[graft] def inputFileBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collectLeaves().collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.sizeInBytes
    }.sum

  /** Lazy pin of a multi-consumer frame ONLY while its raw input
    * footprint says the pin is cheap to hold and cheap to lose.
    * `localCheckpoint` severs lineage into non-replicated executor
    * storage: on a cluster, losing one executor aborts the job, and
    * the pinned blocks occupy the execution-storage memory the query
    * itself needs — a fine trade for a frame derived from a few GB
    * (rebuild = one cheap pass; blocks fit anywhere) and a
    * fault-tolerance liability for a corpus-derived one.
    * Above the bound the duplicate-subtree replay is kept instead:
    * pruned parquet re-scans are cheap, pushdown-friendly and
    * fault-tolerant. Bound: `spark.graft.pinMaxInputBytes` (default
    * 4 GiB; 0 disables pinning outright — the session-conf opt-out
    * for these library entry points). */
  private[graft] def bounded(df: DataFrame): DataFrame = {
    val maxBytes = df.sparkSession.conf
      .get("spark.graft.pinMaxInputBytes", (4L << 30).toString).toLong
    df.pin(eager = false, when = maxBytes > 0 && inputFileBytes(df) <= maxBytes)
  }

  /** Eagerly pin the next round of an iterative loop and free the
    * round it was built from: the calling query's generation pins
    * among `df`'s inputs. Once the new round is materialized nothing
    * reads the old one, so an N-round loop holds at most two rounds of
    * executor storage. */
  private[graft] def nextGeneration(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val superseded = leaves(df).map(_.id).filter(id => Option(pinsOf(sc).get(id))
      .exists(p => p.scope == Generation && (p.owner eq owner.get)))
    val out = record(df, eager = true, Generation)
    superseded.foreach(free(sc, _))
    out
  }

  /** Run `body` with every pin it makes, on this thread, in session
    * scope: a memoized exchange's build, whose blocks outlive the query
    * that happened to build it. */
  private[graft] def session[T](body: => T): T = {
    sessionDepth.set(sessionDepth.get + 1)
    try body finally sessionDepth.set(sessionDepth.get - 1)
  }

  /** Start a query on this thread (a thread that already runs one goes
    * on with it) and return the ids of every pin held now — hand them
    * to [[release]] after the query's action. */
  def snapshot(s: SparkSession): Set[Int] = {
    owner.set(Thread.currentThread)
    pinsOf(s.sparkContext).keySet.asScala.toSet
  }

  /** Free the calling query's query and generation pins made since
    * `before`; returns the number freed. Call it after the query's
    * action returns, outside any timed region: every query closure
    * makes its own pins, so they are dead by then, but kept they add up
    * to hundreds of orphaned checkpoint RDDs over a full-registry
    * session. Session pins and other queries' pins are left alone. */
  def release(s: SparkSession, before: Set[Int]): Int = {
    val mine = pinsOf(s.sparkContext).asScala.collect {
      case (id, p) if (p.owner eq owner.get) && p.scope != Session && !before(id) => id
    }
    mine.foreach(free(s.sparkContext, _))
    mine.size
  }
}
