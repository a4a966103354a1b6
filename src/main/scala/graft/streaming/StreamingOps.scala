package graft.streaming

import graft.api.Graft
import graft.api.Pins.PinSyntax
import graft.sources.FileSources.deleteRecursively
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming form of the reference's poll loop (SURVEY.md
  * §2.10, `main.py:133-158`): the 15-second sleep/discover/process cycle
  * becomes a file-source stream; `maxFilesPerTrigger` is the reference's
  * micro-batch cap (T3, `main.py:67`); source checkpointing subsumes the
  * downloaded-keys state file (T2, `aws_bucket.py:55-68`); per-batch
  * error isolation (T4) is both the engine's task-retry semantics and
  * a first-class foreachBatch try/catch op (`t4_foreachbatch_isolation`
  * — the reference's per-file try/except, `main.py:75-95`).
  *
  * For the oracle gate the streams run with `Trigger.AvailableNow` and a
  * complete-mode memory sink — the stream drains the source and its final
  * state equals the batch aggregate, so the same DuckDB SQL checks it.
  * In production the identical plan runs with
  * `Trigger.ProcessingTime("15 seconds")` and a checkpointed sink.
  *
  * Scale: streaming aggregation state is keyed by (event_type) /
  * (window, type) — bounded cardinality, partitioned across executors by
  * the same shuffle as batch. File-source listing is incremental; at
  * 100 TB the source would be a log-compacted listing or Kafka, not a
  * directory scan.
  */
object StreamingOps {

  /** Fixture for T4: three single-batch JSON-lines files, one poisoned
    * (a negative amount). Sentinel-idempotent like FileSources. */
  private def t4FixtureDir(): String = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("target/graft_stream_fixtures/t4_batches")
    val sentinel = root.resolve(".complete")
    if (!Files.exists(sentinel)) {
      deleteRecursively(root.toFile)
      Files.createDirectories(root)
      Files.write(root.resolve("b1.json"),
        ("""{"batch_key":"b1","event_id":1,"amount_cents":250}""" + "\n" +
         """{"batch_key":"b1","event_id":2,"amount_cents":1200}""" + "\n").getBytes)
      Files.write(root.resolve("b2.json"),
        ("""{"batch_key":"b2","event_id":3,"amount_cents":700}""" + "\n" +
         """{"batch_key":"b2","event_id":4,"amount_cents":-50}""" + "\n" + // poisoned
         """{"batch_key":"b2","event_id":5,"amount_cents":900}""" + "\n").getBytes)
      Files.write(root.resolve("b3.json"),
        ("""{"batch_key":"b3","event_id":6,"amount_cents":4000}""" + "\n").getBytes)
      Files.write(sentinel, Array.emptyByteArray)
    }
    root.toString
  }

  private val t4Schema = StructType(Seq(
    StructField("batch_key", StringType), StructField("event_id", LongType),
    StructField("amount_cents", LongType)))

  /** Fixture for the streaming dedup: the documents table split into 4
    * id-ordered JSON micro-batch files (batch k = ntile(4) by doc_id —
    * the exact assignment the DuckDB oracle replays), modification
    * times strictly ascending so the file source drains them in batch
    * order. Written by Spark jobs (filter + coalesce(1) per batch) —
    * no driver-side row materialization. Keyed per data dir; sentinel-
    * idempotent like t4FixtureDir. */
  private[graft] def docsBatchFixtureDir(s: SparkSession, dir: String): String =
    ntileBatchFixtureDir(dir, "docs_batches",
      graft.Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id")

  /** Shared 4-batch JSON fixture recipe (single-sourced for the docs
    * and embeddings streams): ntile(4) by `orderCol` — the exact
    * assignment the DuckDB oracles replay — one coalesced JSON file
    * per batch with strictly ascending mtimes so the file source
    * drains in batch order; written by Spark jobs, no driver-side row
    * materialization; sentinel-idempotent. Tag = SHA-256 of the FULL
    * canonical data path (r9 advice): a 32-bit String.hashCode
    * collision between two data dirs would silently serve one dir's
    * micro-batches to the other's query. */
  private[graft] def ntileBatchFixtureDir(dir: String, name: String,
      src: => org.apache.spark.sql.DataFrame, orderCol: String): String = {
    import java.nio.file.{Files, Paths}
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Paths.get(dir).toAbsolutePath.normalize.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(12).map(b => f"$b%02x").mkString
    val root = Paths.get(s"target/graft_stream_fixtures/${name}_$tag")
    val sentinel = root.resolve(".complete")
    if (!Files.exists(sentinel)) {
      deleteRecursively(root.toFile)
      Files.createDirectories(root)
      // cache the source across the ntile shuffle + 4 filtered batch
      // writes (r12 advice: the binding existed but never persisted, so
      // each write recomputed the source and its global-ntile shuffle)
      val persisted = src.persist()
      val nt = Graft.globalNtile(persisted, 4, "batch", col(orderCol))
      (1 to 4).foreach { k =>
        val tmp = root.resolve(s"tmp_b$k")
        nt.filter(col("batch") === k)
          .select(persisted.columns.map(col).toSeq: _*)
          .coalesce(1).write.json(tmp.toString)
        val listing = Files.list(tmp) // stream MUST be closed (fd leak per batch)
        val part = try {
          listing.filter(p => p.getFileName.toString.startsWith("part-"))
            .findFirst.get
        } finally listing.close()
        val dest = root.resolve(f"b$k%02d.json")
        Files.move(part, dest)
        deleteRecursively(tmp.toFile)
        dest.toFile.setLastModified(1700000000000L + k * 60000L): Unit
      }
      persisted.unpersist()
      Files.write(sentinel, Array.emptyByteArray)
    }
    root.toString
  }

  /** The streaming read schema is NOT hard-coded: it is probed from the
    * actual file footer through the same single-sourced loader the batch
    * path uses (graft.Tables), then `ts` is normalized to TimestampType
    * by the shared Tables.normalizeEventsTs. A physical-layout change in
    * the lake therefore either adapts or fails loudly at analysis time —
    * it can never silently mis-scale event time (the r5 failure mode:
    * micros read as nanos collapsed every timestamp 1000×and three
    * watermark-sensitive queries returned wrong answers while the
    * time-insensitive ones kept passing). */
  private[graft] def eventsStream(s: SparkSession, dir: String, maxFiles: Int): DataFrame = {
    // the schema probe sets the read conf through Tables.ensureEventsReadConf
    val raw = s.readStream
      .schema(graft.Tables.eventsRawSchema(s, dir)) // footer-probed, never assumed
      .option("maxFilesPerTrigger", maxFiles) // T3 micro-batch sizing
      .option("pathGlobFilter", "events.parquet") // S3-style suffix filter (F1)
      .parquet(dir) // file source needs a directory basePath
    graft.Tables.normalizeEventsTs(raw)
  }

  /** Shuffle width of every drain = state stores per stateful operator.
    * 4, re-measured r16 on Spark 4.1 (warm session, min-of-2, sf0.1/32
    * cores; r8's old optimum was 8): at oracle-drain state sizes
    * per-partition store commit/maintenance × micro-batches dominates
    * the data pass EVERYWHERE, so 4 is neutral-to-better on every
    * stateful drain and 16 is strictly worse:
    *   minhash_dedup 3.85→3.02  state_rows   2.13→1.65  eviction 1.80→1.54
    *   late_arrival  1.90→1.62  topk/window  1.08→0.91  ivf_ingest 1.42→1.21
    *   milestones    1.19→1.03  windowed_cnt 1.05→0.99  session  1.79→1.74
    *   watermark_lag/foreachbatch_merge ±0; ss joins already ran at 4
    *   (r11's −20%). State semantics are per-key, so the width never
    *   changes results — only store count.
    * Fixed-cost floor measured r11 (BENCH_NOTES §r11): ~0.5-0.9 s/query
    * of start/stop + offset/commit-log + no-data-batch machinery that
    * per-query isolation cannot amortize. On a cluster, size it to
    * state volume ÷ executor memory instead; the state-store-per-
    * partition arithmetic is the same, only the constant changes. */
  private val drainParts = 4

  /** Run a streaming DF to completion into a memory sink, return the
    * final table. Unique sink name per invocation (Verify and Bench both
    * call this in one JVM). */
  private def drain(s: SparkSession, df: DataFrame, mode: String): DataFrame =
    drainWithHandle(s, df, mode)._1

  /** Runs a one-shot drain against the checkpoint directory
    * `graft_ckpt_<name>` under [[graft.BenchEnv.localDir]], then deletes
    * that directory. The drain has terminated when `run` returns, and
    * what callers read afterwards (the memory sink, `recentProgress`)
    * lives in memory, so a kept directory only leaks: one per drain,
    * outside any run's own output. */
  private[graft] def withDrainCheckpoint[T](name: String)(run: String => T): T = {
    val dir = new java.io.File(s"${graft.BenchEnv.localDir}/graft_ckpt_$name")
    try run(dir.getPath)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir): Unit
  }

  /** Held while a drain's width is on the shared session. */
  private val drainStartLock = new Object

  /** drain + the finished StreamingQuery handle — for the monitor
    * queries that read the engine's own progress objects
    * (recentProgress) rather than the sink table. One copy of the
    * sink/checkpoint/trigger/width recipe for all drains. */
  private[graft] def drainWithHandle(s: SparkSession, df: DataFrame,
      mode: String): (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    val name = "graft_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withDrainCheckpoint(name) { ckpt =>
      // Stateful operators materialize 1-4 state stores PER shuffle
      // partition (a stream-stream join: keyToNumValues +
      // keyWithIndexToValue × both sides), each paying per-batch
      // commit+maintenance; [[drainParts]] holds that count. A stream
      // copies the session's conf when it starts, so the width is on
      // the shared session only for start(), under one lock: drains
      // that overlap never save each other's width, and batch queries
      // plan at the session's own width while a drain runs.
      val q = drainStartLock.synchronized {
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", drainParts.toString)
        try df.writeStream
          .outputMode(mode).format("memory").queryName(name)
          // state-store + offset-log commits fsync per partition per
          // batch; on a local /tmp that is the same ~400 ms-class
          // latency floor measured for shuffle files (BENCH_NOTES §r5),
          // so the checkpoint goes on the same fast local dir the
          // shuffle uses. One-shot oracle drains never restart, so
          // durability is moot.
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
      q.awaitTermination()
      (s.table(name), q)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T1/T2: drain the event stream, keyed counts (complete mode state).
    "streaming_event_counts" -> ((s, dir) => {
      val agg = eventsStream(s, dir, maxFiles = 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      drain(s, agg, "complete").orderBy(col("event_type"))
    }),

    // Event-time tumbling window over the stream (window() operator —
    // the streaming twin of t1_tumbling_window's date_trunc form).
    "streaming_windowed_counts" -> ((s, dir) => {
      val agg = eventsStream(s, dir, maxFiles = 1)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      drain(s, agg, "complete").orderBy(col("win_start"), col("event_type"))
    }),

    // SLIDING event-time window over the stream — completes the window
    // family (tumbling=streaming_windowed_counts, session=
    // streaming_session_window): 6-hour windows advancing every 3
    // hours, so each event lands in exactly 2 windows and adjacent
    // windows overlap — the smoothing shape rate monitors want. State
    // = |open windows|×|types|, watermark-bounded exactly like the
    // tumbling form; overlap doubles state, not input, and the oracle
    // reproduces the window assignment closed-form from the epoch.
    "streaming_sliding_window" -> ((s, dir) => {
      val agg = eventsStream(s, dir, maxFiles = 1)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      drain(s, agg, "complete").orderBy(col("win_start"), col("event_type"))
    }),

    // Windowed top-k: the trending-items shape — event-time tumbling
    // windows drained with watermarked streaming state, then a rank
    // window over the FINALIZED per-window counts picks the top 2 types
    // per window. The split is the scale-honest design: the streaming
    // stage holds only |windows|×|types| aggregate state (bounded by
    // the watermark), and the rank runs post-finalization over that
    // tiny table — ranking inside the stream would need complete-mode
    // re-emission of every window on every batch.
    "streaming_topk_per_window" -> ((s, dir) => {
      val agg = eventsStream(s, dir, maxFiles = 1)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
      val finalized = drain(s, agg, "complete")
      val w = Window.partitionBy(col("win_start"))
        .orderBy(col("n").desc, col("event_type"))
      finalized.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 2)
        .orderBy(col("win_start"), col("rk"))
    }),

    // Stream–static dimension join: each micro-batch broadcast-joins the
    // (static, tiny) event_type → category dim — the streaming-enrichment
    // shape of every event pipeline. The static side never shuffles and
    // is re-broadcast per batch only if it changes; state is only the
    // downstream aggregate's.
    "streaming_dim_join" -> ((s, dir) => {
      import s.implicits._
      val dim = Seq(
        ("click", "engagement"), ("view", "engagement"),
        ("purchase", "commerce"), ("signup", "commerce"),
        ("error", "ops")).toDF("event_type", "category")
      val agg = eventsStream(s, dir, maxFiles = 1)
        .join(broadcast(dim), Seq("event_type"))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      drain(s, agg, "complete").orderBy(col("category"))
    }),

    // Native session windows over the stream (the streaming twin of
    // sessionize_30m's gap-islands): `session_window` keeps per-user
    // session state that MERGES on arrival and finalizes when the
    // watermark passes session end — append mode emits exactly the
    // finalized sessions. The oracle mirrors both halves honestly:
    // gap-sessionization (new session at gap ≥ 30 min, session_window's
    // end-exclusive boundary) AND the watermark cut (sessions whose
    // end ≤ max(ts) − 10 s; later ones are still open when the stream
    // drains — that withholding IS the production semantics).
    "streaming_session_window" -> ((s, dir) => {
      val agg = eventsStream(s, dir, maxFiles = 1)
        .withWatermark("ts", "10 seconds")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("session_start"),
                col("session_window.end").as("session_end"),
                col("user_id"), col("n"))
      drain(s, agg, "append").orderBy(col("user_id"), col("session_start"))
    }),

    // Streaming state dedup: `dropDuplicatesWithinWatermark` keeps a
    // per-key first-arrival state row and EVICTS it once the watermark
    // passes (bounded state — the streaming form of t2_dedup_first;
    // plain dropDuplicates state grows forever). Emitted set = one row
    // per distinct (user_id, event_type); the kept row's timestamp is
    // arrival-order-dependent, so the query projects the key columns
    // only — that set is deterministic and equals batch DISTINCT.
    // Scale: state is hash-partitioned by the dedup key across
    // executors; watermark eviction bounds it to the churn window, not
    // corpus history.
    "streaming_dedup_watermark" -> ((s, dir) => {
      val ded = eventsStream(s, dir, maxFiles = 1)
        .withWatermark("ts", "1 hour")
        .select(col("ts"), col("user_id"), col("event_type"))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
      drain(s, ded, "append")
        .select(col("user_id"), col("event_type"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Custom per-key state (§2.10 / north-star): flatMapGroupsWithState
    // over the event stream — per-user running spend with a milestone
    // detector (first event where the cumulative total crosses $50),
    // the kind of stateful logic session_window/window can't express.
    // All money math runs on integer CENTS (round(value*100)) so the
    // running sum and the threshold crossing are EXACT and order-robust
    // in both engines — no float accumulation anywhere near a branch.
    // The group walk sorts by (event-time, event_id): deterministic
    // under any arrival order. With AvailableNow + a single fixture
    // file each key sees all its events in one micro-batch; in
    // production the state handle carries (cum_cents, first_cross)
    // across batches and an event-time timeout finalizes each user —
    // same function body, state-read/write instead of a fresh fold.
    // Scale: groupByKey shuffles (user_id, 24 B) rows; state is one
    // small row per active user, hash-partitioned.
    "streaming_stateful_milestones" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val ev = eventsStream(s, dir, maxFiles = 1)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
                floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .as[(Long, Long, Long, Long)]
      val out = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Option[Long]), (Long, Long, Long, Option[Long])](
          OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, it, state) =>
          val rows = it.toArray.sortBy(r => (r._3, r._2))
          val (prevN, prevCum, prevFirst) =
            state.getOption.getOrElse((0L, 0L, Option.empty[Long]))
          var cum = prevCum; var first = prevFirst
          rows.foreach { r =>
            cum += r._4
            if (first.isEmpty && cum >= 5000L) first = Some(r._2)
          }
          val n = prevN + rows.length
          state.update((n, cum, first))
          Iterator((uid, n, cum, first))
        }
      // one snapshot row per user per micro-batch; keep the LATEST
      // (strictly-largest n_events) so the result is correct whether
      // the source drains in one batch or many — not fixture-dependent
      drain(s, out.toDF("user_id", "n_events", "total_cents", "first_cross_event"), "append")
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("total_cents"),
                        col("first_cross_event"))).as("s"))
        .select(col("user_id"), col("s.n_events").cast("int").as("n_events"),
                round(col("s.total_cents") / 100.0, 2).as("total_value"),
                col("s.first_cross_event").as("first_cross_event"))
        .orderBy(col("user_id"))
    }),

    // T4: per-batch error isolation — the streaming form of the
    // reference's try/except-per-file poll loop (main.py:75-95): a
    // foreachBatch sink where each micro-batch's processing runs under
    // its own try/catch; a batch whose transform throws (a poisoned row
    // hits raise_error mid-write) is re-written whole with status
    // 'failed' instead of killing the stream, and every other batch
    // lands as 'ok' — failed work is QUARANTINED, not lost, and the
    // stream always drains. The sink is idempotent: each batch
    // dynamically overwrites only its own partition (batch_key), so a
    // batch replay (or a Bench re-run in the same JVM) converges to the
    // same state instead of duplicating. maxFilesPerTrigger=1 pins
    // batch = file, so the status census is deterministic and
    // oracle-checkable (DuckDB read_json over the same fixture).
    // Scale: the try/catch + partition-overwrite pattern is exactly the
    // production idempotent-exactly-once recipe; per-batch work is
    // distributed as usual, only the catch decision is driver-side.
    "t4_foreachbatch_isolation" -> ((s, _) => {
      import java.nio.file.{Files, Paths}
      val srcDir = t4FixtureDir()
      val sink = "target/graft_stream_fixtures/t4_sink"
      val sinkPath = Paths.get(sink)
      deleteRecursively(sinkPath.toFile) // fresh run (Bench runs twice per JVM)
      val stream = s.readStream.schema(t4Schema)
        .option("maxFilesPerTrigger", 1).json(srcDir)
      def writeBatch(df: DataFrame): Unit =
        df.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_key").parquet(sink)
      val q = stream.writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          try {
            writeBatch(batch.withColumn("status",
              when(col("amount_cents") >= 0, lit("ok"))
                .otherwise(raise_error(concat(
                  lit("poisoned row: event "), col("event_id"))))))
          } catch {
            case scala.util.control.NonFatal(_) =>
              writeBatch(batch.withColumn("status", lit("failed")))
          }
        }
        .start()
      q.awaitTermination()
      s.read.parquet(sink)
        .groupBy(col("batch_key"), col("status"))
        .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("total_cents"))
        .orderBy(col("batch_key"))
    }),

    // T4 at ROW grain — the reference's actual isolation unit
    // (main.py:75-95: one bad file doesn't fail its batch-mates; here
    // one bad ROW doesn't fail its batch): each row is validated in the
    // transform itself (status column, no raise), so the poisoned batch
    // b2 lands with its 2 healthy rows 'ok' and ONLY the bad row
    // 'failed' — finer quarantine than t4_foreachbatch_isolation, which
    // marks b2 whole. Same idempotent dynamic-partition-overwrite sink;
    // per-row validation is pure map-side (no try/catch, no driver
    // decision), which is also the cheaper production shape: the batch
    // pipeline never tears down and rebuilds on poison.
    "t4_row_isolation" -> ((s, _) => {
      import java.nio.file.{Files, Paths}
      val srcDir = t4FixtureDir()
      val sink = "target/graft_stream_fixtures/t4_row_sink"
      val sinkPath = Paths.get(sink)
      deleteRecursively(sinkPath.toFile) // fresh run (Bench runs twice per JVM)
      val stream = s.readStream.schema(t4Schema)
        .option("maxFilesPerTrigger", 1).json(srcDir)
      val q = stream.writeStream.trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // null-explicit: a missing amount (e.g. a malformed row under
          // a PERMISSIVE-style read) is quarantined, not silently 'ok'
          // — mirrored verbatim by the oracle's IS NULL OR < 0 branch
          batch.withColumn("status",
              when(col("amount_cents").isNotNull && col("amount_cents") >= 0,
                lit("ok")).otherwise(lit("failed")))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_key").parquet(sink)
        }
        .start()
      q.awaitTermination()
      s.read.parquet(sink)
        .groupBy(col("batch_key"), col("status"))
        .agg(count(lit(1)).as("n"), sum(col("amount_cents")).as("total_cents"))
        .orderBy(col("batch_key"), col("status"))
    }),

    // Stream–stream inner join — the one join class where BOTH sides
    // are unbounded: click→purchase attribution, each purchase matched
    // to every click by the same user in the preceding hour. The time-
    // range predicate + per-side watermarks are what make this bounded:
    // Spark buffers each side's rows in join state only until the other
    // side's watermark passes the end of their match window, then evicts
    // — state ∝ one hour of traffic per side, not stream history. With
    // the single-file AvailableNow source everything lands in one
    // micro-batch (no cross-batch arrivals), so the emitted pair set
    // equals the batch interval join and the plain-SQL oracle below is
    // exact; in production the same plan runs continuously and the
    // watermark bound IS the correctness/latency contract. The final
    // per-user rollup runs as a BATCH aggregate over the drained join
    // output (sidestepping multi-stateful-operator output-mode
    // restrictions, and matching the sink-side-rollup production shape).
    // Scale: both streams shuffle-partition by user_id; join state is
    // hash-distributed with the same layout as a batch shuffle join.
    "streaming_stream_stream_join" -> ((s, dir) => {
      val clicks = eventsStream(s, dir, maxFiles = 1)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
                col("event_id").as("click_id"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsStream(s, dir, maxFiles = 1)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
                col("value").as("purchase_value"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"))
      drain(s, joined, "append")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
             countDistinct(col("click_id")).as("n_clicks_attributed"),
             round(sum(col("purchase_value")), 2).as("attributed_value"))
        .orderBy(col("user_id"))
    }),

    // Watermarked stream-stream LEFT OUTER join — the semantics inner
    // joins can't express: "which clicks never converted?" answered
    // incrementally. An unmatched click emits its null-extended row
    // only once the global watermark (min over both streams of
    // max-event-time − 1 h) proves no future purchase can land in its
    // [click, click+1 h] window; clicks younger than that stay in
    // state, so a drained finite run emits exactly the matched pairs
    // plus the PROVABLY-expired unmatched clicks — the oracle encodes
    // that cutoff explicitly, making the eviction rule itself the
    // contract under test. State is watermark-bounded on both sides
    // (same scale shape as the inner join above).
    "streaming_ss_left_outer" -> ((s, dir) => {
      val clicks = eventsStream(s, dir, maxFiles = 1)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
                col("event_id").as("click_id"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsStream(s, dir, maxFiles = 1)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
                col("value").as("purchase_value"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"),
        "leftOuter")
      drain(s, joined, "append")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
             count(col("purchase_ts")).as("n_matched"),
             count(when(col("purchase_ts").isNull, 1)).as("n_unconverted"),
             round(sum(coalesce(col("purchase_value"), lit(0.0))), 2)
               .as("attributed_value"))
        .orderBy(col("user_id"))
    }),

    // T5: progress metrics as a first-class op — `df.observe()`
    // accumulators ride the processing pass for free (no second scan),
    // the success/failure counters of the reference's poll loop
    // (main.py:38-43,85). Batch form: metrics retrieved through the
    // Observation helper after a terminal no-op write; the metrics ARE
    // the query result, so the oracle checks them as conditional
    // aggregates. The streaming twin (observedMetrics surfaced per
    // micro-batch via StreamingQueryProgress) is asserted in
    // StreamingOpsSpec.
    "t5_observe_metrics" -> ((s, dir) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      graft.Tables.documents(s, dir)
        .observe(obs,
          count(lit(1)).as("n_docs"),
          count(when(col("text").isNull ||
            length(trim(col("text"))) === 0, 1)).as("n_failed"),
          count(when(col("text").isNotNull &&
            length(trim(col("text"))) > 0, 1)).as("n_ok"),
          sum(col("n_chars")).as("total_chars"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      Seq((m("n_docs").asInstanceOf[Long], m("n_failed").asInstanceOf[Long],
           m("n_ok").asInstanceOf[Long], m("total_chars").asInstanceOf[Long]))
        .toDF("n_docs", "n_failed", "n_ok", "total_chars")
    }),

    // Streaming MERGE-upsert sink via foreachBatch: each micro-batch's
    // per-key aggregate upserts into a VERSIONED keyed state table
    // (v{n} = merge(v{n-1}, batch) — read-previous/write-next, never
    // read-overwrite-in-place, which is undefined under Spark's lazy
    // scans). This is the foreachBatch half of Delta-style `MERGE INTO`:
    // on a lakehouse sink the per-version parquet dir becomes one
    // transactional MERGE commit; state is keyed by batch_key so merge
    // work is proportional to live keys, not history. The merge is
    // ADDITIVE on matched keys (counters sum, last_event_id maxes) — the
    // partial-aggregate merge law — so a key spanning multiple
    // micro-batches still converges to the global group-by regardless of
    // how the source files split it; the oracle equivalence needs no
    // disjoint-keys precondition. Final state after the AvailableNow
    // drain ≡ the batch group-by, which IS the oracle. The final state
    // is read into an eager checkpoint (freed by the per-query pin
    // release) and the whole versioned state root is deleted before
    // return, so no call leaves a directory under target/.
    "streaming_foreachbatch_merge" -> ((s, _) => {
      import java.nio.file.{Files, Paths}
      val srcDir = t4FixtureDir()
      val stateRoot = Files.createTempDirectory(
        Paths.get("target"), "graft_merge_state")
      try {
        @volatile var version = -1L
        val stream = s.readStream.schema(t4Schema)
          .option("maxFilesPerTrigger", 1).json(srcDir)
        val q = stream.writeStream.trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val upserts = batch.groupBy(col("batch_key"))
              .agg(count(lit(1)).as("n_rows"),
                   sum(col("amount_cents")).as("total_cents"),
                   max(col("event_id")).as("last_event_id"))
            val merged =
              if (version < 0) upserts
              else {
                val prev = s.read.parquet(s"$stateRoot/v$version")
                // MERGE WHEN MATCHED: merge the two partial aggregates
                prev.unionByName(upserts)
                  .groupBy(col("batch_key"))
                  .agg(sum(col("n_rows")).as("n_rows"),
                       sum(col("total_cents")).as("total_cents"),
                       max(col("last_event_id")).as("last_event_id"))
              }
            merged.coalesce(1).write.mode("overwrite")
              .parquet(s"$stateRoot/v${version + 1}")
            version += 1
          }
          .start()
        q.awaitTermination()
        // The result stays a plan (r8 verdict #4: no .collect() in any
        // registered query path), over checkpointed blocks, not files.
        s.read.parquet(s"$stateRoot/v$version").pin(eager = true)
          .orderBy(col("batch_key"))
      } finally deleteRecursively(stateRoot.toFile)
    }),

    // Watermark-lag monitor via StreamingQueryProgress (r10 verdict
    // #7 — T5's production story beyond observe()): drain the
    // id-ordered docs micro-batches under a 1 s watermark and report,
    // PER BATCH, the input-row count, max event time, the watermark
    // the batch ran under, and the lag between them — exactly the
    // per-trigger numbers a production monitor alerts on (a growing
    // lag means event time is outrunning the watermark faster than
    // state can finalize). The metrics come from the engine's own
    // progress objects (q.recentProgress: numInputRows +
    // eventTime.max/watermark per micro-batch), not a side
    // computation; the result table is |batches|-sized driver
    // metadata (the t5_observe_metrics class). Oracle: the watermark
    // recurrence is closed-form on the ntile(4) fixture — wm(batch j)
    // = max event time of batches < j minus the 1 s delay (0 for the
    // first batch) — the same replay contract streaming_minhash_dedup
    // pins.
    "streaming_watermark_lag" -> ((s, dir) => {
      import s.implicits._
      val srcDir = docsBatchFixtureDir(s, dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(srcDir)
        .withColumn("ts", timestamp_seconds(col("doc_id")))
        .withWatermark("ts", "1 second")
        .select(col("doc_id")) // stateless pass-through: the watermark
                               // node still tracks event-time stats
      val (_, q) = drainWithHandle(s, stream, "append")
      def epochS(iso: String): Long =
        java.time.Instant.parse(iso).getEpochSecond
      val rows = q.recentProgress.toSeq
        .filter(_.numInputRows > 0).sortBy(_.batchId)
        .zipWithIndex.map { case (p, i) =>
          val mx = epochS(p.eventTime.get("max"))
          val wm = epochS(p.eventTime.get("watermark"))
          (i + 1L, p.numInputRows, mx, wm, mx - wm)
        }
      rows.toDF("batch_seq", "n_rows", "max_event_s", "watermark_s", "lag_s")
        .orderBy(col("batch_seq"))
    }),

    // State-size monitor via StreamingQueryProgress.stateOperators —
    // the watermark-lag monitor's partner: per batch, input rows, the
    // keys ADDED to dedup state (numRowsUpdated) and the TOTAL state
    // rows after the batch (numRowsTotal). The query under watch is a
    // deliberately UNWATERMARKED dropDuplicates (the unbounded-state
    // anti-pattern): a state_rows_total that keeps growing across
    // batches is exactly the curve this monitor exists to alert on —
    // the engine's own metrics expose it, no side computation. Oracle:
    // dedup state is closed-form on the id-ordered fixture — new keys
    // in batch j = keys whose FIRST batch is j, total = cumulative
    // distinct (the key domain doc_id % 97 forces real cross-batch
    // collisions). Result is |batches|-row driver metadata (the
    // t5_observe_metrics class).
    "streaming_state_rows" -> ((s, dir) => {
      import s.implicits._
      val srcDir = docsBatchFixtureDir(s, dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val ded = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(srcDir)
        .select(pmod(col("doc_id"), lit(97L)).as("k"))
        .dropDuplicates("k")
      val (_, q) = drainWithHandle(s, ded, "append")
      val rows = q.recentProgress.toSeq
        .filter(_.numInputRows > 0).sortBy(_.batchId)
        .zipWithIndex.map { case (p, i) =>
          val st = p.stateOperators.head
          (i + 1L, p.numInputRows, st.numRowsUpdated, st.numRowsTotal)
        }
      rows.toDF("batch_seq", "n_in", "new_keys", "state_rows_total")
        .orderBy(col("batch_seq"))
    }),

    // State-eviction monitor — streaming_state_rows' bounded twin: the
    // SAME dedup under dropDuplicatesWithinWatermark (delay 150 s), so
    // the per-batch stateOperators metrics now show state RETIRING —
    // the curve that proves a watermark actually bounds the store. The
    // engine semantics this replays were RE-PINNED in r12 by reading
    // the state store itself (the statestore data source, per-batch
    // contents — not just aggregate progress counts, which the r11
    // probe used and which turn out to be degenerate on interval-
    // shaped key sets):
    //   W(b) := watermark published for batch b = max event time of
    //     batches < b minus the delay, floored at 0;
    //   LATE FILTER at batch b's input: drop rows with ts <= W(b-1)
    //     (the PREVIOUS batch's watermark — Spark's late-events vs
    //     eviction watermark split; at the first batch W(0) = 0 and
    //     the epoch row ts = 0 IS dropped, state-store-verified);
    //   ADMISSION: the key's first SURVIVING row in file/id order
    //     stores its event time (duplicates do NOT refresh expiry);
    //   EVICTION at END of batch b: remove entries with
    //     ts + 150 <= W(b) — at EQUALITY, verified by an
    //     expiry-==-watermark boundary fixture.
    // The r11 oracle (min-id admission, strict-< eviction) produced
    // identical COUNTS on the ntile fixtures — the two off-by-ones
    // cancel when the stored values form an integer interval — but
    // wrong state membership; the oracle below replays the corrected
    // recurrence (4 bounded generations). The key domain doc_id % 97
    // forces real collisions and re-admissions at larger SFs (green at
    // sf0.01 AND sf0.1).
    "streaming_state_eviction" -> ((s, dir) => {
      import s.implicits._
      val srcDir = docsBatchFixtureDir(s, dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val ded = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(srcDir)
        .withColumn("ts", timestamp_seconds(col("doc_id")))
        .withWatermark("ts", "150 seconds")
        .select(col("ts"), pmod(col("doc_id"), lit(97L)).as("k"))
        .dropDuplicatesWithinWatermark("k")
      val (_, q) = drainWithHandle(s, ded, "append")
      val rows = q.recentProgress.toSeq
        .filter(_.stateOperators.nonEmpty).sortBy(_.batchId)
        .zipWithIndex.map { case (p, i) =>
          val st = p.stateOperators.head
          (i + 1L, p.numInputRows, st.numRowsUpdated,
           st.numRowsRemoved, st.numRowsTotal)
        }
      rows.toDF("batch_seq", "n_in", "new_keys", "evicted", "state_rows_total")
        .orderBy(col("batch_seq"))
    }),

    // LATE-ARRIVAL replay on the eviction-monitor machinery (r11
    // verdict #4) — the out-of-order story the reference never had
    // (SURVEY §2.10): a deterministic subset of rows arrives with a
    // STALE event time (doc_id % 89 == 0 → ts = doc_id − 2000 s, ~13
    // watermark windows behind its cohort) while file order stays
    // id-ordered. Per batch the monitor reports the engine's own
    // numRowsDroppedByWatermark next to the admission/eviction/state
    // curve, exercising BOTH late paths against the state-store-pinned
    // recurrence above: a late row at ts <= W(b-1) is dropped before
    // the store (every lagged row at sf0.01; at sf0.1 the within-
    // window lagged rows survive as dedup inputs while the genuinely
    // stale ones drop — the two-SF contract the seed asked for), and a
    // surviving late row can itself become a key's stored value (the
    // arg_min-over-survivors admission in the oracle). Watermark
    // cannot regress: lagged rows never advance max event time, so
    // W(b) stays driven by the on-time cohort — the monotonicity the
    // tombstone unroll relies on.
    "streaming_late_arrival" -> ((s, dir) => {
      import s.implicits._
      val srcDir = docsBatchFixtureDir(s, dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val ded = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(srcDir)
        .withColumn("ts", timestamp_seconds(
          col("doc_id") - when(pmod(col("doc_id"), lit(89L)) === 0, 2000L)
            .otherwise(0L)))
        .withWatermark("ts", "150 seconds")
        .select(col("ts"), pmod(col("doc_id"), lit(97L)).as("k"))
        .dropDuplicatesWithinWatermark("k")
      val (_, q) = drainWithHandle(s, ded, "append")
      val rows = q.recentProgress.toSeq
        .filter(_.stateOperators.nonEmpty).sortBy(_.batchId)
        .zipWithIndex.map { case (p, i) =>
          val st = p.stateOperators.head
          (i + 1L, p.numInputRows, st.numRowsDroppedByWatermark,
           st.numRowsUpdated, st.numRowsRemoved, st.numRowsTotal)
        }
      rows.toDF("batch_seq", "n_in", "dropped_late", "new_keys",
                "evicted", "state_rows_total")
        .orderBy(col("batch_seq"))
    }),

    // STREAMING near-dup detection — the watermarked banding form of
    // dedup_minhash_lsh (r8 verdict #8b): documents arrive in id-ordered
    // micro-batches (ingest time = doc_id seconds), each doc's 6 LSH
    // bands are computed map-side, and per-band state holds ONE
    // canonical representative (the band's first doc in the current
    // activity island) plus its last-seen time. An arriving doc links
    // to its bands' canon — linear candidates by construction, the
    // star-degradation discipline cappedBucketPairs applies to batch
    // hot bands, here structural. EventTimeTimeout EVICTS a band idle
    // past the horizon (150 s of ingest time), so state is bounded by
    // the churn window, never corpus history — the property that makes
    // streaming dedup deployable at all; a post-eviction arrival
    // re-seeds the band with itself as the new canon.
    // Determinism contract (what makes this oracle-checkable): batches
    // are ntile(4)-by-doc_id files drained in order (AvailableNow,
    // maxFilesPerTrigger=1); the watermark before batch j is
    // max ts(batches < j) − 1 s; a group with data in a batch is never
    // simultaneously timed out (Spark fMGWS semantics), so eviction
    // between consecutive band arrivals a (batch i) → b (batch j)
    // fires iff j ≥ i+2 AND max_id(batch j−2) − 1 > id_a + 150 — a
    // closed-form gaps-and-islands predicate the DuckDB oracle replays
    // exactly. Candidate links are exact-Jaccard-verified OUTSIDE the
    // stream (batch join on the tiny link list), mirroring the batch
    // family's two-tier shape.
    "streaming_minhash_dedup" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val horizonSec = 150L
      val srcDir = docsBatchFixtureDir(s, dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val raw = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(srcDir)
      val banded = raw
        .filter(Graft.hasBigrams(col("text")))
        // ingest time = doc_id + 1 seconds: doc 0 at epoch ZERO is
        // exactly on Spark's initial watermark and fMGWS drops it as
        // late, so its band state never seeds and the first island's
        // canon silently shifts (surfaced at sf0.001, where doc 0 has
        // band partners: spark emitted (50,82) where the oracle's
        // replay has (0,50),(0,82)). The uniform +1 s shifts every
        // timeout AND every watermark equally, so all id-relative
        // eviction inequalities — and therefore the oracle's
        // closed-form replay — are unchanged; only the epoch-zero
        // late-drop artifact goes away. (r15 opt round, inherited fix)
        .withColumn("ts", timestamp_seconds(col("doc_id") + 1))
        .withWatermark("ts", "1 second")
        .withColumn("mhs", Graft.minhashSignature(col("text")))
        .select(col("ts"), col("doc_id"),
                explode(Graft.lshBandKeys(col("mhs"))).as("band"))
      val links = banded
        .select(col("band"), col("doc_id"), col("ts"))
        .as[(String, Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (Long, Long)](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (_, it, state) =>
            if (state.hasTimedOut) { state.remove(); Iterator.empty }
            else {
              val rows = it.map(r => (r._3.getTime, r._2)).toArray.sorted
              if (rows.isEmpty) Iterator.empty
              else {
                val canon = state.getOption.map(_._1).getOrElse(rows.head._2)
                // materialize BEFORE the state update — a lazy iterator
                // would observe post-update state
                val out = rows.iterator
                  .filter(_._2 != canon).map(r => (canon, r._2)).toArray
                val lastTs = rows.last._1
                state.update((canon, lastTs))
                state.setTimeoutTimestamp(lastTs + horizonSec * 1000L)
                out.iterator
              }
            }
        }.toDF("a_id", "b_id")
      val pairs = drain(s, links, "append").distinct()
      // exact-Jaccard verification reads the dedup family's memoized
      // bigram-hash exchange (same TextSignatures expression — one
      // shingling pass per session, shared with the batch dedup family)
      Graft.withJaccard(broadcast(pairs), graft.operators.DedupOps.shingled(s, dir))
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("a_id"), col("b_id"))
    })
  )

  def oracles: Map[String, String] = Map(
    // closed-form replay of the streaming banding state machine:
    // batches = ntile(4) by doc_id, watermark(j) = max_id(j-1) - 1,
    // eviction between consecutive band arrivals iff the prev doc's
    // timeout (id + 150) lies strictly below the watermark current at
    // some interior batch — monotone, so only wm(j-1) = bm[j-2] - 1
    // matters; islands via running cut-sum, canon = island min, links
    // verified by exact bigram Jaccard >= 0.5.
    "streaming_minhash_dedup" ->
      s"""WITH toks AS (SELECT doc_id, ${graft.operators.DedupOps.bigramsSqlExpr} AS bg FROM documents),
         |sh AS (SELECT doc_id, unnest(bg) AS shingle FROM toks),
         |mh AS (SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS h
         |  FROM sh CROSS JOIN (SELECT unnest(range(12)) AS seed) GROUP BY doc_id, seed),
         |sig AS (SELECT doc_id, list(h ORDER BY seed) AS mhs FROM mh GROUP BY doc_id),
         |bands AS (SELECT doc_id, unnest(list_transform(range(6),
         |  k -> k || ':' || mhs[2*k+1] || mhs[2*k+2])) AS band FROM sig),
         |nt AS (SELECT doc_id, ntile(4) OVER (ORDER BY doc_id) AS batch FROM documents),
         |bm AS (SELECT batch, max(doc_id) AS mx FROM nt GROUP BY batch),
         |seq AS (SELECT b.band, b.doc_id, nt.batch,
         |    lag(b.doc_id) OVER (PARTITION BY b.band ORDER BY b.doc_id) AS prev_id,
         |    lag(nt.batch) OVER (PARTITION BY b.band ORDER BY b.doc_id) AS prev_batch
         |  FROM bands b JOIN nt USING (doc_id)),
         |cut AS (SELECT seq.band, seq.doc_id,
         |    CASE WHEN seq.prev_id IS NULL THEN 1
         |         WHEN seq.batch - seq.prev_batch >= 2
         |              AND coalesce(bm2.mx, -1000000) - 1 > seq.prev_id + 150 THEN 1
         |         ELSE 0 END AS c
         |  FROM seq LEFT JOIN bm bm2 ON bm2.batch = seq.batch - 2),
         |isl AS (SELECT band, doc_id,
         |    sum(c) OVER (PARTITION BY band ORDER BY doc_id) AS island
         |  FROM cut),
         |canon AS (SELECT band, island, min(doc_id) AS canon_id
         |  FROM isl GROUP BY band, island),
         |links AS (SELECT DISTINCT canon_id AS a_id, i.doc_id AS b_id
         |  FROM isl i JOIN canon USING (band, island) WHERE i.doc_id > canon_id),
         |v AS (SELECT a_id, b_id,
         |  round(len(list_intersect(ta.bg, tb.bg))::DOUBLE /
         |        len(list_distinct(ta.bg || tb.bg)), 6) AS jaccard
         |  FROM links JOIN toks ta ON ta.doc_id = a_id
         |  JOIN toks tb ON tb.doc_id = b_id)
         |SELECT a_id, b_id, jaccard FROM v WHERE jaccard >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    "streaming_event_counts" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // dedup-state replay on the ntile(4) fixture: a key's state row is
    // created in its FIRST batch; total = cumulative distinct keys
    "streaming_state_rows" ->
      """WITH nt AS (SELECT doc_id, doc_id % 97 AS k,
        |    ntile(4) OVER (ORDER BY doc_id) AS b FROM documents),
        |fb AS (SELECT k, min(b) AS b FROM nt GROUP BY k),
        |per AS (SELECT b, count(*)::BIGINT AS n_in FROM nt GROUP BY b),
        |nw AS (SELECT b, count(*)::BIGINT AS new_keys FROM fb GROUP BY b)
        |SELECT per.b::BIGINT AS batch_seq, per.n_in,
        |  coalesce(nw.new_keys, 0)::BIGINT AS new_keys,
        |  sum(coalesce(nw.new_keys, 0)) OVER (ORDER BY per.b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS state_rows_total
        |FROM per LEFT JOIN nw ON nw.b = per.b
        |ORDER BY batch_seq""".stripMargin,

    // 4-generation unroll of the state-store-pinned dedup recurrence
    // (see the query comment for the r12 re-pin): s_b = per-key stored
    // event time after batch b's admissions (tombstones carried — the
    // eviction condition is monotone in the watermark, so a dead entry
    // stays recognizably dead), em_b = (re-)admission flag, t_b =
    // post-eviction state size. Late filter: a batch-b row survives iff
    // ts > W(b-1) (W(0) = W(1) = 0 — the epoch row ts = 0 drops in
    // batch 1); admission stores the FIRST surviving row's ts (min id
    // among survivors — ts = id here); eviction at end of batch b:
    // s + 150 <= W(b), at equality.
    "streaming_state_eviction" ->
      """WITH nt AS (SELECT doc_id, doc_id % 97 AS k,
        |    ntile(4) OVER (ORDER BY doc_id) AS b FROM documents),
        |bs AS (SELECT b, count(*)::BIGINT AS n_in, max(doc_id) AS mx
        |  FROM nt GROUP BY b),
        |v AS (SELECT
        |    greatest(0, (SELECT mx FROM bs WHERE b = 1) - 150) AS w2,
        |    greatest(0, (SELECT max(mx) FROM bs WHERE b <= 2) - 150) AS w3,
        |    greatest(0, (SELECT max(mx) FROM bs WHERE b <= 3) - 150) AS w4,
        |    greatest(0, (SELECT max(mx) FROM bs WHERE b <= 4) - 150) AS w5),
        |adm AS (SELECT k,
        |    min(CASE WHEN b = 1 AND doc_id > 0 THEN doc_id END) AS m1,
        |    min(CASE WHEN b = 2 AND doc_id > 0 THEN doc_id END) AS m2,
        |    min(CASE WHEN b = 3 AND doc_id > w2 THEN doc_id END) AS m3,
        |    min(CASE WHEN b = 4 AND doc_id > w3 THEN doc_id END) AS m4
        |  FROM nt CROSS JOIN v GROUP BY k),
        |g2 AS (SELECT adm.*, v.*,
        |    CASE WHEN m2 IS NOT NULL AND (m1 IS NULL OR m1 + 150 <= 0)
        |      THEN 1 ELSE 0 END AS em2,
        |    CASE WHEN m2 IS NOT NULL AND (m1 IS NULL OR m1 + 150 <= 0)
        |      THEN m2 ELSE m1 END AS s2
        |  FROM adm CROSS JOIN v),
        |g3 AS (SELECT *,
        |    CASE WHEN m3 IS NOT NULL AND (s2 IS NULL OR s2 + 150 <= w2)
        |      THEN 1 ELSE 0 END AS em3,
        |    CASE WHEN m3 IS NOT NULL AND (s2 IS NULL OR s2 + 150 <= w2)
        |      THEN m3 ELSE s2 END AS s3 FROM g2),
        |g4 AS (SELECT *,
        |    CASE WHEN m4 IS NOT NULL AND (s3 IS NULL OR s3 + 150 <= w3)
        |      THEN 1 ELSE 0 END AS em4,
        |    CASE WHEN m4 IS NOT NULL AND (s3 IS NULL OR s3 + 150 <= w3)
        |      THEN m4 ELSE s3 END AS s4 FROM g3),
        |agg AS (SELECT
        |    sum(CASE WHEN m1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS u1,
        |    sum(em2)::BIGINT AS u2, sum(em3)::BIGINT AS u3,
        |    sum(em4)::BIGINT AS u4,
        |    sum(CASE WHEN m1 + 150 > 0 THEN 1 ELSE 0 END)::BIGINT AS t1,
        |    sum(CASE WHEN s2 + 150 > w2 THEN 1 ELSE 0 END)::BIGINT AS t2,
        |    sum(CASE WHEN s3 + 150 > w3 THEN 1 ELSE 0 END)::BIGINT AS t3,
        |    sum(CASE WHEN s4 + 150 > w4 THEN 1 ELSE 0 END)::BIGINT AS t4,
        |    sum(CASE WHEN s4 + 150 > w5 THEN 1 ELSE 0 END)::BIGINT AS t5
        |  FROM g4)
        |SELECT 1::BIGINT AS batch_seq, (SELECT n_in FROM bs WHERE b = 1) AS n_in,
        |  u1 AS new_keys, (0 + u1 - t1)::BIGINT AS evicted,
        |  t1 AS state_rows_total FROM agg
        |UNION ALL SELECT 2, (SELECT n_in FROM bs WHERE b = 2),
        |  u2, (t1 + u2 - t2)::BIGINT, t2 FROM agg
        |UNION ALL SELECT 3, (SELECT n_in FROM bs WHERE b = 3),
        |  u3, (t2 + u3 - t3)::BIGINT, t3 FROM agg
        |UNION ALL SELECT 4, (SELECT n_in FROM bs WHERE b = 4),
        |  u4, (t3 + u4 - t4)::BIGINT, t4 FROM agg
        |UNION ALL SELECT 5, 0::BIGINT, 0::BIGINT, (t4 - t5)::BIGINT, t5 FROM agg
        |ORDER BY batch_seq""".stripMargin,

    // the same recurrence with LAGGED event times: ts = id - 2000 when
    // id % 89 == 0; stored value = ts of the min-id SURVIVOR
    // (arg_min over the late-filter pass), dropped_late = rows at
    // ts <= W(b-1). The <= in the late filter is pinned at W = 0 (the
    // epoch row); lagged ts never EQUALS a nonzero W on these fixtures
    // (checked at all three SFs), so the boundary convention there is
    // unexercised by construction.
    "streaming_late_arrival" ->
      """WITH nt0 AS (SELECT doc_id, doc_id % 97 AS k,
        |    ntile(4) OVER (ORDER BY doc_id) AS b,
        |    doc_id - CASE WHEN doc_id % 89 = 0 THEN 2000 ELSE 0 END AS ts
        |  FROM documents),
        |bs AS (SELECT b, count(*)::BIGINT AS n_in, max(ts) AS mx
        |  FROM nt0 GROUP BY b),
        |v AS (SELECT
        |    greatest(0, (SELECT mx FROM bs WHERE b = 1) - 150) AS w2,
        |    greatest(0, (SELECT max(mx) FROM bs WHERE b <= 2) - 150) AS w3,
        |    greatest(0, (SELECT max(mx) FROM bs WHERE b <= 3) - 150) AS w4,
        |    greatest(0, (SELECT max(mx) FROM bs WHERE b <= 4) - 150) AS w5),
        |nt AS (SELECT nt0.*, v.* FROM nt0 CROSS JOIN v),
        |dr AS (SELECT b, sum(CASE
        |      WHEN b = 1 AND ts <= 0 THEN 1 WHEN b = 2 AND ts <= 0 THEN 1
        |      WHEN b = 3 AND ts <= w2 THEN 1 WHEN b = 4 AND ts <= w3 THEN 1
        |      ELSE 0 END)::BIGINT AS dropped
        |  FROM nt GROUP BY b),
        |adm AS (SELECT k,
        |    arg_min(ts, doc_id) FILTER (b = 1 AND ts > 0) AS m1,
        |    arg_min(ts, doc_id) FILTER (b = 2 AND ts > 0) AS m2,
        |    arg_min(ts, doc_id) FILTER (b = 3 AND ts > w2) AS m3,
        |    arg_min(ts, doc_id) FILTER (b = 4 AND ts > w3) AS m4
        |  FROM nt GROUP BY k),
        |g2 AS (SELECT adm.*, v.*,
        |    CASE WHEN m2 IS NOT NULL AND (m1 IS NULL OR m1 + 150 <= 0)
        |      THEN 1 ELSE 0 END AS em2,
        |    CASE WHEN m2 IS NOT NULL AND (m1 IS NULL OR m1 + 150 <= 0)
        |      THEN m2 ELSE m1 END AS s2
        |  FROM adm CROSS JOIN v),
        |g3 AS (SELECT *,
        |    CASE WHEN m3 IS NOT NULL AND (s2 IS NULL OR s2 + 150 <= w2)
        |      THEN 1 ELSE 0 END AS em3,
        |    CASE WHEN m3 IS NOT NULL AND (s2 IS NULL OR s2 + 150 <= w2)
        |      THEN m3 ELSE s2 END AS s3 FROM g2),
        |g4 AS (SELECT *,
        |    CASE WHEN m4 IS NOT NULL AND (s3 IS NULL OR s3 + 150 <= w3)
        |      THEN 1 ELSE 0 END AS em4,
        |    CASE WHEN m4 IS NOT NULL AND (s3 IS NULL OR s3 + 150 <= w3)
        |      THEN m4 ELSE s3 END AS s4 FROM g3),
        |agg AS (SELECT
        |    sum(CASE WHEN m1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS u1,
        |    sum(em2)::BIGINT AS u2, sum(em3)::BIGINT AS u3,
        |    sum(em4)::BIGINT AS u4,
        |    sum(CASE WHEN m1 + 150 > 0 THEN 1 ELSE 0 END)::BIGINT AS t1,
        |    sum(CASE WHEN s2 + 150 > w2 THEN 1 ELSE 0 END)::BIGINT AS t2,
        |    sum(CASE WHEN s3 + 150 > w3 THEN 1 ELSE 0 END)::BIGINT AS t3,
        |    sum(CASE WHEN s4 + 150 > w4 THEN 1 ELSE 0 END)::BIGINT AS t4,
        |    sum(CASE WHEN s4 + 150 > w5 THEN 1 ELSE 0 END)::BIGINT AS t5
        |  FROM g4)
        |SELECT 1::BIGINT AS batch_seq, (SELECT n_in FROM bs WHERE b = 1) AS n_in,
        |  (SELECT dropped FROM dr WHERE b = 1) AS dropped_late,
        |  u1 AS new_keys, (0 + u1 - t1)::BIGINT AS evicted,
        |  t1 AS state_rows_total FROM agg
        |UNION ALL SELECT 2, (SELECT n_in FROM bs WHERE b = 2),
        |  (SELECT dropped FROM dr WHERE b = 2),
        |  u2, (t1 + u2 - t2)::BIGINT, t2 FROM agg
        |UNION ALL SELECT 3, (SELECT n_in FROM bs WHERE b = 3),
        |  (SELECT dropped FROM dr WHERE b = 3),
        |  u3, (t2 + u3 - t3)::BIGINT, t3 FROM agg
        |UNION ALL SELECT 4, (SELECT n_in FROM bs WHERE b = 4),
        |  (SELECT dropped FROM dr WHERE b = 4),
        |  u4, (t3 + u4 - t4)::BIGINT, t4 FROM agg
        |UNION ALL SELECT 5, 0::BIGINT, 0::BIGINT, 0::BIGINT,
        |  (t4 - t5)::BIGINT, t5 FROM agg
        |ORDER BY batch_seq""".stripMargin,

    // closed-form watermark recurrence over the ntile(4) fixture:
    // wm(j) = cummax of prior batches' max event time − 1 s (0 before
    // any data); batches drain in id order so the cummax is lag(mx)
    "streaming_watermark_lag" ->
      """WITH nt AS (SELECT doc_id, ntile(4) OVER (ORDER BY doc_id) AS b
        |  FROM documents),
        |g AS (SELECT b, count(*)::BIGINT AS n_rows, max(doc_id) AS mx
        |  FROM nt GROUP BY b),
        |w AS (SELECT b, n_rows, mx,
        |    coalesce(max(mx) OVER (ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 1, 0)
        |      AS wm
        |  FROM g)
        |SELECT b::BIGINT AS batch_seq, n_rows, mx AS max_event_s,
        |  wm::BIGINT AS watermark_s, (mx - wm)::BIGINT AS lag_s
        |FROM w ORDER BY batch_seq""".stripMargin,
    "streaming_windowed_counts" ->
      """SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "streaming_sliding_window" ->
      """WITH e AS (SELECT event_type,
        |    time_bucket(INTERVAL 3 HOUR, ts) AS b FROM events),
        |w AS (SELECT b AS win_start, event_type FROM e
        |  UNION ALL SELECT b - INTERVAL 3 HOUR, event_type FROM e)
        |SELECT win_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "streaming_topk_per_window" ->
      """WITH g AS (SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start,
        |    event_type, count(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT win_start, event_type, n, row_number() OVER (
        |    PARTITION BY win_start ORDER BY n DESC, event_type) AS rk FROM g)
        |SELECT win_start, event_type, n, rk::BIGINT AS rk FROM r
        |WHERE rk <= 2 ORDER BY win_start, rk""".stripMargin,
    "streaming_dim_join" ->
      """WITH dim(event_type, category) AS (VALUES
        |  ('click', 'engagement'), ('view', 'engagement'),
        |  ('purchase', 'commerce'), ('signup', 'commerce'),
        |  ('error', 'ops'))
        |SELECT category, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events JOIN dim USING (event_type)
        |GROUP BY category ORDER BY category""".stripMargin,
    "streaming_session_window" ->
      """WITH l AS (SELECT user_id, ts, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (SELECT user_id, ts, event_id,
        |  CASE WHEN prev_ts IS NULL
        |    OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |sess AS (SELECT user_id, ts,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f),
        |g AS (SELECT user_id, session_id, count(*) AS n,
        |  min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end
        |  FROM sess GROUP BY user_id, session_id),
        |wm AS (SELECT max(ts) - INTERVAL 10 SECOND AS w FROM events)
        |SELECT session_start, session_end, user_id, n
        |FROM g CROSS JOIN wm WHERE session_end <= w
        |ORDER BY user_id, session_start""".stripMargin,

    "streaming_dedup_watermark" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "streaming_stateful_milestones" ->
      """WITH c AS (SELECT user_id, event_id,
        |  floor(value * 100 + 0.5)::BIGINT AS cents,
        |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
        |  sum(floor(value * 100 + 0.5)::BIGINT) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM events)
        |SELECT user_id, count(*)::INT AS n_events,
        |  round(sum(cents) / 100.0, 2) AS total_value,
        |  arg_min(event_id, rn) FILTER (WHERE cum >= 5000) AS first_cross_event
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,

    // batch = file (maxFilesPerTrigger=1), so the per-batch try/catch
    // reduces to: a file containing any poisoned row lands whole as
    // 'failed', every other file as 'ok'
    "t4_foreachbatch_isolation" -> {
      val root = java.nio.file.Paths.get("target/graft_stream_fixtures/t4_batches")
        .toAbsolutePath.toString
      s"""WITH r AS (SELECT batch_key, event_id, amount_cents
         |  FROM read_json('$root/*.json',
         |    columns = {batch_key: 'VARCHAR', event_id: 'BIGINT', amount_cents: 'BIGINT'})),
         |f AS (SELECT batch_key, max(CASE WHEN amount_cents < 0 THEN 1 ELSE 0 END) AS bad
         |  FROM r GROUP BY batch_key)
         |SELECT r.batch_key, CASE WHEN bad = 1 THEN 'failed' ELSE 'ok' END AS status,
         |  count(*) AS n, sum(amount_cents)::BIGINT AS total_cents
         |FROM r JOIN f USING (batch_key)
         |GROUP BY r.batch_key, bad ORDER BY batch_key""".stripMargin
    },

    // row grain: each row's own validity decides its status
    "t4_row_isolation" -> {
      val root = java.nio.file.Paths.get("target/graft_stream_fixtures/t4_batches")
        .toAbsolutePath.toString
      s"""WITH r AS (SELECT batch_key, event_id, amount_cents
         |  FROM read_json('$root/*.json',
         |    columns = {batch_key: 'VARCHAR', event_id: 'BIGINT', amount_cents: 'BIGINT'}))
         |SELECT batch_key,
         |  CASE WHEN amount_cents IS NULL OR amount_cents < 0 THEN 'failed' ELSE 'ok' END AS status,
         |  count(*) AS n, sum(amount_cents)::BIGINT AS total_cents
         |FROM r GROUP BY 1, 2 ORDER BY batch_key, status""".stripMargin
    },

    // single-batch drain ⇒ emitted pairs = the batch interval join
    "streaming_stream_stream_join" ->
      """SELECT c.user_id, count(*) AS n_pairs,
        |count(DISTINCT c.event_id) AS n_clicks_attributed,
        |round(sum(p.value), 2) AS attributed_value
        |FROM events c JOIN events p
        |ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    // The null-extended rows are gated on the FINAL GLOBAL WATERMARK:
    // min over both streams of (max event time − 1 h). An unmatched
    // click emits iff its whole match window [ts, ts+1 h] lies below
    // that watermark — the exact eviction rule of Spark's outer
    // interval join, verified empirically at two SFs (the discriminant
    // row set differs from ts<wm by 2 rows at sf0.01).
    "streaming_ss_left_outer" ->
      """WITH wmv AS (SELECT least(
        |    max(ts) FILTER (WHERE event_type = 'click'),
        |    max(ts) FILTER (WHERE event_type = 'purchase'))
        |    - INTERVAL 1 HOUR AS wm FROM events),
        |m AS (SELECT c.user_id, c.ts, p.ts AS pts, p.value AS pv
        |  FROM events c LEFT JOIN events p
        |  ON c.user_id = p.user_id AND p.event_type = 'purchase'
        |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |  WHERE c.event_type = 'click'),
        |keep AS (SELECT * FROM m, wmv
        |  WHERE pts IS NOT NULL OR m.ts + INTERVAL 1 HOUR < wm)
        |SELECT user_id, count(*)::BIGINT AS n_rows,
        |  count(pts)::BIGINT AS n_matched,
        |  (count(*) - count(pts))::BIGINT AS n_unconverted,
        |  round(sum(coalesce(pv, 0.0)), 2) AS attributed_value
        |FROM keep GROUP BY user_id ORDER BY user_id""".stripMargin,

    "streaming_foreachbatch_merge" -> {
      val root = java.nio.file.Paths.get("target/graft_stream_fixtures/t4_batches")
        .toAbsolutePath.toString
      s"""SELECT batch_key, count(*) AS n_rows,
         |sum(amount_cents)::BIGINT AS total_cents,
         |max(event_id) AS last_event_id
         |FROM read_json('$root/*.json',
         |  columns = {batch_key: 'VARCHAR', event_id: 'BIGINT', amount_cents: 'BIGINT'})
         |GROUP BY batch_key ORDER BY batch_key""".stripMargin
    },

    "t5_observe_metrics" ->
      """SELECT count(*)::BIGINT AS n_docs,
        |count(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 1 END)::BIGINT AS n_failed,
        |count(CASE WHEN text IS NOT NULL AND length(trim(text)) > 0 THEN 1 END)::BIGINT AS n_ok,
        |sum(n_chars)::BIGINT AS total_chars FROM documents""".stripMargin
  )
}
