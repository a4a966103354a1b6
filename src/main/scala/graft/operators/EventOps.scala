package graft.operators

import graft.Tables
import graft.api.Pins.PinSyntax
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream analytics in batch-checkable form (SURVEY.md §2.10, §2.4).
  *
  * The reference's "streaming" is a poll loop with a downloaded-keys state
  * set (`/root/reference/src/main.py:133-158`, `aws_bucket.py:55-68`); the
  * idiomatic Spark generalizations over the `events` table are: tumbling
  * event-time windows, gap-based sessionization, exactly-once keyed dedup
  * (T2), and JSON property extraction (C14, the `downloaded_files.json` /
  * `props` shape). The true Structured Streaming form of T1-T3 lives in
  * [[graft.streaming.StreamingOps]]; these batch forms are the
  * DuckDB-oracle-checkable semantics.
  *
  * Scale notes: tumbling windows and sessionization both shuffle once on
  * their natural key (window start / user_id). Sessionization's window
  * functions run inside one partition per user — no cross-user state. At
  * 100 TB the events table would be date-partitioned parquet so the window
  * queries prune to the partitions in range before any shuffle.
  */
object EventOps {

  /** Allen-relation classifier over proper intervals X=[xs,xe],
    * Y=[ys,ye] — ONE ladder, interpolated into both the Spark
    * expression and the DuckDB oracle so branch order is single-
    * sourced. Exhaustive for xs<xe, ys<ye: the endpoint-equality
    * relations come first, then the disjoint/touching ones, then the
    * strict-containment pair; what remains is an overlap, signed by
    * which interval starts first. */
  private[operators] val allenCaseSql: String =
    """CASE
      | WHEN xs = ys AND xe = ye THEN 'equals'
      | WHEN xs = ys AND xe < ye THEN 'starts'
      | WHEN xs = ys THEN 'started_by'
      | WHEN xe = ye AND xs > ys THEN 'finishes'
      | WHEN xe = ye THEN 'finished_by'
      | WHEN xe < ys THEN 'before'
      | WHEN xs > ye THEN 'after'
      | WHEN xe = ys THEN 'meets'
      | WHEN xs = ye THEN 'met_by'
      | WHEN xs > ys AND xe < ye THEN 'during'
      | WHEN xs < ys AND xe > ye THEN 'contains'
      | WHEN xs < ys THEN 'overlaps'
      | ELSE 'overlapped_by' END""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // Tumbling 1-hour window counts (idiomatic T1; oracle via date_trunc).
    "t1_tumbling_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("HOUR", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value")), 2).as("total_value"),
             countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("hour"))),

    // T2: exactly-once keyed dedup — first event per user by (ts, event_id).
    "t2_dedup_first" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy(col("user_id"))),

    // Gap-based sessionization (W1 generalized, 30-min inactivity gap):
    // lag → new-session flag → running sum = session id → per-session agg.
    "sessionize_30m" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("is_new",
          // exact integer microseconds on both sides (DuckDB epoch_us):
          // sub-second truncation must not decide session boundaries.
          when(col("prev_ts").isNull ||
               unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("session_start"),
             max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Generalized as-of join (J1's shape freed from the transcript
    // fixtures): each click is decorated with the user's most recent
    // purchase at-or-before it. Implemented as the union-sort trick —
    // tag both sides, ONE shuffle on user_id, carry the right side
    // forward with last(ignoreNulls) — instead of a per-row range join.
    // At 100 TB this is the only shape that survives: a range join is
    // O(clicks × purchases) per user and un-broadcastable when both
    // sides are large; the union form is a single sort-based window
    // pass with shuffle volume = |clicks| + |purchases|, no join
    // explosion, and AQE-coalescible output. (user_id, ts) is unique
    // in the events table, so ordering by (ts, event_id) is total and
    // the carried value is deterministic. Since r8 this rides the
    // extracted Graft.mergeAsof facade (one union-sort shuffle, same
    // plan as before — the discipline now lives in ONE place).
    "asof_join_events" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.api.Graft.mergeAsof(clicks, purchases, "user_id", "ts", "event_id",
          Seq("ts", "value"), direction = "backward")
        // -1.0 sentinel for "no prior purchase": NULL doubles round-trip
        // as NaN through pandas/parquet and NaN != NaN in any value
        // comparator; the NULL timestamp is fine (stringifies stably).
        .select(col("event_id"), col("user_id"), col("ts"),
                col("asof_ts").as("last_purchase_ts"),
                coalesce(col("asof_value"), lit(-1.0)).as("last_purchase_value"))
        .orderBy(col("event_id"))
    }),

    // C14: JSON property extraction (events.props `{"k": 87}` shape,
    // mirrors aws_bucket.py:58-68 / transcription.py:351 JSON staging).
    "c14_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("k")).as("sum_k"),
             round(avg(col("k")), 2).as("avg_k"))
        .orderBy(col("event_type"))),

    // Exact percentiles (continuous interpolation — same definition as
    // DuckDB quantile_cont): distributional stats per event type, the
    // agg family the reference's census scripts lack entirely.
    "a_percentiles" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
             round(expr("percentile(value, 0.9)"), 6).as("p90"),
             round(min(col("value")), 6).as("vmin"),
             round(max(col("value")), 6).as("vmax"))
        .orderBy(col("event_type"))),

    // Event-type transition matrix (first-order Markov counts): per-user
    // lead() over event time, then a count per (from, to) pair with each
    // row's share of its source state. The per-user window shuffle is
    // the only data-scale exchange; the transition matrix itself is
    // |types|² rows.
    "event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      trans
        .withColumn("row_total", sum(col("n")).over(
          Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("next_type"), col("n"),
          round(col("n").cast("double") / col("row_total"), 6).as("p"))
        .orderBy(col("event_type"), col("next_type"))
    }),

    // Market-basket co-occurrence: for every unordered pair of event
    // types, how many users emitted BOTH — the support table behind
    // association mining / "users who did X also did Y".
    // Scale: the self-join is blocked on user_id AFTER a distinct that
    // caps each user at |type-domain| rows, so the quadratic factor is
    // bounded by the (small, fixed) type vocabulary, never by a user's
    // event volume; both sides share one shuffle partitioning. Output
    // is ≤ |types|² rows.
    "a_cooccurrence_types" -> ((s, dir) => {
      val ut = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
                 col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // RANGE-frame sliding window: per event, the user's trailing-1-hour
    // value sum — the frame is bounded by the ORDER-BY VALUE (epoch
    // seconds), not row position, so irregular event spacing is handled
    // exactly. Partitioned by user: bounded per-key state, horizontal
    // scale; the sum is integer cents so the running total is
    // order-independent and oracle-exact.
    "w_sliding_hour_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("epoch_s"))
        .rangeBetween(-3600L, 0L)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) div 1000000").as("epoch_s"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .withColumn("trailing_1h_cents", sum(col("cents")).over(w))
        .select(col("event_id"), col("user_id"), col("epoch_s"),
                col("trailing_1h_cents"))
        .orderBy(col("event_id"))
    }),

    // PIVOT: per-user event-type counts as columns. The value list is
    // EXPLICIT — with it, pivot is one pass of conditional aggregates
    // (no extra distinct-values job, and the schema is static, which is
    // what makes the op sane at scale and the oracle expressible).
    "pivot_user_event_matrix" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count().na.fill(0L)
        .orderBy(col("user_id"))),

    // UNPIVOT (melt): per-type value stats back to long form — the
    // inverse reshape, an Expand node (rows×measures), no shuffle beyond
    // the input aggregate.
    "unpivot_value_stats" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(round(min(col("value")), 6).as("v_min"),
             round(avg(col("value")), 6).as("v_avg"),
             round(max(col("value")), 6).as("v_max"))
        .unpivot(Array(col("event_type")),
                 Array(col("v_min"), col("v_avg"), col("v_max")),
                 "stat", "value")
        .orderBy(col("event_type"), col("stat"))),

    // Sketch aggregates under a CONTRACT oracle: HLL distinct counts and
    // t-digest/KLL quantiles differ sketch-by-sketch across engines, so
    // the comparable output is the error-bound CLAIM, not the estimate —
    // each engine checks its own approximation against its own exact
    // value. At 100 TB these sketches replace exact countDistinct's
    // expand pass and exact percentile's per-group sort: both become
    // constant-size mergeable state. (SCALE.md §2's "swap for HLL at
    // extreme cardinality", made runnable.)
    "a_approx_sketch_contract" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
             // rsd 2%: the default 5%-rsd sketch can land outside the 5%
             // CONTRACT at mid cardinalities (observed at 1500 users);
             // the checked claim needs headroom over the sketch's rsd
             approx_count_distinct(col("user_id"), 0.02).as("n_approx"),
             expr("percentile(value, 0.5)").as("p50_exact"),
             expr("percentile_approx(value, 0.5, 10000)").as("p50_approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) <= col("n_exact") * 0.05)
            .cast("int").as("cd_within_5pct"),
          (abs(col("p50_approx") - col("p50_exact")) <= abs(col("p50_exact")) * 0.05)
            .cast("int").as("p50_within_5pct"))
        .orderBy(col("event_type"))),

    // Day-over-day retention: for each day, how many active users return
    // the next day. One distinct pass to (day, user), one per-user window
    // for the next active day, one aggregate — the canonical cohort shape.
    // Scale: the distinct collapses events to at most |users|×|days| rows
    // BEFORE the user-keyed window shuffle; nothing downstream sees raw
    // event volume.
    "retention_daily" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      daily.withColumn("next_day", lead(col("day"), 1).over(w))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
             sum(when(col("next_day") === date_add(col("day"), 1), 1).otherwise(0))
               .as("n_retained"))
        .select(col("day"), col("n_active"), col("n_retained"),
          round(col("n_retained").cast("double") / col("n_active"), 6).as("retention"))
        .orderBy(col("day"))
    }),

    // Ordered funnel: signup → first view at-or-after signup → first
    // purchase at-or-after that view. Each stage is a per-user min-ts
    // aggregate joined to the next stage's events — stage outputs are
    // user-cardinality (tiny vs events), so they broadcast and the event
    // scan is filtered by type before any join.
    "funnel_signup_view_purchase" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_type"))
      // PINNED (r15 opt, guide §2.4): su/vi each feed the next stage's
      // join AND their census row — un-pinned each consumer re-scanned
      // events (6 scans in the ledger). Per-user 1-row frames.
      val su = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
        .pin(eager = false)
      val vi = e.filter(col("event_type") === "view")
        .join(broadcast(su), "user_id")
        .filter(col("ts") >= col("signup_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("view_ts"))
        .pin(eager = false)
      val pu = e.filter(col("event_type") === "purchase")
        .join(broadcast(vi), "user_id")
        .filter(col("ts") >= col("view_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
      su.agg(count(lit(1)).as("n_signup"))
        .crossJoin(broadcast(vi.agg(count(lit(1)).as("n_viewed"))))
        .crossJoin(broadcast(pu.agg(count(lit(1)).as("n_purchased"))))
        .select(col("n_signup"), col("n_viewed"), col("n_purchased"),
          round(col("n_purchased").cast("double") / col("n_signup"), 6)
            .as("conversion"))
    }),

    // A7: order-sensitive string-concat aggregate (transcription.py:207-208
    // " ".join over chunks in order) — event-type journey per user.
    "a7_ordered_concat" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id") < 10)
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), ">").as("journey"))
        .orderBy(col("user_id"))),

    // SCD2 dimension build: collapse the event stream into slowly-
    // changing "current state" periods per user — one row per state
    // CHANGE with [valid_from, valid_to) effective ranges and an
    // is_current flag (valid_to NULL). The standard warehouse
    // dimension-maintenance shape: change detection is one lag() per
    // user partition, range assembly one lead() on the change rows —
    // two partitioned windows, per-key state, horizontal scale. The
    // change_event_id column keeps lineage AND makes row identity
    // deterministic under timestamp ties.
    "scd2_user_state" -> ((s, dir) =>
      graft.api.Graft.scd2(Tables.events(s, dir).filter(col("user_id") < 20),
          "user_id", "ts", "event_id", "event_type")
        .withColumnRenamed("change_id", "change_event_id")
        .orderBy(col("user_id"), col("valid_from"), col("change_event_id"))),

    // Incremental SCD2 merge — the lakehouse MERGE INTO: a dimension
    // built from events up to a cutoff (midpoint of the time range,
    // derived as a 1-row broadcast scalar) absorbs the post-cutoff
    // delta WITHOUT recomputing history. Untouched keys pass through
    // by anti join; for delta keys only the CURRENT row is reopened as
    // a pseudo-event and re-run through scd2 together with that key's
    // delta — scd2 is prefix-decomposable from the last change row, so
    // the tail reproduces exactly what a full rebuild would emit, and
    // the ORACLE IS THE FULL REBUILD (same SQL as scd2_user_state):
    // incremental ≡ batch is the asserted contract, not a hope. At
    // 100 TB the nightly merge cost is ∝ |delta| + |delta keys'
    // current rows| — the dimension's closed history never reshuffles.
    // Lineage note (r11 verdict #6 sweep): ev feeds three consumers
    // (cut, hist, delta) and dim three more (untouched, closedHist,
    // seed) — un-checkpointed, every consumer re-planned the events
    // scan and the ledger showed FOURTEEN scans. Two lazy checkpoints
    // (the 20-user event slice; the |changes|-row dimension) pin each
    // once. Single-partition census: the SinglePartition exchanges are
    // the 1-row cutoff scalar and the per-partition partials feeding
    // it; the BroadcastNestedLoopJoins are all crossJoin(broadcast(
    // 1-row cut)) — bounded by construction, never data-sized.
    "scd2_incremental_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("user_id") < 20)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .pin(eager = false)
      val cut = ev.agg(
        expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").as("cut"))
      val evC = ev.crossJoin(broadcast(cut))
      val hist = evC.filter(unix_micros(col("ts")) <= col("cut")).drop("cut")
      val delta = evC.filter(unix_micros(col("ts")) > col("cut")).drop("cut")
      val dim = graft.api.Graft.scd2(hist, "user_id", "ts", "event_id", "event_type")
        .pin(eager = false)
      val deltaKeys = delta.select(col("user_id")).distinct()
      val untouched = dim.join(deltaKeys, Seq("user_id"), "left_anti")
      val affected = dim.join(deltaKeys, Seq("user_id"), "left_semi")
      val closedHist = affected.filter(col("is_current") === 0)
      val seed = affected.filter(col("is_current") === 1)
        .select(col("user_id"), col("valid_from").as("ts"),
                col("change_id").as("event_id"), col("event_type"))
      val tail = graft.api.Graft.scd2(
        seed.unionByName(delta), "user_id", "ts", "event_id", "event_type")
      untouched.unionByName(closedHist).unionByName(tail)
        .withColumnRenamed("change_id", "change_event_id")
        .orderBy(col("user_id"), col("valid_from"), col("change_event_id"))
    }),

    // Telemetry debounce: drop events arriving within 6 h of the
    // previous event of the same (user, type) — the duplicate-burst
    // cleaner every event pipeline runs before sessionization. Gap is
    // measured to the previous RAW event (one lag, stateless per row);
    // the chained-to-previous-KEPT variant needs the stateful walk
    // (`streaming_stateful_milestones` machinery). Integer microsecond
    // arithmetic; reported as a per-type census.
    "event_debounce" -> ((s, dir) =>
      graft.api.Graft.debounce(Tables.events(s, dir),
          "user_id", "event_type", "ts", "event_id", gapMicros = 21600L * 1000000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"), sum(col("keep").cast("long")).as("n_kept"))
        .orderBy(col("event_type"))),

    // J5 interval (range) join: count events falling inside irregular
    // time windows — the op Spark has no native operator for (a raw
    // `a.ts BETWEEN b.start AND b.end` join plans BroadcastNestedLoop /
    // Cartesian). The scalable decomposition: explode each interval
    // into the 1-hour BUCKETS it touches (intervals here span ≤ 2
    // buckets), key events by their bucket, EQUI-join on the bucket,
    // re-check the exact range. Pair blowup is bounded by
    // buckets-per-interval, the join hash-partitions on the bucket key,
    // and the plan never degenerates to a nested loop — same trick at
    // 100 TB with both sides large (broadcast handles the small-window
    // case; the bucket key is what saves the big-big case). Window set
    // is a deterministic fixture derived from min(ts): 20 windows,
    // irregular spacing/length, all integer epoch-second arithmetic.
    // Point-in-time (feature-store) join — the lookup every offline
    // feature pipeline needs: each fact row joined to the dimension
    // VERSION that was valid at the fact's event time, against the
    // SCD2 ranges scd2_user_state builds (half-open [valid_from,
    // valid_to) intervals partition each key's timeline, so every fact
    // matches EXACTLY one version — conservation spec-asserted; a
    // training-serving skew bug is exactly a violation of this join).
    // Plan: user-key equi-join with the range predicate as a join
    // filter — per-key version counts are bounded, so no interval
    // machinery is needed; at 100 TB the dimension is the smaller side
    // and broadcasts or co-partitions on the key either way.
    "j_point_in_time" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("user_id") < 20)
      val dim = graft.api.Graft
        .scd2(ev, "user_id", "ts", "event_id", "event_type")
        .select(col("user_id"), col("event_type").as("state"),
                col("valid_from"), col("valid_to"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
                floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      facts.join(dim, Seq("user_id"))
        .filter(col("valid_from") <= col("p_ts") &&
                (col("valid_to").isNull || col("p_ts") < col("valid_to")))
        .groupBy(col("user_id"), col("state"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
        .orderBy(col("user_id"), col("state"))
    }),

    "j5_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
                expr("unix_micros(ts) div 1000000").as("es"))
      // 1-row scalar broadcast (house pattern — the funnel fixture):
      // Catalyst constant-folds any dummy equi key away, so this is a
      // BroadcastNestedLoopJoin of exactly one row per side-table row
      val t0 = ev.agg(expr("min(es) div 86400 * 86400").as("t0"))
      val wins = s.range(20).select(col("id").as("window_id"))
        .crossJoin(broadcast(t0))
        .select(col("window_id"), (col("t0") + col("window_id") * 4831L).as("w_start"))
        .withColumn("w_end",
          col("w_start") + (pmod(col("window_id"), lit(7)) + 1) * 600L)
      val joined = graft.api.Graft
        .intervalJoin(ev, wins, "es", "w_start", "w_end", bucketSeconds = 3600L)
        .groupBy(col("window_id"))
        .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      wins.join(joined, Seq("window_id"), "left")
        .select(col("window_id"), col("w_start"), col("w_end"),
                coalesce(col("n_events"), lit(0L)).as("n_events"),
                coalesce(col("n_users"), lit(0L)).as("n_users"))
        .orderBy(col("window_id"))
    }),

    // Salted shuffle join — the standing skew-mitigation recipe for the
    // case AQE's skew-join split can't reach (a single hot key inside
    // one shuffle block, e.g. the null-user or a viral doc at 100 TB):
    // replicate the DIM side across `nSalt` deterministic salts and key
    // the PROBE side by `pmod(xxhash64(row_id), nSalt)`, so one hot
    // join key's rows spread over `nSalt` reducers instead of one. Each
    // probe row still meets exactly the one dim replica with its salt —
    // the join RESULT is identical to the unsalted join, which is the
    // oracle; only the partition layout changes. The shuffle_hash hint
    // pins the shuffled join (a broadcast would make salting moot —
    // at real scale the dim is too big to broadcast, which is when you
    // reach for this). Cost: dim ×nSalt replication — bounded, chosen
    // per observed skew ratio.
    "j_skew_salted_join" -> ((s, dir) => {
      val nSalt = 8
      val ev = Tables.events(s, dir)
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
      val saltedDim = signup.crossJoin(
        s.range(nSalt).select(col("id").cast("int").as("salt")))
      val probe = ev.withColumn("salt",
        pmod(xxhash64(col("event_id")), lit(nSalt)).cast("int"))
      probe.join(saltedDim.hint("shuffle_hash"), Seq("user_id", "salt"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(when(col("ts") >= col("signup_ts"), 1).otherwise(0))
               .as("n_after_signup"))
        .orderBy(col("event_type"))
    }),

    // Incremental materialized-view maintenance: the MV (per-type/day
    // counters) is refreshed by MERGING the delta batch's partial
    // aggregate into the existing MV — never by rescanning history.
    // Here the corpus is split into two ingest batches (event_id
    // parity) so EVERY key genuinely merges two partials, and the sums
    // are exact integer cents, so merge order can never change a bit.
    // This additive-merge contract is what makes the refresh cost
    // O(delta) at 100 TB; non-additive aggregates (distinct users)
    // would carry a mergeable sketch instead. Oracle = the full
    // rebuild, so incremental ≡ rebuild is gate-asserted.
    "mv_incremental_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      def mv(df: DataFrame): DataFrame =
        df.groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      val base  = mv(ev.filter(col("event_id") % 2 === 0)) // prior MV state
      val delta = mv(ev.filter(col("event_id") % 2 =!= 0)) // new batch
      base.unionByName(delta)
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Incremental maintenance of a DISTINCT-COUNT view via the
    // mergeable-sketch contract — the third IVM delta rule after
    // mv_incremental_agg (additive) and mv_incremental_join (join
    // deltas): COUNT DISTINCT is NOT additive, so the maintained state
    // is the HLL register table (StatSketchOps.hllRegisters), whose
    // merge is per-register max — associative, commutative,
    // idempotent, so ANY batch split refreshes to the identical
    // registers a full rebuild produces. Three event_id-mod batches
    // each sketch independently (the per-refresh O(Δ) path), merge by
    // max, and the query emits merged estimate next to the
    // direct-build estimate plus a register-equality count —
    // registers_diff = 0 IS the merge law, gate-checked on both
    // engines. At 100 TB the state is 64 rows per group, the refresh
    // touches only the delta's rows, and the exact recount never runs.
    "mv_incremental_hll" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
                (col("event_id") % 3).as("b"))
      val byBatch = StatSketchOps.hllRegisters(
          ev.withColumn("__bk", concat(col("event_type"), lit(":"),
            col("b").cast("string"))),
          col("__bk"), col("user_id"))
        .withColumn("event_type",
          substring_index(col("__k"), ":", 1))
        .groupBy(col("event_type"), col("r"))
        .agg(max(col("m")).as("m")) // the IVM merge: per-register max
        // PINNED (r15 opt, guide §2.4): byBatch/direct each feed two
        // consumers (register diff + estimate) — un-pinned, every
        // consumer re-sketched the events table (10 scans in the
        // before-plan). Both are |types|×64-row register tables.
        .pin(eager = false)
      val direct = StatSketchOps.hllRegisters(ev, col("event_type"), col("user_id"))
        .select(col("__k").as("event_type"), col("r"), col("m").as("m_d"))
        .pin(eager = false)
      val diff = byBatch.join(direct,
          byBatch("event_type") === direct("event_type") &&
          byBatch("r") === direct("r"), "full_outer")
        .groupBy(coalesce(byBatch("event_type"), direct("event_type")).as("event_type"))
        .agg(sum(when(col("m") <=> col("m_d"), 0L).otherwise(1L)).as("registers_diff"))
      val estI = StatSketchOps.hllEstimate(
          byBatch.select(col("event_type").as("__k"), col("r"), col("m")))
        .select(col("__k").as("event_type"), col("v_regs"),
                col("hll_est").as("hll_incr"))
      val estD = StatSketchOps.hllEstimate(
          direct.select(col("event_type").as("__k"), col("r"),
            col("m_d").as("m")))
        .select(col("__k").as("event_type"), col("hll_est").as("hll_direct"))
      val exact = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      estI.join(estD, "event_type").join(diff, "event_type")
        .join(exact, "event_type")
        .select(col("event_type"), col("v_regs"), col("hll_incr"),
                col("hll_direct"), col("registers_diff"), col("exact_distinct"))
        .orderBy(col("event_type"))
    }),

    // Incremental maintenance of a JOIN view — the delta rule
    // mv_incremental_agg's additive merge cannot express: for
    // J = A ⋈ B, the refresh is ΔJ = ΔA⋈B ∪ A_old⋈ΔB ∪ ΔA⋈ΔB (three
    // delta-sized joins, never a rescan of J). Here the view is
    // "click with a same-user purchase that day" (clicks ⋈ purchases
    // on (user, day)), the corpus splits into old/new batches by
    // event_id parity so every term is non-trivially exercised, and
    // the maintained view's per-day census is gate-compared against
    // the full recompute — incremental ≡ rebuild, the contract that
    // makes the refresh O(Δ) at 100 TB. All joins key on (user, day):
    // the delta sides broadcast in practice; nothing re-shuffles the
    // historical join output.
    "mv_incremental_join" -> ((s, dir) => {
      // PINNED (r15 opt, guide §2.4): the four batch sides and three
      // delta joins each re-scanned events (8 scans in the ledger);
      // one narrow projection checkpoint serves all of them. r16
      // (VERDICT r15 #2): this is the ENTIRE events table (4 columns)
      // — size-guarded, so at corpus scale the pruned re-scans are
      // kept instead of a non-replicated full-fact pin (guide §5).
      val ev = graft.api.Pins.bounded(Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .select(col("user_id"), col("day"), col("event_id"), col("event_type")))
      def side(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"), col("day"), col("event_id"))
      val (cOld, cNew) = (side("click").filter(col("event_id") % 2 === 0),
                          side("click").filter(col("event_id") % 2 =!= 0))
      val (pOld, pNew) = (side("purchase").filter(col("event_id") % 2 === 0),
                          side("purchase").filter(col("event_id") % 2 =!= 0))
      def j(c: DataFrame, p: DataFrame): DataFrame =
        c.select(col("user_id"), col("day"), col("event_id").as("cid"))
          .join(p.select(col("user_id"), col("day"), col("event_id").as("pid")),
            Seq("user_id", "day"))
      val jOld = j(cOld, pOld)
      val delta = j(cNew, pOld).unionByName(j(cOld, pNew)).unionByName(j(cNew, pNew))
      jOld.unionByName(delta)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_pairs"),
             countDistinct(col("cid")).as("n_clicks_joined"),
             countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("day"))
    }),

    // Linear multi-touch attribution: each purchase's value is split
    // equally across the user's clicks in the preceding hour (the
    // window count is per purchase, so weights sum to the purchase
    // value exactly). The pair space is bounded by the user_id
    // equi-join (hash join, one shuffle per side) and then cut by the
    // hour window — never a global clicks×purchases product; a hot
    // user would fall back to J5's interval-bucket decomposition.
    // U-shaped (position-based 40/20/40) multi-touch attribution — the
    // second standard credit model beside j_multitouch_attribution's
    // linear split: first and last touch get 40% each, middles share
    // the remaining 20%. Credit is EXACT integer basis points of
    // integer cents (credited_e4 = cents × bps — no division anywhere):
    // k=1 → 10000; k=2 → 5000/5000; k≥3 → 4000 / 2000 div (k−2) per
    // middle / 4000 + the middle remainder on the LAST touch, so every
    // purchase's credits sum to cents·10000 EXACTLY (conservation is
    // arithmetic, not rounding-hope; spec-asserted). Same bounded
    // interval join as the linear model (≤1 h of clicks per purchase),
    // one rank window per purchase, aggregates by user.
    "e_position_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
                col("ts").as("pts"),
                floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))
      val pairs = purchases.join(clicks, Seq("user_id"))
        .filter(col("cts") >= col("pts") - expr("interval 1 hour") &&
                col("cts") < col("pts"))
      val wp = Window.partitionBy(col("pid"))
      pairs
        .withColumn("rk", row_number().over(wp.orderBy(col("cts"), col("cid"))))
        .withColumn("k", count(lit(1)).over(wp))
        .withColumn("bps", expr(
          """CASE WHEN k = 1 THEN 10000
            |     WHEN k = 2 THEN 5000
            |     WHEN rk = 1 THEN 4000
            |     WHEN rk = k THEN 4000 + 2000 % (k - 2)
            |     ELSE 2000 div (k - 2) END""".stripMargin).cast("long"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_touches"),
             sum(col("cents") * col("bps")).as("attributed_c_e4"),
             sum(when(col("rk") === 1 || col("rk") === col("k"),
               col("cents") * col("bps")).otherwise(0L)).as("endpoint_c_e4"))
        .orderBy(col("user_id"))
    }),

    "j_multitouch_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
                col("ts").as("pts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"),
                col("event_id").as("cid"))
      val pairs = purchases.join(clicks, Seq("user_id"))
        .filter(col("cts") >= col("pts") - expr("interval 1 hour") &&
                col("cts") < col("pts"))
      pairs
        .withColumn("n_c", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_touches"),
             round(sum(col("value") / col("n_c")), 2).as("attributed_value"))
        .orderBy(col("user_id"))
    }),

    // Ranking-window completeness sweep (§2.5): rank, dense_rank,
    // percent_rank, cume_dist, ntile and nth_value over one totally-
    // ordered per-type window (the (value, event_id) tiebreak makes
    // every function deterministic and the default RANGE frame
    // peer-free). One shuffle on the partition key, as any window.
    "w_rank_family" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir).filter(col("user_id") < 20)
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("prank", round(percent_rank().over(w), 6))
        .withColumn("cdist", round(cume_dist().over(w), 6))
        .withColumn("ntile4", ntile(4).over(w).cast("long"))
        // the first two rows of each partition have no 3rd frame row:
        // pin the NULL to -1 so the oracle compare never sees NaN
        .withColumn("nth3", coalesce(nth_value(col("event_id"), 3).over(w), lit(-1L)))
        .orderBy(col("event_type"), col("rnk"))
    }),

    // Statistical-moment aggregates (§2.4 completeness): exact-
    // interpolation median plus sample stddev/variance/corr/covariance
    // — all order-insensitive closed forms, so a 6-dp round absorbs
    // the cross-engine summation-order ulps (the a_percentiles
    // discipline). Map-side partials for everything but median, which
    // shuffles the group's values once.
    "a_stats_moments" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(round(median(col("value")), 6).as("med"),
             round(stddev_samp(col("value")), 6).as("sd"),
             round(var_samp(col("value")), 6).as("vr"),
             round(corr(col("value"), col("user_id").cast("double")), 6).as("corr_vu"),
             round(covar_samp(col("value"), col("user_id").cast("double")), 6).as("cov_vu"))
        .orderBy(col("event_type"))),

    // Exact money aggregation — the production form of this repo's
    // e6/e2 integer-quantization idiom, made environment-proof (r7
    // verdict #1). The round-7 form cast DOUBLE→DECIMAL(18,2) in both
    // engines and relied on the two engines resolving .005 cast ties
    // the same way — which DuckDB changed across versions, flipping
    // the gate hash while the values stayed bit-identical locally.
    // Fix: quantize to integer minor units with ONE shared IEEE
    // formula, floor(x*100 + 0.5)::BIGINT, on both sides, and never
    // cast a double to decimal anywhere. Sums stay BIGINT (exact,
    // associative, order-insensitive); the discounted revenue is kept
    // in 1e-4-dollar units so price_c*(100-disc_c) is a pure integer
    // product. Presentation-layer /100 division is display concern,
    // not correctness, so it stays out of the query. At ~1e12+ rows
    // the BIGINT cents sum approaches 2^63: switch the final sum (and
    // only it) to sum(cast(c as decimal(38,0))) — integer→decimal is
    // exact with no tie to round, so the idiom survives the widening.
    // DecimalTieSpec asserts no input is a .005 tie at this SF.
    "a_decimal_exact_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * lit(100d) + lit(0.5d)).cast("long").as("price_c"),
          floor(col("l_discount") * lit(100d) + lit(0.5d)).cast("long").as("disc_c"),
          floor(col("l_quantity") * lit(100d) + lit(0.5d)).cast("long").as("qty_c"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("price_c")).as("sum_price_c"),
             sum(col("price_c") * (lit(100L) - col("disc_c"))).as("sum_disc_price_e4"),
             sum(col("qty_c")).as("sum_qty_c"),
             count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // Union-of-intervals coverage: total distinct time each user is
    // "active" when every event opens a 30-minute activity interval —
    // overlaps merge, so the measure is the union length, not n×30min.
    // The classic sweep (sort, carry running max(end), cut an island
    // when the next start clears it) becomes two window passes + one
    // aggregation, all partitioned by user — one shuffle, no self-join,
    // state O(1) per row. Integer microseconds end to end: exact.
    "w_interval_coverage" -> ((s, dir) => {
      val byStart = Window.partitionBy(col("user_id"))
        .orderBy(col("s"), col("event_id"))
      val iv = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
                unix_micros(col("ts")).as("s"),
                (unix_micros(col("ts")) + lit(1800000000L)).as("e"))
      iv.withColumn("pmax",
          max(col("e")).over(byStart.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("cut",
          when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
        .withColumn("island",
          sum(col("cut")).over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("island"))
        .agg((max(col("e")) - min(col("s"))).as("len"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"), sum(col("len")).as("covered_us"))
        .orderBy(col("user_id"))
    }),

    // Tukey IQR fences per event type — the boxplot convention next to
    // anomaly_mad_outliers' MAD gate (two robust-outlier dialects, two
    // different breakdown behaviors; ops teams want both columns before
    // picking an alert rule). Q1/Q3 are exact order statistics off one
    // cents histogram (smallest c with 4·cum ≥ n / ≥ 3n — the
    // true_median_c convention), and the 1.5×IQR fences never leave
    // integers: a row is an outlier iff 2c < 2·Q1 − 3·IQR or
    // 2c > 2·Q3 + 3·IQR (everything doubled, so the ×1.5 is exact).
    // Scale: the histogram is the value-domain-bounded aggregate; the
    // fence test joins the |types|-row quartile table broadcast back
    // onto the same histogram, never onto raw rows.
    "anomaly_iqr_fences" -> ((s, dir) => {
      val h = Tables.events(s, dir)
        .select(col("event_type"), floor(col("value") * 100 + 0.5)
          .cast("long").as("c"))
        .groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("event_type")).orderBy(col("c"))))
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy(col("event_type"))))
      val q = h.groupBy(col("event_type"))
        .agg(min(when(col("cum") * 4 >= col("n"), col("c"))).as("q1_c"),
             min(when(col("cum") * 4 >= col("n") * 3, col("c"))).as("q3_c"),
             max(col("n")).as("n"))
        .withColumn("iqr_c", col("q3_c") - col("q1_c"))
      h.select(col("event_type"), col("c"), col("cnt")) // drop h's cum/n
        .join(broadcast(q), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("q1_c")).as("q1_c"), max(col("q3_c")).as("q3_c"),
             max(col("iqr_c")).as("iqr_c"), max(col("n")).as("n"),
             sum(when(col("c") * 2 < col("q1_c") * 2 - col("iqr_c") * 3,
               col("cnt")).otherwise(0L)).as("n_lo"),
             sum(when(col("c") * 2 > col("q3_c") * 2 + col("iqr_c") * 3,
               col("cnt")).otherwise(0L)).as("n_hi"))
        .withColumn("outlier_e6", expr("(n_lo + n_hi) * 1000000 div n"))
        .orderBy(col("event_type"))
    }),

    // Robust outlier gate per event type: median/MAD z-score, the
    // heavy-tail-safe alternative to mean/stddev (one corrupt batch of
    // extreme values shifts a mean filter's threshold; it barely moves
    // the median's). Arithmetic is scaled integers throughout — v2 =
    // 2×cents so the exact-interpolation median (.5 steps) and its
    // doubling stay integral — making the >3×MAD cut bit-exact across
    // engines, never a last-ulp coin flip. Three aggregation passes by
    // construction (MAD is a median OF deviations FROM a median); each
    // is a 5-group map-side-partial shuffle, and the per-type medians
    // ride broadcast joins back to the rows.
    "anomaly_mad_outliers" -> ((s, dir) => {
      val b = Tables.events(s, dir)
        .select(col("event_type"), (floor(col("value") * 100 + 0.5) * 2).as("v2"))
      val m = b.groupBy(col("event_type"))
        .agg((expr("percentile(v2, 0.5)") * 2).as("m4"))
      val d = b.join(broadcast(m), Seq("event_type"))
        .withColumn("dev2", abs(col("v2") * 2 - col("m4")))
      val md = d.groupBy(col("event_type"))
        .agg((expr("percentile(dev2, 0.5)") * 2).as("mad4"))
      d.join(broadcast(md), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             max(col("m4")).cast("long").as("med4_cents"),
             max(col("mad4")).cast("long").as("mad4_cents"),
             count(when(col("dev2") * 2 > col("mad4") * 3, 1)).as("n_outliers"))
        .orderBy(col("event_type"))
    }),

    // Pareto concentration curve: rank users by total purchase value,
    // cut into deciles, report each decile's share of cumulative value
    // — the "top 10% of users drive X%" table behind every curation
    // budget decision. Events aggregate to one exact-cents row per
    // user FIRST (map-side partials), so the global rank runs over
    // |users| rows, never |events| — and that rank is DISTRIBUTED
    // (Graft.globalDecileCum: range-partition on the sort key, local
    // windows, broadcast per-partition offsets — r7 verdict #2's
    // two-pass prefix sum), because |users| at 100 TB is billions and
    // a single-partition ntile would funnel them through one task.
    // Exact integer cents everywhere; the share is one final IEEE
    // division per decile.
    "w_cumulative_share" -> ((s, dir) => {
      val u = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val total = u.agg(sum(col("cents")).as("total"))
      graft.api.Graft.globalDecileCum(u, "cents", "decile", "cum",
          col("cents").desc, col("user_id"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"),
             sum(col("cents")).as("decile_cents"),
             max(col("cum")).as("cum_cents"))
        .crossJoin(broadcast(total))
        .select(col("decile").cast("long").as("decile"), col("n_users"),
                col("decile_cents"),
                round(col("cum_cents").cast("double") / col("total"), 6).as("cum_share"))
        .orderBy(col("decile"))
    }),

    // Heavy hitters via a Count-Min-sketch prefilter: the sketch build
    // moves one 32 KB counter matrix per partition across the exchange
    // (key-cardinality independent — the 100 TB story), its estimates
    // upper-bound true counts, so filtering candidate keys by
    // estimate ≥ threshold never drops a true heavy hitter; the exact
    // count then runs ONLY on the candidate-key rows (bloom-style
    // broadcast semi join) and kills the false positives. Result ≡ the
    // plain GROUP BY ... HAVING, which IS the oracle. Threshold: 1.2×
    // the mean events-per-user, in exact integer cross-multiplication.
    "a_heavy_hitters_cms" -> ((s, dir) => {
      import s.implicits._
      val (width, depth) = (1024, 4)
      val ev = Tables.events(s, dir).select(col("user_id"))
      val hs = graft.functions.CmsFns.keyHashes(col("user_id"), depth)
      val cms = ev
        .select(hs(0).as("h0"), hs(1).as("h1"), hs(2).as("h2"), hs(3).as("h3"))
        .as[(Long, Long, Long, Long)]
        .select(new graft.functions.CmsAgg(width, depth).toColumn.name("cms"))
      val stats = ev.agg(count(lit(1)).as("total"),
                         countDistinct(col("user_id")).as("n_users"))
        .pin(eager = false) // 1 row, 2 broadcast consumers (r15 opt)
      val candidates = ev.distinct()
        .crossJoin(broadcast(cms)).crossJoin(broadcast(stats))
        .filter(graft.functions.CmsFns.estimate("cms", "user_id", width, depth)
                  * lit(5L) * col("n_users") >= col("total") * lit(6L))
        .select(col("user_id"))
      Tables.events(s, dir)
        .join(broadcast(candidates), Seq("user_id"), "left_semi")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(stats))
        .filter(col("n") * lit(5L) * col("n_users") >= col("total") * lit(6L))
        .select(col("user_id"), col("n"))
        .orderBy(col("user_id"))
    }),

    // As-of join with a tolerance bound (the merge_asof shape): each
    // click takes the user's most recent prior purchase ONLY if it is
    // within 2 hours; older matches are rejected, not carried. Same
    // union-sort discipline as asof_join_events — one shuffle on
    // user_id, shuffle volume |clicks|+|purchases|, no range join —
    // with the tolerance applied as a map-side cut on the carried
    // value. Integer-microsecond gaps; -1 sentinel for unmatched.
    // Rides Graft.mergeAsof since r8 (gap sign flips: the facade
    // reports right−left, this query presents click−purchase ≥ 0).
    "j_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.api.Graft.mergeAsof(clicks, purchases, "user_id", "ts", "event_id",
          Nil, direction = "backward", toleranceUs = 7200000000L)
        .select(col("event_id"), col("user_id"),
                col("asof_matched").as("matched"),
                coalesce(-col("asof_gap_us"), lit(-1L)).as("gap_us"))
        .orderBy(col("event_id"))
    }),

    // Trailing-8 EWMA (α = 1/2) per user — the smoothing pass a
    // telemetry pipeline runs before thresholding. α = a power of two
    // makes every fold step ((acc + x) × 0.5) EXACT in IEEE doubles for
    // cent-scaled values (≤ 29 mantissa bits), so the recursive
    // definition is reproducible bit-for-bit on any engine — no "close
    // enough" floats in a correctness gate. One window shuffle on
    // user_id; the 8-row frame keeps per-row state constant.
    "w_ewma_trailing8" -> ((s, dir) => {
      val w8 = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-7, 0)
      Tables.events(s, dir)
        .withColumn("vc", floor(col("value") * 100 + 0.5))
        .withColumn("l", collect_list(col("vc")).over(w8))
        .select(col("user_id"), col("event_id"),
                round(aggregate(col("l"), lit(0.0), (a, x) => (a + x) * 0.5), 8)
                  .as("ewma"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Weekly cohort retention matrix — cohort = the user's first-event
    // week, cell (cohort, offset) = distinct users of that cohort active
    // `offset` weeks later, with the rate against the cohort's size.
    // Two aggregates chained on user_id then (cohort, offset): the first
    // reduces events to one row per (user, week) BEFORE the cohort join,
    // and cohort sizes (offset 0 by construction contains every cohort
    // member) come from the same relation — no re-scan. The classic
    // product-analytics two-dimensional rollup.
    "retention_cohort_matrix" -> ((s, dir) =>
      graft.api.Graft.cohortRetention(Tables.events(s, dir), "user_id", "ts")
        .select(col("cohort_week"), col("week_offset"), col("n_active"), col("n_cohort"),
                round(col("retention"), 6).as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))),

    // Kaplan–Meier life table of user lifetimes (weeks from first to
    // last active week; a user still active in the corpus's final week
    // is CENSORED, not dead — the right-censoring distinction that
    // makes naive churn rates biased and KM the standard fix). Per
    // lifetime week t: d_t (churned), c_t (censored), the at-risk set
    // n_t = Σ_{s≥t}(d_s + c_s), and the discrete hazard d_t·1e6 div
    // n_t — all exact integers; the survival curve is the running
    // product of (1 − hazard), left to the consumer to avoid FP
    // product accumulation in the artifact. Scale: events reduce to
    // one row per user (first/last week), then to a
    // |distinct lifetimes|-row grid — the only window runs on that
    // calendar-bounded grid (PLANS.md census class), reverse-cumulated
    // for the at-risk count.
    "a_kaplan_meier" -> ((s, dir) => {
      val uw = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        .groupBy(col("user_id"))
        .agg(min(col("w")).as("fw"), max(col("w")).as("lw"))
      val maxw = uw.agg(max(col("lw")).as("mw"))
      val lt = uw.crossJoin(broadcast(maxw))
        .select(
          (datediff(col("lw"), col("fw")) / 7).cast("long").as("t"),
          (col("lw") < col("mw")).cast("long").as("dead"))
      val grid = lt.groupBy(col("t"))
        .agg(sum(col("dead")).as("d_events"),
             sum(lit(1L) - col("dead")).as("c_censored"))
      // lifetime grid is calendar-bounded: single-partition window OK
      grid.withColumn("n_risk",
          sum(col("d_events") + col("c_censored")).over(
            Window.orderBy(col("t"))
              .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .select(col("t"), col("n_risk"), col("d_events"), col("c_censored"),
          expr("d_events * 1000000 div n_risk").as("hazard_e6"))
        .orderBy(col("t"))
    }),

    // Shannon entropy of each user's event-type mix — the behavioral-
    // diversity feature (bot/script accounts have near-zero entropy,
    // organic users don't). H = ln(n) − (Σ cᵢ·ln cᵢ)/n computed from
    // exact integer counts; the only floating sum (Σ cᵢ·ln cᵢ) is
    // quantized to e6 integers per term BEFORE summing so partial-
    // aggregation order cannot move the result. Normalized form divides
    // by ln(k) over the user's distinct types. Two chained aggregates
    // on the same user_id key — one shuffle, exchange reused.
    "a_entropy_by_user" -> ((s, dir) =>
      graft.api.Graft.entropyByKey(Tables.events(s, dir), "user_id", "event_type")
        .select(col("user_id"), col("n_events"), col("n_types"),
                round(col("entropy"), 6).as("entropy"),
                round(col("entropy_norm"), 6).as("entropy_norm"))
        .orderBy(col("user_id"))),

    // Bot-likelihood census — the traffic-quality gate a training
    // pipeline runs before trusting event-derived labels: a user is
    // bot-LIKE when (a) their event volume is ≥1.2× the corpus mean
    // (n·U·5 ≥ 6·N — cross-multiplied, no division), (b) their type
    // mix is concentrated (top type ≥30% of their events, mx·10 ≥
    // 3·n), and (c) their inter-arrival cadence is machine-regular —
    // cv² < 0.75, tested as 4·(n_g·Σg² − (Σg)²) < 3·(Σg)² in pure
    // BIGINT second-grain sums (the ts_seasonal_anomaly
    // cross-multiplication discipline: the verdict has no FP to flip
    // at the boundary; thresholds sit where this corpus actually has
    // mass, so every flag branch is exercised at every SF). Output is
    // the 4-row score census, not row-level flags — the corpus never
    // leaves the aggregate.
    "e_bot_score_census" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val g = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
                expr("unix_micros(ts) div 1000000").as("sec"),
                col("ts"), col("event_id"))
        .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("gap").isNotNull, 1L).otherwise(0L)).as("ng"),
             sum(coalesce(col("gap"), lit(0L))).as("sg"),
             sum(coalesce(col("gap") * col("gap"), lit(0L))).as("sg2"))
      val conc = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("m"))
        .groupBy(col("user_id")).agg(max(col("m")).as("mx"))
      val tot = g.agg(sum(col("n")).as("nt"), count(lit(1)).as("u"))
      g.join(conc, "user_id")
        .crossJoin(broadcast(tot))
        .withColumn("f_rate",
          (col("n") * col("u") * 5 >= col("nt") * 6).cast("long"))
        .withColumn("f_conc", (col("mx") * 10 >= col("n") * 3).cast("long"))
        .withColumn("f_regular",
          (col("ng") >= 2 &&
           (col("ng") * col("sg2") - col("sg") * col("sg")) * 4 <
             col("sg") * col("sg") * 3).cast("long"))
        .withColumn("bot_score", col("f_rate") + col("f_conc") + col("f_regular"))
        .groupBy(col("bot_score"))
        .agg(count(lit(1)).as("n_users"), sum(col("f_rate")).as("n_high_rate"),
             sum(col("f_conc")).as("n_concentrated"),
             sum(col("f_regular")).as("n_regular"))
        .orderBy(col("bot_score"))
    }),

    // Session bounce rate by entry event — "which landing action loses
    // people": 30-minute sessionization (the sessionize_30m cut), each
    // session reduced to (first event type, length), bounce = a
    // 1-event session. One user-keyed window shuffle does sessionize +
    // first-of-session; the census is |types| rows with exact e6
    // rationals.
    "e_bounce_rate_by_entry" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val bySess = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
               unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(bySess))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("len"),
             min(struct(col("rn"), col("event_type"))).as("fst"))
        .groupBy(col("fst.event_type").as("entry_type"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(when(col("len") === 1, 1L).otherwise(0L)).as("n_bounce"))
        .withColumn("bounce_e6", expr("n_bounce * 1000000 div n_sessions"))
        .orderBy(col("entry_type"))
    }),

    // Heavy CHANGERS between the first and second half of the stream —
    // the "what moved" companion to the PSI gate: per-user activity
    // counts in each half (single aggregate, the exact integer-µs
    // midpoint cut broadcast), top 20 by absolute delta with a total
    // tie order. Top-N via TakeOrderedAndProject, all BIGINT; the
    // half-split conditional count is one map-side-combinable pass.
    "a_topk_heavy_changers" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val cut = ev.agg(((min(col("us")) + max(col("us"))) / 2).cast("long").as("cut"))
      ev.crossJoin(broadcast(cut))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") < col("cut"), 1L).otherwise(0L)).as("n_first"),
             sum(when(col("us") >= col("cut"), 1L).otherwise(0L)).as("n_second"))
        .withColumn("delta", abs(col("n_second") - col("n_first")))
        .orderBy(col("delta").desc, col("user_id"))
        .limit(20)
    }),

    // Rolling 28-day distinct actives per day — the sliding-window
    // COUNT DISTINCT every growth dashboard needs and the aggregation
    // engines cannot do naively (a 28-day window re-counting distinct
    // users per day re-scans 28× the data, and count-distinct doesn't
    // decompose over sliding windows). Exact via interval algebra: a
    // user is active-in-window on day d iff their most recent active
    // day is ≥ d−27, so each (user, active-day a, next-active nxt)
    // contributes the coverage interval [a, min(a+27, nxt−1)] — ±1
    // boundary deltas, summed per day, cumulated over the calendar
    // spine (the w_peak_concurrency sweep at day grain). Shuffle
    // volume: |user×day| distinct rows once; the sweep table is
    // |days|-bounded. Zero-FP: pure date arithmetic.
    "w_rolling_active_28d" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("DAY", col("ts")).cast("date").as("day"))
        .distinct()
      val nxt = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val iv = ud
        .withColumn("nxt", lead(col("day"), 1).over(nxt))
        .withColumn("endd", least(date_add(col("day"), 27),
          coalesce(date_sub(col("nxt"), 1), date_add(col("day"), 27))))
      val deltas = iv.select(col("day"), lit(1L).as("d"))
        .union(iv.select(date_add(col("endd"), 1).as("day"), lit(-1L).as("d")))
        .groupBy(col("day")).agg(sum(col("d")).as("net"))
      val bounds = ud.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val spine = bounds.select(explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
      spine.join(deltas, Seq("day"), "left")
        // single-partition window is bounded: |distinct days| rows
        .withColumn("n_active_28d", sum(coalesce(col("net"), lit(0L))).over(
          Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("day"), col("n_active_28d"))
        .orderBy(col("day"))
    }),

    // Top session path trigrams — the path-mining census ("what do
    // users DO in a session") product analytics runs on every funnel
    // redesign: 30-minute sessionization (the sessionize_30m cut),
    // then consecutive event-type trigrams inside each session, top 20
    // by count with a total tie order. One (user) window shuffle does
    // sessionize + both leads (same partition+order spec → one
    // WindowExec); the trigram census is |types|³-bounded and the
    // top-20 is TakeOrderedAndProject — no global sort.
    "e_session_path_trigrams" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
               unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val bySess = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      sess
        .withColumn("t2", lead(col("event_type"), 1).over(bySess))
        .withColumn("t3", lead(col("event_type"), 2).over(bySess))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    }),

    // SEQUENTIAL PATTERN MINING, gap-bounded skip-gram form: ordered
    // event-type pairs a→b occurring within the same 30-min session
    // with 1 ≤ position gap ≤ 3 — the non-contiguous generalization of
    // e_session_path_trigrams (contiguous n-grams miss "view … …
    // purchase" with noise events between; unbounded sequential mining
    // (PrefixSpan-style) is quadratic per session). The HARD gap bound
    // is what makes it scale: candidate volume is ≤ 3 rows per event —
    // LINEAR, produced by three lead() offsets inside the one (user)
    // window shuffle sessionization already pays (same partition+order
    // spec → one WindowExec), never a within-session self-join.
    // Support = distinct sessions containing the pattern (the
    // sequential-mining support definition); n_adjacent isolates the
    // contiguous-bigram share so the readout shows what the skip
    // window adds. Census is |types|²-bounded after one partial-agg
    // exchange.
    "e_seq_skipgram" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
               unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val bySess = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      sess
        .withColumn("n1", lead(col("event_type"), 1).over(bySess))
        .withColumn("n2", lead(col("event_type"), 2).over(bySess))
        .withColumn("n3", lead(col("event_type"), 3).over(bySess))
        .select(col("user_id"), col("session_id"), col("event_type").as("t_from"),
                posexplode(array(col("n1"), col("n2"), col("n3")))
                  .as(Seq("gap0", "t_to")))
        .filter(col("t_to").isNotNull)
        .groupBy(col("t_from"), col("t_to"))
        .agg(count(lit(1)).as("n_occurrences"),
             count(when(col("gap0") === 0, 1)).as("n_adjacent"),
             countDistinct(col("user_id"), col("session_id")).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("n_occurrences").desc,
                 col("t_from"), col("t_to"))
    }),

    // Markov entropy of the event stream: conditional entropy of the
    // next event type given the current one, per from-state — "how
    // predictable is behavior from state X" (uniform rows → high
    // entropy → the state carries no signal for next-step models).
    // Rides entropyByKey's exact discipline: each c·ln(c) term is
    // e6-quantized BEFORE the sum, so partial-aggregation order cannot
    // move a bit; the transition pairs come from one per-user lead
    // window (the event_transitions shuffle reused verbatim).
    "a_markov_entropy_rate" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
      graft.api.Graft.entropyByKey(trans, "event_type", "next_type")
        .select(col("event_type"), col("n_events").as("n_out"),
                col("n_types").as("k_next"),
                round(col("entropy"), 6).as("h_next"),
                round(col("entropy_norm"), 6).as("h_next_norm"))
        .orderBy(col("event_type"))
    }),

    // CDC change-feed generation by snapshot diff — the inverse of
    // `cdc_scd1_snapshot` (which APPLIES a feed): given two point-in-time
    // snapshots of per-user trailing-10-day activity (as of T2 = last
    // full day, and T1 = five days earlier), emit the I/U/D feed that
    // transforms one into the other. This is how a lake without a
    // transaction log bootstraps CDC: full-outer join the snapshots on
    // the entity key, classify by side-presence, and keep U rows only
    // when a tracked value actually changed. Both snapshots are filtered
    // aggregates of ONE events scan; the full-outer join runs on the
    // same user_id hash partitioning the aggregates produced, so the
    // whole diff costs two partial-agg shuffles and zero re-sorts. At
    // 100 TB the snapshots would be materialized tables and the diff is
    // the same single co-partitioned join. Exact integer cents make
    // "changed" a bit-exact predicate — no FP tolerance in a CDC gate.
    "cdc_snapshot_diff" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cut = ev.agg(date_trunc("DAY", max(col("ts"))).as("t2"))
        .withColumn("t1", col("t2") - expr("INTERVAL 5 DAYS"))
      val base = ev.crossJoin(broadcast(cut))
      def snap(cutCol: String): DataFrame = base
        .filter(col("ts") >= col(cutCol) - expr("INTERVAL 10 DAYS") &&
                col("ts") < col(cutCol))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
             sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      // absent-side values surface as -1, not NULL: a NULL BIGINT
      // becomes NaN in a float-nullable gate column and NaN breaks
      // exact compares (the w_pct_change_wow discipline); counts and
      // cents are always >= 0 so -1 is unambiguous
      graft.api.Graft.snapshotDiffFeed(snap("t1"), snap("t2"), "user_id")
        .select(col("user_id"), col("op"),
          coalesce(col("n_before"), lit(-1L)).as("n_before"),
          coalesce(col("cents_before"), lit(-1L)).as("cents_before"),
          coalesce(col("n_after"), lit(-1L)).as("n_after"),
          coalesce(col("cents_after"), lit(-1L)).as("cents_after"))
        .orderBy(col("user_id"))
    }),

    // Conversion-latency histogram — the time-to-convert distribution
    // (first view → first subsequent purchase), bucketed by whole
    // hours. Two min-aggregates on user_id chained through one
    // co-partitioned join (the second groupBy carries v_ts in its key —
    // unique per user, so no extra shuffle stage), then a histogram
    // over the |users|-row latency table. All arithmetic is exact
    // epoch-second integers; the bucket is floor division. The filter
    // ts > v_ts makes "subsequent" strict, so a purchase in the same
    // microsecond as the view does not count (both engines agree on
    // the open bound).
    "e_conversion_latency" -> ((s, dir) =>
      graft.api.Graft.conversionLatency(Tables.events(s, dir),
          "user_id", "ts", "event_type", fromType = "view", toType = "purchase")
        .orderBy(col("latency_h"))),

    // User growth curve — the DAU/new-user/cumulative-user triple every
    // product dashboard opens with. One (user, day) dedup pass feeds
    // both sides: actives per day, and first-seen day per user → new
    // users per day; the cumulative count is a window over the
    // |days|-row result (metadata-sized, single partition is correct
    // here). Days with zero new users still appear with n_new = 0 via
    // the left join, so the curve has no holes.
    "e_user_growth_curve" -> ((s, dir) =>
      graft.api.Graft.growthCurve(Tables.events(s, dir), "user_id", "ts")
        .orderBy(col("day")))
  ) ++ Map[String, (SparkSession, String) => DataFrame](
    // NEAREST-direction as-of join (pandas merge_asof direction=
    // 'nearest') — j_asof_tolerance matches backward only; sensor
    // alignment and label attribution often want the closest purchase
    // in EITHER direction. Same union-sort single-shuffle plan: clicks
    // and purchases share one (user, ts) window pass, the backward
    // neighbor comes from the cumulative IGNORE-NULLS last(), the
    // forward one from the mirrored first(), and the winner is the
    // smaller absolute gap (tie → backward, both engines by the same
    // CASE). gap_us is SIGNED (negative = purchase precedes click);
    // unmatched clicks (no purchase within ±2 h) carry the sentinel
    // 9999999999 µs — strictly outside the ±tolerance band, so it can
    // never collide with a real matched gap (NULL would become NaN in
    // a float-nullable gate column and NaN breaks exact compares).
    // Exact epoch-µs integers throughout — the match verdict has no FP.
    // Rides Graft.mergeAsof(direction = "nearest") since r8.
    "j_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.api.Graft.mergeAsof(clicks, purchases, "user_id", "ts", "event_id",
          Nil, direction = "nearest", toleranceUs = 7200000000L)
        .select(col("event_id"), col("user_id"),
                col("asof_matched").as("matched"),
                coalesce(col("asof_gap_us"), lit(9999999999L)).as("gap_us"))
        .orderBy(col("event_id"))
    }),

    // FORWARD-direction as-of with tolerance (pandas merge_asof
    // direction='forward'): each click decorated with the NEXT
    // purchase within 2 h and its value — the "did the click convert,
    // and for how much" attribution join. Same single union-sort
    // shuffle via Graft.mergeAsof; -1 sentinels for unmatched (gap is
    // ≥ 0 by construction so -1 is unambiguous; NULL doubles become
    // NaN in float-nullable gate columns).
    "j_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.api.Graft.mergeAsof(clicks, purchases, "user_id", "ts", "event_id",
          Seq("value"), direction = "forward", toleranceUs = 7200000000L)
        .select(col("event_id"), col("user_id"),
                col("asof_matched").as("matched"),
                coalesce(col("asof_gap_us"), lit(-1L)).as("gap_us"),
                coalesce(col("asof_value"), lit(-1.0)).as("next_value"))
        .orderBy(col("event_id"))
    }),

    // Cohort LTV curve — the revenue companion to retention_cohort
    // _matrix: cumulative purchase cents per signup-week cohort at each
    // week offset, normalized per cohort member (the "how much is a
    // week-N cohort worth by week N+k" curve growth teams steer by).
    // Cohort membership counts ALL users of the cohort (not just
    // purchasers) so the per-user LTV denominator is the honest one.
    // Shape: one (user, week, cents) purchase rollup joined to the
    // broadcastable |users|-row cohort table, one (cohort, offset)
    // aggregate, a cumsum window over the tiny matrix, exact integer
    // cents end-to-end; ltv_per_user_e6 is a floor-div rational of the
    // cumulative cents (so even the normalized curve is FP-free).
    "a_cohort_ltv_curve" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cohorts = ev.select(col("user_id"), date_trunc("WEEK", col("ts")).as("w"))
        .groupBy(col("user_id")).agg(min(col("w")).as("cohort_week"))
        .pin(eager = true)
      val sizes = cohorts.groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("n_cohort"))
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), date_trunc("WEEK", col("ts")).as("w"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val cells = purch.join(broadcast(cohorts), Seq("user_id"))
        .withColumn("week_offset",
          expr("datediff(w, cohort_week) div 7").cast("long"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(sum(col("cents")).as("cents"))
      cells.join(broadcast(sizes), Seq("cohort_week"))
        .withColumn("cum_cents", sum(col("cents")).over(
          Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("cohort_week").cast("date").as("cohort_week"),
          col("week_offset"), col("cents"), col("cum_cents"), col("n_cohort"),
          expr("cum_cents * 1000000 div n_cohort").as("ltv_per_user_e6"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Peak concurrency — "how many 30-minute sessions were live at
    // once, and when did the peak happen", per event type: the classic
    // ±1 interval sweep, made deterministic by aggregating deltas per
    // boundary timestamp BEFORE the cumulative walk (the running value
    // inside a tied timestamp depends on intra-tie order; the
    // per-timestamp net does not, and the sweep maximum is always
    // attained at a boundary's post-state). Sweep table is one ±1
    // union + one aggregate to |types|×|distinct boundaries| rows; the
    // cumulative window and the argmax-by-(peak, earliest) run on that
    // metadata-sized table. Exact epoch-µs half-open intervals: an end
    // at t and a start at t never double-count.
    // Shapley-value channel attribution (the game-theoretic credit
    // model next to linear and U-shaped multi-touch): channels
    // {click, view, signup} form coalitions, v(S) = conversions among
    // users whose touch-set ⊆ S, and each channel's credit is its
    // average marginal contribution over all join orders. n = 3 makes
    // the weights exact sixths — s!(n−1−s)!/n! ∈ {2/6, 1/6, 2/6} — so
    // φ·6 is an exact BIGINT (phi_num6) and the efficiency axiom
    // Σφ = v(N) − v(∅) is an integer identity Round9Spec asserts.
    // Scale: ONE user-grain aggregate (mask, converted) collapses the
    // corpus to ≤ 2ⁿ coalition rows; the subset lattice and Shapley
    // sums are literal-table joins over 8 rows — at 100 TB nothing
    // after the first aggregate touches data.
    "e_shapley_attribution" -> ((s, dir) => {
      val um = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(
          (max(when(col("event_type") === "click", 1).otherwise(0)) * 1 +
           max(when(col("event_type") === "view", 1).otherwise(0)) * 2 +
           max(when(col("event_type") === "signup", 1).otherwise(0)) * 4)
            .as("mask"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
      val mc = um.groupBy(col("mask")).agg(sum(col("conv")).as("nconv"))
      val subs = s.range(8).select(col("id").cast("int").as("sub"))
      val vs = subs.join(
          subs.crossJoin(mc).filter(expr("(mask & ~sub) = 0"))
            .groupBy(col("sub")).agg(sum(col("nconv")).as("v0")),
          Seq("sub"), "left")
        .select(col("sub"), coalesce(col("v0"), lit(0L)).as("v"))
        .pin(eager = true) // 8 rows, consumed by three channel scans
      Seq(("click", 1), ("view", 2), ("signup", 4)).map { case (name, bit) =>
        vs.as("s0").filter(expr(s"(sub & $bit) = 0"))
          .join(vs.as("s1"), expr(s"s1.sub = s0.sub + $bit"))
          .select(lit(name).as("channel"),
            (when(expr("bit_count(s0.sub)") === 1, 1L).otherwise(2L) *
              (col("s1.v") - col("s0.v"))).as("term"))
      }.reduce(_ unionByName _)
        .groupBy(col("channel")).agg(sum(col("term")).as("phi_num6"))
        .select(col("channel"), col("phi_num6"),
          expr("phi_num6 * 1000000 div 6").as("phi_e6"))
        .orderBy(col("channel"))
    }),

    // Allen's interval algebra census — classify every same-(user, day)
    // pair of activity intervals (click span vs view span) into the 13
    // Allen relations (Allen 1983), the exhaustive vocabulary for
    // temporal-join semantics: before/meets/overlaps/starts/during/
    // finishes, their inverses, and equals. The classifier is ONE
    // shared CASE ladder over exact integer-µs endpoints (allenCaseSql
    // is interpolated verbatim into the Spark expression AND the
    // oracle — single-sourced, so the branch order cannot drift), and
    // the ladder is exhaustive for proper intervals. This is the
    // census a temporal-join planner reads to pick its strategy: if
    // 'before/after' dominates, a sort-merge band join wins; if
    // 'during/contains' dominates, an interval index does. One
    // (user, day) aggregate per side, one equi-join, |relations|-row
    // output.
    "j_allen_interval_census" -> ((s, dir) => {
      def span(t: String) = Tables.events(s, dir)
        .filter(col("event_type") === t)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(min(unix_micros(col("ts"))).as(s"${t}_s"),
             max(unix_micros(col("ts"))).as(s"${t}_e"))
        .filter(col(s"${t}_s") < col(s"${t}_e")) // proper intervals only
      span("click")
        .withColumnRenamed("click_s", "xs").withColumnRenamed("click_e", "xe")
        .join(span("view")
          .withColumnRenamed("view_s", "ys").withColumnRenamed("view_e", "ye"),
          Seq("user_id", "day"))
        .withColumn("relation", expr(allenCaseSql))
        .groupBy(col("relation")).agg(count(lit(1)).as("n"))
        .orderBy(col("relation"))
    }),

    // Event-time lateness audit — the batch replay of the decision a
    // Structured Streaming watermark makes: with arrival order =
    // event_id and delay D = 10 min, an event is "late" if its event
    // time trails the running max of all PRIOR arrivals by more than
    // D — exactly the rows `withWatermark` would drop from a stateful
    // aggregate. The per-day census (n_late, worst lag) is how a
    // pipeline CHOOSES D before deploying: set it at the observed lag
    // tail, don't guess. Watermark state resets per day here so the
    // running-max window stays partitioned (the global-stream form is
    // the two-pass prefix-sum, Graft.globalOrderStats); exact integer
    // µs everywhere.
    "e_late_arrival_audit" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("event_id"),
                unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy(col("day")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("pm", max(col("us")).over(w))
        .withColumn("late", coalesce(
          (col("us") < col("pm") - 600000000L).cast("long"), lit(0L)))
        .withColumn("lag_us",
          greatest(coalesce(col("pm") - col("us"), lit(0L)), lit(0L)))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"), sum(col("late")).as("n_late"),
             max(col("lag_us")).as("max_lag_us"))
        .orderBy(col("day"))
    }),

    // Watermark-delay SLA monitor (r9 seed #4) — e_late_arrival_audit
    // turned into the DECISION table: for a grid of candidate
    // watermark delays D, the exact retention each would achieve per
    // day (events an aggregate keeps vs drops), an SLA verdict at
    // 99.9%, and D* — the MINIMAL delay meeting the SLA, read off the
    // lag distribution as an exact order statistic (the
    // (n − n div 1000)-th smallest lag): the number you'd actually
    // paste into `withWatermark`. No guessing, no histogram
    // approximation — the 0.1% drop budget is counted in integer µs.
    // Scale: one per-day running-max window over arrival order (same
    // exchange as the audit), then the grid explode multiplies the
    // per-event lag rows 3× map-side before collapsing to |days|×3;
    // the order statistic is a per-day rank over the same partition —
    // exchange reused, nothing global.
    "e_watermark_sla" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("event_id"),
                unix_micros(col("ts")).as("us"))
      val wPrior = Window.partitionBy(col("day")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val lags = ev
        .withColumn("lag_us", greatest(
          coalesce(max(col("us")).over(wPrior) - col("us"), lit(0L)),
          lit(0L)))
      val dstar = lags
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("day")).orderBy(col("lag_us"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("day"))))
        .filter(col("rk") === col("n") - expr("n div 1000"))
        .select(col("day"), col("lag_us").as("d_star_us"))
      lags
        .withColumn("d_us", explode(array(
          lit(60000000L), lit(600000000L), lit(1800000000L))))
        .groupBy(col("day"), col("d_us"))
        .agg(count(lit(1)).as("n_events"),
             sum((col("lag_us") > col("d_us")).cast("long")).as("n_dropped"))
        .withColumn("retained_e6",
          expr("(n_events - n_dropped) * 1000000 div n_events"))
        .withColumn("meets_sla", (col("retained_e6") >= 999000L).cast("long"))
        .join(dstar, "day")
        .select(col("day"), col("d_us"), col("n_events"), col("n_dropped"),
                col("retained_e6"), col("meets_sla"), col("d_star_us"))
        .orderBy(col("day"), col("d_us"))
    }),

    // Little's-law audit L = λW — the queueing-theory conservation
    // check an ops pipeline runs to validate its concurrency and dwell
    // telemetry against each other: the time integral of concurrent
    // user-sessions over a day (swept exactly, w_peak_concurrency's
    // ±1 machinery) must equal the plain sum of session durations,
    // because every dwell interval lies inside its day window. The two
    // sides are computed by INDEPENDENT plans (sweep + window vs one
    // aggregate) and emitted side by side — equality is the audit (and
    // the Round9Spec assert); L, λ, W land as exact integer-µs /
    // e6-scaled rates. Scale: deltas collapse map-side onto (day, t)
    // before the only per-day window; nothing global.
    "e_littles_law_audit" -> ((s, dir) => {
      val sess = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"),
                unix_micros(col("ts")).as("us"))
        .groupBy(col("day"), col("user_id"))
        .agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
      val deltas = sess.select(col("day"), col("t0").as("t"), lit(1L).as("d"))
        .union(sess.select(col("day"), col("t1").as("t"), lit(-1L).as("d")))
        .groupBy(col("day"), col("t")).agg(sum(col("d")).as("net"))
      val wOrd = Window.partitionBy(col("day")).orderBy(col("t"))
      val area = deltas
        .withColumn("cc", sum(col("net")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("gap", coalesce(lead(col("t"), 1).over(wOrd), col("t")) - col("t"))
        .groupBy(col("day")).agg(sum(col("cc") * col("gap")).as("area_us"))
      sess.groupBy(col("day"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(col("t1") - col("t0")).as("sum_dur_us"))
        .join(area, "day")
        .select(col("day"), col("n_sessions"), col("sum_dur_us"), col("area_us"),
          expr("sum_dur_us div n_sessions").as("w_mean_us"),
          // ≡ area_us · 1e6 div 86400e6 (86400000000 = 86400·10⁶ and
          // area ≥ 0, so the common 10⁶ factor cancels EXACTLY) — the
          // pre-multiplied form overflowed BIGINT at sf0.1
          // (area_us ~1.3e14 · 1e6 > 2⁶³; caught by the r13 full-
          // registry sf0.1 Verify, the first round to run one)
          expr("area_us div 86400").as("l_e6"),
          expr("n_sessions * 1000000 div 86400").as("lambda_e6"))
        .orderBy(col("day"))
    }),

    "w_peak_concurrency" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val deltas = ev.select(col("event_type"), col("us").as("t"), lit(1L).as("d"))
        .union(ev.select(col("event_type"), (col("us") + 1800000000L).as("t"),
                         lit(-1L).as("d")))
        .groupBy(col("event_type"), col("t")).agg(sum(col("d")).as("net"))
      val cum = deltas.withColumn("cc", sum(col("net")).over(
        Window.partitionBy(col("event_type")).orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      cum.withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("cc").desc, col("t"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("cc").as("peak"), col("t").as("at_us"))
        .orderBy(col("event_type"))
    }),

    // Inter-arrival time spectrum — the burstiness fingerprint per
    // event type (Poisson traffic is geometric across log₂ buckets;
    // bots and batch replays spike one bucket). Consecutive gaps come
    // from one lag window per type; the bucket is EXACT integer
    // log₂ — floor(log2(gap_s)) computed as length(bin(gap_s)) − 1,
    // a bit-length identity both engines evaluate on BIGINTs with no
    // FP log anywhere. Sub-second gaps land in bucket −1. The
    // histogram collapses map-side to |types|×~20 buckets.
    "e_interarrival_hist" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
                expr("CAST(ts AS LONG)").as("sec"))
        .withColumn("gap_s", col("sec") - lag(col("sec"), 1).over(w))
        .filter(col("gap_s").isNotNull)
        .withColumn("log2_bucket",
          when(col("gap_s") >= 1, length(bin(col("gap_s"))) - 1)
            .otherwise(lit(-1)).cast("long"))
        .groupBy(col("event_type"), col("log2_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("log2_bucket"))
    }),

    // Gini concentration of per-user spend, by event type — the
    // inequality census behind "do 1% of users carry the revenue?".
    // Per-user totals are exact integer cents (the shared
    // floor(x·100+0.5) formula); with users ranked ascending by spend
    // (doc-id tiebreak), G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) is a pure
    // BIGINT rational presented as one e6 floor-division. Numerator
    // bound: 2·Σi·xᵢ ≤ 2n·S ≤ 2^63 up to n·S ~ 4.6e18 (n=1e6 users ×
    // S=$46B in cents) — beyond that the per-group two-pass prefix-sum
    // rank (Graft.globalRowNumber per type) plus a DECIMAL(38,0) carry
    // is the same plan with wider lanes. The rank window partitions by
    // event_type over per-user pre-aggregates: |users/type| rows, the
    // same bounded-cardinality contract as the other user-grain
    // windows (PLANS.md census).
    // Theil T inequality index per event type over per-user spend —
    // the entropy-based complement to a_gini_by_type (Theil decomposes
    // additively across subgroups, which Gini does not): T =
    // Σ (xᵢ/S)·ln(xᵢ·n/S) over users with positive spend. Each user's
    // log ratio is e6-quantized BEFORE the sum (the shared
    // floor(ln·1e6) idiom — xᵢ·n and S are exact integers < 2^53, so
    // both engines quantize the same IEEE doubles), making
    // T_e6 = (Σ xᵢ·lnterm_e6) div S an order-independent BIGINT
    // rational. Bound: |Σ xᵢ·lnterm_e6| ≤ S·ln(n)·1e6 — inside BIGINT
    // while total cents < ~4e11 per type; DECIMAL(38,0) widening
    // beyond (ts_seasonal_anomaly's pattern). Plan: one broadcast of
    // the per-type (n, S) totals back onto the per-user aggregate —
    // map-side log terms, a single rollup shuffle.
    "a_theil_by_type" -> ((s, dir) => {
      val spend = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
                floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("cents")).as("x"))
        .filter(col("x") > 0)
      val tot = spend.groupBy(col("event_type").as("tt"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      spend.join(broadcast(tot), col("event_type") === col("tt"))
        .withColumn("lnterm_e6",
          floor(log((col("x") * col("n")).cast("double") /
                    col("s").cast("double")) * 1e6 + 0.5).cast("long"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("s")).as("total_cents"),
             sum(col("x") * col("lnterm_e6")).as("num"))
        // greatest(·,0): T ≥ 0 mathematically, but quantization could
        // nudge a perfectly-equal corpus epsilon-negative, and Spark's
        // div (truncate) and DuckDB's // (floor) disagree on negatives
        .select(col("event_type"), col("n"), col("total_cents"),
                expr("greatest(num, 0L) div total_cents").as("theil_e6"))
        .orderBy(col("event_type"))
    }),

    "a_gini_by_type" -> ((s, dir) =>
      graft.api.Graft.giniByGroup(
          Tables.events(s, dir)
            .select(col("event_type"), col("user_id"),
                    floor(col("value") * 100 + 0.5).cast("long").as("cents")),
          "event_type", "user_id", "cents")
        .withColumnRenamed("total", "total_cents")
        .orderBy(col("event_type")))
  )

  def oracles: Map[String, String] = Map(
    // Theil T per type: e6 log ratios summed as BIGINT
    "a_theil_by_type" ->
      """WITH sp AS (SELECT event_type, user_id,
        |    sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS x
        |  FROM events GROUP BY 1, 2 HAVING x > 0),
        |t AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS s FROM sp GROUP BY 1),
        |u AS (SELECT sp.event_type, t.n, t.s, sp.x,
        |    floor(ln((sp.x * t.n)::DOUBLE / t.s::DOUBLE) * 1000000 + 0.5)
        |      ::BIGINT AS lnterm_e6
        |  FROM sp JOIN t USING (event_type)),
        |a AS (SELECT event_type, max(n)::BIGINT AS n,
        |    max(s)::BIGINT AS total_cents,
        |    sum(x * lnterm_e6)::BIGINT AS num
        |  FROM u GROUP BY 1)
        |SELECT event_type, n, total_cents,
        |  (greatest(num, 0) // total_cents)::BIGINT AS theil_e6
        |FROM a ORDER BY event_type""".stripMargin,

    // Gini per type: integer-cents rational, rank-sum form
    "a_gini_by_type" ->
      """WITH s AS (SELECT event_type, user_id,
        |    sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, x, row_number() OVER (
        |    PARTITION BY event_type ORDER BY x, user_id)::BIGINT AS i
        |  FROM s),
        |a AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(x)::BIGINT AS total_cents, sum(i * x)::BIGINT AS sum_ix
        |  FROM r GROUP BY 1)
        |SELECT event_type, n, total_cents,
        |  ((greatest(2 * sum_ix - (n + 1) * total_cents, 0) * 1000000)
        |    // (n * total_cents))::BIGINT AS gini_e6
        |FROM a WHERE total_cents > 0 ORDER BY event_type""".stripMargin,

    "a_decimal_exact_revenue" ->
      """SELECT l_returnflag,
        |  sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::BIGINT AS sum_price_c,
        |  sum(floor(l_extendedprice * 100 + 0.5)::BIGINT *
        |      (100 - floor(l_discount * 100 + 0.5)::BIGINT))::BIGINT
        |    AS sum_disc_price_e4,
        |  sum(floor(l_quantity * 100 + 0.5)::BIGINT)::BIGINT AS sum_qty_c,
        |  count(*)::BIGINT AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "a_kaplan_meier" ->
      """WITH uw AS (SELECT user_id, min(date_trunc('week', ts)) AS fw,
        |    max(date_trunc('week', ts)) AS lw FROM events GROUP BY user_id),
        |mw AS (SELECT max(lw) AS mw FROM uw),
        |lt AS (SELECT (date_diff('day', fw, lw) // 7)::BIGINT AS t,
        |    (lw < mw)::BIGINT AS dead FROM uw CROSS JOIN mw),
        |grid AS (SELECT t, sum(dead)::BIGINT AS d_events,
        |    sum(1 - dead)::BIGINT AS c_censored FROM lt GROUP BY t),
        |g2 AS (SELECT *, sum(d_events + c_censored) OVER (ORDER BY t
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT AS n_risk
        |  FROM grid)
        |SELECT t, n_risk, d_events, c_censored,
        |  (d_events * 1000000 // n_risk)::BIGINT AS hazard_e6
        |FROM g2 ORDER BY t""".stripMargin,

    "retention_cohort_matrix" ->
      """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |  FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id),
        |cells AS (SELECT cohort_week,
        |    (date_diff('day', cohort_week, week) // 7)::BIGINT AS week_offset,
        |    count(DISTINCT uw.user_id)::BIGINT AS n_active
        |  FROM uw JOIN c ON uw.user_id = c.user_id
        |  GROUP BY cohort_week, week_offset),
        |s AS (SELECT cohort_week AS c_week, n_active AS n_cohort
        |  FROM cells WHERE week_offset = 0)
        |SELECT cohort_week, week_offset, n_active, n_cohort,
        |  round(n_active::DOUBLE / n_cohort, 6) AS retention
        |FROM cells JOIN s ON cohort_week = c_week
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "e_bot_score_census" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec, ts, event_id FROM events),
        |g0 AS (SELECT user_id, event_type, sec,
        |    sec - lag(sec) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS gap FROM e),
        |g AS (SELECT user_id, count(*)::BIGINT AS n,
        |    sum(CASE WHEN gap IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS ng,
        |    sum(coalesce(gap, 0))::BIGINT AS sg,
        |    sum(coalesce(gap * gap, 0))::BIGINT AS sg2
        |  FROM g0 GROUP BY user_id),
        |cm AS (SELECT user_id, max(m)::BIGINT AS mx FROM (
        |    SELECT user_id, event_type, count(*)::BIGINT AS m
        |    FROM events GROUP BY 1, 2) GROUP BY user_id),
        |t AS (SELECT sum(n)::BIGINT AS nt, count(*)::BIGINT AS u FROM g),
        |f AS (SELECT
        |    (n * u * 5 >= nt * 6)::BIGINT AS f_rate,
        |    (mx * 10 >= n * 3)::BIGINT AS f_conc,
        |    (ng >= 2 AND (ng * sg2 - sg * sg) * 4 < sg * sg * 3)::BIGINT
        |      AS f_regular
        |  FROM g JOIN cm USING (user_id) CROSS JOIN t)
        |SELECT (f_rate + f_conc + f_regular)::BIGINT AS bot_score,
        |  count(*)::BIGINT AS n_users, sum(f_rate)::BIGINT AS n_high_rate,
        |  sum(f_conc)::BIGINT AS n_concentrated,
        |  sum(f_regular)::BIGINT AS n_regular
        |FROM f GROUP BY 1 ORDER BY bot_score""".stripMargin,

    "e_bounce_rate_by_entry" ->
      """WITH se AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL OR
        |      epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
        |      ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sid AS (SELECT user_id, ts, event_id, event_type,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM se),
        |r AS (SELECT user_id, session_id, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM sid),
        |sess AS (SELECT user_id, session_id, count(*)::BIGINT AS len,
        |    max(CASE WHEN rn = 1 THEN event_type END) AS entry_type
        |  FROM r GROUP BY user_id, session_id)
        |SELECT entry_type, count(*)::BIGINT AS n_sessions,
        |  sum(CASE WHEN len = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounce,
        |  (sum(CASE WHEN len = 1 THEN 1 ELSE 0 END) * 1000000 // count(*))
        |    ::BIGINT AS bounce_e6
        |FROM sess GROUP BY entry_type ORDER BY entry_type""".stripMargin,

    "a_topk_heavy_changers" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |cut AS (SELECT ((min(us) + max(us)) // 2)::BIGINT AS cut FROM ev),
        |g AS (SELECT user_id,
        |    sum(CASE WHEN us < cut THEN 1 ELSE 0 END)::BIGINT AS n_first,
        |    sum(CASE WHEN us >= cut THEN 1 ELSE 0 END)::BIGINT AS n_second
        |  FROM ev CROSS JOIN cut GROUP BY user_id)
        |SELECT user_id, n_first, n_second,
        |  abs(n_second - n_first)::BIGINT AS delta
        |FROM g ORDER BY delta DESC, user_id LIMIT 20""".stripMargin,

    "w_rolling_active_28d" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ud),
        |spine AS (SELECT unnest(generate_series(mn, mx,
        |    INTERVAL 1 DAY))::DATE AS day FROM b)
        |SELECT s.day, count(DISTINCT ud.user_id)::BIGINT AS n_active_28d
        |FROM spine s LEFT JOIN ud
        |  ON ud.day BETWEEN s.day - INTERVAL 27 DAY AND s.day
        |GROUP BY s.day ORDER BY s.day""".stripMargin,

    "e_session_path_trigrams" ->
      """WITH se AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL OR
        |      epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
        |      ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sid AS (SELECT user_id, ts, event_id, event_type,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM se),
        |tri AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w2 AS t2,
        |    lead(event_type, 2) OVER w2 AS t3
        |  FROM sid
        |  WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id))
        |SELECT t1, t2, t3, count(*)::BIGINT AS n
        |FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY t1, t2, t3
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,

    "e_seq_skipgram" ->
      """WITH se AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL OR
        |      epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
        |      ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sid AS (SELECT user_id, ts, event_id, event_type,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM se),
        |led AS (SELECT user_id, session_id, event_type AS t_from,
        |    lead(event_type, 1) OVER w2 AS n1,
        |    lead(event_type, 2) OVER w2 AS n2,
        |    lead(event_type, 3) OVER w2 AS n3
        |  FROM sid
        |  WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)),
        |pg AS (
        |  SELECT user_id, session_id, t_from, n1 AS t_to, 1 AS gap
        |  FROM led WHERE n1 IS NOT NULL
        |  UNION ALL SELECT user_id, session_id, t_from, n2, 2
        |  FROM led WHERE n2 IS NOT NULL
        |  UNION ALL SELECT user_id, session_id, t_from, n3, 3
        |  FROM led WHERE n3 IS NOT NULL)
        |SELECT t_from, t_to, count(*)::BIGINT AS n_occurrences,
        |  count(CASE WHEN gap = 1 THEN 1 END)::BIGINT AS n_adjacent,
        |  count(DISTINCT (user_id, session_id))::BIGINT AS n_sessions
        |FROM pg GROUP BY t_from, t_to
        |ORDER BY n_sessions DESC, n_occurrences DESC, t_from, t_to""".stripMargin,

    "a_markov_entropy_rate" ->
      """WITH t AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type, next_type, count(*)::BIGINT AS c
        |  FROM t WHERE next_type IS NOT NULL GROUP BY event_type, next_type),
        |a AS (SELECT event_type, sum(c)::BIGINT AS n, count(*)::BIGINT AS k,
        |    sum(floor(c * ln(c) * 1e6 + 0.5)::BIGINT)::BIGINT AS clnc_e6
        |  FROM c GROUP BY event_type)
        |SELECT event_type, n AS n_out, k AS k_next,
        |  round(ln(n) - clnc_e6 / 1e6 / n, 6) AS h_next,
        |  round(CASE WHEN k = 1 THEN 0.0
        |        ELSE (ln(n) - clnc_e6 / 1e6 / n) / ln(k) END, 6) AS h_next_norm
        |FROM a ORDER BY event_type""".stripMargin,

    "a_entropy_by_user" ->
      """WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS c
        |  FROM events GROUP BY user_id, event_type),
        |a AS (SELECT user_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS k,
        |    sum(floor(c * ln(c) * 1e6 + 0.5)::BIGINT)::BIGINT AS clnc_e6
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n AS n_events, k AS n_types,
        |  round(ln(n) - clnc_e6 / 1e6 / n, 6) AS entropy,
        |  round(CASE WHEN k = 1 THEN 0.0
        |        ELSE (ln(n) - clnc_e6 / 1e6 / n) / ln(k) END, 6) AS entropy_norm
        |FROM a ORDER BY user_id""".stripMargin,
    "t1_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events,
        |round(sum(value), 2) AS total_value,
        |count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,
    "t2_dedup_first" ->
      """WITH r AS (SELECT user_id, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "sessionize_30m" ->
      """WITH l AS (SELECT user_id, ts, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (SELECT user_id, ts, event_id,
        |  CASE WHEN prev_ts IS NULL
        |         OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM l),
        |sess AS (SELECT user_id, ts,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f)
        |SELECT user_id, session_id::BIGINT AS session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "asof_join_events" ->
      """WITH cp AS (SELECT * FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (SELECT event_id, user_id, ts, event_type,
        |  last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_ts,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
        |  FROM cp)
        |SELECT event_id, user_id, ts, last_purchase_ts,
        |  coalesce(last_purchase_value, -1.0) AS last_purchase_value
        |FROM w WHERE event_type = 'click' ORDER BY event_id""".stripMargin,
    "c14_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(json_extract_string(props, '$.k')::INT) AS BIGINT) AS sum_k,
        |round(avg(json_extract_string(props, '$.k')::INT), 2) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a_percentiles" ->
      """SELECT event_type,
        |round(quantile_cont(value, 0.5), 6) AS p50,
        |round(quantile_cont(value, 0.9), 6) AS p90,
        |round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "event_transitions" ->
      """WITH t AS (SELECT event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |g AS (SELECT event_type, next_type, count(*) AS n FROM t
        |  WHERE next_type IS NOT NULL GROUP BY event_type, next_type)
        |SELECT event_type, next_type, n,
        |  round(n::DOUBLE / (sum(n) OVER (PARTITION BY event_type)), 6) AS p
        |FROM g ORDER BY event_type, next_type""".stripMargin,

    "a_cooccurrence_types" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*)::BIGINT AS n_users
        |FROM ut a JOIN ut b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "w_sliding_hour_sum" ->
      """WITH e AS (SELECT event_id, user_id,
        |  epoch_us(ts) // 1000000 AS epoch_s,
        |  floor(value * 100 + 0.5)::BIGINT AS cents FROM events)
        |SELECT event_id, user_id, epoch_s,
        |  (sum(cents) OVER (PARTITION BY user_id ORDER BY epoch_s
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW))::BIGINT AS trailing_1h_cents
        |FROM e ORDER BY event_id""".stripMargin,
    "pivot_user_event_matrix" ->
      """SELECT user_id,
        |count(*) FILTER (WHERE event_type = 'click')::BIGINT AS click,
        |count(*) FILTER (WHERE event_type = 'error')::BIGINT AS error,
        |count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS purchase,
        |count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS signup,
        |count(*) FILTER (WHERE event_type = 'view')::BIGINT AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "unpivot_value_stats" ->
      """WITH g AS (SELECT event_type,
        |  round(min(value), 6) AS v_min, round(avg(value), 6) AS v_avg,
        |  round(max(value), 6) AS v_max
        |  FROM events GROUP BY event_type)
        |SELECT event_type, stat, value FROM (
        |  SELECT event_type, 'v_min' AS stat, v_min AS value FROM g
        |  UNION ALL SELECT event_type, 'v_avg', v_avg FROM g
        |  UNION ALL SELECT event_type, 'v_max', v_max FROM g)
        |ORDER BY event_type, stat""".stripMargin,
    "a_approx_sketch_contract" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |(abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |  <= count(DISTINCT user_id) * 0.05)::INT AS cd_within_5pct,
        |(abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
        |  <= abs(quantile_cont(value, 0.5)) * 0.05)::INT AS p50_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "retention_daily" ->
      """WITH daily AS (SELECT DISTINCT date_trunc('day', ts)::DATE AS day, user_id
        |  FROM events),
        |l AS (SELECT day, user_id,
        |  lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day FROM daily)
        |SELECT day, count(*) AS n_active,
        |  sum(CASE WHEN next_day = day + 1 THEN 1 ELSE 0 END)::BIGINT AS n_retained,
        |  round(sum(CASE WHEN next_day = day + 1 THEN 1 ELSE 0 END)::DOUBLE
        |        / count(*), 6) AS retention
        |FROM l GROUP BY day ORDER BY day""".stripMargin,
    "funnel_signup_view_purchase" ->
      """WITH su AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |vi AS (SELECT e.user_id, min(e.ts) AS view_ts FROM events e
        |  JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'view' AND e.ts >= su.signup_ts
        |  GROUP BY e.user_id),
        |pu AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
        |  JOIN vi ON e.user_id = vi.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= vi.view_ts
        |  GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM su) AS n_signup,
        |  (SELECT count(*) FROM vi) AS n_viewed,
        |  (SELECT count(*) FROM pu) AS n_purchased,
        |  round((SELECT count(*) FROM pu)::DOUBLE
        |        / (SELECT count(*) FROM su), 6) AS conversion""".stripMargin,
    "a7_ordered_concat" ->
      """SELECT user_id,
        |string_agg(event_type, '>' ORDER BY ts, event_id) AS journey
        |FROM events WHERE user_id < 10
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "j_point_in_time" ->
      """WITH m AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events WHERE user_id < 20),
        |c AS (SELECT user_id, ts, event_id, event_type FROM m
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |r AS (SELECT user_id, event_type AS state, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM c),
        |f AS (SELECT user_id, ts AS p_ts, floor(value * 100 + 0.5)::BIGINT AS cents
        |  FROM events WHERE user_id < 20 AND event_type = 'purchase')
        |SELECT f.user_id, r.state, count(*)::BIGINT AS n_purchases,
        |  sum(cents)::BIGINT AS cents
        |FROM f JOIN r ON f.user_id = r.user_id
        |  AND r.valid_from <= f.p_ts
        |  AND (r.valid_to IS NULL OR f.p_ts < r.valid_to)
        |GROUP BY f.user_id, r.state
        |ORDER BY f.user_id, r.state""".stripMargin,

    "scd2_user_state" ->
      """WITH m AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events WHERE user_id < 20),
        |c AS (SELECT user_id, ts, event_id, event_type FROM m
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |r AS (SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  event_id AS change_event_id FROM c)
        |SELECT user_id, event_type, valid_from, valid_to, change_event_id,
        |  (valid_to IS NULL)::INT AS is_current
        |FROM r ORDER BY user_id, valid_from, change_event_id""".stripMargin,

    // incremental merge must equal the batch rebuild — same oracle SQL
    "scd2_incremental_merge" ->
      """WITH m AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events WHERE user_id < 20),
        |c AS (SELECT user_id, ts, event_id, event_type FROM m
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |r AS (SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  event_id AS change_event_id FROM c)
        |SELECT user_id, event_type, valid_from, valid_to, change_event_id,
        |  (valid_to IS NULL)::INT AS is_current
        |FROM r ORDER BY user_id, valid_from, change_event_id""".stripMargin,

    "event_debounce" ->
      """WITH l AS (SELECT user_id, event_type, ts,
        |  lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_type, count(*) AS n_total,
        |  count(CASE WHEN prev IS NULL
        |    OR epoch_us(ts) - epoch_us(prev) > 21600::BIGINT * 1000000 THEN 1 END)::BIGINT
        |    AS n_kept
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,

    "j5_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es FROM events),
        |t0 AS (SELECT min(es) // 86400 * 86400 AS t0 FROM e),
        |w AS (SELECT i AS window_id, t0.t0 + i * 4831 AS w_start,
        |             t0.t0 + i * 4831 + (i % 7 + 1) * 600 AS w_end
        |      FROM range(20) r(i) CROSS JOIN t0),
        |j AS (SELECT w.window_id, e.event_id, e.user_id FROM w JOIN e
        |      ON e.es >= w.w_start AND e.es < w.w_end)
        |SELECT w.window_id, w.w_start, w.w_end,
        |  count(j.event_id)::BIGINT AS n_events,
        |  count(DISTINCT j.user_id)::BIGINT AS n_users
        |FROM w LEFT JOIN j USING (window_id)
        |GROUP BY w.window_id, w.w_start, w.w_end
        |ORDER BY w.window_id""".stripMargin,

    // salting is a partition-layout change only: oracle = unsalted join
    "j_skew_salted_join" ->
      """WITH su AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT event_type, count(*) AS n_events,
        |  sum(CASE WHEN ts >= signup_ts THEN 1 ELSE 0 END)::BIGINT AS n_after_signup
        |FROM events JOIN su USING (user_id)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // incremental join-view delta rule ≡ full join recompute
    "mv_incremental_join" ->
      """WITH c AS (SELECT user_id, ts::DATE AS day, event_id AS cid
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts::DATE AS day, event_id AS pid
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.user_id, c.day, c.cid, p.pid
        |  FROM c JOIN p ON c.user_id = p.user_id AND c.day = p.day)
        |SELECT day, count(*)::BIGINT AS n_pairs,
        |  count(DISTINCT cid)::BIGINT AS n_clicks_joined,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM j GROUP BY day ORDER BY day""".stripMargin,

    // incremental MV merge ≡ full rebuild (exact integer cents)
    "mv_incremental_hll" ->
      """WITH h AS (SELECT event_type, event_id % 3 AS b,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS v
        |  FROM events),
        |bb AS (SELECT event_type, b, v & 63 AS r,
        |    max(CASE WHEN v >> 6 = 0 THEN 27
        |      ELSE 27 - length(bin(v >> 6)) END) AS m
        |  FROM h GROUP BY 1, 2, 3),
        |merged AS (SELECT event_type, r, max(m) AS m FROM bb GROUP BY 1, 2),
        |direct AS (SELECT event_type, v & 63 AS r,
        |    max(CASE WHEN v >> 6 = 0 THEN 27
        |      ELSE 27 - length(bin(v >> 6)) END) AS m_d
        |  FROM h GROUP BY 1, 2),
        |diff AS (SELECT coalesce(a.event_type, d.event_type) AS event_type,
        |    sum(CASE WHEN a.m IS NOT DISTINCT FROM d.m_d THEN 0 ELSE 1 END)
        |      ::BIGINT AS registers_diff
        |  FROM merged a FULL OUTER JOIN direct d
        |    ON a.event_type = d.event_type AND a.r = d.r
        |  GROUP BY 1),
        |ei AS (SELECT event_type, count(*) AS v_regs,
        |    sum(pow(2.0, -m)) AS s_occ FROM merged GROUP BY 1),
        |ri AS (SELECT event_type, v_regs,
        |    0.709 * 64 * 64 / (s_occ + (64 - v_regs)) AS raw FROM ei),
        |hi AS (SELECT event_type, v_regs::BIGINT AS v_regs,
        |    round(CASE WHEN raw <= 160 AND v_regs < 64
        |      THEN 64.0 * ln(64.0 / (64 - v_regs)) ELSE raw END, 2)
        |      AS hll_incr FROM ri),
        |ed AS (SELECT event_type, count(*) AS v_regs,
        |    sum(pow(2.0, -m_d)) AS s_occ FROM direct GROUP BY 1),
        |rd AS (SELECT event_type, v_regs,
        |    0.709 * 64 * 64 / (s_occ + (64 - v_regs)) AS raw FROM ed),
        |hd AS (SELECT event_type,
        |    round(CASE WHEN raw <= 160 AND v_regs < 64
        |      THEN 64.0 * ln(64.0 / (64 - v_regs)) ELSE raw END, 2)
        |      AS hll_direct FROM rd),
        |ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT
        |    AS exact_distinct FROM events GROUP BY 1)
        |SELECT hi.event_type, hi.v_regs, hll_incr, hll_direct,
        |  registers_diff, exact_distinct
        |FROM hi JOIN hd USING (event_type) JOIN diff USING (event_type)
        |JOIN ex USING (event_type) ORDER BY event_type""".stripMargin,

    "mv_incremental_agg" ->
      """SELECT event_type, ts::DATE AS day, count(*) AS n,
        |sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

    "e_position_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id, ts AS pts,
        |    floor(value * 100 + 0.5)::BIGINT AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts AS cts, event_id AS cid FROM events
        |  WHERE event_type = 'click'),
        |pairs AS (SELECT pid, p.user_id, cents, cts, cid
        |  FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts < p.pts),
        |rk AS (SELECT pid, user_id, cents,
        |    row_number() OVER (PARTITION BY pid ORDER BY cts, cid) AS rk,
        |    count(*) OVER (PARTITION BY pid) AS k FROM pairs),
        |b AS (SELECT user_id, cents, rk, k,
        |    (CASE WHEN k = 1 THEN 10000
        |          WHEN k = 2 THEN 5000
        |          WHEN rk = 1 THEN 4000
        |          WHEN rk = k THEN 4000 + 2000 % (k - 2)
        |          ELSE 2000 // (k - 2) END)::BIGINT AS bps FROM rk)
        |SELECT user_id, count(*)::BIGINT AS n_touches,
        |  sum(cents * bps)::BIGINT AS attributed_c_e4,
        |  sum(CASE WHEN rk = 1 OR rk = k THEN cents * bps ELSE 0 END)::BIGINT
        |    AS endpoint_c_e4
        |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin,

    "j_multitouch_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id, ts AS pts, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
        |pairs AS (SELECT pid, p.user_id, value FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts < p.pts),
        |w AS (SELECT pid, user_id, value,
        |  count(*) OVER (PARTITION BY pid) AS n_c FROM pairs)
        |SELECT user_id, count(*) AS n_touches,
        |  round(sum(value / n_c), 2) AS attributed_value
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    "w_rank_family" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events WHERE user_id < 20)
        |SELECT event_type, event_id, value,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  round(percent_rank() OVER w, 6) AS prank,
        |  round(cume_dist() OVER w, 6) AS cdist,
        |  ntile(4) OVER w AS ntile4,
        |  coalesce(nth_value(event_id, 3) OVER w, -1) AS nth3
        |FROM e WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, rnk""".stripMargin,

    "a_stats_moments" ->
      """SELECT event_type,
        |  round(median(value), 6) AS med,
        |  round(stddev_samp(value), 6) AS sd,
        |  round(var_samp(value), 6) AS vr,
        |  round(corr(value, user_id::DOUBLE), 6) AS corr_vu,
        |  round(covar_samp(value, user_id::DOUBLE), 6) AS cov_vu
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "w_interval_coverage" ->
      """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS e FROM events),
        |w AS (SELECT user_id, event_id, s, e,
        |  max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |isl AS (SELECT user_id, s, e,
        |  sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY s, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM w),
        |per AS (SELECT user_id, island, max(e) - min(s) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, count(*)::BIGINT AS n_islands, sum(len)::BIGINT AS covered_us
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,

    "anomaly_mad_outliers" ->
      """WITH b AS (SELECT event_type,
        |    2*floor(value*100 + 0.5)::BIGINT AS v2 FROM events),
        |m AS (SELECT event_type, 2*quantile_cont(v2, 0.5) AS m4 FROM b GROUP BY 1),
        |d AS (SELECT b.event_type, v2, abs(2*v2 - m4) AS dev2 FROM b JOIN m USING (event_type)),
        |md AS (SELECT event_type, 2*quantile_cont(dev2, 0.5) AS mad4 FROM d GROUP BY 1)
        |SELECT d.event_type, count(*)::BIGINT AS n,
        |  max(m4)::BIGINT AS med4_cents, max(mad4)::BIGINT AS mad4_cents,
        |  count(*) FILTER (WHERE 2*dev2 > 3*mad4)::BIGINT AS n_outliers
        |FROM d JOIN md USING (event_type) JOIN m ON d.event_type = m.event_type
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "w_cumulative_share" ->
      """WITH u AS (SELECT user_id, sum(floor(value*100 + 0.5)::BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |r AS (SELECT user_id, cents, ntile(10) OVER w AS decile,
        |    sum(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM u WINDOW w AS (ORDER BY cents DESC, user_id)),
        |t AS (SELECT sum(cents) AS total FROM u)
        |SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_users,
        |  sum(cents)::BIGINT AS decile_cents,
        |  round(max(cum)::DOUBLE / total, 6) AS cum_share
        |FROM r, t GROUP BY decile, total ORDER BY decile""".stripMargin,

    "a_heavy_hitters_cms" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT sum(n) AS total, count(*) AS n_users FROM c)
        |SELECT user_id, n::BIGINT AS n FROM c, t
        |WHERE 5 * n * n_users >= 6 * total ORDER BY user_id""".stripMargin,

    "j_asof_tolerance" ->
      """WITH cp AS (SELECT event_id, user_id, event_type, ts,
        |  last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp_us
        |  FROM events WHERE event_type IN ('click', 'purchase'))
        |SELECT event_id, user_id,
        |  (lp_us IS NOT NULL AND epoch_us(ts) - lp_us <= 7200000000) AS matched,
        |  CASE WHEN lp_us IS NOT NULL AND epoch_us(ts) - lp_us <= 7200000000
        |       THEN epoch_us(ts) - lp_us ELSE -1 END AS gap_us
        |FROM cp WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "w_ewma_trailing8" ->
      """WITH l8 AS (SELECT user_id, event_id,
        |  list(floor(value*100 + 0.5)) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS l
        |  FROM events)
        |SELECT user_id, event_id,
        |  round(list_reduce(list_prepend(0.0, l), (a, x) -> (a + x) * 0.5), 8) AS ewma
        |FROM l8 ORDER BY user_id, event_id""".stripMargin,

    "cdc_snapshot_diff" ->
      """WITH cut AS (SELECT date_trunc('day', max(ts)) AS t2,
        |    date_trunc('day', max(ts)) - INTERVAL 5 DAY AS t1 FROM events),
        |a AS (SELECT user_id, count(*)::BIGINT AS n_before,
        |    sum(floor(value*100+0.5)::BIGINT)::BIGINT AS cents_before
        |  FROM events, cut WHERE ts >= t1 - INTERVAL 10 DAY AND ts < t1
        |  GROUP BY user_id),
        |b AS (SELECT user_id, count(*)::BIGINT AS n_after,
        |    sum(floor(value*100+0.5)::BIGINT)::BIGINT AS cents_after
        |  FROM events, cut WHERE ts >= t2 - INTERVAL 10 DAY AND ts < t2
        |  GROUP BY user_id)
        |SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |  CASE WHEN a.user_id IS NULL THEN 'I'
        |       WHEN b.user_id IS NULL THEN 'D' ELSE 'U' END AS op,
        |  coalesce(n_before, -1)::BIGINT AS n_before,
        |  coalesce(cents_before, -1)::BIGINT AS cents_before,
        |  coalesce(n_after, -1)::BIGINT AS n_after,
        |  coalesce(cents_after, -1)::BIGINT AS cents_after
        |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
        |WHERE a.user_id IS NULL OR b.user_id IS NULL
        |   OR n_before <> n_after OR cents_before <> cents_after
        |ORDER BY user_id""".stripMargin,

    "e_conversion_latency" ->
      """WITH fv AS (SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (SELECT e.user_id, fv.v_ts, min(e.ts) AS p_ts
        |  FROM events e JOIN fv USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > fv.v_ts
        |  GROUP BY e.user_id, fv.v_ts)
        |SELECT (epoch_us(p_ts) // 1000000 - epoch_us(v_ts) // 1000000) // 3600
        |    AS latency_h,
        |  count(*)::BIGINT AS n_users
        |FROM p GROUP BY latency_h ORDER BY latency_h""".stripMargin,

    "e_user_growth_curve" ->
      """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day
        |  FROM events),
        |act AS (SELECT day, count(*)::BIGINT AS n_active FROM ud GROUP BY day),
        |fu AS (SELECT user_id, min(day) AS fday FROM ud GROUP BY user_id),
        |nu AS (SELECT fday AS day, count(*)::BIGINT AS n_new FROM fu
        |  GROUP BY fday)
        |SELECT act.day, n_active, coalesce(n_new, 0)::BIGINT AS n_new,
        |  sum(coalesce(n_new, 0)) OVER (ORDER BY act.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cum_users
        |FROM act LEFT JOIN nu USING (day) ORDER BY act.day""".stripMargin,

    "j_asof_nearest" ->
      """WITH cp AS (SELECT event_id, user_id, event_type, ts,
        |    last_value(CASE WHEN event_type = 'purchase'
        |        THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp_us,
        |    first_value(CASE WHEN event_type = 'purchase'
        |        THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np_us
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |g AS (SELECT event_id, user_id,
        |    epoch_us(ts) - lp_us AS bgap, np_us - epoch_us(ts) AS fgap
        |  FROM cp WHERE event_type = 'click'),
        |n AS (SELECT event_id, user_id,
        |    CASE WHEN bgap IS NOT NULL AND (fgap IS NULL OR bgap <= fgap)
        |         THEN -bgap ELSE fgap END AS raw_gap
        |  FROM g)
        |SELECT event_id, user_id,
        |  (raw_gap IS NOT NULL AND abs(raw_gap) <= 7200000000) AS matched,
        |  CASE WHEN raw_gap IS NOT NULL AND abs(raw_gap) <= 7200000000
        |       THEN raw_gap ELSE 9999999999 END AS gap_us
        |FROM n ORDER BY event_id""".stripMargin,

    "j_asof_forward" ->
      """WITH cp AS (SELECT event_id, user_id, event_type, ts,
        |    first_value(CASE WHEN event_type = 'purchase'
        |        THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np_us,
        |    first_value(CASE WHEN event_type = 'purchase'
        |        THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np_val
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |g AS (SELECT event_id, user_id,
        |    (np_us IS NOT NULL AND np_us - epoch_us(ts) <= 7200000000) AS matched,
        |    np_us - epoch_us(ts) AS fgap, np_val
        |  FROM cp WHERE event_type = 'click')
        |SELECT event_id, user_id, matched,
        |  CASE WHEN matched THEN fgap ELSE -1 END AS gap_us,
        |  CASE WHEN matched THEN np_val ELSE -1.0 END AS next_value
        |FROM g ORDER BY event_id""".stripMargin,

    "a_cohort_ltv_curve" ->
      """WITH uw AS (SELECT user_id, date_trunc('week', ts) AS w FROM events),
        |co AS (SELECT user_id, min(w) AS cohort_week FROM uw GROUP BY user_id),
        |sz AS (SELECT cohort_week, count(*)::BIGINT AS n_cohort FROM co
        |  GROUP BY cohort_week),
        |p AS (SELECT user_id, date_trunc('week', ts) AS w,
        |    sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, w),
        |cells AS (SELECT co.cohort_week,
        |    (date_diff('day', co.cohort_week, p.w) // 7)::BIGINT AS week_offset,
        |    sum(p.cents)::BIGINT AS cents
        |  FROM p JOIN co USING (user_id)
        |  GROUP BY co.cohort_week, week_offset),
        |cum AS (SELECT cohort_week, week_offset, cents,
        |    sum(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum_cents
        |  FROM cells)
        |SELECT cum.cohort_week::DATE AS cohort_week, week_offset, cents,
        |  cum_cents, n_cohort,
        |  (cum_cents * 1000000 // n_cohort)::BIGINT AS ltv_per_user_e6
        |FROM cum JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "e_shapley_attribution" ->
      """WITH um AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 1 +
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) * 2 +
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) * 4
        |      AS mask,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |      AS conv
        |  FROM events GROUP BY user_id),
        |mc AS (SELECT mask::INT AS mask, sum(conv)::BIGINT AS nconv
        |  FROM um GROUP BY mask),
        |subs AS (SELECT unnest(range(8))::INT AS sub),
        |vv AS (SELECT sub,
        |    coalesce(sum(CASE WHEN (mask & ~sub) = 0 THEN nconv END), 0)
        |      ::BIGINT AS v
        |  FROM subs LEFT JOIN mc ON (mask & ~sub) = 0 GROUP BY sub),
        |ch(name, bit) AS (VALUES ('click', 1), ('view', 2), ('signup', 4)),
        |terms AS (SELECT ch.name AS channel,
        |    (CASE WHEN bit_count(s0.sub) = 1 THEN 1 ELSE 2 END)::BIGINT
        |      * (s1.v - s0.v) AS term
        |  FROM ch CROSS JOIN vv s0
        |  JOIN vv s1 ON s1.sub = s0.sub + ch.bit
        |  WHERE (s0.sub & ch.bit) = 0)
        |SELECT channel, sum(term)::BIGINT AS phi_num6,
        |  (sum(term) * 1000000 // 6)::BIGINT AS phi_e6
        |FROM terms GROUP BY channel ORDER BY channel""".stripMargin,

    "j_allen_interval_census" ->
      s"""WITH c AS (SELECT user_id, ts::DATE AS day,
         |    min(epoch_us(ts))::BIGINT AS xs, max(epoch_us(ts))::BIGINT AS xe
         |  FROM events WHERE event_type = 'click'
         |  GROUP BY 1, 2 HAVING min(epoch_us(ts)) < max(epoch_us(ts))),
         |v AS (SELECT user_id, ts::DATE AS day,
         |    min(epoch_us(ts))::BIGINT AS ys, max(epoch_us(ts))::BIGINT AS ye
         |  FROM events WHERE event_type = 'view'
         |  GROUP BY 1, 2 HAVING min(epoch_us(ts)) < max(epoch_us(ts)))
         |SELECT $allenCaseSql AS relation, count(*)::BIGINT AS n
         |FROM c JOIN v USING (user_id, day)
         |GROUP BY 1 ORDER BY relation""".stripMargin,

    "e_late_arrival_audit" ->
      """WITH ev AS (SELECT ts::DATE AS day, event_id, epoch_us(ts) AS us
        |  FROM events),
        |p AS (SELECT day, us, max(us) OVER (PARTITION BY day
        |    ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM ev)
        |SELECT day, count(*)::BIGINT AS n_events,
        |  sum(CASE WHEN us < pm - 600000000 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_late,
        |  max(greatest(coalesce(pm - us, 0), 0))::BIGINT AS max_lag_us
        |FROM p GROUP BY day ORDER BY day""".stripMargin,

    "anomaly_iqr_fences" ->
      """WITH ev AS (SELECT event_type,
        |    floor(value * 100 + 0.5)::BIGINT AS c FROM events),
        |h AS (SELECT event_type, c, count(*)::BIGINT AS cnt
        |  FROM ev GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM h),
        |q AS (SELECT event_type,
        |    min(CASE WHEN cum * 4 >= n THEN c END)::BIGINT AS q1_c,
        |    min(CASE WHEN cum * 4 >= n * 3 THEN c END)::BIGINT AS q3_c,
        |    max(n)::BIGINT AS n
        |  FROM cum GROUP BY event_type),
        |qi AS (SELECT *, (q3_c - q1_c)::BIGINT AS iqr_c FROM q),
        |f AS (SELECT h.event_type, max(q1_c)::BIGINT AS q1_c,
        |    max(q3_c)::BIGINT AS q3_c, max(iqr_c)::BIGINT AS iqr_c,
        |    max(n)::BIGINT AS n,
        |    sum(CASE WHEN c * 2 < q1_c * 2 - iqr_c * 3
        |      THEN cnt ELSE 0 END)::BIGINT AS n_lo,
        |    sum(CASE WHEN c * 2 > q3_c * 2 + iqr_c * 3
        |      THEN cnt ELSE 0 END)::BIGINT AS n_hi
        |  FROM h JOIN qi USING (event_type) GROUP BY h.event_type)
        |SELECT event_type, q1_c, q3_c, iqr_c, n, n_lo, n_hi,
        |  ((n_lo + n_hi) * 1000000 // n)::BIGINT AS outlier_e6
        |FROM f ORDER BY event_type""".stripMargin,

    "e_watermark_sla" ->
      """WITH ev AS (SELECT ts::DATE AS day, event_id, epoch_us(ts) AS us
        |  FROM events),
        |l AS (SELECT day, event_id, greatest(coalesce(
        |    max(us) OVER (PARTITION BY day ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us, 0), 0)
        |    AS lag_us FROM ev),
        |r AS (SELECT day, lag_us,
        |    row_number() OVER (PARTITION BY day ORDER BY lag_us, event_id)
        |      AS rk,
        |    count(*) OVER (PARTITION BY day) AS n FROM l),
        |ds AS (SELECT day, lag_us::BIGINT AS d_star_us FROM r
        |  WHERE rk = n - n // 1000),
        |g AS (SELECT day, d_us, count(*)::BIGINT AS n_events,
        |    sum((lag_us > d_us)::INT)::BIGINT AS n_dropped
        |  FROM l CROSS JOIN (VALUES (60000000::BIGINT), (600000000::BIGINT),
        |    (1800000000::BIGINT)) AS dd(d_us)
        |  GROUP BY day, d_us)
        |SELECT g.day, g.d_us, g.n_events, g.n_dropped,
        |  ((n_events - n_dropped) * 1000000 // n_events)::BIGINT
        |    AS retained_e6,
        |  (((n_events - n_dropped) * 1000000 // n_events) >= 999000)::BIGINT
        |    AS meets_sla,
        |  ds.d_star_us
        |FROM g JOIN ds USING (day) ORDER BY g.day, g.d_us""".stripMargin,

    "e_littles_law_audit" ->
      """WITH sess AS (SELECT ts::DATE AS day, user_id,
        |    min(epoch_us(ts))::BIGINT AS t0, max(epoch_us(ts))::BIGINT AS t1
        |  FROM events GROUP BY day, user_id),
        |deltas AS (SELECT day, t, sum(d)::BIGINT AS net FROM (
        |    SELECT day, t0 AS t, 1::BIGINT AS d FROM sess
        |    UNION ALL SELECT day, t1, -1::BIGINT FROM sess)
        |  GROUP BY day, t),
        |sweep AS (SELECT day,
        |    sum(net) OVER (PARTITION BY day ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS cc,
        |    coalesce(lead(t) OVER (PARTITION BY day ORDER BY t), t) - t AS gap
        |  FROM deltas),
        |area AS (SELECT day, sum(cc * gap)::BIGINT AS area_us
        |  FROM sweep GROUP BY day),
        |agg AS (SELECT day, count(*)::BIGINT AS n_sessions,
        |    sum(t1 - t0)::BIGINT AS sum_dur_us FROM sess GROUP BY day)
        |SELECT agg.day, n_sessions, sum_dur_us, area_us,
        |  (sum_dur_us // n_sessions)::BIGINT AS w_mean_us,
        |  (area_us // 86400)::BIGINT AS l_e6,
        |  (n_sessions * 1000000 // 86400)::BIGINT AS lambda_e6
        |FROM agg JOIN area USING (day) ORDER BY day""".stripMargin,

    "w_peak_concurrency" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |d AS (SELECT event_type, us AS t, 1::BIGINT AS d FROM ev
        |  UNION ALL SELECT event_type, us + 1800000000, -1 FROM ev),
        |net AS (SELECT event_type, t, sum(d)::BIGINT AS net FROM d
        |  GROUP BY event_type, t),
        |c AS (SELECT event_type, t,
        |    sum(net) OVER (PARTITION BY event_type ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cc
        |  FROM net),
        |r AS (SELECT event_type, t, cc, row_number() OVER (
        |    PARTITION BY event_type ORDER BY cc DESC, t) AS rn FROM c)
        |SELECT event_type, cc AS peak, t AS at_us
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "e_interarrival_hist" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) // 1000000 -
        |      lag(epoch_us(ts) // 1000000) OVER (
        |        PARTITION BY event_type ORDER BY ts, event_id) AS gap_s
        |  FROM events),
        |b AS (SELECT event_type,
        |    CASE WHEN gap_s >= 1 THEN length(bin(gap_s)) - 1
        |         ELSE -1 END::BIGINT AS log2_bucket
        |  FROM g WHERE gap_s IS NOT NULL)
        |SELECT event_type, log2_bucket, count(*)::BIGINT AS n
        |FROM b GROUP BY event_type, log2_bucket
        |ORDER BY event_type, log2_bucket""".stripMargin
  )
}
