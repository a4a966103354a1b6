package graft.operators

import graft.Tables
import graft.api.Pins.PinSyntax
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-series analytics over the `events` table — the signal-shape
  * queries a pipeline health dashboard asks of its ingestion telemetry
  * (the reference's poll-loop counters, `/root/reference/src/main.py:133`,
  * generalized to real series statistics).
  *
  * Determinism contract shared by the whole family: every accumulated
  * quantity is an exact integer (event counts, cents via
  * floor(x*100+0.5), epoch microseconds) summed as BIGINT, and doubles
  * appear only in FINAL closed-form expressions computed identically by
  * any engine from those exact sums. Double addition is not associative;
  * Spark's partial aggregation order differs run-to-run, so summing
  * doubles directly could flip a low bit and fail a hash gate — integer
  * sums cannot.
  *
  * Scale notes: each query is one (or two chained) grouped aggregates on
  * a natural key (event_type / user_id) — map-side partial aggregation
  * shrinks the shuffle to one row per (key, hour) before any window
  * runs. The window functions partition by the same key, so Spark reuses
  * the aggregate's hash exchange (no second shuffle). At 100 TB the
  * events table is date-partitioned; the hourly pre-aggregate is the
  * textbook two-level rollup that AQE-coalesces to near-nothing.
  */
object TimeSeriesOps {

  /** ACF probe lags — ONE definition feeds the Spark query and the
    * generated oracle union below. */
  private val AcfLags = Seq(1, 2, 3, 6, 12, 24)

  /** Hourly per-type totals with exact integer cents. Session-memoized
    * (r10 family sweep): SIX ts_* queries start from this identical
    * rollup, so the raw-event aggregate runs once per (session, dir) —
    * at 100 TB the hourly digest is the curated two-level-rollup table
    * every telemetry store materializes at ingest, and each query here
    * reads a |types|×|hours| checkpoint instead of re-scanning facts. */
  private def hourly(s: SparkSession, dir: String): DataFrame =
    graft.api.Graft.memoizedExchange("ts_hourly_digest", s, dir) {
      Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"),
             sum(floor(col("value") * 100 + 0.5).cast("long")).as("v_e2"))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_max_drawdown" -> maxDrawdownQuery,

    // Theil–Sen robust trend of daily event volume — the median of all
    // pairwise slopes: up to ~29% of days can be arbitrarily corrupted
    // (outages, backfills) without moving the estimate, where the OLS
    // slope chases every spike — the right trend line for operational
    // volume data. Slopes are e6-quantized by the shared floor(x·1e6
    // + 0.5) idiom, the median is the exact lower-median order
    // statistic of the quantized multiset (deterministic under any tie
    // order). Scale (r11 verdict #1 fix): the pair table is QUADRATIC
    // in days (a 10-year daily digest is ~6.6M slope rows), so the
    // rank goes through Graft.globalRunningSum — range-partition on
    // (slope, pair id) with broadcast per-partition offsets; the
    // running count IS the global row_number and the total IS n_pairs,
    // in one two-pass sweep with NO data-sized single-partition window
    // (the facade's only global window runs over its 32-row offset
    // table — bounded by numParts, not by data). (da, db) completes
    // the total order the facade requires; the value at the median
    // rank is tie-invariant either way. daily is localCheckpointed
    // because the self-join consumes it twice.
    "ts_theil_sen" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
        .select(datediff(col("day"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"), col("n"))
        .pin(eager = true)
      val nDays = daily.agg(count(lit(1)).as("n_days"))
      val pairs = daily.alias("a").join(daily.alias("b"), col("b.d") > col("a.d"))
        .select(floor((col("b.n") - col("a.n")) * lit(1000000.0) /
            (col("b.d") - col("a.d")) + 0.5).cast("long").as("slope_e6"),
          col("a.d").as("da"), col("b.d").as("db"))
        .withColumn("one", lit(1L))
      graft.api.Graft.globalRunningSum(pairs, "one", "rn", "n_pairs",
          col("slope_e6"), col("da"), col("db"))
        .filter(col("rn") === expr("(n_pairs + 1) div 2"))
        .crossJoin(broadcast(nDays))
        .select(col("n_days"), col("n_pairs"),
                col("slope_e6").as("theil_sen_slope_e6"))
    }),

    // EWMA control chart (Roberts 1959) — the SPC family member next
    // to CUSUM: z_t = λΣ(1−λ)^k x_{t−k} flags sustained small shifts
    // that per-point 3σ rules miss. λ = 1/4 over a FULL 16-day
    // trailing window makes the recursion a finite weighted sum with
    // EXACT integer weights 3^k·4^(15−k) (Σ = 4^16 − 3^16 =
    // 4251920575 — the geometric telescoping), so z is an integer
    // ratio z_num/4251920575, quantized once at e2. Control limits
    // μ ± 3σ√(λ/(2−λ)) are the asymptotic EWMA limits; σ is the
    // per-type daily-count sample std (the one double, identical
    // formula both engines). The weighted sum is a self-join of the
    // |types|×|days| DAILY DIGEST against itself (≤16 partners per
    // anchor) — at 100 TB the digest is already thousands of rows, so
    // the join is free; raw events aggregate once.
    "ts_ewma_control_chart" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("n")).as("sx"),
             sum(col("n") * col("n")).as("sxx"))
        .withColumn("mu", col("sx").cast("double") / col("cnt"))
        .withColumn("sg", sqrt(
          (col("cnt") * col("sxx") - col("sx") * col("sx")).cast("double") /
          (col("cnt") * (col("cnt") - 1)).cast("double")))
        .withColumn("lo_e2", floor((col("mu") -
          lit(3.0) * col("sg") * sqrt(lit(1.0 / 7.0))) * 100 + 0.5).cast("long"))
        .withColumn("hi_e2", floor((col("mu") +
          lit(3.0) * col("sg") * sqrt(lit(1.0 / 7.0))) * 100 + 0.5).cast("long"))
      val z = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
          datediff(col("a.day"), col("b.day")).between(0, 15))
        .select(col("a.event_type").as("event_type"), col("a.day").as("day"),
          datediff(col("a.day"), col("b.day")).as("k"), col("b.n").as("nb"))
        // round() clears pow's 1-ulp slack before the cast; 4^(15−k)
        // is an exact shift — the weights are bit-exact integers
        .withColumn("w",
          expr("CAST(round(pow(3, k)) AS BIGINT) * " +
               "shiftleft(CAST(1 AS BIGINT), 30 - 2 * k)"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("terms"), sum(col("w") * col("nb")).as("z_num"))
        .filter(col("terms") === 16) // full window only
        .withColumn("z_e2", expr("z_num * 100 div 4251920575"))
      z.join(broadcast(stats.select(col("event_type"), col("lo_e2"),
          col("hi_e2"))), "event_type")
        .select(col("event_type"), col("day"), col("z_e2"),
          col("lo_e2"), col("hi_e2"),
          (col("z_e2") < col("lo_e2") || col("z_e2") > col("hi_e2"))
            .cast("long").as("flag"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Weekly entropy of the event-type mix — "did the SHAPE of traffic
    // change this week?", the distributional companion to the count
    // drift family (a feed can hold volume while collapsing onto one
    // event type; entropy catches that, totals don't). Delegates to
    // the entropyByKey discipline: each c·ln c term e6-quantized
    // BEFORE summation so aggregation order cannot move the result;
    // the weekly census is |weeks|×|types| rows after map-side
    // partials. entropy_norm rescales by ln(k) to [0, 1].
    "ts_entropy_weekly" -> ((s, dir) =>
      graft.api.Graft.entropyByKey(
          Tables.events(s, dir)
            .select(date_trunc("WEEK", col("ts")).as("week"), col("event_type")),
          "week", "event_type")
        .select(col("week"), col("n_events"), col("n_types"),
                round(col("entropy"), 6).as("entropy"),
                round(col("entropy_norm"), 6).as("entropy_norm"))
        .orderBy(col("week"))),

    // Lag-1 autocorrelation of the hourly value series per event type.
    // Pearson r from the exact closed form (n, Σx, Σy, Σxy, Σx², Σy² as
    // BIGINT over integer cents) — NOT Spark's corr(), whose streaming
    // co-moment update is order-dependent in the last bits.
    "ts_autocorr_lag1" -> ((s, dir) =>
      graft.api.Graft.autocorrLag1(hourly(s, dir), "event_type", "hour", "v_e2")
        .select(col("event_type"), col("n_pairs"),
                round(col("autocorr"), 6).as("autocorr"))
        .orderBy(col("event_type"))),

    // ACF at lags {1,2,3,6,12,24} of the hourly COUNT series per type
    // — the seasonality detector (a daily cycle shows as the lag-24
    // peak; ts_autocorr_lag1 is this at lag 1 on the value series).
    // One window sort computes every lag column; see Graft.acfAtLags.
    "ts_acf_multi_lag" -> ((s, dir) =>
      graft.api.Graft.acfAtLags(hourly(s, dir), "event_type", "hour", "cnt",
          AcfLags)
        .select(col("event_type"), col("lag"), col("n_pairs"),
                round(col("autocorr"), 6).as("autocorr"))
        .orderBy(col("event_type"), col("lag"))),

    // Mean-shift changepoint (binary segmentation's first split): for
    // each candidate split t the statistic |mean_before − mean_after| ·
    // sqrt(t(n−t)/n) over the hourly count series; argmax per type.
    // Cumulative sums come from a window over the hourly aggregate (same
    // partitioning key → exchange reuse, no extra shuffle).
    "ts_changepoint_meanshift" -> ((s, dir) =>
      graft.api.Graft.changepointMeanShift(hourly(s, dir), "event_type", "hour", "cnt")
        .select(col("event_type"), col("hour").as("split_hour"),
                round(col("score"), 6).as("score"),
                round(col("mean_before"), 4).as("mean_before"),
                round(col("mean_after"), 4).as("mean_after"))
        .orderBy(col("event_type"))),

    // Time-weighted average value per user: piecewise-constant hold
    // between consecutive events, weighted by exact epoch-microsecond
    // durations. The classic irregular-series aggregate (sensor /
    // billing semantics) — a plain avg() over-weights burst periods.
    "w_time_weighted_avg" -> ((s, dir) =>
      graft.api.Graft.timeWeightedSums(
          Tables.events(s, dir)
            .select(col("user_id"), col("ts"), col("event_id"),
                    floor(col("value") * 100 + 0.5).cast("long").as("v_e2")),
          "user_id", "ts", "event_id", "v_e2")
        .filter(col("dsum") > 0)
        .select(col("user_id"),
                round(col("wsum") / col("dsum") / 100.0, 4).as("twa_value"),
                col("n_intervals"))
        .orderBy(col("user_id"))),

    // Hour-of-day seasonal profile per event type: seasonal index =
    // mean count at that hour-of-day ÷ overall mean count, computed as
    // one exact-integer cross-multiplied ratio (sum_cnt·n_hours_total)
    // / (n_hours_hod·total_cnt) so no intermediate mean loses bits.
    // Naive-forecast backtest — the evaluation loop behind every
    // capacity/alerting forecast: walk the daily count series per
    // type, predict each day with (a) yesterday's value and (b) the
    // trailing-7-day mean, and report each method's MAE over the
    // evaluable days. Which baseline wins (persistence vs smoothing)
    // IS the seasonality diagnostic. Errors stay exact: the MA7
    // prediction is a ×7-scaled integer, so |7·actual − Σ7| is BIGINT
    // and the MAE an e6 floor-div rational — no FP in the backtest.
    // One per-type window pass over the |types|×|days| series.
    "ts_backtest_naive" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("DAY", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("prev", lag(col("cnt"), 1).over(w))
        .withColumn("s7", sum(col("cnt")).over(w.rowsBetween(-7, -1)))
        .withColumn("n7", count(lit(1)).over(w.rowsBetween(-7, -1)))
        .filter(col("n7") === 7)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_eval_days"),
             sum(abs(col("cnt") - col("prev"))).as("ae_last"),
             sum(abs(col("cnt") * 7 - col("s7"))).as("ae7_ma"))
        .select(col("event_type"), col("n_eval_days"),
          expr("ae_last * 1000000 div n_eval_days").as("mae_last_e6"),
          expr("ae7_ma * 1000000 div (n_eval_days * 7)").as("mae_ma7_e6"))
        .withColumn("winner",
          when(col("mae_ma7_e6") < col("mae_last_e6"), "ma7").otherwise("last"))
        .orderBy(col("event_type"))
    }),

    // Naive STL decomposition of the hourly event-count series per
    // type: trend = centered 25-observation moving mean (rows frame
    // over the observed hours — gap-robust and engine-agnostic),
    // seasonal = hour-of-day mean deviation from the series mean,
    // residual = the exact remainder. Every component is an exact e6
    // floor-div rational of BIGINT window sums — a full decomposition
    // with ZERO floats, so remainder algebra (n·1e6 = trend + seasonal
    // + resid + mean) holds exactly and is spec-asserted. Scale: the
    // series table is |types|×|hours| (calendar-bounded); the windows
    // partition by type.
    "ts_stl_decompose" -> ((s, dir) => {
      val h = hourly(s, dir).select(col("event_type"), col("hour"), col("cnt"))
      val byType = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      val trend = h
        .withColumn("tr_sum", sum(col("cnt")).over(byType.rowsBetween(-12, 12)))
        .withColumn("tr_n", count(lit(1)).over(byType.rowsBetween(-12, 12)))
        .withColumn("trend_e6", expr("tr_sum * 1000000 div tr_n"))
      val hod = h.groupBy(col("event_type").as("et"), hour(col("hour")).as("hod"))
        .agg(sum(col("cnt")).as("hs"), count(lit(1)).as("hn"))
        .withColumn("hod_mean_e6", expr("hs * 1000000 div hn"))
      val mean = h.groupBy(col("event_type").as("mt"))
        .agg(expr("sum(cnt) * 1000000 div count(1)").as("mean_e6"))
      trend
        .join(broadcast(hod),
          col("event_type") === col("et") && hour(col("hour")) === col("hod"))
        .join(broadcast(mean), col("event_type") === col("mt"))
        .select(col("event_type"), col("hour"), col("cnt"),
          col("trend_e6"),
          (col("hod_mean_e6") - col("mean_e6")).as("seasonal_e6"),
          (col("cnt") * 1000000L - col("trend_e6") -
            (col("hod_mean_e6") - col("mean_e6"))).as("resid_e6"))
        .orderBy(col("event_type"), col("hour"))
    }),

    "ts_seasonality_hod" -> ((s, dir) => {
      val hod = hourly(s, dir)
        .groupBy(col("event_type"), hour(col("hour")).as("hod"))
        .agg(sum(col("cnt")).as("hod_cnt"), count(lit(1)).as("hod_hours"))
      val tot = hod.groupBy(col("event_type").as("t_type"))
        .agg(sum(col("hod_cnt")).as("total_cnt"), sum(col("hod_hours")).as("total_hours"))
      hod.join(broadcast(tot), col("event_type") === col("t_type"))
        .select(col("event_type"), col("hod"), col("hod_cnt"),
          round((col("hod_cnt") * col("total_hours")).cast("double") /
                (col("hod_hours") * col("total_cnt")), 6).as("seasonal_idx"))
        .orderBy(col("event_type"), col("hod"))
    }),

    // Seasonal-baseline anomaly census — the deseasonalized 3σ outlier
    // gate: per (event_type, hour-of-day) baseline (n, Σ, Σ²) in exact
    // integer cents, then flag rows where (v·n − S)² > 9·(n·SS − S²) —
    // the 3σ rule cross-multiplied into PURE INTEGER form, so the
    // verdict has no FP anywhere (a naive |v−μ| > 3σ compares two
    // rounded doubles and can flip at the boundary across engines).
    // decimal(38,0) keeps the squares exact at any n (BIGINT squares
    // overflow past v·n ≈ 3e9). Scale shape: one |type|×24 baseline
    // aggregate broadcast back onto the fact stream — the flag pass is
    // map-side; output is the |type|×24 census, never row-level.
    "ts_seasonal_anomaly" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      val ev = Tables.events(s, dir)
        .select(col("event_type"), hour(col("ts")).cast("long").as("hod"),
                floor(col("value") * 100 + 0.5).cast("long").as("v"))
      val base = ev.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
             sum(col("v") * col("v")).as("ss"))
      ev.join(broadcast(base), Seq("event_type", "hod"))
        .withColumn("lhs",
          (col("v").cast(d38) * col("n") - col("s")) *
          (col("v").cast(d38) * col("n") - col("s")))
        .withColumn("rhs",
          lit(9).cast(d38) * (col("n").cast(d38) * col("ss") -
                              col("s").cast(d38) * col("s")))
        .groupBy(col("event_type"), col("hod"))
        .agg(max(col("n")).as("n"),
             sum((col("lhs") > col("rhs")).cast("long")).as("n_anomalies"))
        .orderBy(col("event_type"), col("hod"))
    }),

    // Week-over-week deltas — the first derivative every ops dashboard
    // plots: ISO-week totals per event type in exact integer cents,
    // lag-1 window for the previous week, one IEEE division for the
    // relative change. The weekly pre-aggregate bounds the window input
    // at |types|×|weeks| rows; the lag window reuses the aggregate's
    // hash exchange (same partition key).
    "w_pct_change_wow" -> ((s, dir) => {
      val wk = Tables.events(s, dir)
        .groupBy(col("event_type"),
                 date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(count(lit(1)).as("n_events"),
             sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      wk.withColumn("prev_cents", lag(col("cents"), 1).over(
          Window.partitionBy(col("event_type")).orderBy(col("week"))))
        // first week has no predecessor — dropped so every output
        // column is non-null (a NULL BIGINT becomes NaN-typed in
        // column stores and poisons exact compares)
        .filter(col("prev_cents").isNotNull && col("prev_cents") =!= 0)
        .select(col("event_type"), col("week"), col("n_events"), col("cents"),
          col("prev_cents"),
          round((col("cents") - col("prev_cents")).cast("double") /
                col("prev_cents").cast("double"), 6).as("wow_change"))
        .orderBy(col("event_type"), col("week"))
    }),

    // Gap-fill with linear interpolation — the irregular-series
    // regularization step (sensor fusion / billing rating / feature
    // materialization all need a dense grid). Per event type the
    // minute-grain count series is densified onto a sequence() spine
    // from first to last observed minute; each missing minute is
    // linearly interpolated between its nearest observed neighbors via
    // the two IGNORE-NULLS window walks (last-before, first-after) —
    // the relational form of a bidirectional as-of join without the
    // second shuffle: spine and observations share the (type, minute)
    // ordering so BOTH neighbor walks and the join run on one exchange.
    // The interpolated value is an exact BIGINT rational,
    // (prev·(next_m−m) + next·(m−prev_m))·1e6 div (next_m−prev_m) —
    // floor division evaluated identically by both engines; no FP
    // anywhere. Output = the filled (gap) rows only. Scale shape: the
    // spine is |types|×minutes (metadata-sized); at 100 TB the grain
    // would be per (entity, hour) and the same two windows apply —
    // nothing here is corpus-sized except the initial pre-aggregate.
    "ts_gap_fill_interpolate" -> ((s, dir) => {
      val obs = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("CAST(ts AS LONG) div 60").as("m"))
        .agg(count(lit(1)).as("cnt"))
      graft.api.Graft.gapFillInterpolate(obs, "event_type", "m", "cnt")
        .withColumnRenamed("m", "minute")
        .orderBy(col("event_type"), col("minute"))
    }),

    // Cross-correlation lag scan — "does click volume lead purchase
    // volume, and by how many hours?" Pearson r between the click and
    // purchase hourly series at every lag in [−3, +3], from the same
    // exact-BIGINT moment sums as ts_autocorr_lag1 (never corr()). The
    // lag shift is relational: the 7-row lag list broadcasts onto the
    // hourly aggregate (a |hours|-row table, not the corpus) and the
    // shifted self-join is an equi-join on hy = hx + lag. Only hours
    // present in BOTH series at that shift enter each sum — n is
    // reported so a thin overlap is visible. At 100 TB the hourly
    // pre-aggregate IS the reduction; everything after is metadata.
    "ts_xcorr_best_lag" -> ((s, dir) => {
      val hc = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"), expr("CAST(ts AS LONG) div 3600").as("h"))
        .agg(count(lit(1)).as("cnt"))
        .pin(eager = true)
      val x = hc.filter(col("event_type") === "click")
        .select(col("h").as("hx"), col("cnt").as("x"))
      val lags = s.range(-3, 4).toDF("lag")
      val y = hc.filter(col("event_type") === "purchase")
        .select(col("h").as("hy"), col("cnt").as("y"))
      x.crossJoin(broadcast(lags))
        .join(y, col("hy") === col("hx") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
             sum(col("x") * col("y")).as("sxy"),
             sum(col("x") * col("x")).as("sxx"),
             sum(col("y") * col("y")).as("syy"))
        .select(col("lag"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt(((col("n") * col("sxx") - col("sx") * col("sx")) *
                  (col("n") * col("syy") - col("sy") * col("sy"))).cast("double")), 6)
            .as("xcorr"))
        .orderBy(col("lag"))
    })
  )

  /** Maximum drawdown of the hourly activity series per type — the
    * "worst collapse from the running peak" statistic (finance's MDD
    * applied to ingestion telemetry: how far below its historical high
    * did the feed fall, and when). Running peak is a cumulative-max
    * window over the hourly pre-aggregate (same partition key → the
    * aggregate's exchange is reused); the argmax hour is ONE struct-min
    * ordered (−dd, hour), so the EARLIEST worst hour wins ties
    * deterministically. All BIGINT counts — no FP anywhere. */
  private val maxDrawdownQuery: (SparkSession, String) => DataFrame =
    (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      hourly(s, dir)
        .withColumn("peak", max(col("cnt")).over(w))
        .withColumn("dd", col("peak") - col("cnt"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
             min(struct((-col("dd")).as("ndd"), col("hour").as("h"),
                        col("peak").as("p"))).as("m"))
        .select(col("event_type"), col("n_hours"),
                (-col("m.ndd")).as("max_drawdown"),
                col("m.h").as("at_hour"), col("m.p").as("peak_before"))
        .orderBy(col("event_type"))
    }

  def oracles: Map[String, String] = Map(
    "ts_theil_sen" ->
      """WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |d AS (SELECT (day - DATE '1970-01-01')::BIGINT AS d, n FROM daily),
        |p AS (SELECT floor((b.n - a.n) * 1000000.0 / (b.d - a.d) + 0.5)
        |    ::BIGINT AS slope_e6
        |  FROM d a JOIN d b ON b.d > a.d),
        |r AS (SELECT slope_e6, row_number() OVER (ORDER BY slope_e6) AS rn,
        |    count(*) OVER () AS np FROM p)
        |SELECT (SELECT count(*) FROM daily)::BIGINT AS n_days,
        |  np::BIGINT AS n_pairs, slope_e6 AS theil_sen_slope_e6
        |FROM r WHERE rn = (np + 1) // 2""".stripMargin,

    "ts_ewma_control_chart" ->
      """WITH daily AS (SELECT event_type, ts::DATE AS day,
        |    count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*)::BIGINT AS cnt,
        |    sum(n)::BIGINT AS sx, sum(n * n)::BIGINT AS sxx
        |  FROM daily GROUP BY 1),
        |lim AS (SELECT event_type,
        |    floor((sx::DOUBLE / cnt - 3.0 * sqrt((cnt * sxx - sx * sx)::DOUBLE
        |      / (cnt * (cnt - 1))::DOUBLE) * sqrt(1.0 / 7.0)) * 100 + 0.5)
        |      ::BIGINT AS lo_e2,
        |    floor((sx::DOUBLE / cnt + 3.0 * sqrt((cnt * sxx - sx * sx)::DOUBLE
        |      / (cnt * (cnt - 1))::DOUBLE) * sqrt(1.0 / 7.0)) * 100 + 0.5)
        |      ::BIGINT AS hi_e2
        |  FROM st),
        |z AS (SELECT a.event_type, a.day, count(*) AS terms,
        |    sum(CAST(round(pow(3, date_diff('day', b.day, a.day))) AS BIGINT)
        |      * (1::BIGINT << (30 - 2 * date_diff('day', b.day, a.day)))
        |      * b.n) AS z_num
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND date_diff('day', b.day, a.day) BETWEEN 0 AND 15
        |  GROUP BY 1, 2 HAVING count(*) = 16)
        |SELECT z.event_type, z.day,
        |  (z_num * 100 // 4251920575)::BIGINT AS z_e2, lo_e2, hi_e2,
        |  (z_num * 100 // 4251920575 < lo_e2
        |    OR z_num * 100 // 4251920575 > hi_e2)::BIGINT AS flag
        |FROM z JOIN lim USING (event_type)
        |ORDER BY event_type, day""".stripMargin,

    // ACF per lag: the lag-1 Pearson closed form replicated per k,
    // generated from the SAME AcfLags constant as the Spark side
    "ts_acf_multi_lag" -> {
      val per = AcfLags.map { k =>
        s"""SELECT event_type, $k::BIGINT AS lag, n AS n_pairs,
           |  round((n * sxy - sx * sy) /
           |    sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE),
           |    6) AS autocorr
           |FROM (SELECT event_type, count(*)::BIGINT AS n,
           |    sum(cnt)::BIGINT AS sx, sum(prev)::BIGINT AS sy,
           |    sum(cnt * prev)::BIGINT AS sxy,
           |    sum(cnt * cnt)::BIGINT AS sxx,
           |    sum(prev * prev)::BIGINT AS syy
           |  FROM (SELECT event_type, cnt, lag(cnt, $k) OVER
           |      (PARTITION BY event_type ORDER BY hour) AS prev FROM h)
           |  WHERE prev IS NOT NULL GROUP BY event_type)""".stripMargin
      }.mkString("\n(", ")\nUNION ALL\n(", ")")
      s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
         |    count(*)::BIGINT AS cnt
         |  FROM events GROUP BY 1, 2)
         |SELECT * FROM ($per)
         |ORDER BY event_type, lag""".stripMargin
    },

    // weekly type-mix entropy, e6-quantized c·ln c terms
    "ts_entropy_weekly" ->
      """WITH c AS (SELECT date_trunc('week', ts) AS week, event_type,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT week, sum(c)::BIGINT AS n, count(*)::BIGINT AS k,
        |    sum(floor(c * ln(c) * 1e6 + 0.5)::BIGINT)::BIGINT AS clnc_e6
        |  FROM c GROUP BY week)
        |SELECT week, n AS n_events, k AS n_types,
        |  round(ln(n) - clnc_e6 / 1e6 / n, 6) AS entropy,
        |  round(CASE WHEN k = 1 THEN 0.0
        |        ELSE (ln(n) - clnc_e6 / 1e6 / n) / ln(k) END, 6)
        |    AS entropy_norm
        |FROM a ORDER BY week""".stripMargin,

    // max drawdown: running-peak window + earliest-argmax tiebreak
    "ts_max_drawdown" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hour, cnt,
        |    max(cnt) OVER (PARTITION BY event_type ORDER BY hour) AS peak
        |  FROM h),
        |d AS (SELECT event_type, hour, peak, (peak - cnt)::BIGINT AS dd,
        |    count(*) OVER (PARTITION BY event_type) AS n_hours,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY (peak - cnt) DESC, hour) AS rn
        |  FROM w)
        |SELECT event_type, n_hours::BIGINT AS n_hours, dd AS max_drawdown,
        |  hour AS at_hour, peak AS peak_before
        |FROM d WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "ts_autocorr_lag1" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*)::BIGINT AS cnt,
        |    sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS v_e2
        |  FROM events GROUP BY event_type, hour),
        |p AS (SELECT event_type, v_e2,
        |    lag(v_e2) OVER (PARTITION BY event_type ORDER BY hour) AS prev
        |  FROM h),
        |m AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(v_e2)::BIGINT AS sx, sum(prev)::BIGINT AS sy,
        |    sum(v_e2 * prev)::BIGINT AS sxy,
        |    sum(v_e2 * v_e2)::BIGINT AS sxx,
        |    sum(prev * prev)::BIGINT AS syy
        |  FROM p WHERE prev IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n AS n_pairs,
        |  round((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6)
        |    AS autocorr
        |FROM m ORDER BY event_type""".stripMargin,

    "ts_changepoint_meanshift" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY event_type, hour),
        |w AS (SELECT event_type, hour,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hour)::BIGINT AS t,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
        |    count(*) OVER (PARTITION BY event_type)::BIGINT AS n,
        |    sum(cnt) OVER (PARTITION BY event_type)::BIGINT AS tot
        |  FROM h),
        |s AS (SELECT event_type, hour,
        |    cum::DOUBLE / t AS mean_before,
        |    (tot - cum)::DOUBLE / (n - t) AS mean_after,
        |    abs(cum::DOUBLE / t - (tot - cum)::DOUBLE / (n - t)) *
        |      sqrt((t * (n - t))::DOUBLE / n) AS score, t
        |  FROM w WHERE t < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY score DESC, t) AS rk FROM s)
        |SELECT event_type, hour AS split_hour, round(score, 6) AS score,
        |  round(mean_before, 4) AS mean_before,
        |  round(mean_after, 4) AS mean_after
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "w_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, ts, floor(value * 100 + 0.5)::BIGINT AS v_e2,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        |  FROM events),
        |d AS (SELECT user_id, v_e2,
        |    epoch_us(next_ts) - epoch_us(ts) AS dur_us
        |  FROM e WHERE next_ts IS NOT NULL),
        |a AS (SELECT user_id, sum(v_e2 * dur_us)::BIGINT AS wsum,
        |    sum(dur_us)::BIGINT AS dsum, count(*)::BIGINT AS n_intervals
        |  FROM d GROUP BY user_id)
        |SELECT user_id, round(wsum / dsum / 100.0, 4) AS twa_value, n_intervals
        |FROM a WHERE dsum > 0 ORDER BY user_id""".stripMargin,

    "ts_backtest_naive" ->
      """WITH d AS (SELECT event_type, ts::DATE AS day,
        |    count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, cnt,
        |    lag(cnt) OVER pw AS prev,
        |    sum(cnt) OVER (pw ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s7,
        |    count(*) OVER (pw ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n7
        |  FROM d WINDOW pw AS (PARTITION BY event_type ORDER BY day)),
        |g AS (SELECT event_type, count(*)::BIGINT AS n_eval_days,
        |    sum(abs(cnt - prev))::BIGINT AS ae_last,
        |    sum(abs(cnt * 7 - s7))::BIGINT AS ae7_ma
        |  FROM w WHERE n7 = 7 GROUP BY event_type)
        |SELECT event_type, n_eval_days,
        |  (ae_last * 1000000 // n_eval_days)::BIGINT AS mae_last_e6,
        |  (ae7_ma * 1000000 // (n_eval_days * 7))::BIGINT AS mae_ma7_e6,
        |  CASE WHEN (ae7_ma * 1000000 // (n_eval_days * 7)) <
        |            (ae_last * 1000000 // n_eval_days)
        |    THEN 'ma7' ELSE 'last' END AS winner
        |FROM g ORDER BY event_type""".stripMargin,

    "ts_stl_decompose" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |tr AS (SELECT event_type, hour, cnt,
        |    (sum(cnt) OVER w25 * 1000000 // count(*) OVER w25)::BIGINT
        |      AS trend_e6
        |  FROM h WINDOW w25 AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        |hod AS (SELECT event_type, extract(hour FROM hour) AS hod,
        |    (sum(cnt) * 1000000 // count(*))::BIGINT AS hod_mean_e6
        |  FROM h GROUP BY 1, 2),
        |m AS (SELECT event_type,
        |    (sum(cnt) * 1000000 // count(*))::BIGINT AS mean_e6
        |  FROM h GROUP BY 1)
        |SELECT tr.event_type, tr.hour, tr.cnt, tr.trend_e6,
        |  (hod_mean_e6 - mean_e6)::BIGINT AS seasonal_e6,
        |  (tr.cnt * 1000000 - tr.trend_e6 - (hod_mean_e6 - mean_e6))::BIGINT
        |    AS resid_e6
        |FROM tr
        |JOIN hod ON hod.event_type = tr.event_type
        |  AND hod.hod = extract(hour FROM tr.hour)
        |JOIN m ON m.event_type = tr.event_type
        |ORDER BY tr.event_type, tr.hour""".stripMargin,

    "ts_seasonality_hod" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY event_type, hour),
        |hod AS (SELECT event_type, hour(hour)::INT AS hod,
        |    sum(cnt)::BIGINT AS hod_cnt, count(*)::BIGINT AS hod_hours
        |  FROM h GROUP BY event_type, hod),
        |t AS (SELECT event_type AS t_type, sum(hod_cnt)::BIGINT AS total_cnt,
        |    sum(hod_hours)::BIGINT AS total_hours
        |  FROM hod GROUP BY event_type)
        |SELECT event_type, hod, hod_cnt,
        |  round((hod_cnt * total_hours)::DOUBLE / (hod_hours * total_cnt), 6)
        |    AS seasonal_idx
        |FROM hod JOIN t ON event_type = t_type
        |ORDER BY event_type, hod""".stripMargin,
    "ts_seasonal_anomaly" ->
      """WITH e AS (SELECT event_type, hour(ts)::BIGINT AS hod,
        |    floor(value * 100 + 0.5)::BIGINT AS v FROM events),
        |b AS (SELECT event_type, hod, count(*) AS n, sum(v) AS s,
        |    sum(v::HUGEINT * v) AS ss FROM e GROUP BY event_type, hod)
        |SELECT e.event_type, e.hod, max(n)::BIGINT AS n,
        |  sum(((v::HUGEINT * n - s) * (v::HUGEINT * n - s) >
        |       9::HUGEINT * (n::HUGEINT * ss - s::HUGEINT * s))::INT)::BIGINT
        |    AS n_anomalies
        |FROM e JOIN b ON e.event_type = b.event_type AND e.hod = b.hod
        |GROUP BY e.event_type, e.hod
        |ORDER BY e.event_type, e.hod""".stripMargin,
    "w_pct_change_wow" ->
      """WITH wk AS (SELECT event_type, date_trunc('week', ts)::DATE AS week,
        |    count(*)::BIGINT AS n_events,
        |    sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents
        |  FROM events GROUP BY event_type, week),
        |p AS (SELECT event_type, week, n_events, cents,
        |    lag(cents) OVER (PARTITION BY event_type ORDER BY week)
        |      AS prev_cents FROM wk)
        |SELECT event_type, week, n_events, cents, prev_cents,
        |  round((cents - prev_cents)::DOUBLE / prev_cents::DOUBLE, 6)
        |    AS wow_change
        |FROM p WHERE prev_cents IS NOT NULL AND prev_cents <> 0
        |ORDER BY event_type, week""".stripMargin,
    "ts_gap_fill_interpolate" ->
      """WITH obs AS (SELECT event_type, epoch_us(ts) // 60000000 AS m,
        |    count(*)::BIGINT AS cnt FROM events GROUP BY event_type, m),
        |spine AS (SELECT event_type, unnest(range(min(m), max(m) + 1)) AS m
        |  FROM obs GROUP BY event_type),
        |j AS (SELECT s.event_type, s.m, o.cnt
        |  FROM spine s LEFT JOIN obs o USING (event_type, m)),
        |f AS (SELECT event_type, m, cnt,
        |    last_value(cnt IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pv,
        |    last_value(CASE WHEN cnt IS NOT NULL THEN m END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY m
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm,
        |    first_value(cnt IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY m ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS nv,
        |    first_value(CASE WHEN cnt IS NOT NULL THEN m END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY m
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nm
        |  FROM j)
        |SELECT event_type, m AS minute,
        |  (pv * (nm - m) + nv * (m - pm)) * 1000000 // (nm - pm) AS interp_e6
        |FROM f WHERE cnt IS NULL ORDER BY event_type, minute""".stripMargin,
    "ts_xcorr_best_lag" ->
      """WITH hc AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    count(*)::BIGINT AS cnt FROM events
        |  WHERE event_type IN ('click', 'purchase') GROUP BY event_type, h),
        |x AS (SELECT h AS hx, cnt AS x FROM hc WHERE event_type = 'click'),
        |y AS (SELECT h AS hy, cnt AS y FROM hc WHERE event_type = 'purchase'),
        |p AS (SELECT l.lag, x.x, y.y
        |  FROM x CROSS JOIN (SELECT unnest(range(-3, 4)) AS lag) l
        |  JOIN y ON y.hy = x.hx + l.lag),
        |m AS (SELECT lag, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
        |  FROM p GROUP BY lag)
        |SELECT lag, n,
        |  round((n * sxy - sx * sy)::DOUBLE /
        |    sqrt(((n * sxx - sx * sx) * (n * syy - sy * sy))::DOUBLE), 6)
        |    AS xcorr
        |FROM m ORDER BY lag""".stripMargin
  )
}
