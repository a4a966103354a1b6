package graft.operators

import graft.Tables
import graft.api.Pins.PinSyntax
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable-sketch statistics, round 7 wave 3.
  *
  * The unifying idea (VERDICT r6 #7's "t-digest-style additive
  * contract"): a grouped VALUE HISTOGRAM over an exact integer domain
  * `(group, cents) -> n` IS an additively mergeable quantile sketch —
  * `sketch(A ⊎ B) = sketch(A) + sketch(B)` holds exactly (counts add),
  * and any order statistic reconstructs EXACTLY from the cumulative
  * walk, unlike t-digest/GK whose merges lose precision. At 100 TB the
  * shape is the one that matters: map-side partial aggregation
  * collapses every task to |groups|×|distinct cents| rows before the
  * only shuffle, the cumulative window runs over the tiny histogram
  * (thousands of rows), and raw data is never per-group sorted — the
  * classic exact-percentile sort-per-group plan is gone. The merge law
  * itself (incremental sketch += delta, quantiles == full rebuild —
  * the `mv_incremental_agg` contract applied to order statistics) is
  * asserted in StatSketchOpsSpec.
  *
  * Reference anchor: the reference has no distributional stats at all
  * (its census scripts stop at counts, `testing/check_bucket_files
  * .py:50-54`); this family is north-star surface for curation-grade
  * corpus telemetry.
  */
object StatSketchOps {

  /** exact integer cents: same rounding the w_sliding_hour_sum /
    * anomaly_mad_outliers family uses on both engines */
  private def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  /** Per-event_type CUPED/CUPAC readout (unordered) — single-sources
    * stat_cupac_stratified and the pooled follow-on. */
  private def cupacStrata(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(cents(col("value"))).as("c"))
      .pin(eager = false)
    val d0 = daily.agg(min(col("d")).as("d0"))
    val perUnit = daily.crossJoin(broadcast(d0))
      .withColumn("pre", datediff(col("d"), col("d0")) < 15)
      .groupBy(col("user_id"), col("event_type"))
      .agg(coalesce(sum(when(col("pre"), col("c"))), lit(0L)).as("x"),
           coalesce(sum(when(!col("pre"), col("c"))), lit(0L)).as("y"))
      .withColumn("arm",
        conv(substring(md5(concat(col("user_id").cast("string"),
          lit(":ab"))), 1, 4), 16, 10).cast("long") % 2)
    graft.api.Graft.cupedReadoutBy(perUnit, "x", "y", "arm",
      Seq("event_type"))
  }

  /** The (event_type, event_id, cents) fact projection both resampling
    * tests start from — memoized UN-exploded (r10 advice): the shared
    * checkpoint holds a 1× events digest, never a 16× copy pinned in
    * executor storage for the session's lifetime. */
  private def eventCents(s: SparkSession, dir: String): DataFrame =
    graft.api.Graft.memoizedExchange("stat_event_cents", s, dir) {
      graft.Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), cents(col("value")).as("cents"))
    }

  /** Replica draw b ∈ [0,16) as a 16-bit hex slice of one of TWO packed
    * md5 columns h0/h1. The runtime-b form feeds the oracles' row-
    * exploded replay; [[replicaDrawHexSqlAt]] is the SAME formula with
    * b folded to a literal for the Spark side's per-replica column
    * expressions — the two must stay in lockstep. */
  private[graft] val replicaDrawHexSql: String =
    graft.api.Graft.packedDrawHexRuntimeB(hexWidth = 4, perCol = 8)
  private def replicaDrawHexSqlAt(b: Int): String =
    graft.api.Graft.packedDrawHexAt(b, hexWidth = 4, perCol = 8)

  /** The packed replica digest shared by the resampling family (r10
    * advice follow-through, twice over): the sixteen replicas' 16-bit
    * uniforms are hex slices of TWO md5s per event instead of one md5
    * per (event, replica) — 8× less hashing — and there is NO ×B row
    * expansion anywhere: consumers expand per-replica terms as column
    * expressions over this un-exploded projection (the bh_fdr packed
    * shape), so nothing 16×-sized is ever computed, shuffled, or —
    * the original advice — pinned in the block manager by the memo.
    * The test takes a slice's parity, the bootstrap its dyadic uniform
    * u16/2^16 (the Poisson(1) inverse-CDF steps up to w=7 are all
    * ≥ 2^-16 wide, so the quantized CDF walk is well-posed; w=8 needs
    * u > 1−2^-16 and simply never fires — both engines replay the
    * identical walk). At 100 TB the counterpart is a persisted
    * replica-weight column family computed at ingest. */
  private def eventPacked(s: SparkSession, dir: String): DataFrame =
    eventCents(s, dir)
      .withColumn("h0", md5(concat(col("event_id").cast("string"), lit(":p0"))))
      .withColumn("h1", md5(concat(col("event_id").cast("string"), lit(":p1"))))

  /** stat_bh_fdr's packed replica draw (single-sourced between engines):
    * draw b ∈ [0,16) for one (doc, source) row is the 12-bit slice at
    * hex offset 3·(b mod 8) of md5(doc_id:src:half), half = b div 8 —
    * two md5 columns h0/h1 per row carry all sixteen draws. Membership
    * is the exact cross-multiplied Bernoulli(n1o/n) on the 12-bit
    * uniform: h·n < n1o·4096 (BIGINT-safe to n < 2.25e15 docs).
    * `hexToLong` is the one engine-specific piece (Spark conv vs
    * DuckDB 0x-cast); everything else is the identical SQL text. */
  private def bhMemberSql(b: Int, hexToLong: String => String): String = {
    val hex = graft.api.Graft.packedDrawHexAt(b, hexWidth = 3, perCol = 8)
    s"(CASE WHEN ${hexToLong(hex)} * n < n1o * 4096 THEN 1 ELSE 0 END)"
  }

  /** A source whose B=16 relabelings are ALL degenerate (n1b_b ∈ {0, n}
    * for every b) has no testable null and must DROP from the p-table —
    * otherwise it emits a spurious p_e6 = 0 (the strongest possible
    * rejection) AND inflates m_tests in the BH step-up. The old row form
    * dropped it implicitly (filter n1b>0 AND n1b<n → inner join); the
    * packed form needs the explicit guard, exactly like
    * stat_randomization_test's nValid. Shared verbatim by both engines
    * (r11 advice #2). */
  private def bhNValidSql: String = (0 until 16)
    .map(b => s"(CASE WHEN n1b_$b > 0 AND n1b_$b < n THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** Replica b's extremeness indicator over the per-source packed sums
    * (s1b_b, n1b_b) vs the observed statistic — |mean diff| compared
    * cross-multiplied in DECIMAL(19) exactly as the exploded form did;
    * degenerate replicas (empty/full relabeling) count as not extreme,
    * matching the old filter(n1b>0 && n1b<n) semantics. Shared verbatim
    * by both engines. */
  private def bhExtremeSql(b: Int): String = {
    val aB = s"abs(s1b_$b * (n - n1b_$b) - (st - s1b_$b) * n1b_$b)"
    val dB = s"(n1b_$b * (n - n1b_$b))"
    s"(CASE WHEN n1b_$b > 0 AND n1b_$b < n" +
      s" AND CAST($aB AS DECIMAL(19,0)) * CAST(d_obs AS DECIMAL(19,0))" +
      s" >= CAST(a_obs AS DECIMAL(19,0)) * CAST($dB AS DECIMAL(19,0))" +
      " THEN 1 ELSE 0 END)"
  }

  /** (group, v) -> n histogram with cumulative + total columns — the
    * mergeable sketch plus its quantile cursor. */
  private def cumHist(df: DataFrame, group: Column, v: Column): DataFrame = {
    val h = df.groupBy(group.as("g"), v.as("v")).agg(count(lit(1)).as("n"))
    h.withColumn("cum", sum(col("n")).over(
        Window.partitionBy(col("g")).orderBy(col("v"))))
      .withColumn("total", sum(col("n")).over(Window.partitionBy(col("g"))))
  }

  /** lower discrete percentile from the cumulative walk: min v with
    * cum >= ceil(total*pct/100), in pure integer arithmetic
    * (100*cum >= total*pct ⇔ cum >= ceil(total*pct/100) for ints). */
  private def pctLow(pct: Int): Column =
    min(when(col("cum") * 100 >= col("total") * pct, col("v"))).cast("long")

  /** Weighted cumHist: same cumulative walk, each row contributing
    * `w` instead of 1 — the (g, v)→weight histogram is additive under
    * shard union (vector sum), so the sketch merges exactly like
    * a_quantile_hist_merge's and pctLow reads weighted quantiles off
    * the merged walk (StatSketchOpsSpec asserts the merge law). */
  private[graft] def cumHistW(df: DataFrame, group: Column, v: Column,
      w: Column): DataFrame = {
    val h = df.groupBy(group.as("g"), v.as("v")).agg(sum(w).as("n"))
    h.withColumn("cum", sum(col("n")).over(
        Window.partitionBy(col("g")).orderBy(col("v"))))
      .withColumn("total", sum(col("n")).over(Window.partitionBy(col("g"))))
  }

  /** 64-register HLL sketch rows `(__k, r, m)` over the md5 of `id`:
    * register = low 6 hash bits, m = max leading-zero rank (1..27) of
    * the remaining 26. Mergeable by max() — the law StatSketchOpsSpec
    * asserts. */
  private[graft] def hllRegisters(df: DataFrame, key: Column, id: Column): DataFrame = {
    val v = conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")
    df.select(key.as("__k"), v.bitwiseAND(63).as("r"), shiftright(v, 6).as("w"))
      .withColumn("rho", when(col("w") === 0, lit(27))
        .otherwise(lit(27) - length(bin(col("w")))))
      .groupBy(col("__k"), col("r"))
      .agg(max(col("rho")).as("m"))
  }

  /** HLL estimate from [[hllRegisters]] rows, with the standard
    * small-range linear-counting correction. Out: (__k, v_regs,
    * hll_est). Every FP step before the final division/round is exact
    * (dyadic 2^-m terms; ≤64-term sums fit a double's mantissa). */
  private[graft] def hllEstimate(regs: DataFrame): DataFrame =
    regs.groupBy(col("__k"))
      .agg(count(lit(1)).as("v_regs"),
           sum(pow(lit(2.0), -col("m"))).as("s_occ"))
      .withColumn("raw", lit(0.709 * 64 * 64) /
        (col("s_occ") + (lit(64) - col("v_regs"))))
      .select(col("__k"), col("v_regs"),
        round(when(col("raw") <= 160 && col("v_regs") < 64,
            lit(64.0) * log(lit(64.0) / (lit(64) - col("v_regs"))))
          .otherwise(col("raw")), 2).as("hll_est"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Grouped exact quantiles FROM THE SKETCH: one groupBy shuffle to
    // the histogram, windows over |types|×|cents| rows only. p25..p90
    // agree bit-for-bit with a full per-group sort because the integer
    // histogram loses nothing.
    // KMV (k-minimum-values / bottom-k) theta-style sketch with SET
    // OPERATIONS — the capability HLL lacks: per-source bottom-24
    // content-hash sketches, then for every source pair the union
    // cardinality estimate ((k−1)·2³²/τ from the merged sketch's k-th
    // value) and the intersection estimate (match fraction × union) —
    // sub-linear cross-source overlap measurement, the sketch behind
    // "how much does dump A duplicate dump B" at corpus scale without
    // a join on content. Sketch = 24 BIGINTs per source (broadcast
    // everywhere); merge = min-k of the union (associative, the
    // mergeable-law family); small-set regime (union sketch < k)
    // falls back to the exact count on BOTH engines. All estimates
    // are integer floor-div rationals — no FP anywhere.
    "a_kmv_set_ops" -> ((s, dir) => {
      val k = 24
      val h = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("source"),
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("h"))
        .distinct()
      val sk = h.withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"))))
        .filter(col("rn") <= k)
        .groupBy(col("source"))
        .agg(sort_array(collect_list(col("h"))).as("sk"),
             count(lit(1)).as("ksz"))
      val pairs = sk.select(col("source").as("src_a"), col("sk").as("ska"))
        .join(broadcast(sk.select(col("source").as("src_b"), col("sk").as("skb"))),
          col("src_a") < col("src_b"))
      pairs
        .withColumn("mg", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
        .withColumn("msz", size(col("mg")))
        .withColumn("tau", element_at(col("mg"), col("msz")))
        .withColumn("m", size(filter(col("mg"),
          x => array_contains(col("ska"), x) && array_contains(col("skb"), x))))
        .select(col("src_a"), col("src_b"), col("m").cast("long").as("n_common_in_sketch"),
          when(col("msz") < k, col("msz").cast("long"))
            .otherwise(expr(s"(${k - 1} * 4294967296) div tau")).as("est_union"),
          when(col("msz") < k, col("m").cast("long"))
            .otherwise(expr(s"(m * ((${k - 1} * 4294967296) div tau)) div $k"))
            .as("est_intersection"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Population Stability Index between the first and second half of
    // the event stream, per type — THE deployed-model drift gate in ML
    // monitoring (PSI < 0.1 stable, > 0.25 act). Reference bins are
    // the first half's deciles (cumHistW walk); both halves then count
    // into those 10 bins with +1 Laplace smoothing so empty bins can't
    // produce ln(0); each (p−q)·ln(p/q) term is e9-quantized BEFORE
    // the 10-term sum (the entropyByKey discipline — aggregation order
    // cannot move a bit). The time cut is the exact integer midpoint
    // of the µs range; bin thresholds are |types|×9 rows, broadcast.
    // Sample-trained equal-frequency discretizer + balance audit — the
    // at-scale feature-binning pattern: quartile edges are trained on
    // a deterministic 25% sample (pmod(event_id, 4) = 0 — layout-
    // invariant, no RNG) and applied to the FULL stream, because at
    // 100 TB nobody computes exact global quantiles per feature; the
    // audit columns then CHECK the shortcut — per-bin population share
    // vs the 250000 e6 ideal quantifies exactly how much the sampled
    // edges drifted. Edges are exact order statistics of the sample
    // histogram (the true_median_c min-c convention); bin assignment
    // is three integer comparisons broadcast onto the full histogram,
    // never onto raw rows.
    "prep_quantile_bins" -> ((s, dir) => {
      val ev = graft.Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), cents(col("value")).as("c"))
      val sh = ev.filter(pmod(col("event_id"), lit(4)) === 0)
        .groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("event_type")).orderBy(col("c"))))
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy(col("event_type"))))
      val edges = sh.groupBy(col("event_type"))
        .agg(min(when(col("cum") * 4 >= col("n"), col("c"))).as("e1"),
             min(when(col("cum") * 2 >= col("n"), col("c"))).as("e2"),
             min(when(col("cum") * 4 >= col("n") * 3, col("c"))).as("e3"))
      val full = ev.groupBy(col("event_type"), col("c"))
        .agg(count(lit(1)).as("cnt"))
      full.join(broadcast(edges), "event_type")
        .withColumn("bin", lit(1L)
          + (col("c") > col("e1")).cast("long")
          + (col("c") > col("e2")).cast("long")
          + (col("c") > col("e3")).cast("long"))
        .groupBy(col("event_type"), col("bin"))
        .agg(sum(col("cnt")).as("n"),
             min(col("c")).as("lo_c"), max(col("c")).as("hi_c"))
        .withColumn("total", sum(col("n")).over(
          Window.partitionBy(col("event_type"))))
        .withColumn("share_e6", expr("n * 1000000 div total"))
        .select(col("event_type"), col("bin"), col("n"),
                col("lo_c"), col("hi_c"), col("share_e6"))
        .orderBy(col("event_type"), col("bin"))
    }),

    // Capture-recapture population estimate (Chapman's bias-corrected
    // Lincoln-Petersen, the mark-recapture estimator ecology and
    // census under-count auditing share): consecutive active-day user
    // sets are two independent "captures" of the underlying user
    // population; N̂ = (n1+1)(n2+1)/(m+1) − 1 from the day-pair overlap
    // m estimates how many users exist INCLUDING those seen on neither
    // day — the coverage ratio (observed n1+n2−m over N̂) is the
    // day-level "what fraction of our population do two days of logs
    // see" answer a sampling design needs. All-integer: counts,
    // Chapman via floor division, coverage e6. Scale: ONE distinct
    // (day, user) digest exchange; the overlap is a self-join on
    // user_id (equi-join, user-keyed shuffle) that only carries the
    // digest, never events; per-day rows are bounded by the date
    // domain.
    "stat_capture_recapture" -> ((s, dir) => {
      val d = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val n = d.groupBy(col("day")).agg(count(lit(1)).as("n"))
      val m = d.as("a").join(d.as("b"),
          col("a.user_id") === col("b.user_id") &&
          col("b.day") === date_add(col("a.day"), 1))
        .groupBy(col("a.day").as("day")).agg(count(lit(1)).as("m"))
      m.join(n.select(col("day"), col("n").as("n1")), "day")
        .join(n.select(date_sub(col("day"), 1).as("day"), col("n").as("n2")),
              "day")
        .withColumn("chapman_n",
          expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1"))
        .withColumn("observed_n", col("n1") + col("n2") - col("m"))
        .withColumn("coverage_e6",
          expr("(n1 + n2 - m) * 1000000 div ((n1 + 1) * (n2 + 1) div (m + 1) - 1)"))
        .select(col("day"), col("n1"), col("n2"), col("m"),
                col("chapman_n"), col("observed_n"), col("coverage_e6"))
        .orderBy(col("day"))
    }),

    // PSI value-drift gate: decile bins from the REFERENCE half's exact
    // cumulative walk, smoothed population-stability index per type.
    // Lineage note (r11 verdict #6 sweep): th and binned each feed ≥ 3
    // consumers — un-checkpointed, every consumer re-planned the events
    // scan (ledger showed 14); two lazy checkpoints of the tiny tables
    // (|types|×9 thresholds, |types|×2×10 bin counts) leave the two
    // inherent corpus passes (threshold derivation, binning), and the
    // per-type totals now ROLL UP FROM binned (Σ over a type's bins IS
    // its row count — the inner join keeps every row of a type in th)
    // instead of a third corpus pass. Single-partition census: the
    // SinglePartition exchanges carry the 1-row cutoff scalar and its
    // partials — never data.
    "stat_psi_value_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
                cents(col("value")).as("v"))
      val cut = ev.agg(((min(col("us")) + max(col("us"))) / 2).cast("long").as("cut"))
      val tagged = ev.crossJoin(broadcast(cut))
        .withColumn("half", when(col("us") < col("cut"), 0).otherwise(1))
      val thAggs = (1 to 9).map(k => pctLow(k * 10).as(s"t$k"))
      val th = cumHist(tagged.filter(col("half") === 0), col("event_type"), col("v"))
        .groupBy(col("g").as("event_type"))
        .agg(thAggs.head, thAggs.tail: _*)
        .pin(eager = false)
      val binned = tagged.join(broadcast(th), "event_type")
        .withColumn("bin", (1 to 9).map(k =>
          when(col("v") > col(s"t$k"), 1).otherwise(0)).reduce(_ + _))
        .groupBy(col("event_type"), col("half"), col("bin"))
        .agg(count(lit(1)).as("c"))
        .pin(eager = false)
      val spine = th.select(col("event_type"))
        .crossJoin(broadcast(s.range(0, 10).select(col("id").cast("int").as("bin"))))
      def side(h: Int, out: String) = spine
        .join(binned.filter(col("half") === h).select(col("event_type"), col("bin"), col("c")),
          Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"), coalesce(col("c"), lit(0L)).as(out))
      val joined = side(0, "cr").join(side(1, "cc"), Seq("event_type", "bin"))
        .join(broadcast(binned
          .groupBy(col("event_type"))
          .agg(sum(when(col("half") === 0, col("c"))).as("nr"),
               sum(when(col("half") === 1, col("c"))).as("nc"))), "event_type")
      val p = (col("cr") + 1).cast("double") / (col("nr") + 10).cast("double")
      val q = (col("cc") + 1).cast("double") / (col("nc") + 10).cast("double")
      joined
        .withColumn("term_e9", floor((p - q) * log(p / q) * 1e9 + 0.5).cast("long"))
        .groupBy(col("event_type"))
        .agg(max(col("nr")).as("n_ref"), max(col("nc")).as("n_cur"),
             round(sum(col("term_e9")) / 1e9, 6).as("psi"))
        .orderBy(col("event_type"))
    }),

    // Delete-one-bucket jackknife CI for mean purchase cents — the
    // error bar a metrics platform attaches to any mean without
    // distributional assumptions, made deterministic: buckets are
    // md5(user)%10 (layout/retry-invariant, the sampleDeterministic
    // discipline), each leave-one-out mean is an exact e6 rational of
    // BIGINT sums, deviations square EXACTLY in e6-integer space
    // (Σd² is BIGINT — no FP until the final variance scale), and the
    // CI is mean ± 2·se. Scale: one groupBy to 10 rows; everything
    // after is arithmetic on a broadcast-sized table.
    "a_jackknife_ci" -> ((s, dir) => {
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(cents(col("value")).as("c"),
          (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 10).as("bkt"))
      val bkts = p.groupBy(col("bkt"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      val tot = bkts.agg(sum(col("n")).as("nt"), sum(col("s")).as("st"),
                         count(lit(1)).as("g"))
      val loo = bkts.crossJoin(broadcast(tot))
        .withColumn("m_e6",
          expr("(st - s) * 1000000 div (nt - n)"))
      val mbar = loo.agg(sum(col("m_e6")).as("sm"), max(col("g")).as("g"),
                         max(col("nt")).as("nt"), max(col("st")).as("st"))
        .withColumn("mbar_e6", expr("sm div g"))
      loo.select(col("m_e6"))
        .crossJoin(broadcast(mbar))
        .withColumn("d", col("m_e6") - col("mbar_e6"))
        .groupBy(col("g"), col("nt"), col("st"))
        .agg(sum(col("d") * col("d")).as("ssq_e12"))
        .select(col("nt").as("n"),
          round(col("st").cast("double") / col("nt") / 100.0, 6).as("mean"),
          round(sqrt(((col("g") - 1).cast("double") / col("g")) *
                     (col("ssq_e12") / lit(1e12))) / 100.0, 6).as("se_jack"))
        .withColumn("ci_lo", round(col("mean") - col("se_jack") * 2, 6))
        .withColumn("ci_hi", round(col("mean") + col("se_jack") * 2, 6))
    }),

    // Token-WEIGHTED length quantiles per source from the mergeable
    // weighted histogram (r7 verdict #8b: the additive-merge law
    // extended to weighted streams): "half the TOKENS live in docs
    // shorter than X" — the statistic a curation budget actually needs
    // (doc-weighted medians over-represent short docs). The (source,
    // n_chars)→Σtokens histogram is a vector under shard union, so
    // partial histograms from any partitioning merge by plain
    // addition; quantiles read off the merged cumulative walk in pure
    // integers (pctLow). Shuffle volume = |histogram|, never corpus.
    "a_weighted_hist_quantile" -> ((s, dir) => {
      cumHistW(Tables.documents(s, dir).filter(col("text").isNotNull),
          col("source"), col("n_chars"),
          size(split(col("text"), " ")).cast("long"))
        .groupBy(col("g").as("source"))
        .agg(max(col("total")).as("total_tokens"),
             pctLow(25).as("p25_chars"), pctLow(50).as("p50_chars"),
             pctLow(75).as("p75_chars"), pctLow(90).as("p90_chars"))
        .orderBy(col("source"))
    }),

    // GLOBAL exact weighted quantiles via the distributed two-pass
    // prefix sum (Graft.globalRunningSum — no single-partition window,
    // no histogram approximation): rank every doc by (n_chars, doc_id),
    // carry the global running token weight, and each quantile is the
    // smallest length whose cumulative weight clears q·W — one
    // conditional aggregate over the ranked table. This is the shape
    // that survives |distinct lengths| growing past histogram size
    // (e.g. quantiles over byte offsets or timestamps at 100 TB);
    // everything is BIGINT so the gate compares exact integers.
    "a_weighted_quantile" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("n_chars"),
                size(split(col("text"), " ")).cast("long").as("w"))
      graft.api.Graft.globalRunningSum(docs, "w", "cw", "tw",
          col("n_chars"), col("doc_id"))
        .agg(max(col("tw")).as("total_w"), count(lit(1)).as("n_docs"),
             min(when(col("cw") * 4 >= col("tw"), col("n_chars"))).as("p25"),
             min(when(col("cw") * 2 >= col("tw"), col("n_chars"))).as("p50"),
             min(when(col("cw") * 4 >= col("tw") * 3, col("n_chars"))).as("p75"),
             min(when(col("cw") * 10 >= col("tw") * 9, col("n_chars"))).as("p90"))
    }),

    // Welch's t one-vs-rest drift per source — the parametric sibling
    // of stat_ks_source_drift / stat_mannwhitney_drift: "is this
    // shard's mean length off the corpus?" All moments accumulate as
    // EXACT BIGINTs (n, Σv, Σv²; rest-side = broadcast totals minus
    // the group), so aggregation order cannot move a bit; the t
    // statistic is one identically-associated IEEE expression on both
    // engines from those integers. Past ~1e12 rows Σv² would move to
    // DECIMAL(38,0) (integer→decimal is exact — no tie to round).
    // Degenerate guards: n ≥ 2 and rest ≥ 2 on both sides.
    "stat_welch_t_drift" -> ((s, dir) => {
      val cnt = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s1"),
             sum(col("n_chars") * col("n_chars")).as("s2"))
      val tot = cnt.agg(sum(col("n")).as("nt"), sum(col("s1")).as("t1"),
                        sum(col("s2")).as("t2"))
      val nd = col("n").cast("double")
      val md = (col("nt") - col("n")).cast("double")
      val s1d = col("s1").cast("double")
      val r1d = (col("t1") - col("s1")).cast("double")
      val s2d = col("s2").cast("double")
      val r2d = (col("t2") - col("s2")).cast("double")
      val v1 = (s2d - s1d * s1d / nd) / (col("n") - 1).cast("double")
      val v2 = (r2d - r1d * r1d / md) / (col("nt") - col("n") - 1).cast("double")
      cnt.crossJoin(broadcast(tot))
        .filter(col("n") >= 2 && col("nt") - col("n") >= 2)
        .select(col("source"), col("n"),
                round((s1d / nd - r1d / md) / sqrt(v1 / nd + v2 / md), 6).as("t_stat"))
        .orderBy(col("source"))
    }),

    "a_quantile_hist_merge" -> ((s, dir) => {
      cumHist(Tables.events(s, dir), col("event_type"), cents(col("value")))
        .groupBy(col("g").as("event_type"))
        .agg(max(col("total")).as("n_rows"),
             pctLow(25).as("p25_cents"), pctLow(50).as("p50_cents"),
             pctLow(75).as("p75_cents"), pctLow(90).as("p90_cents"))
        .orderBy(col("event_type"))
    }),

    // KLL mergeable quantile sketch (functions.KllAgg — the quantile
    // member the Bloom/CMS/KMV/HLL/TopK Aggregator family lacked, r10
    // verdict #6) under the a_approx_sketch_contract oracle discipline:
    // sketch estimates differ engine-by-engine, so the comparable
    // output is the rank-error CLAIM — each engine checks its OWN
    // estimate against its OWN exact ranks. The claim is tie-robust:
    // the target rank q·n must fall within ±5%·n of the estimate's
    // exact rank WINDOW [#(<est), #(≤est)] (a single heavy value can
    // legally absorb any interior target). Exact ranks are computed
    // distributively (broadcast the |types|×|qs| estimate table, one
    // conditional-sum pass). Scale: the sketch is O(k·log(n/k)) longs
    // per group moved map-side — the 100 TB replacement for exact
    // percentile's per-group sort; KllAggSpec pins the merge law and
    // adversarial-order rank error.
    // The same KLL contract at |sources| group grain over a DIFFERENT
    // table/column (documents n_chars) — the sketch is the 100 TB
    // answer precisely when the group domain grows, so the registered
    // surface shows it generalizes beyond the 5-type events table: one
    // groupByKey, one sketch per source crossing the exchange, exact
    // ranks from one broadcast-join conditional-sum pass.
    "stat_kll_by_source" -> ((s, dir) => {
      import s.implicits._
      val qsE6 = Seq(250000L, 500000L, 750000L, 950000L)
      val d = Tables.documents(s, dir).select(col("source"), col("n_chars"))
      val est = d.as[(String, Long)]
        .groupByKey(_._1)
        .agg(new graft.functions.KllAgg(256, qsE6).toColumn.name("ests"))
        .toDF("source", "ests")
        .select(col("source"), posexplode(col("ests")).as(Seq("qi", "est")))
        .withColumn("q_e6", element_at(typedLit(qsE6), col("qi") + 1))
        .select(col("source"), col("q_e6"), col("est"))
      d.join(broadcast(est), "source")
        .groupBy(col("source"), col("q_e6"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("n_chars") < col("est"), 1L).otherwise(0L)).as("rank_lt"),
             sum(when(col("n_chars") <= col("est"), 1L).otherwise(0L)).as("rank_le"))
        .select(col("source"), col("q_e6"), col("n"),
          (col("q_e6") * col("n") >= col("rank_lt") * 1000000L - col("n") * 50000L &&
           col("q_e6") * col("n") <= col("rank_le") * 1000000L + col("n") * 50000L)
            .cast("int").as("within_rank_5pct"))
        .orderBy(col("source"), col("q_e6"))
    }),

    "stat_kll_quantiles" -> ((s, dir) => {
      import s.implicits._
      val qsE6 = Seq(100000L, 500000L, 900000L, 990000L)
      val ev = eventCents(s, dir)
      val est = ev.select(col("event_type"), col("cents")).as[(String, Long)]
        .groupByKey(_._1)
        .agg(new graft.functions.KllAgg(256, qsE6).toColumn.name("ests"))
        .toDF("event_type", "ests")
        .select(col("event_type"),
                posexplode(col("ests")).as(Seq("qi", "est")))
        .withColumn("q_e6", element_at(typedLit(qsE6), col("qi") + 1))
        .select(col("event_type"), col("q_e6"), col("est"))
      ev.join(broadcast(est), "event_type")
        .groupBy(col("event_type"), col("q_e6"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("cents") < col("est"), 1L).otherwise(0L)).as("rank_lt"),
             sum(when(col("cents") <= col("est"), 1L).otherwise(0L)).as("rank_le"))
        .select(col("event_type"), col("q_e6"), col("n"),
          (col("q_e6") * col("n") >= col("rank_lt") * 1000000L - col("n") * 50000L &&
           col("q_e6") * col("n") <= col("rank_le") * 1000000L + col("n") * 50000L)
            .cast("int").as("within_rank_5pct"))
        .orderBy(col("event_type"), col("q_e6"))
    }),

    // t-digest under the same contract, at the TAIL ranks where the k1
    // scale earns its keep (functions.TDigestAgg — r11 verdict #3): KLL
    // spends its budget uniformly in rank, the t-digest in proportion
    // to q(1−q), so p99/p999 resolve to near-singleton centroids — the
    // latency-SLO/outlier-budget grain. The claim here is accordingly
    // TIGHTER than the KLL query's: ±2 % of n (the δ = 200 digest and
    // DuckDB's own t-digest-backed approx_quantile both clear it with
    // an order of magnitude to spare; TDigestAggSpec pins ≤ 1 % overall
    // and ≤ 0.2 % at the tails on adversarial orders). Same scale
    // story: one O(δ) digest per type crosses the exchange map-side,
    // exact ranks from one broadcast-join conditional-sum pass.
    "stat_tdigest_quantiles" -> ((s, dir) => {
      import s.implicits._
      val qsE6 = Seq(10000L, 500000L, 990000L, 999000L)
      val ev = eventCents(s, dir)
      val est = ev.select(col("event_type"), col("cents")).as[(String, Long)]
        .groupByKey(_._1)
        .agg(new graft.functions.TDigestAgg(200, qsE6).toColumn.name("ests"))
        .toDF("event_type", "ests")
        .select(col("event_type"),
                posexplode(col("ests")).as(Seq("qi", "est")))
        .withColumn("q_e6", element_at(typedLit(qsE6), col("qi") + 1))
        .select(col("event_type"), col("q_e6"), col("est"))
      ev.join(broadcast(est), "event_type")
        .groupBy(col("event_type"), col("q_e6"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("cents") < col("est"), 1L).otherwise(0L)).as("rank_lt"),
             sum(when(col("cents") <= col("est"), 1L).otherwise(0L)).as("rank_le"))
        .select(col("event_type"), col("q_e6"), col("n"),
          (col("q_e6") * col("n") >= col("rank_lt") * 1000000L - col("n") * 20000L &&
           col("q_e6") * col("n") <= col("rank_le") * 1000000L + col("n") * 20000L)
            .cast("int").as("within_rank_2pct"))
        .orderBy(col("event_type"), col("q_e6"))
    }),

    // The KLL contract at a TWO-key grain (r11 verdict #5): many small
    // groups is the actual 100 TB deployment shape — the mergeable
    // sketch's whole value is that |keys| O(k·log(n/k)) summaries cross
    // the exchange instead of the corpus sorting per group. The grain
    // is (event_type, day) — the "daily per-type quantile dashboard"
    // shape, 150 groups of ~50-90 rows at sf0.01 — because the seeded
    // (source, lang) grain on documents cannot carry a rank claim at
    // the test SFs (500 docs over 97 combos at sf0.01: a ±5%·n window
    // on an n=3 group is sub-row, and an interpolating sketch
    // legitimately lands between order statistics — measured before
    // switching grains). KllAgg is reused UNCHANGED: the composite key
    // rides as one groupByKey string ("type|day", split back for the
    // report; '|' appears in neither domain) — no new sketch code,
    // which is the point. The contract is claimed only at sketchable
    // group sizes (n >= 32, both engines identically): below that the
    // window tests tie layout, not the sketch.
    // A/B experimentation readout: deterministic 50/50 assignment
    // (md5), sample-ratio-mismatch χ² gate, and a CUPED-adjusted
    // treatment effect (Deng et al. 2013) with pooled θ. Everything
    // flows from INTEGER sufficient statistics (cents sums, Σx, Σx²,
    // Σxy as BIGINTs — exact in any summation order), so both engines
    // derive bit-identical doubles; the χ² gate is e6-quantized
    // integer arithmetic. Scale: ONE corpus scan to the (user, day)
    // cents grain, a per-user rollup, then 1-row algebra; since r13
    // the cross-products accumulate in DECIMAL(38,0) (r12 advice —
    // exact for any product of two longs, NULL-loud past 10³⁸, never
    // a silent BIGINT wrap) with the oracle in HUGEINT.
    "stat_cuped_ab_effect" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(sum(cents(col("value"))).as("c"))
        // lineage pin: d0 and the per-user rollup both consume this
        // |users|·|days| digest — un-pinned, each re-scans the corpus
        .pin(eager = false)
      val d0 = daily.agg(min(col("d")).as("d0"))
      val perUser = daily.crossJoin(broadcast(d0))
        .withColumn("pre", datediff(col("d"), col("d0")) < 15)
        .groupBy(col("user_id"))
        .agg(coalesce(sum(when(col("pre"), col("c"))), lit(0L)).as("x"),
             coalesce(sum(when(!col("pre"), col("c"))), lit(0L)).as("y"))
        .withColumn("arm",
          conv(substring(md5(concat(col("user_id").cast("string"),
            lit(":ab"))), 1, 4), 16, 10).cast("long") % 2)
      // readout tail single-sourced in Graft.cupedReadout
      graft.api.Graft.cupedReadout(perUser, "x", "y", "arm")
    }),

    // CUPAC-style stratified adjustment (r12 verdict #3): the CUPED
    // readout at a GROUPED grain — unit is (user, event_type), stratum
    // is the event_type, and each stratum fits its OWN θ from its own
    // exact sufficient statistics (Graft.cupedReadoutBy — the same
    // DECIMAL(38,0) integer-statistic discipline, so every stratum row
    // is bit-identical across engines; SRM χ² gate inherited per
    // stratum). This is the production follow-on to the single-θ
    // readout: when pre-period behavior predicts the metric
    // differently per segment, a per-stratum θ strictly dominates the
    // pooled one (Deng et al. 2013 §5; CUPAC generalizes the covariate
    // to any pre-experiment predictor). The pooled cross-stratum
    // effect is a trivial 5-row weighted reduction the consumer does —
    // deliberately NOT emitted here, because summing the per-stratum
    // doubles in a fixed order is the consumer's presentation choice,
    // not an engine artifact. Plan: one scan to the (user, type, day)
    // grain, one rollup to (user, type), one grouped aggregate — the
    // stratum key rides the SAME shuffle the rollup already pays.
    "stat_cupac_stratified" -> ((s, dir) =>
      cupacStrata(s, dir).orderBy(col("event_type"))),

    // The one-number readout over the stratum table: pooled raw and
    // CUPAC-adjusted effects as the n_s-weighted mean of the per-
    // stratum effects, computed by a FIXED-ORDER fold (sort_array of
    // the stratum structs by event_type, then a left fold from 0.0 —
    // the one place cross-stratum doubles are summed, so the
    // accumulation order is pinned identically in both engines rather
    // than left to partition order), plus the effect span as the
    // cheapest heterogeneity signal (a wide span says the pooled
    // number hides segment structure — read the stratified table).
    // Scale: input is the |strata|-row readout; everything here is a
    // 5-row reduction.
    "stat_cupac_pooled" -> ((s, dir) => {
      val l = cupacStrata(s, dir).agg(
        count(lit(1)).as("n_strata"),
        sum(col("n")).as("n_total"),
        (max(col("effect_cuped_r6")) - min(col("effect_cuped_r6")))
          .as("span"),
        sort_array(collect_list(struct(col("event_type"), col("n"),
          col("effect_raw_r6").as("er"), col("effect_cuped_r6").as("ec"))))
          .as("lst"))
      l.select(col("n_strata"), col("n_total"),
        round(aggregate(col("lst"), lit(0.0),
          (a, x) => a + x.getField("n") * x.getField("er")) /
          col("n_total"), 6).as("effect_raw_pooled_r6"),
        round(aggregate(col("lst"), lit(0.0),
          (a, x) => a + x.getField("n") * x.getField("ec")) /
          col("n_total"), 6).as("effect_cupac_pooled_r6"),
        round(col("span"), 6).as("effect_span_r6"))
    }),

    // The t-digest at the SAME (event_type, day) grain the KLL query
    // proved (r12 verdict #7): many small digests merging across the
    // exchange is precisely where the levelless merge earns its keep —
    // ~150 O(δ) digests per day-grain instead of the corpus sorting
    // per group. TDigestAgg is reused UNCHANGED (δ = 200, the corpus-
    // grain query's construction); the composite key rides as one
    // groupByKey string, the KllAgg discipline. Contract: the same
    // windowed-rank ±5%·n claim at sketchable group sizes (n ≥ 32) —
    // at 50-90 rows/group a ±2% window is sub-row, so the tail-
    // tightness claim stays with the corpus-grain query where n
    // affords it. DuckDB's approx_quantile (itself t-digest-backed)
    // checks its own exact ranks — each engine audits its own sketch.
    "stat_tdigest_by_type_day" -> ((s, dir) => {
      import s.implicits._
      val qsE6 = Seq(250000L, 500000L, 750000L, 950000L)
      val d = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).cast("string").as("day"),
                cents(col("value")).as("cents"))
      val est = d
        .select(concat_ws("|", col("event_type"), col("day")).as("k"),
                col("cents"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .agg(new graft.functions.TDigestAgg(200, qsE6).toColumn.name("ests"))
        .toDF("k", "ests")
        .select(split(col("k"), "[|]").getItem(0).as("event_type"),
                split(col("k"), "[|]").getItem(1).as("day"),
                posexplode(col("ests")).as(Seq("qi", "est")))
        .withColumn("q_e6", element_at(typedLit(qsE6), col("qi") + 1))
        .select(col("event_type"), col("day"), col("q_e6"), col("est"))
      d.join(broadcast(est), Seq("event_type", "day"))
        .groupBy(col("event_type"), col("day"), col("q_e6"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("cents") < col("est"), 1L).otherwise(0L)).as("rank_lt"),
             sum(when(col("cents") <= col("est"), 1L).otherwise(0L)).as("rank_le"))
        .filter(col("n") >= 32)
        .select(col("event_type"), col("day"), col("q_e6"), col("n"),
          (col("q_e6") * col("n") >= col("rank_lt") * 1000000L - col("n") * 50000L &&
           col("q_e6") * col("n") <= col("rank_le") * 1000000L + col("n") * 50000L)
            .cast("int").as("within_rank_5pct"))
        .orderBy(col("event_type"), col("day"), col("q_e6"))
    }),

    "stat_kll_by_type_day" -> ((s, dir) => {
      import s.implicits._
      val qsE6 = Seq(250000L, 500000L, 750000L, 950000L)
      val d = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).cast("string").as("day"),
                cents(col("value")).as("cents"))
      val est = d
        .select(concat_ws("|", col("event_type"), col("day")).as("k"),
                col("cents"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .agg(new graft.functions.KllAgg(256, qsE6).toColumn.name("ests"))
        .toDF("k", "ests")
        .select(split(col("k"), "[|]").getItem(0).as("event_type"),
                split(col("k"), "[|]").getItem(1).as("day"),
                posexplode(col("ests")).as(Seq("qi", "est")))
        .withColumn("q_e6", element_at(typedLit(qsE6), col("qi") + 1))
        .select(col("event_type"), col("day"), col("q_e6"), col("est"))
      d.join(broadcast(est), Seq("event_type", "day"))
        .groupBy(col("event_type"), col("day"), col("q_e6"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("cents") < col("est"), 1L).otherwise(0L)).as("rank_lt"),
             sum(when(col("cents") <= col("est"), 1L).otherwise(0L)).as("rank_le"))
        .filter(col("n") >= 32)
        .select(col("event_type"), col("day"), col("q_e6"), col("n"),
          (col("q_e6") * col("n") >= col("rank_lt") * 1000000L - col("n") * 50000L &&
           col("q_e6") * col("n") <= col("rank_le") * 1000000L + col("n") * 50000L)
            .cast("int").as("within_rank_5pct"))
        .orderBy(col("event_type"), col("day"), col("q_e6"))
    }),

    // Winsorized robust sums: per-language p05/p95 thresholds from the
    // same histogram machinery, clip every doc's n_chars into
    // [p05, p95], emit exact integer sums. The threshold table is
    // |langs| rows — broadcast back onto the fact side, so the clip
    // pass is map-side; this is the standard outlier-robust
    // normalization step before length-based curation quotas.
    "prep_winsorize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("n_chars").isNotNull)
      val thresholds = cumHist(docs, col("lang"), col("n_chars"))
        .groupBy(col("g").as("lang"))
        .agg(pctLow(5).as("p05"), pctLow(95).as("p95"))
      docs.join(broadcast(thresholds), "lang")
        .select(col("lang"), col("n_chars"),
          least(greatest(col("n_chars"), col("p05")), col("p95")).as("w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_raw"),
             sum(col("w")).as("sum_winsorized"),
             max(col("w")).as("max_winsorized"))
        .orderBy(col("lang"))
    }),

    // Gini–Simpson diversity of each user's event-type mix:
    // 1 - Σ nᵢ(nᵢ-1) / (N(N-1)). Both the numerator and denominator
    // are exact BIGINTs (unlike Shannon entropy there is no
    // transcendental call), so the single final IEEE division + round
    // is deterministic across engines — the event_transitions
    // discipline. Two map-side-combinable aggregations, no window.
    "a_simpson_diversity" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("ni"))
        .groupBy(col("user_id"))
        .agg(sum(col("ni")).as("n_events"),
             sum(col("ni") * (col("ni") - 1)).as("same_pairs"))
        .filter(col("n_events") > 1)
        .select(col("user_id"), col("n_events"),
          round(lit(1.0) - col("same_pairs").cast("double") /
            (col("n_events") * (col("n_events") - 1)).cast("double"), 6)
            .as("simpson"))
        .orderBy(col("user_id"))
    }),

    // Exact rolling median over each user's trailing 9 events — the
    // robust-smoothing twin of w_ewma_trailing8. percentile() as a
    // WINDOW aggregate recomputes a ≤9-element frame per row: O(frame)
    // per row, state never exceeds the frame, and the only shuffle is
    // the per-user partitioning. Interpolated medians of ≤9 integer
    // cents are exact IEEE halves, so the cross-engine compare is
    // bit-for-bit (same discipline as w_ewma_trailing8's 2⁻⁸ grid).
    "w_rolling_median" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-8, 0)
      Tables.events(s, dir)
        .withColumn("c", cents(col("value")))
        .select(col("event_id"), col("user_id"),
          expr("percentile(c, 0.5)").over(w).as("med_cents"))
        .orderBy(col("event_id"))
    }),

    // Key-skew telemetry: the profile you run BEFORE choosing a join
    // strategy at 100 TB (salt? AQE? broadcast?). Per event type, the
    // user-key distribution's top-share and Gini coefficient — all
    // moments as exact BIGINTs (rank·count sums; ties commute, so the
    // tie-order inside row_number cannot change the sum), one final
    // IEEE expression per output. Two aggregations + one window over
    // the |type|×|user| count table, never over raw events.
    "a_key_skew_profile" -> ((s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("x"))
      val ranked = counts.withColumn("r", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("x"), col("user_id"))))
      ranked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_keys"),
             sum(col("x")).as("n_rows"),
             max(col("x")).as("max_key_rows"),
             sum(col("r") * col("x")).as("rank_weighted"))
        .select(col("event_type"), col("n_keys"), col("n_rows"),
          floor(lit(1000000L) * col("max_key_rows") / col("n_rows") + 0.5)
            .cast("long").as("top1_share_e6"),
          round(lit(2.0) * col("rank_weighted").cast("double") /
              (col("n_keys") * col("n_rows")).cast("double") -
              (col("n_keys") + 1).cast("double") / col("n_keys").cast("double"), 6)
            .as("gini"))
        .orderBy(col("event_type"))
    }),

    // RFM (recency / frequency / monetary) quintile scoring — the
    // standard audience-segmentation aggregate. One per-user aggregate,
    // then three DISTRIBUTED quintile passes over the |users| summary
    // table (Graft.globalNtile — the two-pass prefix-sum pattern, no
    // single-partition window: |users| at 100 TB is billions); every
    // ORDER BY carries user_id so tie placement is total and
    // cross-engine deterministic. Score 1 = best quintile.
    "a_rfm_scores" -> ((s, dir) =>
      graft.api.Graft.rfmScores(Tables.events(s, dir), "user_id", "ts", "value")
        .orderBy(col("user_id"))),

    // Longest consecutive-day activity streak per user, reduced to a
    // census (streak_len -> n_users). Gaps-and-islands on the CALENDAR
    // grain (w1_islands is event-time sessions; this is the distinct-
    // day variant every retention dashboard needs): distinct (user,
    // day) first — so the window shuffle sees at most |users|×|days|
    // rows, never raw event volume — then day_number - row_number is
    // constant within a run of consecutive days.
    "w_streak_longest" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val grp = datediff(col("day"), lit("1970-01-01").cast("date")) -
        row_number().over(Window.partitionBy(col("user_id")).orderBy(col("day")))
      daily.withColumn("grp", grp)
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("streak"))
        .groupBy(col("user_id"))
        .agg(max(col("streak")).as("longest"))
        .groupBy(col("longest").as("streak_len"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("streak_len"))
    }),

    // HyperLogLog registers AS DATA: per event type, the 64-register
    // HLL sketch of distinct users, built from the cross-engine md5
    // idiom (register = low 6 hash bits, rho = leading-zero rank of
    // the remaining 26). Registers are rows, so the sketch merges by
    // max() exactly the way the quantile histogram merges by sum()
    // (law spec-asserted) — at 100 TB you persist the 64-row sketch
    // per partition/day and fold, never re-scanning raw events, and
    // the count-distinct shuffle is 64 rows per group instead of
    // |group|×|user|. Every FP step in the estimate is EXACT: the
    // 2^-m terms are dyadic rationals whose ≤64-term sum fits well
    // inside a double's 53-bit mantissa, so summation order cannot
    // change the value; the only rounding is the final division.
    // Exact distinct emitted alongside (spec bounds relative error).
    "a_hll_cardinality" -> ((s, dir) => {
      // small-range correction inside hllEstimate: below 2.5·m with
      // empty registers, linear counting m·ln(m/empty) beats the raw
      // estimator (raw was 3.5× off at 15 true distinct; lc: 17.1)
      val est = hllEstimate(hllRegisters(Tables.events(s, dir),
          col("event_type"), col("user_id")))
        .withColumnRenamed("__k", "event_type")
      val exact = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, "event_type").orderBy(col("event_type"))
    }),

    // Grouped two-feature OLS (value_cents ~ hour-of-day + day-of-week)
    // by CRAMER'S RULE over exact integer moment sums: the 3×3 normal-
    // equation determinants are computed in decimal(38,0) (HUGEINT in
    // the oracle) — integer-exact to ~1e27, far past what BIGINT holds
    // — so every engine-order effect is gone and the only FP is the
    // final det-ratio division. This is a_regr_slope_by_lang's closed
    // form lifted to 2 regressors: the map-side moment vector (n, Σx₁,
    // Σx₂, Σy, Σx₁², Σx₁x₂, Σx₂², Σx₁y, Σx₂y) partial-aggregates, one
    // |groups|-row shuffle, and the solve is per-group scalar algebra
    // — the same shape at 100 TB, no feature matrix ever materializes.
    "a_regr_plane" -> ((s, dir) => {
      val d38 = "decimal(38,0)"
      def det3(a: Column, b: Column, c: Column, d: Column, e: Column,
               f: Column, g: Column, h: Column, i: Column): Column =
        a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
                hour(col("ts")).cast("long").as("x1"),
                dayofweek(col("ts")).cast("long").as("x2"),
                floor(col("value") * 100 + 0.5).cast("long").as("y"))
      val m = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
             sum(col("y")).as("sy"),
             sum(col("x1") * col("x1")).as("s11"),
             sum(col("x1") * col("x2")).as("s12"),
             sum(col("x2") * col("x2")).as("s22"),
             sum(col("x1") * col("y")).as("s1y"),
             sum(col("x2") * col("y")).as("s2y"))
        .select(col("event_type") +: Seq("n", "s1", "s2", "sy", "s11",
          "s12", "s22", "s1y", "s2y").map(c => col(c).cast(d38).as(c)): _*)
      val dd  = det3(col("n"), col("s1"), col("s2"),
                     col("s1"), col("s11"), col("s12"),
                     col("s2"), col("s12"), col("s22"))
      val d0  = det3(col("sy"), col("s1"), col("s2"),
                     col("s1y"), col("s11"), col("s12"),
                     col("s2y"), col("s12"), col("s22"))
      val d1  = det3(col("n"), col("sy"), col("s2"),
                     col("s1"), col("s1y"), col("s12"),
                     col("s2"), col("s2y"), col("s22"))
      val d2  = det3(col("n"), col("s1"), col("sy"),
                     col("s1"), col("s11"), col("s1y"),
                     col("s2"), col("s12"), col("s2y"))
      m.select(col("event_type"), col("n").cast("long").as("n"),
          round(d0.cast("double") / dd.cast("double"), 6).as("b0_cents"),
          round(d1.cast("double") / dd.cast("double"), 6).as("b1_per_hour"),
          round(d2.cast("double") / dd.cast("double"), 6).as("b2_per_dow"))
        .orderBy(col("event_type"))
    }),

    // Pearson chi-squared independence test for the event_type ×
    // day-of-week contingency table — "is traffic mix stable across
    // the week" as a test statistic, not a plot. Per-cell contribution
    // (O·N − R·C)²/(N·R·C) with the numerator difference computed in
    // EXACT long arithmetic (≤4e12, exact as a double) so the only FP
    // is one square, one product chain, one division per cell — then
    // E6-QUANTIZED per cell before summing, so the total is an exact
    // BIGINT sum and no engine's aggregation order can move it. Margins
    // derive from the cell table (map-side partial to |types|×7 rows);
    // at 100 TB only the contingency census touches raw data.
    "a_chi2_independence" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
        .agg(count(lit(1)).as("o"))
        .pin(eager = true)
      val rowM = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
      val colM = cells.groupBy(col("dow")).agg(sum(col("o")).as("c"))
      val n = cells.agg(sum(col("o")).as("n"),
                        countDistinct(col("event_type")).as("n_types"),
                        countDistinct(col("dow")).as("n_dows"))
      cells.join(broadcast(rowM), "event_type").join(broadcast(colM), "dow")
        .crossJoin(broadcast(n))
        .withColumn("d", (col("o") * col("n") - col("r") * col("c"))
          .cast("double"))
        .withColumn("contrib_e6", floor(col("d") * col("d") /
          (col("n").cast("double") * col("r") * col("c")) * 1e6 + 0.5)
          .cast("long"))
        .groupBy(col("n"), col("n_types"), col("n_dows"))
        .agg(sum(col("contrib_e6")).as("chi2_e6"))
        .select(col("n").as("n_rows"), col("n_types"), col("n_dows"),
          ((col("n_types") - 1) * (col("n_dows") - 1)).as("df"),
          round(col("chi2_e6") / 1e6, 4).as("chi2"))
    }),

    // Kolmogorov–Smirnov drift audit, one source vs the rest of the
    // corpus — THE distribution-shift gate a curation pipeline runs per
    // shard/dump before admitting it (did src7's length profile drift
    // from the corpus?). D = sup_x |F_s(x) − F_rest(x)| computed
    // EXACTLY: both ECDFs are evaluated on the shared value grid as
    // cumulative integer counts, and the sup compares cross-multiplied
    // integers |cum_s·n_rest − cum_rest·n_s| — no FP until the final
    // reported statistic. The grid is |sources|×|distinct lengths|
    // (metadata-sized: the distinct-value histogram, NOT the corpus);
    // one window per source over it, everything else broadcasts. At
    // petabyte counts the cross-products would move to DECIMAL(38,0) —
    // the comparison stays exact; noted here because BIGINT covers all
    // test SFs with 9 digits to spare.
    "stat_ks_source_drift" -> ((s, dir) =>
      graft.api.Graft.ksDriftOneVsRest(
          Tables.documents(s, dir).select(col("source"), col("n_chars")),
          "source", "n_chars")
        .orderBy(col("source"))),

    // DKW-banded drift gate — the finite-sample companion to the KS
    // drift audit: Dvoretzky–Kiefer–Wolfowitz gives a DISTRIBUTION-FREE
    // confidence band for an ECDF, sup|F̂_n − F| ≤ ε(n) =
    // √(ln(2/α)/2n) w.p. ≥ 1−α, so "source drifted" becomes a GATED
    // claim with a stated false-alarm rate instead of a bare distance:
    // flag a source iff its ECDF's sup deviation from the pooled
    // corpus ECDF exceeds its own α=0.05 band (pool-inclusion makes
    // the gate conservative — deviation shrinks, never grows, with the
    // group's own mass; documented, not hidden). Machinery = the
    // ks-drift value-grid histogram: cum counts per (source, value) on
    // the |distinct n_chars| grid (metadata-sized, PLANS.md census
    // class), sup as one integer max; both the deviation and the band
    // are e6-quantized by the shared floor(x·1e6 + 0.5) idiom so the
    // flag compares two identically-derived integers on both engines.
    "stat_dkw_drift_gate" -> ((s, dir) => {
      val cnt = Tables.documents(s, dir)
        .groupBy(col("source").as("g"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("c"))
        .pin(eager = true) // grid built once, walked twice (vals/tot)
      val vals = cnt.select(col("v")).distinct()
      val grps = cnt.groupBy(col("g")).agg(sum(col("c")).as("ng"))
      // single-partition window is bounded: |distinct n_chars| rows
      val tot = cnt.groupBy(col("v")).agg(sum(col("c")).as("cv"))
        .withColumn("cumAll", sum(col("cv")).over(
          Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)))
      val ntot = cnt.agg(sum(col("c")).as("nt"))
      grps.crossJoin(vals)
        .join(cnt, Seq("g", "v"), "left")
        .withColumn("cc", coalesce(col("c"), lit(0L)))
        .withColumn("cumG", sum(col("cc")).over(
          Window.partitionBy(col("g")).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .join(tot.select(col("v"), col("cumAll")), Seq("v"))
        .crossJoin(broadcast(ntot))
        // |F_g − F_pool| numerator at this grid point, scale ng·nt
        .withColumn("dnum", abs(col("cumG") * col("nt") -
                                col("cumAll") * col("ng")))
        .groupBy(col("g"))
        .agg(max(col("ng")).as("n"), max(col("dnum")).as("d_num"),
             max(col("nt")).as("nt"))
        .select(col("g").as("source"), col("n"),
          floor(col("d_num").cast("double") /
            (col("n").cast("double") * col("nt").cast("double")) * 1e6 + 0.5)
            .cast("long").as("d_sup_e6"),
          floor(sqrt(log(lit(40.0)) / (lit(2.0) * col("n").cast("double")))
            * 1e6 + 0.5).cast("long").as("dkw_eps_e6"))
        .withColumn("drift_flag",
          (col("d_sup_e6") > col("dkw_eps_e6")).cast("long"))
        .orderBy(col("source"))
    }),

    // Mann–Whitney / AUC drift audit, one source vs the rest — the
    // rank-based companion to stat_ks_source_drift: KS asks "how far
    // apart are the ECDFs at the worst point", the U statistic asks
    // "if I draw one doc from this source and one from the rest, how
    // often is the source's longer" (= AUC). Ranks never materialize
    // per row: average ranks come from the shared value-grid histogram
    // (2r(v) = 2·cum_before + c + 1, integers ×2 so midranks stay
    // exact), the per-source rank-sum is one join + one aggregate, and
    // U×2 = 2R − 2n(n+1)/2 stays BIGINT throughout. auc_e6 is an exact
    // floor-div rational. Same metadata-sized grid shape as the KS op.
    "stat_mannwhitney_drift" -> ((s, dir) => {
      val cnt = Tables.documents(s, dir)
        .groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("c"))
        .pin(eager = true)
      // single-partition window is bounded: |distinct n_chars| rows —
      // the shared midrank grid, a histogram, never the corpus
      val tot = cnt.groupBy(col("v")).agg(sum(col("c")).as("cv"))
        .withColumn("cumb", sum(col("cv")).over(
          Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("r2", lit(2) * coalesce(col("cumb"), lit(0L)) + col("cv") + 1)
      val ntot = cnt.agg(sum(col("c")).as("nt"))
      cnt.join(tot.select(col("v"), col("r2")), Seq("v"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n"), sum(col("c") * col("r2")).as("rsum2"))
        .crossJoin(broadcast(ntot))
        .withColumn("u2", col("rsum2") - col("n") * (col("n") + 1))
        // guard the degenerate single-source corpus: n == nt makes the
        // rest-group empty and the divisor zero (silent NULL here,
        // hard error in DuckDB — drop the row on both sides instead)
        .filter(col("n") < col("nt"))
        .select(col("source"), col("n"), col("u2"),
          expr("u2 * 1000000 div (2 * n * (nt - n))").as("auc_e6"))
        .orderBy(col("source"))
    }),

    // Min-max-normalized decile profile — the shape census feature
    // normalization pipelines run before choosing a scaler (a uniform
    // profile min-max-scales cleanly; a spiked one wants rank or log).
    // Decile = ((v − mn)·10) div (mx − mn) clamped to 9, pure BIGINT
    // cross-multiplication against the broadcast per-type (mn, mx) row
    // — no FP in the bucketing, so engines cannot disagree at decile
    // boundaries. Map-side histogram to |types|×10 rows; share_e6 is
    // an exact floor-div rational.
    "a_value_decile_profile" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
                floor(col("value") * 100 + 0.5).cast("long").as("v"))
      val mm = ev.groupBy(col("event_type").as("et"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
             count(lit(1)).as("nt"))
        .filter(col("mx") > col("mn"))
      ev.join(broadcast(mm), col("event_type") === col("et"))
        .withColumn("decile",
          least(expr("(v - mn) * 10 div (mx - mn)"), lit(9L)))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"), max(col("nt")).as("nt"))
        .select(col("event_type"), col("decile"), col("n"),
                expr("n * 1000000 div nt").as("share_e6"))
        .orderBy(col("event_type"), col("decile"))
    }),

    // Benford first-digit audit over order totals — the classic
    // synthetic-data / fraud smoke test (organically-scaled monetary
    // values follow log10(1+1/d); generator output often doesn't, and
    // THAT is the finding). First digit comes from the decimal string
    // of floor(total) — identical in both engines for positive doubles;
    // observed shares are exact integer rationals (n_d·1e6 div N) and
    // the Benford expectations are pinned as shared integer literals,
    // not re-derived through each engine's log10 (whose final-digit
    // rounding could differ at the e6 boundary). One |orders|→9-row
    // aggregate; the scalar total broadcasts back.
    "stat_benford_first_digit" -> ((s, dir) => {
      val expE6 = "CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091" +
        " WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181" +
        " WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152" +
        " ELSE 45757 END"
      val byD = Tables.orders(s, dir)
        .filter(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = byD.agg(sum(col("n_obs")).as("n_total"))
      byD.crossJoin(broadcast(tot))
        .withColumn("obs_e6", expr("n_obs * 1000000 div n_total"))
        .withColumn("exp_e6", expr(expE6).cast("long"))
        .select(col("digit"), col("n_obs"), col("obs_e6"), col("exp_e6"),
                abs(col("obs_e6") - col("exp_e6")).as("dev_e6"))
        .orderBy(col("digit"))
    }),

    // Wald–Wolfowitz runs test per event type: is the time-ordered
    // sign sequence (value above/below the type mean, exact integer
    // cross-multiplication cents·n > S — no FP mean) RANDOM, or does
    // it cluster (fewer runs than expected) / oscillate (more)?
    // μ_R = 1 + 2n₁n₂/n and Var_R = (2n₁n₂/n)·((2n₁n₂−n)/(n−1))/n are
    // evaluated as nested BIGINT floor-divisions in one documented
    // order, and the z statistic is presented SQUARED with its sign
    // (z²·1e6) to avoid sqrt: z2 = (|dev_e6| div 1e3)² div (var_e6 div
    // 1e6) — every intermediate ≤ n²·1e6, inside BIGINT to n ≈ 3e6 per
    // type (decimal(38,0) widening beyond, as ts_seasonal_anomaly).
    // Scale: the sign pass is map-side after a broadcast of the 1-row-
    // per-type totals; the lag window partitions by type over the raw
    // stream — at 100 TB the run count decomposes per partition (runs
    // = Σ per-partition runs − boundary joins), the same split-merge
    // the sessionizer documents; the window form here is the
    // oracle-replayable binding.
    "stat_runs_test" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
                floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val tot = ev.groupBy(col("event_type").as("tt"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      val lagSign = lag(col("sign"), 1).over(w)
      ev.join(broadcast(tot), col("event_type") === col("tt"))
        .withColumn("sign", (col("cents") * col("n") > col("s")).cast("long"))
        .withColumn("chg",
          when(lagSign.isNull || lagSign =!= col("sign"), 1L).otherwise(0L))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), sum(col("chg")).as("runs"),
             sum(col("sign")).as("n_above"))
        .withColumn("n_below", col("n") - col("n_above"))
        .withColumn("mu_e6",
          expr("(2 * n_above * n_below * 1000000) div n + 1000000"))
        .withColumn("dev_e6", col("runs") * lit(1000000L) - col("mu_e6"))
        .withColumn("var_e6", expr(
          "(((2 * n_above * n_below) div n) * " +
          "((2 * n_above * n_below - n) div (n - 1)) * 1000000) div n"))
        .withColumn("z2_signed_e6", expr(
          "CASE WHEN var_e6 div 1000000 <= 0 THEN 0 ELSE " +
          "(CASE WHEN dev_e6 < 0 THEN -1 ELSE 1 END) * " +
          "(((abs(dev_e6) div 1000) * (abs(dev_e6) div 1000)) " +
          "div (var_e6 div 1000000)) END"))
        .select(col("event_type"), col("n"), col("runs"), col("n_above"),
                col("n_below"), col("mu_e6"), col("z2_signed_e6"))
        .orderBy(col("event_type"))
    }),

    // CUSUM change detection on the daily event-count series (Page
    // 1954) — the sequential drift detector a feed-health monitor runs
    // where PSI/KS (batch drift, this family) need a reference window:
    // S⁺_t = max(0, S⁺_{t−1} + (x_t − μ)) accumulates upward
    // excursions, S⁻ downward. The recursion is NOT window-expressible,
    // but its closed form is: S⁺_t = cum_t − min(0, min_{j<t} cum_j)
    // with cum = running Σ(x − μ) — a running sum plus a running min,
    // two windows. μ is cleared of division by scaling: c_t =
    // x_t·D − T (D days, T total events) sums to 0 exactly, so
    // everything is BIGINT and both engines replay it bit-for-bit.
    // The day grid is calendar-bounded (PLANS.md census class), so the
    // unpartitioned windows are safe; at unbounded grain this becomes
    // the globalRunningSum two-pass.
    "stat_cusum_shift" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val tot = daily.agg(count(lit(1)).as("d_days"), sum(col("n")).as("t_total"))
      val w = Window.orderBy(col("day"))
      val scaled = daily.crossJoin(broadcast(tot))
        .withColumn("c", col("n") * col("d_days") - col("t_total"))
        .withColumn("cum", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("prior_min", coalesce(min(col("cum")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("prior_max", coalesce(max(col("cum")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // outer clamp: when cum_t is itself the running minimum (the
      // excursion reset case S⁺ = max(0, ·)), cum − min(0, prior_min)
      // goes negative — the closed form is cum − min over j ≤ t of
      // (0, cum_j), i.e. max(0, cum − min(0, prior_min))
      scaled.select(col("day"), col("n"),
          greatest(lit(0L), col("cum") - least(lit(0L), col("prior_min")))
            .as("cusum_pos_scaled"),
          greatest(lit(0L), greatest(lit(0L), col("prior_max")) - col("cum"))
            .as("cusum_neg_scaled"))
        .orderBy(col("day"))
    }),

    // Randomization (approximate permutation) test for an A/B readout —
    // the nonparametric significance check that completes the testing
    // family (parametric Welch, rank MWU, ECDF KS, runs, χ², CUSUM →
    // resampling): buckets A/B = event_id parity, statistic = the mean
    // difference of integer cents, null distribution = B = 16
    // deterministic Bernoulli(1/2) relabelings (the packed replica
    // draw's low bit, eventPacked; true
    // size-preserving permutation needs a global shuffle, Bernoulli
    // relabeling is the distributed standard and converges to it).
    // |Δ| comparisons are EXACT cross-multiplied fractions in
    // DECIMAL(38,0) — |Δ_b| ≥ |Δ_obs| ⟺ |A_b|·n1ₒn2ₒ ≥ |A_o|·n1ᵦn2ᵦ
    // with A = S1·n2 − S2·n1 — so the p-value is a deterministic
    // integer count over 16, never an FP coin flip. B = 16 keeps the
    // oracle replay bounded; production raises B, same plan. Scale:
    // map-side explode ×B, one (type, b) digest shuffle.
    "stat_randomization_test" -> ((s, dir) => {
      val B = 16
      // All B relabelings AND the observed split in ONE aggregation
      // pass (r16 opt, guide §2.4: the observed-parity sums are just
      // two more conditional-sum columns over the SAME per-type rows,
      // so the second memo pass and the broadcast join the old `obs`
      // branch needed both disappear): replica b's side-1 sums are
      // conditional-sum column pairs on the relabeled parity
      // g_b = (event_id + flip_b) % 2; every side 2 derives exactly as
      // (type total − side 1) — n2 = n − n1, s2 = stc − s1, all BIGINT.
      // |A| = |S1·n2 − S2·n1| ≤ ~2.5e14 and D = n1·n2 ≤ ~2.5e9 both fit
      // BIGINT; only the cross-comparison product (~6e23) needs the
      // DECIMAL(19)×DECIMAL(19) widening below.
      // Shuffle = |types| rows × 38 columns.
      val aggCols = (0 until B).flatMap { b =>
        val flip = s"(CAST(conv(${replicaDrawHexSqlAt(b)}, 16, 10) AS BIGINT) % 2)"
        val g = s"pmod(event_id + $flip, 2)"
        Seq(sum(expr(s"CASE WHEN $g = 0 THEN cents ELSE 0 END")).as(s"s1_$b"),
            sum(expr(s"CASE WHEN $g = 0 THEN 1 ELSE 0 END")).as(s"n1_$b"))
      } ++ Seq(
        sum(expr("CASE WHEN pmod(event_id, 2) = 0 THEN cents ELSE 0 END")).as("s1o"),
        sum(expr("CASE WHEN pmod(event_id, 2) = 0 THEN 1 ELSE 0 END")).as("n1o"),
        sum(col("cents")).as("stc"), count(lit(1)).as("n"))
      val perType = eventPacked(s, dir).groupBy(col("event_type"))
        .agg(aggCols.head, aggCols.tail: _*)
        .withColumn("n1", col("n1o"))
        .withColumn("n2", col("n") - col("n1o"))
        .withColumn("a_obs", expr("abs(s1o * (n - n1o) - (stc - s1o) * n1o)"))
        .withColumn("d_obs", expr("n1o * (n - n1o)"))
      // replica b extreme ⟺ |A_b|·d_obs ≥ |A_obs|·d_b with
      // A_b = s1_b·(n−n1_b) − (stc−s1_b)·n1_b, d_b = n1_b·(n−n1_b);
      // degenerate relabelings (n1_b ∈ {0, n}) count as not extreme —
      // the old filter(n1>0 && n2>0) semantics
      val ind = (0 until B).map { b =>
        val aB = s"abs(s1_$b * (n - n1_$b) - (stc - s1_$b) * n1_$b)"
        val dB = s"(n1_$b * (n - n1_$b))"
        s"(CASE WHEN n1_$b > 0 AND n1_$b < n" +
          s" AND CAST($aB AS DECIMAL(19,0)) * CAST(d_obs AS DECIMAL(19,0))" +
          s" >= CAST(a_obs AS DECIMAL(19,0)) * CAST($dB AS DECIMAL(19,0))" +
          " THEN 1 ELSE 0 END)"
      }.mkString(" + ")
      // a type whose 16 relabelings are ALL degenerate (n1_b ∈ {0, n}
      // for every b — e.g. a single-row type) has no testable null and
      // must DROP, matching the oracle's filtered inner join (the old
      // row-form filter dropped it implicitly; the packed form needs
      // the explicit n_valid guard or it would emit a false p_e6 = 0)
      val nValid = (0 until B)
        .map(b => s"(CASE WHEN n1_$b > 0 AND n1_$b < n THEN 1 ELSE 0 END)")
        .mkString(" + ")
      perType
        .filter(expr(nValid) > 0)
        .withColumn("n_extreme", expr(ind).cast("long"))
        .withColumn("p_e6", expr(s"n_extreme * 1000000 div $B"))
        .select(col("event_type"), col("n1"), col("n2"),
                col("n_extreme"), col("p_e6"))
        .orderBy(col("event_type"))
    }),

    // Poisson bootstrap CI (Chamandy et al. 2012 — THE distributed
    // bootstrap: classical resampling needs a global n-out-of-n draw,
    // which cannot be computed per-partition; weighting every row
    // independently Poisson(1) per replica is map-side, one aggregate,
    // and converges to the same CI). B = 16 replicas; the per-(row,
    // replica) weight is the Poisson(1) inverse CDF applied to the
    // packed 16-bit md5 dyadic uniform (eventPacked), so
    // the "randomness" is a pure deterministic hash both engines
    // replay — rerun-invariant, layout-invariant. Replica means are
    // exact integer-cent floor-divisions; the 90%-ish CI is the
    // (2nd, 15th) order statistic of the 16 replica means under a
    // (mean, replica-id) total order. Scale: the explode is B× the
    // fact rows but map-side only; the shuffle carries |types|×B
    // partial-sum rows.
    "stat_poisson_bootstrap_ci" -> ((s, dir) => {
      val B = 16
      // Poisson(1) CDF literals — shared verbatim with the oracle
      val cdf = Seq(
        "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
        "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
        "0.9999167588507119", "0.9999897508637437")
      val wExpr = cdf.zipWithIndex.foldRight(s"${cdf.length}": String) {
        case ((c, k), rest) => s"CASE WHEN __u < $c THEN $k ELSE $rest END"
      }
      // All B replica weight-sums in ONE aggregation pass (packed
      // columns, no ×B row expansion); the drained 32-column row per
      // type is then stack()ed back to |types|×B tiny rows for the
      // order-statistic window — post-aggregation, so the explode is
      // over dozens of rows, not the fact table.
      // two projections: u_b hoisted first (inlining it into the CASE
      // chain re-evaluates the conv 8× per branch — conditional
      // subtrees defeat subexpression elimination; measured 2.7 s vs
      // 1.0 s at sf0.1), then the 8-branch inverse-CDF walk per b
      val withU = eventPacked(s, dir).select(
        col("event_type") +: col("cents") +: (0 until B).map { b =>
          expr("CAST(CAST(conv(" + replicaDrawHexSqlAt(b) +
            ", 16, 10) AS BIGINT) AS DOUBLE) / 65536.0").as(s"u_$b")
        }: _*)
      val withW = withU.select(
        col("event_type") +: col("cents") +: (0 until B).map { b =>
          expr(s"CAST(${wExpr.replace("__u", s"u_$b")} AS BIGINT)").as(s"w_$b")
        }: _*)
      val aggCols = (0 until B).flatMap { b =>
        Seq(sum(col(s"w_$b")).as(s"sw_$b"),
            sum(col(s"w_$b") * col("cents")).as(s"swc_$b"))
      } ++ Seq(count(lit(1)).as("n_events"),
               expr("sum(cents)").as("stc"))
      val wide = withW.groupBy(col("event_type"))
        .agg(aggCols.head, aggCols.tail: _*)
      // ORDER STATISTICS WITHOUT A SHUFFLE: a type's 16 replica means
      // live in ONE row of `wide`, so the (2nd, 15th) order statistics
      // are an in-row array_sort over (mean, b) structs + two direct
      // indexes — one projection, zero further exchanges. The previous
      // stack → per-type window → re-aggregate tail pushed 80 rows
      // through three more exchanges (window sort, final agg, and
      // their AQE stage launches): measured 1.5 → 0.5 s at sf0.1 —
      // pure stage overhead, not data. Zero-replica guard (sw_b > 0)
      // becomes a null filtered out of the array; a type with < 15
      // valid replicas has no 15th statistic and drops, the old
      // inner-join semantics.
      val entries = (0 until B).map { b =>
        when(col(s"sw_$b") > 0,
          struct(expr(s"swc_$b div sw_$b").as("mean_c"),
                 lit(b).as("b")))
      }
      wide.withColumn("arr0", array(entries: _*))
        .withColumn("arr",
          expr("array_sort(filter(arr0, x -> x IS NOT NULL))"))
        .filter(size(col("arr")) >= B - 1)
        .select(col("event_type"), col("n_events"),
          expr("stc div n_events").as("mean_c"),
          col("arr").getItem(1).getField("mean_c").as("ci_lo_c"),
          col("arr").getItem(B - 2).getField("mean_c").as("ci_hi_c"))
        .orderBy(col("event_type"))
    }),

    // Neyman-optimal stratified sampling allocation — the survey-design
    // primitive a corpus-sampling stage runs before drawing an audit
    // sample: allocate a fixed label budget across strata ∝ N_h·σ_h
    // (minimum-variance for a fixed total n). σ_h comes from the EXACT
    // integer sum-of-squares (n·Σx² − (Σx)² — one aggregate, no
    // two-pass mean), the weight is e6-quantized, and the integer
    // largest-remainder rounding (base = budget·w div Σw, +1 to the
    // largest budget·w mod Σw) guarantees Σ n_alloc == budget EXACTLY
    // on both engines — no FP share ever decides an allocation. The
    // windows run over the |strata|-row weight table (bounded).
    "stat_neyman_allocation" -> ((s, dir) => {
      val budget = 100L
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy(lit(1))
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_h"), sum(col("n_chars")).as("sx"),
             sum(col("n_chars") * col("n_chars")).as("sxx"))
        .filter(col("n_h") > 1)
        // w_h = N_h · s_h, s_h² = (nΣx² − (Σx)²) / (n(n−1)); quantized
        // once at e6, all allocation arithmetic integer from here on
        .withColumn("w_e6", floor(col("n_h") * sqrt(
            (col("n_h") * col("sxx") - col("sx") * col("sx")).cast("double") /
            (col("n_h") * (col("n_h") - 1)).cast("double")) * 1e6 + 0.5)
          .cast("long"))
        .withColumn("wsum", sum(col("w_e6")).over(wAll))
        .withColumn("base", expr(s"$budget * w_e6 div wsum"))
        .withColumn("rem", expr(s"$budget * w_e6 % wsum"))
        .withColumn("spill", lit(budget) - sum(col("base")).over(wAll))
        .withColumn("rrank", row_number().over(
          Window.partitionBy(lit(1)).orderBy(col("rem").desc, col("source"))))
        .select(col("source"), col("n_h"), col("w_e6"),
          (col("base") + when(col("rrank") <= col("spill"), 1L).otherwise(0L))
            .as("n_alloc"))
        .orderBy(col("source"))
    }),

    // Benjamini–Hochberg FDR step-up over a FAMILY of tests — the
    // multiple-testing correction a drift monitor needs the moment it
    // runs one test per feature/source (20 sources at α=0.10 expect 2
    // false alarms uncorrected; BH bounds the FALSE DISCOVERY RATE, not
    // the per-test rate). The family here: per-source two-sample
    // randomization test of document length (source vs rest of corpus)
    // with Bernoulli(n1/n) membership relabelings. p-values are exact
    // integer counts over B=16; the step-up needs only
    // p_(i)·m ≤ i·α·1e6 integer comparisons and ONE max over the
    // m-row p-table (global window over |sources| rows — bounded by
    // the source-domain cardinality, PLANS.md census class).
    //
    // PACKED replica draws (r10 verdict #3 — the old form exploded the
    // corpus ×(|sources|·B) = ×320 before aggregating): all B=16 draws
    // for one (doc, source) pair now come from TWO md5s as sixteen
    // 12-bit slices (bhMemberSql), and the per-replica sums are 16
    // conditional-sum column pairs in ONE map-side aggregation — the
    // row expansion is ×|sources| only, the md5 count per doc drops
    // 320 → 40, and the shuffle is |sources| rows × 34 columns. The
    // 12-bit dyadic uniform quantizes the membership rate to
    // ceil-of-1/4096 grid (≈0.02 % absolute — the null stays exactly
    // exchangeable w.r.t. len, which is all the test needs), replayed
    // bit-for-bit by the oracle from the same fragments. Pure BIGINT:
    // h·n < n1o·4096 is safe to n < 2.25e15 docs. A (source, len, n)
    // histogram would compress further but can't replay per-doc
    // i.i.d. draws without a binomial inverse-CDF in both engines —
    // packed bits get the same asymptotic win with exact replay.
    "stat_bh_fdr" -> ((s, dir) => {
      val B = 16
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars").as("len"))
      // PINNED scalars (r15 opt, guide §2.4): tot (1 row), obs and srcs
      // (|sources| rows) each had 2-3 consumers, and every consumer
      // replayed the documents scan+aggregate lineage — the before-plan
      // scanned `documents` 10×. Pinned, the corpus is read once per
      // aggregate (4 scans total), everything downstream reads ≤20-row
      // checkpoints.
      val tot = docs.agg(count(lit(1)).as("n"), sum(col("len")).as("st"))
        .pin(eager = false)
      val obs = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n1"), sum(col("len")).as("s1"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n1").as("n_src"),
          expr("abs(s1 * (n - n1) - (st - s1) * n1)").as("a_obs"),
          expr("n1 * (n - n1)").as("d_obs"))
        .pin(eager = false)
      val srcs = docs.groupBy(col("source")).agg(count(lit(1)).as("n1o"))
        .pin(eager = false)
      val grid = docs
        .crossJoin(broadcast(srcs.select(col("source").as("src"), col("n1o"))))
        .crossJoin(broadcast(tot))
        .withColumn("h0", md5(concat(
          col("doc_id").cast("string"), lit(":"), col("src"), lit(":0"))))
        .withColumn("h1", md5(concat(
          col("doc_id").cast("string"), lit(":"), col("src"), lit(":1"))))
      val aggCols = (0 until B).flatMap { b =>
        val m = expr(bhMemberSql(b, h => s"CAST(conv($h, 16, 10) AS BIGINT)"))
        Seq(sum(m * col("len")).as(s"s1b_$b"), sum(m).as(s"n1b_$b"))
      } ++ Seq(max(col("n")).as("n"), max(col("st")).as("st"))
      val perSrc = grid.groupBy(col("src")).agg(aggCols.head, aggCols.tail: _*)
      val p = perSrc.join(broadcast(obs), perSrc("src") === obs("source"))
        .filter(expr(bhNValidSql) > 0)
        .withColumn("n_extreme",
          expr((0 until B).map(bhExtremeSql).mkString(" + ")))
        .withColumn("p_e6", expr(s"n_extreme * 1000000 div $B"))
        .select(col("source"), col("n_src"), col("p_e6"))
      // BH step-up at α = 0.10 via the reusable facade (the step-up max
      // and all windows run over the m-row p-table — bounded).
      graft.api.Graft.bhStepUp(p, "source", "p_e6", alphaE6 = 100000L)
        .select(col("source"), col("n_src"), col("p_e6"),
                col("bh_rank"), col("rejected"))
        .orderBy(col("bh_rank"))
    }),

    // Spearman rank correlation per language between document length
    // (n_chars) and whitespace token count — the monotone-association
    // check run before trusting either as a proxy for the other in
    // length filters. Ranks are ROW_NUMBER with doc_id tiebreak (the
    // tie-broken variant: deterministic under any engine; the
    // averaged-ties variant needs fractional ranks — same plan with
    // 1e6-scaled average ranks if ties matter). rho = 1 − 6Σd²/(n(n²−1))
    // evaluated as nested integer floor-divisions in ONE documented
    // order — n(n²−1) factored as [n(n+1)]·(n−1) so the widest
    // intermediate is 6Σd²·1e3 ≤ 2n³·1e3, inside BIGINT for n ≤ 1e5
    // per group (drop the e3 step and carry e6 on the last division
    // beyond that). Windows are per-lang ranks — the per-group prefix
    // sum (Graft.globalRowNumber's pattern, applied per lang) is the
    // 100 TB path when a single language outgrows one partition.
    "stat_spearman_bylang" -> ((s, dir) =>
      graft.api.Graft.spearmanByGroup(
          Tables.documents(s, dir).filter(col("text").isNotNull)
            .select(col("lang"), col("doc_id"), col("n_chars"),
                    size(split(col("text"), " ")).cast("long").as("n_toks")),
          "lang", "doc_id", "n_chars", "n_toks")
        .orderBy(col("lang")))
  )

  /** The stratified CUPAC readout body (no ORDER BY) — shared between
    * the stratified oracle and the pooled follow-on's CTE. */
  private val cupacStratifiedSql =
    """WITH daily AS (
      |  SELECT user_id, event_type, ts::DATE AS d,
      |         sum(floor(value * 100 + 0.5)::BIGINT) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |d0 AS (SELECT min(d) AS d0 FROM daily),
      |pu AS (
      |  SELECT user_id, event_type,
      |    coalesce(sum(CASE WHEN d - d0 < 15 THEN c END), 0)::BIGINT AS x,
      |    coalesce(sum(CASE WHEN NOT (d - d0 < 15) THEN c END), 0)::BIGINT AS y
      |  FROM daily CROSS JOIN d0 GROUP BY user_id, event_type),
      |pa AS (
      |  SELECT user_id, event_type, x, y,
      |    ('0x' || substr(md5(user_id::VARCHAR || ':ab'), 1, 4))::BIGINT % 2 AS arm
      |  FROM pu),
      |st AS (
      |  SELECT event_type, count(*)::BIGINT AS n,
      |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
      |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
      |    sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy,
      |    sum(y::HUGEINT * y) AS syy,
      |    sum((CASE WHEN arm = 0 THEN x ELSE 0 END)::HUGEINT) AS sx_a,
      |    sum((CASE WHEN arm = 1 THEN x ELSE 0 END)::HUGEINT) AS sx_b,
      |    sum((CASE WHEN arm = 0 THEN y ELSE 0 END)::HUGEINT) AS sy_a,
      |    sum((CASE WHEN arm = 1 THEN y ELSE 0 END)::HUGEINT) AS sy_b
      |  FROM pa GROUP BY event_type)
      |SELECT event_type, n, n_a, n_b,
      |  ((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b))::BIGINT
      |    AS srm_chi2_e6,
      |  ((n_a - n_b) * (n_a - n_b) * 1000000 > 3841459 * (n_a + n_b))::INT
      |    AS srm_flag,
      |  round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE, 6)
      |    AS theta_r6,
      |  round(sy_a::DOUBLE / n_a - sy_b::DOUBLE / n_b, 6) AS effect_raw_r6,
      |  round((sy_a::DOUBLE / n_a -
      |         ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE) *
      |           (sx_a::DOUBLE / n_a - sx::DOUBLE / n)) -
      |        (sy_b::DOUBLE / n_b -
      |         ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE) *
      |           (sx_b::DOUBLE / n_b - sx::DOUBLE / n)), 6)
      |    AS effect_cuped_r6,
      |  round(((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE) /
      |        ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6)
      |    AS var_reduction_r6
      |FROM st""".stripMargin

  def oracles: Map[String, String] = Map(
    "prep_quantile_bins" ->
      """WITH ev AS (SELECT event_type, event_id,
        |    floor(value * 100 + 0.5)::BIGINT AS c FROM events),
        |sh AS (SELECT event_type, c, count(*)::BIGINT AS cnt
        |  FROM ev WHERE event_id % 4 = 0 GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n FROM sh),
        |e AS (SELECT event_type,
        |    min(CASE WHEN cum * 4 >= n THEN c END) AS e1,
        |    min(CASE WHEN cum * 2 >= n THEN c END) AS e2,
        |    min(CASE WHEN cum * 4 >= n * 3 THEN c END) AS e3
        |  FROM cum GROUP BY event_type),
        |fh AS (SELECT event_type, c, count(*)::BIGINT AS cnt
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT fh.event_type,
        |    1 + (c > e1)::BIGINT + (c > e2)::BIGINT + (c > e3)::BIGINT AS bin,
        |    sum(cnt)::BIGINT AS n, min(c)::BIGINT AS lo_c,
        |    max(c)::BIGINT AS hi_c
        |  FROM fh JOIN e USING (event_type) GROUP BY 1, 2)
        |SELECT event_type, bin, n, lo_c, hi_c,
        |  (n * 1000000 // sum(n) OVER (PARTITION BY event_type))::BIGINT
        |    AS share_e6
        |FROM b ORDER BY event_type, bin""".stripMargin,

    "stat_capture_recapture" ->
      """WITH d AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
        |n AS (SELECT day, count(*)::BIGINT AS n FROM d GROUP BY day),
        |m AS (SELECT a.day AS day, count(*)::BIGINT AS m
        |  FROM d a JOIN d b ON a.user_id = b.user_id AND b.day = a.day + 1
        |  GROUP BY a.day)
        |SELECT m.day, n1.n AS n1, n2.n AS n2, m.m,
        |  ((n1.n + 1) * (n2.n + 1) // (m.m + 1) - 1)::BIGINT AS chapman_n,
        |  (n1.n + n2.n - m.m)::BIGINT AS observed_n,
        |  ((n1.n + n2.n - m.m) * 1000000
        |    // ((n1.n + 1) * (n2.n + 1) // (m.m + 1) - 1))::BIGINT
        |    AS coverage_e6
        |FROM m JOIN n n1 ON n1.day = m.day
        |  JOIN n n2 ON n2.day = m.day + 1
        |ORDER BY m.day""".stripMargin,

    "stat_neyman_allocation" ->
      """WITH st AS (SELECT source, count(*)::BIGINT AS n_h,
        |    sum(n_chars)::BIGINT AS sx,
        |    sum(n_chars * n_chars)::BIGINT AS sxx
        |  FROM documents GROUP BY source HAVING count(*) > 1),
        |w AS (SELECT source, n_h,
        |    floor(n_h * sqrt((n_h * sxx - sx * sx)::DOUBLE /
        |      (n_h * (n_h - 1))::DOUBLE) * 1000000 + 0.5)::BIGINT AS w_e6
        |  FROM st),
        |t AS (SELECT source, n_h, w_e6, sum(w_e6) OVER () AS wsum FROM w),
        |b AS (SELECT source, n_h, w_e6,
        |    (100 * w_e6) // wsum AS base, (100 * w_e6) % wsum AS rem,
        |    100 - sum((100 * w_e6) // wsum) OVER () AS spill FROM t),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source)
        |    AS rrank FROM b)
        |SELECT source, n_h, w_e6,
        |  (base + CASE WHEN rrank <= spill THEN 1 ELSE 0 END)::BIGINT
        |    AS n_alloc
        |FROM r ORDER BY source""".stripMargin,

    // mirrors the packed-draw Spark plan from the SAME bhMemberSql /
    // bhExtremeSql fragments (only hexToLong differs per engine)
    "stat_bh_fdr" -> {
      val memSums = (0 until 16).map { b =>
        val m = bhMemberSql(b, h => s"(('0x' || $h)::BIGINT)")
        s"sum($m * len)::BIGINT AS s1b_$b, sum($m)::BIGINT AS n1b_$b"
      }.mkString(",\n    ")
      val ind = (0 until 16).map(bhExtremeSql).mkString(" + ")
      "WITH docs AS (SELECT doc_id, source, n_chars AS len FROM documents),\n" +
      "tot AS (SELECT count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS st\n" +
      "  FROM documents),\n" +
      "obs AS (SELECT source, count(*)::BIGINT AS n_src,\n" +
      "    abs(sum(len) * ((SELECT n FROM tot) - count(*))\n" +
      "        - ((SELECT st FROM tot) - sum(len)) * count(*))::BIGINT AS a_obs,\n" +
      "    (count(*) * ((SELECT n FROM tot) - count(*)))::BIGINT AS d_obs\n" +
      "  FROM docs GROUP BY source),\n" +
      "grid AS (SELECT d.len, s.source AS src, s.n_src AS n1o,\n" +
      "    (SELECT n FROM tot) AS n,\n" +
      "    md5(d.doc_id::VARCHAR || ':' || s.source || ':0') AS h0,\n" +
      "    md5(d.doc_id::VARCHAR || ':' || s.source || ':1') AS h1\n" +
      "  FROM docs d CROSS JOIN obs s),\n" +
      s"pg AS (SELECT src,\n    $memSums\n  FROM grid GROUP BY src),\n" +
      "pv AS (SELECT o.source, o.n_src,\n" +
      s"    ((($ind) * 1000000) // 16)::BIGINT AS p_e6\n" +
      "  FROM pg JOIN obs o ON pg.src = o.source CROSS JOIN tot\n" +
      s"  WHERE ($bhNValidSql) > 0),\n" +
      "rk AS (SELECT source, n_src, p_e6,\n" +
      "    row_number() OVER (ORDER BY p_e6, source) AS bh_rank,\n" +
      "    count(*) OVER () AS m_tests FROM pv),\n" +
      "kk AS (SELECT *, max(CASE WHEN p_e6 * m_tests <= bh_rank * 100000\n" +
      "    THEN bh_rank ELSE 0 END) OVER () AS k FROM rk)\n" +
      "SELECT source, n_src, p_e6, bh_rank::BIGINT AS bh_rank,\n" +
      "  (bh_rank <= k)::BIGINT AS rejected\n" +
      "FROM kk ORDER BY bh_rank"
    },

    // same contract at |sources| grain over documents
    "stat_kll_by_source" ->
      """WITH d AS (SELECT source, n_chars FROM documents),
        |qs AS (SELECT source,
        |    approx_quantile(n_chars, [0.25, 0.5, 0.75, 0.95]::FLOAT[]) AS ests
        |  FROM d GROUP BY source),
        |est AS (SELECT source,
        |    unnest([250000, 500000, 750000, 950000]) AS q_e6,
        |    unnest(ests) AS est
        |  FROM qs),
        |r AS (SELECT d.source, q_e6, count(*)::BIGINT AS n,
        |    sum(CASE WHEN n_chars < est THEN 1 ELSE 0 END)::BIGINT AS rank_lt,
        |    sum(CASE WHEN n_chars <= est THEN 1 ELSE 0 END)::BIGINT AS rank_le
        |  FROM d JOIN est USING (source)
        |  GROUP BY d.source, q_e6)
        |SELECT source, q_e6::BIGINT AS q_e6, n,
        |  (q_e6 * n >= rank_lt * 1000000 - n * 50000
        |   AND q_e6 * n <= rank_le * 1000000 + n * 50000)::INT
        |    AS within_rank_5pct
        |FROM r ORDER BY source, q_e6""".stripMargin,

    // ECDF grid replay of the DKW gate: ln(40) = ln(2/0.05), identical
    // IEEE doubles on both engines, quantized by the shared idiom
    "stat_dkw_drift_gate" ->
      """WITH cnt AS (SELECT source AS g, n_chars AS v, count(*)::BIGINT AS c
        |  FROM documents GROUP BY 1, 2),
        |grid AS (SELECT g, v FROM (SELECT DISTINCT g FROM cnt)
        |  CROSS JOIN (SELECT DISTINCT v FROM cnt)),
        |grps AS (SELECT g, sum(c)::BIGINT AS ng FROM cnt GROUP BY g),
        |tot AS (SELECT v, sum(c)::BIGINT AS cv FROM cnt GROUP BY v),
        |tc AS (SELECT v, sum(cv) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cumAll FROM tot),
        |nt AS (SELECT sum(c)::BIGINT AS nt FROM cnt),
        |cg AS (SELECT grid.g, grid.v,
        |    sum(coalesce(cnt.c, 0)) OVER (PARTITION BY grid.g ORDER BY grid.v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cumG
        |  FROM grid LEFT JOIN cnt USING (g, v)),
        |dev AS (SELECT cg.g, max(grps.ng)::BIGINT AS n,
        |    max(abs(cg.cumG * nt.nt - tc.cumAll * grps.ng))::BIGINT AS d_num,
        |    max(nt.nt)::BIGINT AS nt
        |  FROM cg JOIN grps USING (g) JOIN tc USING (v) CROSS JOIN nt
        |  GROUP BY cg.g)
        |SELECT g AS source, n,
        |  floor(d_num::DOUBLE / (n::DOUBLE * nt::DOUBLE) * 1e6 + 0.5)::BIGINT
        |    AS d_sup_e6,
        |  floor(sqrt(ln(40.0) / (2.0 * n::DOUBLE)) * 1e6 + 0.5)::BIGINT
        |    AS dkw_eps_e6,
        |  (floor(d_num::DOUBLE / (n::DOUBLE * nt::DOUBLE) * 1e6 + 0.5)
        |   > floor(sqrt(ln(40.0) / (2.0 * n::DOUBLE)) * 1e6 + 0.5))::BIGINT
        |    AS drift_flag
        |FROM dev ORDER BY source""".stripMargin,

    // each engine checks its own sketch (DuckDB: t-digest
    // approx_quantile) against its own exact ranks — the
    // a_approx_sketch_contract discipline
    "stat_kll_quantiles" ->
      """WITH ev AS (SELECT event_type, floor(value * 100 + 0.5)::BIGINT AS cents
        |  FROM events),
        |qs AS (SELECT event_type,
        |    approx_quantile(cents, [0.1, 0.5, 0.9, 0.99]::FLOAT[]) AS ests
        |  FROM ev GROUP BY event_type),
        |est AS (SELECT event_type,
        |    unnest([100000, 500000, 900000, 990000]) AS q_e6,
        |    unnest(ests) AS est
        |  FROM qs),
        |r AS (SELECT ev.event_type, q_e6, count(*)::BIGINT AS n,
        |    sum(CASE WHEN cents < est THEN 1 ELSE 0 END)::BIGINT AS rank_lt,
        |    sum(CASE WHEN cents <= est THEN 1 ELSE 0 END)::BIGINT AS rank_le
        |  FROM ev JOIN est USING (event_type)
        |  GROUP BY ev.event_type, q_e6)
        |SELECT event_type, q_e6::BIGINT AS q_e6, n,
        |  (q_e6 * n >= rank_lt * 1000000 - n * 50000
        |   AND q_e6 * n <= rank_le * 1000000 + n * 50000)::INT
        |    AS within_rank_5pct
        |FROM r ORDER BY event_type, q_e6""".stripMargin,

    // same contract at the tail ranks, ±2 % — DuckDB's approx_quantile
    // is itself t-digest-backed, so each engine's own digest checks
    // its own exact ranks (the a_approx_sketch_contract discipline)
    "stat_tdigest_quantiles" ->
      """WITH ev AS (SELECT event_type, floor(value * 100 + 0.5)::BIGINT AS cents
        |  FROM events),
        |qs AS (SELECT event_type,
        |    approx_quantile(cents, [0.01, 0.5, 0.99, 0.999]::FLOAT[]) AS ests
        |  FROM ev GROUP BY event_type),
        |est AS (SELECT event_type,
        |    unnest([10000, 500000, 990000, 999000]) AS q_e6,
        |    unnest(ests) AS est
        |  FROM qs),
        |r AS (SELECT ev.event_type, q_e6, count(*)::BIGINT AS n,
        |    sum(CASE WHEN cents < est THEN 1 ELSE 0 END)::BIGINT AS rank_lt,
        |    sum(CASE WHEN cents <= est THEN 1 ELSE 0 END)::BIGINT AS rank_le
        |  FROM ev JOIN est USING (event_type)
        |  GROUP BY ev.event_type, q_e6)
        |SELECT event_type, q_e6::BIGINT AS q_e6, n,
        |  (q_e6 * n >= rank_lt * 1000000 - n * 20000
        |   AND q_e6 * n <= rank_le * 1000000 + n * 20000)::INT
        |    AS within_rank_2pct
        |FROM r ORDER BY event_type, q_e6""".stripMargin,

    // the t-digest contract at the (event_type, day) grain — same
    // engine-audits-own-sketch recipe as the KLL twin
    "stat_tdigest_by_type_day" ->
      """WITH d AS (SELECT event_type, (ts::DATE)::VARCHAR AS day,
        |    floor(value * 100 + 0.5)::BIGINT AS cents FROM events),
        |qs AS (SELECT event_type, day,
        |    approx_quantile(cents, [0.25, 0.5, 0.75, 0.95]::FLOAT[]) AS ests
        |  FROM d GROUP BY event_type, day),
        |est AS (SELECT event_type, day,
        |    unnest([250000, 500000, 750000, 950000]) AS q_e6,
        |    unnest(ests) AS est
        |  FROM qs),
        |r AS (SELECT d.event_type, d.day, q_e6, count(*)::BIGINT AS n,
        |    sum(CASE WHEN cents < est THEN 1 ELSE 0 END)::BIGINT AS rank_lt,
        |    sum(CASE WHEN cents <= est THEN 1 ELSE 0 END)::BIGINT AS rank_le
        |  FROM d JOIN est USING (event_type, day)
        |  GROUP BY d.event_type, d.day, q_e6)
        |SELECT event_type, day, q_e6::BIGINT AS q_e6, n,
        |  (q_e6 * n >= rank_lt * 1000000 - n * 50000
        |   AND q_e6 * n <= rank_le * 1000000 + n * 50000)::INT
        |    AS within_rank_5pct
        |FROM r WHERE n >= 32 ORDER BY event_type, day, q_e6""".stripMargin,

    // the KLL contract at the (event_type, day) grain
    "stat_kll_by_type_day" ->
      """WITH d AS (SELECT event_type, (ts::DATE)::VARCHAR AS day,
        |    floor(value * 100 + 0.5)::BIGINT AS cents FROM events),
        |qs AS (SELECT event_type, day,
        |    approx_quantile(cents, [0.25, 0.5, 0.75, 0.95]::FLOAT[]) AS ests
        |  FROM d GROUP BY event_type, day),
        |est AS (SELECT event_type, day,
        |    unnest([250000, 500000, 750000, 950000]) AS q_e6,
        |    unnest(ests) AS est
        |  FROM qs),
        |r AS (SELECT d.event_type, d.day, q_e6, count(*)::BIGINT AS n,
        |    sum(CASE WHEN cents < est THEN 1 ELSE 0 END)::BIGINT AS rank_lt,
        |    sum(CASE WHEN cents <= est THEN 1 ELSE 0 END)::BIGINT AS rank_le
        |  FROM d JOIN est USING (event_type, day)
        |  GROUP BY d.event_type, d.day, q_e6)
        |SELECT event_type, day, q_e6::BIGINT AS q_e6, n,
        |  (q_e6 * n >= rank_lt * 1000000 - n * 50000
        |   AND q_e6 * n <= rank_le * 1000000 + n * 50000)::INT
        |    AS within_rank_5pct
        |FROM r WHERE n >= 32 ORDER BY event_type, day, q_e6""".stripMargin,

    "stat_cuped_ab_effect" ->
      """WITH daily AS (
        |  SELECT user_id, ts::DATE AS d,
        |         sum(floor(value * 100 + 0.5)::BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |d0 AS (SELECT min(d) AS d0 FROM daily),
        |pu AS (
        |  SELECT user_id,
        |    coalesce(sum(CASE WHEN d - d0 < 15 THEN c END), 0)::BIGINT AS x,
        |    coalesce(sum(CASE WHEN NOT (d - d0 < 15) THEN c END), 0)::BIGINT AS y
        |  FROM daily CROSS JOIN d0 GROUP BY user_id),
        |pa AS (
        |  SELECT user_id, x, y,
        |    ('0x' || substr(md5(user_id::VARCHAR || ':ab'), 1, 4))::BIGINT % 2 AS arm
        |  FROM pu),
        |st AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |    sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy,
        |    sum(y::HUGEINT * y) AS syy,
        |    sum((CASE WHEN arm = 0 THEN x ELSE 0 END)::HUGEINT) AS sx_a,
        |    sum((CASE WHEN arm = 1 THEN x ELSE 0 END)::HUGEINT) AS sx_b,
        |    sum((CASE WHEN arm = 0 THEN y ELSE 0 END)::HUGEINT) AS sy_a,
        |    sum((CASE WHEN arm = 1 THEN y ELSE 0 END)::HUGEINT) AS sy_b
        |  FROM pa)
        |SELECT n, n_a, n_b,
        |  ((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b))::BIGINT
        |    AS srm_chi2_e6,
        |  ((n_a - n_b) * (n_a - n_b) * 1000000 > 3841459 * (n_a + n_b))::INT
        |    AS srm_flag,
        |  round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE, 6)
        |    AS theta_r6,
        |  round(sy_a::DOUBLE / n_a - sy_b::DOUBLE / n_b, 6) AS effect_raw_r6,
        |  round((sy_a::DOUBLE / n_a -
        |         ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE) *
        |           (sx_a::DOUBLE / n_a - sx::DOUBLE / n)) -
        |        (sy_b::DOUBLE / n_b -
        |         ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE) *
        |           (sx_b::DOUBLE / n_b - sx::DOUBLE / n)), 6)
        |    AS effect_cuped_r6,
        |  round(((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE) /
        |        ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6)
        |    AS var_reduction_r6
        |FROM st""".stripMargin,

    // the CUPED tail per event_type stratum — HUGEINT statistics, same
    // double algebra as stat_cuped_ab_effect at the grouped grain
    "stat_cupac_stratified" -> (cupacStratifiedSql + "\nORDER BY event_type"),

    // pooled readout: fixed-order fold over the event_type-sorted
    // stratum structs — the same 0.0-seeded left fold the Spark side
    // runs (list_reduce is in-order; 0.0 + t1 ≡ t1, so seeded and
    // unseeded folds agree)
    "stat_cupac_pooled" ->
      s"""WITH strata AS (
         |$cupacStratifiedSql
         |),
         |l AS (SELECT count(*)::BIGINT AS n_strata, sum(n)::BIGINT AS n_total,
         |        max(effect_cuped_r6) - min(effect_cuped_r6) AS span,
         |        list(struct_pack(n := n, er := effect_raw_r6,
         |                         ec := effect_cuped_r6)
         |             ORDER BY event_type) AS lst
         |      FROM strata)
         |SELECT n_strata, n_total,
         |  round(list_reduce(list_transform(lst, x -> x.n * x.er),
         |        (a, b) -> a + b) / n_total, 6) AS effect_raw_pooled_r6,
         |  round(list_reduce(list_transform(lst, x -> x.n * x.ec),
         |        (a, b) -> a + b) / n_total, 6) AS effect_cupac_pooled_r6,
         |  round(span, 6) AS effect_span_r6
         |FROM l""".stripMargin,

    "stat_cusum_shift" ->
      """WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS n
        |  FROM events GROUP BY day),
        |tot AS (SELECT count(*)::BIGINT AS d_days, sum(n)::BIGINT AS t_total
        |  FROM daily),
        |sc AS (SELECT day, n, n * d_days - t_total AS c
        |  FROM daily CROSS JOIN tot),
        |cum0 AS (SELECT day, n,
        |    sum(c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW)::BIGINT AS cum
        |  FROM sc),
        |cm AS (SELECT day, n, cum,
        |    coalesce(min(cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS prior_min,
        |    coalesce(max(cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0)::BIGINT AS prior_max
        |  FROM cum0)
        |SELECT day, n,
        |  greatest(0, cum - least(0, prior_min))::BIGINT AS cusum_pos_scaled,
        |  greatest(0, greatest(0, prior_max) - cum)::BIGINT AS cusum_neg_scaled
        |FROM cm ORDER BY day""".stripMargin,

    "stat_randomization_test" ->
      """WITH ev AS (SELECT event_type, event_id,
        |    floor(value * 100 + 0.5)::BIGINT AS cents FROM events),
        |obs AS (SELECT event_type,
        |    sum(CASE WHEN event_id % 2 = 0 THEN cents ELSE 0 END)::BIGINT AS s1,
        |    sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN event_id % 2 = 1 THEN cents ELSE 0 END)::BIGINT AS s2,
        |    sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n2
        |  FROM ev GROUP BY event_type),
        |obc AS (SELECT event_type, n1, n2,
        |    abs(s1 * n2 - s2 * n1)::BIGINT AS a_obs,
        |    (n1 * n2)::BIGINT AS d_obs FROM obs),
        |pe AS (SELECT event_type, b, cents, event_id,
        |    ('0x' || __FRAG__)::BIGINT % 2 AS flip
        |  FROM (SELECT ev.*, md5(event_id::VARCHAR || ':p0') AS h0,
        |               md5(event_id::VARCHAR || ':p1') AS h1 FROM ev)
        |  CROSS JOIN (SELECT unnest(range(16)) AS b)),
        |pg AS (SELECT event_type, b,
        |    sum(CASE WHEN (event_id + flip) % 2 = 0 THEN cents ELSE 0 END)::BIGINT AS s1,
        |    sum(CASE WHEN (event_id + flip) % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN (event_id + flip) % 2 = 1 THEN cents ELSE 0 END)::BIGINT AS s2,
        |    sum(CASE WHEN (event_id + flip) % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n2
        |  FROM pe GROUP BY event_type, b),
        |pc AS (SELECT event_type,
        |    abs(s1 * n2 - s2 * n1)::BIGINT AS a_b, (n1 * n2)::BIGINT AS d_b
        |  FROM pg WHERE n1 > 0 AND n2 > 0)
        |SELECT o.event_type, o.n1, o.n2,
        |  sum(CASE WHEN a_b::DECIMAL(19,0) * d_obs::DECIMAL(19,0)
        |             >= a_obs::DECIMAL(19,0) * d_b::DECIMAL(19,0)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_extreme,
        |  ((sum(CASE WHEN a_b::DECIMAL(19,0) * d_obs::DECIMAL(19,0)
        |              >= a_obs::DECIMAL(19,0) * d_b::DECIMAL(19,0)
        |       THEN 1 ELSE 0 END) * 1000000) // 16)::BIGINT AS p_e6
        |FROM pc JOIN obc o USING (event_type)
        |GROUP BY o.event_type, o.n1, o.n2
        |ORDER BY o.event_type""".stripMargin
        .replace("__FRAG__", replicaDrawHexSql),

    "stat_poisson_bootstrap_ci" ->
      """WITH ev AS (SELECT event_type, event_id,
        |    floor(value * 100 + 0.5)::BIGINT AS cents FROM events),
        |reps AS (SELECT event_type, cents, b,
        |    (('0x' || __FRAG__)::BIGINT)::DOUBLE / 65536.0 AS u
        |  FROM (SELECT ev.*, md5(event_id::VARCHAR || ':p0') AS h0,
        |               md5(event_id::VARCHAR || ':p1') AS h1 FROM ev)
        |  CROSS JOIN (SELECT unnest(range(16)) AS b)),
        |ww AS (SELECT event_type, cents, b,
        |    (CASE WHEN u < 0.36787944117144233 THEN 0
        |          WHEN u < 0.7357588823428847 THEN 1
        |          WHEN u < 0.9196986029286058 THEN 2
        |          WHEN u < 0.9810118431238462 THEN 3
        |          WHEN u < 0.9963401531726563 THEN 4
        |          WHEN u < 0.9994058151824183 THEN 5
        |          WHEN u < 0.9999167588507119 THEN 6
        |          WHEN u < 0.9999897508637437 THEN 7
        |          ELSE 8 END)::BIGINT AS w FROM reps),
        |m AS (SELECT event_type, b, (sum(w * cents) // sum(w))::BIGINT AS mean_c
        |  FROM ww GROUP BY event_type, b HAVING sum(w) > 0),
        |r AS (SELECT event_type, mean_c, row_number() OVER (
        |    PARTITION BY event_type ORDER BY mean_c, b) AS rn FROM m),
        |f AS (SELECT event_type, count(*)::BIGINT AS n_events,
        |    (sum(cents) // count(*))::BIGINT AS mean_c FROM ev GROUP BY event_type)
        |SELECT f.event_type, f.n_events, f.mean_c,
        |  lo.mean_c AS ci_lo_c, hi.mean_c AS ci_hi_c
        |FROM f
        |JOIN (SELECT event_type, mean_c FROM r WHERE rn = 2) lo USING (event_type)
        |JOIN (SELECT event_type, mean_c FROM r WHERE rn = 15) hi USING (event_type)
        |ORDER BY f.event_type""".stripMargin
        .replace("__FRAG__", replicaDrawHexSql),

    // runs test: integer sign sequence, nested floor-div moments
    "stat_runs_test" ->
      """WITH e AS (SELECT event_type, ts, event_id,
        |    floor(value * 100 + 0.5)::BIGINT AS cents FROM events),
        |t AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(cents)::BIGINT AS s FROM e GROUP BY 1),
        |sg AS (SELECT e.event_type, t.n,
        |    (CASE WHEN e.cents * t.n > t.s THEN 1 ELSE 0 END)::BIGINT
        |      AS sign, ts, event_id
        |  FROM e JOIN t USING (event_type)),
        |ch AS (SELECT event_type, n, sign,
        |    lag(sign) OVER (PARTITION BY event_type ORDER BY ts, event_id)
        |      AS prev
        |  FROM sg),
        |a AS (SELECT event_type, max(n)::BIGINT AS n,
        |    sum(CASE WHEN prev IS NULL OR prev <> sign THEN 1 ELSE 0 END)
        |      ::BIGINT AS runs,
        |    sum(sign)::BIGINT AS n_above
        |  FROM ch GROUP BY 1),
        |m AS (SELECT event_type, n, runs, n_above, (n - n_above) AS n_below,
        |    ((2 * n_above * (n - n_above) * 1000000) // n + 1000000)::BIGINT
        |      AS mu_e6,
        |    ((((2 * n_above * (n - n_above)) // n) *
        |      ((2 * n_above * (n - n_above) - n) // (n - 1)) * 1000000)
        |      // n)::BIGINT AS var_e6
        |  FROM a),
        |z AS (SELECT *, (runs * 1000000 - mu_e6)::BIGINT AS dev_e6 FROM m)
        |SELECT event_type, n, runs, n_above, n_below, mu_e6,
        |  (CASE WHEN var_e6 // 1000000 <= 0 THEN 0 ELSE
        |    (CASE WHEN dev_e6 < 0 THEN -1 ELSE 1 END) *
        |    (((abs(dev_e6) // 1000) * (abs(dev_e6) // 1000))
        |      // (var_e6 // 1000000)) END)::BIGINT AS z2_signed_e6
        |FROM z ORDER BY event_type""".stripMargin,

    // Spearman per lang, tie-broken ranks, nested floor-div rational
    "stat_spearman_bylang" ->
      """WITH d AS (SELECT lang, doc_id, n_chars,
        |    len(string_split(text, ' '))::BIGINT AS n_toks
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |      ::BIGINT AS rx,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_toks, doc_id)
        |      ::BIGINT AS ry
        |  FROM d),
        |a AS (SELECT lang, count(*)::BIGINT AS n,
        |    sum((rx - ry) * (rx - ry))::BIGINT AS sum_d2
        |  FROM r GROUP BY lang HAVING count(*) > 1)
        |SELECT lang, n, sum_d2,
        |  (1000000 - (((6 * sum_d2 * 1000) // (n * (n + 1))) * 1000)
        |    // (n - 1))::BIGINT AS rho_e6
        |FROM a ORDER BY lang""".stripMargin,

    "a_kmv_set_ops" ->
      """WITH h AS (SELECT DISTINCT source,
        |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
        |sk AS (SELECT source, list(h ORDER BY h) AS sk
        |  FROM r WHERE rn <= 24 GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |    a.sk AS ska, b.sk AS skb
        |  FROM sk a JOIN sk b ON a.source < b.source),
        |mgx AS (SELECT src_a, src_b, ska, skb,
        |    list_sort(list_distinct(ska || skb))[1:24] AS mg FROM p),
        |st AS (SELECT src_a, src_b,
        |    len(mg)::BIGINT AS msz, mg[len(mg)] AS tau,
        |    len(list_filter(mg, x -> list_contains(ska, x)
        |      AND list_contains(skb, x)))::BIGINT AS m
        |  FROM mgx)
        |SELECT src_a, src_b, m AS n_common_in_sketch,
        |  (CASE WHEN msz < 24 THEN msz
        |    ELSE (23 * 4294967296) // tau END)::BIGINT AS est_union,
        |  (CASE WHEN msz < 24 THEN m
        |    ELSE (m * ((23 * 4294967296) // tau)) // 24 END)::BIGINT
        |    AS est_intersection
        |FROM st ORDER BY src_a, src_b""".stripMargin,

    "stat_psi_value_drift" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS us,
        |    floor(value * 100 + 0.5)::BIGINT AS v FROM events),
        |cut AS (SELECT ((min(us) + max(us)) // 2)::BIGINT AS cut FROM ev),
        |tg AS (SELECT event_type, v,
        |    CASE WHEN us < cut THEN 0 ELSE 1 END AS half
        |  FROM ev CROSS JOIN cut),
        |h AS (SELECT event_type, v, count(*)::BIGINT AS n FROM tg
        |  WHERE half = 0 GROUP BY 1, 2),
        |cw AS (SELECT event_type, v, n,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |    sum(n) OVER (PARTITION BY event_type) AS total FROM h),
        |th AS (SELECT event_type,
        |    min(CASE WHEN 100*cum >= total*10 THEN v END)::BIGINT AS t1,
        |    min(CASE WHEN 100*cum >= total*20 THEN v END)::BIGINT AS t2,
        |    min(CASE WHEN 100*cum >= total*30 THEN v END)::BIGINT AS t3,
        |    min(CASE WHEN 100*cum >= total*40 THEN v END)::BIGINT AS t4,
        |    min(CASE WHEN 100*cum >= total*50 THEN v END)::BIGINT AS t5,
        |    min(CASE WHEN 100*cum >= total*60 THEN v END)::BIGINT AS t6,
        |    min(CASE WHEN 100*cum >= total*70 THEN v END)::BIGINT AS t7,
        |    min(CASE WHEN 100*cum >= total*80 THEN v END)::BIGINT AS t8,
        |    min(CASE WHEN 100*cum >= total*90 THEN v END)::BIGINT AS t9
        |  FROM cw GROUP BY event_type),
        |b AS (SELECT tg.event_type, tg.half,
        |    ((v > t1)::INT + (v > t2)::INT + (v > t3)::INT + (v > t4)::INT +
        |     (v > t5)::INT + (v > t6)::INT + (v > t7)::INT + (v > t8)::INT +
        |     (v > t9)::INT) AS bin
        |  FROM tg JOIN th USING (event_type)),
        |cnt AS (SELECT event_type, half, bin, count(*)::BIGINT AS c
        |  FROM b GROUP BY 1, 2, 3),
        |spine AS (SELECT event_type, bin FROM th
        |  CROSS JOIN (SELECT unnest(range(0, 10))::INT AS bin)),
        |nrc AS (SELECT event_type,
        |    sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS nr,
        |    sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS nc
        |  FROM tg GROUP BY event_type),
        |j AS (SELECT s.event_type, s.bin,
        |    coalesce(r.c, 0) AS cr, coalesce(u.c, 0) AS cc, nr, nc
        |  FROM spine s
        |  LEFT JOIN cnt r ON r.event_type = s.event_type
        |    AND r.bin = s.bin AND r.half = 0
        |  LEFT JOIN cnt u ON u.event_type = s.event_type
        |    AND u.bin = s.bin AND u.half = 1
        |  JOIN nrc ON nrc.event_type = s.event_type),
        |t AS (SELECT event_type, nr, nc,
        |    floor(((cr + 1)::DOUBLE / (nr + 10)::DOUBLE -
        |           (cc + 1)::DOUBLE / (nc + 10)::DOUBLE) *
        |      ln(((cr + 1)::DOUBLE / (nr + 10)::DOUBLE) /
        |         ((cc + 1)::DOUBLE / (nc + 10)::DOUBLE)) * 1e9 + 0.5)::BIGINT
        |      AS term_e9
        |  FROM j)
        |SELECT event_type, max(nr)::BIGINT AS n_ref, max(nc)::BIGINT AS n_cur,
        |  round(sum(term_e9) / 1e9, 6) AS psi
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a_jackknife_ci" ->
      """WITH p AS (SELECT floor(value * 100 + 0.5)::BIGINT AS c,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 10 AS bkt
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT bkt, count(*)::BIGINT AS n, sum(c)::BIGINT AS s
        |  FROM p GROUP BY bkt),
        |t AS (SELECT sum(n)::BIGINT AS nt, sum(s)::BIGINT AS st,
        |    count(*)::BIGINT AS g FROM b),
        |loo AS (SELECT ((st - s) * 1000000 // (nt - n))::BIGINT AS m_e6
        |  FROM b CROSS JOIN t),
        |mb AS (SELECT (sum(m_e6) // max(g))::BIGINT AS mbar_e6
        |  FROM loo CROSS JOIN t),
        |ss AS (SELECT sum((m_e6 - mbar_e6) * (m_e6 - mbar_e6))::BIGINT AS ssq_e12
        |  FROM loo CROSS JOIN mb)
        |SELECT nt AS n,
        |  round(st::DOUBLE / nt / 100.0, 6) AS mean,
        |  round(sqrt(((g - 1)::DOUBLE / g) * (ssq_e12 / 1e12)) / 100.0, 6)
        |    AS se_jack,
        |  round(round(st::DOUBLE / nt / 100.0, 6) -
        |    2 * round(sqrt(((g - 1)::DOUBLE / g) * (ssq_e12 / 1e12)) / 100.0, 6),
        |    6) AS ci_lo,
        |  round(round(st::DOUBLE / nt / 100.0, 6) +
        |    2 * round(sqrt(((g - 1)::DOUBLE / g) * (ssq_e12 / 1e12)) / 100.0, 6),
        |    6) AS ci_hi
        |FROM t CROSS JOIN ss""".stripMargin,

    "a_weighted_hist_quantile" ->
      """WITH d AS (SELECT source, n_chars,
        |    len(string_split(text, ' '))::BIGINT AS w
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT source, n_chars AS v, sum(w)::BIGINT AS n
        |  FROM d GROUP BY 1, 2),
        |c AS (SELECT source, v, n,
        |    sum(n) OVER (PARTITION BY source ORDER BY v) AS cum,
        |    sum(n) OVER (PARTITION BY source) AS total FROM h)
        |SELECT source, max(total)::BIGINT AS total_tokens,
        |  min(CASE WHEN 100*cum >= total*25 THEN v END)::BIGINT AS p25_chars,
        |  min(CASE WHEN 100*cum >= total*50 THEN v END)::BIGINT AS p50_chars,
        |  min(CASE WHEN 100*cum >= total*75 THEN v END)::BIGINT AS p75_chars,
        |  min(CASE WHEN 100*cum >= total*90 THEN v END)::BIGINT AS p90_chars
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "a_weighted_quantile" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    len(string_split(text, ' '))::BIGINT AS w
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT n_chars, w,
        |    sum(w) OVER (ORDER BY n_chars, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cw,
        |    sum(w) OVER ()::BIGINT AS tw FROM d)
        |SELECT max(tw)::BIGINT AS total_w, count(*)::BIGINT AS n_docs,
        |  min(CASE WHEN cw*4 >= tw THEN n_chars END)::BIGINT AS p25,
        |  min(CASE WHEN cw*2 >= tw THEN n_chars END)::BIGINT AS p50,
        |  min(CASE WHEN cw*4 >= tw*3 THEN n_chars END)::BIGINT AS p75,
        |  min(CASE WHEN cw*10 >= tw*9 THEN n_chars END)::BIGINT AS p90
        |FROM c""".stripMargin,

    "stat_welch_t_drift" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS n,
        |    sum(n_chars)::BIGINT AS s1,
        |    sum(n_chars*n_chars)::BIGINT AS s2
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(n)::BIGINT AS nt, sum(s1)::BIGINT AS t1,
        |    sum(s2)::BIGINT AS t2 FROM c)
        |SELECT source, n,
        |  round((s1::DOUBLE / n::DOUBLE - (t1 - s1)::DOUBLE / (nt - n)::DOUBLE) /
        |    sqrt(((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)
        |            / (n - 1)::DOUBLE) / n::DOUBLE +
        |         ((t2 - s2)::DOUBLE - (t1 - s1)::DOUBLE * (t1 - s1)::DOUBLE
        |            / (nt - n)::DOUBLE) / ((nt - n) - 1)::DOUBLE / (nt - n)::DOUBLE),
        |    6) AS t_stat
        |FROM c CROSS JOIN t WHERE n >= 2 AND nt - n >= 2
        |ORDER BY source""".stripMargin,

    "a_quantile_hist_merge" ->
      """WITH h AS (SELECT event_type AS g,
        |    floor(value * 100 + 0.5)::BIGINT AS v, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT g, v, n,
        |    sum(n) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(n) OVER (PARTITION BY g) AS total FROM h)
        |SELECT g AS event_type, max(total)::BIGINT AS n_rows,
        |  min(CASE WHEN 100*cum >= total*25 THEN v END)::BIGINT AS p25_cents,
        |  min(CASE WHEN 100*cum >= total*50 THEN v END)::BIGINT AS p50_cents,
        |  min(CASE WHEN 100*cum >= total*75 THEN v END)::BIGINT AS p75_cents,
        |  min(CASE WHEN 100*cum >= total*90 THEN v END)::BIGINT AS p90_cents
        |FROM c GROUP BY g ORDER BY event_type""".stripMargin,
    "prep_winsorize" ->
      """WITH d AS (SELECT lang, n_chars FROM documents WHERE n_chars IS NOT NULL),
        |h AS (SELECT lang, n_chars AS v, count(*) AS n FROM d GROUP BY 1, 2),
        |c AS (SELECT lang, v, n,
        |    sum(n) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |    sum(n) OVER (PARTITION BY lang) AS total FROM h),
        |t AS (SELECT lang,
        |    min(CASE WHEN 100*cum >= total*5 THEN v END) AS p05,
        |    min(CASE WHEN 100*cum >= total*95 THEN v END) AS p95
        |  FROM c GROUP BY lang)
        |SELECT d.lang, count(*)::BIGINT AS n_docs,
        |  sum(d.n_chars)::BIGINT AS sum_raw,
        |  sum(least(greatest(d.n_chars, t.p05), t.p95))::BIGINT AS sum_winsorized,
        |  max(least(greatest(d.n_chars, t.p05), t.p95))::BIGINT AS max_winsorized
        |FROM d JOIN t ON d.lang = t.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "a_simpson_diversity" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS ni
        |  FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, sum(ni) AS n_events,
        |    sum(ni * (ni - 1)) AS same_pairs FROM c GROUP BY user_id)
        |SELECT user_id, n_events::BIGINT AS n_events,
        |  round(1.0 - same_pairs::DOUBLE /
        |    (n_events * (n_events - 1))::DOUBLE, 6) AS simpson
        |FROM u WHERE n_events > 1 ORDER BY user_id""".stripMargin,
    "w_rolling_median" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |    floor(value * 100 + 0.5)::BIGINT AS c FROM events)
        |SELECT event_id, user_id,
        |  quantile_cont(c, 0.5) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
        |    AS med_cents
        |FROM e ORDER BY event_id""".stripMargin,
    "a_key_skew_profile" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, x, row_number() OVER (
        |    PARTITION BY event_type ORDER BY x, user_id) AS r FROM c),
        |g AS (SELECT event_type, count(*) AS n_keys, sum(x) AS n_rows,
        |    max(x) AS max_key_rows, sum(r * x) AS rank_weighted
        |  FROM r GROUP BY event_type)
        |SELECT event_type, n_keys::BIGINT AS n_keys, n_rows::BIGINT AS n_rows,
        |  floor(1000000 * max_key_rows / n_rows + 0.5)::BIGINT AS top1_share_e6,
        |  round(2.0 * rank_weighted::DOUBLE / (n_keys * n_rows)::DOUBLE -
        |        (n_keys + 1)::DOUBLE / n_keys::DOUBLE, 6) AS gini
        |FROM g ORDER BY event_type""".stripMargin,
    "a_rfm_scores" ->
      """WITH per AS (SELECT user_id, max(ts) AS last_ts, count(*) AS n_events,
        |    sum(floor(value * 100 + 0.5)::BIGINT) AS cents
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events::BIGINT AS n_events, cents::BIGINT AS cents,
        |  ntile(5) OVER (ORDER BY last_ts DESC, user_id)::BIGINT AS r,
        |  ntile(5) OVER (ORDER BY n_events DESC, user_id)::BIGINT AS f,
        |  ntile(5) OVER (ORDER BY cents DESC, user_id)::BIGINT AS m,
        |  (ntile(5) OVER (ORDER BY last_ts DESC, user_id) * 100 +
        |   ntile(5) OVER (ORDER BY n_events DESC, user_id) * 10 +
        |   ntile(5) OVER (ORDER BY cents DESC, user_id))::BIGINT AS rfm
        |FROM per ORDER BY user_id""".stripMargin,
    "w_streak_longest" ->
      """WITH daily AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |g AS (SELECT user_id, day,
        |    (day - DATE '1970-01-01') -
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM daily),
        |s AS (SELECT user_id, grp, count(*) AS streak FROM g
        |  GROUP BY user_id, grp),
        |l AS (SELECT user_id, max(streak) AS longest FROM s GROUP BY user_id)
        |SELECT longest::BIGINT AS streak_len, count(*)::BIGINT AS n_users
        |FROM l GROUP BY longest ORDER BY streak_len""".stripMargin,
    "a_hll_cardinality" ->
      """WITH h AS (SELECT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS v
        |  FROM events),
        |b AS (SELECT event_type, v & 63 AS r, v >> 6 AS w FROM h),
        |regs AS (SELECT event_type, r,
        |    max(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS m
        |  FROM b GROUP BY 1, 2),
        |agg AS (SELECT event_type, count(*) AS v_regs,
        |    sum(pow(2.0, -m)) AS s_occ FROM regs GROUP BY 1),
        |raw AS (SELECT event_type, v_regs,
        |    0.709 * 64 * 64 / (s_occ + (64 - v_regs)) AS raw FROM agg),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        |  FROM events GROUP BY 1)
        |SELECT r.event_type, v_regs::BIGINT AS v_regs,
        |  round(CASE WHEN raw <= 160 AND v_regs < 64
        |    THEN 64.0 * ln(64.0 / (64 - v_regs)) ELSE raw END, 2) AS hll_est,
        |  exact_distinct::BIGINT AS exact_distinct
        |FROM raw r JOIN ex USING (event_type) ORDER BY event_type""".stripMargin,
    // DuckDB dayofweek is Sunday=0..6; Spark's is Sunday=1..7 → +1
    "a_regr_plane" ->
      """WITH e AS (SELECT event_type, hour(ts)::BIGINT AS x1,
        |    (dayofweek(ts) + 1)::BIGINT AS x2,
        |    floor(value * 100 + 0.5)::BIGINT AS y FROM events),
        |m AS (SELECT event_type, count(*)::HUGEINT AS n,
        |    sum(x1)::HUGEINT AS s1, sum(x2)::HUGEINT AS s2,
        |    sum(y)::HUGEINT AS sy, sum(x1*x1)::HUGEINT AS s11,
        |    sum(x1*x2)::HUGEINT AS s12, sum(x2*x2)::HUGEINT AS s22,
        |    sum(x1*y)::HUGEINT AS s1y, sum(x2*y)::HUGEINT AS s2y
        |  FROM e GROUP BY event_type),
        |d AS (SELECT event_type, n::BIGINT AS n,
        |    (n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2)) AS dd,
        |    (sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y)) AS d0,
        |    (n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2)) AS d1,
        |    (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2)) AS d2
        |  FROM m)
        |SELECT event_type, n,
        |  round(d0::DOUBLE / dd::DOUBLE, 6) AS b0_cents,
        |  round(d1::DOUBLE / dd::DOUBLE, 6) AS b1_per_hour,
        |  round(d2::DOUBLE / dd::DOUBLE, 6) AS b2_per_dow
        |FROM d ORDER BY event_type""".stripMargin,
    // DuckDB dayofweek is Sunday=0..6; Spark's is Sunday=1..7 → +1
    "a_chi2_independence" ->
      """WITH cells AS (SELECT event_type, (dayofweek(ts) + 1)::BIGINT AS dow,
        |    count(*) AS o FROM events GROUP BY event_type, dow),
        |rm AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY event_type),
        |cm AS (SELECT dow, sum(o) AS c FROM cells GROUP BY dow),
        |nn AS (SELECT sum(o) AS n, count(DISTINCT event_type) AS n_types,
        |    count(DISTINCT dow) AS n_dows FROM cells),
        |k AS (SELECT (o * n - r * c)::DOUBLE AS d, n::DOUBLE * r * c AS den,
        |    n, n_types, n_dows
        |  FROM cells JOIN rm USING (event_type) JOIN cm USING (dow)
        |  CROSS JOIN nn),
        |s AS (SELECT max(n) AS n, max(n_types) AS n_types,
        |    max(n_dows) AS n_dows,
        |    sum(floor(d * d / den * 1000000 + 0.5)::BIGINT) AS chi2_e6
        |  FROM k)
        |SELECT n::BIGINT AS n_rows, n_types::BIGINT AS n_types,
        |  n_dows::BIGINT AS n_dows,
        |  ((n_types - 1) * (n_dows - 1))::BIGINT AS df,
        |  round(chi2_e6 / 1000000.0, 4) AS chi2
        |FROM s""".stripMargin,

    "stat_ks_source_drift" ->
      """WITH c AS (SELECT source, n_chars AS v, count(*)::BIGINT AS c
        |  FROM documents GROUP BY source, v),
        |srcs AS (SELECT source, sum(c)::BIGINT AS n_s FROM c GROUP BY source),
        |vals AS (SELECT DISTINCT v FROM c),
        |tot AS (SELECT v, sum(cv) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_all
        |  FROM (SELECT v, sum(c)::BIGINT AS cv FROM c GROUP BY v)),
        |nt AS (SELECT sum(c)::BIGINT AS n_total FROM c),
        |grid AS (SELECT s.source, s.n_s, vv.v, coalesce(c.c, 0)::BIGINT AS cc
        |  FROM srcs s CROSS JOIN vals vv
        |  LEFT JOIN c ON c.source = s.source AND c.v = vv.v),
        |cum AS (SELECT source, n_s, v,
        |    sum(cc) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_s
        |  FROM grid),
        |d AS (SELECT source, n_s, n_total,
        |    abs(cum_s * (n_total - n_s) - (cum_all - cum_s) * n_s) AS dnum
        |  FROM cum JOIN tot USING (v) CROSS JOIN nt)
        |SELECT source, max(n_s)::BIGINT AS n, max(dnum)::BIGINT AS d_num,
        |  round(max(dnum)::DOUBLE /
        |        (max(n_s) * (max(n_total) - max(n_s)))::DOUBLE, 6) AS ks
        |FROM d GROUP BY source
        |HAVING max(n_s) < max(n_total) ORDER BY source""".stripMargin,

    "a_value_decile_profile" ->
      """WITH ev AS (SELECT event_type,
        |    floor(value * 100 + 0.5)::BIGINT AS v FROM events),
        |mm AS (SELECT event_type, min(v) AS mn, max(v) AS mx,
        |    count(*)::BIGINT AS nt FROM ev GROUP BY event_type
        |  HAVING max(v) > min(v)),
        |d AS (SELECT ev.event_type,
        |    least((ev.v - mm.mn) * 10 // (mm.mx - mm.mn), 9)::BIGINT
        |      AS decile, mm.nt
        |  FROM ev JOIN mm USING (event_type))
        |SELECT event_type, decile, count(*)::BIGINT AS n,
        |  (count(*) * 1000000 // max(nt))::BIGINT AS share_e6
        |FROM d GROUP BY event_type, decile
        |ORDER BY event_type, decile""".stripMargin,

    "stat_mannwhitney_drift" ->
      """WITH c AS (SELECT source, n_chars AS v, count(*)::BIGINT AS c
        |  FROM documents GROUP BY source, v),
        |tv AS (SELECT v, sum(c)::BIGINT AS cv FROM c GROUP BY v),
        |t AS (SELECT v, cv,
        |    coalesce(sum(cv) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS cumb FROM tv),
        |r AS (SELECT v, 2 * cumb + cv + 1 AS r2 FROM t),
        |nt AS (SELECT sum(c)::BIGINT AS nt FROM c),
        |g AS (SELECT source, sum(c)::BIGINT AS n,
        |    sum(c * r2)::BIGINT AS rsum2
        |  FROM c JOIN r USING (v) GROUP BY source)
        |SELECT source, n, (rsum2 - n * (n + 1))::BIGINT AS u2,
        |  ((rsum2 - n * (n + 1)) * 1000000 // (2 * n * (nt - n)))::BIGINT
        |    AS auc_e6
        |FROM g CROSS JOIN nt WHERE n < nt ORDER BY source""".stripMargin,

    "stat_benford_first_digit" ->
      """WITH d AS (SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)
        |    ::BIGINT AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |b AS (SELECT digit, count(*)::BIGINT AS n_obs FROM d GROUP BY digit),
        |t AS (SELECT sum(n_obs)::BIGINT AS n_total FROM b)
        |SELECT digit, n_obs, n_obs * 1000000 // n_total AS obs_e6,
        |  (CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091
        |    WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181
        |    WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152
        |    ELSE 45757 END)::BIGINT AS exp_e6,
        |  abs(n_obs * 1000000 // n_total -
        |    CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091
        |      WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181
        |      WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152
        |      ELSE 45757 END)::BIGINT AS dev_e6
        |FROM b CROSS JOIN t ORDER BY digit""".stripMargin
  )
}
