package graft.operators

import graft.Tables
import graft.api.Pins.PinSyntax
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational-surface extensions, round 7: higher-order array functions,
  * explicit null semantics, and correlated LATERAL subqueries.
  *
  * Why these matter for the engine: the reference's pipeline does all of
  * its per-vector math in Python loops (`embedding_engine.py:60-75`) and
  * all of its null handling implicitly via Python `None` checks scattered
  * through `main.py`; here both are declarative column expressions that
  * stay inside whole-stage codegen — no UDF boundary, no serialization.
  * The LATERAL form matters at scale for a different reason: "top-k rows
  * of the fact side for each dim row" written naively is a per-row driver
  * loop (the reference's shape); as a correlated LATERAL subquery
  * Catalyst decorrelates it into one window + one broadcast join — the
  * per-dim-row loop vanishes into a single distributed pass (plan
  * asserted in RelationalExtOpsSpec, captured in PLANS.md).
  */
object RelationalExtOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Higher-order array-function family over the embedding column —
    // filter/exists/aggregate/sort_array/slice/zip_with/reverse in one
    // codegen'd projection. Everything is map-side: zero shuffles, zero
    // UDFs; at 100 TB this is a pure scan-throughput operator. Doubles
    // rounded 6dp; the l2sq≡1.0 column doubles as a unit-normalization
    // audit of the embeddings table.
    "c_hof_array" -> ((s, dir) => {
      val v = col("embedding").cast("array<double>")
      Tables.embeddings(s, dir)
        .select(
          col("vec_id"),
          size(filter(v, x => x > lit(0.0))).cast("long").as("n_pos"),
          exists(v, x => abs(x) > lit(0.25)).as("has_large"),
          round(aggregate(v, lit(0.0), (a, x) => a + x * x), 6).as("l2sq"),
          round(array_max(v) - array_min(v), 6).as("span"),
          round(aggregate(slice(sort_array(v, asc = false), 1, 3),
                          lit(0.0), (a, x) => a + x), 6).as("top3_sum"),
          round(element_at(zip_with(v, reverse(v), (a, b) => a + b), 1), 6)
            .as("ends_sum"))
        .orderBy(col("vec_id"))
    }),

    // Null-semantics family: nullif / coalesce / null-safe equality
    // (<=>) / IS DISTINCT FROM, over a derived nullable column with an
    // exact integer domain so every engine agrees bit-for-bit. The
    // three-valued-logic distinctions exercised here (count over a
    // nullable expression vs count(*), <=> vs =) are precisely the ones
    // that silently change row counts when a pipeline's quality columns
    // go null at scale.
    "c_null_semantics" -> ((s, dir) => {
      val bucket = floor(col("value")).cast("long")
      val nv = nullif(bucket % lit(5L), lit(0L))
      Tables.events(s, dir)
        .select(col("event_type"), bucket.as("bucket"), nv.as("nv"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          count(when(col("nv").isNull, 1)).as("n_null"),
          count(when(col("nv") <=> lit(2L), 1)).as("n_nullsafe_eq_two"),
          count(when(!(col("nv") <=> lit(2L)), 1)).as("n_distinct_from_two"),
          sum(coalesce(col("nv"), lit(-1L))).as("sum_coalesced"))
        .orderBy(col("event_type"))
    }),

    // Datetime scalar family: truncation grains, calendar arithmetic
    // (add_months / last_day), and ISO day-of-week — the surface every
    // partition-by-date pipeline leans on. Engines disagree on raw
    // dayofweek numbering (Spark: Sun=1; DuckDB dow: Sun=0), so the
    // ISO form is DERIVED identically on both sides rather than
    // trusting a builtin. Aggregated to a per-month census so the
    // correctness check covers every function while the result stays
    // |months| rows. All map-side; the groupBy key count is bounded by
    // the calendar, not the data.
    "c_datetime_family" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select(
          date_trunc("month", col("ts")).cast("date").as("month"),
          date_trunc("quarter", col("ts")).cast("date").as("quarter"),
          to_date(col("ts")).as("day"),
          ((dayofweek(col("ts")) + 5) % 7 + 1).as("iso_dow"))
        .groupBy(col("month"))
        .agg(max(col("quarter")).as("quarter"),
             add_months(max(col("month")), 1).as("next_month"),
             last_day(max(col("month"))).as("month_end"),
             count(lit(1)).as("n_events"),
             countDistinct(col("day")).as("n_active_days"),
             sum(col("iso_dow")).as("sum_iso_dow"))
        .orderBy(col("month"))
    }),

    // Correlated LATERAL top-k: the two highest-balance customers of
    // every nation, written as the SQL a warehouse user would write.
    // Catalyst decorrelates the LIMIT'd correlated subquery into a
    // row_number window partitioned by the correlation key + a broadcast
    // join of the dim — i.e. the hand-optimized w2_topn_per_group plan
    // falls out of the naive SQL. Ties broken by c_custkey for a total
    // order.
    "j_lateral_topk" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_lat")
      Tables.nation(s, dir).createOrReplaceTempView("nation_lat")
      s.sql(
        """SELECT n_name, c_name, c_acctbal
          |FROM nation_lat JOIN LATERAL (
          |  SELECT c_name, c_acctbal FROM customer_lat
          |  WHERE c_nationkey = n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
          |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin)
    }),

    // Band join |price_a − price_b| ≤ δ rewritten as a BUCKETED
    // EQUI-JOIN — the standard trick for making an inequality join
    // shuffle-partitionable: bucket each price by δ (50 integer
    // cents), explode ONE side to its bucket ±1, equi-join on the
    // bucket, then apply the exact band predicate. Every qualifying
    // pair meets in exactly one bucket (the probe row's own), so no
    // dedup pass is needed. Naively this join is a cartesian range
    // scan (Catalyst falls back to BNLJ for pure inequality
    // predicates); bucketed, it's a hash shuffle on ~|rows|·3 keys
    // with per-bucket fan-in bounded by the value-density of δ —
    // the plan that survives 100 TB. Census output: per brand pair,
    // match count + the tightest/widest in-band gap.
    "j_value_band_join" -> ((s, dir) => {
      val delta = 50L // integer cents
      // PINNED (r15 opt, guide §2.4): both band-join sides derive from
      // this projection; un-pinned, the AQE-broadcast side replayed the
      // part scan (4 scans in the before-plan). One narrow checkpoint.
      val p = Tables.part(s, dir).select(col("p_partkey").as("pk"),
        col("p_brand").as("brand"),
        floor(col("p_retailprice") * 100 + 0.5).cast("long").as("cents"))
        .pin(eager = false)
      val a = p.withColumn("bkt", expr(s"cents div $delta"))
      val b = p.select(col("pk").as("pk2"), col("brand").as("brand2"),
          col("cents").as("cents2"))
        .withColumn("bkt", explode(array(
          expr(s"cents2 div $delta - 1"), expr(s"cents2 div $delta"),
          expr(s"cents2 div $delta + 1"))))
      a.join(b, Seq("bkt"))
        // each qualifying pair meets exactly once: the join key is the
        // UNEXPLODED side's own bucket, which the exploded side emits once
        .filter(col("pk") < col("pk2") && col("brand") =!= col("brand2") &&
                abs(col("cents") - col("cents2")) <= delta)
        .select(least(col("brand"), col("brand2")).as("brand_lo"),
                greatest(col("brand"), col("brand2")).as("brand_hi"),
                abs(col("cents") - col("cents2")).as("gap"))
        .groupBy(col("brand_lo"), col("brand_hi"))
        .agg(count(lit(1)).as("n_pairs"), min(col("gap")).as("min_gap_c"),
             max(col("gap")).as("max_gap_c"))
        .orderBy(col("brand_lo"), col("brand_hi"))
    })
  )

  def oracles: Map[String, String] = Map(
    "c_hof_array" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id,
        |  len(list_filter(v, x -> x > 0))::BIGINT AS n_pos,
        |  (len(list_filter(v, x -> abs(x) > 0.25)) > 0) AS has_large,
        |  round(list_sum(list_transform(v, x -> x*x)), 6) AS l2sq,
        |  round(list_max(v) - list_min(v), 6) AS span,
        |  round(list_sum((list_sort(v, 'DESC'))[1:3]), 6) AS top3_sum,
        |  round(v[1] + v[len(v)], 6) AS ends_sum
        |FROM e ORDER BY vec_id""".stripMargin,
    "c_null_semantics" ->
      """WITH b AS (SELECT event_type, floor(value)::BIGINT AS bucket,
        |  nullif(floor(value)::BIGINT % 5, 0) AS nv FROM events)
        |SELECT event_type,
        |  count(*)::BIGINT AS n,
        |  count(*) FILTER (WHERE nv IS NULL)::BIGINT AS n_null,
        |  count(*) FILTER (WHERE nv IS NOT DISTINCT FROM 2)::BIGINT AS n_nullsafe_eq_two,
        |  count(*) FILTER (WHERE nv IS DISTINCT FROM 2)::BIGINT AS n_distinct_from_two,
        |  sum(coalesce(nv, -1))::BIGINT AS sum_coalesced
        |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin,
    "c_datetime_family" ->
      """WITH e AS (SELECT date_trunc('month', ts)::DATE AS month,
        |    date_trunc('quarter', ts)::DATE AS quarter, ts::DATE AS day,
        |    isodow(ts)::INT AS iso_dow FROM events)
        |SELECT month, max(quarter) AS quarter,
        |  (max(month) + INTERVAL 1 MONTH)::DATE AS next_month,
        |  last_day(max(month)) AS month_end,
        |  count(*)::BIGINT AS n_events,
        |  count(DISTINCT day)::BIGINT AS n_active_days,
        |  sum(iso_dow)::BIGINT AS sum_iso_dow
        |FROM e GROUP BY month ORDER BY month""".stripMargin,
    "j_lateral_topk" ->
      """SELECT n_name, c_name, c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin,
    "j_value_band_join" ->
      """WITH p AS (SELECT p_partkey AS pk, p_brand AS brand,
        |    floor(p_retailprice * 100 + 0.5)::BIGINT AS cents FROM part)
        |SELECT least(a.brand, b.brand) AS brand_lo,
        |  greatest(a.brand, b.brand) AS brand_hi,
        |  count(*)::BIGINT AS n_pairs,
        |  min(abs(a.cents - b.cents))::BIGINT AS min_gap_c,
        |  max(abs(a.cents - b.cents))::BIGINT AS max_gap_c
        |FROM p a JOIN p b ON a.pk < b.pk AND a.brand <> b.brand
        |  AND abs(a.cents - b.cents) <= 50
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
