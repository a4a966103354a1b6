package graft

import org.apache.spark.sql.functions._

/** Runnable proof of the SCALE.md claim "bucketing makes the fact⋈fact
  * join shuffle-free at the lake layer": lineitem and orders written
  * bucketed by orderkey into the same bucket count, read back through
  * the catalog, joined — the physical plan must contain NO Exchange on
  * the join keys (each bucket pair joins in place), while the same join
  * over plain parquet shuffles both sides. */
class BucketingSpec extends SparkSpec {

  test("co-bucketed fact tables join without any exchange") {
    import spark.implicits._
    val warehouse = tempDir("graft_buckets").toString
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val ord = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_orderpriority")

    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$warehouse/li_b").mode("overwrite").saveAsTable("li_b")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$warehouse/ord_b").mode("overwrite").saveAsTable("ord_b")
    try {
      // hint("merge"): at this toy SF orders fits a broadcast, which
      // would hide the property under test — at fact-table scale SMJ is
      // what the planner picks unaided
      val joined = spark.table("li_b").hint("merge")
        .join(spark.table("ord_b"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(sum($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(500))
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan.take(900))
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan.take(900))
      // sanity: same join over plain parquet DOES shuffle the fact sides
      val unbucketed = li.hint("merge").join(ord, $"l_orderkey" === $"o_orderkey")
        .queryExecution.executedPlan.toString
      assert(unbucketed.contains("Exchange hashpartitioning"), unbucketed.take(500))
      // and the result is identical either way
      val a = joined.collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100)))
      val b = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(sum($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev"))
        .collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 100)))
      assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
