package graft

import org.apache.spark.sql.functions._

/** Executable evidence for the SCALE.md layout claims: date-partitioned
  * writes prune at the directory level, and bucketed fact tables join
  * with no exchange. These run the real writers/readers — not plan
  * inspection alone — on temp copies of the testdata. */
class LayoutSpec extends SparkSpec {

  test("date-partitioned events: filters become PartitionFilters, directories prune") {
    val out = tempDir("graft_part", parent = "target").toString
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(out)

    val pruned = spark.read.parquet(out)
      .filter(col("day") === "2024-01-03")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan.take(500))
    // and the pruned read returns exactly that day's events
    val expected = Tables.events(spark, sf)
      .filter(to_date(col("ts")) === "2024-01-03").count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("bucketed orderkey tables: lineitem join orders with zero shuffle exchanges") {
    // warehouse.dir is a static conf — tables land in ./spark-warehouse
    // (gitignored) and are dropped at the end of the test
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables.lineitem(spark, sf).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")

    // at test scale orders would broadcast, which ignores bucketing —
    // force the sort-merge path the buckets exist for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice")), 2).as("rev"))
    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must not shuffle either side: the only exchange
    // allowed is the final tiny aggregation by priority
    val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"), plan.take(800))
    assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"), plan.take(800))
    // and it computes the right thing
    val viaBuckets = joined.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice")), 2).as("rev"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(viaBuckets == direct)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE li_b")
    spark.sql("DROP TABLE ord_b")
  }
}
