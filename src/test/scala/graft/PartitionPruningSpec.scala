package graft

import org.apache.spark.sql.functions._

/** Partition-layout proofs: at 100 TB the events lake is laid out
  * day-partitioned; a day predicate must prune directories (static
  * pruning) and a filtered dim join must prune fact partitions at
  * runtime (dynamic partition pruning) — asserted on real plans over a
  * real partitioned write, not claimed in prose. */
class PartitionPruningSpec extends SparkSpec {

  private lazy val dir = {
    val d = tempDir("graft_part").toString
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(d)
    d
  }

  test("static pruning: a day predicate reaches PartitionFilters and cuts the scan") {
    val all = spark.read.parquet(dir)
    val one = all.filter(col("day") === "2024-01-05")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan.take(800))
    // the pruned scan must touch a strict subset of the data
    val total = all.count()
    val pruned = one.count()
    assert(pruned > 0 && pruned < total)
  }

  test("dynamic partition pruning: a filtered dim join prunes fact partitions at runtime") {
    import spark.implicits._
    val fact = spark.read.parquet(dir)
    // the dim must be a SOURCE with a real selective filter — a
    // constant-folded LocalRelation doesn't qualify for DPP
    val dimPath = tempDir("graft_dim").toString
    (1 to 30).map(i => (java.sql.Date.valueOf(f"2024-01-$i%02d"), i))
      .toDF("d", "day_no").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"day_no".between(3, 5))
    val joined = fact.join(dim, fact("day") === dim("d"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"), plan.take(1200))
    assert(joined.count() > 0)
  }
}
