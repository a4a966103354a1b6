package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.table`'s per-session schema cache: a hit runs no Spark job,
  * and any change to the table's files or to a schema-changing read conf
  * makes Spark infer the schema again. */
class TablesSchemaCacheSpec extends SparkSpec {

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Jobs started while `body` runs. Listener events arrive in job order,
    * so the jobs seen between a marker job before `body` and one after
    * it are exactly the body's. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id"))): Unit
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, "marker")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    val result = try {
      marker("cache-start")
      val r = body
      marker("cache-end")
      val deadline = System.currentTimeMillis() + 10000
      while (!groups.contains("cache-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      r
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.contains("cache-end"), seen)
    (result, seen.dropWhile(_ != "cache-start").drop(1).takeWhile(_ != "cache-end").size)
  }

  /** Runs `body` with `key` set to `value`, then restores the old value. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a second read of an unchanged table starts no Spark job and keeps the schema") {
    val dir = tempDir("graft_schema_hit")
    spark.range(5).select(col("id").as("a"), col("id").cast("string").as("s"))
      .write.parquet(s"$dir/t.parquet")
    val (first, inferJobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(inferJobs > 0, "the first read infers the schema with a job")
    val (second, hitJobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(hitJobs == 0, s"a cached read started $hitJobs job(s)")
    assert(second.schema == first.schema)
    assert(second.orderBy("a").collect().toSeq == first.orderBy("a").collect().toSeq)
  }

  test("a table rewritten at the same path with an added column is inferred again") {
    val dir = tempDir("graft_schema_rewrite")
    spark.range(3).select(col("id").as("a")).write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).select(col("id").as("a"), (col("id") * 2).as("b"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.table(spark, dir, "t")
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.agg(sum(col("b"))).head.getLong(0) == 6L)
  }

  test("flipping binaryAsString flips the type read: the read confs are in the key") {
    // Spark's own writer stores its schema in the footer, and inference
    // prefers that schema over the conf; a plain parquet-mr file has
    // only the physical BINARY type, which the conf maps.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir("graft_schema_conf")
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/bin.parquet"))
      .withType(schema).build()
    try Seq("x", "yz").foreach(v => writer.write(new SimpleGroupFactory(schema).newGroup().append("b", v)))
    finally writer.close()
    def readType = Tables.table(spark, dir, "bin").schema("b").dataType
    withConf("spark.sql.parquet.binaryAsString", "false") {
      assert(readType == BinaryType)
      assert(readType == BinaryType)
    }
    withConf("spark.sql.parquet.binaryAsString", "true") {
      assert(readType == StringType)
      assert(Tables.table(spark, dir, "bin").orderBy("b").collect().map(_.getString(0)).toSeq ==
        Seq("x", "yz"))
    }
    withConf("spark.sql.parquet.binaryAsString", "false") {
      assert(readType == BinaryType)
    }
  }

  test("after a cached read, Tables.events still normalizes ts to TimestampType") {
    def instants = Tables.events(spark, sf)
      .agg(min(col("ts")), max(col("ts")), count(col("ts"))).head.toSeq
    val raw = Tables.table(spark, sf, "events").schema("ts").dataType
    val cached = Tables.events(spark, sf)
    assert(cached.schema("ts").dataType == TimestampType)
    assert(Tables.eventsRawSchema(spark, sf)("ts").dataType == raw)
    val expected = instants
    // a MICROS/isAdjustedToUTC=false footer maps to NTZ or to an instant
    // depending on this conf: the flip is inferred again, and the
    // normalized instants are the same either way
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    withConf(ntzKey, (!spark.conf.get(ntzKey).toBoolean).toString) {
      if (raw == TimestampNTZType)
        assert(Tables.eventsRawSchema(spark, sf)("ts").dataType == TimestampType)
      assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
      assert(instants == expected)
    }
    assert(Tables.eventsRawSchema(spark, sf)("ts").dataType == raw)
  }
}
