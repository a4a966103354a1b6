package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * The reference stages data through the filesystem between every pipeline
  * step (`/root/reference/src/main.py:136`, `transcription.py:349-359`,
  * `embedding_engine.py:76-84`); here every stage is a lazy DataFrame over
  * columnar parquet so Catalyst can prune columns and push predicates into
  * the scan — at 100 TB the scan is the dominant cost and pushdown is the
  * difference between reading a column chunk and reading the lake.
  */
object Tables {
  /** `<sfDir>/<name>.parquet`, read with the schema Spark infers from its
    * footers — inferred once per session while the table's files stay
    * the same.
    *
    * A schema-less `spark.read.parquet` runs one Spark job to read the
    * footers on every call (80–100 ms per read on 4 local cores, most of
    * a short query's build). So the session keeps, per path, the schema
    * that inference returned and the key it returned it under:
    *  - the path's file identity ([[fileIdentity]]): the sorted (relative
    *    name, length, modification time) of every file under the path —
    *    one file for a lake table, the part files of a Spark-written
    *    directory;
    *  - the session's values of the confs that change the inferred
    *    schema ([[schemaConfs]]), e.g. `nanosAsLong`, which decides how
    *    [[events]] sees `ts`.
    * While the key matches, the read is `spark.read.schema(cached)`,
    * which plans the same scan (same `ReadSchema`) and runs no job.
    * Otherwise — a first read, or a read after the files or confs
    * changed — Spark infers the schema again and it replaces the path's
    * entry, so a changed lake still fails loudly where it did, and a
    * missing path fails exactly as a plain read does. The cache is
    * per session (weakly held, like the memo pins in `Graft`) and safe
    * for concurrent callers: two racing misses both infer and store the
    * same schema.
    *
    * Known limit: a rewrite that keeps every file's length and
    * millisecond modification time is not seen, and the old schema
    * is served until some file changes. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = (fileIdentity(spark, path), schemaConfs.map(spark.conf.getOption))
    val cache = schemaCache.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    Option(cache.get(path)) match {
      case Some((k, schema)) if k == key => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        cache.put(path, (key, df.schema))
        df
    }
  }

  /** The parquet read confs that change the schema Spark infers from the
    * same footers (timestamp and binary mappings, and which footers are
    * merged). */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private type SchemaKey = (Seq[(String, Long, Long)], Seq[Option[String]])

  private val schemaCache: java.util.Map[SparkSession,
      ConcurrentHashMap[String, (SchemaKey, StructType)]] =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[String, (SchemaKey, StructType)]]())

  /** The sorted (name relative to `path`, length, modification time in
    * ms) of every file under `path`, or of `path` itself if it is a
    * file; empty if it does not exist (or vanishes while it is listed).
    * Two listings are equal while no file under `path` was added,
    * removed or rewritten with a new length or mtime. */
  private[graft] def fileIdentity(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] = {
    import org.apache.hadoop.fs.FileStatus
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prefix = fs.makeQualified(root).toString
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toString.stripPrefix(prefix), st.getLen,
                st.getModificationTime))
    try walk(fs.getFileStatus(root)).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")

  /** documents, round-robin spread across all cores BEFORE expensive
    * per-document compute (signatures, shingling, hashing).
    *
    * Why: at 100 TB the scan has thousands of splits and per-doc CPU work
    * parallelizes for free; locally the whole table is one small parquet
    * file = ONE split, so any signature computed before the first
    * exchange runs single-threaded (measured: the entire MinHash cost of
    * dedup_minhash_lsh serialized on one core). The round-robin exchange
    * moves only raw (doc_id, text) rows — a few hundred bytes each —
    * and buys full-width parallelism for everything downstream. */
  def documentsSpread(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir).repartition(spreadWidth(spark))

  /** Width for explicit local re-layouts: enough tasks to parallelize
    * CPU-bound per-doc compute, few enough that each task amortizes its
    * ~2-5 ms scheduling cost on a KB-sized corpus partition. Tracking
    * defaultParallelism 1:1 overshards at local[32] (measured: the
    * 74-query bench pays ~15% wall purely in extra task dispatch);
    * at real data volumes the scan's own splits set the width instead. */
  private[graft] def spreadWidth(spark: SparkSession): Int =
    math.max(4, math.min(spark.sparkContext.defaultParallelism, 8))
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** The engine does not control the lake's physical layout: the driver
    * has shipped `events.ts` both as parquet TIMESTAMP(NANOS) (which
    * vanilla Spark rejects — [PARQUET_TYPE_ILLEGAL] — so we read nanos as
    * raw longs) and as TIMESTAMP_MICROS with isAdjustedToUTC=false (which
    * Spark reads as TIMESTAMP_NTZ). Probe the footer via the read schema
    * and adapt; any OTHER encoding fails loudly here rather than
    * producing silently wrong instants downstream. The session timezone
    * is UTC everywhere (Bench/Verify/tests), so the NTZ wall-clock cast
    * and the nanos→micros truncation yield identical instants to DuckDB
    * reading the same file. Single source of truth for batch AND
    * streaming (StreamingOps.eventsStream builds its read schema from
    * [[eventsRawSchema]] and normalizes through [[normalizeEventsTs]]). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    ensureEventsReadConf(spark)
    normalizeEventsTs(table(spark, sfDir, "events"))
  }

  /** All in-repo entry points set nanosAsLong at session build; this guard
    * exists for external callers composing on [[events]] with their own
    * session. Set-if-absent (not set-per-call): repeated runtime-conf
    * writes are redundant mutation and would mask a caller who explicitly
    * disabled the legacy read path — that caller fails loudly at scan
    * time instead of silently flipping behavior. `getAll` holds only
    * keys someone set: `getOption` returns the default "false" for an
    * unset key too, and so cannot tell the two apart. */
  private[graft] def ensureEventsReadConf(spark: SparkSession): Unit =
    if (!spark.conf.getAll.contains("spark.sql.legacy.parquet.nanosAsLong"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** events schema exactly as Spark reads the current file footer
    * (LongType under nanosAsLong for a NANOS file; TimestampNTZType for
    * micros/isAdjustedToUTC=false; TimestampType for micros/UTC). */
  private[graft] def eventsRawSchema(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.types.StructType = {
    ensureEventsReadConf(spark)
    table(spark, sfDir, "events").schema
  }

  /** Normalize whatever physical encoding `ts` arrived in to a plain
    * TimestampType UTC instant. Unknown encodings throw at analysis time
    * — never a silent unit mismatch. */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => // TIMESTAMP(NANOS) read as raw nanos: truncate to micros like DuckDB
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // micros, isAdjustedToUTC=false: wall-clock == UTC instant ONLY under a UTC session
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if (tz != "UTC")
          throw new IllegalStateException(
            s"events.ts is TIMESTAMP_NTZ and the session timezone is '$tz', not UTC: " +
            "the NTZ->instant cast would shift every event silently. Set " +
            "spark.sql.session.timeZone=UTC (as every graft entry point does) before reading events.")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — the lake layout changed; " +
        "extend Tables.normalizeEventsTs rather than letting queries misread instants")
    }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "region")
}
