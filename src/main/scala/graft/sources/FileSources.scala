package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-shaped sources/sinks from SURVEY.md §2.1 (S3/S4/S5, K1/K5),
  * exercised against deterministic self-written fixtures (the driver
  * testdata is parquet-only; these ops are about *formats*). Oracle-
  * checked via DuckDB's own file readers (`read_blob`/`read_text`/
  * `glob`/`read_csv`-equivalents) over the same fixture tree; ORC (no
  * DuckDB reader) is oracle-checked as round-trip ≡ identity against
  * the source parquet.
  *
  *  - S3: recursive glob scan over a nested dir of media files via the
  *    `binaryFile` source (`main.py:136` rglob; 6-extension scan
  *    `transcription.py:431-432`).
  *  - S4: whole-file text scan (`embedding_engine.py:63-64`).
  *  - S5/K5: JSON state file round-trip (`aws_bucket.py:55-68`).
  *  - K1: JSON sink of aligned utterances (`transcription.py:349-351`).
  */
object FileSources {

  /** Wipe-or-fail (r10 advice): a path that survives delete() would
    * leave a mixed old/new fixture tree that the .complete sentinel
    * then blesses — throw instead, like the Files.walk version did.
    * Shared by the file and streaming fixtures and the test suite's
    * temp directories. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    if (!f.delete() && f.exists())
      throw new java.io.IOException(s"fixture wipe failed: cannot delete $f")
  }

  /** Idempotently materialize the fixture tree under target/ (kept
    * inside the repo; gitignored). */
  private def fixtureDir(): String = {
    val root = Paths.get("target/graft_file_fixtures")
    // sentinel-based idempotence: a crash mid-creation leaves no marker,
    // so the partial tree is rebuilt rather than silently accepted
    val sentinel = root.resolve(".complete")
    if (!Files.exists(sentinel)) {
      deleteRecursively(root.toFile) // partial leftover: wipe and rebuild
      val d1 = root.resolve("downloads/a"); val d2 = root.resolve("downloads/b")
      Files.createDirectories(d1); Files.createDirectories(d2)
      Files.write(d1.resolve("x.webm"), "WEBMDATA-X".getBytes)
      Files.write(d1.resolve("y.mp3"), "MP3DATA-YY".getBytes)
      Files.write(d2.resolve("z.WEBM"), "WEBMDATA-ZZZ".getBytes)
      Files.write(d2.resolve("w.webm"), "WEBMDATA-NEW".getBytes) // not in state
      Files.write(d2.resolve("notes.txt"), "not audio".getBytes)
      val t = root.resolve("transcriptions")
      Files.createDirectories(t)
      Files.write(t.resolve("x_dialogue.txt"),
        "[0.00-6.10] SPEAKER_00: hello there how are you\n".getBytes)
      Files.write(t.resolve("y_dialogue.txt"), "[0.00-2.00] SPEAKER_00: solo\n".getBytes)
      Files.write(t.resolve("empty_dialogue.txt"), "".getBytes)
      Files.write(root.resolve("downloaded_files.json"),
        """["downloads/a/x.webm", "downloads/b/z.WEBM"]""".getBytes)
      Files.write(sentinel, Array.emptyByteArray)
    }
    root.toString
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S3+F2: recursive binaryFile scan, audio-extension filter, stable
    // projection (filename + size; path/mtime are host-dependent).
    "s3_binary_glob_scan" -> ((s, _) => {
      val dir = fixtureDir()
      s.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(s"$dir/downloads")
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("filename"),
                col("length"),
                length(col("content")).cast("long").as("content_bytes"))
        .filter(lower(col("filename")).rlike("\\.(webm|mp3|wav|m4a|flac|ogg)$"))
        .orderBy(col("filename"))
    }),

    // S4+F5: whole-file text scan, skip empties (embedding_engine.py:66-68).
    "s4_wholetext_scan" -> ((s, _) => {
      val dir = fixtureDir()
      s.read.option("wholetext", "true").text(s"$dir/transcriptions")
        .withColumn("n_chars", length(col("value")).cast("long"))
        .filter(length(trim(col("value"))) > 0)
        .select(col("n_chars"), substring(col("value"), 1, 20).as("head"))
        .orderBy(col("n_chars"))
    }),

    // S5+J2+K5: JSON state scan + anti-join dedup against a live listing
    // — the reference's "skip already-downloaded keys" exactly
    // (aws_bucket.py:180-182), with the state file as the state table.
    "s5_json_state_antijoin" -> ((s, _) => {
      val dir = fixtureDir()
      val listing = s.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(s"$dir/downloads")
        .select(regexp_extract(col("path"), "(downloads/.*)$", 1).as("key"))
        .filter(lower(col("key")).endsWith(".webm"))
      val state = readStateFile(s, s"$dir/downloaded_files.json")
      listing.join(broadcast(state), Seq("key"), "left_anti")
        .orderBy(col("key"))
    }),

    // CSV round-trip with explicit schema (header, typed read-back) —
    // the interchange format the relational surface needs beyond
    // parquet/JSON. Deterministic subset, ordered.
    "s_csv_roundtrip" -> ((s, dir) => {
      val out = "target/graft_file_fixtures/out_docs_csv"
      graft.Tables.documents(s, dir)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read
        .schema("doc_id LONG, lang STRING, n_chars LONG")
        .option("header", "true").csv(out)
        .orderBy(col("doc_id"))
    }),

    // Partitioned-lake layout: dynamic-partition parquet write
    // (one directory per lang) + a partition-pruned read-back. At
    // 100 TB this IS the table layout — the lang predicate must prune
    // directories at planning time so the scan never lists, let alone
    // reads, the other partitions (PartitionPruningSpec asserts
    // PartitionFilters on this exact shape; the day-partitioned events
    // variant there also proves dynamic pruning through a join). The
    // oracle is the same aggregate over the unpartitioned source —
    // layout must never change answers.
    "s_partitioned_sink_prune" -> ((s, dir) => {
      val out = "target/graft_file_fixtures/out_docs_partitioned"
      graft.Tables.documents(s, dir)
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .filter(col("lang").isin("en", "fr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),

    // ORC round-trip — the other columnar format in the lake toolbox;
    // predicate pushdown applies on read-back like parquet.
    "s_orc_roundtrip" -> ((s, dir) => {
      val out = "target/graft_file_fixtures/out_docs_orc"
      graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("doc_id") < 50)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // XML round-trip — Spark 4's in-core XML source (the spark-xml
    // merge): write a deterministic selection with rowTag rows, read
    // back with an explicit schema. DuckDB has no XML reader, so the
    // oracle is the identity trick (≡ source parquet selection), same
    // as ORC.
    "s_xml_roundtrip" -> ((s, dir) => {
      val out = "target/graft_file_fixtures/out_docs_xml"
      graft.Tables.documents(s, dir)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .coalesce(1)
        .write.mode("overwrite").option("rowTag", "doc").format("xml").save(out)
      s.read
        .schema("doc_id LONG, lang STRING, n_chars LONG")
        .option("rowTag", "doc").format("xml").load(out)
        .orderBy(col("doc_id"))
    }),

    // Schema evolution across parquet generations — the lake reality
    // that a 100 TB corpus is written over months by evolving jobs: a
    // v1 layout (doc_id, lang) and a widened v2 (+ n_chars) must read
    // back as ONE table. `mergeSchema` unions the footers' schemas;
    // v1 rows surface the added column as null (count(n_chars) exposes
    // exactly the v2 mass). At scale mergeSchema is a footer-only
    // operation (no data rewrite) — the alternative, rewriting 100 TB
    // to backfill a column, is the anti-pattern this op exists to
    // avoid. Oracle = identity over the source selection with the v1
    // nulls modeled as a CASE on the version predicate.
    "s_schema_evolution_union" -> ((s, dir) => {
      val root = "target/graft_file_fixtures/out_docs_evo"
      val docs = graft.Tables.documents(s, dir)
      docs.filter(col("doc_id") < 30)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$root/v1")
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 60)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$root/v2")
      s.read.option("mergeSchema", "true").parquet(s"$root/v1", s"$root/v2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
             count(col("n_chars")).as("n_with_chars"),
             coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // K1: JSON sink round-trip — write aligned utterances as JSON
    // (transcription.py:349-351), read back, verify through the scan.
    "k1_json_sink_roundtrip" -> ((s, _) => {
      val out = "target/graft_file_fixtures/out_utterances_json"
      graft.operators.TranscriptOps.queries("j1_asof_alignment")(s, "")
        .write.mode("overwrite").json(out)
      s.read.json(out)
        .select(col("file_id"), col("utt_idx"), col("speaker"), col("text"))
        .orderBy(col("file_id"), col("utt_idx"))
    }),

    // Malformed-INPUT quarantine (the parse-side complement of
    // t4_row_isolation's value-side quarantine): text scan + from_json
    // with columnNameOfCorruptRecord — a broken line becomes a row with
    // the raw text in the corrupt field and nulls elsewhere instead of
    // failing the scan, so one bad producer can't take down ingestion.
    // Census: ok/corrupt counts + the sums the ok slice supports. At
    // 100 TB this IS the ingest contract — corrupt rows route to a
    // quarantine sink with their raw payload for replay, and the scan
    // stays one pass, no pre-validation read.
    //
    // Deliberately NOT the JSON datasource with a _corrupt_record scan
    // column: under `.count()` Catalyst prunes unreferenced aggregate
    // inputs, the scan's referenced set collapses to _corrupt_record
    // alone, and Spark throws UNSUPPORTED_FEATURE
    // .QUERY_ONLY_CORRUPT_RECORD_COLUMN (the r4 bench -1). A text scan
    // always references `value`, so the plan survives any pruning, and
    // the from_json null-split mirrors the DuckDB oracle's
    // `json_valid(line)` structure exactly. (Boundary: a type-mismatch
    // field inside VALID json — e.g. {"id":"abc"} — is corrupt to
    // from_json but json_valid-ok; the contract here is "parses into
    // the declared schema", and the fixture pins it.)
    "s_json_corrupt_quarantine" -> ((s, _) => {
      import org.apache.spark.sql.types._
      val dir = corruptJsonFixture()
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("amount", LongType),
        StructField("tag", StringType),
        StructField("_corrupt_record", StringType)))
      s.read.text(s"$dir/events.jsonl")
        .select(from_json(col("value"), schema, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("j"))
        .select(when(col("j._corrupt_record").isNull, lit("ok"))
                  .otherwise(lit("corrupt")).as("status"),
                col("j.id").as("id"), col("j.amount").as("amount"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
             // corrupt group sums all-null -> coalesce keeps the census
             // NaN-free (typed-null vs NaN comparison traps)
             coalesce(sum(col("amount")), lit(0L)).as("total_amount"),
             count(col("id")).as("n_with_id"))
        .orderBy(col("status"))
    }),

    // CSV twin of the quarantine contract: same text + from_csv(
    // PERMISSIVE, columnNameOfCorruptRecord) pattern — benches clean
    // under `.count()` pruning by construction. from_csv marks a line
    // corrupt on type mismatch, missing columns, or extra columns
    // (empty fields are legitimate nulls); the census trusts NO field
    // of a corrupt line (values gated on status), which is the
    // quarantine semantics — route the raw line, don't half-ingest it.
    "s_csv_corrupt_quarantine" -> ((s, _) => {
      import org.apache.spark.sql.types._
      val dir = corruptCsvFixture()
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("amount", LongType),
        StructField("tag", StringType),
        StructField("_corrupt_record", StringType)))
      val ok = col("j._corrupt_record").isNull
      s.read.text(s"$dir/events.csv")
        .select(from_csv(col("value"), schema, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")).as("j"))
        .select(when(ok, lit("ok")).otherwise(lit("corrupt")).as("status"),
                when(ok, col("j.id")).as("id"),
                when(ok, col("j.amount")).as("amount"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
             coalesce(sum(col("amount")), lit(0L)).as("total_amount"),
             count(col("id")).as("n_with_id"))
        .orderBy(col("status"))
    }),

    // Hidden `_metadata` column census over a multi-file parquet layout:
    // per-file row counts and id envelopes WITHOUT a second filesystem
    // listing — the scan itself carries its provenance. At 100 TB this
    // is the debugging/lineage primitive (which file contributed the bad
    // rows? is any shard empty/skewed?) that the reference reimplements
    // as a driver-side S3 listing pass (aws_bucket.py:160-195); here it
    // rides the columnar scan for free and groups on a constant-per-
    // split value, so the census shuffle carries one row per file.
    // Oracle: DuckDB's filename=true over the same shard tree.
    "s_file_metadata_census" -> ((s, _) => {
      val dir = metaShardsFixture(s)
      s.read.parquet(dir)
        .select(col("_metadata.file_name").as("file_name"), col("id"))
        .groupBy(col("file_name"))
        .agg(count(lit(1)).as("n"),
             min(col("id")).as("min_id"), max(col("id")).as("max_id"),
             sum(col("id")).as("id_sum"))
        .orderBy(col("file_name"))
    })
  )

  /** Multi-file parquet fixture for the `_metadata` census: 1000 rows
    * range-partitioned into 3 shards. Written through Spark (the shard
    * file names are Spark task outputs); sentinel-idempotent, so the
    * names — which appear in the query RESULT — are stable across the
    * Bench/Verify double-run. */
  private def metaShardsFixture(s: org.apache.spark.sql.SparkSession): String = {
    val root = Paths.get("target/graft_file_fixtures_meta")
    val sentinel = root.resolve(".complete")
    val shards = root.resolve("shards")
    if (!Files.exists(sentinel)) {
      deleteRecursively(root.toFile)
      import s.implicits._
      (0L until 1000L).toDF("id")
        .repartitionByRange(3, col("id"))
        .write.mode("overwrite").parquet(shards.toString)
      // drop Spark's _SUCCESS marker so the DuckDB glob sees parquet only
      Files.deleteIfExists(shards.resolve("_SUCCESS"))
      Files.write(sentinel, Array.emptyByteArray)
    }
    shards.toString
  }

  /** Own sentinel dir (separate from fixtureDir: adding files there
    * would not regenerate under an existing sentinel). */
  private def corruptJsonFixture(): String = {
    val root = Paths.get("target/graft_file_fixtures_jsonq")
    val sentinel = root.resolve(".complete")
    if (!Files.exists(sentinel)) {
      deleteRecursively(root.toFile)
      Files.createDirectories(root)
      Files.write(root.resolve("events.jsonl"), (
        """{"id":1,"amount":100,"tag":"a"}""" + "\n" +
        """{"id":2,"amount":250,"tag":"b"}""" + "\n" +
        """{"id":3,"amount":,"tag"}""" + "\n" + // malformed: missing value
        "not json at all\n" +
        """{"id":5,"amount":70,"tag":"c"}""" + "\n" +
        """{"id":6,"amount":null,"tag":"d"}""" + "\n").getBytes)
      Files.write(sentinel, Array.emptyByteArray)
    }
    root.toString
  }

  /** CSV quarantine fixture: one clean majority + the three corruption
    * classes from_csv distinguishes (type mismatch, too-few columns,
    * too-many columns) + an empty-field row that must stay `ok`. */
  private def corruptCsvFixture(): String = {
    val root = Paths.get("target/graft_file_fixtures_csvq")
    val sentinel = root.resolve(".complete")
    if (!Files.exists(sentinel)) {
      deleteRecursively(root.toFile)
      Files.createDirectories(root)
      Files.write(root.resolve("events.csv"), (
        "1,100,a\n" +
        "2,250,b\n" +
        "3,notanumber,c\n" + // type mismatch -> corrupt
        "4,70\n" +           // too few columns -> corrupt
        "5,80,d,extra\n" +   // too many columns -> corrupt
        "6,,e\n").getBytes)  // empty amount = legitimate null -> ok
      Files.write(sentinel, Array.emptyByteArray)
    }
    root.toString
  }

  /** DuckDB oracles over the same fixture tree / source tables. Paths
    * are resolved to absolute at generation time (same JVM + cwd that
    * wrote the fixtures), so the driver's DuckDB can run from any cwd. */
  def oracles: Map[String, String] = {
    val root = Paths.get("target/graft_file_fixtures").toAbsolutePath.toString
    val metaRoot = Paths.get("target/graft_file_fixtures_meta").toAbsolutePath.toString
    Map(
      // `_metadata.file_name` census ≡ filename=true over the same shards
      "s_file_metadata_census" ->
        s"""SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file_name,
           |  count(*)::BIGINT AS n, min(id) AS min_id, max(id) AS max_id,
           |  sum(id)::BIGINT AS id_sum
           |FROM read_parquet('$metaRoot/shards/*.parquet', filename=true)
           |GROUP BY 1 ORDER BY file_name""".stripMargin,
      // binaryFile scan ≡ read_blob over the same tree
      "s3_binary_glob_scan" ->
        s"""SELECT fn AS filename, size AS length, octet_length(content)::BIGINT AS content_bytes
           |FROM (SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fn, size, content
           |      FROM read_blob('$root/downloads/**'))
           |WHERE regexp_matches(lower(fn), '\\.(webm|mp3|wav|m4a|flac|ogg)$$')
           |ORDER BY filename""".stripMargin,

      // wholetext scan ≡ read_text
      "s4_wholetext_scan" ->
        s"""SELECT length(content)::BIGINT AS n_chars, substr(content, 1, 20) AS head
           |FROM read_text('$root/transcriptions/*.txt')
           |WHERE length(trim(content)) > 0 ORDER BY n_chars""".stripMargin,

      // state anti-join ≡ glob listing ANTI JOIN json_transform'd state
      "s5_json_state_antijoin" ->
        s"""WITH listing AS (SELECT regexp_extract(file, '(downloads/.*)$$', 1) AS key
           |  FROM glob('$root/downloads/**') WHERE lower(file) LIKE '%.webm'),
           |state AS (SELECT unnest(json_transform(content, '["VARCHAR"]')) AS key
           |  FROM read_text('$root/downloaded_files.json'))
           |SELECT key FROM listing ANTI JOIN state USING (key) ORDER BY key""".stripMargin,

      // CSV round-trip must preserve the source parquet selection exactly
      "s_csv_roundtrip" ->
        "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 50 ORDER BY doc_id",

      // layout-invariance: partitioned write + pruned read-back must
      // equal the same aggregate over the unpartitioned source
      "s_partitioned_sink_prune" ->
        """SELECT lang, count(*)::BIGINT AS n_docs,
          |  sum(n_chars)::BIGINT AS total_chars
          |FROM documents WHERE lang IN ('en', 'fr')
          |GROUP BY lang ORDER BY lang""".stripMargin,

      // ORC round-trip: DuckDB has no ORC reader, but round-trip ≡
      // identity, so the oracle is the same aggregate over the SOURCE
      // parquet — any write/read corruption (row loss, type drift,
      // pushdown misfire on read-back) breaks the match.
      "s_orc_roundtrip" ->
        """SELECT lang, count(*) AS n FROM documents
          |WHERE doc_id < 50 GROUP BY lang ORDER BY lang""".stripMargin,

      // XML round-trip ≡ identity on the same selection (no DuckDB XML
      // reader, same trick as ORC/CSV)
      "s_xml_roundtrip" ->
        "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 50 ORDER BY doc_id",

      // merged two-generation read ≡ the source selection, with the v1
      // rows' missing column modeled by the version predicate
      "s_schema_evolution_union" ->
        """SELECT lang, count(*) AS n_rows,
          |  count(CASE WHEN doc_id >= 30 THEN n_chars END)::BIGINT AS n_with_chars,
          |  coalesce(sum(CASE WHEN doc_id >= 30 THEN n_chars END), 0)::BIGINT AS sum_chars
          |FROM documents WHERE doc_id < 60
          |GROUP BY lang ORDER BY lang""".stripMargin,

      // JSON sink round-trip must preserve the aligned utterances the
      // (already oracle-green) j1 query computes
      "k1_json_sink_roundtrip" ->
        s"""SELECT file_id::BIGINT AS file_id, utt_idx, speaker, text
           |FROM (${graft.operators.TranscriptOps.oracles("j1_asof_alignment")})
           |ORDER BY file_id, utt_idx""".stripMargin,

      // raw-line read + json_valid replays the PERMISSIVE parse split
      "s_json_corrupt_quarantine" -> {
        val jq = Paths.get("target/graft_file_fixtures_jsonq").toAbsolutePath.toString
        s"""WITH lines AS (SELECT * FROM read_csv('$jq/events.jsonl',
           |  columns = {line: 'VARCHAR'}, delim = chr(1), header = false, quote = '')),
           |c AS (SELECT CASE WHEN json_valid(line) THEN 'ok' ELSE 'corrupt' END AS status,
           |  CASE WHEN json_valid(line) THEN (line->>'$$.id')::BIGINT END AS id,
           |  CASE WHEN json_valid(line) THEN (line->>'$$.amount')::BIGINT END AS amount
           |  FROM lines)
           |SELECT status, count(*) AS n,
           |  coalesce(sum(amount), 0)::BIGINT AS total_amount,
           |  count(id)::BIGINT AS n_with_id
           |FROM c GROUP BY status ORDER BY status""".stripMargin
      },

      // raw-line read + token/cast checks replay from_csv's PERMISSIVE
      // malformed test: exactly 3 tokens, numeric (or empty) id/amount
      "s_csv_corrupt_quarantine" -> {
        val cq = Paths.get("target/graft_file_fixtures_csvq").toAbsolutePath.toString
        s"""WITH lines AS (SELECT * FROM read_csv('$cq/events.csv',
           |  columns = {line: 'VARCHAR'}, delim = chr(1), header = false, quote = '')),
           |p AS (SELECT line, string_split(line, ',') AS t FROM lines),
           |c AS (SELECT CASE WHEN len(t) = 3
           |    AND (t[1] = '' OR try_cast(t[1] AS BIGINT) IS NOT NULL)
           |    AND (t[2] = '' OR try_cast(t[2] AS BIGINT) IS NOT NULL)
           |  THEN 'ok' ELSE 'corrupt' END AS status,
           |  CASE WHEN len(t) = 3 AND (t[1] = '' OR try_cast(t[1] AS BIGINT) IS NOT NULL)
           |    AND (t[2] = '' OR try_cast(t[2] AS BIGINT) IS NOT NULL)
           |  THEN try_cast(t[1] AS BIGINT) END AS id,
           |  CASE WHEN len(t) = 3 AND (t[1] = '' OR try_cast(t[1] AS BIGINT) IS NOT NULL)
           |    AND (t[2] = '' OR try_cast(t[2] AS BIGINT) IS NOT NULL)
           |  THEN try_cast(t[2] AS BIGINT) END AS amount
           |  FROM p)
           |SELECT status, count(*) AS n,
           |  coalesce(sum(amount), 0)::BIGINT AS total_amount,
           |  count(id)::BIGINT AS n_with_id
           |FROM c GROUP BY status ORDER BY status""".stripMargin
      }
    )
  }

  /** JSON array-of-strings state file → DataFrame(key). */
  def readStateFile(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    // whole file is one JSON array (aws_bucket.py:58-63): read as text,
    // parse with from_json, explode to rows — schema-explicit, no
    // corrupt-record fallbacks.
    s.read.option("wholetext", "true").text(path)
      .select(explode(from_json(col("value"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))).as("key"))
  }
}
