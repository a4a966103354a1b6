package graft

import graft.sources.FileSources

class FileSourcesSpec extends SparkSpec {

  private def run(name: String) = FileSources.queries(name)(spark, sf)

  test("s3 binaryFile glob scan finds audio files recursively, case-insensitively") {
    val rows = run("s3_binary_glob_scan").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(_._1).toSeq == Seq("w.webm", "x.webm", "y.mp3", "z.WEBM"))
    assert(rows.forall { case (_, len) => len > 0 })
  }

  test("s4 wholetext scan reads each file as one row and skips empties") {
    val rows = run("s4_wholetext_scan").collect()
    assert(rows.length == 2) // empty_dialogue.txt filtered (F5)
    assert(rows.forall(_.getString(1).startsWith("[0.00-")))
  }

  test("rebuilding the source tree leaves snapshot fixtures in place") {
    import java.nio.file.{Files, Paths}
    val dataDir = tempDir("graft_srctree_data", parent = "target")
    Files.writeString(dataDir.resolve("a.txt"), "alpha")
    val root = Paths.get(snapshotFixture("srctree_probe", dataDir.toString) { out =>
      Files.createDirectories(Paths.get(out))
    }).getParent
    // a missing sentinel makes the next source-tree scan wipe and rebuild it
    Files.deleteIfExists(Paths.get(FileSources.sourceTreeRoot, ".complete"))
    assert(run("s4_wholetext_scan").count() == 2)
    assert(Files.exists(root.resolve(".complete")),
      "the source-tree rebuild deleted a snapshot fixture")
  }

  test("s5 json state anti-join yields only the undownloaded key") {
    val keys = run("s5_json_state_antijoin").collect().map(_.getString(0))
    assert(keys.toSeq == Seq("downloads/b/w.webm"))
  }

  test("malformed JSON lines isolate to corrupt-record rows, not job failure (T4)") {
    import spark.implicits._
    // reference behavior: one bad file logs an error and the loop
    // continues (main.py:75-95). Relational form: PERMISSIVE mode parks
    // bad rows in a corrupt-record column; good rows flow through.
    val dir = tempDir("graft_badjson")
    java.nio.file.Files.write(dir.resolve("a.jsonl"),
      """{"key": "k1", "size": 10}
        |not json at all
        |{"key": "k2", "size": 20}
        |{"key": "k3", "size": "NaN-ish"}
        |""".stripMargin.getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "key STRING, size LONG, _corrupt STRING")
    val parsed = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema)
      .json(dir.toString)
      .cache() // corrupt-record column requires a materialized parse
    val good = parsed.filter($"_corrupt".isNull && $"size".isNotNull)
    val bad = parsed.filter($"_corrupt".isNotNull || $"size".isNull)
    assert(good.select($"key").as[String].collect().sorted.toSeq == Seq("k1", "k2"))
    assert(bad.count() == 2) // the non-JSON line and the type-mismatched row
    parsed.unpersist()
  }

  test("csv roundtrip preserves typed rows") {
    val rows = run("s_csv_roundtrip").collect()
    assert(rows.length == 50)
    assert(rows.head.getLong(0) == 0L && rows.head.getLong(2) > 0)
  }

  test("orc roundtrip aggregates match parquet source") {
    val viaOrc = run("s_orc_roundtrip").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val direct = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 50)
      .groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(viaOrc == direct)
  }

  test("xml roundtrip preserves typed rows (Spark 4 in-core XML source)") {
    val viaXml = run("s_xml_roundtrip").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val direct = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 50)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(viaXml.toSeq == direct.toSeq && viaXml.length == 50)
  }

  test("typed Aggregator mean matches builtin avg with null->1.0 default") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val conf = Seq(Some(0.98), Some(0.95), None, Some(0.90)).toDS()
    val got = conf.select(graft.functions.WeightedMeanAgg.toColumn).collect().head
    val exp = (0.98 + 0.95 + 1.0 + 0.90) / 4
    assert(math.abs(got - exp) < 1e-12)
  }

  test("k1 json sink roundtrip preserves aligned utterances") {
    val rows = run("k1_json_sink_roundtrip").collect()
    assert(rows.length == 4)
    assert(rows.head.getString(3) == "hello there how are you")
  }

  test("corrupt-json quarantine: scan survives, bad lines counted, good sums intact") {
    val rows = run("s_json_corrupt_quarantine").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 2 malformed lines quarantined with no id/amount; the 4 parseable
    // rows (one with a legitimate null amount) keep their sums
    assert(rows == Map("corrupt" -> ((2L, 0L, 0L)), "ok" -> ((4L, 420L, 4L))))
  }

  test("corrupt-csv quarantine: type/arity breakage quarantined, empty field stays ok") {
    val rows = run("s_csv_corrupt_quarantine").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // corrupt: type mismatch + too-few + too-many columns (all three
    // from_csv malformed classes); ok: 2 clean rows + the empty-amount
    // row (legitimate null). Corrupt rows contribute NO values (their
    // partial parses are gated out) — quarantine means replay the raw
    // line, not half-ingest it.
    assert(rows == Map("corrupt" -> ((3L, 0L, 0L)), "ok" -> ((3L, 350L, 3L))))
  }
}
