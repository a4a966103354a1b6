package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — local iteration aid
    // (the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String) = only.forall(_.contains(name))
    val spark = BenchEnv.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) {
        // per-query pin hygiene (r16): free the query's own pins
        // (`Pins`, by their recorded owner and scope) once its write
        // returns — session memos are exempt — so a full 401-query
        // dump doesn't accumulate hundreds of orphaned checkpoint RDDs
        // in the block manager.
        val pinsBefore = graft.api.Graft.pinSnapshot(spark)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        graft.api.Graft.releaseQueryPins(spark, pinsBefore): Unit
      }
    }
    // Capped-LSH fixture assumption (r9 advice): these queries cap hot
    // bands at 4096 (star degradation) while their DuckDB oracles
    // enumerate all band-sharing pairs — legitimate engines-diverge
    // territory on a hotter corpus. Check the assumption on THIS corpus
    // instead of assuming it; a violation fails the whole Verify run
    // loudly rather than surfacing as an inscrutable hash mismatch.
    val cappedLshKeys = Set("dedup_minhash_lsh", "dedup_minhash_estimate_audit")
    if (cappedLshKeys.exists(keep)) {
      val m = graft.operators.DedupOps.maxLshBandSize(spark, sfDir)
      require(m <= 4096, s"LSH oracle fixture assumption violated: max band " +
        s"size $m > 4096 on $sfDir — capped star fallback diverges from the " +
        "uncapped pair-enumeration oracle")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
