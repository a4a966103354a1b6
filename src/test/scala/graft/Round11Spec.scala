package graft

import org.apache.spark.sql.functions._

/** Round-11 additions: the plan-ledger memo instrumentation (touched-
  * label recorder + pre-checkpoint scan fingerprints), the packed
  * replica-draw equivalence, and the overflow-safe epoch-schedule
  * decomposition. */
class Round11Spec extends SparkSpec {

  // ---- ledger memo instrumentation (r10 verdict #1) -----------------

  test("recordTouchedMemos attributes memo consumption, incl. nested builds") {
    val (_, first) = api.Graft.recordTouchedMemos {
      api.Graft.memoizedExchange("r11_outer", spark, sf) {
        // nested build: consuming another memo inside a build records
        // BOTH labels (transitive attribution)
        api.Graft.memoizedExchange("r11_inner", spark, sf) {
          Tables.documents(spark, sf).limit(2)
        }.limit(1)
      }
    }
    assert(first == Seq("r11_inner", "r11_outer"))
    // a cache hit still records the label (attribution is about
    // consumption, not construction)
    val (_, again) = api.Graft.recordTouchedMemos {
      api.Graft.memoizedExchange("r11_outer", spark, sf) { fail(); ??? }
    }
    assert(again == Seq("r11_outer"))
    // the recorder clears between wraps: an unrelated body sees nothing
    val (_, none) = api.Graft.recordTouchedMemos {
      Tables.documents(spark, sf).limit(1)
    }
    assert(none.isEmpty)
  }

  test("memo fingerprints capture the PRE-checkpoint scan health") {
    api.Graft.memoizedExchange("r11_fp_probe", spark, sf) {
      Tables.documents(spark, sf)
        .filter(col("doc_id") > 5L) // pushable predicate
        .select(col("doc_id"), col("lang"))
    }
    val fp = api.Graft.memoFingerprintsFor(sf)
      .collectFirst { case ("r11_fp_probe", json) => json }
    assert(fp.isDefined, "build must register a fingerprint")
    // the build plan's parquet scan (with its pushed filter and pruned
    // schema) is visible in the fingerprint even though every CONSUMER
    // of the memo sees only Scan ExistingRDD
    assert(fp.get.contains(""""scans":1"""), fp.get)
    assert(fp.get.contains(""""pushed_scans":1"""), fp.get)
    assert(fp.get.contains(""""narrow_scans":1"""), fp.get)
  }

  test("PlanStats counts leaf classes so no plan is scanless-and-markerless") {
    import spark.implicits._
    val localJson = PlanStats.countsJson(Seq((1L, "a")).toDF("id", "v"))
    assert(localJson.contains(""""local_scans":1"""), localJson)
    val ckpt = Tables.documents(spark, sf).limit(2).localCheckpoint()
    val rddJson = PlanStats.countsJson(ckpt.select(col("doc_id")))
    assert(rddJson.contains(""""rdd_scans":1"""), rddJson)
  }

  // ---- packed replica draws (r10 verdict #3 family) ------------------

  test("literal-b draw slices equal the runtime-b draw formula for all 16 b") {
    import spark.implicits._
    // one row with h0/h1 = two md5s; compare the oracle's runtime-b
    // CASE form against the Spark side's per-b folded slices
    val base = Seq(("seed")).toDF("s")
      .select(md5(concat(col("s"), lit(":p0"))).as("h0"),
              md5(concat(col("s"), lit(":p1"))).as("h1"))
    val runtime = base
      .withColumn("b", explode(sequence(lit(0), lit(15))))
      .selectExpr("b",
        "substring(CASE WHEN b < 8 THEN h0 ELSE h1 END, (b % 8) * 4 + 1, 4) AS hx")
      .collect().map(r => r.getAs[Int]("b") -> r.getAs[String]("hx")).toMap
    val literal = base.selectExpr((0 until 16).map { b =>
      s"substring(h${b / 8}, ${(b % 8) * 4 + 1}, 4) AS hx_$b"
    }: _*).collect().head
    (0 until 16).foreach { b =>
      assert(literal.getAs[String](s"hx_$b") == runtime(b),
        s"draw $b diverges between the folded and runtime forms")
    }
  }

  test("bh_fdr packed membership: rate tracks n1/n within 12-bit quantization") {
    val out = SparkEntry.queries("stat_bh_fdr")(spark, sf).collect()
    assert(out.nonEmpty)
    // structural BH step-up invariants (the facade's contract): ranks
    // are 1..m, rejections form a prefix of the p-sorted order
    val m = out.length
    assert(out.map(_.getAs[Long]("bh_rank")).sorted.toSeq == (1L to m).toSeq)
    val byRank = out.sortBy(_.getAs[Long]("bh_rank"))
    val rejected = byRank.map(_.getAs[Long]("rejected"))
    assert(rejected.dropWhile(_ == 1L).forall(_ == 0L),
      "BH rejections must be a prefix of the rank order")
    out.foreach { r =>
      val p = r.getAs[Long]("p_e6")
      assert(p >= 0L && p <= 1000000L)
      assert(p % 62500L == 0L, "p over B=16 replicas is a multiple of 1/16")
    }
  }

  // ---- round-11 breadth queries ---------------------------------------

  test("watermark lag replays the closed-form recurrence") {
    val out = SparkEntry.queries("streaming_watermark_lag")(spark, sf).collect()
    assert(out.length == 4, "four micro-batch files, four data batches")
    var cumMax = Long.MinValue
    out.sortBy(_.getAs[Long]("batch_seq")).foreach { r =>
      val (mx, wm, lag) = (r.getAs[Long]("max_event_s"),
        r.getAs[Long]("watermark_s"), r.getAs[Long]("lag_s"))
      val expectWm = if (cumMax == Long.MinValue) 0L else cumMax - 1L
      assert(wm == expectWm, s"watermark must trail the prior batches' max by the 1 s delay")
      assert(lag == mx - wm)
      assert(mx > cumMax, "id-ordered batches: max event time strictly grows")
      cumMax = mx
    }
  }

  test("nprobe autotune picks curve-consistent minimal operating points") {
    val curve = SparkEntry.queries("ann_nprobe_recall_curve")(spark, sf)
      .collect().map(r => r.getAs[Long]("nprobe") ->
        (r.getAs[Long]("recall_e6"), r.getAs[Long]("scanned_e6"))).toMap
    val out = SparkEntry.queries("ann_nprobe_autotune")(spark, sf).collect()
    out.foreach { r =>
      val (t, np) = (r.getAs[Long]("target_e6"), r.getAs[Long]("nprobe"))
      assert(curve(np)._1 >= t, "chosen point must meet its target")
      assert(curve(np)._1 == r.getAs[Long]("recall_e6"))
      assert(curve(np)._2 == r.getAs[Long]("scanned_e6"))
      // minimality: every smaller nprobe misses the target
      (1L until np).foreach(p =>
        assert(curve(p)._1 < t, s"nprobe $p already meets target $t"))
    }
    // targets are served monotonically: higher target ⇒ nprobe not smaller
    val byT = out.sortBy(_.getAs[Long]("target_e6")).map(_.getAs[Long]("nprobe"))
    assert(byT.sameElements(byT.sorted))
  }

  test("DKW gate: band shrinks with n, deviations and flags are consistent") {
    val out = SparkEntry.queries("stat_dkw_drift_gate")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, d, e, f) = (r.getAs[Long]("n"), r.getAs[Long]("d_sup_e6"),
        r.getAs[Long]("dkw_eps_e6"), r.getAs[Long]("drift_flag"))
      assert(d >= 0 && d <= 1000000L, "sup deviation is a probability")
      val expectEps = math.floor(
        math.sqrt(math.log(40.0) / (2.0 * n)) * 1e6 + 0.5).toLong
      assert(e == expectEps, "band is the closed-form DKW epsilon")
      assert(f == (if (d > e) 1L else 0L))
    }
    // ε(n) is decreasing in n
    val byN = out.sortBy(_.getAs[Long]("n"))
    byN.sliding(2).foreach { w =>
      if (w.length == 2 && w(0).getAs[Long]("n") < w(1).getAs[Long]("n"))
        assert(w(0).getAs[Long]("dkw_eps_e6") >= w(1).getAs[Long]("dkw_eps_e6"))
    }
  }

  test("state-rows monitor: totals are the running sum of new keys") {
    val out = SparkEntry.queries("streaming_state_rows")(spark, sf)
      .collect().sortBy(_.getAs[Long]("batch_seq"))
    assert(out.length == 4)
    var cum = 0L
    out.foreach { r =>
      val (nin, nk, tot) = (r.getAs[Long]("n_in"),
        r.getAs[Long]("new_keys"), r.getAs[Long]("state_rows_total"))
      assert(nk <= nin, "can't add more state keys than input rows")
      cum += nk
      assert(tot == cum, "unwatermarked dedup state only ever grows")
      assert(tot <= 97L, "key domain bounds the state")
    }
  }

  test("kfold: hash folds are exhaustive and the audit spread is honest") {
    val out = SparkEntry.queries("prep_kfold_stratified")(spark, sf).collect()
    val total = out.map(_.getAs[Long]("n_docs")).sum
    val nDocs = Tables.documents(spark, sf).count()
    assert(total == nDocs, "every document lands in exactly one fold")
    out.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val ns = rows.map(_.getAs[Long]("n_docs"))
      val spread = ns.max - ns.min
      assert(rows.forall(_.getAs[Long]("lang_spread") == spread))
    }
  }

  test("state-eviction monitor: watermark bounds the store, books balance") {
    val out = SparkEntry.queries("streaming_state_eviction")(spark, sf)
      .collect().sortBy(_.getAs[Long]("batch_seq"))
    assert(out.length == 5, "4 data batches + the finalize batch")
    var prevTotal = 0L
    out.foreach { r =>
      val (nk, ev, tot) = (r.getAs[Long]("new_keys"),
        r.getAs[Long]("evicted"), r.getAs[Long]("state_rows_total"))
      assert(nk >= 0 && ev >= 0)
      assert(tot == prevTotal + nk - ev, "state books must balance per batch")
      assert(tot <= 97L, "key domain bounds the live state")
      prevTotal = tot
    }
    assert(out.last.getAs[Long]("state_rows_total") == 0L,
      "after the finalize batch every entry is past the watermark")
    assert(out.map(_.getAs[Long]("evicted")).sum ==
           out.map(_.getAs[Long]("new_keys")).sum,
      "everything admitted is eventually evicted — bounded state")
  }

  test("per-source KLL: every group's contract holds at both grains") {
    Seq("stat_kll_quantiles", "stat_kll_by_source").foreach { key =>
      val out = SparkEntry.queries(key)(spark, sf).collect()
      assert(out.nonEmpty, key)
      assert(out.forall(_.getAs[Int]("within_rank_5pct") == 1),
        s"$key: a sketch estimate fell outside its rank contract")
    }
  }

  // ---- memo consumer census (r11 seed #4) -----------------------------

  test("every memoized exchange has >=2 consumers or a lineage-cut defense") {
    // Cross-query memoization exists to AMORTIZE: a memo with one
    // consumer is storage pinned for nothing — unless it exists to cut
    // lineage (the ann_beam 516-exchange fix), which is the one
    // defended exception class. The census reads the memo labels each
    // registered query's build touches in the suite's own count()
    // sweep (the ledger's via_memo attribution, taken at this tree), so
    // a new single-consumer memo fails here with its label named
    // instead of silently pinning blocks.
    // Allowlisted single-consumer memos, each with its defense on
    // record (r11 verdict #8 — don't re-litigate):
    //  - ann_beam_adjacency: its build self-joins the cell table on
    //    BOTH sides and unions the medoid highway cross
    //    (RetrievalOps.scala:484 "consumed on both self-join sides") —
    //    without the cut, the unrolled beam hops re-expanded every
    //    prior hop per consumer (the r10 516-exchange blowup).
    //  - ann_beam_medoids: consumed by adjacency's m1/m2 self-join
    //    (RetrievalOps.scala:493) — same double-consumption shape one
    //    level down.
    val lineageCutMemos = Set("ann_beam_adjacency", "ann_beam_medoids")
    val consumed = CountSweep.over(sf).touchedMemos.values.flatten.toSeq
    val counts = consumed.groupBy(identity).view.mapValues(_.size).toMap
    // the fingerprinted memos of the registry's queries (specs that
    // build memos of their own under other labels are not audited)
    val memoLabels = api.Graft.memoFingerprintsFor(sf).map(_._1).toSet
      .filter(counts.contains)
    assert(memoLabels.nonEmpty, "the sweep must build memo fingerprints")
    memoLabels.foreach { m =>
      val n = counts.getOrElse(m, 0)
      assert(n >= 2 || lineageCutMemos.contains(m),
        s"memo '$m' has $n consumer(s) and no lineage-cut defense")
    }
    // every consumed label has a fingerprint row (no phantom memos)
    assert(counts.keySet.subsetOf(memoLabels),
      s"consumed-but-unfingerprinted: ${counts.keySet -- memoLabels}")
  }

  // ---- overflow-safe epoch schedule (r10 advice) ---------------------

  test("epoch-schedule decomposition equals the naive product form") {
    import spark.implicits._
    // (a·b) div c == (a div c)·b + ((a mod c)·b) div c for these
    // magnitudes (small enough that the naive form cannot overflow,
    // large enough to exercise non-trivial quotients/remainders)
    val rows = Seq((40000000L, 997L, 13441L), (123456789L, 31L, 777L),
                   (999999937L, 1000000L, 1234567L))
    rows.foreach { case (a, b, c) =>
      val naive = (a * b) / c
      val decomposed = (a / c) * b + ((a % c) * b) / c
      assert(naive == decomposed, s"($a,$b,$c)")
    }
    val df = SparkEntry.queries("curate_epoch_schedule")(spark, sf)
    val out = df.collect()
    assert(out.nonEmpty)
    // allocations still sum to ~the 4-epoch budget (each source's
    // floor-div loses < 1 token per w_sum unit)
    val totTokens = out.map(_.getAs[Long]("n_tokens")).sum
    val totAlloc = out.map(_.getAs[Long]("alloc_tokens")).sum
    assert(totAlloc <= 4L * totTokens)
    assert(totAlloc >= 4L * totTokens - out.length * 1000000L)
  }
}
