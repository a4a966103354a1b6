package graft

import org.apache.spark.sql.functions._

/** Round-9 additions: shared cross-query exchanges (co-purchase /
  * dedup memoization), the streaming minhash dedup's eviction state
  * machine, the IVF nprobe recall curve, and the wave-B analytics
  * (waterfill, Kneser-Ney, phrase query, DP histogram, Kaplan-Meier,
  * CUSUM). */
class Round9Spec extends SparkSpec {

  // ---- shared exchanges --------------------------------------------

  test("retrieval posting exchange is memoized per (session, dir)") {
    val p1 = operators.LexicalOps.postings(spark, sf)
    val p2 = operators.LexicalOps.postings(spark, sf)
    assert(p1 eq p2, "second call must return the cached checkpoint")
    // posting tf sums reconstruct the token stream exactly
    val tokCount = Tables.documentsSpread(spark, sf)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " "))).count()
    assert(p1.agg(sum(col("tf"))).collect()(0).getLong(0) == tokCount)
  }

  test("coPurchasePairs is memoized per (session, dir) and edges derive") {
    val p1 = api.Graft.coPurchasePairs(spark, sf)
    val p2 = api.Graft.coPurchasePairs(spark, sf)
    assert(p1 eq p2, "second call must return the cached checkpoint")
    val pairs = p1.count()
    val e2 = api.Graft.coPurchaseEdges(spark, sf, minSupport = 2).count()
    assert(e2 <= pairs, "support filter can only shrink the edge set")
    // support-1 edges == distinct pair keys (the triangle contract)
    assert(p1.select(col("a"), col("b")).distinct().count() == pairs)
  }

  test("graph queries agree with their pre-memoization edge semantics") {
    // independent rebuild of the support-2 edge set, bypassing the memo
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_partkey"))
    val fresh = li.alias("x")
      .join(li.alias("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
        col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2)
      .select(col("a"), col("b"))
    val memo = api.Graft.coPurchaseEdges(spark, sf, minSupport = 2)
    assert(fresh.exceptAll(memo).isEmpty && memo.exceptAll(fresh).isEmpty)
  }

  // ---- streaming minhash dedup -------------------------------------

  test("streaming_minhash_dedup links are a subset of the batch LSH pairs") {
    val stream = SparkEntry.queries("streaming_minhash_dedup")(spark, sf)
      .select(col("a_id"), col("b_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .select(col("a_id"), col("b_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the stream emits canon-star links within the retention window,
    // each of which is a band-sharing verified pair — batch LSH finds
    // every band-sharing verified pair
    assert(stream.subsetOf(batch), s"stream-only pairs: ${stream -- batch}")
  }

  test("streaming minhash eviction: an idle band re-seeds, a live band links") {
    import spark.implicits._
    val dir = tempDir("graft_r9_stream").toString
    val ta = "alpha beta gamma delta epsilon zeta"
    val tb = "omega psi chi phi upsilon tau"
    val docs = Seq(
      (0L, ta), (1L, "one two three four"),
      (200L, "five six seven eight"), (201L, "nine ten eleven twelve"),
      (400L, tb), (401L, "red green blue yellow"),
      (600L, tb), (601L, ta))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("streaming_minhash_dedup")(spark, dir)
      .select(col("a_id"), col("b_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batches (ntile 4 by id): {0,1} {200,201} {400,401} {600,601}.
    // family A (ids 0, 601): gap spans batches 1→4; watermark at batch
    // 3 is max_id(batch 2) − 1 = 200 > 0 + 150 → band evicted, 601
    // re-seeds, NO link. family B (ids 400, 600): batches 3→4, no
    // interior batch → state alive → link (400, 600).
    assert(out.contains((400L, 600L)), s"expected live-band link, got $out")
    assert(!out.exists(p => p._1 == 0L), s"family-A link survived eviction: $out")
  }

  // ---- IVF recall curve --------------------------------------------

  test("ann_nprobe_recall_curve: recall and scanned fraction are monotone") {
    val rows = SparkEntry.queries("ann_nprobe_recall_curve")(spark, sf)
      .orderBy(col("nprobe")).collect()
    assert(rows.length == 4)
    val recalls = rows.map(_.getAs[Long]("recall_e6"))
    val scanned = rows.map(_.getAs[Long]("scanned_e6"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must not drop as nprobe grows: ${recalls.toSeq}")
    assert(scanned.zip(scanned.tail).forall { case (a, b) => a < b },
      s"scanned fraction must strictly grow: ${scanned.toSeq}")
    assert(scanned.last <= 1000000L)
  }

  // ---- wave-B analytics --------------------------------------------

  test("curate_mix_waterfill: allocations respect stock, level, and budget") {
    val rows = SparkEntry.queries("curate_mix_waterfill")(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("allocated_tokens")).sum
    assert(total <= 100000L, s"allocated $total > budget")
    rows.foreach { r =>
      val (avail, alloc, capped) = (r.getAs[Long]("avail_tokens"),
        r.getAs[Long]("allocated_tokens"), r.getAs[Long]("capped"))
      assert(alloc <= avail)
      if (capped == 1L) assert(alloc == avail, "capped source contributes all")
    }
    val uncapped = rows.filter(_.getAs[Long]("capped") == 0L)
      .map(_.getAs[Long]("allocated_tokens")).distinct
    assert(uncapped.length <= 1, "uncapped sources share one level")
  }

  test("ta_kneser_ney_bigram: probabilities are valid e6 and ranked by count") {
    val rows = SparkEntry.queries("ta_kneser_ney_bigram")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    rows.foreach { r =>
      val p = r.getAs[Long]("pkn_e6")
      assert(p >= 0 && p <= 1000000L, s"pkn_e6 out of range: $p")
    }
    val counts = rows.map(_.getAs[Long]("c2"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("retrieval_phrase_query: every hit contains the phrase verbatim") {
    val hits = SparkEntry.queries("retrieval_phrase_query")(spark, sf).collect()
    assert(hits.forall(_.getAs[Long]("n_occurrences") >= 1))
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val phrases = Map(1 -> "spark hash join", 2 -> "table scan fast",
                      3 -> "sort merge batch")
    hits.foreach { r =>
      val t = texts(r.getAs[Long]("doc_id"))
      assert(t.contains(phrases(r.getAs[Int]("qid"))),
        s"doc ${r.getAs[Long]("doc_id")} lacks phrase ${r.getAs[Int]("qid")}")
    }
  }

  test("privacy_dp_histogram: noise bounded by the 48-bit uniform's tails") {
    val rows = SparkEntry.queries("privacy_dp_histogram")(spark, sf).collect()
    rows.foreach { r =>
      val noise = r.getAs[Long]("noise_e2")
      // |ln(2u)| <= ln(2^49) ~ 33.96 -> 3396 centi-units
      assert(math.abs(noise) <= 3500, s"noise out of Laplace range: $noise")
      assert(r.getAs[Long]("noisy_n_e2") ==
        r.getAs[Long]("true_n") * 100 + noise)
    }
  }

  test("a_kaplan_meier: at-risk counts telescope and hazards are valid") {
    val rows = SparkEntry.queries("a_kaplan_meier")(spark, sf)
      .orderBy(col("t")).collect()
    val nUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(rows.head.getAs[Long]("n_risk") == nUsers, "everyone at risk at t=0")
    val leaving = rows.map(r =>
      r.getAs[Long]("d_events") + r.getAs[Long]("c_censored"))
    assert(leaving.sum == nUsers)
    // n_risk(t_next) = n_risk(t) - leaving(t) across the grid
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(b.getAs[Long]("n_risk") == a.getAs[Long]("n_risk") -
        a.getAs[Long]("d_events") - a.getAs[Long]("c_censored"))
    }
    rows.foreach { r =>
      val h = r.getAs[Long]("hazard_e6")
      assert(h >= 0 && h <= 1000000L)
    }
  }

  test("stat_cusum_shift: excursions are nonnegative and sum to zero drift") {
    val rows = SparkEntry.queries("stat_cusum_shift")(spark, sf)
      .orderBy(col("day")).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("cusum_pos_scaled") >= 0)
      assert(r.getAs[Long]("cusum_neg_scaled") >= 0)
    }
    // sum of scaled deviations is identically 0, so the last cum is 0
    // and the final positive excursion equals -min(0, prior min) >= 0
    val d = rows.length.toLong
    val t = rows.map(_.getAs[Long]("n")).sum
    assert(rows.map(r => r.getAs[Long]("n") * d - t).sum == 0L)
  }

  // ---- wave-C additions --------------------------------------------

  test("stat_poisson_bootstrap_ci: interval is ordered and brackets the scale") {
    val rows = SparkEntry.queries("stat_poisson_bootstrap_ci")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, hi, mean) = (r.getAs[Long]("ci_lo_c"),
        r.getAs[Long]("ci_hi_c"), r.getAs[Long]("mean_c"))
      assert(lo <= hi)
      // replica means concentrate around the sample mean — the interval
      // must be same-scale, not degenerate
      assert(hi - lo < math.max(mean, 1L), s"CI implausibly wide: $lo..$hi vs $mean")
    }
  }

  test("e_position_attribution conserves each purchase's 10000 bps of cents") {
    val total = SparkEntry.queries("e_position_attribution")(spark, sf)
      .agg(sum(col("attributed_c_e4"))).collect()(0).getLong(0)
    // independent recompute of attributed purchases (>=1 click in the hour)
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"))
    val touched = p.join(c, Seq("user_id"))
      .filter(col("cts") >= col("pts") - expr("interval 1 hour") &&
              col("cts") < col("pts"))
      .select(col("pid"), col("cents")).distinct()
    val expected = touched.agg(sum(col("cents") * 10000)).collect()(0).getLong(0)
    assert(total == expected, s"$total != $expected")
  }

  test("prep_feature_hashing: bucket masses partition the token stream") {
    val rows = SparkEntry.queries("prep_feature_hashing")(spark, sf).collect()
    val totalTokens = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0).count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == totalTokens)
    rows.foreach { r =>
      assert(r.getAs[Long]("top_share_e6") <= 1000000L)
      assert(r.getAs[Long]("n_terms") >= 1L)
    }
  }

  test("ann_rq_topk: per-query ranks are ordered by reconstructed score") {
    val rows = SparkEntry.queries("ann_rq_topk")(spark, sf).collect()
    assert(rows.length == 15) // 5 queries x top-3
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("stat_randomization_test: p-values are valid and sizes partition") {
    val rows = SparkEntry.queries("stat_randomization_test")(spark, sf).collect()
    val typeCounts = Tables.events(spark, sf).groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val p = r.getAs[Long]("p_e6")
      assert(p >= 0 && p <= 1000000L)
      assert(r.getAs[Long]("n_extreme") <= 16L)
      assert(r.getAs[Long]("n1") + r.getAs[Long]("n2") ==
        typeCounts(r.getAs[String]("event_type")))
    }
  }

  test("graph_copurchase_pagerank: ranks are positive and k-bounded") {
    val rows = SparkEntry.queries("graph_copurchase_pagerank")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    assert(rows.forall(_.getAs[Double]("rank") > 0))
  }

  // ---- wave-D additions --------------------------------------------

  test("stat_bh_fdr: rejections are a prefix of the p-sorted order") {
    val rows = SparkEntry.queries("stat_bh_fdr")(spark, sf).collect()
      .sortBy(_.getAs[Long]("bh_rank"))
    assert(rows.length == 20) // one test per source
    rows.foreach { r =>
      val p = r.getAs[Long]("p_e6"); assert(p >= 0 && p <= 1000000L)
    }
    // BH step-up rejects ALL hypotheses up to the cutoff rank and none
    // after — the decision vector must be monotone non-increasing
    val dec = rows.map(_.getAs[Long]("rejected"))
    assert(dec.zip(dec.tail).forall { case (a, b) => a >= b },
      s"non-prefix rejection vector: ${dec.mkString(",")}")
  }

  test("shard_ring_vnodes: arc-steal movement matches ring theory") {
    val rows = SparkEntry.queries("shard_ring_vnodes")(spark, sf).collect()
    assert(rows.length == 8)
    val (moved, total) = (rows.map(_.getAs[Long]("n_moved")).sum,
      rows.map(_.getAs[Long]("n_docs")).sum)
    val frac = moved.toDouble / total
    // adding 16 of 144 vnodes steals ≈ 1/9 of the key space
    assert(frac > 0.02 && frac < 0.30, s"move fraction $frac outside band")
    rows.foreach(r => assert(r.getAs[Long]("n_moved") <= r.getAs[Long]("n_docs")))
  }

  test("ta_cdc_chunking conserves every chunked document's characters") {
    val rows = SparkEntry.queries("ta_cdc_chunking")(spark, sf).collect()
    val expected = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && length(col("text")) >= 8)
      .groupBy(col("lang")).agg(sum(length(col("text"))).as("chars"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("total_chars") == expected(r.getAs[String]("lang")))
      assert(r.getAs[Long]("max_chunk_len") >= 1L)
      assert(r.getAs[Long]("n_chunks") >= r.getAs[Long]("n_docs"))
    }
  }

  test("ta_cdc_chunking: native CdcBoundaries ≡ the position-explode form") {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sf)
      .filter(col("text").isNotNull && length(col("text")) >= 8)
      .select(col("doc_id"), col("lang"), col("text"),
              length(col("text")).cast("long").as("len"))
    val bounds = d
      .select(col("doc_id"), col("lang"), col("len"),
              explode(sequence(lit(8L), col("len"))).as("i"), col("text"))
      .filter(conv(substring(md5(expr("substring(text, i - 7, 8)")), 1, 2),
        16, 10).cast("long") % 16 === 0)
      .select(col("doc_id"), col("lang"), col("i"))
    val ends = bounds
      .union(d.select(col("doc_id"), col("lang"), col("len").as("i")))
      .distinct()
    val witness = ends.withColumn("clen",
        col("i") - coalesce(lag(col("i"), 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("i"))), lit(0L)))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_chunks"), sum(col("clen")).as("total_chars"),
           expr("sum(clen) * 100 div count(1)").as("mean_chunk_len_e2"),
           max(col("clen")).as("max_chunk_len"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val native = SparkEntry.queries("ta_cdc_chunking")(spark, sf).collect()
    assert(native.length == witness.size)
    native.foreach { r =>
      assert(r.toSeq.tail == witness(r.getAs[String]("lang")),
        s"mismatch for lang ${r.getAs[String]("lang")}")
    }
  }

  test("shard_ring_vnodes: driver-side ring md5 ≡ the SQL md5 recipe") {
    val mdd = java.security.MessageDigest.getInstance("MD5")
    Seq((0, 0), (7, 15), (8, 3)).foreach { case (sId, j) =>
      val hex = mdd.digest(s"$sId:$j:ring".getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      val driver = java.lang.Long.parseLong(hex, 16)
      val viaSpark = spark.sql(
        s"SELECT CAST(conv(substring(md5('$sId:$j:ring'), 1, 12), 16, 10) AS BIGINT) v")
        .collect()(0).getLong(0)
      assert(driver == viaSpark, s"ring hash mismatch at ($sId,$j)")
    }
  }

  test("e_littles_law_audit: swept concurrency integral equals dwell sum") {
    val rows = SparkEntry.queries("e_littles_law_audit")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("area_us") == r.getAs[Long]("sum_dur_us"),
        s"L=λW broken on ${r.getAs[java.sql.Date]("day")}")
    }
  }

  // ---- wave-E additions --------------------------------------------

  test("j_value_band_join: bucketed equi-join ≡ brute-force band join") {
    val rows = SparkEntry.queries("j_value_band_join")(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    val p = Tables.part(spark, sf).select(col("p_partkey").as("pk"),
      col("p_brand").as("brand"),
      floor(col("p_retailprice") * 100 + 0.5).cast("long").as("cents"))
    val p2 = p.select(col("pk").as("pk2"), col("brand").as("brand2"),
      col("cents").as("cents2"))
    val brute = p.join(p2, col("pk") < col("pk2") &&
        col("brand") =!= col("brand2") &&
        abs(col("cents") - col("cents2")) <= 50L).count()
    assert(total == brute, s"bucketed $total != brute $brute")
    rows.foreach { r =>
      assert(r.getAs[Long]("min_gap_c") <= r.getAs[Long]("max_gap_c"))
      assert(r.getAs[Long]("max_gap_c") <= 50L)
    }
  }

  test("mv_incremental_hll: batch-merged registers equal the direct build") {
    val rows = SparkEntry.queries("mv_incremental_hll")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("registers_diff") == 0L,
        s"merge law broken for ${r.getAs[String]("event_type")}")
      assert(r.getAs[Double]("hll_incr") == r.getAs[Double]("hll_direct"))
      assert(r.getAs[Long]("v_regs") <= 64L)
    }
  }

  test("retrieval_token_maxsim: scores bounded by |q| and rank-ordered") {
    val rows = SparkEntry.queries("retrieval_token_maxsim")(spark, sf).collect()
    assert(rows.length == 15) // 3 queries x top-5
    rows.groupBy(_.getAs[Int]("qid")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("maxsim_e6"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
      // each per-token max is a cosine ≤ 1 (e6-scaled), 3 tokens per query
      g.foreach(r => assert(r.getAs[Long]("maxsim_e6") <= 3000000L))
    }
  }

  // ---- wave-F additions --------------------------------------------

  test("stat_neyman_allocation: largest-remainder allocation spends the budget exactly") {
    val rows = SparkEntry.queries("stat_neyman_allocation")(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Long]("n_alloc")).sum == 100L)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_alloc") >= 0L)
      assert(r.getAs[Long]("w_e6") > 0L)
    }
  }

  test("curate_rejection_sampling flattens the language mix") {
    val rows = SparkEntry.queries("curate_rejection_sampling")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_before"))
      assert(r.getAs[Long]("p_e6") <= 1000000L)
    }
    // uniform target: every kept share within a loose band of 1/5
    val shares = rows.map(_.getAs[Long]("kept_share_e6"))
    assert(shares.forall(s => s > 80000L && s < 360000L),
      s"mix not flattened: ${shares.mkString(",")}")
    // rejection must flatten harder than the raw mix: kept max/min ratio
    // no worse than the before max/min ratio
    val before = rows.map(_.getAs[Long]("n_before").toDouble)
    val kept = rows.map(_.getAs[Long]("n_kept").toDouble)
    assert(kept.max / kept.min <= before.max / before.min + 1e-9)
  }

  test("e_late_arrival_audit: lateness counts and lags are bounded") {
    val rows = SparkEntry.queries("e_late_arrival_audit")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_late") < r.getAs[Long]("n_events"))
      val lag = r.getAs[Long]("max_lag_us")
      assert(lag >= 0L && lag < 86400000000L, s"lag $lag outside a day")
    }
  }

  // ---- wave-G additions --------------------------------------------

  test("dedup_cdc_chunks: chunk totals agree with ta_cdc_chunking's census") {
    val r = SparkEntry.queries("dedup_cdc_chunks")(spark, sf).collect()
    assert(r.length == 1)
    val row = r(0)
    val chunksFromCensus = SparkEntry.queries("ta_cdc_chunking")(spark, sf)
      .agg(sum(col("n_chunks"))).collect()(0).getLong(0)
    assert(row.getAs[Long]("n_chunks") == chunksFromCensus)
    assert(row.getAs[Long]("n_distinct_chunks") <= row.getAs[Long]("n_chunks"))
    assert(row.getAs[Long]("dup_bytes_saved") >= 0L)
    assert(row.getAs[Long]("max_dup") >= 1L)
  }

  test("ts_ewma_control_chart: z stays inside each type's value hull") {
    val rows = SparkEntry.queries("ts_ewma_control_chart")(spark, sf).collect()
    assert(rows.nonEmpty)
    val hull = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(min(col("n")).as("lo"), max(col("n")).as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (lo, hi) = hull(r.getAs[String]("event_type"))
      val z = r.getAs[Long]("z_e2")
      // EWMA is a convex combination of window values
      assert(z >= lo * 100 - 100 && z <= hi * 100 + 100, s"z $z outside hull")
      assert(r.getAs[Long]("lo_e2") <= r.getAs[Long]("hi_e2"))
      val expected = if (z < r.getAs[Long]("lo_e2") || z > r.getAs[Long]("hi_e2")) 1L else 0L
      assert(r.getAs[Long]("flag") == expected)
    }
  }

  test("ml_margin_calibration: bins partition the test docs") {
    val rows = SparkEntry.queries("ml_margin_calibration")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nTest = Tables.documentsSpread(spark, sf)
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10000 >= 8000)
      .count()
    assert(rows.map(_.getAs[Long]("n")).sum == nTest)
    rows.foreach { r =>
      assert(r.getAs[Long]("acc_e6") <= 1000000L)
      assert(r.getAs[Long]("margin_min_e6") >= 0L)
      assert(r.getAs[Long]("margin_min_e6") <= r.getAs[Long]("margin_max_e6"))
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n"))
    }
  }

  // ---- wave-H additions --------------------------------------------

  test("v_random_projection_jl: ratio mass concentrates near 1") {
    val rows = SparkEntry.queries("v_random_projection_jl")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    val sampled = Tables.embeddings(spark, sf).select(col("vec_id")).as("a")
      .join(Tables.embeddings(spark, sf).select(col("vec_id").as("v2")),
        col("vec_id") < col("v2") && pmod(col("vec_id") + col("v2"), lit(23)) === 0)
      .count()
    assert(total <= sampled && total >= sampled - 5) // d2o = 0 exclusions only
    // JL: E[‖Ax−Ay‖²/(k‖x−y‖²)] = 1 — the weighted bin-midpoint mean
    // must land near it (k = 8 gives wide but centered spread)
    val mean = rows.map(r => r.getAs[Long]("n_pairs").toDouble *
      (r.getAs[Long]("r_min_e6") + r.getAs[Long]("r_max_e6")) / 2).sum / total
    assert(mean > 700000 && mean < 1300000, s"ratio mean $mean off-center")
  }

  test("j_allen_interval_census partitions the paired user-days") {
    val rows = SparkEntry.queries("j_allen_interval_census")(spark, sf).collect()
    val names = Set("equals", "starts", "started_by", "finishes",
      "finished_by", "before", "after", "meets", "met_by", "during",
      "contains", "overlaps", "overlapped_by")
    rows.foreach(r => assert(names.contains(r.getAs[String]("relation"))))
    def span(t: String) = Tables.events(spark, sf)
      .filter(col("event_type") === t)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(unix_micros(col("ts"))).as("s"), max(unix_micros(col("ts"))).as("e"))
      .filter(col("s") < col("e"))
    val expected = span("click").select(col("user_id"), col("day"))
      .join(span("view").select(col("user_id"), col("day")), Seq("user_id", "day"))
      .count()
    assert(rows.map(_.getAs[Long]("n")).sum == expected)
  }

  test("graph_modularity: exact-rational decomposition is conservative") {
    val rows = SparkEntry.queries("graph_modularity")(spark, sf).collect()
    assert(rows.nonEmpty)
    val m2 = rows.head.getAs[Long]("m2")
    assert(rows.forall(_.getAs[Long]("m2") == m2))
    // every directed edge has exactly one source community
    assert(rows.map(_.getAs[Long]("deg_sum")).sum == m2)
    rows.foreach { r =>
      val in2 = r.getAs[Long]("in_edges2")
      assert(in2 % 2 == 0) // both orientations of an internal edge
      assert(in2 <= r.getAs[Long]("deg_sum"))
      assert(r.getAs[Long]("q_num") ==
        in2 * m2 - r.getAs[Long]("deg_sum") * r.getAs[Long]("deg_sum"))
    }
  }

  test("Graft.bhStepUp: the step-up max re-qualifies lower ranks") {
    import spark.implicits._
    // naive per-rank thresholding rejects NOTHING here (every p_(i)
    // exceeds i·α/m except the last); BH's step-up rejects ALL FOUR
    val p = Seq(("a", 60000L), ("b", 70000L), ("c", 80000L), ("d", 90000L))
      .toDF("key", "p_e6")
    val out = api.Graft.bhStepUp(p, "key", "p_e6").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("rejected")).toMap
    assert(out.values.forall(_ == 1L), s"step-up broken: $out")
    // and a plain prefix case: 3 small + 1 huge
    val p2 = Seq(("a", 1000L), ("b", 20000L), ("c", 30000L), ("d", 900000L))
      .toDF("key", "p_e6")
    val out2 = api.Graft.bhStepUp(p2, "key", "p_e6").collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("rejected")).toMap
    assert(out2 == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 0L))
  }

  test("privacy_dp_median: release is a valid candidate with bounded rank error") {
    val rows = SparkEntry.queries("privacy_dp_median")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      // ε=1 exponential mechanism: P(rank error > (2/ε)(ln|R| + t)) ≤ e^−t;
      // with |R| ≤ a few thousand candidates a loose n/2 bound suffices as
      // a sanity rail, and rank_err2 = |2·rank − n| ≤ n by construction
      assert(r.getAs[Long]("rank_err2") <= n)
      assert(r.getAs[Long]("dp_median_c") >= 0L)
      assert(r.getAs[Long]("true_median_c") >= 0L)
    }
  }

  test("e_shapley_attribution: efficiency axiom Σφ = v(N) − v(∅) holds exactly") {
    val rows = SparkEntry.queries("e_shapley_attribution")(spark, sf).collect()
    assert(rows.length == 3)
    val phiSum6 = rows.map(_.getAs[Long]("phi_num6")).sum
    // independent recompute of the grand coalition and null coalition
    val um = Tables.events(spark, sf).groupBy(col("user_id"))
      .agg(
        (max(when(col("event_type") === "click", 1).otherwise(0)) +
         max(when(col("event_type") === "view", 1).otherwise(0)) +
         max(when(col("event_type") === "signup", 1).otherwise(0))).as("touched"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val vFull = um.agg(sum(col("conv"))).collect()(0).getLong(0)
    val vNone = um.filter(col("touched") === 0)
      .agg(coalesce(sum(col("conv")), lit(0L))).collect()(0).getLong(0)
    assert(phiSum6 == 6L * (vFull - vNone),
      s"efficiency broken: $phiSum6 != 6*(${vFull} - ${vNone})")
    rows.foreach(r => assert(r.getAs[Long]("phi_num6") >= 0L)) // monotone game
  }

  test("dedup_minhash_estimate_audit: estimator residuals are 12-perm plausible") {
    val rows = SparkEntry.queries("dedup_minhash_estimate_audit")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      assert(bin >= 0 && bin <= 10)
      assert(r.getAs[Long]("mean_abs_err_e6") <= r.getAs[Long]("max_abs_err_e6"))
      // σ(est) = √(J(1−J)/12) ≤ 0.145 — mean |err| beyond 0.4 would mean
      // the signature and shingle pipelines diverged
      assert(r.getAs[Long]("mean_abs_err_e6") <= 400000L)
      assert(r.getAs[Long]("max_abs_err_e6") <= 1000000L)
    }
  }

  test("graph_2hop_reach: frontier sizes bounded by deg-squared closure") {
    val rows = SparkEntry.queries("graph_2hop_reach")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    rows.foreach { r =>
      assert(r.getAs[Long]("n2hop") >= 1L && r.getAs[Long]("deg") >= 1L)
    }
    val byRank = rows.map(_.getAs[Long]("n2hop"))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }
}
