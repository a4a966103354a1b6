package graft

import org.apache.spark.sql.functions._

/** Round-13 invariants beyond the DuckDB oracle: the auto-pitch grid
  * derivation, the EM convergence report's internal coherence, the
  * stratified CUPAC readout vs its own per-stratum recomputation, the
  * statistics-only join-cardinality chain vs a test-only exact join,
  * the drift-memory gate's books, and the grouped t-digest contract. */
class Round13Spec extends SparkSpec {

  test("gridKnnAutoPitch equals gridKnn at the derived pitch") {
    val pts = Tables.events(spark, sf)
      .select(col("user_id")).distinct()
      .withColumn("h", md5(col("user_id").cast("string")))
      .select(col("user_id"),
              conv(substring(col("h"), 1, 4), 16, 10).cast("long").as("xi"),
              conv(substring(col("h"), 5, 4), 16, 10).cast("long").as("yi"))
    val auto = graft.api.Graft.gridKnnAutoPitch(pts, "user_id", "xi", "yi")
      .collect()
    val n = pts.count()
    val expected = Iterator.iterate(16384L)(_ / 2).takeWhile(_ >= 1L)
      .filter(p => n * p * p <= 8L * 65536L * 65536L)
      .nextOption().getOrElse(1L)
    assert(auto.forall(_.getAs[Long]("pitch") == expected))
    val fixed = graft.api.Graft.gridKnn(pts, "user_id", "xi", "yi",
        pitch = expected)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("nn_user_id"),
                 r.getAs[Long]("dist2"), r.getAs[Long]("n_candidates")))
      .toSet
    assert(auto.map(r => (r.getAs[Long]("user_id"),
      r.getAs[Long]("nn_user_id"), r.getAs[Long]("dist2"),
      r.getAs[Long]("n_candidates"))).toSet == fixed,
      "auto-pitch output must equal the literal-pitch output at the pick")
  }

  test("gridKnnAutoPitch: occupancy target binds the pick on synthetic density") {
    // 1000 distinct points: the coarsest rung obeying n·p² ≤ 8·65536²
    // is 4096 (1000·4096² = 1.7e10 ≤ 3.4e10; 8192² overshoots)
    val pts = spark.range(1000).select(
      col("id").as("pid"),
      (col("id") * 37 % 65536).as("x"), (col("id") * 113 % 65536).as("y"))
    val out = graft.api.Graft.gridKnnAutoPitch(pts, "pid", "x", "y")
    assert(out.select(col("pitch")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(4096L))
  }

  test("link_em_convergence round 2 equals link_em_weights' estimates") {
    val conv = SparkEntry.queries("link_em_convergence")(spark, sf).collect()
      .map(r => r.getAs[Int]("round") -> r).toMap
    assert(conv.keySet == Set(1, 2, 3, 4))
    val w = SparkEntry.queries("link_em_weights")(spark, sf).collect().head
    val r2 = conv(2)
    // link_em_weights reports the round-2 M-step params — identical
    // doubles, identical rounding
    assert(r2.getAs[Double]("p_r6") == w.getAs[Double]("p_r6"))
    assert(r2.getAs[Double]("m_name_r6") == w.getAs[Double]("m_name_r6"))
    assert(r2.getAs[Double]("u_name_r6") == w.getAs[Double]("u_name_r6"))
    assert(r2.getAs[Double]("m_bucket_r6") == w.getAs[Double]("m_bucket_r6"))
    assert(r2.getAs[Double]("u_bucket_r6") == w.getAs[Double]("u_bucket_r6"))
    // deltas replay (±2e-6 slack: both sides round to 6dp separately)
    val params = Seq("p_r6", "m_name_r6", "u_name_r6", "m_bucket_r6",
      "u_bucket_r6")
    for (r <- 2 to 4) {
      val d = params.map(c =>
        math.abs(conv(r).getAs[Double](c) - conv(r - 1).getAs[Double](c))).max
      assert(math.abs(conv(r).getAs[Double]("delta_r6") - d) <= 2e-6,
        s"round $r delta incoherent")
    }
    // the report must show the burn-in collapse: round 2's move is a
    // small fraction of round 1's
    assert(conv(2).getAs[Double]("delta_r6") <
           conv(1).getAs[Double]("delta_r6") / 2)
  }

  test("stat_cupac_stratified equals per-stratum CUPED recomputation") {
    val out = SparkEntry.queries("stat_cupac_stratified")(spark, sf).collect()
    val types = Tables.events(spark, sf).select(col("event_type"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(out.map(_.getAs[String]("event_type")).toSet == types)
    // rebuild the per-unit frame once, then check one stratum against
    // the UNGROUPED readout on that stratum's slice — the grouped path
    // must be the same algebra
    val daily = Tables.events(spark, sf)
      .groupBy(col("user_id"), col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("c"))
    val d0 = daily.agg(min(col("d")).as("d0"))
    val perUnit = daily.crossJoin(broadcast(d0))
      .withColumn("pre", datediff(col("d"), col("d0")) < 15)
      .groupBy(col("user_id"), col("event_type"))
      .agg(coalesce(sum(when(col("pre"), col("c"))), lit(0L)).as("x"),
           coalesce(sum(when(!col("pre"), col("c"))), lit(0L)).as("y"))
      .withColumn("arm",
        conv(substring(md5(concat(col("user_id").cast("string"),
          lit(":ab"))), 1, 4), 16, 10).cast("long") % 2)
    val probe = types.head
    val single = graft.api.Graft.cupedReadout(
      perUnit.filter(col("event_type") === probe), "x", "y", "arm")
      .collect().head
    val grouped = out.find(_.getAs[String]("event_type") == probe).get
    for (c <- Seq("n", "n_a", "n_b", "srm_chi2_e6"))
      assert(grouped.getAs[Long](c) == single.getAs[Long](c), c)
    for (c <- Seq("theta_r6", "effect_raw_r6", "effect_cuped_r6",
                  "var_reduction_r6"))
      assert(grouped.getAs[Double](c) == single.getAs[Double](c), c)
    // var_reduction is a squared correlation
    out.foreach { r =>
      val vr = r.getAs[Double]("var_reduction_r6")
      assert(vr >= 0.0 && vr <= 1.0 + 1e-6)
    }
  }

  test("layout_join_card_chain: histogram method equals the real 3-way join") {
    val out = SparkEntry.queries("layout_join_card_chain")(spark, sf).collect()
      .map(r => r.getAs[String]("method") ->
        ((r.getAs[Long]("est"), r.getAs[Long]("rel_err_vs_hist_e6")))).toMap
    assert(out.keySet ==
      Set("freq_histogram", "mcv_top8_uniform_tail", "uniform"))
    // test-only exact pass: the actual chain join (the thing the
    // registered query deliberately never executes)
    val exact = Tables.events(spark, sf).select(col("user_id"))
      .join(Tables.orders(spark, sf),
            col("user_id") === col("o_custkey"))
      .join(Tables.lineitem(spark, sf).select(col("l_orderkey")),
            col("o_orderkey") === col("l_orderkey"))
      .count()
    assert(out("freq_histogram")._1 == exact,
      "per-key frequency estimate must be exact on an equi chain")
    assert(out("freq_histogram")._2 == 0L)
  }

  test("dq_profile_drift: gate replays and flags exactly the dirtied columns") {
    val out = SparkEntry.queries("dq_profile_drift")(spark, sf).collect()
    assert(out.length == 6)
    out.foreach { r =>
      assert(r.getAs[Long]("delta_null_e6") ==
        r.getAs[Long]("cur_null_e6") - r.getAs[Long]("prior_null_e6"))
      assert(r.getAs[Long]("delta_blank_e6") ==
        r.getAs[Long]("cur_blank_e6") - r.getAs[Long]("prior_blank_e6"))
      val expectDrift =
        math.abs(r.getAs[Long]("delta_null_e6")) > 5000 ||
        math.abs(r.getAs[Long]("delta_blank_e6")) > 5000
      assert(r.getAs[Int]("drift") == (if (expectDrift) 1 else 0))
    }
    assert(out.filter(_.getAs[Int]("drift") == 1)
      .map(_.getAs[String]("col_name")).toSet ==
      Set("o_custkey", "o_orderpriority"),
      "exactly the historically-dirtied columns drift")
  }

  test("stat_tdigest_by_type_day: grouped contract holds at sf0.01") {
    // sf0.001's (type, day) groups sit below the n >= 32 sketchable
    // floor; the gate SF exercises ~150 merging digests
    val out = SparkEntry.queries("stat_tdigest_by_type_day")(
      spark, "/root/testdata/sf0.01").collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Int]("within_rank_5pct") == 1),
      "every grouped t-digest estimate inside the ±5% rank window")
  }

  test("geo_dbscan_core matches a brute-force density replay") {
    val out = SparkEntry.queries("geo_dbscan_core")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_within_r"), r.getAs[String]("cls")))).toMap
    def h(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val pts = Tables.events(spark, sf).select("user_id").distinct()
      .collect().map(_.getLong(0)).map { u =>
        val hx = h(u.toString)
        (u, java.lang.Long.parseLong(hx.substring(0, 4), 16),
            java.lang.Long.parseLong(hx.substring(4, 8), 16))
      }
    // exact epsilon-ball counts (grid equivalence holds because
    // pitch 4096 > eps 3000)
    val nbrs = pts.map { case (u, x, y) =>
      u -> pts.filter { case (v, bx, by) =>
        v != u && (x - bx) * (x - bx) + (y - by) * (y - by) <= 9000000L
      }.map(_._1)
    }.toMap
    val cores = nbrs.filter(_._2.length >= 2).keySet
    pts.foreach { case (u, _, _) =>
      val expCls =
        if (cores(u)) "core"
        else if (nbrs(u).exists(cores)) "border"
        else "noise"
      assert(out(u) == ((nbrs(u).length.toLong, expCls)), s"user $u")
    }
  }

  test("link_survivorship: rules replay against the collected sides") {
    val out = SparkEntry.queries("link_survivorship")(spark, sf).collect()
      .map(r => r.getAs[Long]("custkey") -> r).toMap
    def h(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def draw(k: Long, salt: String): Long =
      java.lang.Long.parseLong(h(s"$k$salt").substring(0, 4), 16)
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"),
              col("c_nationkey").cast("long"), col("c_acctbal"))
      .collect()
    assert(out.size == cust.length)
    cust.foreach { r =>
      val (k, nm, nat) = (r.getLong(0), r.getString(1), r.getLong(2))
      val bal = r.getDouble(3)
      val dnm = if (draw(k, ":fs1") % 10 == 0) nm.dropRight(1) else nm
      val dnat = if (draw(k, ":fs2") % 20 == 0) (nat + 1) % 25 else nat
      val dbal = bal + (draw(k, ":fs3") % 11 - 5)
      val cents = math.floor(bal * 100 + 0.5).toLong
      val dcents = math.floor(dbal * 100 + 0.5).toLong
      val g = out(k)
      assert(g.getAs[String]("name_golden") ==
        (if (dnm.length > nm.length) dnm else nm)) // completeness
      assert(g.getAs[Number]("nation_golden").longValue == nat) // source trust
      assert(g.getAs[Long]("acct_golden_cents") ==
        Math.floorDiv(cents + dcents + 1, 2L)) // consensus half-up
      val conflicts = (if (nm != dnm) 1 else 0) +
        (if (nat != dnat) 1 else 0) + (if (cents != dcents) 1 else 0)
      assert(g.getAs[Long]("n_conflicts") == conflicts.toLong)
      assert(g.getAs[Long]("n_records") == 2L)
    }
  }

  test("stat_cupac_pooled replays the fixed-order fold over the strata") {
    val strata = SparkEntry.queries("stat_cupac_stratified")(spark, sf)
      .collect()
      .sortBy(_.getAs[String]("event_type"))
    val pooled = SparkEntry.queries("stat_cupac_pooled")(spark, sf)
      .collect().head
    assert(pooled.getAs[Long]("n_strata") == strata.length.toLong)
    val nTotal = strata.map(_.getAs[Long]("n")).sum
    assert(pooled.getAs[Long]("n_total") == nTotal)
    def fold(c: String): Double = strata.foldLeft(0.0) { (a, r) =>
      a + r.getAs[Long]("n") * r.getAs[Double](c) }
    assert(pooled.getAs[Double]("effect_raw_pooled_r6") ==
      BigDecimal(fold("effect_raw_r6") / nTotal)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val span = strata.map(_.getAs[Double]("effect_cuped_r6")).max -
               strata.map(_.getAs[Double]("effect_cuped_r6")).min
    assert(math.abs(pooled.getAs[Double]("effect_span_r6") - span) <= 1e-6)
  }

  test("layout_stats_snapshot_estimate equals the chain's MCV estimator") {
    val snap = SparkEntry.queries("layout_stats_snapshot_estimate")(
      spark, sf).collect().head
    val chain = SparkEntry.queries("layout_join_card_chain")(spark, sf)
      .collect()
      .find(_.getAs[String]("method") == "mcv_top8_uniform_tail").get
    assert(snap.getAs[Long]("est") == chain.getAs[Long]("est"),
      "persisted-stats estimate must equal the live-stats estimate")
    assert(snap.getAs[Long]("n_events") > 0 &&
           snap.getAs[Long]("d_lineitem") > 0)
  }

  test("gridKnnAutoPitch: empty input yields an empty result, no crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("pid", "x", "y")
    assert(graft.api.Graft.gridKnnAutoPitch(empty, "pid", "x", "y")
      .count() == 0L)
  }

  test("snapshotFixtureDir is write-once (sentinel-idempotent)") {
    val dir = tempDir("graft_snap_test").toString
    var writes = 0
    val p1 = graft.api.Graft.snapshotFixtureDir("r13spec_probe", dir) { out =>
      writes += 1
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      ()
    }
    val p2 = graft.api.Graft.snapshotFixtureDir("r13spec_probe", dir) { _ =>
      writes += 1
    }
    assert(p1 == p2 && writes == 1,
      "second call must reuse the completed snapshot without rewriting")
    // a different data dir gets its own tag
    val other = tempDir("graft_snap_test2").toString
    val p3 = graft.api.Graft.snapshotFixtureDir("r13spec_probe", other) { out =>
      writes += 1
    }
    assert(p3 != p1 && writes == 2)
  }

  test("portable floor division: pmod form equals floorDiv on negatives") {
    // the PLANS.md round-13 rule: Spark `div` truncates and DuckDB `//`
    // truncates on negatives, so floor must be spelled via pmod — pin
    // the Spark-side identity across signs and divisors
    import spark.implicits._
    val xs = (-25L to 25L).flatMap(x => Seq(2L, 3L, 7L).map(d => (x, d)))
    val got = xs.toDF("x", "d")
      .selectExpr("x", "d", "(x - pmod(x, d)) div d AS fd")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    xs.foreach { case (x, d) =>
      assert(got((x, d)) == Math.floorDiv(x, d), s"floorDiv($x, $d)")
    }
  }

  test("expectationRules rejects splice-hostile rule names") {
    val df = Tables.orders(spark, sf)
    intercept[IllegalArgumentException] {
      graft.api.Graft.expectationRules(df, "orders",
        Seq("bad'name" -> col("o_custkey").isNull))
    }
  }
}
