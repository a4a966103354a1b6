package graft

import graft.api.Graft
import org.apache.spark.sql.functions._

/** The public facade must agree with the registered query operators. */
class GraftApiSpec extends SparkSpec {

  test("minhashNearDups via API == dedup_minhash_lsh query") {
    val api = Graft.minhashNearDups(
        Tables.documents(spark, sf), "doc_id", "text", minJaccard = 0.5)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = graft.operators.DedupOps.queries("dedup_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(api == q)
  }

  test("simhashNearDups via API == dedup_simhash query (modulo lang blocking)") {
    val api = Graft.simhashNearDups(Tables.documents(spark, sf), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = graft.operators.DedupOps.queries("dedup_simhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the query blocks by language; the API is unblocked → superset
    assert(q.subsetOf(api))
    val api64 = Graft.simhash64NearDups(Tables.documents(spark, sf), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q64 = graft.operators.DedupOps.queries("dedup_simhash64")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(q64.nonEmpty && q64.subsetOf(api64))
  }

  test("degenerate 1-token docs neither crash nor become false candidates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "solo"), (2L, "solo"), // no bigrams → must be excluded, not paired
      (3L, "a b a b a b"), (4L, "a b a b a c"))
      .toDF("doc_id", "text")
    val pairs = Graft.minhashNearDups(docs, "doc_id", "text", minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 <= 2 || p._2 <= 2))
    assert(pairs.contains((3L, 4L)))
  }

  test("dedupExact keeps first id per text and is idempotent") {
    import spark.implicits._
    val docs = Seq((3L, "same text"), (1L, "same text"), (2L, "other"))
      .toDF("doc_id", "text")
    val d = Graft.dedupExact(docs, "doc_id", "text")
    val kept = d.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    assert(Graft.dedupExact(d, "doc_id", "text").count() == d.count())
  }

  test("cosineTopK via API == v3_cosine_topk query (same ranking)") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val api = Graft.cosineTopK(q, e, 3)
      .select($"qid", $"rank", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val reg = graft.operators.RetrievalOps.queries("v3_cosine_topk")(spark, sf)
      .select($"qid", $"rank", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(api == reg)
  }

  test("annTopK via API == ann_lsh_topk query") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val api = Graft.annTopK(q, e, 3)
      .select($"qid", $"rank", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val reg = graft.operators.RetrievalOps.queries("ann_lsh_topk")(spark, sf)
      .select($"qid", $"rank", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(api == reg)
  }

  test("saltedCount == plain groupBy count (skew-safe aggregation)") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val salted = Graft.saltedCount(ev, "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val plain = ev.groupBy($"event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == plain)
  }

  test("sessionize via API == sessionize_30m query") {
    import spark.implicits._
    val api = Graft.sessionize(Tables.events(spark, sf), "user_id", "ts", "event_id")
      .select($"user_id", $"session_id", $"n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val reg = graft.operators.EventOps.queries("sessionize_30m")(spark, sf)
      .select($"user_id", $"session_id", $"n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(api == reg)
  }

  test("sampleDeterministic via API == sample_stratified query counts") {
    import spark.implicits._
    val api = Graft.sampleDeterministic(
        Tables.documents(spark, sf), "doc_id",
        when($"lang" === "en", lit(500)).otherwise(lit(2000)))
      .groupBy($"lang").agg(count(lit(1)).as("n_sampled"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val reg = graft.operators.CurationOps.queries("sample_stratified")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    // queries report zero-sample strata too; the API filter just drops rows
    assert(reg.filter(_._2 > 0) == api)
  }

  test("curateQuota via API == curate_quota query aggregates") {
    import spark.implicits._
    val toks = split($"text", " ")
    val scored = Tables.documents(spark, sf)
      .withColumn("quality_e6",
        floor(graft.functions.TextMetrics.quality(toks) * 1e6 + 0.5).cast("long"))
    val api = Graft.curateQuota(scored, "doc_id", "text", "lang", "quality_e6", 50)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"quality_e6").as("sum_quality_e6"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val reg = graft.operators.CurationOps.queries("curate_quota")(spark, sf)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(api == reg)
  }

  test("quantizeInt8: values bounded by ±127, maxabs element maps to exactly ±127") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", graft.functions.VectorFns.asDouble($"embedding").as("v"))
    val q = Graft.quantizeInt8(e, "v", "qv")
    val stats = q.select(explode($"qv").as("x"))
      .agg(min($"x"), max($"x")).head()
    assert(stats.getLong(0) >= -127 && stats.getLong(1) <= 127)
    assert(stats.getLong(0) == -127 || stats.getLong(1) == 127,
      "the maxabs element must hit full scale")
  }

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over dogs")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix the quick brown fox jumps suffix"), // shares a 5-gram
      (2L, "quick brown fox jumps over"),              // shares a 5-gram
      (3L, "totally unrelated words here now ok"),     // clean
      (4L, "the quick brown fox leaps over dogs")      // 4-gram overlap only
    ).toDF("doc_id", "text")
    val flagged = Graft.decontaminate(corpus, bench, 5)
      .as[Long].collect().sorted.toSeq
    assert(flagged == Seq(1L, 2L))
    // equivalence vs the registered query's census on the real corpus
    val docs = Tables.documents(spark, sf)
    val api = Graft.decontaminate(
      docs.filter($"doc_id" % 97 =!= 3), docs.filter($"doc_id" % 97 === 3))
      .count()
    val reg = operators.CurationOps.queries("curate_decontaminate")(spark, sf)
      .agg(sum($"n_contaminated")).head().getLong(0)
    assert(api == reg)
  }

  test("quantizeInt8 is invariant under positive rescaling of the corpus") {
    import spark.implicits._
    // values chosen OFF the exact .5 code boundaries: at a boundary
    // (e.g. -1.5/3.0 ⇒ code -63.5) the rescaled ratio can land an ulp
    // away and flip the floor — invariance is exact only away from ties
    val base = Seq(
      (1L, Seq(0.53, -1.48, 3.0)),
      (2L, Seq(-2.97, 0.26, 1.01)),
      (3L, Seq(0.0, 2.04, -0.73))).toDF("vec_id", "v")
    val scaled = base.select($"vec_id", transform($"v", x => x * 3.7).as("v"))
    val qa = Graft.quantizeInt8(base, "v", "qv")
      .select($"vec_id", $"qv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val qb = Graft.quantizeInt8(scaled, "v", "qv")
      .select($"vec_id", $"qv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // one global maxabs scale ⇒ quantized codes depend only on the
    // DIRECTIONS of the data, not its magnitude
    assert(qa == qb)
  }

  test("removeBoilerplate drops exactly the repeated chunks, in order") {
    import spark.implicits._
    // two docs share their first 10 words (boilerplate header); tails unique
    val header = (1 to 10).map(i => s"h$i").mkString(" ")
    val docs = Seq(
      (1L, header + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, header + " " + (1 to 10).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 5).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val out = Graft.removeBoilerplate(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == (1L, (1 to 10).map(i => s"a$i").mkString(" ")))
    assert(out(2L) == (1L, (1 to 10).map(i => s"b$i").mkString(" ")))
    assert(out(3L) == (1L, (1 to 5).map(i => s"c$i").mkString(" ")))
  }

  test("redactPii counts and replaces emails/phones, leaves clean text alone") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at jo.doe+x@mail.example.org or 555-123-4567 today"),
      (2L, "no contact info here")).toDF("id", "text")
    val out = Graft.redactPii(df, "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == (1L, 1L, "reach me at <EMAIL> or <PHONE> today"))
    assert(out(2L) == (0L, 0L, "no contact info here"))
  }

  test("quantizeInt8 on an all-zero corpus yields zero codes, not NaN") {
    import spark.implicits._
    val zeros = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(0.0, 0.0))).toDF("vec_id", "v")
    val q = Graft.quantizeInt8(zeros, "v", "qv")
      .select($"qv").collect().map(_.getSeq[Long](0))
    assert(q.forall(_ == Seq(0L, 0L)))
  }

  test("bm25Rank edge cases: no matching term and empty query set") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val noHit = Graft.bm25Rank(docs, Seq((1, "zebra")).toDF("qid", "qtext"), 5)
    assert(noHit.count() == 0)
    val noQ = Graft.bm25Rank(docs,
      Seq.empty[(Int, String)].toDF("qid", "qtext"), 5)
    assert(noQ.count() == 0)
  }

  test("cdcApply via API == cdc_scd1_snapshot query") {
    import spark.implicits._
    val changes = Tables.events(spark, sf)
      .withColumn("op", when($"event_type" === "error", lit("D")).otherwise(lit("U")))
    val api = Graft.cdcApply(changes, "user_id", "ts", "event_id", "op")
      .select($"user_id", round($"value", 2).as("last_value"), $"ts".as("last_ts"))
    val q = graft.operators.LayoutOps.queries("cdc_scd1_snapshot")(spark, sf)
    assert(api.exceptAll(q).count() == 0 && q.exceptAll(api).count() == 0)
  }

  test("kAnonymize via API == privacy_k_anonymity query") {
    import spark.implicits._
    val api = Graft.kAnonymize(
      Tables.documents(spark, sf), Seq("lang", "source"), 8)
    val q = graft.operators.LayoutOps.queries("privacy_k_anonymity")(spark, sf)
    assert(api.exceptAll(q).count() == 0 && q.exceptAll(api).count() == 0)
  }

  test("zOrderValue via API reproduces layout_zorder_cluster buckets") {
    import spark.implicits._
    val z = Graft.zOrderValue(
      $"user_id".bitwiseAND(lit(65535L)),
      dayofmonth($"ts").cast("long").bitwiseAND(lit(65535L)))
    val api2 = Tables.events(spark, sf)
      .withColumn("dd", dayofmonth($"ts").cast("long"))
      .withColumn("zv", z)
      .withColumn("bucket", shiftright($"zv", 6))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
           min($"user_id").as("min_user"), max($"user_id").as("max_user"),
           min($"dd").as("min_day"), max($"dd").as("max_day"))
    val q = graft.operators.LayoutOps.queries("layout_zorder_cluster")(spark, sf)
    assert(api2.exceptAll(q).count() == 0 && q.exceptAll(api2).count() == 0)
  }

  test("mvMerge via API == mv_incremental_agg query") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .withColumn("cents", floor($"value" * 100 + 0.5).cast("long"))
    def part(parity: Int) = ev.filter($"event_id" % 2 === parity)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
    val api = Graft.mvMerge(part(0), part(1),
      Seq("event_type", "day"), Seq("n", "sum_cents"))
    val q = graft.operators.EventOps.queries("mv_incremental_agg")(spark, sf)
    assert(api.exceptAll(q).count() == 0 && q.exceptAll(api).count() == 0)
  }

  test("heavyHittersCms via API == a_heavy_hitters_cms query") {
    import spark.implicits._
    val api = Graft.heavyHittersCms(
      Tables.events(spark, sf).select($"user_id"), "user_id")
    val q = graft.operators.EventOps.queries("a_heavy_hitters_cms")(spark, sf)
    assert(api.exceptAll(q).count() == 0 && q.exceptAll(api).count() == 0)
  }

  test("intervalCoverage via API == w_interval_coverage query") {
    val api = Graft.intervalCoverage(
      Tables.events(spark, sf), "user_id", "event_id", "ts", 1800000000L)
    val q = graft.operators.EventOps.queries("w_interval_coverage")(spark, sf)
    assert(api.exceptAll(q).count() == 0 && q.exceptAll(api).count() == 0)
  }

  test("madOutliers via API == anomaly_mad_outliers query") {
    val api = Graft.madOutliers(Tables.events(spark, sf), "event_type", "value")
    val q = graft.operators.EventOps.queries("anomaly_mad_outliers")(spark, sf)
    assert(api.exceptAll(q).count() == 0 && q.exceptAll(api).count() == 0)
  }

  test("containmentPairs via API == dedup_containment query (modulo rounding)") {
    import spark.implicits._
    val api = Graft.containmentPairs(
        Tables.documents(spark, sf), "doc_id", "text", 0.8)
      .select($"a_id", $"b_id", round($"containment", 6).as("containment"))
    val q = graft.operators.DedupOps.queries("dedup_containment")(spark, sf)
    assert(api.exceptAll(q).count() == 0 && q.exceptAll(api).count() == 0)
  }

  test("mmrRerank via API == retrieval_mmr_rerank query") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val api = Graft.mmrRerank(e, "vec_id", "v",
        e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v"), "qid", "v")
      .select($"qid", $"pos", $"id".as("vec_id"), $"mmr10_e6")
    val q = graft.operators.RetrievalOps.queries("retrieval_mmr_rerank")(spark, sf)
    assert(api.exceptAll(q).count() == 0 && q.exceptAll(api).count() == 0)
  }

  test("clusterNearDups on a hand graph: chain + singleton-pair components") {
    import spark.implicits._
    // 1-2, 2-3, 3-4 chain; 10-11 pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Graft.clusterNearDups(pairs, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponentLabels frees only its own RDDs: a concurrent pin survives") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    // guard → persistent RDDs the kernel leaves behind: none on the
    // union-find path (its pair RDD is unpersisted after the collect, the
    // labels are a plain parallelize); on the loop path only the result
    // frame's own eager checkpoint
    Seq(1000000L -> 0, 0L -> 1).foreach { case (guard, leftover) =>
      // The first plan optimized once the rule is installed is the
      // kernel's pair scan: while it is planned, another thread pins an
      // unrelated RDD.
      val other = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.rdd.RDD[Int]]()
      val pinMidRun = new org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
        def apply(plan: LogicalPlan): LogicalPlan = {
          if (other.get == null) {
            val t = new Thread(() => other.set(sc.parallelize(1 to 4).persist()))
            t.start()
            t.join()
          }
          plan
        }
      }
      val before = sc.getPersistentRDDs.keySet
      spark.experimental.extraOptimizations = Seq(pinMidRun)
      val lbl = try Graft.connectedComponentLabels(pairs, localEdgeThreshold = guard)
        finally spark.experimental.extraOptimizations = Nil
      assert(other.get != null, "no pin was made during the run")
      val otherId = other.get.id
      try {
        assert(lbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
          Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
        assert(sc.getPersistentRDDs.contains(otherId),
          s"guard $guard: the kernel unpersisted a pin it did not make")
        assert((sc.getPersistentRDDs.keySet -- before - otherId).size == leftover,
          s"guard $guard: leftover pins")
      } finally other.get.unpersist(false): Unit
    }
  }

  test("quantileSketch: merge of split sketches reproduces full-data quantiles via sketchQuantiles") {
    import spark.implicits._
    val data = (1 to 1000).map(i => (if (i % 2 == 0) "a" else "b", (i * 7 % 101).toLong))
      .toDF("g", "x")
    val full = Graft.sketchQuantiles(
      Graft.quantileSketch(data, "g", "x"), Seq(50, 90)).collect()
    val merged = Graft.sketchQuantiles(
      Graft.mergeQuantileSketches(
        Graft.quantileSketch(data.limit(400), "g", "x"),
        Graft.quantileSketch(data.exceptAll(data.limit(400)), "g", "x")),
      Seq(50, 90)).collect()
    assert(full.map(_.toSeq).toSet == merged.map(_.toSeq).toSet)
    assert(full.nonEmpty && full.forall(r => r.getAs[Long]("p50") <= r.getAs[Long]("p90")))
  }

  test("nucleusCut keeps the minimal top-score head covering p% of weight") {
    import spark.implicits._
    val df = Seq(("g", 1L, 100L, 50L), ("g", 2L, 90L, 30L),
                 ("g", 3L, 80L, 15L), ("g", 4L, 70L, 5L)).toDF("grp", "id", "score", "wgt")
    val kept = Graft.nucleusCut(df, "grp", "score", "id", "wgt", 80)
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    // cum weights 50,80,95,100 of total 100: doc3 starts at 80 (not < 80), so keep 1,2
    assert(kept == Seq(1L, 2L), s"kept $kept")
  }

  test("simpsonDiversity: uniform mix scores higher than a dominated mix") {
    import spark.implicits._
    val df = (Seq.fill(5)(("u", "a")) ++ Seq.fill(5)(("u", "b")) ++
              Seq.fill(9)(("d", "a")) ++ Seq.fill(1)(("d", "b"))).toDF("k", "c")
    val got = Graft.simpsonDiversity(df, "k", "c").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("simpson")).toMap
    assert(got("u") > got("d"))
    // exact: 1 - (5·4+5·4)/(10·9) = 1 - 40/90
    assert(math.abs(got("u") - (1.0 - 40.0 / 90.0)) < 1e-6)
    assert(math.abs(got("d") - (1.0 - (72.0 + 0.0) / 90.0)) < 1e-6)
  }

  test("keySkewProfile: a constant key gives gini 0 and top1 share 1e6") {
    import spark.implicits._
    val flat = (1 to 100).map(i => ("g", i % 10)).toDF("grp", "k")
    val skew = (1 to 100).map(i => ("g", if (i <= 91) 0 else i % 10)).toDF("grp", "k")
    val f = Graft.keySkewProfile(flat, "grp", "k").collect().head
    assert(f.getAs[Double]("gini") == 0.0 && f.getAs[Long]("top1_share_e6") == 100000L)
    val s = Graft.keySkewProfile(skew, "grp", "k").collect().head
    // key 0 collects i<=91 plus i=100 (100%10==0): 92 of 100 rows
    assert(s.getAs[Double]("gini") > 0.5 && s.getAs[Long]("top1_share_e6") == 920000L)
  }

  test("imagePhash via API == mm_image_phash query hashes") {
    val viaApi = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(col("doc_id"), Graft.imagePhash(col("text").cast("binary")).as("phash"))
      .groupBy(col("phash")).count().filter(col("count") >= 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaQuery = operators.MultimodalOps.queries("mm_image_phash")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_docs")).toMap
    assert(viaApi == viaQuery)
  }

  test("expectationRules on a synthetic frame counts violations exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(10L), "a"), (2L, None, "b"), (3L, Some(-5L), "b"),
      (3L, Some(7L), ""), (4L, Some(0L), "c")
    ).toDF("id", "v", "s")
    val out = Graft.expectationRules(df, "t",
      Seq("not_null_v" -> col("v").isNull,
          "nonneg_v"   -> (col("v") < 0),
          "not_blank_s" -> (trim(col("s")) === "")),
      Seq("pk_unique_id" -> col("id"))).collect()
      .map(r => r.getAs[String]("expectation") ->
        ((r.getAs[Long]("violations"), r.getAs[Long]("checked"),
          r.getAs[Int]("ok")))).toMap
    assert(out("not_null_v")   == ((1L, 5L, 0)))
    assert(out("nonneg_v")     == ((1L, 5L, 0)))
    assert(out("not_blank_s")  == ((1L, 5L, 0)))
    assert(out("pk_unique_id") == ((1L, 5L, 0)), "5 rows, 4 distinct ids")
  }

  test("gridKnn on a hand grid: capped and uncapped candidate sets") {
    import spark.implicits._
    // pitch 10: cells (0,0): p1(1,1) p2(2,2) p3(9,9); cell (1,1): p4(11,11)
    // far point p5(95,95) has no neighbor within its 3x3 cells
    val pts = Seq((1L, 1L, 1L), (2L, 2L, 2L), (3L, 9L, 9L),
                  (4L, 11L, 11L), (5L, 95L, 95L))
      .toDF("id", "x", "y")
    val out = Graft.gridKnn(pts, "id", "x", "y", pitch = 10L).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("nn_id"), r.getAs[Long]("dist2"),
          r.getAs[Long]("n_candidates")))).toMap
    assert(out(1L) == ((2L, 2L, 3L)))   // (1,1)->(2,2): dist2 = 2
    assert(out(2L) == ((1L, 2L, 3L)))
    assert(out(3L) == ((4L, 8L, 3L)))   // (9,9)->(11,11): dist2 = 8
    assert(out(4L) == ((3L, 8L, 3L)))
    assert(!out.contains(5L), "isolated point has no grid candidates")
    // cap = 1: each cell contributes its single md5-ranked representative
    val capped = Graft.gridKnn(pts, "id", "x", "y", pitch = 10L, cap = Some(1))
      .collect()
    assert(capped.forall(_.getAs[Long]("n_candidates") <= 9L))
  }

  test("cupedReadout: perfectly correlated covariate removes all variance") {
    import spark.implicits._
    // y = 2x exactly, no treatment effect; arms split 3/3
    val df = Seq((10L, 20L, 0L), (20L, 40L, 0L), (30L, 60L, 0L),
                 (12L, 24L, 1L), (22L, 44L, 1L), (32L, 64L, 1L))
      .toDF("x", "y", "arm")
    val r = Graft.cupedReadout(df, "x", "y", "arm").collect().head
    assert(r.getAs[Long]("n") == 6 && r.getAs[Long]("n_a") == 3)
    assert(r.getAs[Int]("srm_flag") == 0)
    assert(math.abs(r.getAs[Double]("theta_r6") - 2.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("var_reduction_r6") - 1.0) < 1e-6)
    // raw effect -4 (arm b shifted +2 in x, +4 in y); CUPED removes it
    assert(math.abs(r.getAs[Double]("effect_raw_r6") + 4.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("effect_cuped_r6")) < 1e-6)
  }
}
