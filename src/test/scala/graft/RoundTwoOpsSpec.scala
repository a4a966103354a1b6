package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-2 additions: streaming state dedup, custom flatMapGroupsWithState
  * milestones, Gopher rule-ensemble filter, repeated-n-gram scoring.
  * Each is checked against an independent batch/brute-force formulation.
  */
class RoundTwoOpsSpec extends SparkSpec {

  test("streaming_dedup_watermark equals batch DISTINCT on the dedup key") {
    val streamed = graft.streaming.StreamingOps
      .queries("streaming_dedup_watermark")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming_stateful_milestones equals the batch window formulation") {
    val got = graft.streaming.StreamingOps
      .queries("streaming_stateful_milestones")(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getDouble(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap

    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cents = round(col("value") * 100).cast("long")
    val want = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), cents.as("cents"),
              sum(cents).over(w).as("cum"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("int").as("n_events"),
        round(sum(col("cents")) / 100.0, 2).as("total_value"),
        min(when(col("cum") >= 5000L, col("event_id"))).as("first_cross"))
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getDouble(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    // min-event_id-after-crossing equals first-crossing-event only because
    // cum is monotone *at* the crossing walk — assert the count/total pair
    // exactly and the crossing event via the walk below instead.
    assert(got.keySet == want.keySet && got.nonEmpty)
    got.foreach { case (u, (n, tot, _)) =>
      assert((n, tot) == (want(u)._1, want(u)._2), s"user $u")
    }
    // exact first-crossing check: replay the per-user walk on collected rows
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
              cents.as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expectFirst = rows.groupBy(_._1).map { case (u, rs) =>
      var cum = 0L; var first = -1L
      rs.sortBy(r => (r._3, r._2)).foreach { r =>
        cum += r._4; if (first < 0 && cum >= 5000L) first = r._2
      }
      u -> first
    }
    got.foreach { case (u, (_, _, f)) => assert(f == expectFirst(u), s"user $u") }
  }

  test("ta_gopher_filter: keep iff ok, rule priority holds, drops and keeps both occur") {
    val rows = graft.operators.TextAnalysisOps
      .queries("ta_gopher_filter")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nWords, reason, keep) =
        (r.getInt(r.fieldIndex("n_words")), r.getString(r.fieldIndex("reason")),
         r.getInt(r.fieldIndex("keep")))
      assert((keep == 1) == (reason == "ok"))
      // word_count outranks every later rule
      if (nWords < 30) assert(reason == "word_count")
    }
    val reasons = rows.map(_.getString(rows.head.fieldIndex("reason"))).toSet
    assert(reasons.contains("ok") && reasons.size > 1, reasons.toString)
  }

  test("ta_lm_perplexity matches a driver-side bigram-LM replay") {
    val rows = graft.operators.TextAnalysisOps.queries("ta_lm_perplexity")(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(t => t._2 != null && t._2.split(" ", -1).length >= 2)
    val docBg = texts.map { case (id, t) =>
      val tk = t.split(" ", -1)
      (id, tk.sliding(2).map(a => (a(0), a(1))).toSeq)
    }
    val allBg = docBg.flatMap(_._2)
    val c2 = allBg.groupBy(identity).view.mapValues(_.size).toMap
    val c1 = allBg.groupBy(_._1).view.mapValues(_.size).toMap
    val v = (allBg.map(_._1) ++ allBg.map(_._2)).distinct.size
    docBg.foreach { case (id, bgs) =>
      val nll = bgs.map(b => math.floor(
        -math.log((c2(b) + 1.0) / (c1(b._1) + v)) * 1e6 + 0.5).toLong).sum
      // query output is LIMIT 200 — check the ids it covers
      rows.get(id).foreach { got =>
        assert(got == ((bgs.size, nll, nll / bgs.size)), s"doc $id") }
    }
  }

  test("dedup_repeated_ngrams matches a raw-string brute force") {
    val toks = split(col("text"), " ")
    val rawGrams = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), greatest(size(toks) - 3, lit(0))),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
                       element_at(toks, i + 2), element_at(toks, i + 3))))).as("g"))
    val rep = rawGrams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("g"))
    val want = rawGrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n")).as("pd")
      .join(rawGrams.join(rep, Seq("g"), "left_semi")
              .groupBy(col("doc_id")).agg(count(lit(1)).as("r")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n"), coalesce(col("r"), lit(0L)).as("r"))
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    val got = graft.operators.DedupOps
      .queries("dedup_repeated_ngrams")(spark, sf).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(got == want.filter { case (id, _) => got.contains(id) } && got.nonEmpty)
    // limit(300) may truncate; every surviving id must agree and ids must
    // be the 300 smallest
    assert(got.keySet == want.keySet.toSeq.sorted.take(got.size).toSet)
  }

  test("shard_by_bytes two-pass prefix sum equals a global window, stays multi-partition") {
    val got = graft.operators.PrepOps.queries("shard_by_bytes")(spark, sf)
    val rows = got.collect().map(r =>
      (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // naive single-partition reference
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = Tables.documents(spark, sf)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("n_bytes"))
      .withColumn("cum", sum(col("n_bytes")).over(w))
      .collect().map { r =>
        val cum = r.getLong(2)
        (r.getLong(0), (r.getLong(1), cum, (math.max(cum, 1L) - 1) / 16384L))
      }.toMap
    assert(rows == want && rows.nonEmpty)
    // the full-data window must be partitioned by pid, never SinglePartition:
    // the only single-partition exchange allowed is the 8-row offsets table
    val plan = got.queryExecution.executedPlan.toString
    val winSpecs = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(winSpecs.exists(_.contains("pid")), plan.take(600))
    // shards are contiguous and byte-bounded
    val byShard = rows.values.groupBy(_._3).view.mapValues(_.map(_._1).sum)
    byShard.foreach { case (s, bytes) =>
      assert(bytes <= 16384L + rows.values.map(_._1).max, s"shard $s overflows")
    }
  }

  test("graph_event_rank: ranks sum to 1 and match a dense in-memory power iteration") {
    val got = graft.operators.GraphOps.queries("graph_event_rank")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got.nonEmpty)
    assert(math.abs(got.values.sum - 1.0) < 1e-3, got.toString) // no dangling nodes here
    // dense reference on the collected edge list
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2).toDouble))
    val nodes = edges.flatMap { case ((a, b), _) => Seq(a, b) }.distinct.sorted
    val outW = edges.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    var rank = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._1._2).view.mapValues(
        _.map { case ((s2, _), n2) => rank(s2) * n2 / outW(s2) }.sum).toMap
      rank = nodes.map(v => v -> (0.15 / nodes.size + 0.85 * in.getOrElse(v, 0.0))).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - rank(v)) < 1e-5, s"node $v: ${got(v)} vs ${rank(v)}")
    }
  }

  test("j5_interval_join: bucket decomposition equals naive range join, no nested loop") {
    val df = graft.operators.EventOps.queries("j5_interval_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // the EVENT join must be an equi hash join keyed on the bucket (the
    // range predicates ride along as residual conditions); the only
    // nested loops are the 1-row t0 scalar broadcasts (funnel pattern)
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[\\(es#\\d+L div 3600\\)\\]".r
             .findFirstIn(plan).isDefined, plan.take(2000))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    val scalarAggs = "functions=\\[min\\(es#\\d+L\\)\\]".r.findAllIn(plan).length
    assert(bnlj <= scalarAggs, s"$bnlj nested loops vs $scalarAggs scalar fixtures\n" + plan.take(800))
    val got = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.size == 20)
    // naive reference: collect events, scan each window
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 1000000").as("es"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val t0 = ev.map(_._2).min / 86400 * 86400
    (0L until 20L).foreach { i =>
      val ws = t0 + i * 4831; val we = ws + (i % 7 + 1) * 600
      val hit = ev.filter(e => e._2 >= ws && e._2 < we)
      assert(got(i) == (ws, we, hit.length.toLong, hit.map(_._1).distinct.length.toLong),
             s"window $i")
    }
  }

  test("dedup_cross_source n_pairs roll-up conserves the pair count") {
    val matrix = graft.operators.DedupOps.queries("dedup_cross_source")(spark, sf)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    matrix.foreach { case ((a, b), _) => assert(a <= b) } // unordered key
    val total = graft.operators.DedupOps.queries("dedup_ngram_jaccard")(spark, sf).count()
    assert(matrix.map(_._2).sum == total && total > 0)
  }

  test("scd2_user_state: ranges tile each user's timeline, one current row per user") {
    val rows = graft.operators.EventOps.queries("scd2_user_state")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getLong(4), r.getInt(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, periods) =>
      val sorted = periods.sortBy(p => (p._3.getTime, p._5))
      // exactly one open (current) period, and it is the last
      assert(sorted.count(_._4.isEmpty) == 1 && sorted.last._4.isEmpty, s"user $u")
      // each valid_to equals the next valid_from (gapless tiling)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._3), s"user $u gap")
        case _ => ()
      }
      // consecutive periods change state
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._2 != b._2, s"user $u no-op period")
        case _ => ()
      }
    }
  }

  test("event_debounce census matches a driver-side replay") {
    val got = graft.operators.EventOps.queries("event_debounce")(spark, sf)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("us"),
              col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = ev.groupBy(e => e._2).map { case (t, es) =>
      val kept = es.groupBy(_._1).values.map { per =>
        val s = per.sortBy(e => (e._3, e._4))
        1 + s.sliding(2).count {
          case Array(a, b) => b._3 - a._3 > 21600L * 1000000L
          case _ => false
        }
      }.sum
      t -> (es.length.toLong, kept.toLong)
    }
    assert(got == want && got.nonEmpty)
  }

  test("BpeMergeApply walk equals the sequential fold on edge strings") {
    import spark.implicits._
    val cases = Seq("a a b", "a b a b", "b b a", "a", "a b", "x a b b a b")
    val df = cases.toDF("t").select(col("t"),
      graft.functions.TextSignatures.bpeMergeApply(col("t"), lit("a"), lit("b")).as("m"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def fold(s: String): String =
      s.split(" ").toList match {
        case h :: rest => rest.foldLeft(h) { (acc, t) =>
          val last = acc.split(" ").last
          if (last == "a" && t == "b")
            acc.dropRight(last.length) + "a_b"
          else acc + " " + t
        }
        case Nil => ""
      }
    cases.foreach(c => assert(got(c) == fold(c), s"case '$c'"))
  }

  test("bpe_train_merges: chosen pair vanishes after its round, tokens monotone down") {
    val rows = graft.operators.LexicalOps.queries("bpe_train_merges")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
                           r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(1, 2))
    val Seq(r1, r2) = rows.toSeq
    assert(r1._4 >= r2._4)              // argmax counts never grow round-over-round
    assert(r1._5 > r2._5)               // each merge strictly shrinks the corpus
    assert(r1._5 - r2._5 == r2._4)      // round-2 merge removes exactly cnt tokens
    // the round-1 pair no longer occurs adjacently in the merged corpus
    val toks = split(col("text"), " ")
    val merged = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(graft.functions.TextSignatures
        .bpeMergeApply(col("text"), lit(r1._2), lit(r1._3)).as("text"))
    val remaining = merged.select(explode(transform(
        when(size(toks) >= 2, sequence(lit(1), size(toks) - 1))
          .otherwise(array().cast("array<int>")),
        i => struct(element_at(toks, i).as("a"), element_at(toks, i + 1).as("b")))).as("p"))
      .filter(col("p.a") === r1._2 && col("p.b") === r1._3).count()
    assert(remaining == 0)
  }

  test("Graft.bpeTrain(rounds=2) learns the same merges as the registered query") {
    val facade = graft.api.Graft
      .bpeTrain(Tables.documents(spark, sf), "text", rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val query = graft.operators.LexicalOps.queries("bpe_train_merges")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(facade.toSeq == query.toSeq && facade.length == 2)
  }

  test("Graft.bpeTrainEncode corpus equals bpeEncode of the learned table") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val (merges, encoded) = graft.api.Graft.bpeTrainEncode(docs, "text", rounds = 2)
    // one-pass corpus ≡ the two-pass re-fold of the raw text; doc ids
    // ride along untouched
    val onePass = encoded.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    val twoPass = graft.api.Graft.bpeEncode(docs, "text", merges)
      .select(col("doc_id"), col("encoded")).as[(Long, String)].collect().toMap
    assert(onePass == twoPass && onePass.nonEmpty)
  }

  test("dedup_cluster_star: the distributed loop equals the guarded components path") {
    val loop = graft.operators.DedupOps.queries("dedup_cluster_star")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getInt(2), r.getInt(3))).toSet
    val guarded = graft.operators.DedupOps.queries("dedup_cluster_canonical")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getInt(2), r.getInt(3))).toSet
    assert(loop == guarded && loop.nonEmpty)
  }

  test("NfcNormalize: NFD composes to precomposed, ASCII is identity, null-safe") {
    import spark.implicits._
    val df = Seq(
      (1L, "cafe\u0301 nai\u0308ve"),         // NFD → é ï
      (2L, "plain ascii text"),               // fast path: unchanged
      (3L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select(col("id"), graft.functions.TextSignatures.nfcNormalize(col("t")).as("n"))
    val rows = df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows(1L).contains("caf\u00e9 na\u00efve"))
    assert(rows(2L).contains("plain ascii text"))
    assert(rows(3L).isEmpty)
  }

  test("v_outliers: distances match a driver-side recomputation") {
    val got = graft.operators.RetrievalOps.queries("v_outliers")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.nonEmpty)
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val dims = vecs.values.head.length
    val centroid = Array.tabulate(dims)(d => vecs.values.map(_(d)).sum / vecs.size)
    got.foreach { case (id, d2e6, flag) =>
      var d2 = 0.0
      val v = vecs(id)
      var i = 0
      while (i < dims) { val t = v(i) - centroid(i); d2 += t * t; i += 1 }
      assert(math.abs(d2e6 - math.floor(d2 * 1e6 + 0.5)) <= 1,
             s"vec $id: $d2e6 vs $d2") // ±1ulp of e6 fixed point
      assert(flag == (if (d2e6 > 1020000L) 1 else 0))
    }
  }

  test("curate_quality_gate keeps ~80% per language and thresholds consistently") {
    val rows = graft.operators.CurationOps.queries("curate_quality_gate")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, n, kept, q20) =>
      // exact-percentile gate: at least 80% survive (ties at the cutoff
      // can only ADD survivors), and never everything when n > 5
      assert(kept >= math.ceil(0.8 * n).toLong - 1, s"$lang kept $kept of $n")
      assert(kept <= n)
      assert(q20 > 0)
    }
    // recompute one language's threshold independently
    val (lang0, _, _, q20got) = rows.head
    val qs = Tables.documents(spark, sf).filter(col("text").isNotNull && col("lang") === lang0)
      .select(floor(graft.functions.TextMetrics.quality(split(col("text"), " ")) * 1e6 + 0.5)
        .cast("long").as("q")).collect().map(_.getLong(0)).sorted
    val idx = 0.2 * (qs.length - 1)
    val lo = qs(idx.toInt); val hi = qs(math.ceil(idx).toInt)
    val expect = lo + (hi - lo) * (idx - idx.toInt)
    assert(math.abs(q20got - (math.rint(expect * 1e6) / 1e6)) < 1e-6,
           s"$lang0: $q20got vs $expect")
  }

  test("vocab_topk is rank-consistent and frequency-dominant") {
    val rows = graft.operators.LexicalOps.queries("vocab_topk")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // sf0.001's synthetic vocabulary is smaller than the k=50 cap
    val vocabSize = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("t")).distinct().count()
    assert(rows.length == math.min(50L, vocabSize) && rows.nonEmpty)
    assert(rows.map(_._3).toSeq == (1 to rows.length))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
    }
    // top token frequency must match an independent count
    val top = rows.head
    val n = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") === top._1).count()
    assert(n == top._2)
  }
}
