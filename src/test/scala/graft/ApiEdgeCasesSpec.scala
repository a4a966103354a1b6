package graft

import graft.api.Graft
import graft.operators.PrepOps
import org.apache.spark.sql.functions._

/** The public facade on degenerate inputs: empty relations, single
  * rows, empty/whitespace text. Nothing here may throw — a library
  * user's first dataset always contains one of these. */
class ApiEdgeCasesSpec extends SparkSpec {

  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types._

  private def emptyDocs: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      new StructType().add("doc_id", LongType).add("text", StringType)
        .add("lang", StringType))

  test("dedup + similarity APIs on an empty corpus return empty, not errors") {
    assert(Graft.dedupExact(emptyDocs, "doc_id", "text").count() == 0)
    assert(Graft.minhashNearDups(emptyDocs, "doc_id", "text").count() == 0)
    assert(Graft.simhashNearDups(emptyDocs, "doc_id", "text").count() == 0)
    assert(Graft.simhash64NearDups(emptyDocs, "doc_id", "text").count() == 0)
    assert(Graft.sampleDeterministic(emptyDocs, "doc_id", lit(10000)).count() == 0)
  }

  test("chunking/packing degenerate text") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "one"), (3L, "   ")).toDF("doc_id", "text")
    val chunks = PrepOps.chunkDocuments(docs).collect()
    // every doc yields exactly one (possibly empty-ish) chunk; no crash
    assert(chunks.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(chunks.forall(_.getInt(1) == 0))
  }

  test("quality score on empty text does not divide by zero into error") {
    import spark.implicits._
    val q = Graft.qualityScore(Seq((1L, "")).toDF("doc_id", "text"), "text")
      .select(col("quality")).collect().head.getDouble(0)
    // "" splits to [""], 1 token, 1 distinct, 0 stopwords → finite score
    assert(!q.isNaN && !q.isInfinite)
  }

  test("cosineTopK with k larger than the corpus returns all neighbors") {
    import spark.implicits._
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
                     (3L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    val res = Graft.cosineTopK(q, corpus, k = 10).collect()
    assert(res.length == 2) // corpus minus the query itself
    assert(res.map(_.getInt(1)).sorted.toSeq == Seq(1, 2))
  }

  test("sessionize on a single event emits a single session") {
    import spark.implicits._
    val one = Seq((7L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L))
      .toDF("user_id", "ts", "event_id")
    val s = Graft.sessionize(one, "user_id", "ts", "event_id").collect()
    assert(s.length == 1 && s.head.getAs[Long]("n_events") == 1L)
  }

  test("gopherFilter drops null/blank rows, classifies the rest, never throws") {
    import spark.implicits._
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "   "),
                   (3L, "one two"), (4L, ("the fox and dog jumped over " * 20).trim))
      .toDF("doc_id", "text")
    val out = Graft.gopherFilter(docs).collect()
      .map(r => r.getLong(0) -> r.getString(r.fieldIndex("reason"))).toMap
    assert(out.keySet == Set(3L, 4L)) // null and blank rows dropped
    assert(out(3L) == "word_count")   // 2 words < 30
    assert(out(4L) == "repetition")   // 120 words cycling 6 bigrams
  }

  test("shardByBytes: empty input, single row, and null bytes are safe") {
    import spark.implicits._
    assert(Graft.shardByBytes(emptyDocs.withColumn("n", lit(1L)),
                              "doc_id", "n", 100L).count() == 0)
    val one = Graft.shardByBytes(Seq((5L, 42L)).toDF("doc_id", "n"),
                                 "doc_id", "n", 100L).collect()
    assert(one.length == 1 && one.head.getLong(2) == 42L && one.head.getLong(3) == 0L)
    // null bytes coalesce to 0 and land in the current shard
    val nulls = Graft.shardByBytes(
      Seq((1L, Some(0L)), (2L, None)).toDF("doc_id", "n"), "doc_id", "n", 100L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(nulls.toSeq == Seq((1L, 0L, 0L), (2L, 0L, 0L)))
  }

  test("scd2 and debounce on single-row and steady-state inputs") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val one = Seq((7L, ts, 1L, "active")).toDF("k", "ts", "ord", "state")
    val s1 = Graft.scd2(one, "k", "ts", "ord", "state").collect()
    assert(s1.length == 1 && s1.head.getInt(5) == 1 && s1.head.isNullAt(3))
    // constant state stream collapses to ONE period
    val const = Seq((7L, ts, 1L, "x"),
      (7L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 2L, "x"))
      .toDF("k", "ts", "ord", "state")
    assert(Graft.scd2(const, "k", "ts", "ord", "state").count() == 1)
    val d = Graft.debounce(one.withColumnRenamed("state", "kind"),
      "k", "kind", "ts", "ord", gapMicros = 1000000L).collect()
    assert(d.length == 1 && d.head.getAs[Int]("keep") == 1)
    // NULL state is a real period, not a dropped row + spurious change
    val withNull = Seq(
      (7L, ts, 1L, "A"),
      (7L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 2L, null.asInstanceOf[String]),
      (7L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 3L, "A"))
      .toDF("k", "ts", "ord", "state")
    val periods = Graft.scd2(withNull, "k", "ts", "ord", "state").collect()
      .map(r => (Option(r.getString(1)), r.getLong(4)))
    assert(periods.toSeq.sortBy(_._2) ==
      Seq((Some("A"), 1L), (None, 2L), (Some("A"), 3L)))
    // reserved/collision guards reject rather than clobber
    intercept[IllegalArgumentException] {
      Graft.debounce(one.withColumnRenamed("state", "keep"), "k", "keep", "ts", "ord", 1L)
    }
    intercept[IllegalArgumentException] {
      Graft.scd2(one.withColumnRenamed("state", "valid_to"), "k", "ts", "ord", "valid_to")
    }
  }

  test("scd2 fuzz: 200 random multi-key streams with nulls match a driver replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val states = Array("A", "B", null)
    val rows = (1L to 200L).map { i =>
      (rnd.nextInt(5).toLong,
       new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L),
       i, states(rnd.nextInt(3)))
    }
    val got = Graft.scd2(rows.toDF("k", "ts", "ord", "state"), "k", "ts", "ord", "state")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getTimestamp(2),
                 Option(r.getTimestamp(3)), r.getLong(4)))
      .sortBy(p => (p._1, p._3.getTime, p._5))
    val want = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
      val s = rs.sortBy(r => (r._2.getTime, r._3))
      val changes = s.zipWithIndex.filter { case (r, i) =>
        i == 0 || s(i - 1)._4 != r._4
      }.map(_._1)
      changes.zipWithIndex.map { case (c, i) =>
        (k, Option(c._4), c._2,
         if (i < changes.length - 1) Some(changes(i + 1)._2) else None, c._3)
      }
    }.sortBy(p => (p._1, p._3.getTime, p._5))
    assert(got.toSeq == want && want.nonEmpty)
  }

  test("debounce fuzz: keep flags match a driver replay on bursty streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1L to 300L).map { i =>
      (rnd.nextInt(4).toLong, s"t${rnd.nextInt(3)}",
       new java.sql.Timestamp(1700000000000L + rnd.nextInt(2000) * 500L), i)
    }
    val gap = 120L * 1000000L
    val got = Graft.debounce(rows.toDF("k", "kind", "ts", "ord"),
        "k", "kind", "ts", "ord", gapMicros = gap)
      .collect().map(r => (r.getLong(3), r.getAs[Int]("keep"))).toMap
    rows.groupBy(r => (r._1, r._2)).foreach { case (_, rs) =>
      val s = rs.sortBy(r => (r._3.getTime, r._4))
      s.zipWithIndex.foreach { case (r, i) =>
        val expect =
          if (i == 0) 1
          else if ((r._3.getTime - s(i - 1)._3.getTime) * 1000L > gap) 1
          else 0
        assert(got(r._4) == expect, s"row ${r._4}")
      }
    }
  }

  test("intervalJoin: boundary semantics, zero-length intervals dropped, empty facts safe") {
    import spark.implicits._
    val facts = Seq((1L, 100L), (2L, 3600L), (3L, 7199L), (4L, 7200L))
      .toDF("fact_id", "t")
    val ivals = Seq((10L, 3600L, 7200L),  // [3600, 7200) spans 2 buckets
                    (11L, 50L, 50L),      // zero-length → dropped
                    (12L, 99L, 98L))      // negative → dropped
      .toDF("ival_id", "lo", "hi")
    val joined = Graft.intervalJoin(facts, ivals, "t", "lo", "hi").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    // start inclusive (t=3600), end exclusive (t=7200 out), interior in
    assert(joined.toSet == Set((2L, 10L), (3L, 10L)))
    val none = Graft.intervalJoin(facts.limit(0), ivals, "t", "lo", "hi")
    assert(none.count() == 0)
  }

  test("intervalJoin equals the naive range filter on seeded random intervals") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val facts = (1L to 200L).map(i => (i, rnd.nextInt(100000).toLong)).toSeq
    val ivals = (1L to 50L).map { i =>
      val lo = rnd.nextInt(100000).toLong
      (i, lo, lo + rnd.nextInt(8000).toLong) // includes zero-length
    }.toSeq
    // multiset compare: a Set would mask duplicate-pair regressions
    // (e.g. a pair matching on more than one exploded bucket)
    val got = Graft.intervalJoin(
        facts.toDF("fact_id", "t"), ivals.toDF("ival_id", "lo", "hi"),
        "t", "lo", "hi", bucketSeconds = 3600L)
      .select(col("fact_id"), col("ival_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val want = (for {
      (f, t) <- facts; (iv, lo, hi) <- ivals if t >= lo && t < hi
    } yield (f, iv)).sorted
    assert(got == want && want.nonEmpty)
  }

  test("exactSubstringDups: empty corpus, sub-k docs, and within-doc repeats are safe") {
    import spark.implicits._
    assert(Graft.exactSubstringDups(emptyDocs, "doc_id", "text").count() == 0)
    // every doc shorter than k: zero grams, zero spans, never a throw
    val short = Seq((1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    val s0 = Graft.exactSubstringDups(short, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(s0 == Map(1L -> ((0L, 0)), 2L -> ((0L, 0))))
    // within-doc verbatim repeat counts (ExactSubstr semantics): the
    // 5-gram at pos 1 recurs at pos 6 → two disjoint spans cover all 10
    // tokens of the single document
    val self = Seq((7L, "a b c d e a b c d e")).toDF("doc_id", "text")
    val r = Graft.exactSubstringDups(self, "doc_id", "text").head()
    assert((r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)) ==
      ((10L, 10L, 2, 1.0)))
  }

  test("hot LSH bands degrade to a star: linear candidates, connectivity kept") {
    import spark.implicits._
    // 300 byte-identical docs: every band is one hot bucket. Uncapped,
    // that is 300*299/2 = 44850 candidate pairs; the cap bounds it to a
    // 299-pair star around the min id — still ONE cluster downstream.
    val viral = (1L to 300L).map(i =>
      (i, "the same viral text repeated verbatim everywhere across mirrors"))
    val normal = Seq(
      (1001L, "completely different content alpha beta gamma"),
      (1002L, "completely different content alpha beta gamma"), // near-dup pair
      (1003L, "unrelated third document entirely on its own"))
    val docs = (viral ++ normal).toDF("doc_id", "text")
    val pairs = Graft.minhashNearDups(docs, "doc_id", "text", maxBandSize = 64)
    val got = pairs.select(col("a_id"), col("b_id")).as[(Long, Long)].collect()
    val viralPairs = got.filter(_._2 <= 300L)
    assert(viralPairs.length == 299 && viralPairs.forall(_._1 == 1L),
      s"viral pairs: ${viralPairs.length}")
    // the small-band pair is still found by the all-pairs path
    assert(got.contains((1001L, 1002L)))
    val labels = Graft.connectedComponentLabels(
        pairs.select(col("a_id").as("a"), col("b_id").as("b"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 300L).forall(labels(_) == 1L))

    // same adversarial corpus through the simhash byte index
    val sPairs = Graft.simhashNearDups(docs, "doc_id", "text", maxBandSize = 64)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect()
    val sViral = sPairs.filter(_._2 <= 300L)
    assert(sViral.length == 299 && sViral.forall(_._1 == 1L),
      s"simhash viral pairs: ${sViral.length}")
    assert(sPairs.contains((1001L, 1002L)))
  }

  test("exactSubstringCut drops exactly the planted duplicated span, keeps the rest") {
    import spark.implicits._
    val shared = "one two three four five six" // 6 tokens duplicated verbatim
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"), // span at token 3..8
      (2L, s"$shared tail1 tail2"),            // span at token 1..6
      (3L, "totally unique text with no duplicated spans at all"))
      .toDF("doc_id", "text")
    val got = Graft.exactSubstringCut(docs, "doc_id", "text", k = 5)
      .select(col("doc_id"), col("clean_text"), col("n_kept"))
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("alpha beta gamma delta", 4)))
    assert(got(2L) == (("tail1 tail2", 2)))
    // an untouched doc passes through verbatim
    assert(got(3L) == (("totally unique text with no duplicated spans at all", 9)))
    // a fully-duplicated doc cuts to the empty string, not a crash
    val twin = Seq((1L, "p q r s t"), (2L, "p q r s t")).toDF("doc_id", "text")
    val all = Graft.exactSubstringCut(twin, "doc_id", "text", k = 5)
      .select(col("clean_text"), col("n_kept"))
      .as[(String, Int)].collect().toSet
    assert(all == Set(("", 0)))
  }

  test("cappedBucketPairs fuzz: all-pairs below the cap, star above, exact sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val items = (1 to 150).map(_ =>
        (s"b${rnd.nextInt(6)}", rnd.nextInt(40).toLong)).distinct
      val cap = 8
      val want = items.groupBy(_._1).iterator.flatMap { case (_, ms) =>
        val ids = ms.map(_._2).sorted
        if (ids.size <= cap) for (a <- ids; b <- ids if a < b) yield (a, b)
        else ids.tail.map(m => (ids.head, m))
      }.toSet
      val got = graft.api.Graft.cappedBucketPairs(
          items.toDF("bucket", "id"), Seq("bucket"), "id", cap)
        .as[(Long, Long)].collect().toSet
      assert(got == want, s"trial $trial")
    }
  }

  test("exactSubstringCut fuzz: random corpora match a brute-force span cover") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d")
    val k = 3
    (1 to 5).foreach { trial =>
      val docs = (1L to 12L).map(id =>
        (id, Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      // reference: every k-gram occurrence (within-doc repeats included)
      // counts toward corpus frequency; positions under a duplicated
      // gram are covered; cut drops covered tokens
      val grams = docs.map { case (id, t) =>
        val tk = t.split(" ", -1)
        id -> (if (tk.length >= k) tk.sliding(k).map(_.mkString(" ")).toSeq else Seq.empty[String])
      }.toMap
      val freq = grams.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val want = docs.map { case (id, t) =>
        val tk = t.split(" ", -1)
        val covered = Array.fill(tk.length)(false)
        grams(id).zipWithIndex.foreach { case (g, i) =>
          if (freq(g) >= 2) (i until i + k).foreach(covered(_) = true) }
        id -> tk.indices.filterNot(covered).map(tk).mkString(" ")
      }.toMap
      val got = Graft.exactSubstringCut(docs.toDF("doc_id", "text"),
          "doc_id", "text", k = k)
        .select(col("doc_id"), col("clean_text")).as[(Long, String)]
        .collect().toMap
      assert(got == want, s"trial $trial: ${got.toSeq.sorted} vs ${want.toSeq.sorted}")
    }
  }

  test("bpeTrain: pairless corpus errors; exhaustion stops early; cadence preserves output") {
    import spark.implicits._
    // all-single-token corpus: round-1 argmax is empty → hard error, not
    // a silently-empty merge table (the old crossJoin-vs-empty path)
    intercept[IllegalArgumentException] {
      Graft.bpeTrain(Seq("a", "b").toDF("text"), "text", 2)
    }
    intercept[IllegalArgumentException] {
      Graft.bpeTrain(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        new StructType().add("text", StringType)), "text", 2)
    }
    // exhaustion mid-training: "a b" fully merges after round 1; asking
    // for 5 rounds returns the single learned merge
    val m = Graft.bpeTrain(Seq("a b").toDF("text"), "text", 5).collect()
    assert(m.length == 1 && m(0).getString(1) == "a" && m(0).getString(2) == "b")
    // the checkpoint cadence is a pure lineage/storage decision — the
    // learned table is identical at any cadence
    val docs = Seq("x y x y z", "x y z w x y").toDF("text")
    def table(every: Int) =
      Graft.bpeTrain(docs, "text", 3, checkpointEvery = every).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(table(1) == table(100))
  }

  test("bpeEncode: merges apply in rank order; empty table = identity; null text → null") {
    import spark.implicits._
    val docs = Seq(Option("a b c a b"), None).toDF("text")
    val merges = Seq((1, "a", "b"), (2, "a_b", "c")).toDF("round", "a", "b")
    val got = Graft.bpeEncode(docs, "text", merges)
      .select(col("encoded")).collect().map(r => Option(r.getString(0))).toSet
    // (a,b) first: "a_b c a_b"; then (a_b,c): "a_b_c a_b"
    assert(got == Set(Some("a_b_c a_b"), None))
    val idty = Graft.bpeEncode(docs, "text", merges.limit(0))
      .select(col("encoded")).collect().map(r => Option(r.getString(0))).toSet
    assert(idty == Set(Some("a b c a b"), None))
  }

  test("pageRank: dangling-node graph still sums to 1 (sink mass redistributed)") {
    import spark.implicits._
    // c and d are sinks (no out-edges): without redistribution their
    // rank mass leaks every iteration and the total drifts below 1
    val g = Seq(("a", "b", 1L), ("b", "c", 2L), ("b", "d", 1L), ("a", "c", 1L))
      .toDF("src", "dst", "wgt")
    val r = Graft.pageRank(g, "src", "dst", "wgt", iterations = 5).collect()
      .map(x => (x.getString(0), x.getDouble(1))).toMap
    assert(r.size == 4 && r.values.forall(_ > 0))
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"sum=${r.values.sum}")
    // sinks receive rank; the hub b outranks the leaf a
    assert(r("b") > r("a"))
  }

  test("pageRank fuzz: seeded random digraphs (with and without sinks) match a dense replay") {
    import spark.implicits._
    def ref(edges: Seq[(String, String, Long)], iters: Int, d: Double): Map[String, Double] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val n = nodes.size
      val idx = nodes.zipWithIndex.toMap
      val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3.toDouble).sum).toMap
      var r = Array.fill(n)(1.0 / n)
      for (_ <- 1 to iters) {
        val in = Array.fill(n)(0.0)
        edges.foreach { case (s, t, w) =>
          in(idx(t)) += r(idx(s)) * (w.toDouble / outW(s)) }
        val sink = nodes.filterNot(outW.contains).map(x => r(idx(x))).sum
        r = nodes.map(x => (1 - d) / n + d * (in(idx(x)) + sink / n)).toArray
      }
      nodes.zip(r).toMap
    }
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(77L + seed)
      val names = ('a' to 'j').map(_.toString)
      // ~60% of node pairs get an edge; leave the last 3 nodes src-less
      // so the graph HAS sinks (and a separate pass without sinks)
      def gen(withSinks: Boolean): Seq[(String, String, Long)] = {
        val srcs = if (withSinks) names.dropRight(3) else names
        val es = for {
          s <- srcs; t <- names
          if s != t && rnd.nextDouble() < 0.6
        } yield (s, t, 1L + rnd.nextInt(3))
        // guarantee every named src actually keeps one out-edge
        val covered = es.map(_._1).toSet
        es ++ srcs.filterNot(covered).map(s =>
          (s, names((names.indexOf(s) + 1) % names.size), 1L))
      }
      Seq(true, false).foreach { withSinks =>
        val edges = gen(withSinks)
        val got = Graft.pageRank(edges.toDF("src", "dst", "wgt"), "src", "dst", "wgt",
            iterations = 4).collect()
          .map(x => x.getString(0) -> x.getDouble(1)).toMap
        val want = ref(edges, 4, 0.85)
        assert(got.keySet == want.keySet, s"seed=$seed sinks=$withSinks")
        got.foreach { case (k, v) =>
          assert(math.abs(v - want(k)) < 1e-9,
            s"seed=$seed sinks=$withSinks node=$k got=$v want=${want(k)}") }
        assert(math.abs(got.values.sum - 1.0) < 1e-9)
      }
    }
  }

  test("pageRank: zero-sum out-weights fail loudly, not as silent dangling mass") {
    import spark.implicits._
    // b's weights sum to 0: normalization is undefined; pre-guard its
    // contributions vanished and its rank was reclassified as dangling
    val g = Seq(("a", "b", 1L), ("b", "c", 1L), ("b", "d", -1L))
      .toDF("src", "dst", "wgt")
    val e = intercept[Exception] {
      Graft.pageRank(g, "src", "dst", "wgt", iterations = 2).collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("out-weights")), messages(e).mkString(" | "))
  }

  test("cluster fixpoints exclude null node ids and terminate") {
    import spark.implicits._
    // a null id carries no identity (and would hit getLong as an NPE):
    // the contract is that a null-id pair row contributes nothing to
    // connectivity, on the union-find path and in the distributed loop.
    val pairs = Seq((Option(1L), Option(2L)), (Option(2L), Option(3L)),
        (Option.empty[Long], Option(4L)), (Option(5L), Option.empty[Long]),
        (Option.empty[Long], Option.empty[Long]))
      .toDF("a", "b")
    Seq(1000000L, 0L).foreach { guard =>
      val got = Graft.connectedComponentLabels(pairs, localEdgeThreshold = guard)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"guard $guard: $got")
    }
  }

  test("pageRank: empty edges yield empty ranks; a 2-cycle is uniform") {
    import spark.implicits._
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      new StructType().add("src", StringType).add("dst", StringType)
        .add("wgt", LongType))
    assert(Graft.pageRank(empty, "src", "dst", "wgt").count() == 0)
    val cyc = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "wgt")
    val r = Graft.pageRank(cyc, "src", "dst", "wgt").collect()
      .map(x => (x.getString(0), x.getDouble(1))).toMap
    assert(math.abs(r("a") - 0.5) < 1e-12 && math.abs(r("b") - 0.5) < 1e-12)
  }
}
