package graft

import graft.operators.DedupOps
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {

  test("minhash-LSH candidates contain every true near-dup pair (recall vs brute force)") {
    val lsh = DedupOps.queries("dedup_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = DedupOps.queries("dedup_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // banded-exact pairs are a subset of what LSH+verify finds (the
    // band blocking can only lose pairs LSH also scores >= 0.5)
    assert(exact.subsetOf(lsh))
    assert(lsh.nonEmpty)
  }

  test("exact-substring: planted verbatim spans are recovered exactly") {
    import spark.implicits._
    // docs 1/2 share one 7-token span (at different offsets); docs 4/5
    // share two disjoint 5-token spans; doc 3 is all-unique filler.
    val docs = Seq(
      (1L, "A B C D E F G w1 w2"),
      (2L, "z1 z2 A B C D E F G"),
      (3L, "u1 u2 u3 u4 u5 u6"),
      (4L, "A2 B2 C2 D2 E2 x1 x2 P Q R S T"),
      (5L, "y1 A2 B2 C2 D2 E2 y2 y3 P Q R S T"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft_exsub").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.queries("dedup_exact_substring")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
      .toMap
    // (n_tokens, dup_tokens, n_spans): the shared 7-token span is
    // covered by merged 5-gram seeds on both sides; disjoint spans
    // stay two islands; the unique doc scores zero
    assert(got(1L) == ((9L, 7L, 1)))
    assert(got(2L) == ((9L, 7L, 1)))
    assert(got(3L) == ((6L, 0L, 0)))
    assert(got(4L) == ((12L, 10L, 2)))
    assert(got(5L) == ((13L, 10L, 2)))
  }

  test("exact-substring fuzz: seeded random corpora match a driver-side replay") {
    import spark.implicits._
    val k = 5
    // driver-side reference: gram positions via string equality (the
    // Spark side seeds with xxhash64 — collision-free at these sizes),
    // span merge via the sorted-positions walk
    def ref(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Int)] = {
      val grams = docs.flatMap { case (id, t) =>
        val ts = t.split(" ")
        (0 to ts.length - k).map(i => (id, i + 1, ts.slice(i, i + k).mkString(" ")))
      }
      val freq = grams.groupBy(_._3).view.mapValues(_.size).toMap
      docs.map { case (id, t) =>
        val n = t.split(" ").length.toLong
        val dupPos = grams.collect {
          case (d, p, g) if d == id && freq(g) >= 2 => p }.sorted
        var spans = List.empty[(Int, Int)] // (first, last) gram starts
        dupPos.foreach { p =>
          spans match {
            case (s0, l0) :: rest if p <= l0 + k - 1 => spans = (s0, p) :: rest
            case _ => spans = (p, p) :: spans
          }
        }
        val dupTok = spans.map { case (s, l) => (l + k - 1) - s + 1 }.sum.toLong
        id -> ((n, dupTok, spans.size))
      }.toMap
    }
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(1234L + seed)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
      val docs = (1L to 30L).map { id =>
        val len = 3 + rnd.nextInt(18)
        id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val dir = tempDir(s"graft_exsub_f$seed").toString
      docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = DedupOps.queries("dedup_exact_substring")(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
      assert(got == ref(docs), s"seed=$seed")
    }
  }

  test("dedup is idempotent: removing dups then re-deduping removes nothing") {
    val docs = Tables.documents(spark, sf)
    val deduped = docs.dropDuplicates("text")
    assert(deduped.count() == deduped.dropDuplicates("text").count())
  }

  test("simhash of identical texts is identical; hamming to self is 0") {
    import spark.implicits._
    val two = Seq((1L, "en", "the fast key order"), (2L, "en", "the fast key order"))
      .toDF("doc_id", "lang", "text")
    val sh = two.select(graft.functions.TextSignatures.simHash32(col("text")).as("h"))
      .collect().map(_.getLong(0))
    assert(sh(0) == sh(1))
  }

  test("native simhash expression matches the SQL-algebra reference implementation") {
    val docs = Tables.documents(spark, sf).limit(50)
    val native = docs
      .select(col("doc_id"), graft.functions.TextSignatures.simHash32(col("text")).as("simhash"))
    val reference = DedupOps.simhash32(docs).select(col("doc_id"), col("simhash"))
    assert(native.exceptAll(reference).count() == 0)
    assert(reference.exceptAll(native).count() == 0)
  }

  test("simhash64 chunk blocking is lossless: pairs == brute-force all-pairs hamming<=3") {
    // the pigeonhole claim itself: 3 bit errors touch at most 3 of the
    // 4 16-bit chunks, so the (lang, cpos, cval) multi-index must find
    // EXACTLY the pairs an unblocked all-pairs scan finds
    val sh = Tables.documentsSpread(spark, sf)
      .select(col("doc_id"), col("lang"),
              graft.functions.TextSignatures.simHash64(col("text")).as("simhash"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
              expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .filter(col("hamming") <= 3)
    val blocked = SparkEntry.queries("dedup_simhash64")(spark, sf)
    assert(blocked.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(blocked).count() == 0)
  }

  test("salted jaccard join == unsalted brute-force blocked join") {
    // the salting (side a keeps hash(doc_id)%S, side b replicated to all
    // S salts) must be a pure re-layout: identical surviving pairs
    def jac(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val i = graft.functions.SortedIntersectCount.sortedIntersectCountLong(a, b)
      i.cast("double") / (size(a) + size(b) - i)
    }
    val sh = Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), col("lang"),
              (col("n_chars") / 128).cast("long").as("band"),
              graft.functions.TextSignatures.wordBigramHashes(col("text")).as("bg"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
        col("a.doc_id") < col("b.doc_id") &&
        jac(col("a.bg"), col("b.bg")) >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = DedupOps.queries("dedup_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == brute)
    assert(brute.nonEmpty)
  }

  test("cluster resolution == driver-side union-find over the same pairs") {
    val pairs = DedupOps.queries("dedup_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference: plain union-find on the collected edge list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expect = parent.keys.map(x => x -> find(x)).toMap
    // union-find roots are not guaranteed minimal; normalize to min-of-component
    val minOf = expect.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    val want = expect.map { case (x, r) => x -> minOf(r) }

    val got = DedupOps.queries("dedup_cluster_canonical")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getInt(2), r.getInt(3)))
    assert(got.map(t => t._1 -> t._2).toMap == want)
    // keep flag marks exactly the canonical member; sizes are consistent
    got.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid)
      assert(members.count(_._4 == 1) == 1)
      assert(members.forall(_._3 == members.length))
    }
  }

  test("word bigrams native == HOF formulation") {
    val docs = Tables.documents(spark, sf).limit(50)
    val toks = split(col("text"), " ")
    val hof = array_sort(array_distinct(transform(
      sequence(lit(1), size(toks) - 1),
      i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1)))))
    val both = docs.select(
      graft.functions.TextSignatures.wordBigrams(col("text")).as("native"),
      hof.as("hof"))
    assert(both.filter(not(col("native") === col("hof"))).count() == 0)
  }

  test("dedup_keep_best keeps exactly the argmax-quality doc per cluster") {
    val rows = graft.operators.DedupOps.queries("dedup_keep_best")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cid, members) =>
      assert(members.count(_._4 == 1) == 1, s"cluster $cid")
      val kept = members.find(_._4 == 1).get
      // argmax quality, min doc_id on ties — exact integer comparison
      assert(kept == members.maxBy(m => (m._3, -m._2)), s"cluster $cid")
    }
    // same membership as the min-id canonical census
    val canon = graft.operators.DedupOps.queries("dedup_cluster_canonical")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._1, r._2)).toSet == canon)
  }

  test("dedup_phonetic_block: keys are well-formed, blocking is complete, pair counts are the cost model") {
    import spark.implicits._
    val rows = graft.operators.DedupOps.queries("dedup_phonetic_block")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (k, nDocs, nWords, nPairs) =>
      assert(k.matches("[a-z][0-6]{3}"), s"malformed key '$k'")
      assert(nWords <= nDocs)
      assert(nPairs == nDocs * (nDocs - 1) / 2, s"$k: pair count is not C(n,2)")
    }
    // completeness: every doc with a leading word lands in exactly one block
    val nWithWord = Tables.documents(spark, sf)
      .filter(length(regexp_extract($"text", "^[A-Za-z]+", 0)) > 0).count()
    assert(rows.map(_._2).sum == nWithWord)
    // blocking soundness: equal first words always share a block, so a
    // same-word near-dup pair can never be missed by the blocker
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("a session memo is rebuilt when its dir's files change: dedup_minhash_lsh sees the new corpus") {
    import spark.implicits._
    // two corpora over the same ids whose verbatim-duplicate pair differs
    def corpus(dup: (Long, Long)) = (1L to 4L).map { id =>
      val text = if (id == dup._1 || id == dup._2) "a b c d e f" else s"a$id b$id c$id d$id e$id"
      (id, text, "en", "src", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft_memo_files").toString
    def pairs = DedupOps.queries("dedup_minhash_lsh")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    corpus(1L -> 2L).write.parquet(s"$dir/documents.parquet")
    assert(pairs == Seq(1L -> 2L))
    corpus(3L -> 4L).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(pairs == Seq(3L -> 4L))
  }
}
