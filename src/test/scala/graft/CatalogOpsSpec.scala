package graft

import graft.operators.CatalogOps
import org.apache.spark.sql.Row

class CatalogOpsSpec extends SparkSpec {

  private def run(name: String) = CatalogOps.queries(name)(spark, sf)

  test("driver smoke contract: entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry (driver gate totality)") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val orphans = os.diff(qs)
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
    // and the other way: Verify dumps every registered query, and a dump
    // without an oracle is never compared
    val unchecked = qs.diff(os)
    assert(unchecked.isEmpty, s"queries without oracleSql: $unchecked")
  }

  test("m0 census: one row per language, counts sum to corpus size") {
    val rows = run("m0_corpus_census").collect()
    assert(rows.map(_.getString(0)).toSeq == rows.map(_.getString(0)).toSeq.sorted)
    assert(rows.map(_.getLong(1)).sum == 500L)
  }

  test("f1 suffix filter keeps only sources ending in 1") {
    val srcs = run("f1_suffix_filter").collect().map(_.getString(1)).distinct
    assert(srcs.nonEmpty && srcs.forall(_.endsWith("1")))
  }

  test("f2 multi-extension filter only admits audio extensions") {
    val exts = run("f2_multi_ext_filter").collect().map(_.getString(0)).toSet
    assert(exts.subsetOf(Set("webm", "mp3", "wav", "m4a", "flac", "ogg")))
    assert(!exts.contains("txt"))
  }

  test("p4 extension projection emits 'no extension' for bare keys") {
    val exts = run("p4_extension").collect().map(_.getString(1)).toSet
    assert(exts.contains("no extension"))
    assert(exts.contains("wav")) // .WAV lowercased
  }

  test("a1 count-by-year is dense over orders years, newest first") {
    val years = run("a1_count_by_year").collect().map(_.getInt(0)).toSeq
    assert(years == years.sorted.reverse)
    assert(years.contains(1995) && years.contains(2001))
  }

  test("j2 anti join excludes exactly the multiples of 7") {
    val Row(n: Long, first: Long, _) = run("j2_anti_join").collect().head
    // 500 docs at sf0.001, doc_id 0..499; 72 multiples of 7 below 500.
    assert(n == 500 - 72)
    assert(first == 1L)
  }

  test("w2 top-n per group yields at most 3 rows per year, rank-ordered") {
    val rows = run("w2_topn_per_group").collect()
    val byYear = rows.groupBy(_.getInt(0))
    assert(byYear.values.forall(_.length <= 3))
    byYear.values.foreach { rs =>
      val prices = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(prices.toSeq == prices.sortBy(-_).toSeq)
    }
  }

  test("o6 argmin picks quantity nearest 25 per returnflag") {
    val rows = run("o6_argmin").collect()
    rows.foreach { r => assert(math.abs(r.getDouble(2) - 25.0) < 1.0) }
  }
}
