package graft

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Round-15 invariants beyond the DuckDB oracle: the capped DBSCAN
  * labeling against a union-find replay (and, on a DENSE synthetic
  * cell where the per-cell cap actually binds — the registered md5
  * points are uniform enough that it never does at test SFs — the
  * declared demotion-only/containment contract), the survivorship
  * majority's 3-way tie semantics, the documents-grain staleness
  * gate's two branches, the registered distributed-CC loop vs the
  * guarded path, the loud-fail on an exhausted fixpoint budget, and
  * the recipe-versioned fixture tags. */
class Round15Spec extends SparkSpec {

  private def md5hex(s: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(s.getBytes("UTF-8"))
    .map("%02x".format(_)).mkString

  private case class Pt(id: Long, x: Long, y: Long)

  /** Brute-force replay of the (optionally capped) DBSCAN labeling:
    * per-cell md5-ranked representatives, 3×3 candidate probe, exact
    * BIGINT ε-filter, union-find over the SYMMETRIZED core-core
    * candidate edges, border attach to the min core-candidate
    * cluster, -1 noise sentinel — the whole contract, independent of
    * Spark. */
  private def replay(pts: Seq[Pt], pitch: Long, cap: Option[Int])
      : Map[Long, (Long, String, Long)] = {
    val byCell = pts.groupBy(p => (p.x / pitch, p.y / pitch))
    val reps: Map[(Long, Long), Seq[Pt]] = cap.fold(byCell) { k =>
      byCell.view.mapValues(_.sortBy(p =>
        (md5hex(p.id.toString + ":cap"), p.id)).take(k)).toMap
    }
    def inEps(a: Pt, b: Pt): Boolean = {
      val (dx, dy) = (a.x - b.x, a.y - b.y)
      dx * dx + dy * dy <= 9000000L
    }
    val cand: Map[Long, Seq[Long]] = pts.map { p =>
      val (cx, cy) = (p.x / pitch, p.y / pitch)
      val cs = for {
        dx <- -1 to 1; dy <- -1 to 1
        q <- reps.getOrElse((cx + dx, cy + dy), Seq.empty)
        if q.id != p.id && inEps(p, q)
      } yield q.id
      p.id -> cs
    }.toMap
    val counts = cand.view.mapValues(_.size.toLong).toMap
    val cores = pts.map(_.id).filter(counts(_) >= 2).toSet
    val parent = mutable.Map(cores.toSeq.map(c => c -> c): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for { (a, nbs) <- cand; if cores(a); b <- nbs; if cores(b) } {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val compOf = cores.groupBy(find).flatMap { case (_, vs) =>
      val m = vs.min; vs.map(_ -> m)
    }
    pts.map { p =>
      val t =
        if (cores(p.id)) (counts(p.id), "core", compOf(p.id))
        else {
          val coreNb = cand(p.id).filter(cores)
          if (coreNb.nonEmpty)
            (counts(p.id), "border", coreNb.map(compOf).min)
          else (counts(p.id), "noise", -1L)
        }
      p.id -> t
    }.toMap
  }

  private def collectLabels(df: DataFrame): Map[Long, (Long, String, Long)] =
    df.collect().map(r => r.getAs[Long]("user_id") ->
      ((r.getAs[Long]("n_within_r"), r.getAs[String]("cls"),
        r.getAs[Long]("cluster")))).toMap

  /** md5 point set of a data dir's distinct users (the GeoOps recipe). */
  private def geoPoints(dir: String): Seq[Pt] =
    Tables.events(spark, dir).select("user_id").distinct()
      .collect().map(_.getLong(0)).toSeq.map { u =>
        val h = md5hex(u.toString)
        Pt(u, java.lang.Long.parseLong(h.substring(0, 4), 16),
              java.lang.Long.parseLong(h.substring(4, 8), 16))
      }

  private val geoSf = "/root/testdata/sf0.01"

  test("geo_dbscan_label_capped: union-find replay + contract vs exact") {
    val out = collectLabels(
      SparkEntry.queries("geo_dbscan_label_capped")(spark, geoSf))
    val pts = geoPoints(geoSf)
    val exp = replay(pts, pitch = 3000L, cap = Some(8))
    assert(out == exp, "capped labeling must equal the union-find replay")
    // declared contract vs the EXACT labeling: capped can only demote,
    // and every capped cluster is contained in one exact cluster
    val exact = replay(pts, pitch = 4096L, cap = None)
    val rank = Map("noise" -> 0, "border" -> 1, "core" -> 2)
    pts.foreach { p =>
      assert(rank(out(p.id)._2) <= rank(exact(p.id)._2),
        s"point ${p.id} upgraded under the cap")
      assert(out(p.id)._1 <= exact(p.id)._1,
        s"point ${p.id}: capped count must be a lower bound")
    }
    val containment = pts.filter(p => out(p.id)._2 == "core")
      .groupBy(p => out(p.id)._3)
      .view.mapValues(_.map(p => exact(p.id)._3).distinct)
    containment.foreach { case (c, exs) =>
      assert(exs.size == 1, s"capped cluster $c spans exact clusters $exs")
    }
  }

  test("capped demotion branch binds on a dense synthetic cell") {
    // Cell (10,10) at pitch 3000 holds a 30-point blob (mutually
    // within ε, in the low corner) plus two satellites A, B in the
    // far corner, > ε from the blob; P sits alone in the adjacent
    // cell within ε of A and B. Ids are assigned so the blob owns
    // the cell's 8 md5-ranked representatives: A and B get the two
    // WORST-ranked ids, so the cap hides them from every probe.
    val cellIds = (1L to 32L).sortBy(id => (md5hex(id.toString + ":cap"), id))
    val (blobIds, satIds) = (cellIds.take(30), cellIds.drop(30))
    val blob = blobIds.zipWithIndex.map { case (id, i) =>
      Pt(id, 30100 + (i % 6) * 50, 30100 + (i / 6) * 50)
    }
    val Seq(aId, bId) = satIds
    val (a, b, p) = (Pt(aId, 32800, 32900), Pt(bId, 32900, 32900),
                     Pt(100L, 33100, 32900))
    val pts = blob ++ Seq(a, b, p)
    // construction sanity: A/B/P are mutually within ε, all > ε from
    // the blob, and the blob is mutually within ε
    def d2(u: Pt, v: Pt) = { val (dx, dy) = (u.x - v.x, u.y - v.y)
      dx * dx + dy * dy }
    for (u <- Seq(a, b, p); v <- Seq(a, b, p) if u != v)
      assert(d2(u, v) <= 9000000L)
    for (u <- Seq(a, b, p); v <- blob) assert(d2(u, v) > 9000000L)
    for (u <- blob; v <- blob) assert(d2(u, v) <= 9000000L)

    import spark.implicits._
    val ptsDf = pts.map(q => (q.id, q.x, q.y)).toDF("user_id", "xi", "yi")
    val exact = collectLabels(operators.GeoOps
      .labelFromPoints(ptsDf, pitch = 4096L, cap = None))
    val capped = collectLabels(operators.GeoOps
      .labelFromPoints(ptsDf, pitch = 3000L, cap = Some(8)))
    assert(exact == replay(pts, 4096L, None))
    assert(capped == replay(pts, 3000L, Some(8)))
    // exact: blob is one cluster of cores; {A, B, P} a second
    assert(Seq(a, b, p).forall(q => exact(q.id)._2 == "core"))
    assert(Seq(a, b, p).map(q => exact(q.id)._3).distinct.size == 1)
    // capped: the cap BINDS (counts strictly drop) and demotes the
    // satellite cluster to noise while the blob survives intact
    assert(blob.forall(q => capped(q.id)._1 < exact(q.id)._1))
    assert(blob.forall(q => capped(q.id)._2 == "core"))
    assert(blob.map(q => capped(q.id)._3).distinct.size == 1)
    Seq(a, b, p).foreach { q =>
      assert(capped(q.id)._2 == "noise" && capped(q.id)._3 == -1L,
        s"satellite ${q.id} must be demoted core→noise under the cap")
    }
    // the census frame agrees with the labeling frame on cls
    val cen = operators.GeoOps
      .censusFromPoints(ptsDf, pitch = 3000L, cap = Some(8))
      .collect().map(r => r.getAs[Long]("user_id") ->
        r.getAs[String]("cls")).toMap
    pts.foreach(q => assert(cen(q.id) == capped(q.id)._2))
  }

  test("nationMajority: count decides first, trust order breaks ties") {
    import spark.implicits._
    val stacked = Seq(
      // 3-way split, all cnt = 1: src 1's value must win
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
      // two lower-trust sources outvote src 1
      (2L, 1, 21L), (2L, 2, 20L), (2L, 3, 20L),
      // majority includes src 1
      (3L, 1, 30L), (3L, 2, 30L), (3L, 3, 31L),
      // 3-way split with scrambled values: still src 1's value (41)
      (4L, 3, 40L), (4L, 1, 41L), (4L, 2, 42L)
    ).toDF("k", "src", "nat")
    val got = operators.LinkageOps.nationMajority(stacked)
      .collect().map(r => r.getAs[Long]("k") ->
        r.getAs[Long]("nation_majority")).toMap
    assert(got == Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 41L))
  }

  test("layout_stats_staleness_docs: both gate branches fire") {
    val rows = SparkEntry.queries("layout_stats_staleness_docs")(spark, sf)
      .collect().map(r => r.getAs[String]("side") -> r).toMap
    val docs = rows("documents_srclang")
    assert(docs.getAs[Int]("reanalyze") == 1)
    assert(docs.getAs[Long]("n_snap") < docs.getAs[Long]("n_live"),
      "the prior feed is a strict subset of live documents")
    assert(docs.getAs[Long]("drift_n_e6") > 50000L)
    val emb = rows("embeddings_label")
    assert(emb.getAs[Int]("reanalyze") == 0)
    assert(emb.getAs[Long]("n_snap") == emb.getAs[Long]("n_live"))
    assert(emb.getAs[Long]("drift_n_e6") == 0L &&
           emb.getAs[Long]("max_mcv_f_drift_e6") == 0L &&
           emb.getAs[Long]("mcv_overlap") == 8L)
  }

  test("graph_connected_components_loop equals the guarded path") {
    def rows(k: String) = SparkEntry.queries(k)(spark, sf).collect()
      .map(r => (r.getAs[Long]("component"), r.getAs[Long]("n_nodes")))
      .toSet
    assert(rows("graph_connected_components_loop") ==
           rows("graph_connected_components"),
      "the forced RDD loop and the guarded union-find must agree")
  }

  test("connectedComponentLabels fails loudly on an exhausted budget") {
    import spark.implicits._
    val path = (1L to 12L).sliding(2).toSeq
      .flatMap { case Seq(u, v) => Seq((u, v), (v, u)) }
      .toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      graft.api.Graft.connectedComponentLabels(path,
        maxRounds = 1, localEdgeThreshold = 0L).collect()
    }
    assert(ex.getMessage.contains("no fixpoint"))
    // and with the budget restored the same input converges
    val lbl = graft.api.Graft.connectedComponentLabels(path,
        localEdgeThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lbl.values.toSet == Set(1L) && lbl.size == 12)
  }

  test("graph_pagerank_residual: exact driver replay of the 4 rounds") {
    val out = SparkEntry.queries("graph_pagerank_residual")(spark, sf)
      .collect().map(r => r.getAs[Long]("round") ->
        ((r.getAs[Long]("l1_residual_e12"), r.getAs[Long]("max_delta_e12"),
          r.getAs[Long]("sum_rank_e12")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    // replay in plain Scala BigInt-free exact longs from the raw edges
    val p = graft.api.Graft.coPurchasePairs(spark, sf)
      .filter(org.apache.spark.sql.functions.col("w") >= 2)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("w")))
    val e = p.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val ww = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val vs = e.map(_._1).distinct.sorted
    val n = vs.length.toLong
    val S = 1000000000000L
    var rank: Map[Long, Long] = vs.map(v => v -> S / n).toMap
    (1 to 4).foreach { t =>
      val inr = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      e.foreach { case (src, dst, w) =>
        inr(dst) += rank(src) * w / ww(src)
      }
      val next = vs.map(v => v -> (15 * S / (100 * n) +
        85 * inr(v) / 100)).toMap
      val deltas = vs.map(v => math.abs(next(v) - rank(v)))
      assert(out(t.toLong) == ((deltas.sum, deltas.max,
        next.values.sum)), s"round $t books diverge from the replay")
      rank = next
    }
    // residual must shrink round over round on this graph — the
    // witness the column exists to carry
    assert((1 to 3).forall(t => out(t.toLong)._1 > out(t + 1L)._1))
  }

  test("dedup_lsh_recall_audit: books and analytic curve are coherent") {
    val rows = SparkEntry.queries("dedup_lsh_recall_audit")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // the derived sample divisor replays from the eligible-doc count
    // through the same pair-budget ladder
    val nElig = operators.DedupOps.shingled(spark, sf)
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("bg")) > 0).count()
    val expectD = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L)
      .find(d => nElig / d <= 1414L) // m(m−1)/2 ≤ 1e6 ⟺ m ≤ 1414
      .getOrElse(256L)
    assert(rows.forall(_.getAs[Long]("sample_div") == expectD))
    assert(expectD == 1L,
      "at sf0.001 the ladder must pick FULL-corpus ground truth")
    rows.foreach { r =>
      val (bin, np, nb) = (r.getAs[Long]("bin"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_banded"))
      assert(nb >= 0 && nb <= np)
      assert(r.getAs[Long]("recall_e6") == nb * 1000000L / np)
      // the analytic S-curve column replays in plain Scala with the
      // same left-assoc IEEE sequence
      val s = math.min((2 * bin + 1) / 20.0, 1.0)
      val q = 1.0 - s * s
      val expect = BigDecimal(1.0 - q * q * q * q * q * q)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("analytic_recall_r6") - expect) == 0.0,
        s"bin $bin analytic curve")
    }
  }

  test("snapshotFixtureDir: recipeVersion mints a fresh tag") {
    import java.nio.file.{Files, Paths}
    val dataDir = tempDir("r15_recipe_data", parent = "target")
    Files.writeString(dataDir.resolve("a.txt"), "alpha")
    def build(v: Int): String =
      snapshotFixture("r15recipe", dataDir.toString,
          recipeVersion = v) { out =>
        Files.createDirectories(Paths.get(out))
        Files.writeString(Paths.get(out, "payload.txt"), s"v$v")
      }
    val (p1, p2) = (build(1), build(2))
    assert(p1 != p2,
      "a bumped write-recipe version must mint a fresh fixture tag")
    assert(Files.readString(Paths.get(p2, "payload.txt")) == "v2")
    assert(build(1) == p1 && build(2) == p2, "same version stays idempotent")
  }
}
