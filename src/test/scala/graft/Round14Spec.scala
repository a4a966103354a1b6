package graft

import org.apache.spark.sql.functions._

/** Round-14 invariants beyond the DuckDB oracle: the DBSCAN census /
  * capped census / fixpoint cluster labeling against brute-force
  * replays (including TRUE components by union-find), the fan-in-3
  * survivorship rules (with a pinned majority ≠ source-trust case),
  * the stats-staleness gate's books, the auto-pitch heatmap raster,
  * and the hardened snapshot-fixture lifecycle (concurrent first-build
  * race, content-stamped tags, write-once idempotence). */
class Round14Spec extends SparkSpec {

  private def md5hex(s: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(s.getBytes("UTF-8"))
    .map("%02x".format(_)).mkString

  private def hexDraw(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 4), 16)

  /** md5 point set of a data dir's distinct users (the GeoOps recipe). */
  private def geoPoints(dir: String): Array[(Long, Long, Long)] =
    Tables.events(spark, dir).select("user_id").distinct()
      .collect().map(_.getLong(0)).map { u =>
        val h = md5hex(u.toString)
        (u, java.lang.Long.parseLong(h.substring(0, 4), 16),
            java.lang.Long.parseLong(h.substring(4, 8), 16))
      }

  // sf0.01 has a real core/border/noise mix (30/21/99) — sf0.001's 15
  // points are almost all noise, so the geo replays probe the next SF up
  private val geoSf = "/root/testdata/sf0.01"

  test("geo_dbscan_label: census + TRUE components by union-find replay") {
    val out = SparkEntry.queries("geo_dbscan_label")(spark, geoSf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_within_r"), r.getAs[String]("cls"),
          r.getAs[Long]("cluster")))).toMap
    val pts = geoPoints(geoSf)
    assert(out.size == pts.length)
    def inEps(a: (Long, Long, Long), b: (Long, Long, Long)): Boolean = {
      val (dx, dy) = (a._2 - b._2, a._3 - b._3)
      dx * dx + dy * dy <= 9000000L
    }
    // pitch 4096 ≥ ε ⇒ the grid candidates are a superset of every
    // ε-ball, so brute-force ε-counts equal the query's counts
    val neigh = pts.map(p =>
      p._1 -> pts.filter(q => q._1 != p._1 && inEps(p, q)).map(_._1)).toMap
    val counts = neigh.view.mapValues(_.length.toLong).toMap
    val cores = pts.map(_._1).filter(counts(_) >= 2).toSet
    // true components of the core-core ε-subgraph by union-find
    val parent = scala.collection.mutable.Map(cores.toSeq.map(c => c -> c): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for (u <- cores; v <- neigh(u) if cores(v)) {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    // min-id canonical label per component
    val compOf = cores.groupBy(find).flatMap { case (_, vs) =>
      val m = vs.min; vs.map(_ -> m)
    }
    pts.foreach { case (u, _, _) =>
      val (n, cls, cl) = out(u)
      assert(n == counts(u), s"user $u neighbor count")
      if (cores(u)) {
        assert(cls == "core" && cl == compOf(u),
          s"user $u: core label must be the TRUE component min-id")
      } else {
        val coreNb = neigh(u).filter(cores)
        if (coreNb.nonEmpty)
          assert(cls == "border" && cl == coreNb.map(compOf).min,
            s"user $u: border must take the min core-neighbor cluster")
        else assert(cls == "noise" && cl == -1L, s"user $u: noise sentinel")
      }
    }
    // the labeling is a refinement sanity: two ε-adjacent cores always
    // share a cluster (the 60-label under-merge a fixed unroll left)
    for (u <- cores; v <- neigh(u) if cores(v))
      assert(out(u)._3 == out(v)._3, s"adjacent cores $u,$v split")
  }

  test("geo_dbscan_core_capped: per-cell cap replay and 9K candidate bound") {
    val out = SparkEntry.queries("geo_dbscan_core_capped")(spark, geoSf)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_within_r"), r.getAs[String]("cls")))).toMap
    val pts = geoPoints(geoSf)
    val pitch = 3000L
    val byCell = pts.groupBy(p => (p._2 / pitch, p._3 / pitch))
    // build side: the ≤8 md5-ranked representatives per cell
    val capped = byCell.view.mapValues(_.sortBy(p =>
      (md5hex(p._1.toString + ":cap"), p._1)).take(8)).toMap
    val cand = pts.map { p =>
      val (cx, cy) = (p._2 / pitch, p._3 / pitch)
      val reps = (for {
        dx <- -1 to 1; dy <- -1 to 1
        q <- capped.getOrElse((cx + dx, cy + dy), Array.empty[(Long, Long, Long)])
      } yield q).filter(_._1 != p._1)
      assert(reps.size <= 72, s"probe ${p._1} exceeds the 9K cap bound")
      p._1 -> reps.filter { q =>
        val (dx, dy) = (p._2 - q._2, p._3 - q._3)
        dx * dx + dy * dy <= 9000000L
      }.map(_._1)
    }.toMap
    val counts = cand.view.mapValues(_.length.toLong).toMap
    val cores = pts.map(_._1).filter(counts(_) >= 2).toSet
    pts.foreach { case (u, _, _) =>
      val (n, cls) = out(u)
      assert(n == counts(u), s"user $u capped count")
      val expected =
        if (cores(u)) "core"
        else if (cand(u).exists(cores)) "border"
        else "noise"
      assert(cls == expected, s"user $u capped class")
    }
  }

  test("link_survivorship3: full field replay + majority beats trust case") {
    val out = SparkEntry.queries("link_survivorship3")(spark, sf).collect()
      .map(r => r.getAs[Long]("custkey") -> r).toMap
    val cust = Tables.customer(spark, sf)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .collect().map(r => (r.getAs[Number](0).longValue, r.getString(1),
        r.getAs[Number](2).longValue, r.getDouble(3)))
    assert(out.size == cust.length)
    var sawMajorityBeatsTrust = false
    cust.foreach { case (k, name, nat, bal) =>
      def draw(salt: String) = hexDraw(s"$k$salt")
      val shift = draw(":fs2") % 20 == 0 // SHARED by both noisy feeds
      val rows = Seq(
        (1, name, nat, math.floor(bal * 100 + 0.5).toLong),
        (2, if (draw(":fs1") % 10 == 0) name.dropRight(1) else name,
            if (shift) (nat + 1) % 25 else nat,
            math.floor((bal + (draw(":fs3") % 11 - 5)) * 100 + 0.5).toLong),
        (3, if (draw(":sv1") % 7 == 0) name.dropRight(2) else name,
            if (shift) (nat + 1) % 25 else nat,
            math.floor((bal + (draw(":sv3") % 11 - 5)) * 100 + 0.5).toLong))
      val majority = rows.groupBy(_._3).map { case (v, g) =>
        v -> (g.size * 10 - g.map(_._1).min)
      }.maxBy(_._2)._1
      val trust = rows.minBy(_._1)._3
      val sc = rows.map(_._4).sum
      val r = out(k)
      assert(r.getAs[String]("name_golden") == rows.maxBy(_._2.length)._2,
        s"$k name completeness")
      assert(r.getAs[Number]("nation_majority").longValue == majority,
        s"$k majority")
      assert(r.getAs[Number]("nation_trust").longValue == trust, s"$k trust")
      assert(r.getAs[Int]("majority_ne_trust") ==
        (if (majority != trust) 1 else 0), s"$k flag")
      assert(r.getAs[Long]("acct_golden_cents") ==
        Math.floorDiv(2 * sc + 3, 6), s"$k consensus cents")
      assert(r.getAs[Long]("n_conflicts") ==
        (rows.map(_._2).distinct.size - 1) + (rows.map(_._3).distinct.size - 1)
          + (rows.map(_._4).distinct.size - 1), s"$k conflicts")
      if (shift) {
        // both noisy feeds shifted ⇒ majority (2 of 3) = shifted value,
        // while source-trust still reports the clean feed — the case
        // fan-in 2 can never produce
        assert(majority == (nat + 1) % 25 && trust == nat &&
               r.getAs[Int]("majority_ne_trust") == 1,
          s"$k: shared-shift entity must show majority ≠ trust")
        sawMajorityBeatsTrust = true
      }
    }
    assert(sawMajorityBeatsTrust,
      "fixture must exhibit at least one majority ≠ trust entity")
  }

  test("layout_stats_staleness: closed-form replay and the two gate branches") {
    val out = SparkEntry.queries("layout_stats_staleness")(spark, sf)
      .collect().map(r => r.getAs[String]("side") -> r).toMap
    assert(out.keySet == Set("events_user", "lineitem_ok"))
    val ev = Tables.events(spark, sf).select("event_id", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def freq(rows: Seq[Long]): Map[Long, Long] =
      rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def top8(f: Map[Long, Long]): Seq[(Long, Long)] =
      f.toSeq.sortBy { case (k, c) => (-c, k) }.take(8)
    val prior = freq(ev.filter { case (eid, _) =>
      hexDraw(s"$eid:st") % 8 != 0 }.map(_._2).toSeq)
    val live = freq(ev.map(_._2).toSeq)
    val e = out("events_user")
    assert(e.getAs[Long]("n_snap") == prior.values.sum)
    assert(e.getAs[Long]("n_live") == live.values.sum)
    assert(e.getAs[Long]("d_snap") == prior.size)
    assert(e.getAs[Long]("d_live") == live.size)
    val pm = top8(prior)
    assert(e.getAs[Long]("mcv_overlap") ==
      pm.map(_._1).count(top8(live).map(_._1).toSet))
    assert(e.getAs[Long]("max_mcv_f_drift_e6") ==
      pm.map { case (k, fs) =>
        math.abs(live(k) - fs) * 1000000L / math.max(fs, 1L) }.max)
    assert(e.getAs[Long]("drift_n_e6") ==
      math.abs(live.values.sum - prior.values.sum) * 1000000L /
        prior.values.sum)
    assert(e.getAs[Int]("reanalyze") == 1,
      "the drifted events side must demand a re-ANALYZE")
    val l = out("lineitem_ok")
    assert(l.getAs[Long]("n_snap") == l.getAs[Long]("n_live") &&
           l.getAs[Long]("drift_n_e6") == 0 &&
           l.getAs[Long]("mcv_overlap") == 8 &&
           l.getAs[Long]("max_mcv_f_drift_e6") == 0 &&
           l.getAs[Int]("reanalyze") == 0,
      "the unchanged lineitem side must pass the gate untouched")
  }

  test("geo_heatmap_smooth: occupancy-derived raster pitch + kernel replay") {
    val out = SparkEntry.queries("geo_heatmap_smooth")(spark, sf).collect()
    val pts = geoPoints(sf)
    val n = pts.length.toLong
    val pitch = Iterator.iterate(16384L)(_ / 2).takeWhile(_ >= 1L)
      .filter(p => n * p * p <= 8L * 65536L * 65536L)
      .nextOption().getOrElse(1L)
    assert(out.forall(_.getAs[Long]("pitch") == pitch),
      "raster must report the occupancy-derived pitch")
    val dim = 65536L / pitch
    assert(out.forall(r => r.getAs[Long]("gx") >= 0 &&
      r.getAs[Long]("gx") < dim && r.getAs[Long]("gy") >= 0 &&
      r.getAs[Long]("gy") < dim))
    assert(out.map(_.getAs[Long]("n")).sum == n, "raster mass conservation")
    val cells = pts.groupBy(p => (p._2 / pitch, p._3 / pitch))
      .view.mapValues(_.length.toLong).toMap
    out.foreach { r =>
      val (gx, gy) = (r.getAs[Long]("gx"), r.getAs[Long]("gy"))
      val expected = (for { dx <- -1 to 1; dy <- -1 to 1 } yield {
        val w = if (dx == 0 && dy == 0) 4L
                else if (math.abs(dx) + math.abs(dy) == 1) 2L else 1L
        // contribution comes FROM cell (gx-dx, gy-dy) toward (gx, gy)
        w * cells.getOrElse((gx - dx, gy - dy), 0L)
      }).sum
      assert(r.getAs[Long]("smoothed") == expected, s"cell ($gx,$gy) kernel")
      assert(r.getAs[Long]("n") == cells.getOrElse((gx, gy), 0L))
    }
  }

  test("geo_cap_recall_audit: counters replay against brute-force kNN at pitch 4096") {
    val r = SparkEntry.queries("geo_cap_recall_audit")(spark, geoSf)
      .collect().head
    val pts = geoPoints(geoSf)
    val pitch = 4096L
    def cellOf(p: (Long, Long, Long)) = (p._2 / pitch, p._3 / pitch)
    def neigh(p: (Long, Long, Long), pool: Array[(Long, Long, Long)]) =
      pool.filter { q =>
        val (cx, cy) = cellOf(p); val (bx, by) = cellOf(q)
        q._1 != p._1 && math.abs(bx - cx) <= 1 && math.abs(by - cy) <= 1
      }.map(q => (p._2 - q._2) * (p._2 - q._2) + (p._3 - q._3) * (p._3 - q._3))
    val capped = pts.groupBy(cellOf).view.mapValues(_.sortBy(q =>
      (md5hex(q._1.toString + ":cap"), q._1)).take(4)).toMap
      .values.flatten.toArray
    val perProbe = pts.map { p =>
      val dUn = neigh(p, pts).minOption
      val dCap = neigh(p, capped).minOption
      (dUn, dCap)
    }
    val both = perProbe.filter(x => x._1.nonEmpty && x._2.nonEmpty)
    assert(r.getAs[Long]("n_uncapped") == perProbe.count(_._1.nonEmpty))
    assert(r.getAs[Long]("n_capped") == perProbe.count(_._2.nonEmpty))
    assert(r.getAs[Long]("n_both") == both.length)
    val match_ = both.count(x => x._1.get == x._2.get)
    assert(r.getAs[Long]("n_dist_match") == match_)
    assert(r.getAs[Long]("recall_e6") ==
      match_ * 1000000L / math.max(both.length, 1))
    val (sumUn, sumCap) = (both.map(_._1.get).sum, both.map(_._2.get).sum)
    assert(r.getAs[Long]("dist_inflation_e6") ==
      sumCap * 1000000L / math.max(sumUn, 1L))
    assert(r.getAs[Long]("dist_inflation_e6") >= 1000000L,
      "capped nearest distance can never beat the uncapped one")
  }

  test("link_blocking_quality: statistics replay from the fixture truth") {
    val r = SparkEntry.queries("link_blocking_quality")(spark, sf)
      .collect().head
    val cust = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey", "c_mktsegment")
      .collect().map(x => (x.getAs[Number](0).longValue,
        x.getAs[Number](1).longValue, x.getString(2)))
    val dirtyNat = cust.map { case (k, nat, seg) =>
      (k, if (hexDraw(s"$k:fs2") % 20 == 0) (nat + 1) % 25 else nat, seg)
    }
    val n = cust.length.toLong
    val ba = cust.groupBy(c => (c._3, c._2)).view.mapValues(_.size.toLong)
    val bb = dirtyNat.groupBy(c => (c._3, c._2)).view.mapValues(_.size.toLong)
    val nCand = ba.map { case (k, na) => na * bb.getOrElse(k, 0L) }.sum
    val nTrueBlocked = cust.zip(dirtyNat).count {
      case ((_, a, _), (_, b, _)) => a == b }.toLong
    assert(r.getAs[Long]("n_a") == n && r.getAs[Long]("n_b") == n)
    assert(r.getAs[Long]("n_true") == n)
    assert(r.getAs[Long]("n_true_blocked") == nTrueBlocked)
    assert(r.getAs[Long]("n_cand") == nCand)
    assert(r.getAs[Long]("pair_completeness_e6") == nTrueBlocked * 1000000L / n)
    assert(r.getAs[Long]("reduction_ratio_e6") ==
      (n * n - nCand) * 1000000L / (n * n))
    assert(r.getAs[Long]("precision_e6") == nTrueBlocked * 1000000L / nCand)
    // the blocking key must actually block: candidates well under n²,
    // completeness near (not at) 1 — the 1/20 shift is the leak
    assert(nCand < n * n / 10)
    assert(nTrueBlocked < n && nTrueBlocked > n * 8 / 10)
  }

  test("connectedComponentLabels: distributed loop path equals local union-find path") {
    // the sf0.01 core-core ε-edge graph, built the geo_dbscan_label way
    val pts = geoPoints(geoSf)
    val cores = {
      def inEps(a: (Long, Long, Long), b: (Long, Long, Long)) = {
        val (dx, dy) = (a._2 - b._2, a._3 - b._3)
        dx * dx + dy * dy <= 9000000L
      }
      val n = pts.map(p =>
        p._1 -> pts.count(q => q._1 != p._1 && inEps(p, q))).toMap
      pts.filter(p => n(p._1) >= 2)
    }
    val edges = (for {
      a <- cores; b <- cores
      if a._1 != b._1 && ((a._2 - b._2) * (a._2 - b._2) +
        (a._3 - b._3) * (a._3 - b._3) <= 9000000L)
    } yield (a._1, b._1)).toSeq
    import spark.implicits._
    val edgeDf = edges.toDF("a", "b")
    def labelsOf(threshold: Long): Map[Long, Long] =
      graft.api.Graft.connectedComponentLabels(
          edgeDf, localEdgeThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labelsOf(Long.MaxValue) // union-find fast path
    val loop = labelsOf(0L)             // forced distributed fixpoint
    assert(local.nonEmpty && local == loop,
      "the guarded fast path and the distributed fixpoint must agree")
  }

  test("snapshotFixtureDir: concurrent first-build race resolves to one winner") {
    import java.nio.file.{Files, Paths}
    val dataDir = tempDir("r14_race_data", parent = "target")
    Files.writeString(dataDir.resolve("a.txt"), "alpha")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build(): String =
      snapshotFixture("r14race", dataDir.toString) { out =>
        builds.incrementAndGet()
        Thread.sleep(200) // widen the race window
        Files.createDirectories(Paths.get(out))
        Files.writeString(Paths.get(out, "payload.txt"), "built")
      }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (p1, p2) = (Future(build()), Future(build()))
    val (r1, r2) = (Await.result(p1, 60.seconds), Await.result(p2, 60.seconds))
    assert(r1 == r2, "both racers must resolve to the same fixture path")
    assert(Files.readString(Paths.get(r1, "payload.txt")) == "built")
    assert(builds.get >= 1)
    // no abandoned visible temp roots for this fixture
    val base = new java.io.File("target/graft_file_fixtures")
    assert(!base.listFiles.exists(f =>
      f.getName.startsWith(".r14race_") && f.getName.contains("_tmp_")),
      "loser's temp root must be discarded")
    // idempotence: a third call returns the winner without rebuilding
    val before = builds.get
    assert(build() == r1 && builds.get == before)
  }

  test("snapshotFixtureDir: tag is content-stamped, not path-only") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dataDir = tempDir("r14_stamp_data", parent = "target")
    val f = dataDir.resolve("t.parquet")
    Files.writeString(f, "v1")
    def build(): String =
      snapshotFixture("r14stamp", dataDir.toString) { out =>
        Files.createDirectories(Paths.get(out))
        Files.writeString(Paths.get(out, "x"), "y")
      }
    val p1 = build()
    // regenerate the data in place: same path, new content + mtime
    Files.writeString(f, "v2-regenerated")
    Files.setLastModifiedTime(f,
      FileTime.fromMillis(Files.getLastModifiedTime(f).toMillis + 5000))
    val p2 = build()
    assert(p1 != p2,
      "regenerating a data dir in place must mint a fresh snapshot tag")
  }
}
