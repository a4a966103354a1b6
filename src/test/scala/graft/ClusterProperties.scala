package graft

import graft.api.Graft
import org.scalacheck.Gen

/** Property coverage for the connected-components kernel
  * (`Graft.connectedComponentLabels`): random edge lists vs a
  * driver-side union-find reference, on BOTH of the kernel's paths — the
  * default guard (bounded collect + driver union-find) and guard 0 (the
  * distributed HashMin + pointer-jumping loop). Runs through the real
  * Spark path on tiny graphs, so it exercises the loop's termination,
  * not just the algebra. Uses a bounded number of ScalaCheck samples via
  * explicit iteration — each loop case is a full Spark fixpoint, so the
  * sample count is kept small. */
class ClusterProperties extends SparkSpec {

  /** (v, lbl) of the kernel on `pairs` under the default guard and
    * under guard 0, in that order. */
  private def bothPaths(pairs: org.apache.spark.sql.DataFrame): Seq[Map[Long, Long]] =
    Seq(Graft.connectedComponentLabels(pairs),
        Graft.connectedComponentLabels(pairs, localEdgeThreshold = 0L))
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val roots = parent.keys.map(x => x -> find(x)).toMap
    val minOf = roots.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    roots.map { case (x, r) => x -> minOf(r) }
  }

  test("connectedComponentLabels == union-find on random graphs, both paths") {
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.choose(1, 12)
      es <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 15L); b <- Gen.choose(0L, 15L) if a != b
      } yield (a, b))
    } yield es.distinct
    val cases = Seq(
      // deterministic worst cases: a long chain (max diameter) + a clique
      (0L until 9L).map(i => (i, i + 1)).toSeq,
      (for { i <- 0L until 5L; j <- (i + 1) until 5L } yield (i, j)).toSeq
    ) ++ (1 to 6).map(i =>
      edgeGen(Gen.Parameters.default.withSize(10),
              org.scalacheck.rng.Seed(42L + i)).get)
    cases.foreach { pairs =>
      // pairs in either orientation: the generator keeps (a, b) as drawn
      val expected = unionFind(pairs)
      val Seq(guarded, loop) = bothPaths(pairs.toDF("a", "b"))
      assert(guarded == expected, s"union-find path, pairs=$pairs")
      assert(loop == expected, s"distributed loop, pairs=$pairs")
    }
  }

  test("connectedComponentLabels: an empty pair list gives an empty frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    // 0 pairs ≤ guard 0, so both calls take the union-find path: the
    // loop is never entered with nothing to label
    assert(bothPaths(empty) == Seq(Map.empty, Map.empty))
  }

  test("connectedComponentLabels: a self-pair labels its own node, both paths") {
    import spark.implicits._
    val pairs = Seq((7L, 7L), (1L, 2L), (3L, 3L), (3L, 2L)).toDF("a", "b")
    val want = Map(7L -> 7L, 1L -> 1L, 2L -> 1L, 3L -> 1L)
    assert(bothPaths(pairs) == Seq(want, want))
  }
}
