package graft.ops

import graft.SparkSpec

class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
    Triangles.nodeTriangles(edges.toDF("u", "v"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("K4: every node in 3 triangles, clustering 1.0") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = run(k4)
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    got.values.foreach { case (deg, tri, c) =>
      assert(deg === 3L); assert(tri === 3L); assert(c === 1000000L)
    }
  }

  test("triangle-free path: zero triangles, degree-1 endpoints excluded") {
    val got = run(Seq((1L, 2L), (2L, 3L)))
    assert(got === Map(2L -> ((2L, 0L, 0L))))
  }

  test("hub with one rim edge: the orientation charges the wedge to the rim") {
    // star h=0 → {1..5} plus rim edge (1,2): exactly one triangle (0,1,2)
    val star = (1L to 5L).map(r => (0L, r)) :+ (1L, 2L)
    val got = run(star)
    assert(got(0L) === ((5L, 1L, 100000L)))  // 2/(5·4) = 0.1
    assert(got(1L) === ((2L, 1L, 1000000L)))
    assert(got(2L) === ((2L, 1L, 1000000L)))
    assert(!got.contains(3L))                // degree 1: undefined, excluded
  }

  test("edge support: K4 edges sit in 2 triangles; pendant edge absent") {
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("u", "v")
    val sup = Triangles.edgeSupport(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup.size === 6)                      // pendant (4,5): no row
    assert(sup.values.forall(_ === 2L))
  }

  test("truss peel: the shared edge of two triangles dies once its mates peel") {
    // round 1 keeps only (2,3) (support 2); round 2 has no triangles left
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val r1 = Triangles.trussPeel(g, minSupport = 2L, rounds = 1).collect()
    assert(r1.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((2L, 3L)))
    assert(Triangles.trussPeel(g, minSupport = 2L, rounds = 2).count() === 0L)
    // a K4 is a 4-truss: stable under any number of peels
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    assert(Triangles.trussPeel(k4, minSupport = 2L, rounds = 2).count() === 6L)
  }

  test("edge support: oriented-table barrier is a pure materialization " +
      "(identical support multiset with and without it)") {
    // r19 optimization pins: trussPeel enumerates with barrierOriented=true
    // (one job materializing the oriented table instead of three inline
    // executions); the support table must be IDENTICAL either way, on a
    // graph mixing a clique, a shared-edge pair, a pendant, and an
    // isolated triangle
    val g = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L),
      (10L, 11L), (10L, 12L), (11L, 12L))).toDF("u", "v")
    def sup(b: Boolean) = Triangles.edgeSupport(g, barrierOriented = b)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .sorted.toSeq
    assert(sup(true) === sup(false))
    assert(sup(true).nonEmpty)
  }

  test("two triangles sharing an edge") {
    // (1,2,3) and (2,3,4): shared edge (2,3)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = run(g)
    assert(got(1L)._2 === 1L && got(4L)._2 === 1L)
    assert(got(2L)._2 === 2L && got(3L)._2 === 2L)
    // deg(2)=3, tri=2 → 2·2/(3·2) = 2/3
    assert(got(2L)._3 === 666667L)
  }

  test("k-core peel: tail unravels round by round, core is stable") {
    // K4 core {1,2,3,4} plus a pendant path 4-5-6: round 1 drops 6 (deg 1)
    // and 5 survives with deg 2 < 3 → dropped too; round 2 recomputes on
    // the K4 alone where every degree is 3
    val g = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))).toDF("u", "v")
    val r1 = Triangles.kCorePeel(g, k = 3L, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.keySet === Set(1L, 2L, 3L, 4L))
    assert(r1(4L) === 4L) // pendant edge still counted in round 1
    val r2 = Triangles.kCorePeel(g, k = 3L, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // fixpoint: further rounds change nothing
    val r3 = Triangles.kCorePeel(g, k = 3L, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 === r2)
  }

  test("k-core peel: k above the max degree empties the graph") {
    val g = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    assert(Triangles.kCorePeel(g, k = 3L, rounds = 2).count() === 0L)
    intercept[IllegalArgumentException] {
      Triangles.kCorePeel(g, k = 0L, rounds = 1)
    }
    intercept[IllegalArgumentException] {
      Triangles.trussPeel(g, minSupport = 0L, rounds = 1)
    }
  }

  test("k-core peel releases dead generations: 3 and 10 rounds leave the " +
      "same number of RDDs holding blocks") {
    // K4 core plus a pendant path that round 1 peels away
    val g = ((Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))) ++
      (4L until 16L).map(i => (i, i + 1))).toDF("u", "v")
    def left(rounds: Int): Int = {
      val sc = spark.sparkContext
      val before = org.apache.spark.sql.graft.Bridge.rddsWithBlocks(sc)
      val core = Triangles.kCorePeel(g, k = 3L, rounds = rounds)
      assert(core.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
      val n = (org.apache.spark.sql.graft.Bridge.rddsWithBlocks(sc) -- before).size
      java.lang.ref.Reference.reachabilityFence(core)
      n
    }
    val three = left(3)
    assert(left(10) === three)
  }
}
