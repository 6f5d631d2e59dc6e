package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.SparkSpec

/** [[Graphs.pageRank]] against a plain-Scala replica of the same integer
  * recursion (Maps and loops — shares nothing with the DataFrame plan),
  * on hand-built and seeded-random graphs covering the shapes that
  * break naive implementations: dangling nodes, parallel edges,
  * isolated nodes, and a disconnected component.
  */
class GraphsSpec extends SparkSpec {

  /** 25 nodes, up to 50 random directed edges without self-loops. */
  private def randomGraph(seed: Long): (Seq[(Long, Long)], Seq[Long]) = {
    val rng = new scala.util.Random(seed)
    val n = 25
    val edges = Seq.fill(2 * n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (s, d) => s != d }
    (edges, (0L until n.toLong).toSeq)
  }

  /** The reference recursion, literal: same Scale, same floors, same
    * dangling redistribution as the scaladoc contract. */
  private def replica(edges: Seq[(Long, Long)], nodes: Seq[Long],
      iterations: Int): Map[Long, Long] = {
    val n = nodes.length
    val base = (3L * Graphs.Scale / 20L) / n
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    var score = nodes.map(_ -> Graphs.Scale / n).toMap
    for (_ <- 1 to iterations) {
      val dm = nodes.filterNot(deg.contains).map(score).sum
      val in = edges
        .groupBy(_._2)
        .map { case (d, es) =>
          d -> es.map { case (s, _) => score(s) / deg(s) }.sum
        }
      score = nodes.map(v =>
        v -> (base + 17L * (in.getOrElse(v, 0L) + dm / n) / 20L)).toMap
    }
    score
  }

  private def check(edges: Seq[(Long, Long)], nodes: Seq[Long],
      iterations: Int): Unit = {
    import spark.implicits._
    val got = Graphs.pageRank(
      edges.toDF("src", "dst"), nodes.toDF("id"), iterations)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === replica(edges, nodes, iterations))
  }

  test("hand-traced: 2-cycle plus dangling sink, 1 iteration") {
    // 0 -> 1, 1 -> 0, 0 -> 2; node 2 dangles, node 3 is isolated
    val edges = Seq((0L, 1L), (1L, 0L), (0L, 2L))
    val nodes = Seq(0L, 1L, 2L, 3L)
    // by hand: n=4, seed=250e9 each, base=37_500_000_000
    // dangling = {2,3} mass 500e9, dshare=125e9
    // in(0)=250e9 (from 1), in(1)=125e9, in(2)=125e9 (floor of 250e9/2)
    val want = Map(
      0L -> (37500000000L + 17L * (250000000000L + 125000000000L) / 20L),
      1L -> (37500000000L + 17L * (125000000000L + 125000000000L) / 20L),
      2L -> (37500000000L + 17L * (125000000000L + 125000000000L) / 20L),
      3L -> (37500000000L + 17L * 125000000000L / 20L))
    assert(replica(edges, nodes, 1) === want)
    check(edges, nodes, 1)
  }

  test("seeded random digraphs equal the replica over 3 iterations") {
    val rng = new scala.util.Random(20260815L)
    for (round <- 1 to 3) {
      val n = 20 + rng.nextInt(30)
      val nodes = (0L until n.toLong).toSeq
      // ~2n edges incl. parallel duplicates; some nodes get none
      val edges = Seq.fill(2 * n)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (s, d) => s != d }
      check(edges, nodes, 3)
    }
  }

  test("mass is conserved within the documented floor-loss bound") {
    val rng = new scala.util.Random(7L)
    val n = 40
    val nodes = (0L until n.toLong).toSeq
    val edges = Seq.fill(3 * n)(
      (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (s, d) => s != d }
    val iters = 3
    val total = replica(edges, nodes, iters).values.sum
    // each round floors shed < 1 unit per edge contribution, per-node
    // dangling share, per-node damping, per-node base; seed flooring
    // adds < n more
    val bound = iters.toLong * (edges.length + 3L * n + 2) + n
    assert(total <= Graphs.Scale && total >= Graphs.Scale - bound,
      s"mass $total drifted more than $bound below ${Graphs.Scale}")
  }

  test("deep round counts: lineage barrier changes no values") {
    // 10 rounds run 9 barriers; the barriered run and the plain-Scala
    // replica must produce identical scores — the barrier is purely a
    // plan-depth cap
    import spark.implicits._
    val (edges, nodes) = randomGraph(14L)
    val barriered = Graphs.pageRank(edges.toDF("src", "dst"), nodes.toDF("id"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(barriered === replica(edges, nodes, 10))
  }

  test("reliable barriers change no values") {
    import spark.implicits._
    val e = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val v = Seq(0L, 1L, 2L).toDF("id")
    // the reliable (checkpoint-dir) barrier is value-identical to the
    // local one — same contract as connectedComponents' reliable knob
    val want = Graphs.pageRank(e, v, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel = Graphs.pageRank(e, v, 10, reliable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel === want)
  }

  test("dead rank generations are released: 3 and 10 rounds leave the " +
      "same number of RDDs holding blocks") {
    import spark.implicits._
    // distinct graphs, so the second call's persisted edge and node
    // tables are not cache hits on the first call's
    def left(seed: Long, rounds: Int): Int = {
      val (edges, nodes) = randomGraph(seed)
      val sc = spark.sparkContext
      val before = Bridge.rddsWithBlocks(sc)
      val ranks = Graphs.pageRank(edges.toDF("src", "dst"), nodes.toDF("id"), rounds)
      assert(ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        replica(edges, nodes, rounds))
      val n = (Bridge.rddsWithBlocks(sc) -- before).size
      java.lang.ref.Reference.reachabilityFence(ranks)
      n
    }
    val three = left(21L, 3)
    assert(left(22L, 10) === three)
  }
}
