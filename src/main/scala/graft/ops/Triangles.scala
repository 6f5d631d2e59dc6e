package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed triangle counting with degree orientation — the canonical
  * MapReduce-era algorithm (Suri & Vassilvitskii 2011, "Counting Triangles
  * and the Curse of the Last Reducer"). Naive wedge enumeration generates
  * Σ deg(v)² candidate wedges, which a power-law hub turns quadratic; the
  * fix is to ORIENT every edge from its lower-(degree, id) endpoint to the
  * higher one and enumerate wedges only at each vertex's OUT-neighbors.
  * Every vertex's out-degree is then bounded by O(√m), so wedge volume is
  * O(m^1.5) worst-case and far less on real graphs — the hub stops being
  * the last reducer because its wedges are charged to its (low-degree)
  * neighbors.
  *
  * Scale shape: two node-keyed joins to attach endpoint degrees, one
  * self-join on the wedge center, one edge-keyed join to close wedges —
  * all hash joins on graph keys; no driver collect, no broadcast
  * assumption (Catalyst may still broadcast the degree table when stats
  * allow — correct either way).
  */
object Triangles {

  /** Per-node degree table of a canonical edge list. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Closed wedges `(src, w1, w2)` — one row per triangle, enumerated at
    * the triangle's lowest-(deg, id) vertex via degree orientation.
    *
    * `barrierOriented = true` runs a Spark job EAGERLY at
    * DataFrame-construction time (the oriented table's localCheckpoint)
    * — a side effect not visible from the lazy return type. */
  private def closedWedges(edges: DataFrame, deg: DataFrame,
      barrierOriented: Boolean = false): DataFrame = {
    // attach endpoint degrees, then orient low-(deg, id) → high-(deg, id);
    // ddeg rides along so wedge endpoints can be ordered by the SAME total
    // order the orientation used (otherwise the closing edge lookup misses)
    val withDeg = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    // optional barrier: the oriented edge table is read THREE times below
    // (both wedge sides and the closing-edge probe), and the degree-attach
    // subtree (2 joins + the degree aggregate) is NOT exchange-reusable
    // across those reads — r19 measured the un-barriered q149 final job
    // at 34 Exchanges with zero ReusedExchange. Materializing the
    // graph-sized oriented table once replaces three executions of that
    // subtree with one job + three cheap rescans. Worth it when the
    // caller enumerates repeatedly over a checkpointed edge set
    // (trussPeel: q149 2.10 → 1.63 s at sf0.1); a net LOSS for the
    // one-shot nodeTriangles (q143 1.10 → 1.16 s), whose single job
    // amortizes the triple execution better than an extra barrier job.
    val orientedRaw = withDeg.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"),
      when(fwd, col("dv")).otherwise(col("du")).as("ddeg"))
    val oriented =
      if (barrierOriented) Lineage.barrier(orientedRaw, reliable = false)
      else orientedRaw
    // wedges at each center's out-neighborhood (out-degree ≤ O(√m) by the
    // orientation), endpoints canonically ordered by (ddeg, dst)
    val a = oriented.select(col("src"), col("dst").as("w1"), col("ddeg").as("d1"))
    val b = oriented.select(col("src"), col("dst").as("w2"), col("ddeg").as("d2"))
    val wedges = a.join(b, Seq("src"))
      .filter(col("d1") < col("d2") || (col("d1") === col("d2") && col("w1") < col("w2")))
    // a wedge closes iff the oriented edge w1 → w2 exists (w1 precedes w2
    // in the orientation order by construction)
    wedges.join(
      oriented.select(col("dst").as("w2"), col("src").as("w1")),
      Seq("w1", "w2"), "left_semi")
  }

  /** Per-node triangle participation over an undirected simple graph.
    *
    * @param edges canonical edge list: columns `u`, `v` with `u < v`,
    *              no duplicates, no self-loops (caller's contract)
    * @return (node, deg, n_tri, clustering_fp6) for every node with
    *         deg ≥ 2 — local clustering coefficient
    *         `2·n_tri / (deg·(deg−1))` rounded at 1e−6
    */
  def nodeTriangles(edges: DataFrame): DataFrame = {
    // same barrier rationale as [[trussPeel]]: the edge set feeds the
    // degree count, both orientation joins, and the closing-edge side —
    // without the barrier each consumer re-derives the upstream graph-
    // construction DAG
    val e = edges.localCheckpoint()
    val deg = degrees(e)
    val tris = closedWedges(e, deg)
    val perNode = tris
      .select(explode(array(col("src"), col("w1"), col("w2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.filter(col("deg") >= 2)
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(coalesce(col("n_tri"), lit(0L)).cast("double") * lit(2e6) /
          (col("deg") * (col("deg") - 1))).cast("long").as("clustering_fp6"))
  }

  /** Per-edge triangle support (edges in ≥1 triangle only): each closed
    * wedge charges its three edges, re-canonicalized to (min, max) id
    * order. Same oriented enumeration as [[nodeTriangles]].
    *
    * `barrierOriented = true` triggers a Spark job eagerly at
    * construction time (see [[closedWedges]]) — callers get the lazy
    * frame back only after the oriented table has materialized. */
  def edgeSupport(edges: DataFrame,
      barrierOriented: Boolean = false): DataFrame = {
    def canon(x: Column, y: Column) =
      struct(least(x, y).as("u"), greatest(x, y).as("v"))
    closedWedges(edges, degrees(edges), barrierOriented)
      .select(explode(array(
        canon(col("src"), col("w1")),
        canon(col("src"), col("w2")),
        canon(col("w1"), col("w2")))).as("e"))
      .select(col("e.u"), col("e.v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
  }

  /** Bounded-round k-truss peel: `rounds` iterations of "drop every edge
    * in fewer than `minSupport` triangles" (the k-truss condition with
    * k = minSupport + 2). True truss decomposition iterates to fixpoint;
    * a FIXED round count keeps the computation oracle-unrollable (the
    * label-propagation discipline) and is how bounded-round peeling runs
    * at scale anyway — each round is one triangle enumeration plus one
    * edge-keyed aggregate, and the edge set only shrinks.
    *
    * @return surviving edges `(u, v, support)` with the support computed
    *         in the final round
    */
  def trussPeel(edges: DataFrame, minSupport: Long, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one peel round")
    // edgeSupport only emits edges participating in >=1 triangle, so a
    // minSupport of 0 could not keep triangle-free edges anyway — reject
    // it rather than silently behaving like 1 (round-11 advisory)
    require(minSupport >= 1,
      s"trussPeel: minSupport must be >= 1 (support-0 edges are always peeled), got $minSupport")
    // barrier the input (the connected-components discipline): the
    // enumeration references its edge set three times (two degree joins +
    // the closing-edge side), so an un-truncated lineage would re-derive
    // the upstream graph-construction DAG per read — measured 20.9 s →
    // 1.7 s on the q149 gate at sf0.1. localCheckpoint stores executor-
    // local blocks; the edge set is graph-sized, never corpus-sized.
    val cur = edges.localCheckpoint()
    // r20: ONE wedge enumeration, not one per round. Peeling only ever
    // REMOVES edges, and the triangles of an edge-induced subgraph are
    // exactly the triangles of the parent graph whose three edges all
    // survive — so round k's support table is a 3-way semi-join of the
    // round-1 triangle table against the surviving edge set, and the
    // O(m^1.5) wedge self-join (plus its degree-attach subtree) runs
    // once instead of `rounds` times. (The re-enumeration recomputed
    // degrees/orientation on the shrunk graph, but orientation only
    // dictates WHERE a triangle is enumerated, never WHICH triangles
    // exist — support values are identical; TrianglesSpec pins both
    // rounds' outcomes.) The triangle table is triangle-count-sized —
    // the same volume the wedge join already materialized transiently
    // every round — and each generation of it is a Lineage.iterate
    // barrier, released once the next one is materialized. The surviving
    // edge set is not barriered: its three semi-join reads share one
    // aggregate exchange (ReusedExchange).
    def canon(x: Column, y: Column) =
      struct(least(x, y).as("u"), greatest(x, y).as("v"))
    val tris = closedWedges(cur, degrees(cur), barrierOriented = true)
      .select(canon(col("src"), col("w1")).as("e1"),
        canon(col("src"), col("w2")).as("e2"),
        canon(col("w1"), col("w2")).as("e3"))
    def supportOf(t: DataFrame): DataFrame = t
      .select(explode(array(col("e1"), col("e2"), col("e3"))).as("e"))
      .select(col("e.u"), col("e.v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val last = Lineage.iterate(tris, rounds - 1, reliable = false) { t =>
      val alive = supportOf(t).select(struct(col("u"), col("v")).as("e"))
      t.join(alive.select(col("e").as("e1")), Seq("e1"), "left_semi")
        .join(alive.select(col("e").as("e2")), Seq("e2"), "left_semi")
        .join(alive.select(col("e").as("e3")), Seq("e3"), "left_semi")
    }.frame
    supportOf(last)
  }

  /** Bounded-round k-core peel: `rounds` iterations of "drop every node
    * with degree < k, then every edge touching a dropped node" — the
    * degree-based sibling of [[trussPeel]] (triangle support → vertex
    * degree), and the standard influence/spam-core graph filter
    * (Batagelj & Zaveršnik 2003). True core decomposition iterates to
    * fixpoint; the FIXED round count keeps the computation
    * oracle-unrollable, and each round is ONE degree aggregate plus two
    * node-keyed semi-joins — no triangle enumeration, so it is the cheap
    * first pass run before [[trussPeel]] at scale (a node outside the
    * k-core cannot be in the (k−2)-truss).
    *
    * @param edges canonical edge list `(u, v)` with `u < v`, no dups, no
    *              self-loops (caller's contract)
    * @return surviving nodes `(node, deg)` with the degree computed in
    *         the final round
    */
  def kCorePeel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one peel round")
    require(k >= 1, s"kCorePeel: k must be >= 1, got $k")
    // same barrier rationale as trussPeel: each round's edge set feeds
    // the degree aggregate AND two semi-joins next round; Lineage.iterate
    // keeps the lineage one generation deep (graph-sized blocks). The
    // degrees come from ONE read of the edge set (explode, not the union
    // of two projections), so the lazy last generation is not run twice.
    // The surviving-node sets are broadcast by hint (one long per node):
    // the shape the planner chose from the carried stats before the
    // barrier stripped them, not two sort-merge joins with their shuffles
    def keep(cur: DataFrame) = cur
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
    val last = Lineage.iterate(edges, rounds - 1, reliable = false) { cur =>
      val alive = keep(cur)
      cur.join(broadcast(alive.select(col("node").as("u"))), Seq("u"), "left_semi")
        .join(broadcast(alive.select(col("node").as("v"))), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }.frame
    keep(last)
  }
}
