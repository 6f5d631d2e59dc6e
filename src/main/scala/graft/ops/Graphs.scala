package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Directed-graph PageRank (Brin & Page 1998) in exact integer
  * fixed-point — node centrality for the kNN / citation / link graphs a
  * training-data pipeline builds (which vectors are the embedding
  * space's authorities, which domains anchor the link graph). The
  * undirected, weight-normalized cousin lives in [[TextRank]]; this one
  * handles the DIRECTED case, whose extra wrinkle is dangling mass:
  * nodes with no out-edges (vectors that produced no LSH candidates)
  * would leak their rank each round, so their pooled mass is
  * redistributed uniformly before damping — the standard stochastic-
  * matrix patch.
  *
  * Determinism (the Det discipline): total mass is [[Scale]] integer
  * units; every step — the uniform seed, the per-edge contribution
  * `score div out_degree`, the damped update
  * `(3·Scale/20)/n + (17·(in + dangling/n)) div 20` — is integer floor
  * arithmetic, written identically in the DuckDB oracle, so scores are
  * hash-comparable with no IEEE term anywhere. Floors shed < 1 unit per
  * division (≤ edges + 2n units per round, ~1e-8 of the mass), which
  * biases no node and preserves the ordering the gate certifies.
  *
  * Scale shape (the q77 partitioned-iteration discipline): the edge
  * table joins `(src, deg)` once, is pre-partitioned on `src`, and
  * persists across rounds; each round's rank table arrives clustered on
  * the same key from the previous round's `groupBy(dst)`, so the
  * per-round join re-uses the exchange, and the `shuffle_hash` hint
  * keeps the planner from broadcasting a node-sized table. Per round:
  * one contribution scatter (`groupBy(dst)` — the PageRank step itself)
  * plus a 1-row dangling aggregate. Nothing node-sized ever lands on
  * the driver.
  */
object Graphs {

  /** Total rank mass: integer pico-units (1e-12 of the graph's whole
    * mass), so per-node scores stay exact longs far below 2^53. */
  val Scale = 1000000000000L

  /** Floor division for non-negative longs, exact in codegen'd double
    * arithmetic: `a − (a mod b)` is divisible by `b` and both sides stay
    * under 2^53, so the IEEE quotient is the exact integer. */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Fixed-round PageRank with damping 17/20 (= 0.85 exactly).
    *
    * @param edges directed edges `(src, dst)`; parallel edges count
    *              multiply (each contributes its own share)
    * @param nodes the full node universe `(id)` — a superset of the
    *              edge endpoints; edge-less nodes hold base rank and
    *              donate their mass as dangling
    * @param iterations fixed round count (small, so the oracle can
    *                   unroll it as chained CTEs)
    * @param reliable barrier durability, mirroring
    *                 [[Dedup.connectedComponents]]: `false` =
    *                 localCheckpoint (fast; blocks lost on executor
    *                 death), `true` = checkpoint to the configured dir —
    *                 the mode for long runs on a preemptible cluster
    * @return one row per node: `(id, score)` with `Σ score ≈` [[Scale]]
    */
  def pageRank(edges: DataFrame, nodes: DataFrame,
      iterations: Int, reliable: Boolean = false): DataFrame = {
    require(iterations >= 1, s"pageRank: iterations >= 1, got $iterations")
    // driver-side scalars by contract: two counts, nothing row-shaped
    val n = nodes.count()
    require(n > 0, "pageRank: empty node set")
    val base = (3L * Scale / 20L) / n // (1 − d)/n, floored once
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val adj = edges.join(deg, Seq("src")).repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r20: the dangling flag RIDES the rank frame instead of living in a
    // separate persisted table — the old per-round
    // `score SEMI JOIN dangling` re-derived membership in a set that
    // never changes across rounds, and its broadcast build was a
    // separate driver job every round. One left join here tags each
    // node once; each round's dangling mass is then a plain conditional
    // aggregate over the (barriered) rank frame, and the flag is carried
    // through the update expression at zero extra shuffle bytes beyond
    // one boolean per node.
    val nodesT = nodes
      .join(deg.select(col("src")), nodes("id") === col("src"), "left")
      .select(nodes("id"), col("src").isNull.as("dang"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def step(score: DataFrame): DataFrame = {
      // 1-row frame; joined back with shuffle_replicate_nl (cartesian
      // against one row) rather than broadcast: a BroadcastExchange of
      // the scalar is materialized by a SEPARATE driver job per round,
      // while the cartesian executes as ordinary stages of the round's
      // one job (a 1-row shuffle fetch per partition — no driver hop).
      val dm = score
        .agg(coalesce(sum(when(col("dang"), col("score"))), lit(0L))
          .as("dm"))
        .select(idiv(col("dm"), lit(n)).as("dshare"))
      val contrib = adj
        .join(score.select(col("id").as("src"), col("score"))
          .hint("shuffle_hash"), Seq("src"))
        .select(col("dst"), idiv(col("score"), col("deg")).as("c"))
      val in = contrib.groupBy(col("dst")).agg(sum(col("c")).as("m"))
      // shuffle_hash on the aggregated in-mass side: an estimate-driven
      // broadcast of a node-sized table is the q77 hazard; the hinted
      // build side is the (never larger) aggregate output
      nodesT
        .join(in.hint("shuffle_hash"), nodesT("id") === in("dst"), "left")
        .crossJoin(dm.hint("shuffle_replicate_nl"))
        .select(nodesT("id"), col("dang"), (lit(base) +
          idiv(lit(17L) * (coalesce(col("m"), lit(0L)) + col("dshare")),
            lit(20L))).as("score"))
    }
    // lineage barrier per round: each round reads `score` TWICE (the
    // dangling aggregate and the contribution join), so the unbarriered
    // plan doubles per round — the q231 blowup shape; past ~10 rounds the
    // analyzer, not the data, becomes the cost. Round 1 is the seed, so
    // the uniform start is never barriered, and the fixed-count loop
    // leaves the last round lazy: `iterations − 1` barrier jobs. Values
    // are identical (the barrier only materializes the same integers), so
    // the unrolled-CTE oracle needs no change.
    val first = step(nodesT.select(col("id"), col("dang"),
      lit(Scale / n).as("score")))
    Lineage.iterate(first, iterations - 1, reliable)(step).frame
      .select(col("id"), col("score"))
    // adj/nodesT are released by the gate run's owner (Gated.owned)
  }
}
