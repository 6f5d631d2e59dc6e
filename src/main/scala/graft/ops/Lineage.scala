package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Shared lineage-barrier policy for the iterative operators: an EAGER
  * checkpoint that truncates the logical plan (persist alone dedups
  * execution but the plan object still grows multiplicatively per round
  * — the q231/q215 blowup shape), and [[iterate]], the one loop that
  * places those barriers and releases what they hold.
  *
  * `reliable = false` holds the barrier blocks on executors
  * (localCheckpoint: fast; lost on executor death) — the right mode
  * for local runs and short loops. `reliable = true` writes each
  * barrier to the configured checkpoint dir — the right mode for a
  * long loop on a preemptible 100 TB cluster, where losing a
  * generation block mid-loop would otherwise kill the job.
  */
private[graft] object Lineage {

  /** The final generation, the steps run, and whether a convergence loop
    * stopped on a round that changed nothing (a fixed-count loop always
    * reports `converged`: it ran its count). */
  final case class Iterated(frame: DataFrame, rounds: Int, converged: Boolean)

  /** The barrier itself, for one-off barriers; loops use [[iterate]].
    *
    * The carried plan statistics are STRIPPED from the barrier node:
    * checkpoint preserves the parent plan's stats, and in a loop whose
    * next round joins this barrier, join-size estimates compound
    * multiplicatively per generation until stats arithmetic alone wedges
    * the driver (~20+ rounds — see
    * [[org.apache.spark.sql.graft.Bridge.dropCarriedStats]]). */
  def barrier(df: DataFrame, reliable: Boolean): DataFrame =
    Bridge.dropCarriedStats(
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true))

  /** Run `step` from `seed` (generation 0).
    *
    *  - Fixed count (`changed = None`): exactly `maxIter` steps. Every
    *    generation but the last is barriered before the next step reads
    *    it; the last stays lazy, since the caller's action reads it once
    *    and a barrier there would only add a job.
    *  - Convergence (`changed = Some(p)`): every generation is barriered,
    *    and the count of its rows where `p` holds rides that barrier job
    *    as an observed metric. The loop stops at the first round counting
    *    0, or after `maxIter` steps with one WARN.
    *
    * Each generation is released once the next one is materialized (its
    * blocks unpersisted, a reliable one's checkpoint files deleted), so
    * one barrier is live at a time whatever the round count: the one the
    * returned frame reads. */
  def iterate(seed: DataFrame, maxIter: Int, reliable: Boolean,
      changed: Option[Column] = None)(step: DataFrame => DataFrame): Iterated = {
    val sc = seed.sparkSession.sparkContext
    // a tmpdir default is only sound in local mode: on a cluster each
    // executor would write to its OWN node's tmpdir — unreadable from
    // other nodes and gone on preemption, the failure reliable exists for
    if (reliable && sc.getCheckpointDir.isEmpty) {
      require(sc.isLocal, "Lineage.iterate(reliable = true) on a non-local " +
        "master needs spark.sparkContext.setCheckpointDir on shared storage")
      sc.setCheckpointDir(s"${sys.props("java.io.tmpdir")}/graft_cc_checkpoints")
    }
    var live: Option[DataFrame] = None
    def materialize(df: DataFrame): DataFrame = {
      val b = barrier(df, reliable)
      live.foreach(g => Bridge.backingRdds(g).foreach { rdd =>
        rdd.unpersist(blocking = true)
        rdd.getCheckpointFile.map(new org.apache.hadoop.fs.Path(_))
          .foreach(p => p.getFileSystem(sc.hadoopConfiguration).delete(p, true))
      })
      live = Some(b)
      b
    }
    changed match {
      case None =>
        Iterated((1 to maxIter).foldLeft(seed)((g, _) => step(materialize(g))),
          maxIter, converged = true)
      case Some(p) =>
        var gen = materialize(seed)
        var left = 1L
        var rounds = 0
        while (left > 0 && rounds < maxIter) {
          val obs = new Observation()
          gen = materialize(step(gen).observe(obs,
            sum(when(p, 1L).otherwise(0L)).as("changed")))
          // the metric arrives via the async listener bus; on the (never
          // yet observed) chance it doesn't, count over the barriered
          // generation rather than hang the loop
          left =
            try scala.concurrent.Await
              .result(obs.future, scala.concurrent.duration.Duration(60, "s"))
              .getAs[Long]("changed")
            catch {
              case _: java.util.concurrent.TimeoutException => gen.filter(p).count()
            }
          rounds += 1
        }
        if (left > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"Lineage.iterate stopped at maxIter=$maxIter after $rounds rounds " +
              s"WITHOUT converging ($left rows still changing); raise maxIter")
        Iterated(gen, rounds, converged = left == 0)
    }
  }
}
