package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graft.Bridge

import graft.Bench
import graft.core.{GraftSession, Metrics}
import graft.queries.{Gated, Registry}

/** Where a gate's wall time goes, layer by layer. Per named gate: one
  * warm-up, then [[Runs]] runs, each [[Gated.owned]] like a bench sample,
  * printing one line per run:
  *
  *  - `build_ms`, `build_jobs`, `build_stages` — the gate function:
  *    driver-side plan construction plus any eager barrier jobs it runs
  *  - `analysis_ms` / `optimization_ms` / `planning_ms` — Catalyst phases
  *    of the action's SQL executions
  *  - `action_ms` — the [[Bench.sink]] materialization
  *  - `jobs`, `stages`, `job_ms` — Spark jobs and stages the action ran,
  *    and the wall time those jobs covered
  *  - `gap_ms` — action − job: driver time between and around the jobs
  *  - `tasks`, `task_deser_ms`, `task_run_ms` — the action's tasks, and
  *    their summed executor deserialization and run time
  *  - `rdd_blocks` — RDDs holding blocks in the block store after the
  *    sink, read before the owner releases them: what the gate left
  *
  * With `planDir`, also writes `<planDir>/<gate>.txt`: the formatted
  * explain of the gate's frame, then its exchange and join counts.
  *
  * Usage: `tools/run_main.sh graft.tools.Trace <sfDir> <gate,...> [planDir]`
  * under [[GraftSession.tunedLocal]] on `SPARK_GRAFT_CPUS` cores (default
  * 32), the bench's session.
  */
object Trace {
  val Runs = 3

  final case class Run(gate: String, run: Int, buildMs: Double, buildJobs: Int,
      buildStages: Int, phases: Map[String, Long], actionMs: Double, jobs: Int, stages: Int,
      jobMs: Long, tasks: Int, taskDeserMs: Long, taskRunMs: Long, rddBlocks: Int) {
    def gapMs: Double = actionMs - jobMs
    def line: String = {
      val ph = Seq("analysis", "optimization", "planning")
        .map(p => s"${p}_ms=${phases.getOrElse(p, 0L)}").mkString(" ")
      f"TRACE $gate%s run=$run%d build_ms=$buildMs%.1f build_jobs=$buildJobs%d " +
        f"build_stages=$buildStages%d " +
        f"$ph%s action_ms=$actionMs%.1f jobs=$jobs%d stages=$stages%d " +
        f"job_ms=$jobMs%d gap_ms=$gapMs%.1f tasks=$tasks%d " +
        f"task_deser_ms=$taskDeserMs%d task_run_ms=$taskRunMs%d rdd_blocks=$rddBlocks%d"
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** One warm-up of `g`, then [[Runs]] traced runs. */
  def runs(spark: SparkSession, m: Metrics, g: Gated, sfDir: String): Seq[Run] = {
    Gated.owned(spark)(Bench.runGate(spark, g, sfDir))
    (1 to Runs).map(i => Gated.owned(spark) {
      val (df, buildMs) = m.named("build")(timed(g.df(spark, sfDir)))
      val (_, actionMs) = m.named("action")(timed(Bench.sink(df)))
      val b = m("build").get
      val a = m("action").get
      Run(g.name, i, buildMs, b.jobs, b.stages, a.phases, actionMs, a.jobs, a.stages, a.jobMs,
        a.tasks, a.taskDeserMs, a.taskRunMs, Bridge.rddsWithBlocks(spark.sparkContext).size)
    })
  }

  /** Every physical node of `p`, through AQE wrappers and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  /** Write `g`'s formatted explain and its exchange/join counts to
    * `<dir>/<gate>.txt`; returns the summary line. */
  def writePlan(spark: SparkSession, g: Gated, sfDir: String, dir: String): String =
    Gated.owned(spark) {
      val qe = g.df(spark, sfDir).queryExecution
      val counts = nodes(qe.executedPlan).map(_.nodeName)
        .filter(n => n.contains("Exchange") || n.contains("Join") || n == "CartesianProduct")
        .groupBy(identity).map { case (n, xs) => s"$n=${xs.size}" }.toSeq.sorted
        .mkString(" ")
      val path = Paths.get(dir, s"${g.name}.txt")
      Files.createDirectories(path.getParent)
      Files.writeString(path, qe.explainString(FormattedMode) + s"\n$counts\n")
      s"PLAN ${g.name} $counts -> $path"
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, csv, planDir) = args match {
      case Array(s, g)    => (s, g, None)
      case Array(s, g, p) => (s, g, Some(p))
      case _ =>
        System.err.println("usage: graft.tools.Trace <sfDir> <gate,...> [planDir]")
        sys.exit(2)
    }
    val gates = csv.split(',').toSeq.map { n =>
      Registry.all.find(_.name == n).getOrElse {
        System.err.println(s"unknown gate: $n")
        sys.exit(2)
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.tunedLocal("graft-trace", sfDir, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val m = Metrics.install(spark)
    try gates.foreach { g =>
      runs(spark, m, g, sfDir).foreach(r => println(r.line))
      planDir.foreach(d => println(writePlan(spark, g, sfDir, d)))
    } finally {
      m.close()
      spark.stop()
    }
  }
}
