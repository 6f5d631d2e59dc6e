package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.Bridge

/** Observability (reference §2.11: row-count logs per load,
  * `DB_manager.py:125,136`): the one listener that measures this library.
  * Each [[Metrics#named]] scope records the Spark jobs, stages and job wall
  * time submitted under it, its tasks' deserialization and run time, and
  * the rows, files, bytes and Catalyst phases of its SQL executions.
  * Engine-native replacement for the reference's print statements; in
  * production these feed structured logs/dashboards.
  *
  * Attribution rides on job tags, not shared mutable state: [[named]] tags
  * the calling thread with a tag unique to the call, Spark copies the tag
  * into every job, stage and SQL execution submitted from that thread
  * (broadcast jobs included), and the listener adds each event to the open
  * scopes whose tags it carries. Concurrent scopes on different threads
  * therefore cannot cross-attribute; a nested scope counts toward its
  * outer scope too.
  */
final class Metrics(spark: SparkSession) extends SparkListener with AutoCloseable {
  import Metrics._

  private val captured = TrieMap.empty[String, Snapshot]
  private val open = TrieMap.empty[String, Scope]
  private val jobScopes = TrieMap.empty[Int, (Seq[Scope], Long)]
  private val execScopes = TrieMap.empty[Long, Seq[Scope]]
  private val stageScopes = TrieMap.empty[(Int, Int), Seq[Scope]]

  private def scopesOf(tags: Iterable[String]): Seq[Scope] =
    tags.iterator.flatMap(open.get).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val ss = scopesOf(Bridge.jobTags(e.properties))
    if (ss.nonEmpty) {
      jobScopes.put(e.jobId, (ss, e.time)): Unit
      ss.foreach(_.job())
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobScopes.remove(e.jobId).foreach { case (ss, t0) =>
      ss.foreach(_.jobEnded(t0, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val ss = scopesOf(Bridge.jobTags(e.properties))
    if (ss.nonEmpty) {
      stageScopes.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), ss): Unit
      ss.foreach(_.stage())
    }
  }

  // a stage completes after its tasks have ended: the bus is ordered
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageScopes.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      ss <- stageScopes.get((e.stageId, e.stageAttemptId))
      tm <- Option(e.taskMetrics)
    } ss.foreach(_.task(tm.executorDeserializeTime, tm.executorRunTime))

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      val ss = scopesOf(s.jobTags)
      if (ss.nonEmpty) execScopes.put(s.executionId, ss): Unit
    case e: SparkListenerSQLExecutionEnd =>
      // the bus is ordered, so the Start mapping exists by now
      execScopes.remove(e.executionId).foreach { ss =>
        val qe = Bridge.endQe(e)
        val sql =
          if (Bridge.endFailed(e) || qe == null) None
          else {
            val m = qe.executedPlan.collectLeaves().flatMap(_.metrics.toSeq)
            def sumOf(key: String) = m.collect {
              case (k, v) if k == key => v.value
            }.sum
            val rows = qe.executedPlan.metrics.get("numOutputRows").map(_.value)
              .getOrElse(sumOf("numOutputRows"))
            Some(Sql(Bridge.endDurationNs(e) / 1000000L, rows,
              sumOf("numFiles"), sumOf("filesSize"),
              qe.tracker.phases.map { case (k, p) => k -> p.durationMs }))
          }
        ss.foreach(_.execution(sql))
      }
    case _ => ()
  }

  /** Scope the action(s) in `f` under `name`; its [[Snapshot]] is
    * queryable under `name` once `f` returns or throws, replacing an
    * earlier scope of the same name. Listener delivery is async, so the
    * scope closes after one bounded drain of the listener bus (every event
    * `f` caused is posted before `f` returns). The drain never throws: a
    * bus still busy after `DrainTimeoutMs` yields the counts delivered
    * so far. */
  def named[T](name: String)(f: => T): T = {
    val tag = TagPrefix + nextId.incrementAndGet()
    val scope = new Scope
    open.put(tag, scope)
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try f
    finally {
      sc.removeJobTag(tag)
      Bridge.drainListenerBus(sc, DrainTimeoutMs)
      open.remove(tag)
      captured.put(name, scope.snapshot(name)): Unit
    }
  }

  def apply(name: String): Option[Snapshot] = captured.get(name)
  def all: Map[String, Snapshot] = captured.toMap

  /** Remove the listener from the session's bus. */
  override def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Metrics {
  /** One closed scope.
    *
    * @param jobs       Spark jobs submitted under the scope
    * @param stages     stages those jobs ran (skipped stages excluded)
    * @param jobMs      wall time covered by the scope's jobs; overlapping
    *                   jobs (concurrent broadcasts) count once, so
    *                   scope wall − jobMs is the driver gap
    * @param tasks      tasks those stages ran, failed attempts included
    * @param taskDeserMs summed executor time spent deserializing those
    *                   tasks (closure, partition, broadcast conf), ms
    * @param taskRunMs  summed executor run time of those tasks, ms
    * @param executions SQL executions in the scope
    * @param filesScanned files scanned, summed over the scope's successful
    *                   SQL executions
    * @param phases     Catalyst phase ms (analysis, optimization,
    *                   planning) summed over the scope's executions
    * @param durationMs duration of the scope's LAST successful SQL
    *                   execution, and `rowsOut`, `filesRead`, `bytesRead`
    *                   its output rows and scanned files/bytes; 0 without
    *                   one */
  final case class Snapshot(name: String, durationMs: Long, rowsOut: Long,
      filesRead: Long, bytesRead: Long, jobs: Int, stages: Int, jobMs: Long,
      tasks: Int, taskDeserMs: Long, taskRunMs: Long,
      executions: Int, filesScanned: Long, phases: Map[String, Long])

  /** Upper bound on the listener-bus drain that closes a scope. */
  private val DrainTimeoutMs = 5000L

  private val TagPrefix = "graft.metrics:"
  private val nextId = new java.util.concurrent.atomic.AtomicLong

  private final case class Sql(durationMs: Long, rows: Long, files: Long,
      bytes: Long, phases: Map[String, Long])

  /** Accumulator of one open scope; written by the listener thread, read
    * by the scope's thread after the drain. */
  private final class Scope {
    private var jobs, stages, tasks, executions = 0
    private var taskDeserMs, taskRunMs, filesScanned = 0L
    private var intervals = List.empty[(Long, Long)]
    private var last = Option.empty[Sql]
    private var phases = Map.empty[String, Long]

    def job(): Unit = synchronized { jobs += 1 }
    def stage(): Unit = synchronized { stages += 1 }
    def task(deserMs: Long, runMs: Long): Unit = synchronized {
      tasks += 1
      taskDeserMs += deserMs
      taskRunMs += runMs
    }
    def jobEnded(startMs: Long, endMs: Long): Unit =
      synchronized { intervals ::= ((startMs, endMs)) }
    def execution(sql: Option[Sql]): Unit = synchronized {
      executions += 1
      sql.foreach { s =>
        last = Some(s)
        filesScanned += s.files
        s.phases.foreach { case (k, v) => phases += k -> (phases.getOrElse(k, 0L) + v) }
      }
    }

    def snapshot(name: String): Snapshot = synchronized {
      // union of the job intervals: sort by start, extend while overlapping
      val merged = intervals.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
        case (acc, iv) => iv :: acc
      }
      val jobMs = merged.map { case (s, e) => e - s }.sum
      val s = last.getOrElse(Sql(0L, 0L, 0L, 0L, Map.empty))
      Snapshot(name, s.durationMs, s.rows, s.files, s.bytes, jobs, stages,
        jobMs, tasks, taskDeserMs, taskRunMs, executions, filesScanned, phases)
    }
  }

  /** Install a listener on the session; returns the handle to query.
    * Close it when done: an installed listener sees every later event. */
  def install(spark: SparkSession): Metrics = {
    val m = new Metrics(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
