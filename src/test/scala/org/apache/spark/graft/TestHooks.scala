package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.util.ShutdownHookManager

/** Test-scope bridge into `private[spark]` internals: the job-tag property
  * and the listener bus (job-count specs), and the priority-ordered
  * shutdown-hook manager — the shared test session must stop BEFORE
  * SparkContext's own shutdown hook (priority
  * `SPARK_CONTEXT_SHUTDOWN_PRIORITY`) so streams are drained and the
  * scheduler quiesced deterministically — sbt's `Tests.Cleanup` does not
  * run inside a forked test JVM (verified r20), so JVM-exit time with a
  * higher priority is the only in-fork "after all suites" point. */
object TestHooks {
  /** Priority of SparkContext's own stop hook; ours must be higher. */
  def sparkContextPriority: Int =
    ShutdownHookManager.SPARK_CONTEXT_SHUTDOWN_PRIORITY

  def addPriorityHook(priority: Int)(f: () => Unit): AnyRef =
    ShutdownHookManager.addShutdownHook(priority)(f)

  /** Job tags a job was submitted under (its `spark.job.tags` property). */
  def jobTags(props: java.util.Properties): Set[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).toSet).getOrElse(Set.empty)

  /** Block until every event posted so far reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
