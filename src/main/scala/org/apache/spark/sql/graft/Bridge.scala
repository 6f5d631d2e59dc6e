package org.apache.spark.sql
package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge. Spark 4 scopes `ExpressionUtils` (and the
  * pre-4 `Column(expr)` constructor) to `private[sql]`; custom native
  * expressions need exactly these two conversions, so this object lives in
  * the sql package to re-export them — the standard extension-library
  * pattern.
  */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom logical plan (`Dataset.ofRows` is
    * `private[sql]`) — the construction path for whole-operator extension
    * nodes like [[graft.plans.AsOfJoinPlan]]. */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a frame (children for custom nodes). */
  def analyzed(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** The RDDs a (local)checkpoint'ed frame reads from (`LogicalRDD` is
    * `private[sql]`) — the handle needed to unpersist a dead checkpoint
    * generation's executor blocks in iterative algorithms. */
  def backingRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    analyzed(df).collect { case lr: execution.LogicalRDD => lr.rdd }

  /** Ids of the RDDs that hold blocks in any block manager now, asked of
    * the block managers themselves (the master is `private[spark]`). The
    * context's persistent-RDD map is weak, so it misses blocks whose RDD
    * object was already collected. */
  def rddsWithBlocks(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case b: org.apache.spark.storage.RDDBlockId => b.rddId }.toSet

  /** Remove every block of RDD `id`, blocking, with no RDD object: the
    * master's `removeRdd` plus the context's bookkeeping (`private[spark]`). */
  def removeRdd(sc: SparkContext, id: Int): Unit = sc.unpersistRDD(id, blocking = true)

  /** Rebuild a just-checkpointed frame WITHOUT the carried
    * `originStats`/`originConstraints`. `Dataset.checkpoint` preserves
    * the parent plan's `Statistics` into the barrier's `LogicalRDD`
    * (SPARK-41345 lineage-trim semantics keep stats for the optimizer);
    * in an ITERATIVE loop whose round-n plan joins the round-(n−1)
    * barrier, join size estimates are PRODUCTS, so the preserved
    * sizeInBytes compounds per round — its bit-length roughly doubles
    * each generation, and past ~20 rounds the driver spends seconds per
    * round multiplying million-bit `BigInt`s inside stats estimation
    * (measured: the q251 grid-DBSCAN component loop, 27 rounds, wedged
    * the driver in `BigInteger.multiplyToomCook3`). Fresh default stats
    * restore O(1) planning per round; data, partitioning, and ordering
    * are untouched, and the default (conservative, large) size keeps
    * the loop's joins on their pinned shuffle-hash shapes. */
  def dropCarriedStats(df: DataFrame): DataFrame = analyzed(df) match {
    case lr: execution.LogicalRDD =>
      ofRows(df.sparkSession, execution.LogicalRDD(
        lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
        lr.isStreaming, lr.stream)(
        df.sparkSession.asInstanceOf[classic.SparkSession], None, None))
    case _ => df
  }

  /** Idempotently register an extra planner strategy on a live session —
    * the runtime fallback for sessions built without
    * `withExtensions(new GraftExtensions)`. */
  def addStrategy(spark: SparkSession, s: execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** `SparkListenerSQLExecutionEnd` carries the QueryExecution, duration
    * and failure of the finished action in `private[sql]` vars — exactly
    * what an executionId-keyed metrics listener needs. */
  def endQe(e: execution.ui.SparkListenerSQLExecutionEnd): execution.QueryExecution = e.qe
  def endDurationNs(e: execution.ui.SparkListenerSQLExecutionEnd): Long = e.duration
  def endFailed(e: execution.ui.SparkListenerSQLExecutionEnd): Boolean =
    e.executionFailure.isDefined || e.errorMessage.exists(_.nonEmpty)

  /** Job tags a job or stage was submitted under (its `spark.job.tags`
    * property; the key is `private[spark]`). */
  def jobTags(props: java.util.Properties): Set[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).toSet).getOrElse(Set.empty)

  /** The state-store providers the stateful operators of `q`'s last
    * micro-batch load: one per operator, partition and store name. */
  def stateStoreProviders(q: streaming.StreamingQuery)
      : Seq[execution.streaming.state.StateStoreProviderId] =
    q.asInstanceOf[execution.streaming.runtime.StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan.collect {
        case w: execution.streaming.operators.stateful.StateStoreWriter => w
      }.flatMap { w =>
        val info = w.getStateInfo
        for (p <- 0 until info.numPartitions; name <- w.stateStoreNames)
          yield execution.streaming.state.StateStoreProviderId(info, p, name)
      }

  /** Whether this JVM holds `id`'s provider (and its state) loaded. */
  def stateStoreLoaded(id: execution.streaming.state.StateStoreProviderId): Boolean =
    execution.streaming.state.StateStore.isLoaded(id)

  /** A fresh copy of the session's Hadoop conf with its SQL confs set, as
    * each query's file scan and write takes one (`sessionState` is
    * `private[sql]`). */
  def newHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Initialize Spark's process-tree metrics getter, whose constructor
    * runs `getconf PAGESIZE` as a child process once per JVM, from
    * whichever heartbeat thread reaches it first (`private[spark]`). */
  def initProcfsMetrics(): Unit =
    org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo: Unit

  /** Wait until every event posted so far reached the listeners, at most
    * `timeoutMs`; returns on the timeout without throwing (the bus is
    * `private[spark]`). */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
