package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced call: a layer-boundary span around a call the benchmark makes
  * into the program. Times are `System.nanoTime` for durations plus the
  * wall-clock millisecond at start, which aligns spans with Spark's job
  * timestamps for the driver-gap computation. */
final class Span(val id: Int, val name: String, val parent: Int,
    val traceId: String, val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: every job submitted while the span
  * was the innermost one on its thread, with the stages, tasks and SQL
  * executions of those jobs. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskS = 0.0
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var filesRead = 0L
  var filesWritten = 0L
  var rowsWritten = 0L
  var analysisS = 0.0
  var optimizationS = 0.0
  var planningS = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** In-memory span recorder plus the SparkListener that attributes Spark
  * work to spans. Attribution rides on a job tag the benchmark sets on its
  * own thread while a span is open (the mechanism `graft.core.Metrics`
  * uses), so spans opened on different threads — the main thread and a
  * streaming query's `foreachBatch` thread — never cross-attribute. Only
  * the traced run installs it. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val TagPrefix = "perfbench-span-"
  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object
  private var nextId = 0
  private val all = mutable.LinkedHashMap.empty[Int, Span]
  private val work = mutable.HashMap.empty[Int, Work]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }

  sc.addSparkListener(this)

  /** Run `f` inside a span. The parent is the innermost open span on this
    * thread, or `parent` when the thread has none (a `foreachBatch` call
    * belongs to the drain span opened on the main thread). */
  def span[T](name: String, traceId: String, parent: Int = -1)(f: => T): T = {
    val outer = stack.get()
    val s = lock.synchronized {
      val sp = new Span(nextId, name, outer.headOption.map(_.id).getOrElse(parent),
        traceId, System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      all(sp.id) = sp
      work(sp.id) = new Work
      sp
    }
    sc.addJobTag(TagPrefix + s.id)
    stack.set(s :: outer)
    try f
    finally {
      s.endNs = System.nanoTime()
      sc.removeJobTag(TagPrefix + s.id)
      stack.set(outer)
    }
  }

  def current: Int = stack.get().headOption.map(_.id).getOrElse(-1)

  /** A job carries the tags of every open span on its thread, and a
    * streaming thread also inherits the tag open when its query started;
    * the innermost span is the newest, so the highest id. */
  private def workFor(id: Int): Work = work.getOrElseUpdate(id, new Work)

  private def spanOfTags(tags: Iterable[String]): Option[Int] =
    tags.collect { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt }.maxOption

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(',').toSeq).getOrElse(Nil)
    spanOfTags(tags).foreach { id =>
      lock.synchronized {
        jobSpan(e.jobId) = id
        jobStartMs(e.jobId) = e.time
        workFor(id).jobs += 1
        e.stageIds.foreach(st => stageSpan(st) = id)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobSpan.remove(e.jobId).foreach { id =>
      workFor(id).jobIntervals += ((jobStartMs.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(id => workFor(id).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val w = workFor(id)
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.taskS += m.executorRunTime / 1e3
        w.bytesRead += m.inputMetrics.bytesRead
        w.bytesWritten += m.outputMetrics.bytesWritten
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      spanOfTags(s.jobTags).foreach(id => lock.synchronized { execSpan(s.executionId) = id })
    case x: SparkListenerSQLExecutionEnd =>
      lock.synchronized(execSpan.remove(x.executionId)).foreach { id =>
        val qe = org.apache.spark.sql.graft.Bridge.endQe(x)
        if (qe != null) {
          val phases = qe.tracker.phases
          def phase(k: String) = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
          var filesRead, filesWritten, rowsWritten = 0L
          qe.executedPlan.foreach { p =>
            val cls = p.getClass.getSimpleName
            def metric(k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
            if (cls.contains("Writ")) {
              filesWritten += metric("numFiles"); rowsWritten += metric("numOutputRows")
            } else if (cls.contains("Scan")) filesRead += metric("numFiles")
          }
          lock.synchronized {
            val w = workFor(id)
            w.analysisS += phase("analysis"); w.optimizationS += phase("optimization")
            w.planningS += phase("planning")
            w.filesRead += filesRead; w.filesWritten += filesWritten; w.rowsWritten += rowsWritten
          }
        }
      }
    case _ => ()
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Forget every span recorded so far (the warm-up's), once their events
    * have arrived. */
  def clear(): Unit = {
    drain()
    lock.synchronized {
      all.clear(); work.clear(); jobSpan.clear(); jobStartMs.clear(); stageSpan.clear(); execSpan.clear()
    }
  }

  def spans: Seq[Span] = lock.synchronized(all.values.toVector)

  def workOf(id: Int): Work = lock.synchronized(workFor(id))

  /** Self time of each span: its wall time minus the wall time of its
    * direct children. Children of one span run one after another, on its
    * thread or (for `foreachBatch`) on the stream thread while the parent
    * waits, so they never overlap each other. */
  def selfS: Map[Int, Double] = lock.synchronized {
    val childWall = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallS).sum }
    spans.map(s => s.id -> (s.wallS - childWall.getOrElse(s.id, 0.0))).toMap
  }

  /** Work of a span and all its descendants. */
  def subtree(id: Int): Seq[Int] = lock.synchronized {
    val kids = spans.groupBy(_.parent)
    def go(i: Int): Seq[Int] = i +: kids.getOrElse(i, Nil).toSeq.flatMap(c => go(c.id))
    go(id)
  }

  /** Wall seconds of span `id` not covered by any job of its subtree. */
  def driverGapS(id: Int): Double = {
    val s = lock.synchronized(all(id))
    val startMs = s.startMs
    val endMs = s.startMs + (s.endNs - s.startNs) / 1000000L
    val iv = subtree(id).flatMap(i => workOf(i).jobIntervals)
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.wallS - covered / 1e3)
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfS
    val lines = spans.map { s =>
      val w = workOf(s.id)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "trace" -> s.traceId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "wall_s" -> s.wallS, "self_s" -> self(s.id), "jobs" -> w.jobs,
        "stages" -> w.stages, "tasks" -> w.tasks, "task_s" -> w.taskS,
        "bytes_read" -> w.bytesRead, "bytes_written" -> w.bytesWritten,
        "files_read" -> w.filesRead, "files_written" -> w.filesWritten))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }
}
