package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Failure accounting and latency samples of one run. Every operation
  * counts as attempted; a failed one is recorded with its message, the run
  * goes on, and it never contributes a latency sample. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def run[T](kind: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      sample(kind, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        if (failures.size < 20)
          failures += s"$kind: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  def sample(kind: String, seconds: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  def of(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)

  def all: Seq[(String, Seq[Double])] = samples.toSeq.map { case (k, v) => k -> v.toSeq }
}

/** A metric as reported: value, unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Long)

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    metrics: Seq[(String, Metric)],
    report: Seq[(String, Metric)],
    checks: Seq[(String, Boolean, String)],
    params: Seq[(String, Any)])

/** Entry point of the JVM half of the benchmark (`run.py` builds and
  * launches it): `Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outFile>`. */
object Main {

  /** Driver heap in use after a full collection, in MiB. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    // the second and third collections reclaim what the ContextCleaner
    // releases after the first one enqueued its weak references
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Parquet bytes under `dir`, walked on the local file system. */
  def parquetBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => p.toString.endsWith(".parquet")).mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }

  def parquetFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }

  /** Drop every block a call left in the block store (`graft.Bench.quiesce`);
    * returns how many there were. */
  def release(spark: SparkSession): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs.values.toSeq
    val cacheEmpty = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
    spark.catalog.clearCache()
    rdds.foreach(_.unpersist(blocking = true))
    rdds.size + (if (cacheEmpty) 0 else 1)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, outS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Paths.get(workS)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.core.GraftSession.tunedLocal("perfbench", work.toString, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val (ops, o) = workload match {
      case "ingest_daily" => new IngestDaily(spark, seed, seconds, trace, work, sessionS).run()
      case "event_stream" => new EventStream(spark, seed, seconds, trace, work, sessionS, cores).run()
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    def metricMap(ms: Seq[(String, Metric)]) = ms.map { case (k, m) =>
      k -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n) }
    val correct = o.checks.forall(_._2)
    val result = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "correct" -> correct, "attempted" -> ops.attempted, "failed" -> ops.failed,
      "failures" -> ops.failures.toSeq,
      "metrics" -> scala.collection.immutable.ListMap(metricMap(o.metrics): _*),
      "report" -> scala.collection.immutable.ListMap(metricMap(o.report): _*),
      "checks" -> o.checks.map { case (n, ok, d) => Map("check" -> n, "ok" -> ok, "detail" -> d) },
      "params" -> scala.collection.immutable.ListMap(o.params: _*),
      "samples_s" -> scala.collection.immutable.ListMap(ops.all: _*)))
    Files.write(Paths.get(outS), (result + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
