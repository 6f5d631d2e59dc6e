package graft.tools

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.streaming.AsOfStream

/** Measured throughput/state line for [[AsOfStream.enrichPrior]] (r18
  * verdict item 6): the operator is spec-correct but carried no measured
  * evidence for its scaladoc claim — per-key state O(pending + in-flight
  * + 1), i.e. the state bound scales with ACTIVE keys and the watermark
  * window, not with stream length.
  *
  * Protocol: two runs over the same generator at 1× and 10× STREAM
  * LENGTH (same per-batch rate, same key count, same watermark delay —
  * 10× means 10× as many micro-batches, the axis on which an unbounded
  * stream actually grows). Each run drives facts+dims file streams
  * (deterministic synthetic delivery, one file per micro-batch), sinks
  * through `foreachBatch` counts, and records:
  *
  *   - `rows_per_s`: delivered input rows / wall seconds;
  *   - `max_state_rows`: the maximum `numRowsTotal` any progress event
  *     reported for the stateful operator (captured by a listener, not
  *     `recentProgress`, so a 100+-batch run cannot rotate the peak out
  *     of the retained window);
  *   - `max_state_rows_per_key` = that maximum / active keys.
  *
  * The compaction invariant is PASSED when the 10× run's
  * `max_state_rows` stays within the same band as the 1× run's (the
  * emitted line carries `state_growth`, the 10×/1× ratio — O(active
  * keys) predicts ~1.0; an uncompacted dim prefix would predict ~10).
  * Output: ONE JSON line `{"metric":"asof_throughput", ...}` that
  * `tools/quiet_window.sh <round>` (phase `asof`) collects into
  * `ASOF_THROUGHPUT_<round>.json`.
  */
object AsOfThroughput {

  private val Keys = 200
  private val FactsPerBatch = 2000
  private val DimsPerBatch = 200
  private val BaseBatches = 10
  private val BaseMs = 1718000000000L // fixed epoch anchor: deterministic delivery
  private val BatchSpanMs = 10L * 60 * 1000 // one micro-batch = 10 min of event time

  /** One parquet FILE per logical micro-batch, staged then renamed to a
    * generation-ordered name with strictly increasing mtimes — both
    * matter: FileStreamSource's `maxFilesPerTrigger=1` makes files the
    * trigger unit, and it orders pending files by mtime, so a multi-file
    * append (or uuid-named parts with tied mtimes) would deliver rows
    * out of generation order and the watermark would drop the stragglers
    * as late (the first cut of this tool lost 60% of its facts exactly
    * that way). */
  private def writeBatches(spark: SparkSession, dir: String, nBatches: Int,
      perBatch: Int, dim: Boolean): Long = {
    import spark.implicits._
    new java.io.File(dir).mkdirs()
    val staging = java.nio.file.Files.createTempDirectory("asof_tp_stage").toString
    val t0 = System.currentTimeMillis() - (nBatches + 4) * 2000L
    def emitFile(rows: Seq[(Long, java.sql.Timestamp, String)], idx: Int): Unit = {
      val df =
        if (dim) rows.toDF("key", "ts", "dim")
          .withColumn("tie", lit(0L))
          .select("key", "ts", "tie", "dim")
        else rows.toDF("key", "ts", "fact")
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val target = new java.io.File(dir, f"b$idx%05d.parquet")
      require(part.renameTo(target), s"failed to place $target")
      require(target.setLastModified(t0 + idx * 2000L))
    }
    var written = 0L
    (0 until nBatches).foreach { b =>
      val rows = (0 until perBatch).map { i =>
        val key = (b * perBatch + i) % Keys
        val ts = new java.sql.Timestamp(
          BaseMs + b * BatchSpanMs + (i.toLong * BatchSpanMs / perBatch))
        (key.toLong, ts, s"p${b}_$i")
      }
      emitFile(rows, b)
      written += perBatch
    }
    // flush batch: one far-future row per side drains every timer (the
    // watermark must pass the last real fact for its lookup to be final)
    val flushTs = new java.sql.Timestamp(BaseMs + (nBatches + 10) * BatchSpanMs)
    emitFile(Seq((Keys.toLong + 1, flushTs, "flush")), nBatches)
    written + 1
  }

  private def stream(spark: SparkSession, dir: String, ddl: String): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** One measured run; returns (inputRows, emitted, wallS, maxStateRows). */
  private def runOne(spark: SparkSession, mult: Int): (Long, Long, Double, Long) = {
    val root = java.nio.file.Files
      .createTempDirectory(s"asof_tp_${mult}x").toString
    val nb = BaseBatches * mult
    val nFacts = writeBatches(spark, s"$root/facts", nb, FactsPerBatch, dim = false)
    val nDims = writeBatches(spark, s"$root/dims", nb, DimsPerBatch, dim = true)
    val emitted = new AtomicLong(0L)
    val maxState = new AtomicLong(0L)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach { so =>
          maxState.getAndUpdate(m => math.max(m, so.numRowsTotal)): Unit
        }
    }
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    val q = AsOfStream.enrichPrior(spark,
        stream(spark, s"$root/facts", "key LONG, ts TIMESTAMP, fact STRING"),
        stream(spark, s"$root/dims", "key LONG, ts TIMESTAMP, tie LONG, dim STRING"),
        watermarkDelay = "10 minutes")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        emitted.addAndGet(b.count()): Unit
      }
      .start()
    try q.processAllAvailable() finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // every real fact must have been enriched and emitted (only the flush
    // fact stays pending) — a lossy delivery (out-of-order files dropped
    // as late) would silently understate the work and overstate rows/s
    require(emitted.get() == nFacts - 1,
      s"expected ${nFacts - 1} enriched facts, got ${emitted.get()} — " +
        "delivery lost rows to the watermark")
    (nFacts + nDims, emitted.get(), wall, maxState.get())
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.tunedLocal("graft-asof-throughput",
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val out = new AtomicReference[String]("")
    val results = Seq(1, 10).map { mult =>
      val (in, emitted, wall, maxState) = runOne(spark, mult)
      val line = f"""{"mult":$mult,"input_rows":$in,"emitted":$emitted,""" +
        f""""wall_s":$wall%.3f,"rows_per_s":${in / wall}%.1f,""" +
        f""""max_state_rows":$maxState,"active_keys":${Keys + 1},""" +
        f""""max_state_rows_per_key":${maxState.toDouble / (Keys + 1)}%.2f}"""
      out.set(out.get() + (if (out.get().isEmpty) "" else ",") + line)
      (mult, wall, maxState)
    }
    val totalS = results.map(_._2).sum
    val growth = results.last._3.toDouble / math.max(1L, results.head._3)
    println(f"""{"metric":"asof_throughput","total_s":$totalS%.3f,""" +
      f""""state_growth":$growth%.3f,"volumes":[${out.get()}]}""")
    spark.stop()
  }
}
