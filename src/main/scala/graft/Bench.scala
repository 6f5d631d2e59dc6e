package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GraftSession
import graft.queries.{Gated, Registry}

/** Benchmark main: times the headline gated queries on
  * `SPARK_GRAFT_SF_DIR`, printing one JSON line the driver collects into
  * `BENCH_r{N}.json`. Each query is fully executed (noop sink over the
  * final plan); a warm-up pass primes the JVM/codegen so the measured
  * numbers reflect steady-state execution, not JIT.
  *
  * Timeout-safety (r18 lesson — the driver bench DNF'd at rc=124 with
  * nothing parseable): the run now (a) rewrites `BENCH_partial.json`
  * atomically after EVERY query so even a SIGKILL leaves a parseable
  * cumulative artifact on disk, and (b) registers a shutdown hook that
  * prints the cumulative line (marked `"truncated":true`) to stdout when
  * the JVM dies before the final line — `timeout`'s SIGTERM therefore
  * still yields exactly one parseable JSON line in the driver's capture.
  * In normal completion only the final (untruncated) line ever reaches
  * stdout, so a driver parsing either the first or the last JSON line
  * gets the same, correct, artifact.
  *
  * Wall-time budget (same lesson): r17's warm-up + 5 fixed passes fit the
  * driver budget at 19:31; r18's +25% ambient load did not. Passes are
  * now QUERY-MAJOR and adaptive — 3 timed runs per query, extended to at
  * most 5 only while the observed spread (max/min − 1) exceeds 5% — which
  * cuts steady wall time by ~2 full registry passes while keeping the
  * median robust exactly where it needs to be (the noisy queries get the
  * extra passes; the 95% with tight spread don't pay for them). The
  * DuckDB oracle side (tools/oracle_bench.py) is min-of-3 query-major, so
  * a query-major median here is the conservative side of the comparison.
  */
object Bench {
  /** 1-minute load average — recorded at start and end of the run so a
    * drifted ratio is ATTRIBUTABLE: this box shows ±15% run-to-run
    * variance under evening co-load (r12 measured 1.08–1.39 on identical
    * code), and without the load field in the artifact a future
    * regression can't be told apart from a busy box. */
  private def load1(): Double =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.UTF_8)
      s.split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }

  /** JSON string literal — exception messages carry newlines, and a
    * control char would split the single machine-readable bench line */
  private val Json = new ObjectMapper()
  private def jstr(s: String) = Json.writeValueAsString(s)

  /** Full materialization of every row of `df`: the noop sink — a bare
    * count() would let Catalyst prune the projections being measured. */
  def sink(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** The timed unit: build the gate's frame, then [[sink]] it. */
  def runGate(spark: SparkSession, g: Gated, dir: String): Unit =
    sink(g.df(spark, dir))

  /** Oracle pairing stamp (r18 verdict item 2): the committed
    * BENCH_quiet_r18.json carried ratio=1.0021 computed against an oracle
    * file that was later replaced (true committed-pairing ratio 1.326) —
    * a bare ratio is not self-consistent. The bench line now embeds the
    * oracle file's total AND its mtime + content hash, all read at emit
    * time, so any artifact's ratio can be re-verified against the exact
    * oracle bytes it was computed from, and a swapped oracle file is
    * detectable from the JSONs alone. */
  private def oracleStamp(sfDir: String, total: Double): String = {
    val path = sys.env.getOrElse("SPARK_GRAFT_ORACLE_JSON", "ORACLE_BENCH.json")
    try {
      val p = java.nio.file.Paths.get(path)
      val bytes = java.nio.file.Files.readAllBytes(p)
      val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      val sfRe = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r
      val totRe = "\"total_s\"\\s*:\\s*([0-9.eE+-]+)".r
      (sfRe.findFirstMatchIn(text).map(_.group(1)),
       totRe.findFirstMatchIn(text).map(_.group(1).toDouble)) match {
        case (Some(sf), Some(t))
            if new java.io.File(sf).getName == new java.io.File(sfDir).getName && t > 0 =>
          val mtime = java.nio.file.Files.getLastModifiedTime(p).toMillis
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(bytes).take(8).map(b => f"$b%02x").mkString
          f""","oracle_total_s":$t%s,"oracle_file":${jstr(path)},""" +
            f""""oracle_mtime_ms":$mtime%d,"oracle_sha256_16":"$sha%s",""" +
            f""""ratio":${total / t}%.4f"""
        case _ => ""
      }
    } catch { case _: java.io.IOException => "" }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val loadStart = load1()
    val spark = GraftSession.tunedLocal("graft-bench", sfDir, cpus)
    // WARN spam (WindowExec single-partition notices on grid-sized
    // windows, locally-checkpointed-RDD unpersist notes) dominated the
    // r18 driver capture; the bench line is the artifact, not the log
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_ONLY: comma-separated gate names — builder-side subset
    // timing (before/after on one gate); the driver's env-free run
    // benches everything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val headline = Registry.all.filter(g => only.forall(_.contains(g.name)))

    // cumulative state for incremental emission; guarded by `lock` because
    // the shutdown hook reads it from another thread
    val lock = new Object
    val done = scala.collection.mutable.LinkedHashMap
      .empty[String, Either[String, Double]]
    /** Per-gate sample evidence (r19 verdict item 1a): the driver's r19
      * run timed two gates at ~20x their quiet number and the artifact —
      * per-gate medians plus run-level load only — could not say whether
      * the samples were uniformly slow (structural) or burst-shaped
      * (co-tenant load landing on a full-width task set). Each gate now
      * records every sample, the 1-min load at its first sample, and
      * whether the end-of-run burst-recovery pass re-sampled it, emitted
      * as a parallel "samples" object so the "queries" map keeps its
      * plain name->seconds contract. */
    final case class GateStats(samples: Vector[Double], load1Start: Double,
      resampled: Boolean, medFirst: Double, warmup: Double)
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, GateStats]
    @volatile var finalPrinted = false

    /** Serialize the cumulative state to one bench JSON line. */
    def renderLine(truncated: Boolean): String = {
      val (snap, statSnap) = lock.synchronized { (done.toVector, stats.toVector) }
      val qs = snap.collect { case (k, Right(v)) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val errs = snap.collect { case (k, Left(e)) => "\"" + k + "\":" + jstr(e) }
        .mkString("{", ",", "}")
      val samples = statSnap.map { case (k, s) =>
        val ss = s.samples.map(v => f"$v%.3f").mkString("[", ",", "]")
        f""""$k%s":{"s":$ss%s,"load1":${s.load1Start}%.2f""" +
          (if (s.warmup >= 0) f""","w":${s.warmup}%.3f""" else "") +
          (if (s.resampled) f""","resampled":true,"med_first":${s.medFirst}%.3f}"""
           else "}")
      }.mkString("{", ",", "}")
      val total = snap.collect { case (_, Right(v)) => v }.sum
      // SUBSET HONESTY: an SPARK_GRAFT_ONLY run times a slice of the
      // registry, so its sum is NOT the headline total and a ratio against
      // the FULL-registry oracle total would be fiction — the subset line
      // carries an explicit "only" field, nulls "value", and suppresses
      // the oracle fields entirely. The same logic nulls the total of a
      // TRUNCATED full run: a partial sum is a subset sum, whatever cut it
      // short, and must never be graded as the headline number.
      val partial = only.isDefined || truncated
      val oracleFields = if (partial) "" else oracleStamp(sfDir, total)
      val loadFields =
        f""","load1_start":$loadStart%.2f,"load1_end":${load1()}%.2f"""
      val onlyFields = only.fold("") { names =>
        s""","only":${jstr(names.toSeq.sorted.mkString(","))}"""
      }
      val subsetField =
        if (partial) s""","subset_sum":$total,"n_timed":${snap.size},"n_headline":${headline.size}"""
        else ""
      val truncField = s""","truncated":$truncated"""
      val totalField = if (partial) "null" else total.toString
      s"""{"metric":"total","value":$totalField,"unit":"sec","queries":$qs,"errors":$errs,"samples":$samples$oracleFields$loadFields$onlyFields$subsetField$truncField,"sf":"$sfDir"}"""
    }

    /** Atomic rewrite of the on-disk partial after every query: even a
      * SIGKILL (timeout -k, OOM killer) leaves a parseable cumulative
      * artifact with an explicit truncated marker. Deleted on clean
      * completion — its presence IS the DNF signal. */
    val partialPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PARTIAL_JSON", "BENCH_partial.json"))
    def writePartial(): Unit =
      try {
        val tmp = java.nio.file.Files.createTempFile(
          partialPath.toAbsolutePath.getParent, ".bench", ".tmp")
        java.nio.file.Files.write(tmp,
          (renderLine(truncated = true) + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, partialPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      } catch { case _: java.io.IOException => () }

    // timeout(1) delivers SIGTERM → JVM shutdown hooks run → the driver's
    // capture still ends with one parseable (truncated) bench line
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      // under `lock`: either the main thread already printed the final
      // line (flag set, hook is a no-op) or the hook prints the truncated
      // one — never zero lines, never two
      lock.synchronized {
        if (!finalPrinted) {
          println(renderLine(truncated = true))
          System.out.flush()
        }
      }
    }))

    // warm-up: one discarded pass on the TARGET sf — primes JIT, codegen
    // cache, parquet footer cache, and one-time artifacts (q35's trained
    // IVF centroids), so timed passes measure steady-state serving, not
    // first-touch setup. Each run is `Gated.owned`: released outside the
    // timed span, so every sample starts from an empty block store.
    // The warm-up wall time is RECORDED per gate ("w" in the samples
    // evidence): a gate whose timed median later exceeds a multiple of
    // its own warm-up has degraded AFTER proving it can run fast in this
    // very JVM — the uniformly-slow shape the spread-based burst detector
    // below cannot see (r20: a gate was observed stuck ~9x slow for two
    // consecutive runs — JIT compile-queue lag — with per-sample spread
    // under 5%; the r19 driver's q219/q148 medians were the same shape).
    val warmSecs = scala.collection.mutable.Map.empty[String, Double]
    headline.foreach { g =>
      try Gated.owned(spark) {
        val t0 = System.nanoTime()
        runGate(spark, g, sfDir)
        warmSecs(g.name) = (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => () }
    }

    def timeOnce(g: Gated): Either[String, Double] =
      try Gated.owned(spark) {
        val t0 = System.nanoTime()
        runGate(spark, g, sfDir)
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }

    // Adaptive per-query passes: 3 runs; while max/min − 1 > 5% and fewer
    // than 5 runs taken, add a run (a load spike shows up as spread, and
    // the extra runs recover the median the spike would otherwise bias).
    // Lower median on an even count: length/2 would pick the MAX of the
    // two middle samples and bias the query upward. A run that throws is
    // recorded as an error and EXCLUDED from the total — it must never
    // bench as ~0s and silently inflate the round.
    /** One adaptive sampling round: 3 runs, extended to at most 5 while
      * the observed spread (max/min − 1) exceeds 5%. Returns the raw
      * outcomes in run order. */
    def sampleRound(g: Gated): Vector[Either[String, Double]] = {
      val runs = scala.collection.mutable.Buffer.empty[Either[String, Double]]
      while (runs.size < 3) runs += timeOnce(g)
      def spreadHigh: Boolean = {
        val ts = runs.collect { case Right(v) => v }
        ts.nonEmpty && ts.min > 0 && (ts.max / ts.min - 1.0) > 0.05
      }
      while (runs.size < 5 && (spreadHigh || runs.forall(_.isLeft)))
        runs += timeOnce(g)
      runs.toVector
    }
    /** Lower median (even counts take the smaller middle sample — the
      * upper one would bias the query toward any co-load spike). */
    def lowerMedian(ts: Vector[Double]): Double = {
      val s = ts.sorted; s((s.length - 1) / 2)
    }
    headline.foreach { g =>
      val gateLoad = load1()
      val runs = sampleRound(g)
      val times = runs.collect { case Right(v) => v }
      val med =
        if (times.isEmpty) runs.head
        else Right(lowerMedian(times))
      lock.synchronized {
        done(g.name) = med
        if (times.nonEmpty)
          stats(g.name) = GateStats(times, gateLoad,
            resampled = false, medFirst = lowerMedian(times),
            warmup = warmSecs.getOrElse(g.name, -1.0))
      }
      writePartial()
    }

    // End-of-run burst recovery (r19 verdict item 1b): a co-tenant load
    // burst that spans every first-pass sample of a gate poisons its
    // median — the driver's r19 run carried two such gates at ~20x their
    // quiet number (24% of the graded wall) with nothing in the artifact
    // to attribute or recover them. Two flag shapes, both re-sampled once
    // now, after the registry pass, when the disturbance has had the
    // length of the run to clear:
    //  - BURST: max/min > 3 with > 1 s absolute distortion across the
    //    gate's own samples (the adaptive 5%-spread extension already
    //    absorbed ordinary jitter);
    //  - UNIFORMLY SLOW: every sample slow, so the spread is quiet, but
    //    the median exceeds 3x the gate's own WARM-UP time (+1 s
    //    absolute) — the warm-up ran the identical computation in this
    //    JVM earlier, so a later 3x median means the gate degraded after
    //    proving it can run fast (observed r20: JIT compile-queue lag
    //    holding a gate ~9x slow for consecutive runs with <5% spread;
    //    the r19 driver's q219/q148 17/15 s medians had this shape).
    //    Gates whose warm-up is the slow side (one-time artifact builds,
    //    cold JIT) can only make this flag LESS likely — safe direction.
    // ALL samples are pooled and the reported number is the pooled lower
    // median: fresh clean samples out-vote poisoned ones only by count, a
    // still-degraded run re-measures slow and the number honestly stays,
    // and the artifact keeps the first-pass median (med_first), the
    // warm-up time (w) plus every raw sample, so the recovery itself is
    // auditable. Bounded at 8 gates (worst distortion first) to keep the
    // wall-time budget.
    val flagged = lock.synchronized {
      stats.toVector.collect {
        case (name, s)
          if (s.samples.max / s.samples.min > 3.0 &&
              s.samples.max - s.samples.min > 1.0) ||
             (s.warmup > 0 && s.medFirst > 3.0 * s.warmup &&
              s.medFirst - s.warmup > 1.0) => (name, s)
      }
    }.sortBy { case (_, s) =>
      -math.max(s.samples.max - s.samples.min,
        if (s.warmup > 0) s.medFirst - s.warmup else 0.0)
    }.take(8)
    flagged.foreach { case (name, first) =>
      headline.find(_.name == name).foreach { g =>
        val extra = sampleRound(g).collect { case Right(v) => v }
        if (extra.nonEmpty) {
          val pooled = first.samples ++ extra
          lock.synchronized {
            done(name) = Right(lowerMedian(pooled))
            stats(name) = first.copy(samples = pooled, resampled = true)
          }
          writePartial()
        }
      }
    }

    val line = renderLine(truncated = false)
    lock.synchronized {
      finalPrinted = true
      println(line)
      System.out.flush()
    }
    try java.nio.file.Files.deleteIfExists(partialPath): Unit
    catch { case _: java.io.IOException => () }
    val errors = lock.synchronized {
      done.toVector.collect { case (k, Left(e)) => s"$k -> $e" } }
    if (errors.nonEmpty)
      System.err.println("BENCH ERRORS: " + errors.mkString("; "))
    spark.stop()
  }
}
