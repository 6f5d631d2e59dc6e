package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.SparkSpec
import graft.core.Tables

/** Streaming specs driven synchronously: corpus events are split into two
  * parquet files (two micro-batches via maxFilesPerTrigger=1), queries run
  * with processAllAvailable against memory/foreachBatch sinks.
  */
class EventsStreamSpec extends SparkSpec {

  /** Write the sf0.001 events as 2 files into a temp streaming source dir,
    * normalizing ts to µs timestamps. */
  private def mkSource(): (String, DataFrame) = {
    val dir = tmpDir("events-src")
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    batch.repartition(2).write.mode("overwrite").parquet(dir)
    (dir, batch)
  }

  test("streaming tumbling counts converge to the batch answer") {
    val (dir, batch) = mkSource()
    val q = EventsStream.tumblingCounts(EventsStream.read(spark, dir))
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    // watermark passed the data's end only for closed windows; compare
    // totals on the windows that did emit
    val got = spark.table("tumbling")
    val expected = batch.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
    val joined = got.alias("g").join(expected.alias("e"),
      Seq("window_start", "event_type"))
    assert(joined.filter(col("g.n_events") =!= col("e.n_events")).isEmpty)
    assert(got.count() > 0)
  }

  test("scd0 sink is effectively-once across replayed batches") {
    val (dir, batch) = mkSource()
    val n = batch.count()
    // overlap: re-write half the events as an extra file (replay/duplicates)
    batch.limit((n / 2).toInt).coalesce(1)
      .write.mode("append").parquet(dir)
    val wh = tmpDir("events-wh") + "/events"
    val q = EventsStream.scd0Sink(EventsStream.read(spark, dir), wh, tmpDir("ckpt"))
    try { q.processAllAvailable() } finally q.stop()
    val loaded = spark.read.parquet(wh)
    assert(loaded.count() === n) // duplicates merged away
    assert(loaded.select("event_id").distinct().count() === n)
  }

  test("a finished deduped scd0 drain releases its state stores") {
    // the session's 5 s state-store maintenance interval unloads the
    // stores of a terminated query; at Spark's 60 s default they stay
    // loaded, and on the heap, for up to a minute after the drain
    val (dir, _) = mkSource()
    val q = EventsStream.scd0Sink(EventsStream.deduped(EventsStream.read(spark, dir)),
      tmpDir("release-wh") + "/events", tmpDir("release-ckpt"))
    try q.awaitTermination() finally q.stop()
    val ids = Bridge.stateStoreProviders(q)
    assert(ids.nonEmpty)
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (ids.exists(Bridge.stateStoreLoaded) && System.nanoTime() < deadline)
      Thread.sleep(100)
    val loaded = ids.count(Bridge.stateStoreLoaded)
    assert(loaded === 0, s"$loaded of ${ids.size} state stores still loaded after 15 s")
  }

  test("streaming dedup drops replayed events within the watermark") {
    val (dir, batch) = mkSource()
    val n = batch.count()
    batch.limit((n / 3).toInt).coalesce(1)
      .write.mode("append").parquet(dir) // replay a third of the events
    val q = EventsStream.deduped(EventsStream.read(spark, dir))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("dedup")
    assert(got.count() === n)
    assert(got.select("event_id").distinct().count() === n)
  }

  test("stream-stream interval join matches the batch join") {
    val (dir, batch) = mkSource()
    val q = EventsStream.purchaseViewJoin(EventsStream.read(spark, dir))
      .writeStream.format("memory").queryName("pv")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("pv").count()
    val p = batch.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val v = batch.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
    val expected = p.join(v,
      expr("v_user = user_id AND v_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts")).count()
    assert(got === expected)
    assert(got > 0)
  }

  test("checkpoint resume: restart processes only new files, stays exactly-once") {
    val (dir, batch) = mkSource()
    val n = batch.count()
    val wh = tmpDir("resume-wh") + "/events"
    val ckpt = tmpDir("resume-ckpt")
    // run 1: consume the 2 initial files
    val q1 = EventsStream.scd0Sink(EventsStream.read(spark, dir), wh, ckpt)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(wh).count() === n)
    // drop one more file: half replayed rows + genuinely new data absent
    // from the warehouse is impossible here, so replay the first half —
    // the restart must skip the already-committed files and the SCD-0
    // sink must dedup the replayed rows
    batch.limit((n / 2).toInt).coalesce(1).write.mode("append").parquet(dir)
    val q2 = EventsStream.scd0Sink(EventsStream.read(spark, dir), wh, ckpt)
    try { q2.processAllAvailable() } finally q2.stop()
    val after = spark.read.parquet(wh)
    assert(after.count() === n)
    assert(after.select("event_id").distinct().count() === n)
  }

  test("flatMapGroupsWithState running totals accumulate across batches") {
    val (dir, batch) = mkSource()
    val q = EventsStream.runningTotals(spark, EventsStream.read(spark, dir))
      .writeStream.format("memory").queryName("running")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    // final emitted row per user matches the batch totals
    val last = spark.table("running")
      .groupBy("user_id").agg(max("n_events").as("n_events"))
    val expected = batch.groupBy("user_id").agg(count(lit(1)).as("n"))
    val bad = last.join(expected, "user_id")
      .filter(col("n_events") =!= col("n"))
    assert(bad.isEmpty)
  }

  test("transformWithState running totals match the flatMapGroupsWithState form") {
    val (dir, _) = mkSource()
    // transformWithState only runs on the RocksDB state store; scope the
    // provider switch to this query and restore the session default after
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventsStream.runningTotalsTws(spark, EventsStream.read(spark, dir))
        .writeStream.format("memory").queryName("running_tws")
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val q2 = EventsStream.runningTotals(spark, EventsStream.read(spark, dir))
      .writeStream.format("memory").queryName("running_fmgs")
      .outputMode("append").start()
    try { q2.processAllAvailable() } finally q2.stop()
    // batch-for-batch parity: same per-user rows emitted, same final totals
    val tws = spark.table("running_tws").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val fmgs = spark.table("running_fmgs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(tws === fmgs)
    assert(tws.nonEmpty)
  }

  test("streaming hopping counts converge to the batch q129 answer") {
    val (dir, batch) = mkSource()
    val q = EventsStream.hoppingCounts(EventsStream.read(spark, dir))
      .writeStream.format("memory").queryName("hopping")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("hopping")
    val expected = batch
      .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
    // append mode emits only watermark-closed windows; every emitted
    // window must match the batch count exactly
    val joined = got.alias("g").join(expected.alias("e"),
      Seq("window_start", "event_type"))
    assert(joined.filter(col("g.n_events") =!= col("e.n_events")).isEmpty)
    assert(got.count() > 0)
  }

  test("streaming last-touch attribution converges to the batch q146 channels") {
    // ordered delivery: split the corpus at the median ts and feed the
    // two halves as SEPARATE triggers (write → drain → write → drain), so
    // per-user state carries early touches across the batch boundary
    val src = tmpDir("attr-src")
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val cut = batch.selectExpr("percentile_approx(ts, 0.5) AS m").head().getTimestamp(0)
    batch.filter(col("ts") <= lit(cut)).coalesce(1).write.mode("append").parquet(src)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventsStream.attributionTws(spark, EventsStream.read(spark, src))
        .writeStream.format("memory").queryName("attr")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        batch.filter(col("ts") > lit(cut)).coalesce(1)
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val got = spark.table("attr").groupBy("channel").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = graft.queries.Events
      .q146Attribution(spark, "/root/testdata/sf0.001")
      .select(col("channel"), col("n_purchases"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.values.sum > 0)
  }
}
