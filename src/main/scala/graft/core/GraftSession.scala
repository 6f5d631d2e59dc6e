package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults are chosen for the driver environment (single JVM, `local[32]`,
  * 128 GiB) but every knob here is what we would also set on a real
  * multi-executor cluster: AQE on (runtime coalesce + skew-join handling),
  * shuffle partitions sized to cores rather than the 200 default, UTC
  * session time zone for oracle parity.
  *
  * Two settings in [[builder]] and one step of [[local]] / [[tunedLocal]]
  * are about the per-task cost, not the plan:
  *
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl` name
  *    [[NioLocalFileSystem]] / [[NioLocalFs]]. Without Hadoop's native
  *    library the stock local file system runs `chmod` as a child process
  *    for every file and directory it creates and `readlink` for every
  *    `FileContext` rename. A JFR recording of one `ingest_daily`
  *    benchmark run (15 s, 4 vCPUs) counted 2,039 process starts (1,745
  *    `chmod`, 288 `readlink`); with these classes it counted 5, all JVM
  *    and session start-up or shutdown. In a traced run of the same
  *    workload `StateStore.advance` (one write and one rename) went
  *    46.9 → 2.3 ms, the stage write 196 → 121 ms and the lake write
  *    202 → 132 ms; in `event_stream` a micro-batch's offset-log write
  *    went 63.5 → 2.0 ms and its commit-log write 62.5 → 3.0 ms. Other
  *    schemes (HDFS, S3A) never fork and are not touched.
  *  - `spark.sql.streaming.stateStore.maintenanceInterval` is 5 s (Spark:
  *    60 s). A finished streaming query's loaded state stores stay on the
  *    heap until the next maintenance pass unloads them, so at 60 s the
  *    `event_stream` benchmark's retained heap grew with every drain
  *    finished inside its 15 s run: 100–101 MB after 4 drains and 107 MB
  *    after 5, against 73–75 MB at 5 s on the same seeds. Live stores are
  *    snapshotted and cleaned up on the same schedule, so a long-running
  *    query does that every 5 s, not every 60 s.
  *  - Right after `getOrCreate`, the session's Hadoop conf stops recording
  *    property sources ([[HadoopConf.dropSources]]). Every write task and
  *    every file-scan broadcast carries a copy of that conf, and Hadoop's
  *    `Configuration.write` gzips the source list of each of its 1,106
  *    properties in a stream of its own (520 from `yarn-default.xml`, 356
  *    from `core-default.xml`, 194 from `mapred-default.xml`). On 4 vCPUs
  *    a per-query copy took 113,781 bytes, 8.0 ms to serialize and 8.5 ms
  *    to read back; without the sources 69,897 bytes, 0.5 and 2.0 ms. The
  *    summed `executorDeserializeTime` of a one-row `runStock`'s 4 tasks
  *    went 78–87 → 21–25 ms. Deserialization is paid per task, on a
  *    cluster as locally. Property values are unchanged.
  */
object GraftSession {

  def builder(appName: String = "graft", cores: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      // native functions + the as-of join planner strategy, SQL-visible
      .withExtensions(new graft.GraftExtensions)
      // fork-free local file system and prompt state-store unloads: see
      // the object scaladoc
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "5s")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing is byte-based; the text/dedup kernels are
      // compute-bound (md5 per shingle), so the default 1 MiB floor
      // collapses their few-MB shuffles to 1-3 partitions and serializes
      // the expensive map work AFTER the shuffle (and any persist() then
      // caches that serial layout). A 64 KiB floor keeps parallelism-first
      // coalescing at ~core count for small-byte/high-CPU stages; at
      // cluster scale shuffles are GBs and the floor never binds.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom filters prune the fact side of selective joins
      // before the shuffle — a large win on 100 TB star joins, but the
      // filter BUILD costs more than it saves below ~10M-row fact sides
      // (measured +8% on the sf0.1 bench), so off for local; flip on for
      // cluster deployments
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      // push MIN/MAX/COUNT straight to parquet footers (e.g., the
      // scalar max-date subquery scans metadata, not data)
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the generated-class cache defaults to 100 entries; a session
      // serving this library's full query surface compiles ~800 codegen
      // units, so at the default EVERY run of EVERY query re-Janinos its
      // units (measured: 778 recompiles per bench pass, ~10 s of the
      // 32 s sf0.1 total — the warm-up pass primed a cache that then
      // evicted itself). Static conf: takes effect on the first session
      // built in the JVM. 10k entries ≈ tens of MB of classes, noise
      // against executor heap at any scale.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      // the corpus `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4
      // rejects by default; read as long and convert in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // corpus timestamps are naive parquet timestamp[us]
      // (isAdjustedToUTC=false), which Spark 4 infers as TIMESTAMP_NTZ by
      // default. The engine (and its DuckDB oracle contract) works in
      // session-TZ TIMESTAMP under a UTC session — same face value as the
      // naive micros, but LTZ-strict functions (unix_micros, window())
      // resolve. Scan-level conf, NOT a per-column cast: a cast node on
      // the timestamp would block parquet predicate pushdown on every
      // date-filtered scan.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  def local(appName: String = "graft", cores: Int = 32): SparkSession =
    ready(builder(appName, cores).getOrCreate())

  /** WARN logging, and a Hadoop conf without property sources (see the
    * object scaladoc). */
  private def ready(spark: SparkSession): SparkSession = {
    spark.sparkContext.setLogLevel("WARN")
    HadoopConf.dropSources(spark.sparkContext.hadoopConfiguration): Unit
    spark
  }

  /** Corpus-sized local session — the bench/verify entry point.
    *
    * Two knobs scale with the DATA, the same sizing a job submitter does
    * on a cluster:
    *
    *  - `spark.sql.shuffle.partitions` = corpusBytes / 2 MiB clamped to
    *    [8, cores]: a sub-100 MB corpus shuffles a few MB per stage, where
    *    32-way task scheduling costs more than the work it parallelizes
    *    (measured ~25% of the per-query floor at sf0.1); at ~64 MiB+ the
    *    rule returns `cores` and byte-based AQE coalescing takes over —
    *    identical to [[local]] from there up.
    *  - `spark.sql.constraintPropagation.enabled=false`: the constraint
    *    closure costs 0.1–0.3 s of driver time PER QUERY on multi-join
    *    plans (measured; it is quadratic in predicate count). An audited
    *    plan diff over all 74 gated queries shows its only artifacts here
    *    are inferred `IsNotNull` pushdowns on join/agg keys that are
    *    non-null by corpus contract — dead filters semantically (the join
    *    drops null keys either way; the oracle gate runs under this conf
    *    and stays green). On a 100 TB warehouse with nullable keys the
    *    inference can prune real IO, so [[local]]/[[builder]] keep it ON.
    *  - `spark.sql.adaptive.enabled=false`: AQE materializes every
    *    exchange as a query stage and re-plans between stages — driver
    *    round-trips that cost more than they can recover when every
    *    shuffle is a few MB and no re-planning decision (coalesce beyond
    *    the static width, skew split, join demotion) ever fires (measured
    *    −2 s over the 74 gated queries, 6 interleaved sweeps). At real
    *    scale those decisions carry the job, so [[local]] keeps AQE ON.
    *
    *    sf1 re-measurement (r15): at 10× data the trade is no longer
    *    one-sided. The graph-join family WANTS AQE's skew/coalesce
    *    decisions (medians at sf1: q143 5.07→1.98 s, q149
    *    7.24→2.05 s, q170 2.68→1.67 s with AQE on), while the
    *    q244 composition pipeline pays 3.5× FOR it (12.5→43.4 s — its
    *    dozens of tiny exchanges across eight persisted stages each
    *    become a blocking stage + driver re-plan, a local-mode cost
    *    that amortizes on a real cluster where stages carry real data).
    *    Net over the registry the two effects roughly cancel, so the
    *    static choice stands; on a production cluster both families run
    *    under [[local]]-style AQE-on, where the q244 shape's exchanges
    *    are no longer trivially small. Operators must not RELY on AQE
    *    for correctness of shape — q229's grid learned this: cartesian
    *    partition products must be declared (coalesce(1)), not left for
    *    the AQE coalescer to clean up.
    */
  def tunedLocal(appName: String, dataDir: String, cores: Int = 32): SparkSession = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else f.length()
    val bytes = size(new java.io.File(dataDir))
    val sp = math.min(math.max(bytes / (2L << 20), 8L), cores.toLong)
    ready(builder(appName, cores)
      .config("spark.sql.shuffle.partitions", sp.toString)
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate())
  }
}
