package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** "Bronce" lake layer (reference `API_manager.py:202-207`, layout
  * `main.py:33-37`): partitioned parquet append.
  *
  * The layout partitions stocks by `year/month/day/ticker`
  * (`API_manager.py:123`) — faithful, but at high ticker cardinality it
  * accretes tiny files (SURVEY §7.4); [[compact]] rewrites a partitioned
  * dataset to one file per directory, and [[zorderWrite]] clusters one
  * for multi-column file skipping.
  */
object Lake {

  val stockPartitions: Seq[String] =
    Seq("stock_year", "stock_month", "stock_day", "stock_ticker")

  /** Lake write, IDEMPOTENT under retry: the batch's partitions
    * (year/month/day/ticker) are wholly owned by this ticker's dates, so
    * dynamic partition overwrite replaces exactly the partitions the
    * batch touches and leaves every other partition alone — a crashed
    * run that re-extracts the same date range rewrites the same
    * partitions instead of appending duplicates (the lake-side half of
    * the pipeline's effectively-once contract; the warehouse half is the
    * SCD-0 anti-join). */
  def writeStocks(df: DataFrame, root: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(stockPartitions: _*)
      .parquet(s"$root/stocks")

  /** Full-refresh write: dynamic overwrite of the exchange's partition —
    * naturally idempotent (a retry rewrites the same snapshot). */
  def writeMarkets(df: DataFrame, root: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("market_exchange")
      .parquet(s"$root/markets")

  def readStocks(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/stocks")

  /** Compaction: rewrite a partitioned dataset to one file per partition
    * directory (hash-repartition on the partition columns puts each
    * directory's rows in a single task). The parity layout
    * (`year/month/day/ticker`) accretes one small file per incremental
    * append (SURVEY §7.4's small-files risk); periodic compaction restores
    * scan efficiency without changing the directory contract. Writes to a
    * temp sibling then swaps, so readers never see a half-compacted tree. */
  def compact(spark: SparkSession, dir: String, partitionCols: Seq[String]): Unit = {
    import graft.core.Fs
    val bak = dir + ".old"
    // crash recovery: a previous compact that died between its two renames
    // left the data parked at `.old` with no live dir — restore it first
    if (!Fs.exists(spark, dir) && Fs.exists(spark, bak))
      Fs.renameOverwrite(spark, bak, dir)
    val df = spark.read.parquet(dir)
    val tmp = dir + ".compacting"
    df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tmp)
    // swap through the Hadoop FS API (works on HDFS/S3A/local alike).
    // Readers never see a half-compacted MIX, but there IS a brief window
    // between the two renames where `dir` is absent (and on S3A, where
    // rename is copy+delete, the window is proportional to table size) —
    // concurrent readers must retry, and a crash inside the window is
    // healed by the recovery above. True atomic publish needs a metadata
    // pointer (table format / metastore), out of scope for a lake dir.
    Fs.delete(spark, bak)
    Fs.renameOverwrite(spark, dir, bak)
    Fs.renameOverwrite(spark, tmp, dir)
    Fs.delete(spark, bak)
  }

  // ---- multi-dimensional clustering (z-order) ---------------------------

  /** Morton z-value over `k` numeric columns, each first normalized to a
    * 16-bit rank with the supplied (min, max) bounds, then bit-interleaved
    * (bit b of column j lands at position b·k + j). Locality in EVERY
    * input dimension maps to locality in the single sort key — the basis
    * of multi-column file skipping. Pure Column bit arithmetic (32 shift/
    * mask terms for k=2): stays inside whole-stage codegen. */
  def zvalue(cols: Seq[org.apache.spark.sql.Column],
      bounds: Seq[(Long, Long)]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && cols.size == bounds.size)
    // 16 bits per column must fit the long: at k=5, bit position 79 would
    // alias position 15 (Java shifts mod 64) and silently garble z-values
    require(cols.size <= 4,
      s"zvalue supports at most 4 cluster columns (16 bits each in a " +
        s"64-bit key); got ${cols.size}")
    val k = cols.size
    val scaled = cols.zip(bounds).map { case (c, (lo, hi)) =>
      val span = math.max(1L, hi - lo)
      // (c - lo) * 65535 / span, clamped to [0, 2^16). Double math: layout
      // code, not a correctness gate — monotone and deterministic is enough
      // (Column `/` is true division; long `div` would need expr()).
      least(greatest(
        floor((c.cast("double") - lit(lo.toDouble)) * 65535.0 / lit(span.toDouble))
          .cast("long"), lit(0L)),
        lit(65535L))
    }
    (0 until 16).flatMap { b =>
      scaled.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, b).bitwiseAND(1L), b * k + j)
      }
    }.reduce(_ + _)
  }

  /** Rewrite `df` into `nFiles` parquet files clustered by the z-order of
    * `clusterCols`: range-partition on the z-value (contiguous z-ranges
    * per file), sort within each file. Every file's parquet footer then
    * carries a TIGHT min/max envelope in EVERY clustered dimension, so a
    * selective predicate on ANY of them skips most files at scan time
    * (footer-stats row-group pruning — with n files, a 1/n-wide slice in
    * one of two dimensions touches ~√n files instead of all n; a plain
    * single-column sort gives 1 in that column but all n in the others).
    * This is the 100 TB answer to "which files does this predicate need":
    * cluster on the 2-3 highest-selectivity predicate columns, and
    * re-cluster periodically like [[compact]].
    *
    * Column bounds for rank normalization come from one tiny min/max
    * aggregate (2k values to the driver — metadata, not data). */
  def zorderWrite(df: DataFrame, clusterCols: Seq[String], path: String,
      nFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    val aggs = clusterCols.flatMap(c =>
      Seq(min(col(c).cast("long")).as(s"min_$c"), max(col(c).cast("long")).as(s"max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    // an empty frame or an all-null cluster column has no bounds — fail
    // with the actual problem, not an NPE out of getLong
    clusterCols.zipWithIndex.foreach { case (c, i) =>
      require(!row.isNullAt(2 * i) && !row.isNullAt(2 * i + 1),
        s"zorderWrite: no min/max bounds for cluster column '$c' — " +
          "input is empty or the column is entirely null")
    }
    val bounds = clusterCols.indices.map(i =>
      (row.getLong(2 * i), row.getLong(2 * i + 1)))
    df.withColumn("__z", zvalue(clusterCols.map(col), bounds))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file min/max envelopes of `cols` for a parquet directory — the
    * same statistics a scan's footer pruning consults, surfaced for
    * clustering-quality checks: file-skipping for predicate `c BETWEEN a
    * AND b` touches exactly the files whose envelope overlaps [a, b]. */
  def fileEnvelopes(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
