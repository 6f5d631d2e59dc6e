package graft.warehouse

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnPath
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Two-tier warehouse (reference `DB_manager.py` + `main.py:40-46`):
  * `stage` = truncate-and-load full refresh, `datawarehouse` = append-only
  * with an SCD type-0 merge — insert only keys not already present
  * ("datos estaticos", `DB_manager.py:139`), which is what makes replays
  * idempotent and turns the at-least-once extractor into effectively-once.
  */
object Scd0 {

  /** The merge kernel (`DB_manager.py:142-177`): `stage LEFT JOIN wh ON pk
    * WHERE wh.pk IS NULL` ≡ left_anti. In-batch duplicates are collapsed to
    * the first row per key — the reference delegates that to the Postgres
    * PK; we enforce it behaviorally (SURVEY §1.2). Catalyst picks
    * broadcast-anti when the key side is small, sort-merge-anti otherwise;
    * at 100 TB only (key) columns cross the exchange, never full rows.
    * `warehouse` need only hold the rows whose key can equal a stage key:
    * [[mergeAppend]] passes just the files whose key range overlaps the
    * batch's, or the empty relation when none does. */
  def newRows(stage: DataFrame, warehouse: DataFrame, key: String): DataFrame =
    stage.dropDuplicates(key)
      .join(warehouse.select(key), Seq(key), "left_anti")

  /** Merge + append in one write pass; returns number of inserted rows.
    *
    * The warehouse is scanned for its key column only, under a declared
    * one-field schema (no schema-inference job). Without `bounds` the scan
    * covers every file in the directory. With `bounds` = the batch's
    * (min, max) key of a string key, one listing of the directory decides
    * which files to read: a file is read only if the key envelope in its
    * Parquet footer (min and max over its row groups, compared as unsigned
    * UTF-8 bytes, Spark's string order) overlaps the bounds, or if its
    * footer has no usable statistics for the key or cannot be read. Every
    * stage key lies inside the envelope of any file that holds it, so the
    * anti-join sees every row it could match and the result is that of a
    * full scan; when no file is read, the key side is the empty relation
    * the optimizer removes, and the merge is one write job.
    *
    * The delta is written once
    * into [[stagingPath]] with its row count riding the write as an
    * observed metric, then its files are renamed into the warehouse — only
    * when the count is above 0, so an empty delta writes nothing. Readers
    * of the warehouse never see the staging directory; one orphaned by a
    * crash before the publish is overwritten by the next merge. A crash
    * part-way through the publish leaves some delta files in place, and
    * the next merge's anti-join skips exactly their keys (their envelopes
    * hold them, so a bounded replay still reads them), so replays
    * converge to the same warehouse. Single writer per warehouse path. */
  def mergeAppend(stage: DataFrame, warehousePath: String, key: String,
      bounds: Option[(String, String)] = None): Long = {
    val spark = stage.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val keySchema = StructType(Seq(stage.schema(key)))
    val reads = bounds.filter(_ => keySchema.head.dataType == StringType) match {
      case Some((lo, hi)) => overlapping(conf, new Path(warehousePath), key, lo, hi)
      case None => if (graft.core.Fs.exists(spark, warehousePath)) Seq(warehousePath) else Nil
    }
    val existing =
      if (reads.isEmpty) stage.select(key).filter(lit(false))
      else spark.read.schema(keySchema).parquet(reads: _*)
    val staging = stagingPath(warehousePath)
    val delta = Observation()
    newRows(stage, existing, key).observe(delta, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val n = scala.concurrent.Await.result(delta.future,
      scala.concurrent.duration.Duration(60, "s")).getLong(0)
    if (n > 0) publish(conf, new Path(staging), new Path(warehousePath))
    graft.core.Fs.delete(spark, staging)
    n
  }

  /** What a merge bounded by [lo, hi] reads of `dir`: nothing when it does
    * not exist, otherwise the entries that may hold a key in [lo, hi], or
    * the directory itself when that is every entry. Entries are the names
    * a Spark directory scan does not skip. */
  private def overlapping(conf: Configuration, dir: Path, key: String,
      lo: String, hi: String): Seq[String] = {
    val listed =
      try dir.getFileSystem(conf).listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => return Nil }
    val data = listed.filterNot { s =>
      val name = s.getPath.getName
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    }
    val (lob, hib) = (lo.getBytes(UTF_8), hi.getBytes(UTF_8))
    val cached = envelopes.get
    val now = data.map { s =>
      (s.getPath, key) -> cached.get((s.getPath, key))
        .filter(e => e.length == s.getLen && e.mtime == s.getModificationTime)
        .getOrElse(Envelope(s.getLen, s.getModificationTime, footerRange(conf, s, key)))
    }
    envelopes.set(now.toMap)
    val kept = data.zip(now).collect {
      case (s, (_, e)) if e.range.forall { case (min, max) =>
        Arrays.compareUnsigned(min, hib) <= 0 && Arrays.compareUnsigned(max, lob) >= 0
      } => s.getPath.toString
    }
    // nothing skipped: the directory scan, as without bounds
    if (kept.nonEmpty && kept.size == data.size) Seq(dir.toString) else kept
  }

  /** A file's key (min, max) as UTF-8 bytes, None when its footer gives no
    * usable bounds; valid while its length and mtime are unchanged. */
  private final case class Envelope(length: Long, mtime: Long,
      range: Option[(Array[Byte], Array[Byte])])

  /** Envelopes of the files of the last bounded merge's listing only, so a
    * merge reads the footer of each newly published file once. */
  private val envelopes = new AtomicReference(Map.empty[(Path, String), Envelope])

  /** Min and max of a BINARY column over all row groups, from the footer
    * statistics; None if any row group lacks them for `key`, there is no
    * row group, or the file is not Parquet. The writer's statistics are
    * in unsigned byte order for strings; Parquet drops the signed-order
    * statistics of old writers on read. */
  private def footerRange(conf: Configuration, file: FileStatus,
      key: String): Option[(Array[Byte], Array[Byte])] =
    try {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
      val column = ColumnPath.get(key)
      val stats = try r.getFooter.getBlocks.asScala.toSeq.map { b =>
        b.getColumns.asScala.find(_.getPath == column).filter(
            _.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.BINARY)
          .map(_.getStatistics).filter(st => !st.isEmpty && st.hasNonNullValue)
          .map(st => (st.getMinBytes, st.getMaxBytes))
      } finally r.close()
      if (stats.isEmpty || stats.exists(_.isEmpty)) None
      else Some((stats.flatten.map(_._1).min(unsignedBytes),
        stats.flatten.map(_._2).max(unsignedBytes)))
    } catch { case NonFatal(_) => None }

  private val unsignedBytes: Ordering[Array[Byte]] = Arrays.compareUnsigned(_, _)

  /** Hidden sibling directory a merge writes its delta into before it
    * publishes the delta's files into `warehousePath`. */
  def stagingPath(warehousePath: String): String = {
    val wh = new Path(warehousePath)
    new Path(wh.getParent, s".${wh.getName}.staging").toString
  }

  /** Rename the staged data files into the warehouse directory. The writer
    * always writes partition 0's file, even when that partition is empty,
    * so when there is more than one file the `part-00000-` one is skipped
    * if its footer counts no rows — one footer read per merge. */
  private def publish(conf: Configuration,
      staging: Path, warehouse: Path): Unit = {
    val fs = staging.getFileSystem(conf)
    val parts = fs.listStatus(staging).map(_.getPath).filter(_.getName.startsWith("part-"))
    val empty = if (parts.length < 2) None else parts
      .find(_.getName.startsWith("part-00000-")).filter(footerRows(conf, _) == 0L)
    fs.mkdirs(warehouse)
    parts.filterNot(empty.contains).foreach { p =>
      if (!fs.rename(p, new Path(warehouse, p.getName)))
        throw new java.io.IOException(s"could not publish $p into $warehouse")
    }
  }

  private def footerRows(conf: Configuration, file: Path): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getRecordCount finally r.close()
  }

  /** Stage load = full refresh (`DB_manager.py:107-136`: TRUNCATE + append
    * ≡ overwrite). */
  def stageLoad(df: DataFrame, stagePath: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(stagePath)
}
