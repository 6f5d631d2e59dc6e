package graft.warehouse

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
    * at 100 TB only (key) columns cross the exchange, never full rows. */
  def newRows(stage: DataFrame, warehouse: DataFrame, key: String): DataFrame =
    stage.dropDuplicates(key)
      .join(warehouse.select(key), Seq(key), "left_anti")

  /** Merge + append in one write pass; returns number of inserted rows.
    *
    * The warehouse is scanned for its key column only, under a declared
    * one-field schema (no schema-inference job). The delta is written once
    * into [[stagingPath]] with its row count riding the write as an
    * observed metric, then its files are renamed into the warehouse — only
    * when the count is above 0, so an empty delta writes nothing. Readers
    * of the warehouse never see the staging directory; one orphaned by a
    * crash before the publish is overwritten by the next merge. A crash
    * part-way through the publish leaves some delta files in place, and
    * the next merge's anti-join skips exactly their keys, so replays
    * converge to the same warehouse. Single writer per warehouse path. */
  def mergeAppend(stage: DataFrame, warehousePath: String, key: String): Long = {
    val spark = stage.sparkSession
    val existing =
      if (graft.core.Fs.exists(spark, warehousePath))
        spark.read.schema(StructType(Seq(stage.schema(key)))).parquet(warehousePath)
      else stage.select(key).filter(lit(false))
    val staging = stagingPath(warehousePath)
    val delta = Observation()
    newRows(stage, existing, key).observe(delta, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val n = scala.concurrent.Await.result(delta.future,
      scala.concurrent.duration.Duration(60, "s")).getLong(0)
    if (n > 0) publish(spark.sparkContext.hadoopConfiguration,
      new Path(staging), new Path(warehousePath))
    graft.core.Fs.delete(spark, staging)
    n
  }

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
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try r.getRecordCount finally r.close()
  }

  /** Stage load = full refresh (`DB_manager.py:107-136`: TRUNCATE + append
    * ≡ overwrite). */
  def stageLoad(df: DataFrame, stagePath: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(stagePath)
}
