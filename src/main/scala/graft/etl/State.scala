package graft.etl

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental-extraction state store (reference `state.json` +
  * `API_manager.py:79-113`): a per-entity watermark with a full-backfill
  * sentinel and a monotone advance rule.
  *
  * The reference keeps a single JSON document `{Stock:{ticker→date},
  * Market:{exchange→date}}`; dynamic keys don't map to a declared schema,
  * so we store the same facts as a JSON-lines *table* of
  * `(kind, key, watermark)` rows, readable with `spark.read.json`
  * ([[load]]). The store holds one line per tracked entity, so
  * [[watermark]] and [[advance]] read and rewrite it on the driver through
  * the Hadoop FS API and run no Spark job; its size is bounded by the
  * number of tickers and exchanges, not by the data they describe.
  */
class StateStore(spark: SparkSession, path: String) {
  import StateStore._

  private val schema = "kind STRING, key STRING, watermark STRING"

  /** All watermarks; empty DataFrame if the store doesn't exist yet. */
  def load(): DataFrame = {
    if (graft.core.Fs.exists(spark, path)) spark.read.schema(schema).json(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))
  }

  /** Watermark for one key; the missing-key sentinel triggers full backfill
    * (`API_manager.py:91`: "traer el dato mas antiguo disponible"). */
  def watermark(kind: String, key: String): String =
    entries().getOrElse((kind, key), Sentinel)

  /** Monotone advance (`API_manager.py:104-106`: only move forward). Call
    * AFTER the sink write succeeds — ordering is the at-least-once half of
    * the effectively-once contract (the SCD-0 anti-join is the idempotence
    * half). */
  def advance(kind: String, key: String, watermark: String): Unit = {
    val merged = entries()
    keepLater(merged, (kind, key), watermark)
    val lines = merged.map { case ((k, e), w) =>
      Json.writeValueAsString(Json.createObjectNode()
        .put("kind", k).put("key", e).put("watermark", w))
    }.mkString("", "\n", "\n")
    // write-then-atomic-rename through the Hadoop FS API: state is never
    // observed half-written, on HDFS/S3A/local alike
    val tmp = path + ".tmp"
    graft.core.Fs.writeString(spark, tmp, lines)
    graft.core.Fs.renameOverwrite(spark, tmp, path)
  }

  /** Reset (reference `reboot.py:21-24` / `API_manager.py:211-222`). */
  def reset(): Unit =
    graft.core.Fs.delete(spark, path)

  /** The stored lines in file order; a key stored twice keeps its later
    * watermark. */
  private def entries(): mutable.LinkedHashMap[(String, String), String] = {
    val m = mutable.LinkedHashMap.empty[(String, String), String]
    graft.core.Fs.readString(spark, path).foreach(_.linesIterator.filter(_.trim.nonEmpty)
      .foreach { line =>
        val n = Json.readTree(line)
        keepLater(m, (n.get("kind").asText(), n.get("key").asText()), n.get("watermark").asText())
      })
    m
  }
}

object StateStore {
  /** Full-backfill sentinel (`API_manager.py:77-78,91`), ISO-normalized. */
  val Sentinel = "1990-01-01"

  private val Json = new ObjectMapper()

  /** The monotone rule: a key's watermark only moves forward (ISO dates
    * order as strings). */
  private def keepLater(m: mutable.Map[(String, String), String],
      k: (String, String), w: String): Unit =
    m.updateWith(k)(old => Some(old.filter(_ > w).getOrElse(w))): Unit
}
