package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.core.GraftSession
import graft.queries.Gated

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated gate names — builder-side fast
    // iteration on a subset; the driver's 2-arg call dumps everything
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, None)
      case Array(s, o, sub)  => (s, o, Some(sub.split(',').toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [gate,...]")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // same corpus-sized session as Bench: the correctness gate then
    // certifies results under the exact conf the bench measures
    val spark = GraftSession.tunedLocal("graft-verify", sfDir, cpus)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }
    selected.foreach { case (name, fn) =>
      try Gated.owned(spark)(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes backslash, quote and ALL control chars — a tab or CR
    // in an oracle SQL string would otherwise break the JSON reader of the
    // correctness check
    val json = new ObjectMapper()
    val sql = json.createObjectNode()
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .foreach { case (k, v) => sql.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json.writeValueAsString(sql))
    spark.stop()
  }
}
