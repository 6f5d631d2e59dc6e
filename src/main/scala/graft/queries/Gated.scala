package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.graft.Bridge

/** One driver-gated query: a Spark (DataFrame-API) implementation plus, when
  * the semantics are ANSI-SQL-expressible, an equivalent oracle SQL the
  * driver runs in DuckDB over the same parquet tables. Column names/types
  * must match exactly; ROW ORDER does not — the compare sorts rows before
  * hashing (proven by the round-7 q10 canary, confirmed in tools/check.py),
  * so gates must NOT carry a terminal ORDER BY: it is a wasted
  * range-exchange + global sort per query. Sorts belong only where they are
  * semantic (top-k LIMIT, OFFSET/LIMIT pagination, window frames).
  */
final case class Gated(
    name: String,
    df: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Gated {
  /** Run `body` (one gate run: build AND sink) as the owner of every block
    * it places: afterwards, also when `body` throws, remove, blocking, each
    * RDD that gained blocks during `body` ([[Bridge.rddsWithBlocks]]),
    * reachable or not, then clear the catalog cache; RDDs that held blocks
    * before are never touched. The cache's own unpersist does not block,
    * so it runs last: run first, it raced the blocking removal of the same
    * blocks, and a block it dropped first failed that removal with "does
    * not exist". Spark keeps the cache's entry list private,
    * so the WHOLE cache goes: callers hold no catalog entry of their own
    * and run no frame `body` returns. Then throws `IllegalStateException`
    * naming any new RDD still holding blocks, or a cache entry. */
  def owned[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = Bridge.rddsWithBlocks(sc)
    val out = try body finally {
      (Bridge.rddsWithBlocks(sc) -- before).foreach(Bridge.removeRdd(sc, _))
      spark.catalog.clearCache()
    }
    val left = Bridge.rddsWithBlocks(sc) -- before
    val cached = !spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty
    if (left.nonEmpty || cached) throw new IllegalStateException(
      s"gate run left RDDs [${left.toSeq.sorted.mkString(",")}] holding blocks, cache in use: $cached")
    out
  }
}
