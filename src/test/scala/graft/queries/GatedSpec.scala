package graft.queries

import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** [[Gated.owned]] releases exactly what its body placed. No test here
  * makes the final leftover check fire: after the blocking release
  * nothing a body did can still hold a block. DualConfSpec covers the
  * check from the passing side, with every registry gate run under it. */
class GatedSpec extends SparkSpec {
  import spark.implicits._

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("persist, localCheckpoint and rdd.persist inside the scope are released") {
    val sc = spark.sparkContext
    val before = Bridge.rddsWithBlocks(sc)
    val n = Gated.owned(spark) {
      val a = spark.range(100).toDF("id").persist()
      val b = spark.range(50).toDF("id").localCheckpoint()
      val c = sc.parallelize(1 to 10).persist(StorageLevel.MEMORY_ONLY)
      val n = a.count() + b.count() + c.count()
      assert((Bridge.rddsWithBlocks(sc) -- before).size === 3)
      n
    }
    assert(n === 160)
    val left = Bridge.rddsWithBlocks(sc) -- before
    assert(left.isEmpty, s"left holding blocks: $left")
    assert(cacheEmpty)
  }

  test("an RDD persisted before the scope keeps its blocks") {
    val sc = spark.sparkContext
    val kept = sc.parallelize(1 to 10).persist(StorageLevel.MEMORY_ONLY)
    try {
      kept.count()
      assert(Bridge.rddsWithBlocks(sc).contains(kept.id))
      Gated.owned(spark)(Seq(1, 2).toDF("x").localCheckpoint().count())
      assert(Bridge.rddsWithBlocks(sc).contains(kept.id))
      assert(kept.count() === 10)
    } finally kept.unpersist(blocking = true): Unit
  }

  test("a body that throws is still released, and its exception rethrown") {
    val sc = spark.sparkContext
    val before = Bridge.rddsWithBlocks(sc)
    val boom = new RuntimeException("boom")
    val thrown = intercept[RuntimeException] {
      Gated.owned(spark) {
        spark.range(20).toDF("id").persist().count()
        sc.parallelize(1 to 5).persist(StorageLevel.MEMORY_ONLY).count()
        throw boom
      }
    }
    assert(thrown eq boom)
    val left = Bridge.rddsWithBlocks(sc) -- before
    assert(left.isEmpty, s"left holding blocks: $left")
    assert(cacheEmpty)
  }
}
