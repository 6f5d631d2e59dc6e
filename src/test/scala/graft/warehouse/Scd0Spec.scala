package graft.warehouse

import graft.SparkSpec

class Scd0Spec extends SparkSpec {
  import spark.implicits._

  private def df(keys: (String, Int)*) = keys.toSeq.toDF("k", "v")

  private def parquetFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty[String])
      .filter(_.endsWith(".parquet"))

  test("empty warehouse: everything inserts") {
    val stage = df("a" -> 1, "b" -> 2)
    val empty = stage.filter(org.apache.spark.sql.functions.lit(false))
    assert(Scd0.newRows(stage, empty, "k").count() === 2)
  }

  test("overlapping keys are not re-inserted; new keys are") {
    val wh = df("a" -> 1)
    val stage = df("a" -> 99, "b" -> 2)
    val delta = Scd0.newRows(stage, wh, "k").collect()
    assert(delta.map(_.getString(0)).toSet === Set("b"))
  }

  test("type-0: existing rows never update (replayed value ignored)") {
    val path = tmpDir("wh") + "/t"
    Scd0.mergeAppend(df("a" -> 1), path, "k")
    Scd0.mergeAppend(df("a" -> 42), path, "k") // same key, new value: dropped
    val rows = spark.read.parquet(path).as[(String, Int)].collect().toMap
    assert(rows === Map("a" -> 1))
  }

  test("in-batch duplicate keys collapse to one row") {
    val path = tmpDir("wh") + "/t"
    val n = Scd0.mergeAppend(df("a" -> 1, "a" -> 2, "b" -> 3), path, "k")
    assert(n === 2)
    assert(spark.read.parquet(path).count() === 2)
  }

  test("merge is idempotent: merge(merge(wh,b),b) == merge(wh,b)") {
    val path = tmpDir("wh") + "/t"
    val batch = df("a" -> 1, "b" -> 2, "c" -> 3)
    assert(Scd0.mergeAppend(batch, path, "k") === 3)
    assert(Scd0.mergeAppend(batch, path, "k") === 0)
    assert(spark.read.parquet(path).count() === 3)
  }

  test("single-key merges publish exactly one parquet file each") {
    // the delta is hash-partitioned by the dedup; keys that land off
    // partition 0 must not drag partition 0's empty file along
    val path = tmpDir("wh") + "/t"
    ('a' to 'l').map(_.toString).zipWithIndex.foreach { case (k, i) =>
      val before = parquetFiles(path)
      assert(Scd0.mergeAppend(df(k -> i), path, "k") === 1L)
      assert((parquetFiles(path) -- before).size === 1, s"merge of key $k")
    }
    assert(spark.read.parquet(path).count() === 12)
  }

  test("an empty delta publishes nothing") {
    val path = tmpDir("wh") + "/t"
    Scd0.mergeAppend(df("a" -> 1, "b" -> 2), path, "k")
    val before = parquetFiles(path)
    assert(Scd0.mergeAppend(df("b" -> 3), path, "k") === 0L)
    assert(parquetFiles(path) === before)
    assert(!new java.io.File(Scd0.stagingPath(path)).exists())
  }

  test("an empty delta does not create the warehouse directory") {
    val path = tmpDir("wh") + "/t"
    assert(Scd0.mergeAppend(df(), path, "k") === 0L)
    assert(!new java.io.File(path).exists())
    assert(!new java.io.File(Scd0.stagingPath(path)).exists())
  }
}
