package graft.warehouse

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{max, min}

import graft.SparkSpec
import graft.core.Metrics

class Scd0Spec extends SparkSpec {
  import spark.implicits._

  private def df(keys: (String, Int)*) = keys.toSeq.toDF("k", "v")

  /** Characters whose UTF-16 order (`String.compareTo`) and UTF-8 byte
    * order (Parquet statistics, Spark's string order) disagree: a BMP
    * character above the surrogates sorts after a supplementary-plane one
    * in UTF-16 and before it in UTF-8. */
  private val alphabet = Vector("a", "z", "\u00e9", "\u4e2d", "\uff21", "\ufffd",
    "\ud83d\ude00", "\ud834\udd1e")
  private val utf8Order: Ordering[String] =
    (a, b) => java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Merge `batch` bounded by its (min, max) key as Spark computes them. */
  private def bounded(batch: DataFrame, path: String): Long = {
    val b = batch.agg(min("k"), max("k")).head()
    Scd0.mergeAppend(batch, path, "k", Option(b.getString(0)).zip(Option(b.getString(1))))
  }

  /** Add one parquet file holding `keys` to the warehouse at `path`. */
  private def addFile(path: String, keys: Seq[String], stats: Boolean = true): Unit = {
    val tmp = tmpDir("file") + "/f"
    keys.zipWithIndex.toDF("k", "v").coalesce(1).write
      .option("parquet.column.statistics.enabled", stats).parquet(tmp)
    Files.createDirectories(Paths.get(path))
    parquetFiles(tmp).foreach(f => Files.move(Paths.get(tmp, f), Paths.get(path, f)))
  }

  private def rows(path: String): Set[(String, Int)] =
    spark.read.parquet(path).as[(String, Int)].collect().toSet

  /** `f`'s value and the files its SQL executions scanned, under the static
    * planner: an adaptive plan hides its scans from the listener. */
  private def filesScanned[T](f: => T): (T, Long) = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    val m = Metrics.install(spark)
    spark.conf.set(key, "false")
    try (m.named("merge")(f), m("merge").get.filesScanned)
    finally { spark.conf.set(key, was); m.close() }
  }

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

  test("a merge bounded by the batch's keys equals the full-scan merge") {
    val rng = new scala.util.Random(12)
    (0 until 12).foreach { round =>
      val universe = Vector.fill(40)(Vector.fill(1 + rng.nextInt(3))(
        alphabet(rng.nextInt(alphabet.size))).mkString).distinct.sorted(utf8Order)
      val whKeys = rng.shuffle(universe).take(universe.size * 2 / 3).sorted(utf8Order)
      val nFiles = 2 + rng.nextInt(4)
      // disjoint: contiguous runs; overlapping: any file per key; nested:
      // file 0 spans both ends, the others lie inside it
      val fileOf: Int => Int = round % 3 match {
        case 0 => i => i * nFiles / whKeys.size
        case 1 => _ => rng.nextInt(nFiles)
        case _ => i =>
          if (i < 2 || i >= whKeys.size - 2) 0
          else 1 + (i - 2) * (nFiles - 1) / (whKeys.size - 4)
      }
      val path = tmpDir("wh") + "/t"
      val noStats = rng.nextInt(nFiles + 1) // == nFiles: every file has statistics
      val files = whKeys.indices.groupBy(fileOf)
      files.foreach { case (f, is) =>
        addFile(path, is.map(whKeys), stats = f != noStats)
      }
      val copy = tmpDir("wh") + "/t"
      Files.createDirectories(Paths.get(copy))
      new java.io.File(path).list().foreach(f => Files.copy(Paths.get(path, f), Paths.get(copy, f)))
      // a narrow window of keys, some published, some new, one repeated
      val from = rng.nextInt(universe.size)
      val window = universe.slice(from, from + 1 + rng.nextInt(6))
      val keys = window.filter(_ => rng.nextBoolean()) :+ window.head
      val batch = keys.map(_ -> (100 + round)).toDF("k", "v")
      val ctx = s"round $round: ${files.size} files, " +
        s"no statistics on ${if (noStats < nFiles) noStats else "none"}, batch $keys"
      assert(bounded(batch, path) === Scd0.mergeAppend(batch, copy, "k"), ctx)
      assert(rows(path) === rows(copy), ctx)
    }
  }

  test("bounds compare in UTF-8 byte order, not UTF-16 order") {
    val (fffd, emoji) = ("\ufffd", "\ud83d\ude00")
    assert(fffd.compareTo(emoji) > 0 && utf8Order.compare(fffd, emoji) < 0)
    val path = tmpDir("wh") + "/t"
    addFile(path, Seq(fffd))
    // the batch's max is the emoji; in UTF-16 order the file's only key
    // would lie above it and the file would be skipped
    assert(bounded(df("a" -> 1, fffd -> 2, emoji -> 3), path) === 2L)
    assert(rows(path).map(_._1) === Set("a", fffd, emoji))
  }

  test("a bounded merge skips files outside its bounds, never one without statistics") {
    val path = tmpDir("wh") + "/t"
    addFile(path, Seq("a", "b"))
    addFile(path, Seq("m"), stats = false)
    val (n, files) = filesScanned(bounded(df("z" -> 1), path))
    assert(n === 1L)
    assert(files === 1L, "read the file with statistics, or skipped the one without")
    // a replay reads the file its key was published in
    assert(filesScanned(bounded(df("z" -> 2), path)) === ((0L, 2L)))
    assert(bounded(df("m" -> 3), path) === 0L)
    assert(rows(path).map(_._1) === Set("a", "b", "m", "z"))
  }

  test("bounds on a warehouse that does not exist yet insert everything") {
    val root = tmpDir("wh")
    val path = root + "/t"
    assert(bounded(df("b" -> 1, "a" -> 2, "b" -> 3), path) === 2L)
    assert(rows(path).map(_._1) === Set("a", "b"))
    assert(new java.io.File(root).list().toSet === Set("t"))
  }
}
