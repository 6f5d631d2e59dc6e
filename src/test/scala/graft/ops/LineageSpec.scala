package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.SparkSpec
import graft.core.Metrics

class LineageSpec extends SparkSpec {
  import spark.implicits._

  private def seed: DataFrame = (0L until 10L).toDF("x")

  /** Counts up every x below 5 and keeps the incoming value as `old`. */
  private def climb(gen: DataFrame): DataFrame =
    gen.select(when(col("x") < 5L, col("x") + 1L).otherwise(col("x")).as("x"),
      col("x").as("old"))

  private val moved = Some(col("x") =!= col("old"))

  private def xs(df: DataFrame): Seq[Long] = df.select("x").as[Long].collect().sorted.toSeq

  test("a fixed-count loop runs exactly n steps and places no barrier after the last") {
    var steps = 0
    val m = Metrics.install(spark)
    val run = try m.named("loop") {
      Lineage.iterate(seed, maxIter = 4, reliable = false) { g =>
        steps += 1
        g.select((col("x") + 1L).as("x"))
      }
    } finally m.close()
    assert(steps === 4)
    assert(run.rounds === 4 && run.converged)
    // generations 0..3 are barriered (one job each); the last is lazy
    assert(m("loop").get.jobs === 4)
    assert(Bridge.backingRdds(run.frame).size === 1)
    assert(!Bridge.analyzed(run.frame).isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(xs(run.frame) === (4L until 14L))
  }

  test("a convergence loop stops on the first zero-change round") {
    var steps = 0
    val run = Lineage.iterate(seed, maxIter = 20, reliable = false, moved) { g =>
      steps += 1
      climb(g)
    }
    // x = 0 needs 5 steps to reach 5; the 6th changes nothing
    assert(run.rounds === 6 && steps === 6)
    assert(run.converged)
    assert(xs(run.frame) === Seq(5L, 5L, 5L, 5L, 5L, 5L, 6L, 7L, 8L, 9L))
  }

  test("a convergence loop that hits maxIter reports converged = false") {
    val run = Lineage.iterate(seed, maxIter = 3, reliable = false, moved)(climb)
    assert(run.rounds === 3)
    assert(!run.converged)
    assert(xs(run.frame) === Seq(3L, 4L, 5L, 5L, 5L, 5L, 6L, 7L, 8L, 9L))
  }

  test("only the final generation still holds blocks, though every one is referenced") {
    val sc = spark.sparkContext
    val gens = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val before = Bridge.rddsWithBlocks(sc)
    val run = Lineage.iterate(seed, maxIter = 20, reliable = false, moved) { g =>
      gens += g
      climb(g)
    }
    assert(gens.size === 6)
    assert(Bridge.rddsWithBlocks(sc) -- before ===
      Bridge.backingRdds(run.frame).map(_.id).toSet)
    assert(xs(run.frame).size === 10)
    java.lang.ref.Reference.reachabilityFence(gens)
  }

  test("reliable barriers give the same values and rounds as local ones") {
    val local = Lineage.iterate(seed, maxIter = 20, reliable = false, moved)(climb)
    val reliable = Lineage.iterate(seed, maxIter = 20, reliable = true, moved)(climb)
    assert(reliable.rounds === local.rounds && reliable.converged)
    assert(xs(reliable.frame) === xs(local.frame))
    val fixed = Lineage.iterate(seed, maxIter = 3, reliable = true)(climb).frame
    assert(xs(fixed) === xs(Lineage.iterate(seed, maxIter = 3, reliable = false)(climb).frame))
  }
}
