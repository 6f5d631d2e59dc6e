package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Cross-conf differential gate (ADVICE r9): the driver's oracle compare
  * runs under `GraftSession.tunedLocal`, which turns AQE and constraint
  * propagation OFF — so an AQE- or constraint-specific wrong-results bug
  * would ship ungated. This spec runs EVERY registered gate at sf0.001
  * under both conf points (production: AQE + constraint prop ON; tuned:
  * both OFF) and asserts identical results. Both knobs are dynamic
  * SQLConfs applied at optimization/execution time, so flipping them on
  * the shared session between passes exercises the real conf difference
  * (a `newSession()` child would NOT inherit the builder's
  * `nanosAsLong` reader conf and would mis-read `events.ts`).
  *
  * Comparison is order-insensitive (`toJSON` rows, sorted): several gates
  * are ordered only by their outermost sort, whose tie order differs
  * legitimately across partitionings. Floating-point values are rounded
  * to 9 significant digits before comparison (ADVICE r10): AQE changes
  * partition counts and hence double-reduction order, so sum/avg chains
  * legitimately differ in the last ulp — the gate must trip only on real
  * plan-semantic divergence, not on non-associative float addition.
  *
  * Every run is [[Gated.owned]], so each gate must also hand the block
  * store back as it found it and leave the catalog cache empty, under
  * both conf points: a gate that left a block would throw here.
  */
class DualConfSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = graft.core.GraftSession.local("graft-dualconf", 4)

  // rewrite every JSON fractional/exponent number literal to 9 significant
  // digits; integer literals (ids, counts) pass through untouched
  private val FloatLit = """-?\d+\.\d+(?:[eE][+-]?\d+)?""".r
  private def normFloats(json: String): String =
    FloatLit.replaceAllIn(json,
      m => java.util.regex.Matcher.quoteReplacement(f"${m.matched.toDouble}%.8e"))

  private def runAll(aqe: Boolean): Map[String, Seq[String]] = {
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    spark.conf.set("spark.sql.constraintPropagation.enabled", aqe.toString)
    try SparkEntry.queries.map { case (name, fn) =>
      name -> Gated.owned(spark)(fn(spark, sf).toJSON.collect().toSeq.map(normFloats).sorted)
    }
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.constraintPropagation.enabled", "true")
    }
  }

  test("every gate returns identical results with AQE+constraint-prop ON and OFF") {
    val prod = runAll(aqe = true)
    val tuned = runAll(aqe = false)
    val diffs = prod.keys.toSeq.sorted.flatMap { name =>
      val (a, b) = (prod(name), tuned(name))
      if (a == b) None
      else Some(s"$name: prod ${a.size} rows vs tuned ${b.size} rows; " +
        s"first diff: ${a.zipAll(b, "<missing>", "<missing>").find(p => p._1 != p._2)}")
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }
}
