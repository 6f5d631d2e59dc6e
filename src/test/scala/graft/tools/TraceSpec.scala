package graft.tools

import org.apache.spark.sql.graft.Bridge

import graft.SparkSpec
import graft.core.Metrics
import graft.queries.Registry

class TraceSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val gate = Registry.all.find(_.name == "q215_pagerank").get

  test("every traced run counts its jobs, and job time fits inside the action") {
    val m = Metrics.install(spark)
    val runs = try Trace.runs(spark, m, gate, sf) finally m.close()
    assert(runs.map(_.run) === (1 to Trace.Runs))
    runs.foreach { r =>
      assert(r.jobs >= 1, r.line)
      assert(r.stages >= r.jobs, r.line)
      assert(r.jobMs >= 0 && r.jobMs <= r.actionMs + 1, r.line)
      assert(r.tasks >= 1 && r.line.contains(s" tasks=${r.tasks} "), r.line)
      assert(r.rddBlocks >= 0 && r.line.endsWith(s" rdd_blocks=${r.rddBlocks}"), r.line)
      assert(r.line.startsWith("TRACE q215_pagerank run="), r.line)
    }
  }

  test("with a plan dir, the gate's explain is written with its counts") {
    val dir = tmpDir("trace-plans")
    val line = Trace.writePlan(spark, gate, sf, dir)
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "q215_pagerank.txt"))
    assert(txt.contains("== Physical Plan =="), txt.take(200))
    assert(line.startsWith("PLAN q215_pagerank"), line)
  }

  test("traced runs and the plan dump leave no block behind") {
    val sc = spark.sparkContext
    val before = Bridge.rddsWithBlocks(sc)
    val m = Metrics.install(spark)
    try Trace.runs(spark, m, gate, sf) finally m.close()
    Trace.writePlan(spark, gate, sf, tmpDir("trace-owned"))
    val left = Bridge.rddsWithBlocks(sc) -- before
    assert(left.isEmpty, s"RDDs left holding blocks: $left")
  }
}
