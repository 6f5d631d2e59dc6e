package graft.core

import org.scalatest.BeforeAndAfterEach

import graft.SparkSpec

class MetricsSpec extends SparkSpec with BeforeAndAfterEach {

  private val sfDir = "/root/testdata/sf0.001"
  private val installed = scala.collection.mutable.Buffer.empty[Metrics]

  /** A listener on the shared session, removed after the test. */
  private def install(): Metrics = {
    val m = Metrics.install(spark)
    installed += m
    m
  }

  override def afterEach(): Unit =
    try installed.foreach(_.close()) finally { installed.clear(); super.afterEach() }

  test("listener captures scan metrics for a named action") {
    val m = install()
    m.named("lineitem_count") {
      Tables.lineitem(spark, "/root/testdata/sf0.001")
        .write.mode("overwrite").format("noop").save()
    }
    // listener delivery is async; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (m("lineitem_count").isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    val snap = m("lineitem_count")
    assert(snap.isDefined, s"captured: ${m.all.keySet}")
    assert(snap.get.filesRead >= 1)
    assert(snap.get.bytesRead > 0)
    assert(snap.get.durationMs >= 0)
  }

  test("concurrent named scopes attribute to the right names") {
    val m = install()
    val sf = "/root/testdata/sf0.001"
    def run(name: String, table: String): Thread = {
      val t = new Thread(() =>
        m.named(name) {
          spark.read.parquet(s"$sf/$table.parquet")
            .write.mode("overwrite").format("noop").save()
        })
      t.start(); t
    }
    // two actions racing on different threads under different scopes —
    // the round-1 single-current-scope scheme cross-attributed these
    val threads = Seq(run("scope_nation", "nation"), run("scope_region", "region"))
    threads.foreach(_.join(30000))
    val deadline = System.currentTimeMillis() + 10000
    while ((m("scope_nation").isEmpty || m("scope_region").isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(m("scope_nation").isDefined && m("scope_region").isDefined, m.all.keySet)
    // nation (25 rows) and region (5 rows) are distinguishable by rowsOut
    assert(m("scope_nation").get.rowsOut === 25)
    assert(m("scope_region").get.rowsOut === 5)
  }

  test("failing scoped action returns promptly, not after the full deadline") {
    val m = install()
    val t0 = System.currentTimeMillis()
    intercept[RuntimeException] {
      m.named("boom")(throw new RuntimeException("driver-side failure"))
    }
    // no SQL execution was submitted: the wait must be the short grace
    // window, not the 5s hard deadline
    assert(System.currentTimeMillis() - t0 < 2500)
  }

  test("driver-only scoped action (no SQL execution) returns promptly") {
    val m = install()
    val t0 = System.currentTimeMillis()
    val r = m.named("pure")(21 * 2)
    assert(r === 42)
    assert(System.currentTimeMillis() - t0 < 2500)
  }

  test("reused scope name waits for the NEW snapshot, not the stale one") {
    val m = install()
    val sf = "/root/testdata/sf0.001"
    def load(table: String): Unit = m.named("reused") {
      spark.read.parquet(s"$sf/$table.parquet")
        .write.mode("overwrite").format("noop").save()
    }
    load("nation") // 25 rows
    load("region") // 5 rows — a stale-presence wait would still show 25
    assert(m("reused").get.rowsOut === 5)
  }

  test("a scope holding one parquet scan reports exactly 1 job") {
    val m = install()
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
    m.named("scan")(df.write.mode("overwrite").format("noop").save())
    val snap = m("scan").get
    assert(snap.jobs === 1)
    assert(snap.stages === 1)
    assert(snap.executions === 1)
    assert(snap.jobMs >= 0)
  }

  test("an RDD-only scope counts its job with no SQL execution") {
    val m = install()
    val n = m.named("rdd")(spark.sparkContext.parallelize(1 to 100, 2).count())
    assert(n === 100)
    val snap = m("rdd").get
    assert(snap.jobs === 1)
    assert(snap.stages === 1)
    assert(snap.executions === 0)
    assert(snap.rowsOut === 0)
  }

  test("concurrent scopes do not cross-attribute job counts") {
    val m = install()
    val sc = spark.sparkContext
    val df = spark.read.parquet(s"$sfDir/nation.parquet")
    val start = new java.util.concurrent.CountDownLatch(1)
    def run(name: String)(f: => Unit): Thread = {
      val t = new Thread(() => { start.await(); m.named(name)(f) })
      t.start(); t
    }
    val threads = Seq(
      run("one_job")(df.write.mode("overwrite").format("noop").save()),
      run("three_jobs")((1 to 3).foreach(_ => sc.parallelize(1 to 10, 2).count(): Unit)))
    start.countDown()
    threads.foreach(_.join(30000))
    assert(m("one_job").map(_.jobs) === Some(1))
    assert(m("three_jobs").map(_.jobs) === Some(3))
    assert(m("three_jobs").get.executions === 0)
    // one single-file scan task; three jobs of two tasks each
    assert(m("one_job").map(_.tasks) === Some(1))
    assert(m("three_jobs").map(_.tasks) === Some(6))
  }

  test("a one-row parquet write scope reports its 1 task, inside the job time") {
    val m = install()
    val df = spark.range(0, 1, 1, 1).toDF("id")
    m.named("write")(df.write.mode("overwrite").parquet(s"${tmpDir("metrics-write")}/t"))
    val s = m("write").get
    assert(s.tasks === 1)
    assert(s.taskDeserMs >= 0 && s.taskRunMs >= 0, s)
    assert(s.taskDeserMs + s.taskRunMs <= s.jobMs + 1, s)
  }
}
