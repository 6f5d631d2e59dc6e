package graft.etl

import graft.SparkSpec

class StateSpec extends SparkSpec {

  test("missing key returns the full-backfill sentinel") {
    val st = new StateStore(spark, tmpDir("state") + "/state.json")
    assert(st.watermark("Stock", "AAPL") === StateStore.Sentinel)
  }

  test("advance persists and is monotone (never moves backward)") {
    val st = new StateStore(spark, tmpDir("state") + "/state.json")
    st.advance("Stock", "AAPL", "2024-06-03")
    assert(st.watermark("Stock", "AAPL") === "2024-06-03")
    st.advance("Stock", "AAPL", "2024-06-01") // stale update: ignored
    assert(st.watermark("Stock", "AAPL") === "2024-06-03")
    st.advance("Stock", "AAPL", "2024-06-05")
    assert(st.watermark("Stock", "AAPL") === "2024-06-05")
  }

  test("kinds are independent; reset restores the sentinel") {
    val st = new StateStore(spark, tmpDir("state") + "/state.json")
    st.advance("Stock", "AAPL", "2024-06-03")
    st.advance("Market", "NASDAQ", "2024-06-04")
    assert(st.watermark("Market", "NASDAQ") === "2024-06-04")
    assert(st.watermark("Market", "AAPL") === StateStore.Sentinel)
    st.reset()
    assert(st.watermark("Stock", "AAPL") === StateStore.Sentinel)
  }

  test("Market branch reads stored state back (reference bug NOT reproduced)") {
    // The reference's __readState Market branch re-reads a consumed file
    // handle (API_manager.py:88), so a stored Market date ALWAYS fell to
    // the sentinel there. SURVEY §7.4 pins the intended semantic instead:
    // the stored value round-trips (markets dates are informational —
    // main.py:23 — and the extraction is a full refresh regardless of what
    // the watermark says, see Pipeline.runMarket). This test encodes that
    // decision so a future refactor can't silently re-introduce the bug
    // OR start gating the refresh on it.
    val p = tmpDir("state") + "/state.json"
    val st = new StateStore(spark, p)
    st.advance("Market", "NASDAQ", "2024-06-04")
    val st2 = new StateStore(spark, p) // fresh handle, re-read from disk
    assert(st2.watermark("Market", "NASDAQ") === "2024-06-04")
  }

  test("keys with quotes, backslashes and control characters round-trip") {
    val p = tmpDir("state") + "/state.json"
    val st = new StateStore(spark, p)
    val keys = Seq("say \"hi\"", "back\\slash", "bell\u0007", "new\nline", "plain")
    keys.zipWithIndex.foreach { case (k, i) => st.advance("Stock", k, f"2024-06-${i + 1}%02d") }
    val want = keys.zipWithIndex.map { case (k, i) => k -> f"2024-06-${i + 1}%02d" }.toMap
    val fresh = new StateStore(spark, p) // re-read from disk
    keys.foreach { k =>
      assert(st.watermark("Stock", k) === want(k))
      assert(fresh.watermark("Stock", k) === want(k))
    }
    val loaded = fresh.load().collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(loaded.toSet === want.map { case (k, w) => ("Stock", k, w) }.toSet)
  }
}
