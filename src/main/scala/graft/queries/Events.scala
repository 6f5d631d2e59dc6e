package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Det, Tables}

/** Event-stream semantics in batch form (SURVEY §2.9 [extension]): tumbling
  * event-time windows, JSON property extraction (`events.props` — the
  * reference's F9 `from_json` family), and session windows. The same
  * transforms run under Structured Streaming in [[graft.streaming]]; here
  * they are batch queries so the DuckDB oracle can gate them.
  *
  * Timestamps are emitted as formatted strings: the corpus carries
  * nanosecond precision which Spark truncates to µs while DuckDB keeps ns —
  * raw timestamp output could never hash-match.
  */
object Events {

  import Det._

  /** Tumbling 1-hour event-time window per event type. */
  def q13Tumbling(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  val q13TumblingSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** JSON property extraction + aggregation (reference F9). */
  def q14JsonProps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        (sum(col("k")).cast("double") / count(lit(1))).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
  }

  val q14JsonPropsSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k,
      |  MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
      |  MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type""".stripMargin

  /** Semi-structured props through Spark 4's VARIANT type — the modern
    * engine path next to q14's per-path string extraction: `parse_json`
    * parses each document ONCE into the binary variant encoding, then
    * `variant_get` does typed field access on the parsed form. At scale
    * that inverts the cost model of `get_json_object` (which re-parses
    * the string per path): k extractions cost one parse + k binary
    * probes. Same aggregate surface as q14, so the oracle certifies the
    * whole variant encode/decode round-trip against DuckDB's native JSON
    * operators. */
  def q71VariantProps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(col("k")).as("n_present"))
  }

  val q71VariantPropsSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
      |  MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k,
      |  COUNT(CAST(props->>'$.k' AS BIGINT)) AS n_present
      |FROM events
      |GROUP BY event_type""".stripMargin

  /** Session windows per user, 30-minute inactivity gap: the real
    * `session_window` operator; the oracle reproduces it with
    * gaps-and-islands SQL. */
  def q15Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("session_value"))
      .select(
        col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("session_value"))
  }

  val q15SessionizeSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |numbered AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM marked)
      |SELECT user_id,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
      |FROM numbered
      |GROUP BY user_id, sess""".stripMargin

  /** q103: strict ordered funnel (view → click → purchase) — each stage
    * counts users whose FIRST qualifying event follows their previous
    * stage's timestamp, the standard product-analytics funnel. Each step
    * is a filtered min-aggregate plus an equi-join on user_id; after the
    * first shuffle every later join reuses the user_id partitioning, and
    * stage tables only shrink. Conversion is a ratio of exact counts
    * (IEEE division — engine-identical). */
  def q103Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def firstAfter(evType: String, prev: DataFrame, prevT: String, t: String) =
      e.filter(col("event_type") === evType)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevT))
        .groupBy(col("user_id")).agg(min(col("ts")).as(t))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = firstAfter("click", s1, "t1", "t2")
    val s3 = firstAfter("purchase", s2, "t2", "t3")
    val Seq(n1, n2, n3) = Seq(s1, s2, s3).map(_.count())
    import spark.implicits._
    Seq(
      (1L, "view", n1, 1.0),
      (2L, "click_after_view", n2, n2.toDouble / n1),
      (3L, "purchase_after_click", n3, n3.toDouble / n2))
      .toDF("stage", "step", "n_users", "conversion")
  }

  val q103FunnelSql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |  GROUP BY e.user_id),
      |n AS (SELECT (SELECT COUNT(*) FROM s1) AS n1,
      |             (SELECT COUNT(*) FROM s2) AS n2,
      |             (SELECT COUNT(*) FROM s3) AS n3)
      |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step,
      |  n1 AS n_users, 1.0::DOUBLE AS conversion FROM n
      |UNION ALL
      |SELECT 2, 'click_after_view', n2, CAST(n2 AS DOUBLE) / n1 FROM n
      |UNION ALL
      |SELECT 3, 'purchase_after_click', n3, CAST(n3 AS DOUBLE) / n2 FROM n""".stripMargin

  /** q104: weekly retention cohorts — users grouped by first-seen ISO
    * week, distinct-user activity counted per later week offset: the
    * standard cohort-retention grid. Two user-keyed aggregates and one
    * co-partitioned join; the grid output is weeks² rows. */
  def q104Retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val cohort = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    e.select(col("user_id"), date_trunc("week", col("ts")).as("activity_week"))
      .join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("activity_week"), col("cohort_week")) / 7)
          .cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(
        date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
  }

  /** q106: daily event-volume anomaly z-scores — each (event_type, day)
    * count scored against the trailing-7-observed-days mean/stddev, the
    * standard ops-monitoring shape ("did clicks spike today?"). Variance
    * comes from exact integer power sums over the window (the q30 moment
    * discipline: counts are integers, products stay exact in doubles, and
    * the few finishing double ops are IEEE-identical across engines), so
    * no fixed-point rounding is needed. One shuffle to daily counts; the
    * window runs over the tiny (type × day) grid. z is NULL until 2 prior
    * days exist or when the trailing window is constant. */
  def q106Anomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val daily = e.groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    val stats = daily.select(
      col("event_type"), col("day"), col("n_events"),
      count(col("n_events")).over(w).as("n_prev"),
      sum(col("n_events")).over(w).as("s"),
      sum(col("n_events") * col("n_events")).over(w).as("sq"))
    val mean = col("s").cast("double") / col("n_prev")
    val variance = (col("n_prev") * col("sq") - col("s") * col("s"))
      .cast("double") / (col("n_prev") * (col("n_prev") - 1))
    stats.select(
      col("event_type"),
      date_format(col("day"), "yyyy-MM-dd").as("day"),
      col("n_events"), col("n_prev"),
      when(col("n_prev") >= 2 && variance > 0,
        (col("n_events") - mean) / sqrt(variance)).as("z"))
  }

  val q106AnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, day, n_events,
      |    COUNT(n_events) OVER w AS n_prev,
      |    SUM(n_events) OVER w AS s,
      |    SUM(n_events * n_events) OVER w AS sq
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
      |  n_events, CAST(n_prev AS BIGINT) AS n_prev,
      |  CASE WHEN n_prev >= 2
      |        AND CAST(n_prev * sq - s * s AS DOUBLE)
      |          / (n_prev * (n_prev - 1)) > 0
      |    THEN (n_events - CAST(s AS DOUBLE) / n_prev)
      |      / sqrt(CAST(n_prev * sq - s * s AS DOUBLE) / (n_prev * (n_prev - 1)))
      |    ELSE NULL END AS z
      |FROM stats""".stripMargin

  /** q110: calendar gap-fill + forward fill — the time-series imputation
    * step: materialize the full (event_type × hour) calendar grid over
    * the observed range, left-join the hourly aggregate, and carry the
    * last observed value forward into gap hours (`last_value` IGNORE
    * NULLS). `filled` marks imputed rows (215 at the sf0.01 gate — the
    * fill path is oracle-certified, not vacuous). The grid is types ×
    * hours (tiny); the corpus is touched once for the hourly aggregate;
    * the fill window runs per type over the grid. */
  def q110GapFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val hourly = e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(Det.dsum(col("value")).as("hr_value"))
    val range = hourly.agg(min(col("hr")).as("d0"), max(col("hr")).as("d1"))
    val grid = hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(range))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1, interval 1 hour)")).as("hr"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("filled", col("hr_value").isNull)
      .withColumn("hr_value",
        last(col("hr_value"), ignoreNulls = true).over(w))
      .select(col("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:mm").as("hr"),
        col("hr_value"), col("filled"))
  }

  val q110GapFillSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS hr_value
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT MIN(hr) AS d0, MAX(hr) AS d1 FROM hourly),
      |grid AS (
      |  SELECT t.event_type, g.hr
      |  FROM (SELECT DISTINCT event_type FROM hourly) t
      |  CROSS JOIN (SELECT unnest(generate_series(
      |    (SELECT d0 FROM r), (SELECT d1 FROM r), INTERVAL 1 HOUR)) AS hr) g)
      |SELECT g.event_type, strftime(g.hr, '%Y-%m-%d %H:%M') AS hr,
      |  last_value(h.hr_value IGNORE NULLS) OVER (
      |    PARTITION BY g.event_type ORDER BY g.hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hr_value,
      |  h.hr_value IS NULL AS filled
      |FROM grid g LEFT JOIN hourly h USING (event_type, hr)""".stripMargin

  val q104RetentionSql: String =
    """WITH cohort AS (
      |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      |  FROM events GROUP BY user_id)
      |SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
      |  CAST(date_diff('day', c.cohort_week,
      |    date_trunc('week', e.ts)) // 7 AS BIGINT) AS week_offset,
      |  COUNT(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN cohort c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** q129: HOPPING (sliding) event-time windows — 6-hour windows every
    * 3 hours, so each event lands in exactly duration/slide = 2 windows.
    * The overlapping complement of q13's tumbling gate; identical
    * transform under Structured Streaming (Spark's `window()` is the
    * same expression in both modes). The oracle replays Spark's
    * epoch-aligned window assignment arithmetically: the covering window
    * starts are floor(epoch/slide)·slide − i·slide for i ∈ {0,1}.
    * Scale shape: `window()` expands each row to 2 window rows BEFORE
    * the partial aggregation, so the shuffle carries only (window, type)
    * partial sums — never the 2× row expansion. */
  def q129Hopping(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(window(col("ts"), "6 hours", "3 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  val q129HoppingSql: String =
    """SELECT strftime(
      |    TIMESTAMP '1970-01-01 00:00:00'
      |      + (CAST(floor(epoch(ts) / 10800) AS BIGINT) * 10800
      |         - i.i * 10800) * INTERVAL 1 SECOND,
      |    '%Y-%m-%d %H:%M') AS window_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) i
      |GROUP BY 1, 2""".stripMargin

  /** q132: item-item co-occurrence similarity ("users who touched A also
    * touched B") over the event stream — the item-based collaborative-
    * filtering neighborhood build (Sarwar et al. 2001). Items are the
    * `props.k` values; the CRITICAL scale move is the per-user item cap
    * BEFORE pair generation: each user contributes at most cap·(cap−1)/2
    * pairs (cap = 20, picked by interaction count with a deterministic
    * tie-break), so pair volume is O(users · cap²) — never corpus² —
    * and heavy users (the power-law tail that breaks naive CF at scale)
    * are exactly the ones truncated. Jaccard over capped item-user sets;
    * top-5 neighbors per item, both directions of each pair. */
  /** Per-user capped (user, item) interactions and their co-occurrence
    * pair counts — shared by q132 (CF neighborhoods) and q134 (community
    * detection); the per-user cap is what bounds pair volume. */
  private def cappedItemPairs(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.events(spark, dir)
    // NO spread before the JSON kernel, by measurement (r19 A/B: spread
    // cost q134/q143/q149 +0.04–0.08 s each): the get_json_object parse
    // is light enough that the extra props-column exchange loses to the
    // serial scan at this corpus size
    val ui = e.select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .groupBy(col("user_id"), col("item")).agg(count(lit(1)).as("cnt"))
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("cnt").desc, col("item"))
    // NO persist barrier here, by measurement: q132/q134 consume capped
    // multiple times, but Spark's ReuseExchange already shares the cap
    // window's exchange across the self-join sides, and an explicit
    // persist measured SLOWER on both gates (sf0.1 interleaved sweeps:
    // q132 1.2→2.0-3.4 s, q134 2.1→4.5-4.8 s) — the InMemoryRelation
    // barrier costs more than the plan reuse it buys
    val capped = ui.withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= 20).select(col("user_id"), col("item"))
    // pair generation IN-ROW instead of the capped⋈capped self-join:
    // the per-user item set is ≤ 20 DISTINCT items (the cap), so the
    // sorted array fits a row and all C(n,2) ordered pairs explode from
    // one nested transform — the groupBy(user_id) reuses the cap
    // window's partitioning (no exchange), and the join's per-partition
    // hash build + 2× probe of the capped table disappears. Identical
    // pair multiset: items are distinct per user and the array is
    // sorted, so (item_a < item_b) enumerates each unordered pair once,
    // exactly like the self-join's filter.
    val pairs = capped.groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .select(explode(flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + lit(2),
          greatest(size(col("items")) - i - 1, lit(0))),
          y => struct(x.as("item_a"), y.as("item_b")))))).as("p"))
    val inter = pairs
      .select(col("p.item_a"), col("p.item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("inter"))
    (capped, inter)
  }

  /** The q132/q134 shared oracle CTEs: `ui`, `capped`, `inter`. */
  private val cappedPairCtes: String =
    """ui AS (
      |  SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |capped AS (
      |  SELECT user_id, item FROM ui
      |  QUALIFY row_number() OVER (PARTITION BY user_id
      |    ORDER BY cnt DESC, item) <= 20),
      |inter AS (
      |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS inter
      |  FROM capped a JOIN capped b ON a.user_id = b.user_id
      |  WHERE a.item < b.item GROUP BY 1, 2)""".stripMargin

  def q132Cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val (capped, inter) = cappedItemPairs(spark, dir)
    val sizes = capped.groupBy(col("item")).agg(count(lit(1)).as("n_u"))
    val scored = inter
      .join(broadcast(sizes.select(col("item").as("item_a"), col("n_u").as("n_a"))), Seq("item_a"))
      .join(broadcast(sizes.select(col("item").as("item_b"), col("n_u").as("n_b"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_n"))
    val sym = scored.select(col("item_a").as("item"), col("item_b").as("neighbor"),
        col("inter"), col("union_n"))
      .unionAll(scored.select(col("item_b").as("item"), col("item_a").as("neighbor"),
        col("inter"), col("union_n")))
      .withColumn("jacc_fp6",
        round(col("inter").cast("double") * lit(1e6) / col("union_n")).cast("long"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("jacc_fp6").desc, col("neighbor"))
    sym.withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("item"), col("rank"), col("neighbor"), col("inter"),
        col("union_n"), col("jacc_fp6"))
  }

  val q132CooccurrenceSql: String =
    s"""WITH $cappedPairCtes,
      |sizes AS (SELECT item, COUNT(*) AS n_u FROM capped GROUP BY item),
      |scored AS (
      |  SELECT i.item_a, i.item_b, i.inter,
      |    sa.n_u + sb.n_u - i.inter AS union_n
      |  FROM inter i
      |  JOIN sizes sa ON sa.item = i.item_a
      |  JOIN sizes sb ON sb.item = i.item_b),
      |sym AS (
      |  SELECT item_a AS item, item_b AS neighbor, inter, union_n FROM scored
      |  UNION ALL
      |  SELECT item_b AS item, item_a AS neighbor, inter, union_n FROM scored)
      |SELECT item, CAST(row_number() OVER (PARTITION BY item
      |    ORDER BY CAST(round(CAST(inter AS DOUBLE) * 1000000.0 / union_n)
      |      AS BIGINT) DESC, neighbor) AS BIGINT) AS rank,
      |  neighbor, inter, union_n,
      |  CAST(round(CAST(inter AS DOUBLE) * 1000000.0 / union_n) AS BIGINT)
      |    AS jacc_fp6
      |FROM sym
      |QUALIFY rank <= 5""".stripMargin

  /** q134: weighted label-propagation communities over the q132 item
    * co-occurrence graph (edges = capped pair counts ≥ 2, both
    * directions) — 3 synchronous rounds, min-label tie-break. The
    * community layer above q132's per-item neighbor lists: which item
    * clusters move together. The oracle unrolls the same three rounds as
    * chained CTEs (the q77 PageRank discipline). See
    * [[graft.ops.LabelProp]] for the per-round scale shape. */
  def q134Communities(spark: SparkSession, dir: String): DataFrame = {
    val (capped, inter) = cappedItemPairs(spark, dir)
    val heavy = inter.filter(col("inter") >= 2)
    val edges = heavy
      .select(col("item_a").as("src"), col("item_b").as("dst"), col("inter").as("w"))
      .unionAll(heavy
        .select(col("item_b").as("src"), col("item_a").as("dst"), col("inter").as("w")))
    val nodes = capped.select(col("item").as("node")).distinct()
    graft.ops.LabelProp.propagate(edges, nodes, iters = 3)
      .select(col("node").as("item"), col("label").as("community"))
  }

  val q134CommunitiesSql: String = {
    def round(i: Int): String = {
      val prev = s"l${i - 1}"
      s"""u$i AS (
        |  SELECT e.src AS node, l.label, SUM(e.w) AS wsum
        |  FROM edges e JOIN $prev l ON l.node = e.dst GROUP BY 1, 2),
        |b$i AS (
        |  SELECT node, label FROM u$i
        |  QUALIFY row_number() OVER (PARTITION BY node
        |    ORDER BY wsum DESC, label) = 1),
        |l$i AS (
        |  SELECT p.node, COALESCE(b.label, p.label) AS label
        |  FROM $prev p LEFT JOIN b$i b USING (node))""".stripMargin
    }
    s"""WITH $cappedPairCtes,
      |heavy AS (SELECT * FROM inter WHERE inter >= 2),
      |edges AS (
      |  SELECT item_a AS src, item_b AS dst, inter AS w FROM heavy
      |  UNION ALL
      |  SELECT item_b AS src, item_a AS dst, inter AS w FROM heavy),
      |l0 AS (
      |  SELECT item AS node, item AS label
      |  FROM (SELECT DISTINCT item FROM capped)),
      |${round(1)},
      |${round(2)},
      |${round(3)}
      |SELECT node AS item, label AS community FROM l3""".stripMargin
  }

  /** q135: first-order Markov transition matrix over per-user event
    * sequences — P(next event type | current type), the sequence-level
    * audit (and feature) behind session modeling and next-action
    * prediction. One lead() window over the user/time ordering (the q15
    * sessionize partitioning), one (from, to) aggregate; the row-
    * probability is a window sum over the 5×5 transition table — nothing
    * after the lead touches corpus-sized data. */
  def q135Transitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = e
      .withColumn("to_type", lead(col("event_type"), 1).over(wSeq))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wTot = Window.partitionBy(col("from_type"))
    trans.select(col("from_type"), col("to_type"), col("n"),
      round(col("n").cast("double") * lit(1e6) / sum(col("n")).over(wTot))
        .cast("long").as("p_fp6"))
  }

  val q135TransitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |trans AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(round(CAST(n AS DOUBLE) * 1000000.0
      |    / SUM(n) OVER (PARTITION BY from_type)) AS BIGINT) AS p_fp6
      |FROM trans""".stripMargin

  /** q138: telemetry debounce — an event is suppressed when the SAME
    * (user, type) fired within the preceding 5 minutes (at-least-once
    * clients and UI double-fires both produce this shape). Lag-based
    * reference (previous event, kept or not): one window over the
    * (user_id, event_type) partitioning, microsecond-exact timestamp
    * arithmetic — no chained keep-state, so the batch form is a pure
    * window and the streaming form is `dropDuplicatesWithinWatermark`
    * territory. Report per type: total / kept / suppressed. */
  def q138Debounce(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("kept",
        (col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > lit(300L * 1000000))
          .cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
      .select(col("event_type"), col("n_total"), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_suppressed"))
  }

  val q138DebounceSql: String =
    """WITH lagged AS (
      |  SELECT event_type, epoch_us(ts) AS us,
      |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |flagged AS (
      |  SELECT event_type,
      |    CASE WHEN prev_us IS NULL OR us - prev_us > 300000000
      |      THEN 1 ELSE 0 END AS kept
      |  FROM lagged)
      |SELECT event_type, COUNT(*) AS n_total,
      |  CAST(SUM(kept) AS BIGINT) AS n_kept,
      |  COUNT(*) - CAST(SUM(kept) AS BIGINT) AS n_suppressed
      |FROM flagged
      |GROUP BY event_type""".stripMargin

  /** q139: time-decayed item popularity — the feature-store "recency-
    * weighted count": each interaction contributes 0.5^(age/7d half-lives)
    * toward its item's score, so last week's fad and last year's staple
    * separate cleanly. Determinism: the exponent is an INTEGER number of
    * half-lives (floor of day-age / 7) against a FIXED reference date, so
    * 0.5^k is an exact binary double in any engine; per-event weights
    * round to 1e-9 fixed-point longs and sum exactly. One projection +
    * one item aggregate — nothing else touches the corpus. */
  def q139DecayedPopularity(spark: SparkSession, dir: String): DataFrame = {
    val refDate = lit(java.sql.Date.valueOf("2024-02-01"))
    val halfLives = floor(datediff(refDate, to_date(col("ts"))) / 7)
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("item"),
        round(pow(lit(0.5), halfLives) * lit(1e9)).cast("long").as("w_fp9"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_events"), sum(col("w_fp9")).as("decayed_fp9"))
  }

  val q139DecayedPopularitySql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(pow(0.5, floor(
      |    date_diff('day', CAST(ts AS DATE), DATE '2024-02-01') / 7))
      |    * 1000000000.0) AS BIGINT)) AS BIGINT) AS decayed_fp9
      |FROM events
      |GROUP BY 1""".stripMargin

  /** q143: per-item triangle participation + local clustering coefficient
    * over the q132/q134 co-occurrence graph (capped pairs with support
    * ≥ 2) — the graph-structure audit above q134's communities: high
    * clustering = tightly-knit item neighborhoods (bundle candidates),
    * near-zero = hub-and-spoke. The Spark side runs the degree-ORIENTED
    * enumeration ([[graft.ops.Triangles]] — wedge volume O(m^1.5), hubs
    * never the last reducer); the oracle counts the same triangles with
    * the simple id-ordered triple join, certifying the orientation
    * rewrite as a semantic identity. */
  def q143Triangles(spark: SparkSession, dir: String): DataFrame = {
    val (_, inter) = cappedItemPairs(spark, dir)
    val edges = inter.filter(col("inter") >= 2)
      .select(col("item_a").as("u"), col("item_b").as("v"))
    graft.ops.Triangles.nodeTriangles(edges)
      .select(col("node").as("item"), col("deg"), col("n_tri"),
        col("clustering_fp6"))
  }

  val q143TrianglesSql: String =
    s"""WITH $cappedPairCtes,
      |edges AS (SELECT item_a AS u, item_b AS v FROM inter WHERE inter >= 2),
      |deg AS (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
      |  GROUP BY node),
      |tri AS (
      |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
      |  FROM edges e1
      |  JOIN edges e2 ON e2.u = e1.v
      |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
      |per_node AS (
      |  SELECT node, COUNT(*) AS n_tri FROM (
      |    SELECT unnest([x, y, z]) AS node FROM tri)
      |  GROUP BY node)
      |SELECT d.node AS item, d.deg,
      |  COALESCE(p.n_tri, 0) AS n_tri,
      |  CAST(round(CAST(COALESCE(p.n_tri, 0) AS DOUBLE) * 2000000.0
      |    / (d.deg * (d.deg - 1))) AS BIGINT) AS clustering_fp6
      |FROM deg d LEFT JOIN per_node p USING (node)
      |WHERE d.deg >= 2""".stripMargin

  /** q149: bounded-round k-truss (k = 4) over the q143 co-occurrence
    * graph — the edge-level community core: an edge survives only while
    * it sits in ≥ 2 triangles, and two peel rounds strip the tree-like
    * periphery that node-level clustering (q143) cannot separate from
    * genuine cores. Spark runs [[graft.ops.Triangles.trussPeel]] (two
    * degree-oriented enumerations, edge set only shrinks); the oracle
    * unrolls both rounds over the simple id-ordered triple join. */
  def q149Truss(spark: SparkSession, dir: String): DataFrame = {
    val (_, inter) = cappedItemPairs(spark, dir)
    val edges = inter.filter(col("inter") >= 2)
      .select(col("item_a").as("u"), col("item_b").as("v"))
    graft.ops.Triangles.trussPeel(edges, minSupport = 2L, rounds = 2)
      .select(col("u").as("item_a"), col("v").as("item_b"), col("support"))
  }

  val q149TrussSql: String = {
    def round(i: Int, prev: String): String =
      s"""tri$i AS (
        |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM $prev e1
        |  JOIN $prev e2 ON e2.u = e1.v
        |  JOIN $prev e3 ON e3.u = e1.u AND e3.v = e2.v),
        |e$i AS (
        |  SELECT u, v, COUNT(*) AS support FROM (
        |    SELECT x AS u, y AS v FROM tri$i
        |    UNION ALL SELECT y, z FROM tri$i
        |    UNION ALL SELECT x, z FROM tri$i)
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2)""".stripMargin
    s"""WITH $cappedPairCtes,
      |e0 AS (SELECT item_a AS u, item_b AS v FROM inter WHERE inter >= 2),
      |${round(1, "e0")},
      |${round(2, "e1")}
      |SELECT u AS item_a, v AS item_b, CAST(support AS BIGINT) AS support
      |FROM e2""".stripMargin
  }

  /** q167: RFM segmentation — the classic recency/frequency/monetary
    * customer grid over purchase events: per user, days since last
    * purchase (vs the corpus max event time — deterministic, no clock),
    * purchase count, and exact-cents monetary value; each dimension
    * bucketed on fixed edges and the 3-digit segment counted. Everything
    * after the per-user aggregate is segment-sized (≤ 27 rows). */
  def q167Rfm(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val us = unix_micros(col("ts"))
    val ref = e.agg(max(us).as("ref_us"))
    val perUser = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(us).as("last_us"), count(lit(1)).as("n_purch"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val day = 86400L * 1000000L
    val r = when((col("ref_us") - col("last_us")) <= lit(30L) * day, 0L)
      .when((col("ref_us") - col("last_us")) <= lit(90L) * day, 1L).otherwise(2L)
    val f = when(col("n_purch") >= 10, 0L).when(col("n_purch") >= 3, 1L)
      .otherwise(2L)
    val m = when(col("cents") >= 50000L, 0L).when(col("cents") >= 10000L, 1L)
      .otherwise(2L)
    perUser.crossJoin(broadcast(ref))
      .select((r * 100 + f * 10 + m).as("segment"), col("cents"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_users"),
        (sum(col("cents")).cast("double") / 100.0).as("total_value"))
  }

  val q167RfmSql: String =
    """WITH ref AS (SELECT MAX(epoch_us(ts)) AS ref_us FROM events),
      |pu AS (
      |  SELECT user_id, MAX(epoch_us(ts)) AS last_us, COUNT(*) AS n_purch,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |seg AS (
      |  SELECT
      |    (CASE WHEN r.ref_us - last_us <= 2592000000000 THEN 0
      |          WHEN r.ref_us - last_us <= 7776000000000 THEN 1 ELSE 2 END) * 100
      |    + (CASE WHEN n_purch >= 10 THEN 0
      |            WHEN n_purch >= 3 THEN 1 ELSE 2 END) * 10
      |    + (CASE WHEN cents >= 50000 THEN 0
      |            WHEN cents >= 10000 THEN 1 ELSE 2 END) AS segment,
      |    cents
      |  FROM pu CROSS JOIN ref r)
      |SELECT CAST(segment AS BIGINT) AS segment, COUNT(*) AS n_users,
      |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value
      |FROM seg GROUP BY segment""".stripMargin

  /** q168: day-of-week seasonality profile — per event type × weekday,
    * counts, share, and integer-exact deviation from uniform
    * (`(7n − N)/N` at fp6): the load-shape audit behind capacity planning
    * and anomaly baselines. One (type, dow) aggregate; grid downstream. */
  def q168DowProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.events(spark, dir)
      .groupBy(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n"))
    val wT = Window.partitionBy(col("event_type"))
    d.select(col("event_type"), col("dow"), col("n"),
      round(col("n").cast("double") * lit(1e6) / sum(col("n")).over(wT))
        .cast("long").as("share_fp6"),
      round((col("n") * 7 - sum(col("n")).over(wT)).cast("double") * lit(1e6) /
        sum(col("n")).over(wT)).cast("long").as("dev_uniform_fp6"))
  }

  val q168DowProfileSql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, dow, n,
      |  CAST(round(CAST(n AS DOUBLE) * 1000000.0
      |    / SUM(n) OVER (PARTITION BY event_type)) AS BIGINT) AS share_fp6,
      |  CAST(round(CAST(n * 7 - SUM(n) OVER (PARTITION BY event_type)
      |      AS DOUBLE) * 1000000.0
      |    / SUM(n) OVER (PARTITION BY event_type)) AS BIGINT)
      |    AS dev_uniform_fp6
      |FROM d""".stripMargin

  /** q164: out-of-orderness audit — per event type, how late events
    * arrive relative to the RUNNING MAX of event time in arrival order
    * (`event_id`), which is exactly the quantity a Structured Streaming
    * watermark must cover: `max_late_s` is the smallest watermark delay
    * with zero drops, and the late-rate says what a tighter one costs.
    * The q146 max-over-frame trick — no IGNORE NULLS, no self-join —
    * then a type-sized aggregate of integer second-floored lateness.
    *
    * Scale shape: the arrival-ordered running max is the SHARDED prefix
    * max ([[graft.ops.ShardedOrder.shardedPrefixMax]] — within-bucket
    * prefix max at types × cores parallelism, plus the max over earlier
    * buckets from a grid-sized window), replacing the per-type total
    * sort of SCALING_r12 note B; the unchanged plain-window oracle
    * certifies the identity. */
  def q164Orderliness(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    val lateS = greatest(lit(0L),
      floor((col("pm_us") - col("us")) / 1000000L).cast("long"))
    graft.ops.ShardedOrder
      .shardedPrefixMax(e, Seq("event_type"), "event_id", col("us"), "pm_us")
      .select(col("event_type"), coalesce(lateS, lit(0L)).as("late_s"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("late_s") > 0).cast("long")).as("n_late"),
        round(sum((col("late_s") > 0).cast("long")).cast("double") * lit(1e6) /
          count(lit(1))).cast("long").as("late_rate_fp6"),
        max(col("late_s")).as("max_late_s"),
        sum(col("late_s")).as("sum_late_s"))
  }

  val q164OrderlinessSql: String =
    """WITH lat AS (
      |  SELECT event_type,
      |    COALESCE(greatest(0, CAST(floor((
      |      max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      - epoch_us(ts)) / 1000000) AS BIGINT)), 0) AS late_s
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(round(CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    * 1000000.0 / COUNT(*)) AS BIGINT) AS late_rate_fp6,
      |  MAX(late_s) AS max_late_s,
      |  CAST(SUM(late_s) AS BIGINT) AS sum_late_s
      |FROM lat GROUP BY event_type""".stripMargin

  /** q159: relational division — users whose interaction history covers
    * ALL of a probe item set (the textbook ÷ operator, Codd 1972; the
    * "bought the whole bundle" segmentation). Spelled as the scale-safe
    * count-distinct form: filter to the probe items FIRST (the corpus
    * shrinks before any aggregate), then `HAVING COUNT(DISTINCT item) =
    * |probe|`. Report: qualified users vs all interacting users. */
  def q159Division(spark: SparkSession, dir: String): DataFrame = {
    val probe = Seq(1L, 2L, 3L)
    val ui = Tables.events(spark, dir).select(col("user_id"),
      get_json_object(col("props"), "$.k").cast("long").as("item"))
    val qualified = ui.filter(col("item").isin(probe: _*))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("item")).as("nd"))
      .filter(col("nd") === probe.size)
    val tot = ui.agg(countDistinct(col("user_id")).as("n_users_total"))
    qualified
      .agg(count(lit(1)).as("n_qualified"), sum(col("user_id")).as("id_sum"))
      .crossJoin(broadcast(tot))
  }

  val q159DivisionSql: String =
    """WITH ui AS (
      |  SELECT user_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      |  FROM events),
      |q AS (
      |  SELECT user_id FROM ui WHERE item IN (1, 2, 3)
      |  GROUP BY user_id HAVING COUNT(DISTINCT item) = 3),
      |tot AS (
      |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_total
      |  FROM ui)
      |SELECT qq.n_qualified, qq.id_sum, t.n_users_total
      |FROM (SELECT COUNT(*) AS n_qualified,
      |        CAST(SUM(user_id) AS BIGINT) AS id_sum FROM q) qq
      |CROSS JOIN tot t""".stripMargin

  /** q153: time-to-conversion percentiles — exact p50/p90/p99 of the
    * view→purchase lag (7-day lookback, q146's window machinery). The
    * scale move: percentiles of an INTEGER measure come from a cumulative
    * sum over its value HISTOGRAM (≤ 604 800 distinct second values by
    * construction), not from a global sort of the conversion stream —
    * the single-partition window runs on the bounded histogram, the
    * corpus only feeds one groupBy. Integer cumulative-count thresholds
    * (`cum·100 ≥ q·n`), no interpolation convention to disagree on. */
  def q153ConversionLag(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val us = unix_micros(col("ts"))
    val week = 7L * 86400L * 1000000L
    val lags = Tables.events(spark, dir)
      .withColumn("last_view_us",
        max(when(col("event_type") === "view", us)).over(w))
      .filter(col("event_type") === "purchase" &&
        col("last_view_us").isNotNull && us - col("last_view_us") <= week)
      .select(floor((us - col("last_view_us")) / 1000000L).as("lag_s"))
    val hist = lags.groupBy(col("lag_s")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("lag_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    h.agg(max(col("n")).as("n_conversions"),
      min(when(col("cum") * 100 >= col("n") * 50, col("lag_s"))).as("p50_s"),
      min(when(col("cum") * 100 >= col("n") * 90, col("lag_s"))).as("p90_s"),
      min(when(col("cum") * 100 >= col("n") * 99, col("lag_s"))).as("p99_s"),
      max(col("lag_s")).as("max_s"))
  }

  val q153ConversionLagSql: String =
    """WITH lagd AS (
      |  SELECT event_type, epoch_us(ts) AS us,
      |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_us
      |  FROM events),
      |lags AS (
      |  SELECT CAST(floor((us - last_view_us) / 1000000) AS BIGINT) AS lag_s
      |  FROM lagd
      |  WHERE event_type = 'purchase' AND last_view_us IS NOT NULL
      |    AND us - last_view_us <= 604800000000),
      |hist AS (SELECT lag_s, COUNT(*) AS cnt FROM lags GROUP BY 1),
      |h AS (
      |  SELECT lag_s, cnt,
      |    SUM(cnt) OVER (ORDER BY lag_s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cnt) OVER () AS n
      |  FROM hist)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_conversions,
      |  MIN(CASE WHEN cum * 100 >= n * 50 THEN lag_s END) AS p50_s,
      |  MIN(CASE WHEN cum * 100 >= n * 90 THEN lag_s END) AS p90_s,
      |  MIN(CASE WHEN cum * 100 >= n * 99 THEN lag_s END) AS p99_s,
      |  MAX(lag_s) AS max_s
      |FROM h""".stripMargin

  /** q151: top event paths — the product-analytics "path analysis" view:
    * every 3 consecutive events of a user form a path (two lead()
    * columns over the q15/q135 user ordering — order-2 sequence info the
    * q135 Markov matrix cannot see), counted globally, top-10 by count.
    * The global rank runs on the path-cardinality table (≤ |types|³
    * rows), never the corpus; WindowGroupLimit caps the sort. */
  def q151EventPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val paths = Tables.events(spark, dir)
      .withColumn("t2", lead(col("event_type"), 1).over(wSeq))
      .withColumn("t3", lead(col("event_type"), 2).over(wSeq))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
    val wTop = Window.orderBy(col("n").desc, col("path"))
    paths.withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("rank"), col("path"), col("n"))
  }

  val q151EventPathsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS t1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS t2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS t3
      |  FROM events),
      |paths AS (
      |  SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
      |  FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1)
      |SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank,
      |  path, n
      |FROM paths
      |QUALIFY rank <= 10""".stripMargin

  /** q146: last-touch purchase attribution — each purchase credits the
    * user's most recent preceding click or view within a 7-day lookback
    * (tie → click), the standard marketing-attribution primitive. The
    * whole computation is ONE window pass over the (user_id, ts)
    * ordering: `max(CASE WHEN type = c THEN µs END)` over ROWS …
    * 1 PRECEDING gives the latest prior touch per channel without any
    * self-join (max ignores nulls — no IGNORE NULLS portability hazard),
    * and the report aggregate is channel-sized. Scale: the window reuses
    * the q15/q135 user partitioning; nothing corpus-sized is joined. */
  def q146Attribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val us = unix_micros(col("ts"))
    val week = 7L * 86400L * 1000000L
    val touched = Tables.events(spark, dir)
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", us)).over(w))
      .withColumn("last_view_us",
        max(when(col("event_type") === "view", us)).over(w))
      .filter(col("event_type") === "purchase")
    val clickOk = col("last_click_us").isNotNull &&
      us - col("last_click_us") <= week
    val viewOk = col("last_view_us").isNotNull &&
      us - col("last_view_us") <= week
    touched
      .withColumn("channel",
        when(clickOk && (!viewOk || col("last_click_us") >= col("last_view_us")),
          lit("click"))
          .when(viewOk, lit("view"))
          .otherwise(lit("none")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("total_value"))
  }

  val q146AttributionSql: String =
    """WITH touched AS (
      |  SELECT event_type, value, epoch_us(ts) AS us,
      |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us,
      |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_us
      |  FROM events),
      |flagged AS (
      |  SELECT value,
      |    CASE
      |      WHEN last_click_us IS NOT NULL AND us - last_click_us <= 604800000000
      |        AND (last_view_us IS NULL OR us - last_view_us > 604800000000
      |             OR last_click_us >= last_view_us) THEN 'click'
      |      WHEN last_view_us IS NOT NULL AND us - last_view_us <= 604800000000
      |        THEN 'view'
      |      ELSE 'none' END AS channel
      |  FROM touched WHERE event_type = 'purchase')
      |SELECT channel, COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM flagged GROUP BY channel""".stripMargin

  /** q170: bounded-round k-core of the item co-occurrence graph
    * ([[graft.ops.Triangles.kCorePeel]]) — the cheap degree-based core
    * filter run BEFORE triangle/truss work at scale: a node outside the
    * k-core cannot be in the (k−2)-truss, and each peel round is one
    * degree aggregate plus two semi-joins (no triangle enumeration).
    * Same graph as q143/q149 (per-user top-20 items, co-occurrence ≥ 2),
    * k = 3, 3 rounds. Returns the surviving items with their final-round
    * core degree. */
  def q170Kcore(spark: SparkSession, dir: String): DataFrame = {
    val (_, inter) = cappedItemPairs(spark, dir)
    val edges = inter.filter(col("inter") >= 2)
      .select(col("item_a").as("u"), col("item_b").as("v"))
    graft.ops.Triangles.kCorePeel(edges, k = 3L, rounds = 3)
      .select(col("node").as("item"), col("deg"))
  }

  val q170KcoreSql: String = {
    def round(i: Int, prev: String): String =
      s"""d$i AS (
        |  SELECT node, COUNT(*) AS deg FROM (
        |    SELECT u AS node FROM $prev UNION ALL SELECT v FROM $prev)
        |  GROUP BY 1 HAVING COUNT(*) >= 3),
        |e$i AS (
        |  SELECT e.u, e.v FROM $prev e
        |  JOIN d$i a ON a.node = e.u JOIN d$i b ON b.node = e.v)""".stripMargin
    s"""WITH $cappedPairCtes,
      |e0 AS (SELECT item_a AS u, item_b AS v FROM inter WHERE inter >= 2),
      |${round(1, "e0")},
      |${round(2, "e1")},
      |${round(3, "e2")}
      |SELECT node AS item, CAST(deg AS BIGINT) AS deg FROM d3""".stripMargin
  }

  /** q175: inter-arrival burstiness per event type — the Goh–Barabási
    * coefficient B = (σ − μ)/(σ + μ) over inter-arrival gaps: −1 for a
    * metronome, 0 for a Poisson stream, → 1 for heavy-tailed bursts; the
    * traffic-shape signal a capacity planner reads next to raw rates.
    * Gaps are exact integer microseconds; Σgap fits a long but
    * Σgap² needs 128 bits, so both engines accumulate exact wide integers
    * (DECIMAL(38,0) here, HUGEINT in the oracle) and only then derive
    * (σ, μ, B) through the IDENTICAL double expression tree, fp6-rounded.
    *
    * Scale shape: the gap moments come from the SHARDED decomposition
    * ([[graft.ops.ShardedOrder.shardedGapStats]]) — time-range buckets
    * within each type carry the within-bucket lag gaps at types × cores
    * parallelism; the one boundary gap per bucket (min_us − previous
    * bucket's max_us, tie-break-free because ranges are value-disjoint)
    * merges at the grid level — replacing the per-type total sort that
    * pinned this gate to ~10 tasks (SCALING_r12 note B, 8.4× at 10×
    * data). The unchanged plain-lag oracle certifies the identity. */
  def q175Burstiness(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    val agg = graft.ops.ShardedOrder
      .shardedGapStats(e, Seq("event_type"), "us", "event_id")
    val mean = col("s").cast("double") / col("n_gaps")
    val sd = sqrt(col("ss").cast("double") / col("n_gaps") - mean * mean)
    agg.select(col("event_type"), col("n_gaps"), col("s").as("sum_gap_us"),
      round(lit(1e6) * (sd - mean) / (sd + mean)).cast("long").as("burst_fp6"))
  }

  val q175BurstinessSql: String =
    """WITH o AS (
      |  SELECT event_type, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY event_type
      |      ORDER BY ts, event_id) AS prev
      |  FROM events),
      |g AS (SELECT event_type, us - prev AS gap FROM o WHERE prev IS NOT NULL),
      |a AS (
      |  SELECT event_type, COUNT(*) AS n_gaps,
      |    CAST(SUM(gap) AS BIGINT) AS s,
      |    SUM(CAST(gap AS HUGEINT) * gap) AS ss
      |  FROM g GROUP BY 1)
      |SELECT event_type, n_gaps, s AS sum_gap_us,
      |  CAST(round(1e6 *
      |    (sqrt(CAST(ss AS DOUBLE) / n_gaps
      |          - (CAST(s AS DOUBLE) / n_gaps) * (CAST(s AS DOUBLE) / n_gaps))
      |     - CAST(s AS DOUBLE) / n_gaps)
      |    / (sqrt(CAST(ss AS DOUBLE) / n_gaps
      |          - (CAST(s AS DOUBLE) / n_gaps) * (CAST(s AS DOUBLE) / n_gaps))
      |     + CAST(s AS DOUBLE) / n_gaps)) AS BIGINT) AS burst_fp6
      |FROM a""".stripMargin

  /** q181: behavioral-entropy cohort histogram — per-user Shannon entropy
    * (nats) of the event-type distribution, bucketed at 0.01 nat: the
    * "bots do one thing, humans do five" segmentation signal, and the
    * single-pass profile an abuse team reads before picking thresholds.
    * Entropy terms −p·ln(p) are fp9-rounded per (user, type) BEFORE the
    * integer sum (the q97 PSI discipline), so the per-user total is
    * reduction-order-free; p is an exact count ratio, so both engines
    * feed `ln` the identical double. Two aggregates over the same
    * user-keyed partitioning; the histogram is bucket-sized. */
  def q181EntropyCohorts(spark: SparkSession, dir: String): DataFrame = {
    val perUt = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val p = col("c").cast("double") / sum(col("c")).over(wU)
    val perUser = perUt
      .withColumn("term_fp9", round(-p * log(p) * lit(1e9)).cast("long"))
      .groupBy(col("user_id"))
      .agg(sum(col("term_fp9")).as("h_fp9"))
    perUser
      .select((col("h_fp9") / 10000000L).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_users"))
  }

  val q181EntropyCohortsSql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |terms AS (
      |  SELECT user_id,
      |    CAST(round(-(CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY user_id))
      |      * ln(CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY user_id))
      |      * 1e9) AS BIGINT) AS term_fp9
      |  FROM c),
      |h AS (SELECT user_id, SUM(term_fp9) AS h_fp9 FROM terms GROUP BY 1)
      |SELECT CAST(h_fp9 // 10000000 AS BIGINT) AS bucket,
      |  COUNT(*) AS n_users
      |FROM h GROUP BY 1""".stripMargin

  /** q210: recommender backtest — hit-rate@k and MRR for the q132
    * item-item collaborative filter under a TEMPORAL split (train on
    * days < 21, predict each user's FIRST post-split item): the
    * leakage-free eval a recsys team runs before shipping a
    * neighborhood model. Candidates are the train-neighbors of the
    * user's train items, scored by summed neighbor Jaccard (fp6
    * integers — order-free), items already in the user's history
    * excluded, missing targets scoring reciprocal rank 0.
    *
    * Determinism: the whole pipeline is integer arithmetic over exact
    * counts with explicit tie-breaks at both rank sites; per-user
    * reciprocal ranks are fp6 integers summed before one final mean.
    * Scale shape: q132's cap bounds pair volume; candidate scoring is
    * (user,item)⋈(item,neighbor≤5) — fan-out ≤ 5 per history row —
    * and every rank window partitions BY USER. */
  def q210RecMrr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    // the split anchor is ONE scalar — fetched driver-side (a 1-row
    // min aggregate, bounded by contract) and embedded as a literal.
    // The former 1-row crossJoin(broadcast) anchor forced a corpus-wide
    // row-serialized localCheckpoint to stop its BNLJ from replaying
    // into all 8 consumers; as a literal, `ev` is a pure projection and
    // can persist COLUMNAR (consumers read pruned cached batches instead
    // of full serialized rows — the checkpoint write was ~60% of the
    // gate at sf1)
    // r17 (advice): min over an empty table is NULL — the former
    // .getDate(0) NPE'd where the old crossJoin anchor degraded
    // gracefully. An empty corpus returns the empty frame (the SQL's
    // aggregate-over-empty row is all-NULL/0 and never compared —
    // the driver gates on rows > 0).
    val d0row = e.agg(min(to_date(col("ts")))).head()
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_test_users",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("hits_at1",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("hits_at5",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("hits_at10",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("mrr_fp6",
        org.apache.spark.sql.types.LongType)))
    if (d0row.isNullAt(0))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val d0 = d0row.getDate(0)
    val ev = e.select(col("user_id"), col("event_id"), col("ts"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        datediff(to_date(col("ts")), lit(d0)).cast("long").as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val train = ev.filter(col("d") < 21)
    val ti = train.select(col("user_id"), col("item")).distinct()
      .localCheckpoint() // history: feeds scoring, exclusion, and the test gate
    val target = ev.filter(col("d") >= 21)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("item").as("target"))
    val ui = train.groupBy(col("user_id"), col("item")).agg(count(lit(1)).as("cnt"))
    val capped = ui.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("cnt").desc, col("item"))))
      .filter(col("rn") <= 20).select(col("user_id"), col("item"))
      // small (users x 20); the pair self-join and sizes both read it, and
      // the sym UNION below would otherwise double the whole upstream
      .localCheckpoint()
    val inter = capped.select(col("user_id"), col("item").as("item_a"))
      .join(capped.select(col("user_id"), col("item").as("item_b")), Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("inter"))
    val sizes = capped.groupBy(col("item")).agg(count(lit(1)).as("n_u"))
    val scored = inter
      .join(broadcast(sizes.select(col("item").as("item_a"), col("n_u").as("n_a"))),
        Seq("item_a"))
      .join(broadcast(sizes.select(col("item").as("item_b"), col("n_u").as("n_b"))),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_n"))
    val sym = scored.select(col("item_a").as("item"), col("item_b").as("neighbor"),
        col("inter"), col("union_n"))
      .unionAll(scored.select(col("item_b").as("item"), col("item_a").as("neighbor"),
        col("inter"), col("union_n")))
      .withColumn("jacc_fp6",
        round(col("inter").cast("double") * lit(1e6) / col("union_n")).cast("long"))
    val nbr = sym.withColumn("rnk", row_number().over(
        Window.partitionBy(col("item")).orderBy(col("jacc_fp6").desc, col("neighbor"))))
      .filter(col("rnk") <= 5).select(col("item"), col("neighbor"), col("jacc_fp6"))
    // nbr has exactly ONE consumer (the cs join) — no barrier: a
    // checkpoint here would serialize items x 5 rows only to re-read
    // them in the same final job
    val cs = ti.join(nbr, Seq("item"))
      .groupBy(col("user_id"), col("neighbor")).agg(sum(col("jacc_fp6")).as("score"))
      .join(ti.select(col("user_id"), col("item").as("neighbor")),
        Seq("user_id", "neighbor"), "left_anti")
    val rk = cs.withColumn("rnk", row_number().over(
      Window.partitionBy(col("user_id")).orderBy(col("score").desc, col("neighbor")))
      .cast("long"))
    val ej = target
      .join(ti.select(col("user_id")).distinct(), Seq("user_id"), "left_semi")
      .join(rk.select(col("user_id"), col("neighbor").as("target"), col("rnk")),
        Seq("user_id", "target"), "left")
    ej.agg(count(lit(1)).as("n_test_users"),
        sum(when(col("rnk") === 1, lit(1L)).otherwise(lit(0L))).as("hits_at1"),
        sum(when(col("rnk") <= 5, lit(1L)).otherwise(lit(0L))).as("hits_at5"),
        sum(when(col("rnk") <= 10, lit(1L)).otherwise(lit(0L))).as("hits_at10"),
        sum(coalesce(round(lit(1e6) / col("rnk")).cast("long"), lit(0L)))
          .as("sum_rr"))
      .select(col("n_test_users"), col("hits_at1"), col("hits_at5"),
        col("hits_at10"),
        round(col("sum_rr").cast("double") / col("n_test_users")).cast("long")
          .as("mrr_fp6"))
  }

  val q210RecMrrSql: String =
    """WITH d0 AS (SELECT MIN(ts::DATE) AS d0 FROM events),
      |ev AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
      |    date_diff('day', d0.d0, ts::DATE) AS d
      |  FROM events, d0),
      |train AS (SELECT * FROM ev WHERE d < 21),
      |ti AS (SELECT DISTINCT user_id, item FROM train),
      |target AS (
      |  SELECT user_id, item AS target FROM (
      |    SELECT user_id, item, row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS rn
      |    FROM ev WHERE d >= 21) WHERE rn = 1),
      |ui AS (SELECT user_id, item, COUNT(*) AS cnt FROM train GROUP BY 1, 2),
      |capped AS (
      |  SELECT user_id, item FROM ui
      |  QUALIFY row_number() OVER (PARTITION BY user_id
      |    ORDER BY cnt DESC, item) <= 20),
      |inter AS (
      |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS inter
      |  FROM capped a JOIN capped b ON a.user_id = b.user_id
      |  WHERE a.item < b.item GROUP BY 1, 2),
      |sizes AS (SELECT item, COUNT(*) AS n_u FROM capped GROUP BY 1),
      |scored AS (
      |  SELECT i.item_a, i.item_b, i.inter,
      |    sa.n_u + sb.n_u - i.inter AS union_n
      |  FROM inter i
      |  JOIN sizes sa ON sa.item = i.item_a
      |  JOIN sizes sb ON sb.item = i.item_b),
      |sym AS (
      |  SELECT item_a AS item, item_b AS neighbor, inter, union_n FROM scored
      |  UNION ALL
      |  SELECT item_b, item_a, inter, union_n FROM scored),
      |nbr AS (
      |  SELECT item, neighbor,
      |    CAST(round(CAST(inter AS DOUBLE) * 1e6 / union_n) AS BIGINT)
      |      AS jacc_fp6
      |  FROM sym
      |  QUALIFY row_number() OVER (PARTITION BY item
      |    ORDER BY CAST(round(CAST(inter AS DOUBLE) * 1e6 / union_n) AS BIGINT)
      |      DESC, neighbor) <= 5),
      |cs AS (
      |  SELECT t.user_id, n.neighbor, CAST(SUM(n.jacc_fp6) AS BIGINT) AS score
      |  FROM ti t JOIN nbr n ON n.item = t.item
      |  GROUP BY 1, 2),
      |cs2 AS (
      |  SELECT c.* FROM cs c
      |  ANTI JOIN ti t ON t.user_id = c.user_id AND t.item = c.neighbor),
      |rk AS (
      |  SELECT user_id, neighbor,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY score DESC, neighbor) AS rnk
      |  FROM cs2),
      |ej AS (
      |  SELECT tg.user_id, r.rnk
      |  FROM target tg
      |  SEMI JOIN ti h ON h.user_id = tg.user_id
      |  LEFT JOIN rk r ON r.user_id = tg.user_id AND r.neighbor = tg.target)
      |SELECT COUNT(*) AS n_test_users,
      |  CAST(SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at1,
      |  CAST(SUM(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at5,
      |  CAST(SUM(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at10,
      |  CAST(round(CAST(SUM(COALESCE(CAST(round(1e6 / rnk) AS BIGINT), 0))
      |    AS DOUBLE) / COUNT(*)) AS BIGINT) AS mrr_fp6
      |FROM ej""".stripMargin

  /** q217: Kaplan–Meier survival of SESSION duration (Kaplan & Meier
    * 1958) — the product-limit estimator over minutes-from-first-to-
    * last event of each 30-minute-gap session (q15's sessionization
    * rule), with RIGHT CENSORING for sessions still open at the corpus
    * edge (last event within one gap of the global max ts — their true
    * duration is only known to exceed what we saw, and counting them
    * as ended is the classic duration-curve bias a raw histogram
    * bakes in). One row per observed duration minute: at-risk count,
    * deaths (sessions that ended), censored, and the KM survival
    * probability — the engagement half-life curve.
    *
    * Determinism: durations are integer minutes from µs floor division;
    * the risk table is exact integers; each factor `ln(1 − d/n)` is one
    * IEEE expression written identically in the oracle, quantized to
    * fp9 integers (the q97/q181 ln discipline), prefix-summed EXACTLY,
    * and exponentiated once at the end — so the running product is
    * order-free and hash-comparable. A minute where everyone at risk
    * dies (d = n, always the last row) sets a −1e15 fp9 sentinel: exp
    * underflows to exactly 0.0 in both engines, the correct S = 0 tail.
    *
    * Boundary convention: sessionization is the lag/gap-sum form (a gap
    * of EXACTLY 30:00.000000 stays in the SAME session — `gap >
    * 1800000000` µs starts a new one), written identically in both
    * engines. `session_window` would close at exactly the gap
    * (half-open [last, last+30min)), a divergence only an exact-gap
    * input exposes — pinned by the exact-gap case in StatGatesSpec.
    * Tie order within equal timestamps cannot change the result: gaps
    * are diffs of the SORTED µs sequence, so the gap multiset — and
    * with it session membership and min/max — is tie-permutation
    * invariant (same argument as the oracle's untied ORDER BY ts).
    *
    * Scale shape: sessionization shuffles once on user_id (high
    * cardinality — parallelism scales with users, not the q174 problem
    * shape); sessions fold to a ≤ minutes-observed grid; every window
    * runs on the grid, barriered once (localCheckpoint) because the
    * total and the prefix both read it. The censoring cutoff is a
    * 1-row max aggregate, broadcast. */
  def q217KaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val mx = e.agg(max(unix_micros(col("ts"))).as("max_us"))
    val durUs = col("last_us") - col("first_us")
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val sessions = e
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(wOrd))
      .withColumn("sid",
        sum(when(col("gap").isNull || col("gap") > 1800000000L, 1L)
          .otherwise(0L)).over(wOrd))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
      .crossJoin(broadcast(mx))
      .select(
        ((durUs - pmod(durUs, lit(60000000L))) / 60000000L).cast("long")
          .as("dur_min"),
        (col("last_us") >= col("max_us") - lit(1800000000L)).as("cens"))
    val grid = sessions.groupBy(col("dur_min"))
      .agg(sum(when(col("cens"), 0L).otherwise(1L)).as("n_death"),
        sum(when(col("cens"), 1L).otherwise(0L)).as("n_censor"))
      .localCheckpoint()
    val tot = grid.agg(sum(col("n_death") + col("n_censor")).as("n_total"))
    val wPrev = Window.orderBy(col("dur_min"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("dur_min"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n_total") -
        coalesce(sum(col("n_death") + col("n_censor")).over(wPrev), lit(0L)))
      .withColumn("term_fp9",
        when(col("n_death") < col("n_risk"),
          round(lit(1e9) * log(lit(1.0) -
            col("n_death").cast("double") / col("n_risk"))).cast("long"))
        .otherwise(lit(-1000000000000000L)))
      .withColumn("s", sum(col("term_fp9")).over(wCum))
      .select(col("dur_min"), col("n_risk"), col("n_death"),
        col("n_censor"),
        round(lit(1e6) * exp(col("s").cast("double") / lit(1e9)))
          .cast("long").as("surv_fp6"))
  }

  val q217KaplanMeierSql: String =
    """WITH mx AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events),
      |marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |numbered AS (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM marked),
      |lives AS (
      |  SELECT
      |    (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 60000000 AS dur_min,
      |    (MAX(epoch_us(ts)) >= (SELECT max_us FROM mx) - 1800000000)
      |      AS cens
      |  FROM numbered GROUP BY user_id, sess),
      |grid AS (
      |  SELECT dur_min,
      |    CAST(SUM(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT) AS n_death,
      |    CAST(SUM(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS n_censor
      |  FROM lives GROUP BY 1),
      |r AS (
      |  SELECT dur_min, n_death, n_censor,
      |    CAST((SELECT SUM(n_death + n_censor) FROM grid)
      |      - COALESCE(SUM(n_death + n_censor) OVER
      |          (ORDER BY dur_min
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n_risk
      |  FROM grid),
      |t AS (
      |  SELECT dur_min, n_risk, n_death, n_censor,
      |    CASE WHEN n_death < n_risk THEN
      |      CAST(round(1e9 * ln(1.0 - CAST(n_death AS DOUBLE) / n_risk))
      |        AS BIGINT)
      |    ELSE -1000000000000000 END AS term_fp9
      |  FROM r)
      |SELECT dur_min, n_risk, n_death, n_censor,
      |  CAST(round(1e6 * exp(CAST(SUM(term_fp9) OVER
      |      (ORDER BY dur_min
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS DOUBLE) / 1e9)) AS BIGINT) AS surv_fp6
      |FROM t""".stripMargin

  /** q235: weekly cohort retention matrix — users grouped by the week of
    * their first event; cell (c, k) = fraction of cohort c active in week
    * k ≥ c. THE product-analytics table (every growth dashboard's
    * triangle); also the curve that decides how much history a training
    * snapshot must keep. Two aggregates: per-user first week, then
    * distinct (user, week) activity joined back to the cohort — both
    * partition on user_id; the output is a weeks² triangle.
    */
  def q235Retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val minDay = e.agg(min(to_date(col("ts"))).as("d0"))
    val uw = e.crossJoin(broadcast(minDay))
      .select(col("user_id"),
        (datediff(to_date(col("ts")), col("d0")) / 7)
          .cast("long").as("wk"))
    val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("c"))
    val sizes = cohort.groupBy(col("c")).agg(count(lit(1)).as("n_cohort"))
    val active = uw.distinct()
      .join(cohort, Seq("user_id"))
      .groupBy(col("c"), col("wk")).agg(count(lit(1)).as("n_active"))
    active.join(broadcast(sizes), Seq("c"))
      .select(col("c").as("cohort_week"), col("wk").as("week"),
        col("n_active"), col("n_cohort"),
        round(lit(1e6) * col("n_active").cast("double") /
          col("n_cohort").cast("double")).cast("long").as("rate_fp6"))
  }

  val q235RetentionSql: String =
    """WITH d0 AS (SELECT MIN(ts::DATE) AS d0 FROM events),
      |uw AS (
      |  SELECT user_id,
      |    CAST(date_diff('day', d0.d0, ts::DATE) // 7 AS BIGINT) AS wk
      |  FROM events, d0),
      |c AS (SELECT user_id, MIN(wk) AS c FROM uw GROUP BY 1),
      |s AS (SELECT c, COUNT(*) AS n_cohort FROM c GROUP BY 1),
      |a AS (
      |  SELECT c.c, u.wk, COUNT(*) AS n_active
      |  FROM (SELECT DISTINCT user_id, wk FROM uw) u
      |  JOIN c ON u.user_id = c.user_id
      |  GROUP BY 1, 2)
      |SELECT a.c AS cohort_week, a.wk AS week, a.n_active, s.n_cohort,
      |  CAST(round(1e6 * CAST(a.n_active AS DOUBLE)
      |    / CAST(s.n_cohort AS DOUBLE)) AS BIGINT) AS rate_fp6
      |FROM a JOIN s ON a.c = s.c""".stripMargin

  /** q239: strictly-ordered session conversion funnel over q15's 30-min
    * sessions: within each session, stage 1 = a view, stage 2 = a click
    * STRICTLY AFTER that view, stage 3 = a purchase strictly after that
    * click (min-timestamp chaining, so "clicked before viewing" never
    * counts — the constraint flat event counts can't express). Reports
    * per-stage session counts and conversion rates.
    *
    * Scale: the session id is the q15 gap-sum window (user-partitioned —
    * parallelism scales with users); the three stage aggregates and the
    * two chaining joins all partition on (user, session). Timestamps
    * compare in microseconds on both engines (the q31 truncation rule).
    */
  def q239SessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("ts"), col("event_id"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .withColumn("sid",
        sum(when(col("gap").isNull || col("gap") > 1800000000L, 1L)
          .otherwise(0L)).over(w))
      .select(col("user_id"), col("sid"), col("event_type"), col("us"))
      .localCheckpoint() // session-tagged events feed all three stages
    val t1 = sess.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("sid")).agg(min(col("us")).as("t1"))
    val t2 = sess.filter(col("event_type") === "click")
      .join(t1, Seq("user_id", "sid"))
      .filter(col("us") > col("t1"))
      .groupBy(col("user_id"), col("sid")).agg(min(col("us")).as("t2"))
    val t3 = sess.filter(col("event_type") === "purchase")
      .join(t2, Seq("user_id", "sid"))
      .filter(col("us") > col("t2"))
      .groupBy(col("user_id"), col("sid")).agg(min(col("us")).as("t3"))
    sess.select(col("user_id"), col("sid")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
      .crossJoin(t1.agg(count(lit(1)).as("n_view")))
      .crossJoin(t2.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(t3.agg(count(lit(1)).as("n_view_click_buy")))
      .select(col("n_sessions"), col("n_view"), col("n_view_click"),
        col("n_view_click_buy"),
        round(lit(1e6) * col("n_view").cast("double") /
          col("n_sessions").cast("double")).cast("long").as("r1_fp6"),
        round(lit(1e6) * col("n_view_click").cast("double") /
          col("n_view").cast("double")).cast("long").as("r12_fp6"),
        round(lit(1e6) * col("n_view_click_buy").cast("double") /
          col("n_view_click").cast("double")).cast("long").as("r23_fp6"))
  }

  val q239SessionFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(date_trunc('microseconds', ts)) AS us
      |  FROM events),
      |g AS (
      |  SELECT *, us - lag(us, 1) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id) AS gap
      |  FROM e),
      |s AS (
      |  SELECT user_id, event_type, us,
      |    SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id) AS sid
      |  FROM g),
      |t1 AS (
      |  SELECT user_id, sid, MIN(us) AS t1 FROM s
      |  WHERE event_type = 'view' GROUP BY 1, 2),
      |t2 AS (
      |  SELECT s.user_id, s.sid, MIN(s.us) AS t2
      |  FROM s JOIN t1 ON s.user_id = t1.user_id AND s.sid = t1.sid
      |  WHERE s.event_type = 'click' AND s.us > t1.t1 GROUP BY 1, 2),
      |t3 AS (
      |  SELECT s.user_id, s.sid, MIN(s.us) AS t3
      |  FROM s JOIN t2 ON s.user_id = t2.user_id AND s.sid = t2.sid
      |  WHERE s.event_type = 'purchase' AND s.us > t2.t2 GROUP BY 1, 2),
      |c AS (
      |  SELECT
      |    (SELECT COUNT(*) FROM (SELECT DISTINCT user_id, sid FROM s))
      |      AS n_sessions,
      |    (SELECT COUNT(*) FROM t1) AS n_view,
      |    (SELECT COUNT(*) FROM t2) AS n_view_click,
      |    (SELECT COUNT(*) FROM t3) AS n_view_click_buy)
      |SELECT n_sessions, n_view, n_view_click, n_view_click_buy,
      |  CAST(round(1e6 * CAST(n_view AS DOUBLE)
      |    / CAST(n_sessions AS DOUBLE)) AS BIGINT) AS r1_fp6,
      |  CAST(round(1e6 * CAST(n_view_click AS DOUBLE)
      |    / CAST(n_view AS DOUBLE)) AS BIGINT) AS r12_fp6,
      |  CAST(round(1e6 * CAST(n_view_click_buy AS DOUBLE)
      |    / CAST(n_view_click AS DOUBLE)) AS BIGINT) AS r23_fp6
      |FROM c""".stripMargin

  /** q236: entropy rate of the per-user event-type Markov chain —
    * H₁ = H(Xₜ₊₁ | Xₜ) from first-order transition counts vs the
    * zeroth-order H₀ = H(X); the gap (and ratio) measures how much
    * sequential structure event streams carry — the signal that decides
    * whether session context is worth modeling. Transitions come from a
    * per-user lag window (partitioned by user_id — parallelism scales
    * with users); both entropies fold the types×types grid with
    * fp9-rounded ln terms (exact integer sums, order-free).
    */
  def q236MarkovEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("b"))
      .withColumn("a", lag(col("b"), 1).over(w))
      .filter(col("a").isNotNull)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // types² grid; feeds both entropy branches
    val tot = trans.agg(sum(col("c")).as("n"))
    // H1 = Σ_a (n_a/N) Σ_b −p(b|a)·ln p(b|a): per-cell term fp9-rounded
    val rowTot = trans.groupBy(col("a")).agg(sum(col("c")).as("n_a"))
    val pba = col("c").cast("double") / col("n_a").cast("double")
    val h1 = trans.join(broadcast(rowTot), Seq("a"))
      .select(col("a"), col("n_a"),
        round(-pba * log(pba) * lit(1e9)).cast("long").as("t9"))
      .groupBy(col("a")).agg(max(col("n_a")).as("n_a"),
        sum(col("t9")).as("h_a9"))
      .crossJoin(broadcast(tot))
      .select(round(col("n_a").cast("double") / col("n").cast("double") *
        col("h_a9").cast("double")).cast("long").as("w9"))
      .agg(sum(col("w9")).as("h1_9"))
    val colTot = trans.groupBy(col("b")).agg(sum(col("c")).as("n_b"))
    val pb = col("n_b").cast("double") / col("n").cast("double")
    val h0 = colTot.crossJoin(broadcast(tot))
      .select(round(-pb * log(pb) * lit(1e9)).cast("long").as("t9"))
      .agg(sum(col("t9")).as("h0_9"))
    h1.crossJoin(h0).crossJoin(tot)
      .select(col("n").as("n_transitions"),
        col("h0_9").as("h0_fp9"), col("h1_9").as("h1_fp9"),
        round(lit(1e6) * col("h1_9").cast("double") /
          col("h0_9").cast("double")).cast("long").as("ratio_fp6"))
  }

  val q236MarkovEntropySql: String =
    """WITH seq AS (
      |  SELECT lag(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS a,
      |    event_type AS b
      |  FROM events),
      |t AS (
      |  SELECT a, b, COUNT(*) AS c FROM seq WHERE a IS NOT NULL
      |  GROUP BY 1, 2),
      |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM t),
      |ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS n_a FROM t GROUP BY 1),
      |h1a AS (
      |  SELECT t.a, MAX(ra.n_a) AS n_a,
      |    CAST(SUM(CAST(round(-(CAST(t.c AS DOUBLE) / CAST(ra.n_a AS DOUBLE))
      |      * ln(CAST(t.c AS DOUBLE) / CAST(ra.n_a AS DOUBLE)) * 1e9)
      |      AS BIGINT)) AS BIGINT) AS h_a9
      |  FROM t JOIN ra ON t.a = ra.a GROUP BY 1),
      |h1 AS (
      |  SELECT CAST(SUM(CAST(round(CAST(n_a AS DOUBLE) / CAST(n.n AS DOUBLE)
      |    * CAST(h_a9 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS h1_9
      |  FROM h1a, n),
      |cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS n_b FROM t GROUP BY 1),
      |h0 AS (
      |  SELECT CAST(SUM(CAST(round(-(CAST(n_b AS DOUBLE) / CAST(n.n AS DOUBLE))
      |    * ln(CAST(n_b AS DOUBLE) / CAST(n.n AS DOUBLE)) * 1e9)
      |    AS BIGINT)) AS BIGINT) AS h0_9
      |  FROM cb, n)
      |SELECT n.n AS n_transitions, h0.h0_9 AS h0_fp9, h1.h1_9 AS h1_fp9,
      |  CAST(round(1e6 * CAST(h1.h1_9 AS DOUBLE) / CAST(h0.h0_9 AS DOUBLE))
      |    AS BIGINT) AS ratio_fp6
      |FROM h1, h0, n""".stripMargin
}
