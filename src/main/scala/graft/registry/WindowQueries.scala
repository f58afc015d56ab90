package graft
package registry

import graft.operators._
import org.apache.spark.sql.functions._
import Fixtures._

/** SURVEY.md §2 D: window, dedup and order. */
private[graft] object WindowQueries extends Family {

  /** q_sessionize's oracle; the stateful-stream sessions
    * q_stateful_sessions equal the batch ones, so share it. */
  private[registry] def sessionizeOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |f AS (SELECT user_id, us,
      |CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |  OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
      |  THEN 1 ELSE 0 END AS flag FROM e),
      |s AS (SELECT user_id,
      |SUM(flag) OVER (PARTITION BY user_id ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |FROM f)
      |SELECT user_id, CAST(MAX(sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM s GROUP BY user_id""".stripMargin

  def queries: Seq[Query] = Seq(
    // ANALYZE-style column statistics: three columns profiled in
    // ONE table pass (structs inside one aggregation, exploded to
    // rows) — counts, exact NDV, min/max, quartiles
    Query("q_analyze_stats", (s, d) =>
      Aggregations.columnStats(T(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      // analyze: one SELECT per column, same aggregate definitions
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS column, COUNT(*) AS n_rows,
             |CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
             |CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v,
             |quantile_cont($c, 0.25) AS p25, quantile_cont($c, 0.5) AS p50,
             |quantile_cont($c, 0.75) AS p75 FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount")
          .map(one).mkString("\nUNION ALL\n")
      }),
    // ROLLUP with grouping flags: subtotal rows per returnflag and
    // the grand total in one pass (Spark expands grouping sets
    // before the aggregation — one shuffle for all three levels);
    // sums in the decimal discipline
    Query("q_rollup_aggregate", (s, d) =>
      T(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          Aggregations.decSum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls")),
      // rollup: the same three grouping levels + GROUPING flags +
      // the decimal-sum discipline
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28, 2))) AS DOUBLE) AS sum_qty,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),
    // PIVOT → UNPIVOT roundtrip: wide per-user event-type cents
    // matrix back to long form ≡ the direct grouped aggregation —
    // the roundtrip IS the hash-checked claim; cents stay exact
    // longs so pivot cell order can't move a bit
    Query("q_pivot_roundtrip", (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val piv = T(s, d, "events")
        .select(col("user_id"), col("event_type"), cents.as("cents"))
        .groupBy("user_id").pivot("event_type", types).agg(sum("cents"))
      piv.unpivot(Array(col("user_id")), types.map(col).toArray,
          "event_type", "cents_sum")
        .where(col("cents_sum").isNotNull)
    },
      // pivot roundtrip ≡ the direct grouped aggregation
      Some("""SELECT user_id, event_type,
        |CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_sum
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // ordered funnel: signup → view (after) → purchase (after) —
    // strict min-chain semantics, one row of per-step user counts
    Query("q_funnel", (s, d) =>
      TimeOps.funnel(T(s, d, "events"),
        Seq("signup", "view", "purchase")),
      // funnel: the same min-chain, three CTE levels
      Some("""WITH e AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS us FROM events),
        |t1 AS (SELECT u, MIN(us) AS t1 FROM e WHERE et = 'signup' GROUP BY u),
        |t2 AS (SELECT e.u, MIN(us) AS t2 FROM e JOIN t1 ON e.u = t1.u WHERE et = 'view' AND us > t1 GROUP BY e.u),
        |t3 AS (SELECT e.u, MIN(us) AS t3 FROM e JOIN t2 ON e.u = t2.u WHERE et = 'purchase' AND us > t2 GROUP BY e.u)
        |SELECT (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) FROM e) AS n_users,
        |(SELECT COUNT(*) FROM t1) AS n_step1,
        |(SELECT COUNT(*) FROM t2) AS n_step2,
        |(SELECT COUNT(*) FROM t3) AS n_step3""".stripMargin)),
    // weekly retention triangle: cohort = first active week,
    // exact distinct (user, week) counting
    Query("q_retention_cohorts", (s, d) =>
      TimeOps.retentionCohorts(T(s, d, "events"),
        7L * 86400L * 1000000L),
      // retention: distinct (user, week) -> min-week cohort -> counts
      Some("""WITH ub AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS b FROM events),
        |c AS (SELECT u, MIN(b) AS cohort FROM ub GROUP BY u)
        |SELECT c.cohort, ub.b - c.cohort AS offset, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM ub JOIN c ON ub.u = c.u GROUP BY c.cohort, ub.b - c.cohort""".stripMargin)),
    // interval-overlap self-join: each event opens a 5-minute
    // window; overlapping windows per user pair up via the banded
    // (user, bucket) equi-join — never a per-user theta join
    Query("q_interval_join", (s, d) =>
      RangeJoin.intervalSelfJoin(
        T(s, d, "events").select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) + 300000000L).as("e_us")),
        "user_id", "event_id", "s_us", "e_us",
        bucketMicros = 300000000L),
      // interval join: the direct overlap theta-join — fine in a
      // single-node engine, the banded form's correctness bar
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |epoch_us(ts) + 300000000 AS en FROM events)
        |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |least(a.en, b.en) - greatest(a.s, b.s) AS overlap_us
        |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
        |AND a.s < b.en AND b.s < a.en""".stripMargin)),
    // SCD2 dimension history from the event change log: per-user
    // validity intervals over the (ts, event_id)-pinned change order
    Query("q_scd2_history", (s, d) =>
      TimeOps.scd2History(
        T(s, d, "events").withColumn("cents",
          floor(col("value") * 100 + 0.5).cast("long")),
        "user_id", "ts", "event_id", Seq("event_type", "cents")),
      // scd2: the same lead() over the pinned change order
      Some("""SELECT user_id, event_id, event_type,
        |CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |epoch_us(ts) AS valid_from_us,
        |LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS valid_to_us,
        |LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL AS is_current
        |FROM events""".stripMargin)),
    // half-life freshness score per user: 1-day half-life as of
    // 2024-02-01 (past the fixture's last event) — exact power-of-two
    // weights, per-event long ticks, order-independent long sum
    Query("q_time_decay", (s, d) =>
      TimeOps.halfLifeScore(T(s, d, "events"), "user_id", "ts", "value",
        halfLifeMicros = 86400L * 1000000L,
        asOfUs = 1706745600000000L),
      // half-life decay: integer half-life count clamped to [0,62],
      // weight denominator is an exact BIGINT shift, per-event tick =
      // floor(1e6·value / 2^k) — two IEEE double ops, then long sums
      Some("""WITH e AS (SELECT user_id, value,
        |least(CAST(62 AS BIGINT), greatest(CAST(0 AS BIGINT),
        |  (1706745600000000 - epoch_us(ts)) // 86400000000)) AS k
        |FROM events)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |CAST(SUM(CAST(floor(1000000.0 * value / CAST(CAST(1 AS BIGINT) << CAST(k AS INT) AS DOUBLE)) AS BIGINT)) AS BIGINT) AS decayed_ticks,
        |CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS raw_sum
        |FROM e GROUP BY user_id""".stripMargin)),
    // hourly LOCF gap fill per event type: densified bucket grid +
    // carried-forward cents — the resample/ffill shape; the window
    // runs over the grid, never the event stream
    Query("q_gap_fill", (s, d) => {
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      // exact integer FLOOR division (matches the oracle's `//` for
      // negative pre-epoch timestamps; double-divide truncates)
      val us = unix_micros(col("ts"))
      val hour = call_function("div",
        us - pmod(us, lit(3600000000L)), lit(3600000000L))
      val hc = T(s, d, "events")
        .select(col("event_type"), hour.as("hour"), cents.as("cents"))
        .groupBy("event_type", "hour").agg(sum("cents").as("cents"))
      TimeOps.gapFillLocf(hc, Seq("event_type"), "hour", Seq("cents"))
    },
      // gap fill: grid + left join + IGNORE NULLS carry-forward
      Some("""WITH hc AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, MIN(hour) AS b0, MAX(hour) AS b1 FROM hc GROUP BY 1),
        |g AS (SELECT event_type, unnest(generate_series(b0, b1)) AS hour FROM r),
        |j AS (SELECT g.event_type, g.hour, hc.cents FROM g LEFT JOIN hc ON g.event_type = hc.event_type AND g.hour = hc.hour)
        |SELECT event_type, hour, cents,
        |last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_filled,
        |cents IS NULL AS cents_gap
        |FROM j""".stripMargin)),
    Query("q_dedup_keep_best", (s, d) =>
      WindowOps.keepBestPerKey(
        T(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice"),
        Seq("l_orderkey"),
        Seq(col("l_extendedprice").desc, col("l_linenumber").asc)),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        |FROM lineitem) WHERE rn = 1""".stripMargin)),
    Query("q_window_lag", (s, d) =>
      WindowOps.lagDelta(
        T(s, d, "events").select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us")),
        Seq("user_id"), Seq(col("ts_us"), col("event_id")),
        col("ts_us"), "delta_us"),
      Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta_us
        |FROM events""".stripMargin)),
    Query("q_window_rolling", (s, d) =>
      WindowOps.rollingStats(
        T(s, d, "events").select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value")),
        Seq("user_id"), Seq(col("ts_us"), col("event_id")),
        col("value"), nRows = 5),
      Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE) AS roll_sum,
        |COUNT(value) OVER w AS roll_n,
        |CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE) / COUNT(value) OVER w AS roll_mean
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)),
    Query("q_sessionize", (s, d) =>
      WindowOps.sessionize(T(s, d, "events"), Seq("user_id"),
          unix_micros(col("ts")), 1800L * 1000000L)
        .groupBy("user_id")
        .agg(max(col("session_idx")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events")),
      Some(sessionizeOracle)),
    Query("q_range_join_contacts", tags = Set("structure"), build = (s, d) =>
      RangeJoin.contacts3D(
        T(s, d, "lineitem").select(
          col("l_suppkey"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_quantity").as("x"),
          (col("l_extendedprice") / 100).as("y"),
          (col("l_discount") * 100).as("z")),
        "l_suppkey", "id", "x", "y", "z", 2.0),
      oracle = Some("""WITH pts AS (SELECT l_suppkey, l_orderkey * 10 + l_linenumber AS id,
        |l_quantity AS x, l_extendedprice / 100 AS y, l_discount * 100 AS z
        |FROM lineitem)
        |SELECT a.l_suppkey, a.id AS a_id, b.id AS b_id,
        |(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS dist2
        |FROM pts a JOIN pts b ON a.l_suppkey = b.l_suppkey AND a.id < b.id
        |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) <= 4.0""".stripMargin)),
    Query("q_knn_contacts", tags = Set("structure"), build = (s, d) =>
      RangeJoin.knnContacts(
        T(s, d, "lineitem").select(
          col("l_suppkey"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_quantity").as("x"),
          (col("l_extendedprice") / 100).as("y"),
          (col("l_discount") * 100).as("z")),
        "l_suppkey", "id", "x", "y", "z", eps = 2.0, k = 3),
      oracle = Some("""WITH pts AS (SELECT l_suppkey, l_orderkey * 10 + l_linenumber AS id,
        |l_quantity AS x, l_extendedprice / 100 AS y, l_discount * 100 AS z
        |FROM lineitem),
        |pairs AS (SELECT a.l_suppkey, a.id, b.id AS neighbor_id,
        |(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS dist2
        |FROM pts a JOIN pts b ON a.l_suppkey = b.l_suppkey AND a.id <> b.id
        |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) <= 4.0)
        |SELECT l_suppkey, id, CAST(rank AS INT) AS rank, neighbor_id, dist2 FROM (
        |SELECT *, row_number() OVER (PARTITION BY l_suppkey, id ORDER BY dist2, neighbor_id) AS rank
        |FROM pairs) WHERE rank <= 3""".stripMargin)),
    // hopping windows: width 30 min, slide 15 min — every event in 2
    // windows via the native window() generator, one hash agg
    Query("q_window_sliding", (s, d) =>
      TimeOps.slidingAgg(T(s, d, "events"), "ts", Seq("event_type"),
        "value", 1800L * 1000000L, 900L * 1000000L),
      Some("""WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |k AS (SELECT unnest(generate_series(0, 1)) AS k)
        |SELECT ((us // 900000000) - k.k) * 900000000 AS window_start_us, event_type,
        |COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM e, k GROUP BY 1, 2""".stripMargin)))
}
