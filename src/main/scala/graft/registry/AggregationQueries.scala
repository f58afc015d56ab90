package graft
package registry

import graft.operators._
import graft.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Fixtures._

/** SURVEY.md §2 B: aggregation. */
private[graft] object AggregationQueries extends Family {


  private val q1Filter = "l_shipdate <= timestamp'1998-09-02 00:00:00'"

  /** q_quantiles' oracle; q_quantiles_scale is bit-identical, so shares it. */
  private def quantilesOracle: String =
    """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50,
      |quantile_cont(l_extendedprice, 0.95) AS p95
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q1_pricing_summary", (s, d) =>
      Aggregations.pricingSummary(T(s, d, "lineitem").filter(expr(q1Filter))),
      Some("""SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4))) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |CAST(SUM(CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),
    Query("q_centroid", tags = Set("structure"), build = (s, d) =>
      Aggregations.centroid(T(s, d, "lineitem"), Seq("l_suppkey"),
        Seq("l_quantity", "l_extendedprice")),
      oracle = Some("""SELECT l_suppkey,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_quantity) AS l_quantity_centroid,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_extendedprice) AS l_extendedprice_centroid,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY l_suppkey""".stripMargin)),
    // CUBE: all four grouping sets in one pass — rollup's lattice
    // completion (the (·, linestatus) slice rollup never emits)
    Query("q_cube_aggregate", (s, d) =>
      T(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          Aggregations.decSum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls")),
      // cube: the full grouping-set lattice
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28, 2))) AS DOUBLE) AS sum_qty,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),
    // lang × source independence: ticked chi-square + Cramér's V —
    // the corpus mix-shift detector, all order-independent longs
    Query("q_chi_square", (s, d) =>
      Aggregations.chiSquare(T(s, d, "documents"), "lang", "source"),
      // chi-square: same cell ticks, same integer rollup
      Some("""WITH c AS (SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS o
        |FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ta FROM c GROUP BY a),
        |rb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS tb FROM c GROUP BY b),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |CAST(COUNT(DISTINCT a) AS BIGINT) AS n_a, CAST(COUNT(DISTINCT b) AS BIGINT) AS n_b FROM c),
        |g AS (SELECT ra.a, ra.ta, rb.b, rb.tb, COALESCE(c.o, CAST(0 AS BIGINT)) AS o
        |FROM ra CROSS JOIN rb LEFT JOIN c ON c.a = ra.a AND c.b = rb.b),
        |cells AS (SELECT
        |CAST(floor(1000000.0 * ((CAST(g.o * tot.n - g.ta * g.tb AS DOUBLE) * CAST(g.o * tot.n - g.ta * g.tb AS DOUBLE))
        |/ CAST(tot.n * g.ta * g.tb AS DOUBLE))) AS BIGINT) AS cell_ticks,
        |tot.n AS n, tot.n_a AS n_a, tot.n_b AS n_b
        |FROM g, tot)
        |SELECT n, n_a, n_b, (n_a - 1) * (n_b - 1) AS dof,
        |CAST(SUM(cell_ticks) AS BIGINT) AS chi2_ticks,
        |CASE WHEN least(n_a, n_b) > 1
        |THEN CAST(SUM(cell_ticks) AS BIGINT) // (n * (least(n_a, n_b) - 1))
        |ELSE CAST(0 AS BIGINT) END AS cramers_v2_ppm
        |FROM cells GROUP BY n, n_a, n_b""".stripMargin)),
    // per-group r² between quantity and (whole-unit) price — pure
    // rational, no sqrt; Σy² is the long-overflow bound, so price
    // quantizes to units (the documented caller contract)
    Query("q_corr_r2", (s, d) =>
      TimeOps.groupedR2(T(s, d, "lineitem"), "l_returnflag",
        "l_quantity", "l_extendedprice"),
      // r²: the same long sums and pinned final tree
      Some("""WITH q AS (SELECT l_returnflag,
        |CAST(floor(l_quantity * 1 + 0.5) AS BIGINT) AS x,
        |CAST(floor(l_extendedprice * 1 + 0.5) AS BIGINT) AS y
        |FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |s AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |CAST(SUM(x * y) AS BIGINT) AS sxy,
        |CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
        |FROM q GROUP BY 1)
        |SELECT l_returnflag, n,
        |CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
        |AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <> 0.0
        |THEN ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |/ ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS r2
        |FROM s""".stripMargin)),
    // per-type daily trend: OLS slope from exact long sums, the one
    // division pinned IEEE — is this event type growing?
    Query("q_trend_slope", (s, d) =>
      TimeOps.trendSlope(T(s, d, "events"), "event_type", "ts",
        "value", bucketMicros = 86400L * 1000000L),
      // trend slope: the same long sums + the same pinned final tree
      Some("""WITH daily AS (SELECT event_type,
        |epoch_us(ts) // 86400000000 AS x0,
        |CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |FROM events GROUP BY 1, 2),
        |z AS (SELECT event_type, MIN(x0) AS xmin FROM daily GROUP BY 1),
        |pts AS (SELECT d.event_type, d.x0 - z.xmin AS x, d.y FROM daily d JOIN z ON d.event_type = z.event_type),
        |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx FROM pts GROUP BY 1),
        |d AS (SELECT event_type, n,
        |CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd FROM s)
        |SELECT event_type, n,
        |CASE WHEN nd * sxxd - sxd * sxd <> 0.0
        |THEN (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) END AS slope_cents_per_bucket,
        |CASE WHEN nd * sxxd - sxd * sxd <> 0.0
        |THEN (sxxd * syd - sxd * sxyd) / (nd * sxxd - sxd * sxd) END AS intercept_cents
        |FROM d""".stripMargin)),
    // association rules over per-user event-type baskets: exact
    // support/confidence/lift in long ppm — no IEEE op anywhere
    Query("q_assoc_rules", (s, d) =>
      Corpus.associationRules(T(s, d, "events"),
        "user_id", "event_type"),
      // association rules: the same distinct-basket counts + long ppm
      Some("""WITH ui AS (SELECT DISTINCT user_id AS k, event_type AS i FROM events WHERE event_type IS NOT NULL),
        |tot AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_baskets FROM ui),
        |ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_item FROM ui GROUP BY i),
        |p AS (SELECT a.i AS a, b.i AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |FROM ui a JOIN ui b ON a.k = b.k AND a.i < b.i GROUP BY 1, 2)
        |SELECT p.a, p.b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
        |(p.n_ab * 1000000) // tot.n_baskets AS support_ppm,
        |(p.n_ab * 1000000) // ia.n_item AS conf_a_to_b_ppm,
        |(p.n_ab * 1000000) // ib.n_item AS conf_b_to_a_ppm,
        |CAST(floor(CAST(p.n_ab AS DOUBLE) * 1000000.0 * CAST(tot.n_baskets AS DOUBLE) / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE))) AS BIGINT) AS lift_ppm
        |FROM p JOIN ic ia ON p.a = ia.i JOIN ic ib ON p.b = ib.i, tot""".stripMargin)),
    Query("q_agg_first", tags = Set("structure"), build = (s, d) =>
      Aggregations.firstPerGroup(
        T(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_quantity"))),
      oracle = Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        |SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
        |FROM lineitem) WHERE rn = 1""".stripMargin)),
    Query("q_seq_concat", tags = Set("structure"), build = (s, d) =>
      T(s, d, "lineitem").groupBy("l_orderkey")
        .agg(Aggregations.orderedConcat("l_linenumber", "l_returnflag")
          .as("seq")),
      oracle = Some("""SELECT l_orderkey, string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag) AS seq
        |FROM lineitem GROUP BY l_orderkey""".stripMargin)),
    Query("q_having_complete", (s, d) =>
      Aggregations.completeGroups(T(s, d, "lineitem"), Seq("l_orderkey"),
        col("n_members") >= 5),
      Some("""SELECT l_orderkey, COUNT(*) AS n_members FROM lineitem
        |GROUP BY l_orderkey HAVING COUNT(*) >= 5""".stripMargin)),
    // aligned-sequence comparison (variants.py:411,430): build two
    // sequences under ONE total ordering, count positionwise
    // mismatches with the zip_with char walk
    Query("q_seq_mismatch", tags = Set("structure"), build = (s, d) => {
      val rows = T(s, d, "lineitem").groupBy("l_orderkey")
        .agg(array_sort(collect_list(struct(col("l_linenumber"),
          col("l_returnflag"), col("l_linestatus")))).as("rows"))
      rows.select(col("l_orderkey"),
          array_join(transform(col("rows"),
            r => r.getField("l_returnflag")), "").as("seq_a"),
          array_join(transform(col("rows"),
            r => r.getField("l_linestatus")), "").as("seq_b"))
        .withColumn("n_mismatch",
          TextFunctions.countMismatches(col("seq_a"), col("seq_b"))
            .cast("long"))
        .withColumn("seqs_match",
          TextFunctions.sequencesMatch(col("seq_a"), col("seq_b"), 2))
    },
      oracle = Some("""SELECT l_orderkey,
        |string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag, l_linestatus) AS seq_a,
        |string_agg(l_linestatus, '' ORDER BY l_linenumber, l_returnflag, l_linestatus) AS seq_b,
        |CAST(SUM(CASE WHEN l_returnflag <> l_linestatus THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |SUM(CASE WHEN l_returnflag <> l_linestatus THEN 1 ELSE 0 END) <= 2 AS seqs_match
        |FROM lineitem GROUP BY l_orderkey""".stripMargin)),
    Query("q_annotation_collapse", (s, d) =>
      RowOps.mergeDownByKey(
        T(s, d, "documents").select("lang", "source"), Seq("lang")),
      Some("""SELECT lang, string_agg(source, ';' ORDER BY source) AS source
        |FROM (SELECT DISTINCT lang, source FROM documents)
        |GROUP BY lang""".stripMargin)),
    // exact linear-interpolation percentiles (sort-based; for the
    // 100 TB path see q_sketch_profile's approx variants)
    // fixed-width histogram per return flag (distribution profiling)
    Query("q_histogram", (s, d) =>
      Aggregations.histogram(T(s, d, "lineitem"), "l_quantity",
        Seq("l_returnflag"), lo = 0.0, width = 5.0, nBins = 10),
      Some("""SELECT l_returnflag,
        |CAST(least(9, greatest(0, floor((l_quantity - 0.0) / 5.0))) AS BIGINT) AS bin,
        |COUNT(*) AS n,
        |0.0 + CAST(least(9, greatest(0, floor((l_quantity - 0.0) / 5.0))) AS BIGINT) * 5.0 AS bin_lo
        |FROM lineitem GROUP BY 1, 2, 4""".stripMargin)),
    Query("q_quantiles", (s, d) =>
      // one percentile buffer per group for both points (r17): two
      // percentile() calls each buffered the whole group's values
      T(s, d, "lineitem").groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.95))")
          .as("__qs"))
        .select(col("l_returnflag"), col("__qs")(0).as("p50"),
          col("__qs")(1).as("p95")),
      Some(quantilesOracle)),
    // the 100 TB form of q_quantiles: exact interpolated percentiles
    // via batched order-statistic narrowing — no group's values ever
    // buffer in one aggregation task; bit-identical to percentile()
    // (same oracle, shared verbatim)
    Query("q_quantiles_scale", (s, d) =>
      OrderStats.quantilesByGroup(T(s, d, "lineitem"),
        "l_returnflag", "l_extendedprice",
        Seq("p50" -> 0.5, "p95" -> 0.95)),
      Some(quantilesOracle)),
    // robust outlier profile: median/MAD flagging per group from the
    // exact percentile aggregate (k = 5·MAD, strict)
    Query("q_robust_outliers", (s, d) =>
      OrderStats.robustOutliersByGroup(
        T(s, d, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", k = 5.0),
      // robust outliers: quantile_cont medians (bit-matching the exact
      // percentile machinery, the B7 bridge), strict 5*MAD flag, ppm
      // in long floor-division
      Some("""WITH m AS (SELECT l_returnflag AS g, quantile_cont(l_extendedprice, 0.5) AS med
        |FROM lineitem GROUP BY 1),
        |d AS (SELECT l_returnflag AS g, l_extendedprice AS v, med,
        |abs(l_extendedprice - med) AS dev FROM lineitem JOIN m ON l_returnflag = m.g),
        |md AS (SELECT g, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY g),
        |s AS (SELECT d.g, CAST(COUNT(*) AS BIGINT) AS n, MIN(d.med) AS med, MIN(md.mad) AS mad,
        |CAST(SUM(CASE WHEN dev > 5.0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md ON d.g = md.g GROUP BY d.g)
        |SELECT g AS l_returnflag, n, med, mad, n_outliers,
        |(n_outliers * 1000000) // n AS out_ppm FROM s""".stripMargin)),
    // winsorization — the TRANSFORM twin of the outlier report:
    // values clamped to the exact per-group [p05, p95]
    Query("q_winsorize", (s, d) =>
      OrderStats.winsorizeByGroup(
        T(s, d, "lineitem").select("l_orderkey", "l_linenumber",
          "l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice"),
      // winsorize: exact [p05, p95] clamp per group, clip evidence
      Some("""WITH b AS (SELECT l_returnflag AS g,
        |quantile_cont(l_extendedprice, 0.05) AS lo,
        |quantile_cont(l_extendedprice, 0.95) AS hi
        |FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        |least(greatest(l_extendedprice, lo), hi) AS l_extendedprice_w,
        |(l_extendedprice < lo OR l_extendedprice > hi) AS clipped
        |FROM lineitem JOIN b ON l_returnflag = b.g""".stripMargin)),
    // the ONE-PASS sketch path of the order-statistics family: per
    // group, KLL discrete quantiles next to the exact percentile()
    // answer and the measured rank error in exact ppm of the group
    // size — the self-auditing harness shape (F8). Rows-only: the
    // sketch's compaction survivors depend on merge order, which no
    // SQL replay can reproduce; the SPEC pins the error bound.
    Query("q_quantile_sketch", (s, d) => {
      val li = T(s, d, "lineitem").select("l_returnflag", "l_extendedprice")
      val sk = OrderStats.sketchQuantilesByGroup(li,
        "l_returnflag", "l_extendedprice",
        Seq("sk_p50" -> 0.5, "sk_p95" -> 0.95))
      val ex = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          expr("percentile(l_extendedprice, array(0.5, 0.95))")
            .as("__qs"))
        .select(col("l_returnflag"), col("n"),
          col("__qs")(0).as("ex_p50"), col("__qs")(1).as("ex_p95"))
      def rkErr(skc: Column, q: Double) = {
        // measured rank error: |rank(sketch value) − q·(n−1)| in ppm
        // of n, rank from one conditional count against the data
        abs(sum(when(col("l_extendedprice") <= skc, 1L).otherwise(0L))
          .cast("double") - lit(1.0) -
          lit(q) * (count(lit(1)).cast("double") - lit(1.0))) * 1e6 /
          count(lit(1)).cast("double")
      }
      val err = li.join(broadcast(sk), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(floor(rkErr(col("sk_p50"), 0.5)).cast("long")
          .as("p50_rank_err_ppm"),
          floor(rkErr(col("sk_p95"), 0.95)).cast("long")
            .as("p95_rank_err_ppm"))
      sk.join(ex, Seq("l_returnflag")).join(err, Seq("l_returnflag"))
        .select("l_returnflag", "n", "sk_p50", "ex_p50",
          "p50_rank_err_ppm", "sk_p95", "ex_p95", "p95_rank_err_ppm")
    }, None),
    // winsorization on the sketch scale path: same clamp shape as
    // q_winsorize but bounds from the one-pass KLL aggregate — no
    // per-group buffering, no group-cardinality bound. Rows-only
    // (merge-order-dependent bounds); the spec pins the error.
    Query("q_winsorize_scale", (s, d) =>
      OrderStats.winsorizeByGroup(
        T(s, d, "lineitem").select("l_orderkey", "l_linenumber",
          "l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", sketched = true)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("clipped"), 1L).otherwise(0L)).as("n_clipped"),
          min("l_extendedprice_w").as("w_min"),
          max("l_extendedprice_w").as("w_max")), None),
    // the INCREMENTAL sketch rollup: one bounded kll_state row per
    // (event_type, day) — the stored-state table a daily job would
    // append — then any range's quantiles from merged STATES alone
    // (history never re-scanned). Self-auditing (F8): merged sketch
    // p50/p95 next to the exact percentile answer and the measured
    // rank error in ppm. Rows-only: compaction survivors are
    // merge-order-dependent; the spec pins exactness under the
    // level-0 capacity and the 1% bound beyond it.
    Query("q_sketch_rollup", (s, d) => {
      val ev = T(s, d, "events").select(col("event_type"),
        to_date(col("ts")).as("day"), col("value").cast("double").as("v"))
        .filter(col("v").isNotNull)
      val daily = ev.groupBy("event_type", "day")
        .agg(graft.expressions.KllQuantiles.state(col("v"), 200).as("st"),
          count(lit(1)).as("n_day"))
      val merged = daily.groupBy("event_type")
        .agg(graft.expressions.KllQuantiles
          .mergeQuantiles(col("st"), Seq(0.5, 0.95)).as("qs"),
          sum(col("n_day")).as("n"), count(lit(1)).as("n_states"))
        .select(col("event_type"), col("n"), col("n_states"),
          element_at(col("qs"), 1).as("sk_p50"),
          element_at(col("qs"), 2).as("sk_p95"))
      val ex = ev.groupBy("event_type")
        .agg(expr("percentile(v, array(0.5, 0.95))").as("__qs"))
        .select(col("event_type"), col("__qs")(0).as("ex_p50"),
          col("__qs")(1).as("ex_p95"))
      def rkErr(skc: Column, q: Double) =
        abs(sum(when(col("v") <= skc, 1L).otherwise(0L))
          .cast("double") - lit(1.0) -
          lit(q) * (count(lit(1)).cast("double") - lit(1.0))) * 1e6 /
          count(lit(1)).cast("double")
      val err = ev.join(broadcast(merged
          .select("event_type", "sk_p50", "sk_p95")), Seq("event_type"))
        .groupBy("event_type")
        .agg(floor(rkErr(col("sk_p50"), 0.5)).cast("long")
          .as("p50_rank_err_ppm"),
          floor(rkErr(col("sk_p95"), 0.95)).cast("long")
            .as("p95_rank_err_ppm"))
      merged.join(ex, Seq("event_type")).join(err, Seq("event_type"))
        .select("event_type", "n", "n_states", "sk_p50", "ex_p50",
          "p50_rank_err_ppm", "sk_p95", "ex_p95", "p95_rank_err_ppm")
    }, None),
    // sketch profile: t-digest percentiles + HLL++ distinct counts —
    // fixed-size mergeable state, the only viable shapes at 100 TB;
    // approximate by design → rows-only check
    Query("q_sketch_profile", (s, d) =>
      T(s, d, "events").groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          expr("approx_percentile(value, array(0.5, 0.99), 1000)")
            .as("value_p50_p99"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("approx_users"),
          col("value_p50_p99")(0).as("p50"),
          col("value_p50_p99")(1).as("p99"), col("n")), None),
    // exact heavy hitters (cnt > N/40) WITHOUT a vocabulary shuffle:
    // per-partition Misra-Gries candidate sketch, broadcast semi-join
    // confirm, integer threshold — output equals plain groupBy+filter
    Query("q_heavy_hitters", (s, d) =>
      Corpus.heavyHitters(T(s, d, "documents"), k = 40),
      // heavy hitters: the confirm pass IS plain SQL — token counts
      // with the integer cnt*k > N bar (the MG sketch only proposes
      // candidates; the output is exact by construction)
      Some("""WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM c)
        |SELECT c.tok AS token, c.cnt, t.n_total,
        |CAST(c.cnt AS DOUBLE) / t.n_total AS freq
        |FROM c, t WHERE c.cnt * 40 > t.n_total""".stripMargin)))
}
