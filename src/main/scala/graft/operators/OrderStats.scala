package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed order statistics without a global sort: the machinery
  * behind scale-safe exact top-N selection (DSIR) and per-group
  * tercile boundaries (CCNet). A single-partition `row_number` window
  * is exact but funnels the whole corpus through one task at 100 TB;
  * the operators here compute the same answers with bounded driver
  * state and no un-partitioned WindowExec anywhere in the plan:
  * quantile-sketch narrowing to a small value band, then an exact
  * walk over the band's (value, count) table.
  */
object OrderStats {

  /** The driver-bounded-groups contract, made LOUD: collect per-group
    * rows only after a `limit(max + 1)` probe shows the group count
    * fits — an over-cardinality group key (a per-doc id instead of a
    * language/flag/shard) fails with the measured count instead of
    * an eventual driver OOM. The true count is computed ONLY on the
    * failure path (no extra job when healthy). */
  private[graft] def boundedGroupRows(grouped: DataFrame, what: String,
                                      maxGroups: Int)
  : Array[org.apache.spark.sql.Row] = {
    require(maxGroups >= 1, s"maxGroups must be >= 1, got $maxGroups")
    val rows = grouped.limit(maxGroups + 1).collect()
    if (rows.length > maxGroups) {
      val actual = grouped.count()
      throw new IllegalArgumentException(
        s"$what holds per-group state on the driver and is bounded at " +
          s"$maxGroups groups; measured $actual — group on a coarser " +
          s"key (language/flag/shard) or raise maxGroups")
    }
    rows
  }

  /** Exact k-th largest value of a numeric column (1-based, multiset
    * order statistic), plus the exact count of rows strictly greater
    * than it. No global sort: each iteration picks a pivot with
    * `approxQuantile` (rank error <= relErr * bandRows) and narrows
    * the candidate band with exact counts; once the band fits under
    * `exactFinishRows` the answer comes from a driver walk of the
    * band's distinct-value counts (a bounded-metadata collect, the
    * same discipline as IVF centroids / PQ codebooks). The band
    * shrinks geometrically (~2*relErr per pinch pair), so 100 TB
    * converges in a handful of scan-narrow rounds.
    *
    * Pivot comparisons run on the column cast to double; that cast is
    * monotone, and the final value is read back in the column's own
    * type from the band walk, so longs beyond 2^53 still resolve
    * exactly. Null values are ignored (a null never has a rank).
    *
    * Returns (kthValue, countStrictlyGreater) with
    * countStrictlyGreater < k <= countGreaterOrEqual by construction.
    */
  def kthLargest(df: DataFrame, valueCol: String, k: Long,
                 relErr: Double = 1e-3, exactFinishRows: Long = 100000L,
                 maxIters: Int = 64): (Any, Long) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = df.select(col(valueCol)).filter(col(valueCol).isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val vd = col(valueCol).cast("double")
      var band: DataFrame = base
      var kk = k // rank of the target within the current band, from the top
      var dropped = 0L // rows above the band (all > the k-th value)
      var iter = 0
      while (iter < maxIters) {
        val nb = band.count()
        require(nb >= kk,
          s"k=$k exceeds the non-null row count (band $nb, need $kk)")
        def bandWalk(b: DataFrame, k0: Long, dropped0: Long): (Any, Long) = {
          // exact finish: walk the band's distinct (value, count)
          // table on the driver (bounded by construction at the call
          // sites — either <= exactFinishRows rows or a single
          // double-collision class of values)
          val rows = b.groupBy(col(valueCol)).count()
            .orderBy(col(valueCol).desc).collect()
          var acc = 0L
          var i = 0
          while (i < rows.length) {
            val cnt = rows(i).getLong(1)
            if (acc + cnt >= k0)
              return (rows(i).get(0), dropped0 + acc)
            acc += cnt
            i += 1
          }
          sys.error(s"band walk exhausted at $acc < $k0 — unreachable")
        }
        if (nb <= exactFinishRows)
          return bandWalk(band, kk, dropped)
        val q = math.max(0.0, math.min(1.0, 1.0 - kk.toDouble / nb))
        val t = band.stat.approxQuantile(valueCol, Array(q), relErr)(0)
        val r = band.agg(
          sum(when(vd > t, 1L).otherwise(0L)).cast("long"),
          sum(when(vd >= t, 1L).otherwise(0L)).cast("long")).head()
        val cGt = r.getLong(0)
        val cGe = r.getLong(1)
        if (cGt >= kk) {
          // pivot below the target: values <= t all rank BELOW the
          // k-th, so `dropped` (rows above it) is unchanged
          band = band.filter(vd > t)
        } else if (cGe < kk) {
          // pivot above the target: rows >= t are all above the k-th
          dropped += cGe
          kk -= cGe
          band = band.filter(vd < t)
        } else {
          // bracketed in double space: the target sits in the pivot's
          // double-collision class — distinct exact values inside one
          // double are bounded by its ulp span, so resolve exactly
          // now (also covers the degenerate all-one-weight band that
          // row-count narrowing could never shrink)
          return bandWalk(band.filter(vd === t), kk - cGt, dropped + cGt)
        }
        iter += 1
      }
      sys.error(s"kthLargest failed to converge in $maxIters rounds " +
        s"(relErr=$relErr) — raise exactFinishRows or relErr")
    } finally base.unpersist(false)
  }

  /** Exact top-N selection by (weight desc, id asc) WITHOUT a global
    * sort: marks every row with `selected` = whether it is among the
    * first `n` under that total order — bit-identical to
    * `row_number().over(Window.orderBy(weight desc, id asc)) <= n`,
    * but the plan never contains an un-partitioned window. Shape:
    * [[kthLargest]] finds the boundary weight w* and the exact count
    * above it; only the rows TIED at w* (bounded by the boundary
    * weight's multiplicity — tiny for 64-bit sum weights) pass
    * through a window partitioned by the weight column to break the
    * tie by id, and the winners come back as a broadcast semi-set.
    * Rows with a null weight are never selected.
    *
    * `df` is scanned several times (count, narrowing rounds, the tie
    * scan, the final join) — persist it first unless its lineage is
    * trivial, as dsirWeights/perplexityBucketsByBoundary do.
    */
  def selectTopN(df: DataFrame, n: Long, weightCol: String,
                 idCol: String, relErr: Double = 1e-3,
                 exactFinishRows: Long = 100000L): DataFrame = {
    if (n <= 0L)
      return df.withColumn("selected", lit(false))
    val total = df.filter(col(weightCol).isNotNull).count()
    if (n >= total)
      return df.withColumn("selected", col(weightCol).isNotNull)
    val (wStar, cGt) = kthLargest(df, weightCol, n, relErr, exactFinishRows)
    val slots = n - cGt // boundary ties to admit, smallest ids first
    val tieW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(weightCol)).orderBy(col(idCol).asc)
    val tieKeep = broadcast(
      df.filter(col(weightCol) === lit(wStar))
        .select(col(idCol), row_number().over(tieW).as("__tie_rk"))
        .filter(col("__tie_rk") <= slots)
        .select(col(idCol), lit(true).as("__tie_sel")))
    df.join(tieKeep, Seq(idCol), "left_outer")
      .withColumn("selected",
        coalesce((col(weightCol) > lit(wStar)) ||
          coalesce(col("__tie_sel"), lit(false)), lit(false)))
      .drop("__tie_rk", "__tie_sel")
  }

  /** BATCHED exact k-th largest for MANY (group, k) targets at once —
    * per-target answers identical to [[kthLargest]] on the group's
    * rows, but the job count is O(narrowing rounds) TOTAL instead of
    * O(targets × rounds): per round, ONE size probe, ONE grouped
    * `percentile_approx` grid (nine fixed in-band percentiles — the
    * percentage argument must be foldable, so the grid is shared and
    * each target narrows ~10× per round regardless of its rank), ONE
    * grouped pivot-count pass, and ONE combined band walk for every
    * target whose band fits `exactFinishRows`. This is what makes
    * per-language tercile boundaries (CCNet) a handful of corpus
    * scans at 100 TB rather than a scan loop per language.
    *
    * Restricted to double-typed value columns (the band endpoints ARE
    * values, so no monotone-cast dance is needed); group values may
    * be null (matched null-safely). Returns (groupValue, k) → value.
    */
  def kthLargestByGroup(df: DataFrame, groupCol: String, valueCol: String,
                        targets: Seq[(Any, Long)],
                        accuracy: Int = 10000,
                        exactFinishRows: Long = 100000L,
                        maxIters: Int = 16): Map[(Any, Long), Double] = {
    require(targets.nonEmpty, "no targets")
    require(df.schema(valueCol).dataType ==
      org.apache.spark.sql.types.DoubleType,
      s"kthLargestByGroup needs a double value column, got " +
        s"${df.schema(valueCol).dataType}")
    val spark = df.sparkSession
    val grpType = df.schema(groupCol).dataType
    val rows = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .filter(col("__v").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    rows.count()
    try {
      final case class St(id: Int, grp: Any, k: Long) {
        var lo: Double = Double.NegativeInfinity // band: lo < v < hi
        var hi: Double = Double.PositiveInfinity
        var kk: Long = k // target rank from the top WITHIN the band
        var resolved: Option[Double] = None
      }
      val state = targets.zipWithIndex.map { case ((g, k), i) =>
        require(k >= 1, s"k must be >= 1, got $k for group $g"); St(i, g, k)
      }
      val boundsSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__tid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__grp", grpType),
        org.apache.spark.sql.types.StructField("__lo",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("__hi",
          org.apache.spark.sql.types.DoubleType)))
      def bandRows(sts: Seq[St]): DataFrame = {
        val bdf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            sts.map(s => org.apache.spark.sql.Row(s.id, s.grp, s.lo, s.hi)),
            1), boundsSchema)
        rows.join(broadcast(bdf), col("__g") <=> col("__grp"))
          .filter(col("__v") > col("__lo") && col("__v") < col("__hi"))
          .select(col("__tid"), col("__v"))
      }
      var iter = 0
      while (state.exists(_.resolved.isEmpty) && iter < maxIters) {
        val open = state.filter(_.resolved.isEmpty)
        val band = bandRows(open)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val sizes = band.groupBy("__tid").count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
          open.foreach { s =>
            require(sizes.getOrElse(s.id, 0L) >= s.kk,
              s"k=${s.k} exceeds group ${s.grp}'s non-null rows")
          }
          val (walk, narrow) = open.partition(s =>
            sizes(s.id) <= exactFinishRows)
          if (walk.nonEmpty) {
            // ONE combined walk: per-target distinct-value counts,
            // bounded by walk.size * exactFinishRows distinct values
            val walkIds = walk.map(_.id).toSet
            val byTid = band
              .filter(col("__tid").isInCollection(walkIds))
              .groupBy("__tid", "__v").count().collect()
              .groupBy(_.getInt(0))
            walk.foreach { s =>
              val vs = byTid(s.id)
                .map(r => (r.getDouble(1), r.getLong(2)))
                .sortBy(-_._1)
              var acc = 0L
              var i = 0
              while (s.resolved.isEmpty && i < vs.length) {
                if (acc + vs(i)._2 >= s.kk) s.resolved = Some(vs(i)._1)
                acc += vs(i)._2
                i += 1
              }
              assert(s.resolved.nonEmpty, s"walk exhausted for ${s.grp}")
            }
          }
          if (narrow.nonEmpty) {
            val narrowIds = narrow.map(_.id).toSet
            val nb = band.filter(col("__tid").isInCollection(narrowIds))
            val grid = (1 to 9).map(_ / 10.0)
            val pivots = nb.groupBy("__tid")
              .agg(percentile_approx(col("__v"),
                lit(grid.toArray), lit(accuracy)).as("__ps"))
              .collect()
              .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
            // per-target counts strictly-above / at-or-above each
            // distinct pivot, in ONE pass via an exploded pivot join
            val pvRows = pivots.toSeq.flatMap { case (tid, ps) =>
              ps.distinct.map(p => org.apache.spark.sql.Row(tid, p))
            }
            val pvSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("__tid",
                org.apache.spark.sql.types.IntegerType),
              org.apache.spark.sql.types.StructField("__p",
                org.apache.spark.sql.types.DoubleType)))
            val pvDf = spark.createDataFrame(
              spark.sparkContext.parallelize(pvRows, 1), pvSchema)
            val cnt = nb.join(broadcast(pvDf), Seq("__tid"))
              .groupBy(col("__tid"), col("__p"))
              .agg(sum(when(col("__v") > col("__p"), 1L).otherwise(0L))
                .cast("long").as("__gt"),
                sum(when(col("__v") >= col("__p"), 1L).otherwise(0L))
                  .cast("long").as("__ge"))
              .collect()
              .groupBy(_.getInt(0))
            narrow.foreach { s =>
              val pcs = cnt(s.id)
                .map(r => (r.getDouble(1), r.getLong(2), r.getLong(3)))
                .sortBy(-_._1)
              val hit = pcs.find { case (_, gt, ge) => gt < s.kk && s.kk <= ge }
              if (hit.nonEmpty) s.resolved = Some(hit.get._1)
              else {
                // tightest enclosing pivots under the ORIGINAL kk
                val pLo = pcs.filter(_._2 >= s.kk) // target strictly above
                  .map(_._1).maxOption
                val pHi = pcs.filter(_._3 < s.kk) // target strictly below
                val newHi = pHi.map(_._1).minOption
                newHi.foreach { h =>
                  val dropped = pHi.filter(_._1 == h).head._3
                  s.kk -= dropped
                  s.hi = h
                }
                pLo.foreach(l => s.lo = l)
                require(newHi.nonEmpty || pLo.nonEmpty,
                  s"no pivot progress for group ${s.grp} — unreachable " +
                    "(a bracketing pivot would have resolved)")
              }
            }
          }
        } finally band.unpersist(false)
        iter += 1
      }
      require(state.forall(_.resolved.nonEmpty),
        s"kthLargestByGroup failed to converge in $maxIters rounds")
      state.map(s => (s.grp, s.k) -> s.resolved.get).toMap
    } finally rows.unpersist(false)
  }

  /** EXACT linear-interpolation percentiles per group WITHOUT
    * buffering any group's values — the scale-safe twin of Spark's
    * `percentile()` aggregate (whose buffer holds every distinct
    * value of a group in one task: the B7 scale caveat). Each
    * requested percentile needs at most the two bracketing order
    * statistics v[⌊p⌋], v[⌈p⌉] of the ascending multiset at position
    * p = q·(n−1); those resolve for EVERY (group, percentile) pair
    * through ONE [[kthLargestByGroup]] batched narrowing (k-th
    * largest with k = n − i for ascending index i), and the driver
    * interpolates with Spark's own tree —
    * (⌈p⌉ − p)·v_lo + (p − ⌊p⌋)·v_hi — so results are BIT-IDENTICAL
    * to the aggregate (spec-pinned, shared oracle).
    *
    * `qs` is (outputColumn, percentile) pairs; output is one row per
    * group: (groupCol, qs columns...). Nulls are ignored per group
    * (the aggregate's contract); groups with zero non-null values are
    * not emitted. Group cardinality must be driver-bounded (the
    * kthLargestByGroup contract — flags, languages, shards). */
  def quantilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
                       qs: Seq[(String, Double)],
                       maxGroups: Int = 100000): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, q) => q >= 0 && q <= 1 },
      "percentiles must be in [0, 1]")
    val spark = df.sparkSession
    val vals = df.select(col(groupCol).as("__g"),
      col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val sizes = boundedGroupRows(vals.groupBy("__g").count(),
      "quantilesByGroup", maxGroups)
      .map(r => r.get(0) -> r.getLong(1)).toMap
    // ascending 0-based index i ↔ k-th largest with k = n - i
    val targets = sizes.toSeq.flatMap { case (g, n) =>
      qs.flatMap { case (_, q) =>
        val pos = q * (n - 1).toDouble
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        Seq((g, n - lo), (g, n - hi))
      }
    }.distinct
    val kth = kthLargestByGroup(
      vals.select(col("__g"), col("__v")), "__g", "__v", targets)
    val rows = sizes.toSeq.map { case (g, n) =>
      val cells = qs.map { case (_, q) =>
        val pos = q * (n - 1).toDouble
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        val vLo = kth((g, n - lo))
        // Spark Percentile.getPercentile's exact tree
        if (hi == lo) vLo
        else (hi - pos) * vLo + (pos - lo) * kth((g, n - hi))
      }
      org.apache.spark.sql.Row.fromSeq(g +: cells)
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(
        groupCol, df.schema(groupCol).dataType) +:
      qs.map { case (name, _) => org.apache.spark.sql.types.StructField(
        name, org.apache.spark.sql.types.DoubleType) })
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** PER-GROUP exact top-N by (weight desc, id asc) WITHOUT a
    * per-group window sort — the group form of [[selectTopN]]:
    * marks each row `selected` iff it is among its group's first `n`
    * under that order, bit-identical to `row_number().over(
    * Window.partitionBy(group).orderBy(weight desc, id asc)) <= n`.
    * The window form sorts ONE GROUP PER TASK — the per-group hot
    * ceiling every narrowing form in this file exists to remove;
    * here every group's boundary resolves through ONE
    * batched [[kthLargestByGroup]] narrowing (job count
    * O(narrowing rounds) total, not O(groups)), the counts above
    * each boundary come from one grouped aggregation, and only the
    * boundary-TIED rows (multiplicity-bounded) pass through a
    * window — partitioned by (group, weight), never the group alone.
    *
    * Contracts: `groupCol` must be a string (the driver-side target
    * bookkeeping is typed); weights are compared as doubles, so they
    * must be exactly double-representable (integers up to 2^53 —
    * callers with wider keys truncate first, as
    * [[graft.operators.Sampling.weightedSamplePerGroup]] does);
    * rows with a null weight or null group are never selected.
    * Groups no larger than `n` select every eligible row without
    * entering the narrowing. `df` is scanned a handful of times —
    * persist it first unless its lineage is trivial. Driver state:
    * O(|groups|) (the sizes/boundary maps — the quantilesByGroup
    * precedent). */
  def selectTopNByGroup(df: DataFrame, n: Long, weightCol: String,
                        idCol: String, groupCol: String,
                        accuracy: Int = 10000,
                        exactFinishRows: Long = 100000L,
                        maxGroups: Int = 100000): DataFrame = {
    require(df.schema(groupCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"selectTopNByGroup needs a string group column, got " +
        s"${df.schema(groupCol).dataType}")
    if (n <= 0L) return df.withColumn("selected", lit(false))
    val spark = df.sparkSession
    val w = col(weightCol).cast("double")
    val eligible = w.isNotNull && col(groupCol).isNotNull
    val sizes = boundedGroupRows(
      df.filter(eligible).groupBy(col(groupCol))
        .agg(count(lit(1)).as("__cnt")),
      "selectTopNByGroup", maxGroups)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    import spark.implicits._
    val narrowTargets = sizes.toSeq.collect {
      case (g, cnt) if cnt > n => (g: Any, n)
    }
    val kth: Map[String, Double] =
      if (narrowTargets.isEmpty) Map.empty
      else kthLargestByGroup(
        df.filter(eligible).select(col(groupCol), w.as("__w")),
        groupCol, "__w", narrowTargets, accuracy, exactFinishRows)
        .map { case ((g, _), v) => g.asInstanceOf[String] -> v }
    // full groups (cnt <= n): boundary -inf selects every eligible
    // row strictly above it; ties AT -inf are impossible for finite
    // weights, so their slot count is irrelevant
    val bounds = broadcast(sizes.keys.toSeq
      .map(g => (g, kth.getOrElse(g, Double.NegativeInfinity)))
      .toDF("__g", "__wstar"))
    val cGt = df.filter(eligible)
      .join(bounds, col(groupCol) === col("__g"))
      .filter(w > col("__wstar"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__c"))
      .as[(String, Long)].collect().toMap
    val slots = broadcast(kth.keys.toSeq
      .map(g => (g, n - cGt.getOrElse(g, 0L)))
      .toDF("__sg", "__slots"))
    val tieW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), w).orderBy(col(idCol).asc)
    val tieKeep = broadcast(df.filter(eligible)
      .join(bounds, col(groupCol) === col("__g"))
      .filter(w === col("__wstar"))
      .withColumn("__tie_rk", row_number().over(tieW))
      .join(slots, col(groupCol) === col("__sg"))
      .filter(col("__tie_rk") <= col("__slots"))
      .select(col(idCol).as("__tie_id"), lit(true).as("__tie_sel")))
    df.join(bounds, col(groupCol) === col("__g"), "left_outer")
      .join(tieKeep, col(idCol) === col("__tie_id"), "left_outer")
      .withColumn("selected",
        coalesce((eligible && w > col("__wstar")) ||
          coalesce(col("__tie_sel"), lit(false)), lit(false)))
      .drop("__g", "__wstar", "__tie_id", "__tie_sel")
  }

  /** ONE-PASS per-group quantiles via the mergeable KLL sketch
    * ([[graft.expressions.KllQuantiles]]) — the order-statistics
    * family's 100 TB default. Unlike the exact `percentile()`
    * aggregate (ONE group's values buffered in one task) this holds
    * O(k·log(n/k)) state per group at ANY group size, with map-side
    * combine, and unlike [[quantilesByGroup]]'s exact narrowing it is
    * ONE aggregation job, not O(rounds) — the narrowing's per-round
    * job constant goes away entirely. The price is rank
    * error (≤ ~1% of n at k = 200, spec-measured; EXACT while a
    * group's count stays under the level-0 capacity) and a discrete
    * (non-interpolating) quantile. Output: one row per group,
    * (groupCol, qs columns...), groups with zero non-null values not
    * emitted — the [[quantilesByGroup]] contract, with NO group-
    * cardinality bound: the result is a plain aggregate, never
    * collected. */
  def sketchQuantilesByGroup(df: DataFrame, groupCol: String,
                             valueCol: String, qs: Seq[(String, Double)],
                             k: Int = 200): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, q) => q >= 0 && q <= 1 },
      "percentiles must be in [0, 1]")
    val agg = df
      .select(col(groupCol), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col(groupCol))
      .agg(graft.expressions.KllQuantiles
        .kllQuantiles(col("__v"), qs.map(_._2), k).as("__qs"))
    agg.select(col(groupCol) +: qs.zipWithIndex.map {
      case ((name, _), i) => element_at(col("__qs"), i + 1).as(name)
    }: _*)
  }

  /** Loud cardinality guard + driver round-trip for an exact-path
    * GROUP FRAME (one row per group) that is about to broadcast: the
    * frame is collected through [[boundedGroupRows]] (fails with the
    * measured count past `maxGroups`) and re-created as a local
    * relation, so the guard probe IS the broadcast build — the
    * expensive aggregate underneath runs ONCE, not once for the
    * probe and again for the join. */
  private def guardedBroadcastFrame(frame: DataFrame, what: String,
                                    maxGroups: Int): DataFrame = {
    val rows = boundedGroupRows(frame, what, maxGroups)
    frame.sparkSession.createDataFrame(
      frame.sparkSession.sparkContext
        .parallelize(rows.toIndexedSeq, 1), frame.schema)
  }

  /** ROBUST OUTLIER PROFILE per group — median / MAD flagging, the
    * trimming rule that survives the exact contamination a
    * mean/stddev z-score breaks under (one 1e9 outlier drags the
    * mean past every other point; the median moves one rank). Per
    * group: n, median, MAD (median absolute deviation), outlier
    * count (|v − med| > k·MAD, strict) and rate in exact ppm.
    *
    * Two forms. The default is quantile_cont-exact: Spark's exact
    * Percentile aggregate runs twice (one shuffle per pass; buffers
    * ONE group's values per task — the B7 exact-form caveat, fine
    * while every group fits a task, and LOUD past `maxGroups` group
    * keys via the guarded broadcast). `sketched = true` is the
    * 100 TB form: both medians come from the ONE-PASS mergeable KLL
    * aggregate ([[sketchQuantilesByGroup]]) — no per-group buffering, no
    * narrowing rounds, no group-cardinality bound (the group frames
    * join WITHOUT a broadcast: at unbounded group counts AQE picks
    * the join side) — at the sketch's spec-pinned rank error.
    */
  def robustOutliersByGroup(df: DataFrame, groupCol: String,
                            valueCol: String, k: Double = 5.0,
                            sketched: Boolean = false,
                            sketchK: Int = 200,
                            maxGroups: Int = 100000): DataFrame = {
    val med =
      if (sketched) sketchQuantilesByGroup(df, groupCol, valueCol,
        Seq(("med", 0.5)), sketchK)
      else guardedBroadcastFrame(
        df.filter(col(valueCol).isNotNull).groupBy(col(groupCol))
          .agg(expr(s"percentile(CAST(`$valueCol` AS DOUBLE), 0.5)")
            .as("med")),
        "robustOutliersByGroup", maxGroups)
    val medSide = if (sketched) med else broadcast(med)
    val dev = df.select(col(groupCol),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .join(medSide, Seq(groupCol))
      .withColumn("__dev", abs(col("__v") - col("med")))
    val mad =
      if (sketched) sketchQuantilesByGroup(dev, groupCol, "__dev",
        Seq(("mad", 0.5)), sketchK)
      else guardedBroadcastFrame(
        dev.groupBy(col(groupCol))
          .agg(expr("percentile(__dev, 0.5)").as("mad")),
        "robustOutliersByGroup", maxGroups)
    val madSide = if (sketched) mad else broadcast(mad)
    dev.join(madSide, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        sum(when(col("__dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("out_ppm",
        call_function("div", col("n_outliers") * 1000000L, col("n")))
  }

  /** WINSORIZATION — the transform twin of [[robustOutliersByGroup]]:
    * every value clamps to its group's exact [lo, hi] percentile
    * band (feature pipelines run this before anything
    * magnitude-sensitive sees the column; unlike dropping outliers
    * it keeps the row — the tail information degrades gracefully
    * instead of vanishing). Default: exact Percentile bounds (one
    * grouped pass; the B7 exact-form caveat — buffers ONE group's
    * values per task, now LOUD past `maxGroups` group keys)
    * broadcast back. `sketched = true` is the 100 TB path: bounds
    * from the ONE-PASS mergeable KLL sketch
    * ([[sketchQuantilesByGroup]]) — O(k·log n) state per group at
    * any group size, no narrowing rounds, no cardinality bound (the
    * bounds frame joins without a broadcast hint; AQE picks the
    * side) — at the sketch's spec-pinned rank error. Either way the
    * clamp is a scan-stage least/greatest, and `clipped` rides as
    * evidence.
    */
  def winsorizeByGroup(df: DataFrame, groupCol: String,
                       valueCol: String, lo: Double = 0.05,
                       hi: Double = 0.95,
                       sketched: Boolean = false,
                       sketchK: Int = 200,
                       maxGroups: Int = 100000): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi,
      s"need 0 <= lo < hi <= 1, got [$lo, $hi]")
    val bounds =
      if (sketched) sketchQuantilesByGroup(df, groupCol, valueCol,
        Seq(("__lo", lo), ("__hi", hi)), sketchK)
      else guardedBroadcastFrame(
        df.filter(col(valueCol).isNotNull)
          .groupBy(col(groupCol))
          // one percentile buffer per group for both bounds (r17):
          // separate calls each buffered the group's whole multiset
          .agg(expr(
            s"percentile(CAST(`$valueCol` AS DOUBLE), array($lo, $hi))")
            .as("__b"))
          .select(col(groupCol), col("__b")(0).as("__lo"),
            col("__b")(1).as("__hi")),
        "winsorizeByGroup", maxGroups)
    val boundsSide = if (sketched) bounds else broadcast(bounds)
    val v = col(valueCol).cast("double")
    df.join(boundsSide, Seq(groupCol))
      .withColumn(s"${valueCol}_w",
        least(greatest(v, col("__lo")), col("__hi")))
      .withColumn("clipped", v < col("__lo") || v > col("__hi"))
      .drop("__lo", "__hi")
  }
}
