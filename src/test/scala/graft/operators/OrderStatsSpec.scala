package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OrderStatsSpec extends SparkSpec {
  import sqlImplicits._

  test("kthLargest matches the sorted reference on longs with duplicates") {
    val vals = Seq(5L, 3L, 9L, 9L, 1L, 7L, 3L, 9L)
    val df = vals.toDF("w")
    val sorted = vals.sorted(Ordering[Long].reverse)
    for (k <- 1 to vals.length) {
      val (v, cGt) = OrderStats.kthLargest(df, "w", k.toLong)
      assert(v == sorted(k - 1), s"value at k=$k")
      assert(cGt == sorted.count(_ > sorted(k - 1)), s"countGreater at k=$k")
    }
  }

  test("kthLargest converges through the quantile-narrowing loop") {
    // exactFinishRows far below the row count forces the pivot path
    val vals = (1 to 500).map(_.toLong)
    val df = vals.toDF("w").repartition(8)
    for (k <- Seq(1L, 7L, 250L, 500L)) {
      val (v, cGt) = OrderStats.kthLargest(df, "w", k,
        relErr = 0.05, exactFinishRows = 20L)
      assert(v == 501L - k && cGt == k - 1, s"k=$k got ($v, $cGt)")
    }
  }

  test("kthLargest: degenerate all-equal band resolves via the bracket walk") {
    val df = Seq.fill(300)(42L).toDF("w")
    val (v, cGt) = OrderStats.kthLargest(df, "w", 150L,
      exactFinishRows = 10L)
    assert(v == 42L && cGt == 0L)
  }

  test("kthLargest resolves longs beyond 2^53 exactly (double-collision band)") {
    // Long.MaxValue-{0,1,2,3} all collapse to the same double (ulp
    // 1024 at 2^63) — the quantile pivot can't separate them, the
    // bracket walk must, reading back exact longs
    val top = Long.MaxValue
    val vals = Seq(top, top - 1, top - 2, top - 3, 5L, 1L)
    val df = vals.toDF("w")
    for ((k, want) <- Seq(1 -> top, 2 -> (top - 1), 3 -> (top - 2),
      4 -> (top - 3), 5 -> 5L)) {
      val (v, cGt) = OrderStats.kthLargest(df, "w", k.toLong,
        exactFinishRows = 2L)
      assert(v == want && cGt == k - 1, s"k=$k got ($v, $cGt)")
    }
  }

  test("kthLargest on doubles returns the exact data value") {
    val vals = Seq(0.1, 0.7, 0.7, 0.3, 0.9)
    val df = vals.toDF("w")
    assert(OrderStats.kthLargest(df, "w", 1L)._1 == 0.9)
    assert(OrderStats.kthLargest(df, "w", 3L) == ((0.7, 1L)))
    assert(OrderStats.kthLargest(df, "w", 5L) == ((0.1, 4L)))
  }

  test("kthLargest ignores nulls and rejects out-of-range k") {
    val df = Seq(Some(4L), None, Some(2L)).toDF("w")
    assert(OrderStats.kthLargest(df, "w", 2L)._1 == 2L)
    intercept[IllegalArgumentException] {
      OrderStats.kthLargest(df, "w", 3L) // only 2 non-null rows
    }
    intercept[IllegalArgumentException] {
      OrderStats.kthLargest(df, "w", 0L)
    }
  }

  test("kthLargestByGroup equals the per-group sorted reference") {
    val rnd = new scala.util.Random(67)
    val groups = Seq("en", "de", "fr", null)
    val data = groups.flatMap { g =>
      val n = 40 + rnd.nextInt(60)
      // duplicate-heavy: values drawn from a small grid
      (0 until n).map(_ => (g, (rnd.nextInt(12) * 0.25) + 0.125))
    }
    val df = data.toDF("g", "v")
    val byGrp = data.groupBy(_._1)
    val targets = groups.flatMap { g =>
      val n = byGrp(g).size.toLong
      Seq((g: Any, (n + 2) / 3), (g: Any, (2 * n + 2) / 3), (g: Any, 1L),
        (g: Any, n))
    }.distinct
    val got = OrderStats.kthLargestByGroup(df, "g", "v", targets)
    for ((g, k) <- targets) {
      val sorted = byGrp(g.asInstanceOf[String]).map(_._2)
        .sorted(Ordering[Double].reverse)
      assert(got((g, k)) == sorted(k.toInt - 1), s"group $g k=$k")
    }
  }

  test("kthLargestByGroup converges through batched narrowing rounds") {
    val rnd = new scala.util.Random(71)
    val data = Seq("a", "b").flatMap { g =>
      (0 until 3000).map(_ => (g, rnd.nextDouble()))
    }
    val df = data.toDF("g", "v")
    val byGrp = data.groupBy(_._1)
    val targets: Seq[(Any, Long)] =
      Seq(("a", 17L), ("a", 1500L), ("b", 2999L), ("b", 700L))
    // tiny exactFinishRows forces several grid-narrowing rounds and
    // mixed walk/narrow batches before any band walks
    val got = OrderStats.kthLargestByGroup(df, "g", "v", targets,
      exactFinishRows = 64L)
    for ((g, k) <- targets) {
      val sorted = byGrp(g.asInstanceOf[String]).map(_._2)
        .sorted(Ordering[Double].reverse)
      assert(got((g, k)) == sorted(k.toInt - 1), s"group $g k=$k")
    }
  }

  test("selectTopN equals the global-sort definition incl. boundary ties") {
    // the cutoff falls inside the 20-tie group: ids 2,3 admitted, 4 not
    val df = Seq((1L, 10L), (2L, 20L), (3L, 20L), (4L, 20L),
      (5L, 30L), (6L, 5L)).toDF("doc_id", "w")
    val out = OrderStats.selectTopN(df, 3L, "w", "doc_id")
      .select("doc_id", "selected").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> true,
      4L -> false, 5L -> true, 6L -> false))
  }

  test("selectTopN property: random multisets match the sorted reference") {
    val rnd = new scala.util.Random(12345)
    for (trial <- 1 to 3) {
      val rows = (1L to 200L).map(id => (id, rnd.nextInt(20).toLong))
      val n = 1L + rnd.nextInt(199)
      val expect = rows.sortBy { case (id, w) => (-w, id) }
        .take(n.toInt).map(_._1).toSet
      val got = OrderStats.selectTopN(rows.toDF("doc_id", "w"), n, "w",
          "doc_id", relErr = 0.1, exactFinishRows = 16L)
        .filter(col("selected")).select("doc_id").as[Long].collect().toSet
      assert(got == expect, s"trial $trial n=$n")
    }
  }

  test("selectTopN edges: n<=0, n>=non-null total, nulls never selected") {
    val df = Seq((1L, Some(1L)), (2L, None: Option[Long]))
      .toDF("doc_id", "w")
    assert(OrderStats.selectTopN(df, 0L, "w", "doc_id")
      .filter(col("selected")).count() == 0)
    val all = OrderStats.selectTopN(df, 5L, "w", "doc_id")
      .select("doc_id", "selected").as[(Long, Boolean)].collect().toMap
    assert(all == Map(1L -> true, 2L -> false))
    val one = OrderStats.selectTopN(df, 1L, "w", "doc_id")
      .select("doc_id", "selected").as[(Long, Boolean)].collect().toMap
    assert(one == Map(1L -> true, 2L -> false))
    // a null weight through the MAIN (kthLargest) path is false, not null
    val df2 = Seq((1L, Some(10L)), (2L, Some(20L)),
      (3L, None: Option[Long]), (4L, Some(5L))).toDF("doc_id", "w")
    val two = OrderStats.selectTopN(df2, 2L, "w", "doc_id")
      .select("doc_id", "selected").as[(Long, Boolean)].collect().toMap
    assert(two == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
  }

  test("quantilesByGroup is bit-identical to the percentile() aggregate") {
    val rnd = new scala.util.Random(29)
    // adversarial mix: tiny groups (n=1, n=2), duplicate-heavy
    // values, negative values, a null sprinkle
    val rows = Seq(("solo", Some(7.25)), ("pair", Some(1.0)),
        ("pair", Some(2.0)), ("nulls", None), ("nulls", Some(3.5))) ++
      (0 until 400).map(i => (s"g${i % 3}",
        if (i % 37 == 0) None
        else Some((rnd.nextInt(20) - 10) * (if (i % 2 == 0) 1.0 else 0.25))))
    val df = rows.toDF("grp", "v")
    val qs = Seq("p10" -> 0.10, "p50" -> 0.50, "p95" -> 0.95, "p100" -> 1.0)
    val exact = df.groupBy("grp")
      .agg(expr("percentile(v, 0.10)").as("p10"),
        expr("percentile(v, 0.50)").as("p50"),
        expr("percentile(v, 0.95)").as("p95"),
        expr("percentile(v, 1.0)").as("p100"))
      .as[(String, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    val scale = graft.operators.OrderStats
      .quantilesByGroup(df, "grp", "v", qs)
      .as[(String, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(scale.sameElements(exact))
  }

  test("selectTopNByGroup equals the per-group window definition incl. ties") {
    import sqlImplicits._
    val rnd = new scala.util.Random(17)
    (1 to 4).foreach { trial =>
      // small weight range → plenty of boundary ties per group
      val rows = (1 to rnd.nextInt(400) + 100).map { i =>
        (i.toLong, s"g${rnd.nextInt(4)}",
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(8).toLong))
      }
      val n = rnd.nextInt(20) + 1
      val df = rows.toDF("id", "g", "w")
      val got = OrderStats.selectTopNByGroup(df, n, "w", "id", "g")
        .filter(col("selected")).select("id").as[Long].collect().toSet
      val expect = rows.collect { case (id, g, Some(w)) => (id, g, w) }
        .groupBy(_._2).values.flatMap { ms =>
          ms.sortBy { case (id, _, w) => (-w, id) }.take(n).map(_._1)
        }.toSet
      assert(got == expect, s"trial $trial n=$n")
    }
  }

  test("selectTopNByGroup: narrowing rounds, edges, null group") {
    import sqlImplicits._
    val rows = (1 to 3000).map(i =>
      (i.toLong, if (i % 7 == 0) null else s"g${i % 3}", i.toLong * 13 % 997))
    val df = rows.toDF("id", "g", "w")
    // tiny exactFinishRows forces real narrowing rounds per group
    val got = OrderStats.selectTopNByGroup(df, 25, "w", "id", "g",
        exactFinishRows = 8L)
      .filter(col("selected")).select("id").as[Long].collect().toSet
    val expect = rows.filter(_._2 != null).groupBy(_._2).values.flatMap {
      ms => ms.sortBy { case (id, _, w) => (-w, id) }.take(25).map(_._1)
    }.toSet
    assert(got == expect)
    // null group rows never selected
    assert(!got.exists(_ % 7 == 0))
    // n = 0 selects nothing; n >= group sizes selects every eligible row
    assert(OrderStats.selectTopNByGroup(df, 0, "w", "id", "g")
      .filter(col("selected")).count() == 0)
    assert(OrderStats.selectTopNByGroup(df, 100000, "w", "id", "g")
      .filter(col("selected")).count() == rows.count(_._2 != null))
  }

  test("driver-bounded-groups contract fails LOUD with the measured " +
    "count, not an eventual driver OOM") {
    val df = (1L to 40L).map(i => (s"g$i", i.toDouble))
      .toDF("grp", "v")
    val eQ = intercept[IllegalArgumentException](
      OrderStats.quantilesByGroup(df, "grp", "v",
        Seq("p50" -> 0.5), maxGroups = 10))
    assert(eQ.getMessage.contains("quantilesByGroup") &&
      eQ.getMessage.contains("bounded at 10") &&
      eQ.getMessage.contains("measured 40"), eQ.getMessage)
    val eT = intercept[IllegalArgumentException](
      OrderStats.selectTopNByGroup(
        df.withColumn("id", monotonically_increasing_id()),
        1, "v", "id", "grp", maxGroups = 10))
    assert(eT.getMessage.contains("selectTopNByGroup") &&
      eT.getMessage.contains("measured 40"), eT.getMessage)
    // under the cap: unchanged behavior
    assert(OrderStats.quantilesByGroup(df, "grp", "v",
      Seq("p50" -> 0.5), maxGroups = 40).count() == 40)
  }

  test("robustOutliersByGroup: median/MAD flagging with hand-checked values") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("a", 100.0), ("b", 10.0), ("b", 10.0), ("b", 10.0))
      .toDF("g", "v")
    val out = OrderStats.robustOutliersByGroup(df, "g", "v", k = 5.0)
      .orderBy("g")
      .select("g", "n", "med", "mad", "n_outliers", "out_ppm")
      .as[(String, Long, Double, Double, Long, Long)].collect().toSeq
    // a: med 3, devs [2,1,0,1,97] -> mad 1; only 97 > 5*1 -> 1/5
    // b: constant group -> mad 0; dev 0 > 0 is FALSE (strict) -> 0
    assert(out == Seq(("a", 5L, 3.0, 1.0, 1L, 200000L),
      ("b", 3L, 10.0, 0.0, 0L, 0L)))
  }

  test("robustOutliersByGroup: the mean/zscore failure case stays robust") {
    // one 1e9 point drags a mean past every inlier; the median moves
    // one rank and only the planted point flags
    val df = ((1 to 99).map(i => ("g", i.toDouble)) :+ (("g", 1e9)))
      .toDF("g", "v")
    val row = OrderStats.robustOutliersByGroup(df, "g", "v", k = 5.0)
      .select("n", "n_outliers").as[(Long, Long)].head()
    assert(row == ((100L, 1L)))
  }

  test("winsorizeByGroup clamps to the exact band and flags clips") {
    val df = Seq(("g", 1L, 0.0), ("g", 2L, 10.0), ("g", 3L, 20.0),
      ("g", 4L, 30.0), ("g", 5L, 1000.0)).toDF("grp", "id", "v")
    // p25 = 10, p75 = 30 over [0,10,20,30,1000]
    val out = OrderStats.winsorizeByGroup(df, "grp", "v",
        lo = 0.25, hi = 0.75)
      .orderBy("id").select("id", "v_w", "clipped")
      .as[(Long, Double, Boolean)].collect().toSeq
    assert(out == Seq((1L, 10.0, true), (2L, 10.0, false),
      (3L, 20.0, false), (4L, 30.0, false), (5L, 30.0, true)))
  }
}
