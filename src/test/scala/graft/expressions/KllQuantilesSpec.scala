package graft.expressions

import graft.SparkSpec
import graft.operators.OrderStats
import org.apache.spark.sql.functions._

/** Rank-error-bound spec for the KLL quantile sketch — the F8
  * recall-harness pattern: measure the sketch against the exact order
  * statistics on adversarial distributions and pin the error. */
class KllQuantilesSpec extends SparkSpec {
  import sqlImplicits._

  private val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  /** Rank error of value v against the target rank floor(q·(n−1)) —
    * the lower bracketing order statistic the sketch's discrete
    * quantile aims at: 0 when v occupies that rank in the ascending
    * multiset, else the distance to the nearest rank v occupies. */
  private def rankError(sorted: IndexedSeq[Double], v: Double,
                        q: Double): Double = {
    val n = sorted.length
    val target = math.floor(q * (n - 1).toDouble)
    val lo = sorted.count(_ < v) // first rank v could occupy
    val hi = sorted.count(_ <= v) - 1 // last rank v occupies
    if (target < lo) lo - target
    else if (target > hi) target - hi
    else 0.0
  }

  private def sketchOnce(vals: Seq[Double], k: Int,
                         parts: Int): Seq[Double] = {
    val df = vals.map(v => ("g", v)).toDF("g", "v").repartition(parts)
    val out = OrderStats.sketchQuantilesByGroup(df, "g", "v",
      qs.zipWithIndex.map { case (q, i) => (s"q$i", q) }, k)
      .collect()
    assert(out.length == 1)
    qs.indices.map(i => out(0).getDouble(i + 1))
  }

  test("exact (true order statistic) while the group fits level 0") {
    // level-0 capacity at k=200 with one level is >= 8 and grows to
    // 200 as the top; 100 values never trigger a compaction
    val vals = (1 to 100).map(_.toDouble)
    val got = sketchOnce(scala.util.Random.shuffle(vals), k = 200,
      parts = 1)
    val sorted = vals.toIndexedSeq
    qs.zip(got).foreach { case (q, v) =>
      assert(rankError(sorted, v, q) == 0.0,
        s"q=$q returned $v — not the covering order statistic")
    }
  }

  test("rank error <= 1% of n at k=200 on adversarial distributions") {
    val n = 50000
    val rnd = new scala.util.Random(17)
    val dists: Seq[(String, Seq[Double])] = Seq(
      "uniform" -> Seq.fill(n)(rnd.nextDouble()),
      "zipf" -> Seq.fill(n)(1.0 / (1 + rnd.nextInt(50))),
      "sorted" -> (1 to n).map(_.toDouble),
      "reversed" -> (n to 1 by -1).map(_.toDouble),
      "constant-heavy" -> Seq.fill(n)(if (rnd.nextInt(10) == 0)
        rnd.nextDouble() else 7.0))
    for ((name, vals) <- dists; parts <- Seq(1, 32)) {
      val got = sketchOnce(vals, k = 200, parts = parts)
      val sorted = vals.sorted.toIndexedSeq
      qs.zip(got).foreach { case (q, v) =>
        val err = rankError(sorted, v, q) / n
        assert(err <= 0.01,
          s"$name/parts=$parts q=$q: rank error ${err * n} (${err * 100}%)")
      }
    }
  }

  test("merge across partitions conserves weight and count") {
    val vals = (1 to 20000).map(_.toDouble)
    val a = new KllBuffer(64)
    val b = new KllBuffer(64)
    vals.take(10000).foreach(a.insert)
    vals.drop(10000).foreach(b.insert)
    a.merge(b)
    assert(a.n == 20000L)
    // median of 1..20000 must land within 1% rank error even at k=64
    val med = a.quantile(0.5)
    assert(math.abs(med - 10000.0) <= 0.02 * 20000,
      s"post-merge median $med")
  }

  test("serialization round-trips the full compactor state") {
    val buf = new KllBuffer(32)
    (1 to 5000).foreach(i => buf.insert((i % 97).toDouble))
    val back = KllBuffer.fromBytes(buf.toBytes)
    assert(back.n == buf.n)
    qs.foreach(q => assert(back.quantile(q) == buf.quantile(q)))
  }

  test("null handling: nulls ignored, all-null group evals to null") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("b", None)).toDF("g", "v")
    val out = df.groupBy("g")
      .agg(KllQuantiles.kllQuantiles(col("v"), Seq(0.5), 16).as("s"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("a").nonEmpty)
    assert(out("b").isEmpty)
  }

  test("winsorizeByGroup(sketched): clamps to sketch bounds, " +
    "bounds within 1% rank error of exact") {
    val rnd = new scala.util.Random(7)
    val n = 20000
    val df = (1 to n).map(i => ("g", rnd.nextDouble() * 100)).toDF("g", "v")
      .repartition(16)
    val out = OrderStats.winsorizeByGroup(df, "g", "v",
      lo = 0.05, hi = 0.95, sketched = true)
    val rows = out.collect()
    assert(rows.length == n)
    val wmin = rows.map(_.getAs[Double]("v_w")).min
    val wmax = rows.map(_.getAs[Double]("v_w")).max
    val sorted = rows.map(_.getAs[Double]("v")).sorted.toIndexedSeq
    // the clamp bounds ARE retained values within 1% rank error
    assert(rankError(sorted, wmin, 0.05) / n <= 0.01, s"lo bound $wmin")
    assert(rankError(sorted, wmax, 0.95) / n <= 0.01, s"hi bound $wmax")
    // every value inside the band is untouched
    rows.foreach { r =>
      val v = r.getAs[Double]("v")
      if (v >= wmin && v <= wmax)
        assert(r.getAs[Double]("v_w") == v && !r.getAs[Boolean]("clipped"))
    }
  }

  test("robustOutliersByGroup(sketched): flags the contaminated tail " +
    "with median/MAD within sketch error") {
    val rnd = new scala.util.Random(3)
    // tight cluster at ~50 plus a 1% far tail at 1e6
    val data = (1 to 30000).map { i =>
      ("g", if (i % 100 == 0) 1e6 else 50.0 + rnd.nextDouble())
    }
    val df = data.toDF("g", "v").repartition(16)
    val row = OrderStats.robustOutliersByGroup(df, "g", "v", k = 5.0,
      sketched = true).collect().head
    assert(row.getAs[Long]("n") == 30000L)
    assert(math.abs(row.getAs[Double]("med") - 50.5) < 1.0)
    assert(row.getAs[Long]("n_outliers") == 300L)
  }

  test("stored states: daily kll_state rows merge to the range's " +
    "quantiles without touching history") {
    // 10 "days" × 30 values each, all under the exact regime
    // (n = 300 < k = 512's level-0 capacity): the merged-state
    // quantiles must EQUAL the covering order statistics — exactness
    // survives the store/merge hop, not just the one-shot aggregate
    val rnd = new scala.util.Random(23)
    val vals = scala.util.Random.shuffle((1 to 300).map(_.toDouble))
    val rows = vals.zipWithIndex.map { case (v, i) => (i % 10, v) }
    val daily = rows.toDF("day", "v")
      .groupBy("day")
      .agg(KllQuantiles.state(col("v"), k = 512).as("st"))
    assert(daily.count() == 10L) // one bounded state row per day
    val merged = daily
      .agg(KllQuantiles.mergeQuantiles(col("st"),
        Seq(0.1, 0.5, 0.9)).as("qs"))
      .select(element_at(col("qs"), 1), element_at(col("qs"), 2),
        element_at(col("qs"), 3))
      .as[(Double, Double, Double)].head()
    val sorted = vals.sorted.toIndexedSeq
    for ((q, v) <- Seq(0.1, 0.5, 0.9).zip(
        Seq(merged._1, merged._2, merged._3)))
      assert(rankError(sorted, v, q) == 0.0, s"q=$q -> $v")
    // a partial range (days 0-4) answers from its states alone
    val part = daily.filter(col("day") < 5)
      .agg(KllQuantiles.mergeQuantiles(col("st"), Seq(0.5)).as("qs"))
      .select(element_at(col("qs"), 1)).as[Double].head()
    val partSorted = rows.filter(_._1 < 5).map(_._2).sorted.toIndexedSeq
    assert(rankError(partSorted, part, 0.5) == 0.0)
    // beyond the exact regime the bound still holds at store+merge
    val big = Seq.fill(40000)(rnd.nextDouble()).zipWithIndex
      .map { case (v, i) => (i % 10, v) }
    val bigMerged = big.toDF("day", "v").repartition(16)
      .groupBy("day").agg(KllQuantiles.state(col("v"), 200).as("st"))
      .agg(KllQuantiles.mergeQuantiles(col("st"), Seq(0.5)).as("qs"))
      .select(element_at(col("qs"), 1)).as[Double].head()
    val bigSorted = big.map(_._2).sorted.toIndexedSeq
    assert(rankError(bigSorted, bigMerged, 0.5) / 40000 <= 0.01)
  }

  test("exact paths fail LOUD past maxGroups group keys") {
    val df = (1 to 50).map(i => (s"k$i", i.toDouble)).toDF("g", "v")
    val eW = intercept[IllegalArgumentException] {
      OrderStats.winsorizeByGroup(df, "g", "v", maxGroups = 10)
    }
    assert(eW.getMessage.contains("winsorizeByGroup") &&
      eW.getMessage.contains("50"))
    val eR = intercept[IllegalArgumentException] {
      OrderStats.robustOutliersByGroup(df, "g", "v", maxGroups = 10)
    }
    assert(eR.getMessage.contains("robustOutliersByGroup") &&
      eR.getMessage.contains("50"))
    // the sketch path has NO cardinality bound — same frame succeeds
    assert(OrderStats.robustOutliersByGroup(df, "g", "v",
      sketched = true).count() == 50L)
    assert(OrderStats.winsorizeByGroup(df, "g", "v",
      sketched = true).count() == 50L)
  }
}
