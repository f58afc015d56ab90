package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The range-partitioned running sum must be BIT-IDENTICAL to the
  * window form for any bucket count — the whole point of the
  * machinery is that boundaries only balance load. */
class PrefixSumSpec extends SparkSpec {
  import sqlImplicits._

  private def windowSum(df: DataFrame, parts: Seq[String]): DataFrame = {
    val base = if (parts.isEmpty) Window.orderBy(col("ck"), col("id"))
      else Window.partitionBy(parts.map(col): _*)
        .orderBy(col("ck"), col("id"))
    df.withColumn("run", sum(col("v"))
      .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def rangeSum(df: DataFrame, parts: Seq[String],
                       nBuckets: Int): DataFrame =
    PrefixSum.withRunningSum(df, parts, Seq(col("ck"), col("id")),
      col("ck"), col("v"), "run", nBuckets)

  private def sortedRows(df: DataFrame): Seq[(Long, Option[Long])] =
    df.select(col("id"), col("run")).as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq

  test("grouped running sum equals the window form for every bucket count") {
    val rnd = new scala.util.Random(7)
    val df = (1L to 500L).map { i =>
      (i, s"g${rnd.nextInt(3)}", rnd.nextInt(20).toLong, rnd.nextInt(100).toLong)
    }.toDF("id", "g", "ck", "v")
    val expect = sortedRows(windowSum(df, Seq("g")))
    for (nb <- Seq(1, 2, 7, 64, 1000))
      assert(sortedRows(rangeSum(df, Seq("g"), nb)) == expect,
        s"nBuckets=$nb diverged from the window running sum")
  }

  test("ungrouped (driver-offset) path equals the window form, incl. ties") {
    // heavy ties in ck force boundary collisions into shared buckets
    val df = (1L to 300L).map(i => (i, i % 5, i % 13)).toDF("id", "ck", "v")
    val expect = sortedRows(windowSum(df, Seq.empty))
    for (nb <- Seq(1, 3, 16, 64))
      assert(sortedRows(rangeSum(df, Seq.empty, nb)) == expect,
        s"nBuckets=$nb diverged on the tied-key corpus")
  }

  test("null values keep SQL window-sum semantics (null until first value)") {
    val df = Seq(
      (1L, "a", 0L, None), (2L, "a", 0L, None), (3L, "a", 5L, Some(7L)),
      (4L, "a", 9L, None), (5L, "b", 1L, None), (6L, "b", 2L, Some(3L)))
      .toDF("id", "g", "ck", "v")
    val w = Window.partitionBy(col("g")).orderBy(col("ck"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = sortedRows(
      df.withColumn("run", sum(col("v")).over(w)))
    for (nb <- Seq(1, 2, 8)) {
      assert(sortedRows(rangeSum(df, Seq("g"), nb)) == expect,
        s"nBuckets=$nb broke null-prefix semantics")
      // rows 1,2 (all-null prefix) must be null, row 4 must carry 7
      val m = sortedRows(rangeSum(df, Seq("g"), nb)).toMap
      assert(m(1L).isEmpty && m(2L).isEmpty && m(4L).contains(7L))
    }
  }

  test("empty input and single-row input survive the quantile pass") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("id", "ck", "v")
    assert(rangeSum(empty, Seq.empty, 8).count() == 0)
    val one = Seq((1L, 5L, 9L)).toDF("id", "ck", "v")
    assert(sortedRows(rangeSum(one, Seq.empty, 8)) ==
      Seq((1L, Some(9L))))
  }

  test("md5PrefixKey is monotone in md5-hex lexicographic order") {
    val df = (1L to 400L).toDF("id")
      .withColumn("hex", md5(col("id").cast("string")))
      .withColumn("k", PrefixSum.md5PrefixKey(col("id")))
    val rows = df.select("hex", "k").as[(String, Long)].collect()
      .sortBy(_._1)
    assert(rows.sliding(2).forall {
      case Array((_, a), (_, b)) => a <= b
      case _ => true
    })
    assert(rows.forall { case (_, k) => k >= 0 && k < (1L << 48) })
  }

  // hash-order prefix windows: the per-group (md5 hex of id, id)
  // order the token-budget and stratified samplers select by
  private def hashOrder(group: String) =
    Window.partitionBy(col(group))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))

  test("packSequences == the global-window bins (incl. tied lengths)") {
    val rnd = new scala.util.Random(11)
    val df = (1L to 400L).map(i => (i, 1L + rnd.nextInt(8).toLong))
      .toDF("doc_id", "n_tokens")
    val w = Window.orderBy(col("n_tokens").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = df
      .withColumn("bin_id", floor((sum(col("n_tokens")).over(w) -
        col("n_tokens")) / 16L).cast("long"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    for (nb <- Seq(1, 5, 64)) {
      val got = Sampling
        .packSequences(df, "n_tokens", "doc_id", 16L, nb)
        .select("doc_id", "n_tokens", "bin_id")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == expect, s"nBuckets=$nb diverged from the window bins")
    }
  }

  test("tokenBudgetSample == the per-group window keep set") {
    val rnd = new scala.util.Random(13)
    val df = (1L to 600L).map { i =>
      (i, s"src${rnd.nextInt(4)}", 1L + rnd.nextInt(30).toLong)
    }.toDF("doc_id", "source", "n_tokens")
    val before = hashOrder("source")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expect = df
      .withColumn("cum", coalesce(sum(col("n_tokens")).over(before), lit(0L)))
      .filter(col("cum") < 300L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    for (nb <- Seq(1, 4, 64)) {
      val got = Sampling
        .tokenBudgetSample(df, "source", "doc_id", "n_tokens", 300L, nb)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(got == expect, s"nBuckets=$nb diverged from the window keep set")
    }
  }

  test("stratifiedSample == the per-stratum window prefix (exact size)") {
    val rnd = new scala.util.Random(17)
    val df = (1L to 700L).map { i =>
      (i, s"lang${rnd.nextInt(5)}")
    }.toDF("doc_id", "lang")
    // local largest-remainder allocation, then each stratum's first
    // alloc_g rows under the window's hash order
    val n = df.groupBy("lang").count().as[(String, Long)].collect().toMap
    val base = n.map { case (g, c) => g -> 90L * c / 700L }
    val seats = n.toSeq.sortBy { case (g, c) => (-(90L * c % 700L), g) }
      .take((90L - base.values.sum).toInt).map(_._1).toSet
    val alloc = base.map { case (g, b) => g -> (if (seats(g)) b + 1 else b) }
    val expect = df.withColumn("rk", row_number().over(hashOrder("lang")))
      .as[(Long, String, Int)].collect()
      .collect { case (id, g, rk) if rk <= alloc(g) => id }.sorted.toSeq
    assert(expect.size == 90)
    for (nb <- Seq(1, 6, 64)) {
      val got = Sampling.stratifiedSample(df, "lang", "doc_id", 90L, nb)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(got == expect, s"nBuckets=$nb diverged from the window prefix")
    }
  }

  test("a null group key stays one group, as in the window form") {
    val df = Seq((1L, Option("a"), 0L, 5L), (2L, None, 1L, 7L),
      (3L, None, 2L, 1L), (4L, Option("a"), 3L, 2L), (5L, None, 4L, 4L))
      .toDF("id", "g", "ck", "v")
    val expect = sortedRows(windowSum(df, Seq("g")))
    for (nb <- Seq(1, 2, 8))
      assert(sortedRows(rangeSum(df, Seq("g"), nb)) == expect,
        s"nBuckets=$nb dropped or split the null group")
  }

  test("reserved-name collision fails loudly") {
    val df = Seq((1L, 1L, 1L)).toDF("id", "ck", "__bkt")
    val e = intercept[IllegalArgumentException] {
      PrefixSum.withRunningSum(df, Seq.empty, Seq(col("id")),
        col("ck"), col("ck"), "run")
    }
    assert(e.getMessage.contains("__bkt"))
  }
}
