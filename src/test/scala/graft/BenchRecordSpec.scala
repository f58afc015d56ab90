package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench's per-query profile record, checked against counts taken
  * independently of it, and its isolation of one query from the next.
  */
class BenchRecordSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val planDir = Files.createTempDirectory("graft_bench_plans")

  /** Start from a session that holds no persisted RDD or cached plan,
    * whatever earlier suites left: the record reads the absolute count. */
  private def clean(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def record(
      queries: (String, (SparkSession, String) => DataFrame)*): Seq[Profile] = {
    clean()
    Bench.record(spark, sf, 1, queries, planDir)
  }

  for (q <- Seq("q_knn_contacts", "q_mmcif_fields"))
    test(s"$q: the record's jobs equal countJobs over the build and noop write") {
      val Seq(p) = record(q -> SparkEntry.queries(q))
      val (_, jobs) = countJobs(SparkEntry.queries(q)(spark, sf)
        .write.mode("overwrite").format("noop").save())
      spark.catalog.clearCache()
      assert(p.seconds >= 0)
      assert(p.jobs == jobs, s"record ${p.jobs} vs countJobs $jobs")
      assert(p.persistedRdds == 0)
      assert(p.stages >= 1 && p.tasks >= p.stages && p.sqlExecutions >= 1)
      assert(Files.exists(planDir.resolve(s"$q.txt")))
    }

  // q_assoc_rules joins the distinct (basket, item) pairs with
  // themselves and with their per-item counts: its executed plan reads
  // that pairs exchange once and reuses it (2 ReusedExchange at sf0.001)
  test("q_assoc_rules: reused exchanges in the executed plan are counted") {
    val Seq(p) = record("q_assoc_rules" -> SparkEntry.queries("q_assoc_rules"))
    assert(p.reusedExchanges >= 1)
    assert(p.exchanges >= 1)
    assert(Files.readString(planDir.resolve("q_assoc_rules.txt"))
      .contains("ReusedExchange"))
  }

  test("a throwing query reads -1, is listed as failed, and leaks nothing into the next") {
    val throwing: (SparkSession, String) => DataFrame = (s, _) => {
      s.range(10).cache().count()
      throw new IllegalStateException("query failed on purpose")
    }
    val plain: (SparkSession, String) => DataFrame = (s, _) => s.range(10).toDF()
    val out = record("q_throws" -> throwing, "q_plain" -> plain)
    val Seq(bad, next) = out
    assert(bad.seconds == -1.0)
    assert(Bench.failed(out) == Seq("q_throws"))
    assert(next.seconds >= 0)
    assert(next.persistedRdds == 0)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }
}
