package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Structural budget of every registered query at sf0.001: the jobs
  * and exchanges of Bench's profile record may not go above the
  * committed budget, `bench_budget_sf0.001.json`. Wall time on a
  * shared host swings 2-5x; these counts do not, so they gate plan
  * and scheduling regressions. */
class BenchBudgetSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val budget: Map[String, Map[String, Long]] = {
    val in = getClass.getResourceAsStream("/bench_budget_sf0.001.json")
    try new ObjectMapper().readTree(in).properties.asScala.map { e =>
      e.getKey -> e.getValue.properties.asScala
        .map(c => c.getKey -> c.getValue.asLong).toMap
    }.toMap
    finally in.close()
  }

  test("the budget names every registered query") {
    assert(budget.keySet == SparkEntry.queries.keySet)
  }

  test("every registered query runs within its jobs and exchanges budget") {
    spark.catalog.clearCache()
    val out = Bench.record(spark, sf, 1, SparkEntry.queries.toSeq,
      Files.createTempDirectory("graft_bench_plans"))
    assert(Bench.failed(out).isEmpty, s"failed: ${Bench.failed(out)}")
    val over = for {
      p <- out
      (counter, count) <- Seq("jobs" -> p.jobs, "exchanges" -> p.exchanges)
      limit = budget(p.name)(counter)
      if count > limit
    } yield s"${p.name}: $counter $count > budget $limit"
    assert(over.isEmpty, over.mkString("over budget:\n", "\n", ""))
  }
}
