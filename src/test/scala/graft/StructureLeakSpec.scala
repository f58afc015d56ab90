package graft

/** Cached-state leak guard for the structure queries: a long-lived
  * session must not collect persisted RDDs or cached plans from one
  * call to the next. Each query tagged "structure" (the benchmark's
  * `structure_interactive` workload, `STRUCTURE_QUERIES` in
  * perfbench/run.py) is built and collected, and the session's
  * persisted RDDs and cache manager must be back at their baseline.
  */
class StructureLeakSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val structureQueries =
    SparkEntry.records.filter(_.tags("structure")).map(_.name)

  test("the leak guard covers the 29 structure_interactive queries") {
    assert(structureQueries.distinct.length == 29)
    assert(structureQueries.forall(SparkEntry.queries.contains))
  }

  test("the structure tag names exactly the benchmark's STRUCTURE_QUERIES") {
    val runPy = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("perfbench/run.py")), "UTF-8")
    val list = "(?s)\nSTRUCTURE_QUERIES = \\[(.*?)\\]".r
      .findFirstMatchIn(runPy).map(_.group(1))
      .getOrElse(fail("perfbench/run.py has no STRUCTURE_QUERIES list"))
    val benched = "\"(q_\\w+)\"".r.findAllMatchIn(list).map(_.group(1)).toSeq
    assert(benched.length == 29)
    assert(structureQueries.toSet == benched.toSet)
  }

  for (q <- structureQueries)
    test(s"$q leaves no persisted RDD or cached plan behind") {
      // the baseline: no cached plan, and whatever RDDs earlier
      // suites still hold
      spark.catalog.clearCache()
      val rdds0 = persistedRdds
      assert(SparkEntry.queries(q)(spark, sf).collect() != null)
      assert(persistedRdds == rdds0, s"$q left persisted RDDs: " +
        (persistedRdds -- rdds0).mkString(", "))
      assert(noCachedPlans, s"$q left a cached plan")
    }
}
