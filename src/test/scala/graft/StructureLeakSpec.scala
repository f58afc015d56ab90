package graft

/** Cached-state leak guard for the structure queries: a long-lived
  * session must not collect persisted RDDs or cached plans from one
  * call to the next. Each query of the benchmark's
  * `structure_interactive` workload (`STRUCTURE_QUERIES` in
  * perfbench/run.py) is built and collected, and the session's
  * persisted RDDs and cache manager must be back at their baseline.
  */
class StructureLeakSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val structureQueries = Seq(
    "q_filter_eq", "q_filter_in", "q_filter_not", "q_project_exclude",
    "q_cast_types", "q_explode_split", "q_collapse_group",
    "q_derive_concat_key", "q_recode_class", "q_scaled_ratio",
    "q_rsa_methods", "q_annotation_agg", "q_sifts_wide", "q_sifts_residues",
    "q_table_merger", "q_filter_structures", "q_centroid", "q_agg_first",
    "q_seq_concat", "q_seq_mismatch", "q_mmcif_fields", "q_mmcif_oper",
    "q_structure_pipeline", "q_dssp_full_chain", "q_range_join_contacts",
    "q_knn_contacts", "q_validation_roundtrip", "q_gff_roundtrip",
    "q_fasta_roundtrip")

  test("the leak guard covers the 29 structure_interactive queries") {
    assert(structureQueries.distinct.length == 29)
    assert(structureQueries.forall(SparkEntry.queries.contains))
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
