package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's name set and oracle aliases: a query name is
  * a public contract (callers and bench records key on it), and an
  * alias must replay exactly its base query's oracle SQL. */
class RegistrySpec extends AnyFunSuite {

  test("registry keeps its 262 query names") {
    assert(SparkEntry.queries.keySet.size == 262)
  }

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL for unknown queries: $orphans")
  }

  test("aliased queries share their base query's oracle SQL") {
    val aliases = Seq(
      "q_pack_sequences_range" -> "q_pack_sequences",
      "q_token_budget_mix_range" -> "q_token_budget_mix",
      "q_stratified_sample_range" -> "q_stratified_sample",
      "q_cap_per_group_topk" -> "q_cap_per_group",
      "q_quantiles_scale" -> "q_quantiles",
      "q_dedup_cluster_stars" -> "q_dedup_cluster",
      "q_stateful_sessions" -> "q_sessionize",
      "q_stream_window" -> "q_window_agg_time",
      "q_clustal_roundtrip" -> "q_stockholm_roundtrip")
    val oracle = SparkEntry.oracleSql
    for ((alias, base) <- aliases) {
      assert(oracle.contains(base), s"$base has no oracle")
      assert(oracle.get(alias) == oracle.get(base),
        s"$alias does not share $base's oracle")
    }
  }
}
