package graft

import graft.operators.Aggregations
import graft.registry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Driver contract — one `queries` entry per SURVEY.md §2 row, with
  * DuckDB-runnable `oracleSql` for every SQL-expressible row. Both
  * maps are views of the [[registry.Query]] records, one file per
  * family under `graft.registry`.
  *
  * Determinism rules (SURVEY §5): money doubles accumulate as
  * decimals; averages are decimal-sum / count (identical IEEE
  * division in both engines); int-like derived outputs are cast to
  * bigint to match DuckDB's BIGINT; timestamps surface as epoch
  * micros; top-k ties break on id.
  */
object SparkEntry {

  /** Every registered query, family by family in SURVEY.md §2 order.
    * The list is explicit: an object that nothing touches is never
    * initialised, so families could not register themselves. */
  private[graft] lazy val records: Seq[Query] = {
    val all = Seq(RelationalQueries, AggregationQueries, JoinQueries,
      WindowQueries, StreamingQueries, DedupQueries, SimilarityQueries,
      TextQueries, MultimodalQueries, SourceQueries, NestedQueries,
      SamplingQueries, GovernanceQueries).flatMap(_.queries)
    val names = all.flatMap(q => q.name +: q.aliases)
    val twice = names.diff(names.distinct)
    require(twice.isEmpty, s"query names registered twice: $twice")
    all
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregations.pricingSummary(
      Fixtures.T(spark, "/root/testdata/sf0.001", "lineitem")
        .filter(col("l_shipdate") <= expr("timestamp'1998-09-02 00:00:00'")))

  /** One per implemented operator from SURVEY.md §2; an alias runs
    * its base query's build. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName(q => Some(q.build))

  /** DuckDB oracle SQL per SQL-expressible query (driver runs these
    * on the same parquet tables and hash-compares); an alias shares
    * its base query's. Omitted keys get the driver's weaker
    * rows-only check. */
  lazy val oracleSql: Map[String, String] = byName(_.oracle)

  private def byName[V](field: Query => Option[V]): Map[String, V] =
    (for (q <- records; v <- field(q).toSeq; n <- q.name +: q.aliases)
      yield n -> v).toMap
}
