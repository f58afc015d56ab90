package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its build over `(session, sf dir)`, the
  * DuckDB SQL that replays it (`None`: the driver's weaker rows-only
  * check), the names it is also registered under, and its tags. The
  * one tag is "structure", on the queries of the benchmark's
  * `structure_interactive` workload. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    aliases: Seq[String] = Nil,
    tags: Set[String] = Set.empty)

/** One SURVEY.md §2 family's queries. */
private[graft] trait Family {
  def queries: Seq[Query]
}
