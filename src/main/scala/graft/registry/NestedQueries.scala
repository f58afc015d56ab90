package graft
package registry

import graft.operators._
import graft.sinks.TextRender
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import Fixtures._

/** SURVEY.md §2 K: nested and JSON. */
private[graft] object NestedQueries extends Family {
  def queries: Seq[Query] = Seq(
    Query("q_json_flatten", (s, d) =>
      NestedOps.flattenJson(
        T(s, d, "events").select("event_id", "event_type", "props"),
        "props", StructType(Seq(StructField("k", LongType))))
        .select("event_id", "event_type", "k"),
      Some("""SELECT event_id, event_type,
        |CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |FROM events""".stripMargin)),
    Query("q_nested_flatten", (s, d) =>
      NestedOps.flattenStructs(
        T(s, d, "lineitem").select(col("l_orderkey"),
          struct(col("l_partkey"), col("l_suppkey")).as("ps"),
          struct(col("l_quantity"),
            struct(col("l_extendedprice"), col("l_discount")).as("price"))
            .as("m"))),
      Some("""SELECT l_orderkey, l_partkey AS ps_l_partkey, l_suppkey AS ps_l_suppkey,
        |l_quantity AS m_l_quantity, l_extendedprice AS m_price_l_extendedprice,
        |l_discount AS m_price_l_discount
        |FROM lineitem""".stripMargin)),
    // JSONL (the interchange format of corpus pipelines): render each
    // doc as one JSON line, read back as text + from_json, aggregate
    Query("q_jsonl_roundtrip", (s, d) => {
      val out = roundtripDir("jsonl")
      val docs = T(s, d, "documents")
      TextRender.writeText(
        docs.select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value")), out)
      s.read.text(out)
        .select(from_json(col("value"), docs.schema).as("r"))
        .select("r.*")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_text_len"))
    },
      Some("""SELECT lang, source, COUNT(*) AS n_docs,
        |CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |CAST(SUM(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY lang, source""".stripMargin)))
}
