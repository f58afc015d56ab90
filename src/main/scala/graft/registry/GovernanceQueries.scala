package graft
package registry

import graft.operators._
import org.apache.spark.sql.functions._
import Fixtures._

/** SURVEY.md §2 M: governance and data-quality audits. */
private[graft] object GovernanceQueries extends Family {
  def queries: Seq[Query] = Seq(
    // Benford first-digit audit over order totals — the fabricated-
    // numbers screen; expected ppm are JVM-baked literal ticks
    Query("q_benford_profile", (s, d) =>
      Audit.benfordProfile(T(s, d, "orders"), "o_totalprice"),
      // benford: expected ticks interpolated from the SAME Scala bake
      Some {
        val values = graft.operators.Audit.benfordTicks
          .map { case (d, t) => s"($d, CAST($t AS BIGINT))" }
          .mkString(", ")
        s"""WITH e(digit, benford_ppm) AS (VALUES $values),
           |c AS (SELECT CAST(substring(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
           |CAST(COUNT(*) AS BIGINT) AS n
           |FROM orders WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) >= 1 GROUP BY 1),
           |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c)
           |SELECT e.digit, COALESCE(c.n, CAST(0 AS BIGINT)) AS n,
           |(COALESCE(c.n, CAST(0 AS BIGINT)) * 1000000) // tot.n_total AS obs_ppm,
           |e.benford_ppm,
           |abs((COALESCE(c.n, CAST(0 AS BIGINT)) * 1000000) // tot.n_total - e.benford_ppm) AS dev_ppm
           |FROM e LEFT JOIN c ON e.digit = c.digit, tot""".stripMargin
      }),
    // k-anonymity / l-diversity: quasi-identifiers are segment ×
    // nation × a synthetic 20-bucket zip (custkey % 20 — the
    // linkable-attribute stand-in); sensitive = account balance.
    // Output rows = |equivalence classes|, corpus-size independent
    Query("q_k_anonymity", (s, d) =>
      Audit.kAnonymity(
        T(s, d, "customer").withColumn("zip", col("c_custkey") % 20),
        Seq("c_mktsegment", "c_nationkey", "zip"), "c_acctbal", k = 10),
      // k-anonymity: one grouped pass; class sizes and sensitive
      // diversity are plain integer aggregates
      Some("""SELECT c_mktsegment, c_nationkey, CAST(c_custkey % 20 AS BIGINT) AS zip,
        |CAST(COUNT(*) AS BIGINT) AS class_size,
        |CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
        |COUNT(*) < 10 AS at_risk_k,
        |COUNT(DISTINCT c_acctbal) < 2 AS at_risk_l
        |FROM customer GROUP BY 1, 2, 3""".stripMargin)),
    // referential integrity over two key edges in one report: a
    // damaged dim (customers with custkey%3=0 dropped — the
    // simulated lost-partition) and an intact edge as the control
    Query("q_fk_audit", (s, d) =>
      Audit.referentialIntegrity("orders->customer",
          T(s, d, "orders"), "o_custkey",
          T(s, d, "customer").filter(col("c_custkey") % 3 =!= 0),
          "c_custkey")
        .unionByName(Audit.referentialIntegrity("lineitem->orders",
          T(s, d, "lineitem"), "l_orderkey",
          T(s, d, "orders"), "o_orderkey")),
      // fk audit: orphan membership is NOT IN over the (non-null)
      // parent key set; ppm is long floor-division
      Some("""WITH p1 AS (SELECT DISTINCT c_custkey AS pk FROM customer WHERE c_custkey % 3 <> 0),
        |t1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child, CAST(COUNT(o_custkey) AS BIGINT) AS n_fk FROM orders),
        |o1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_orphan_keys
        |FROM orders WHERE o_custkey IS NOT NULL AND o_custkey NOT IN (SELECT pk FROM p1)),
        |p2 AS (SELECT DISTINCT o_orderkey AS pk FROM orders),
        |t2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child, CAST(COUNT(l_orderkey) AS BIGINT) AS n_fk FROM lineitem),
        |o2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orphan_keys
        |FROM lineitem WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN (SELECT pk FROM p2))
        |SELECT 'orders->customer' AS relation, n_child, n_child - n_fk AS n_null_fk,
        |n_orphans, n_orphan_keys,
        |CASE WHEN n_fk > 0 THEN (n_orphans * 1000000) // n_fk ELSE CAST(0 AS BIGINT) END AS orphan_ppm
        |FROM t1, o1
        |UNION ALL
        |SELECT 'lineitem->orders', n_child, n_child - n_fk, n_orphans, n_orphan_keys,
        |CASE WHEN n_fk > 0 THEN (n_orphans * 1000000) // n_fk ELSE CAST(0 AS BIGINT) END
        |FROM t2, o2""".stripMargin)))
}
