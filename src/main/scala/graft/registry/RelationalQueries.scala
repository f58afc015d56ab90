package graft
package registry

import graft.operators._
import graft.sources.StructureFormats
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import Fixtures._

/** SURVEY.md §2 A: core relational: ProteoFAV utils and table filters. */
private[graft] object RelationalQueries extends Family {
  def queries: Seq[Query] = Seq(
    Query("q_filter_eq", tags = Set("structure"), build = (s, d) =>
      RowOps.rowSelector(T(s, d, "lineitem"), "l_returnflag", Seq("R"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
          "l_extendedprice"),
      oracle = Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin)),
    Query("q_filter_in", tags = Set("structure"), build = (s, d) =>
      RowOps.rowSelector(T(s, d, "orders"), "o_orderpriority",
          Seq("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"),
      oracle = Some("""SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin)),
    Query("q_filter_not", tags = Set("structure"), build = (s, d) =>
      RowOps.rowSelector(T(s, d, "customer"), "c_mktsegment",
          Seq("BUILDING", "MACHINERY"), reverse = true)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
      oracle = Some("""SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')""".stripMargin)),
    Query("q_project_exclude", tags = Set("structure"), build = (s, d) =>
      RowOps.excludeColumns(T(s, d, "part"), Seq("p_retailprice", "p_type")),
      oracle = Some("SELECT p_partkey, p_name, p_brand, p_size FROM part")),
    Query("q_cast_types", tags = Set("structure"), build = (s, d) =>
      RowOps.constrainColumnTypes(
        T(s, d, "supplier").withColumn("s_acctbal",
          when(col("s_acctbal") < 0, lit(null)).otherwise(col("s_acctbal"))),
        casts = Map("s_suppkey" -> org.apache.spark.sql.types.DoubleType,
          "s_nationkey" -> LongType),
        fills = Map("s_acctbal" -> 0.0)),
      oracle = Some("""SELECT CAST(s_suppkey AS DOUBLE) AS s_suppkey, s_name,
        |CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |COALESCE(CASE WHEN s_acctbal < 0 THEN NULL ELSE s_acctbal END, 0.0) AS s_acctbal
        |FROM supplier""".stripMargin)),
    Query("q_explode_split", tags = Set("structure"), build = (s, d) =>
      RowOps.splitUpByKey(
        T(s, d, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderpriority", "-", "element"),
      oracle = Some("""SELECT o_orderkey, unnest(string_split(o_orderpriority, '-')) AS element
        |FROM orders""".stripMargin)),
    Query("q_collapse_group", tags = Set("structure"), build = (s, d) =>
      RowOps.mergeDownByKey(
        T(s, d, "orders").select("o_orderstatus", "o_orderpriority"),
        Seq("o_orderstatus")),
      oracle = Some("""SELECT o_orderstatus, string_agg(o_orderpriority, ';' ORDER BY o_orderpriority) AS o_orderpriority
        |FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        |GROUP BY o_orderstatus""".stripMargin)),
    Query("q_derive_concat_key", tags = Set("structure"), build = (s, d) =>
      RowOps.deriveConcatKey(
        T(s, d, "lineitem").select("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_linenumber"), "res_full"),
      oracle = Some("""SELECT l_orderkey, l_linenumber,
        |CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS res_full
        |FROM lineitem""".stripMargin)),
    Query("q_recode_class", tags = Set("structure"), build = (s, d) =>
      RowOps.recodeByThresholds(
        T(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity"),
        "l_quantity", "qty_class", Seq(10.0, 25.0),
        Seq("low", "mid", "high")),
      oracle = Some("""SELECT l_orderkey, l_linenumber, l_quantity,
        |CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 25 THEN 'mid' ELSE 'high' END AS qty_class
        |FROM lineitem""".stripMargin)),
    Query("q_scaled_ratio", tags = Set("structure"), build = (s, d) =>
      RowOps.scaledRatio(
        T(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
        "l_quantity", "l_returnflag",
        Map("A" -> 17.0, "N" -> 23.5, "R" -> 31.0), "qty_rsa"),
      oracle = Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |l_quantity / (CASE l_returnflag WHEN 'A' THEN CAST(17.0 AS DOUBLE) WHEN 'N' THEN CAST(23.5 AS DOUBLE) WHEN 'R' THEN CAST(31.0 AS DOUBLE) END) * CAST(100.0 AS DOUBLE) AS qty_rsa
        |FROM lineitem""".stripMargin)),
    // BioUnits chain re-lettering (dssp.py:153-196) as a per-file
    // window recode: synthesized DSSP-ish rows from orders (chain
    // flips every 37 rows, '!*' markers every 11 — so markers inside
    // a chain run increment the copy counter and markers straddling a
    // flip reset it, and counters climb past 36 to exercise the
    // two-char AA.. suffixes), run through dsspFullChain; the oracle
    // re-derives the same recode with window sums
    Query("q_dssp_full_chain", tags = Set("structure"), build = (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w0 = Window.partitionBy("file_id").orderBy("line_no")
      val syn = T(s, d, "orders")
        .select((col("o_orderkey") % 8).as("file_id"),
          col("o_orderkey").as("line_no"))
        .withColumn("r", row_number().over(w0))
        .select(col("file_id"), col("line_no"),
          lit("ABCD").substr(
            (floor(col("r") / 37.0).cast("int") % 4) + 1, lit(1)).as("chain"),
          when(col("r") % 11 === 0, "!*")
            .when(col("r") % 23 === 0, "!")
            .otherwise(lit("ARNDCQEGHILKMFPSTWYV").substr(
              (col("r") % 20).cast("int") + 1, lit(1))).as("aa"))
      StructureFormats.dsspFullChain(syn, fileCol = "file_id",
          orderCol = "line_no", chainCol = "chain", aaCol = "aa",
          as = "chain_full")
        .select("file_id", "line_no", "chain", "aa", "chain_full")
    },
      oracle = Some("""WITH base AS (
        |SELECT o_orderkey % 8 AS file_id, o_orderkey AS line_no,
        |row_number() OVER (PARTITION BY o_orderkey % 8 ORDER BY o_orderkey) AS r
        |FROM orders),
        |syn AS (
        |SELECT file_id, line_no,
        |substr('ABCD', (CAST(FLOOR(r / 37.0) AS INT) % 4) + 1, 1) AS chain,
        |CASE WHEN r % 11 = 0 THEN '!*' WHEN r % 23 = 0 THEN '!'
        |ELSE substr('ARNDCQEGHILKMFPSTWYV', CAST(r % 20 AS INT) + 1, 1) END AS aa
        |FROM base),
        |nbr AS (
        |SELECT *, (lag(chain) OVER (PARTITION BY file_id ORDER BY line_no)
        |IS NOT DISTINCT FROM lead(chain) OVER (PARTITION BY file_id ORDER BY line_no)) AS same_nbr
        |FROM syn),
        |marks AS (
        |SELECT *, CASE WHEN aa = '!*' AND same_nbr THEN 1 ELSE 0 END AS inc,
        |CASE WHEN aa = '!*' AND NOT same_nbr THEN 1 ELSE 0 END AS rst
        |FROM nbr),
        |grps AS (
        |SELECT *, SUM(rst) OVER (PARTITION BY file_id ORDER BY line_no ROWS UNBOUNDED PRECEDING) AS grp
        |FROM marks),
        |cs AS (
        |SELECT *, SUM(inc) OVER (PARTITION BY file_id, grp ORDER BY line_no ROWS UNBOUNDED PRECEDING) - 1 AS c
        |FROM grps)
        |SELECT file_id, line_no, chain, aa,
        |CASE WHEN c >= 0 AND aa NOT IN ('!', '!*') THEN chain ||
        |CASE WHEN c < 36 THEN substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789', CAST(c AS INT) + 1, 1)
        |WHEN c < 72 THEN 'A' || substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789', CAST(c AS INT) - 35, 1)
        |ELSE 'B' || substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789', CAST(c AS INT) - 71, 1) END
        |ELSE chain END AS chain_full
        |FROM cs""".stripMargin)),
    // mmCIF→DSSP chain-id import (dssp.py:114-133): synthesized DSSP
    // rows ('!' breaks every 13th) aligned positionally against a
    // synthesized cif residue list with per-row chains; the REAL
    // operator runs (per-file windows + position equi-join + eager
    // consistency gate) while the oracle derives the imported chains
    // relationally — alignment is the identity by construction, so
    // any positional drift in the operator breaks the hash match
    Query("q_dssp_chain_import", (s, d) => {
      val three = sources.Library.toSingleAa.map(_.swap)
      val threeMap = map(three.toSeq
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      val base = T(s, d, "orders").select(
        (col("o_orderkey") % 4).as("file"), col("o_orderkey").as("line"),
        when(col("o_orderkey") % 13 === 0, "!")
          .otherwise(lit("ARNDCQEGHILKMFPSTWYV").substr(
            (col("o_orderkey") % 20).cast("int") + 1, lit(1))).as("AA"),
        lit("A").as("CHAIN"))
      val cif = base.filter(col("AA") =!= "!").select(col("file"),
        col("line").as("id"),
        element_at(threeMap, col("AA")).as("auth_comp_id"),
        lit("XYZ").substr((col("line") % 3).cast("int") + 1, lit(1))
          .as("auth_asym_id"))
      StructureFormats.dsspImportChainIds(base, cif,
          keyCol = "file", orderCol = "line")
        .select(col("file"), col("line"), col("AA").as("aa"),
          col("CHAIN").as("chain"))
    },
      Some("""SELECT o_orderkey % 4 AS file, o_orderkey AS line,
        |CASE WHEN o_orderkey % 13 = 0 THEN '!'
        |ELSE substr('ARNDCQEGHILKMFPSTWYV', CAST(o_orderkey % 20 AS INT) + 1, 1) END AS aa,
        |CASE WHEN o_orderkey % 13 = 0 THEN 'A'
        |ELSE substr('XYZ', CAST(o_orderkey % 3 AS INT) + 1, 1) END AS chain
        |FROM orders""".stripMargin)))
}
