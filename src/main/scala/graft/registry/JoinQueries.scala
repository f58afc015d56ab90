package graft
package registry

import graft.operators._
import graft.sinks.TextRender
import graft.sources.StructureFormats
import org.apache.spark.sql.functions._
import Fixtures._

/** SURVEY.md §2 C: joins and merges. */
private[graft] object JoinQueries extends Family {
  def queries: Seq[Query] = Seq(
    // re-key annotations through a per-sequence alignment index map
    // (variants.py:394): the map drops every 4th position (gap) and
    // shifts the rest by orderkey%5; unmapped positions surface as
    // null mapped_idx (imap.get -> None)
    Query("q_seq_index_map", (s, d) => {
      val li = T(s, d, "lineitem")
      val ann = li.select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity")
      // positions deduped first: (orderkey, linenumber) repeats in
      // this corpus and a map key must be unique
      val imaps = li.select("l_orderkey", "l_linenumber").distinct()
        .filter(col("l_linenumber") % 4 =!= 0)
        .groupBy("l_orderkey")
        .agg(map_from_entries(array_sort(collect_list(struct(
          col("l_linenumber").as("src"),
          (col("l_linenumber") + pmod(col("l_orderkey"), lit(5)))
            .cast("int").as("dst"))))).as("imap"))
      RowOps.applySequenceIndexMap(ann, imaps, Seq("l_orderkey"),
        "l_linenumber")
    },
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |CASE WHEN l_linenumber % 4 = 0 THEN NULL
        |ELSE CAST(l_linenumber + l_orderkey % 5 AS INT) END AS mapped_idx
        |FROM lineitem""".stripMargin)),
    Query("q_join_left_composite", (s, d) => {
      val li = T(s, d, "lineitem")
      val grp = li.groupBy("l_orderkey", "l_returnflag")
        .agg(Aggregations.decSum(col("l_quantity")).as("grp_qty"))
        .withColumnRenamed("l_orderkey", "g_orderkey")
        .withColumnRenamed("l_returnflag", "g_returnflag")
      Joins.leftMerge(
          li.select("l_orderkey", "l_linenumber", "l_returnflag"), grp,
          Seq("l_orderkey" -> "g_orderkey", "l_returnflag" -> "g_returnflag"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "grp_qty")
    },
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, g.grp_qty
        |FROM lineitem l LEFT JOIN (
        |SELECT l_orderkey, l_returnflag,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS grp_qty
        |FROM lineitem GROUP BY 1, 2) g
        |ON l.l_orderkey = g.l_orderkey AND l.l_returnflag = g.l_returnflag""".stripMargin)),
    Query("q_join_broadcast_dims", (s, d) => {
      val cn = Joins.broadcastDim(T(s, d, "customer"), T(s, d, "nation"),
        "c_nationkey", "n_nationkey")
      Joins.broadcastDim(cn, T(s, d, "region"), "n_regionkey", "r_regionkey")
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"),
          Aggregations.decSum(col("c_acctbal")).as("sum_acctbal"))
    },
      Some("""SELECT r_name, COUNT(*) AS n_customers,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin)),
    Query("q_multiway_merge", (s, d) =>
      Joins.chainMerge(T(s, d, "lineitem"), Seq(
          (T(s, d, "orders"), Seq("l_orderkey" -> "o_orderkey")),
          (T(s, d, "customer"), Seq("o_custkey" -> "c_custkey")),
          (T(s, d, "nation"), Seq("c_nationkey" -> "n_nationkey")),
          (T(s, d, "region"), Seq("n_regionkey" -> "r_regionkey"))))
        .groupBy("n_name")
        .agg(Aggregations.decSum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n")),
      Some("""SELECT n_name,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n
        |FROM lineitem
        |LEFT JOIN orders ON l_orderkey = o_orderkey
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin)),
    Query("q_union_dedup", (s, d) =>
      Joins.unionDedup(
        T(s, d, "lineitem").filter(col("l_returnflag") === "A")
          .select(col("l_orderkey").as("key")),
        T(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("key"))),
      Some("""SELECT l_orderkey AS key FROM lineitem WHERE l_returnflag = 'A'
        |UNION
        |SELECT o_orderkey AS key FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),
    Query("q_semi_anti", (s, d) => {
      val cust = T(s, d, "customer").select("c_custkey", "c_name")
      val ords = T(s, d, "orders").select("o_custkey")
      val semi = Joins.semiJoin(cust, ords, Seq("c_custkey" -> "o_custkey"))
        .withColumn("kind", lit("semi"))
      val anti = Joins.antiJoin(cust, ords, Seq("c_custkey" -> "o_custkey"))
        .withColumn("kind", lit("anti"))
      semi.unionByName(anti).select("kind", "c_custkey", "c_name")
    },
      Some("""SELECT 'semi' AS kind, c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT 'anti' AS kind, c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin)),
    // bucketed fact-fact join: both sides pre-shuffled at write time
    // into the same bucket layout → the join itself plans with ZERO
    // exchanges (the repeated-join pattern for a 100 TB fact table)
    Query("q_bucketed_join", (s, d) => {
      Bucketing.writeBucketed(
        T(s, d, "lineitem").select("l_orderkey", "l_quantity"),
        "graft_li_bucketed", Seq("l_orderkey"), 8)
      Bucketing.writeBucketed(
        T(s, d, "orders").select("o_orderkey", "o_orderstatus"),
        "graft_ord_bucketed", Seq("o_orderkey"), 8)
      Bucketing.bucketedJoin(s, "graft_li_bucketed", "graft_ord_bucketed",
          Seq("l_orderkey" -> "o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          Aggregations.decSum(col("l_quantity")).as("sum_qty"))
    },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin)),
    Query("q_asof_join", (s, d) => {
      val ev = T(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts_us").as("e_ts"),
          col("event_id").as("err_id"), col("value").as("err_value"))
      AsOfJoin.asOf(clicks, errors, "user_id", "e_user", "ts_us", "e_ts",
        Seq("err_id", "err_value"), rightTieBreak = Seq("err_id"))
    },
      // backward: explicit ROW_NUMBER replay rather than DuckDB's
      // native ASOF JOIN — native ASOF leaves equal-ts right-row ties
      // unspecified; the replay pins them by err_id ASC, matching the
      // operator's rightTieBreak contract
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |errors AS (SELECT user_id AS e_user, ts_us AS e_ts, event_id AS err_id, value AS err_value FROM ev WHERE event_type = 'error'),
        |j AS (SELECT c.event_id, e.err_id, e.err_value,
        |ROW_NUMBER() OVER (PARTITION BY c.event_id ORDER BY e.e_ts DESC, e.err_id ASC) AS rn
        |FROM clicks c JOIN errors e ON c.user_id = e.e_user AND e.e_ts <= c.ts_us)
        |SELECT c.event_id, c.user_id, c.ts_us, j.err_id, j.err_value
        |FROM clicks c LEFT JOIN j ON c.event_id = j.event_id AND j.rn = 1""".stripMargin)),
    // forward and nearest as-of directions (pandas merge_asof
    // completion): next error at-or-after each click; the closest
    // error either way with exact-tie-goes-backward pinned
    Query("q_asof_forward", (s, d) => {
      val ev = T(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      AsOfJoin.asOfForward(
        ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us"),
        ev.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("ts_us").as("e_ts"),
            col("event_id").as("err_id"), col("value").as("err_value")),
        "user_id", "e_user", "ts_us", "e_ts",
        Seq("err_id", "err_value"), rightTieBreak = Seq("err_id"))
    },
      // forward: rank the >= candidates per click, keep rank 1; a
      // LEFT join back restores clicks with no later error
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |errors AS (SELECT user_id AS e_user, ts_us AS e_ts, event_id AS err_id, value AS err_value FROM ev WHERE event_type = 'error'),
        |j AS (SELECT c.event_id, e.err_id, e.err_value,
        |ROW_NUMBER() OVER (PARTITION BY c.event_id ORDER BY e.e_ts ASC, e.err_id ASC) AS rn
        |FROM clicks c JOIN errors e ON c.user_id = e.e_user AND e.e_ts >= c.ts_us)
        |SELECT c.event_id, c.user_id, c.ts_us, j.err_id, j.err_value
        |FROM clicks c LEFT JOIN j ON c.event_id = j.event_id AND j.rn = 1""".stripMargin)),
    Query("q_asof_nearest", (s, d) => {
      val ev = T(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      AsOfJoin.asOfNearest(
        ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us"),
        ev.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("ts_us").as("e_ts"),
            col("event_id").as("err_id"), col("value").as("err_value")),
        "user_id", "e_user", "ts_us", "e_ts",
        Seq("err_id", "err_value"), rightTieBreak = Seq("err_id"))
    },
      // nearest: rank by |Δts| with the backward-wins tie flag
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |errors AS (SELECT user_id AS e_user, ts_us AS e_ts, event_id AS err_id, value AS err_value FROM ev WHERE event_type = 'error'),
        |j AS (SELECT c.event_id, e.err_id, e.err_value,
        |ROW_NUMBER() OVER (PARTITION BY c.event_id
        |ORDER BY abs(e.e_ts - c.ts_us) ASC, CASE WHEN e.e_ts <= c.ts_us THEN 0 ELSE 1 END ASC, e.err_id ASC) AS rn
        |FROM clicks c JOIN errors e ON c.user_id = e.e_user)
        |SELECT c.event_id, c.user_id, c.ts_us, j.err_id, j.err_value
        |FROM clicks c LEFT JOIN j ON c.event_id = j.event_id AND j.rn = 1""".stripMargin)),
    // bloom-prefiltered semi join: result identical to the exact
    // semi join (the oracle), but the probe side is cut by the
    // build side's bloom sketch BEFORE the join shuffle
    Query("q_bloom_join", (s, d) =>
      Joins.bloomSemiJoin(
          T(s, d, "lineitem"),
          T(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          Seq("l_orderkey" -> "o_orderkey"), expectedItems = 100000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty")),
      // bloom semi join: the oracle is the EXACT semi join — the bloom
      // prefilter must be invisible in the result
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows, SUM(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_orderkey IN
        |(SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin)),
    // salted join == plain join (the oracle proves it): single-key
    // hotspot mitigation AQE cannot split
    Query("q_skew_join", (s, d) =>
      Skew.saltedJoin(
          T(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity"),
          T(s, d, "supplier").select("s_suppkey", "s_name"),
          Seq("l_suppkey" -> "s_suppkey"), buckets = 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"),
          Aggregations.decSum(col("l_quantity")).as("sum_qty")),
      Some("""SELECT s_name, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin)),
    // the flagship STRUCTURE workflow end-to-end through the facade:
    // synthesize atoms, render to PDB text, parse back distributed,
    // clean (completeness gate) + merge a recoded per-residue table
    // via TableGenerator — the oracle derives the same rows
    // relationally (the render/parse leg's exactness is separately
    // proven by q_fixedwidth_roundtrip)
    Query("q_structure_pipeline", tags = Set("structure"), build = (s, d) => {
      val out = roundtripDir("structpipe")
      // (orderkey, linenumber) repeats in this corpus — reduce to one
      // deterministic row per position so every atom site is unique
      // (a tied altloc collapse would otherwise pick arbitrarily)
      val li = T(s, d, "lineitem")
        .filter(col("l_orderkey") <= 9999 && col("l_linenumber") <= 4)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(min("l_returnflag").as("l_returnflag"),
          min("l_quantity").as("l_quantity"))
      val atoms = li.select(
        lit("ATOM").as("group_PDB"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("int").as("id"),
        when(col("l_linenumber") === 1, "N")
          .when(col("l_linenumber") === 2, "CA")
          .when(col("l_linenumber") === 3, "C").otherwise("O")
          .as("auth_atom_id"),
        lit("").as("label_alt_id"),
        lit("ALA").as("auth_comp_id"),
        col("l_returnflag").as("auth_asym_id"),
        col("l_orderkey").cast("int").as("auth_seq_id"),
        lit("").as("pdbx_PDB_ins_code"),
        col("l_quantity").as("Cartn_x"),
        col("l_linenumber").cast("double").as("Cartn_y"),
        lit(0.0).as("Cartn_z"),
        lit(1.0).as("occupancy"),
        lit(0.0).as("B_iso_or_equiv"),
        lit("C").as("type_symbol"))
      TextRender.writeText(TextRender.pdbLines(atoms), out)
      val dssp = RowOps.recodeByMap(
        T(s, d, "orders").select(col("o_orderkey").cast("int").as("RES"),
          col("o_orderstatus").as("SS")),
        "SS", "SS_CLASS", Map("O" -> "open", "F" -> "finished"), "other")
      TableGenerator.generate(StructureFormats.pdbAtoms(s, out),
          dssp = Some(dssp.select("RES", "SS_CLASS")),
          dsspKeys = Seq("auth_seq_id" -> "RES"))
        .select(col("auth_asym_id"), col("auth_seq_id"),
          col("auth_atom_id"), col("Cartn_x"), col("Cartn_y"),
          col("SS_CLASS"))
    },
      oracle = Some("""WITH li AS (
        |SELECT l_orderkey, l_linenumber, MIN(l_returnflag) AS l_returnflag,
        |MIN(l_quantity) AS l_quantity
        |FROM lineitem WHERE l_orderkey <= 9999 AND l_linenumber <= 4
        |GROUP BY 1, 2),
        |atoms AS (
        |SELECT l_returnflag AS auth_asym_id, CAST(l_orderkey AS INT) AS auth_seq_id,
        |CASE l_linenumber WHEN 1 THEN 'N' WHEN 2 THEN 'CA' WHEN 3 THEN 'C' ELSE 'O' END AS auth_atom_id,
        |l_quantity AS cx, CAST(l_linenumber AS DOUBLE) AS cy
        |FROM li),
        |complete AS (SELECT auth_asym_id, auth_seq_id FROM atoms
        |GROUP BY 1, 2 HAVING COUNT(*) >= 4),
        |kept AS (SELECT a.* FROM atoms a JOIN complete USING (auth_asym_id, auth_seq_id)),
        |dssp AS (SELECT CAST(o_orderkey AS INT) AS res,
        |CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished' ELSE 'other' END AS ss
        |FROM orders)
        |SELECT k.auth_asym_id, k.auth_seq_id, k.auth_atom_id,
        |k.cx AS "Cartn_x", k.cy AS "Cartn_y", dssp.ss AS "SS_CLASS"
        |FROM kept k LEFT JOIN dssp ON k.auth_seq_id = dssp.res""".stripMargin)))
}
