package graft
package registry

import graft.operators._
import graft.functions._
import graft.sinks.TextRender
import graft.sources.{Msa, StructureFormats, TextSources}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import Fixtures._

/** SURVEY.md §2 J: sources and sinks, roundtrips through /tmp. */
private[graft] object SourceQueries extends Family {

  /** 20 standard residue letters + 'X' (→ LNT, deliberately absent
    * from the ASA tables) for q_rsa_methods' synthesized AA column. */
  private val rsaAlphabet = "ARNDCQEGHILKMFPSTWYVX"

  /** q_stockholm_roundtrip's oracle; the Clustal roundtrip
    * q_clustal_roundtrip gives the same rows, so shares it. */
  private def stockholmRoundtripOracle: String =
    """SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS acc, CAST(1 AS BIGINT) AS seq_start,
      |CAST(length(regexp_replace(text, '[. -]', '', 'g')) AS BIGINT) AS seq_end,
      |CAST(length(regexp_replace(text, '[. -]', '', 'g')) AS BIGINT) AS seq_len
      |FROM documents WHERE length(regexp_replace(text, '[. -]', '', 'g')) > 0""".stripMargin

  def queries: Seq[Query] = Seq(
    // ASA-table method dispatch (dssp.py:249 get_rsa over the three
    // published max-ASA tables, library.py:249-272): DSSP-ish (AA, ACC)
    // rows synthesized from lineitem drive all three constant tables
    // plus the RSA class recode (dssp.py:289); the oracle replays the
    // literal when-chains as CASE expressions GENERATED from the same
    // Library maps, so the shipped constants are what the hash
    // certifies. The 21st letter 'X' maps to LNT (no ASA entry) and
    // exercises the null-RSA / '-'-class path.
    Query("q_rsa_methods", tags = Set("structure"), build = (s, d) => {
      val syn = T(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        lit(rsaAlphabet).substr(
          (pmod(col("l_orderkey") + col("l_linenumber"),
            lit(rsaAlphabet.length)) + 1).cast("int"), lit(1)).as("AA"),
        col("l_quantity").cast("double").as("ACC"))
      val withAll = StructureFilters.addRsa(
        StructureFilters.addRsa(
          StructureFilters.addRsa(syn, "Wilke"),
          "Miller", as = "RSA_MILLER"),
        "Sander", as = "RSA_SANDER")
      StructureFilters.addRsaClass(withAll)
        .select("l_orderkey", "l_linenumber", "AA", "ACC",
          "RSA", "RSA_MILLER", "RSA_SANDER", "RSA_CLASS")
    },
      oracle = Some {
        // CASE chains generated from the SAME Library constant maps the
        // operator compiles into its when-chains — the shipped ASA
        // values are exactly what the hash compare certifies
        def rsaCase(m: Map[String, Double], as: String): String =
          "CASE AA " + sources.Library.aaCodes1to3Extended.toSeq.sortBy(_._1)
            .flatMap { case (one, three) => m.get(three).map(one -> _) }
            .map { case (l, v) =>
              s"WHEN '$l' THEN ROUND(ACC / CAST($v AS DOUBLE) * 100, 3)" }
            .mkString(" ") + s" ELSE NULL END AS $as"
        s"""SELECT l_orderkey, l_linenumber, AA, ACC, RSA, RSA_MILLER, RSA_SANDER,
           |CASE WHEN RSA IS NULL THEN '-' WHEN RSA >= 25.0 THEN 'Surface' WHEN RSA >= 5.0 THEN 'Part. Exposed' ELSE 'Core' END AS RSA_CLASS
           |FROM (SELECT l_orderkey, l_linenumber, AA, ACC,
           |${rsaCase(sources.Library.asaWilke, "RSA")},
           |${rsaCase(sources.Library.asaMiller, "RSA_MILLER")},
           |${rsaCase(sources.Library.asaSander, "RSA_SANDER")}
           |FROM (SELECT l_orderkey, l_linenumber,
           |substring('$rsaAlphabet', CAST((l_orderkey + l_linenumber) % ${rsaAlphabet.length} AS INT) + 1, 1) AS AA,
           |CAST(l_quantity AS DOUBLE) AS ACC FROM lineitem))""".stripMargin
      }),
    // UniProt-GFF annotation aggregation (annotation.py:67): range
    // features synthesized from orders → per-residue expansion via
    // explode(sequence) → file-order label concat; the oracle replays
    // with unnest(generate_series) + ordered string_agg
    Query("q_annotation_agg", tags = Set("structure"), build = (s, d) => {
      val feats = T(s, d, "orders").select(
        col("o_orderkey").as("line_id"),
        element_at(
          array(lit("Domain"), lit("Active site"), lit("Helix"),
            lit("Site"), lit("Chain"), lit("Region")),
          (pmod(col("o_orderkey"), lit(6)) + 1).cast("int")).as("TYPE"),
        (pmod(col("o_orderkey"), lit(97)) + 1).as("START"),
        (pmod(col("o_orderkey"), lit(97)) + 1 +
          pmod(col("o_orderkey"), lit(4))).as("END"),
        when(pmod(col("o_orderkey"), lit(3)) === 0, lit(null))
          .otherwise(concat(lit("note"), pmod(col("o_orderkey"), lit(7))))
          .cast("string").as("Note"),
        when(pmod(col("o_orderkey"), lit(5)) === 0,
          concat(lit("PRO_"), col("o_orderkey"))).cast("string").as("ID"))
      Annotations.annotationAggregation(feats, identifier = Some("P12345"))
    },
      oracle = Some("""WITH feats AS (
        |SELECT o_orderkey AS line_id,
        |['Domain','Active site','Helix','Site','Chain','Region'][(o_orderkey % 6) + 1] AS t,
        |o_orderkey % 97 + 1 AS s, o_orderkey % 97 + 1 + o_orderkey % 4 AS e,
        |CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |ELSE 'note' || CAST(o_orderkey % 7 AS VARCHAR) END AS note,
        |CASE WHEN o_orderkey % 5 = 0
        |THEN 'PRO_' || CAST(o_orderkey AS VARCHAR) END AS id
        |FROM orders),
        |lab AS (
        |SELECT line_id, s, e,
        |CASE WHEN id IS NULL AND note IS NULL THEN t
        |WHEN id IS NULL THEN t || ': ' || note
        |WHEN note IS NULL THEN t || ' (' || id || ')'
        |ELSE t || ': ' || note || ' (' || id || ')' END AS annotation
        |FROM feats WHERE t NOT IN ('Helix','Beta strand','Turn','Chain')),
        |expl AS (
        |SELECT line_id, annotation, unnest(generate_series(s, e)) AS idx
        |FROM lab)
        |SELECT string_agg(annotation, ', ' ORDER BY line_id) AS annotation,
        |CAST(idx AS VARCHAR) AS site, 'P12345' AS accession
        |FROM expl GROUP BY idx""".stripMargin)),
    // wide SIFTS pivot (sifts.py:141 parse_sifts_residues' frame
    // shape): long residue×crossRef rows → one row per residue with
    // {source}_{field} columns, region fills included; the long side
    // is synthesized from nation so the oracle can replay the pivot
    Query("q_sifts_wide", tags = Set("structure"), build = (s, d) => {
      import s.implicits._
      val resnums = Seq(1, 2, 3, 4, 5, 6).toDF("resnum")
        .select(col("resnum").cast("int").as("resnum"))
      val base = T(s, d, "nation")
        .select(col("n_name").as("entityId"), col("n_nationkey").as("nk"))
        .crossJoin(resnums) // 25 × 6 synthesis rows — bounded dim
      def nullStr = lit(null).cast("string")
      def nullLong = lit(null).cast("long")
      val pdb = base.select(col("entityId"), col("nk"), col("resnum"),
        lit("PDB").as("dbSource"), lit("2pah").as("dbAccessionId"),
        (col("resnum") + 100).cast("string").as("dbResNum"),
        lit("VAL").as("dbResName"),
        substring(col("entityId"), 1, 1).as("dbChainId"),
        nullLong.as("regionId"), nullLong.as("regionStart"),
        nullLong.as("regionEnd"), nullLong.as("regionResNum"))
      val uni = base.select(col("entityId"), col("nk"), col("resnum"),
        lit("UniProt").as("dbSource"),
        concat(lit("AC"), col("nk")).as("dbAccessionId"),
        (col("resnum") + 17).cast("string").as("dbResNum"),
        lit("V").as("dbResName"), nullStr.as("dbChainId"),
        lit(1L).as("regionId"), lit(1L).as("regionStart"),
        lit(200L).as("regionEnd"),
        col("resnum").cast("long").as("regionResNum"))
      val cath = base.filter(col("resnum") <= 3)
        .select(col("entityId"), col("nk"), col("resnum"),
          lit("CATH").as("dbSource"),
          concat(lit("1.10.800."), col("nk")).as("dbAccessionId"),
          nullStr.as("dbResNum"), nullStr.as("dbResName"),
          nullStr.as("dbChainId"),
          nullLong.as("regionId"), nullLong.as("regionStart"),
          nullLong.as("regionEnd"), nullLong.as("regionResNum"))
      sources.Xml.siftsResiduesWide(
        pdb.unionByName(uni).unionByName(cath).drop("nk"),
        Seq("PDB", "UniProt", "CATH"))
    },
      oracle = Some("""WITH base AS (
        |SELECT n_name AS entity, n_nationkey AS nk, resnum
        |FROM nation, (SELECT unnest(generate_series(1, 6)) AS resnum))
        |SELECT
        |'2pah' AS "PDB_dbAccessionId",
        |CAST(resnum + 100 AS VARCHAR) AS "PDB_dbResNum",
        |'VAL' AS "PDB_dbResName",
        |substr(entity, 1, 1) AS "PDB_dbChainId",
        |'-' AS "PDB_regionId",
        |CAST(0 AS BIGINT) AS "PDB_regionStart",
        |CAST(0 AS BIGINT) AS "PDB_regionEnd",
        |CAST(NULL AS BIGINT) AS "PDB_regionResNum",
        |'AC' || CAST(nk AS VARCHAR) AS "UniProt_dbAccessionId",
        |CAST(resnum + 17 AS VARCHAR) AS "UniProt_dbResNum",
        |'V' AS "UniProt_dbResName",
        |CAST(NULL AS VARCHAR) AS "UniProt_dbChainId",
        |'1' AS "UniProt_regionId",
        |CAST(1 AS BIGINT) AS "UniProt_regionStart",
        |CAST(200 AS BIGINT) AS "UniProt_regionEnd",
        |CAST(resnum AS BIGINT) AS "UniProt_regionResNum",
        |CASE WHEN resnum <= 3
        |THEN '1.10.800.' || CAST(nk AS VARCHAR) END AS "CATH_dbAccessionId",
        |'-' AS "CATH_regionId",
        |CAST(0 AS BIGINT) AS "CATH_regionStart",
        |CAST(0 AS BIGINT) AS "CATH_regionEnd",
        |CAST(NULL AS BIGINT) AS "CATH_regionResNum",
        |'Observed' AS "PDB_Annotation",
        |entity AS "PDB_entityId"
        |FROM base""".stripMargin)),
    // table_merger (mergers.py:403): the full six-table merge chain —
    // dssp+validation onto atoms, annotation+variants onto SIFTS,
    // then atoms ⋈ SIFTS; tables synthesized per-residue so the
    // oracle replays every join; the duplicate `accession` column
    // (annotation + variants both carry it) is disambiguated
    // positionally to pandas' _x/_y suffixes
    Query("q_table_merger", tags = Set("structure"), build = (s, d) => {
      import s.implicits._
      val chains = Seq("A", "B").toDF("ch")
      val res = s.range(1, 41).select(col("id").cast("int").as("rn"))
      val keys = chains.crossJoin(res)
      val mmcif = keys.select(
        col("ch").as("auth_asym_id"), col("rn").as("auth_seq_id"),
        col("rn").cast("string").as("auth_seq_id_full"),
        concat(lit("atom_"), col("ch"), lit("_"), col("rn")).as("atom_tag"))
      val dssp = keys.filter(col("rn") <= 30).select(
        col("rn").cast("string").as("RES_FULL"),
        col("ch").as("CHAIN_FULL"),
        element_at(array(lit("H"), lit("E"), lit("-")),
          (pmod(col("rn"), lit(3)) + 1).cast("int")).as("SS"))
      val validation = keys.filter(pmod(col("rn"), lit(2)) === 0).select(
        col("rn").cast("string").as("validation_resnum_full"),
        col("ch").as("validation_chain"),
        (col("rn").cast("double") / lit(40.0)).as("validation_rsr"))
      val sifts = keys.select(
        col("rn").cast("string").as("PDB_dbResNum"),
        col("ch").as("PDB_dbChainId"),
        lit("P00439").as("UniProt_dbAccessionId"),
        (col("rn") + 17).cast("string").as("UniProt_dbResNum"))
      val annotation = res.filter(pmod(col("rn"), lit(3)) === 0).select(
        lit("P00439").as("accession"),
        (col("rn") + 17).cast("string").as("site"),
        concat(lit("Domain (PRO_"), col("rn"), lit(")")).as("annotation"))
      val variants = res.filter(pmod(col("rn"), lit(4)) === 0).select(
        lit("P00439").as("accession"),
        (col("rn") + 17).as("begin"), // numeric: the merger casts it
        concat(lit("VAR_"), col("rn")).as("variant_id"))
      TableMerger.pandasSuffixDuplicates(TableMerger.tableMerger(
        mmcif = Some(mmcif), dssp = Some(dssp), sifts = Some(sifts),
        validation = Some(validation), annotation = Some(annotation),
        variants = Some(variants)))
    },
      oracle = Some("""WITH chains AS (SELECT * FROM (VALUES ('A'), ('B')) c(ch)),
        |res AS (SELECT CAST(r AS INT) AS rn FROM range(1, 41) t(r)),
        |ks AS (SELECT ch, rn FROM chains CROSS JOIN res),
        |mmcif AS (SELECT ch AS auth_asym_id, rn AS auth_seq_id,
        |CAST(rn AS VARCHAR) AS auth_seq_id_full,
        |'atom_' || ch || '_' || CAST(rn AS VARCHAR) AS atom_tag FROM ks),
        |dssp AS (SELECT CAST(rn AS VARCHAR) AS "RES_FULL",
        |ch AS "CHAIN_FULL", ['H','E','-'][(rn % 3) + 1] AS "SS"
        |FROM ks WHERE rn <= 30),
        |vald AS (SELECT CAST(rn AS VARCHAR) AS validation_resnum_full,
        |ch AS validation_chain, CAST(rn AS DOUBLE) / 40.0 AS validation_rsr
        |FROM ks WHERE rn % 2 = 0),
        |sifts AS (SELECT CAST(rn AS VARCHAR) AS "PDB_dbResNum",
        |ch AS "PDB_dbChainId", 'P00439' AS "UniProt_dbAccessionId",
        |CAST(rn + 17 AS VARCHAR) AS "UniProt_dbResNum" FROM ks),
        |ann AS (SELECT 'P00439' AS accession,
        |CAST(rn + 17 AS VARCHAR) AS site,
        |'Domain (PRO_' || CAST(rn AS VARCHAR) || ')' AS annotation
        |FROM res WHERE rn % 3 = 0),
        |vars AS (SELECT 'P00439' AS accession, rn + 17 AS beg,
        |'VAR_' || CAST(rn AS VARCHAR) AS variant_id
        |FROM res WHERE rn % 4 = 0),
        |sifts2 AS (SELECT s.*, a.accession AS accession_x, a.site,
        |a.annotation FROM sifts s LEFT JOIN ann a
        |ON s."UniProt_dbAccessionId" = a.accession
        |AND s."UniProt_dbResNum" = a.site),
        |sifts3 AS (SELECT s.*, v.accession AS accession_y,
        |CAST(v.beg AS VARCHAR) AS "begin", v.variant_id
        |FROM sifts2 s LEFT JOIN vars v
        |ON s."UniProt_dbAccessionId" = v.accession
        |AND s."UniProt_dbResNum" = CAST(v.beg AS VARCHAR)),
        |mm2 AS (SELECT m.*, d."RES_FULL", d."CHAIN_FULL", d."SS"
        |FROM mmcif m LEFT JOIN dssp d
        |ON m.auth_seq_id_full = d."RES_FULL"
        |AND m.auth_asym_id = d."CHAIN_FULL"),
        |mm3 AS (SELECT m.*, v.validation_resnum_full, v.validation_chain,
        |v.validation_rsr FROM mm2 m LEFT JOIN vald v
        |ON m.auth_seq_id_full = v.validation_resnum_full
        |AND m.auth_asym_id = v.validation_chain)
        |SELECT m.*, s.* FROM mm3 m LEFT JOIN sifts3 s
        |ON m.auth_seq_id_full = s."PDB_dbResNum"
        |AND m.auth_asym_id = s."PDB_dbChainId"""".stripMargin)),
    // filter_structures (structures.py:777), the full knob chain on a
    // lineitem-synthesized atom table: models-first (1-row eager
    // lookup) → res_full → hydrogen removal → partial-residue drop
    // (aaDefaultAtoms inventory) → dense id reset → comps selection →
    // centroid residue aggregation; the oracle replays every stage
    Query("q_filter_structures", tags = Set("structure"), build = (s, d) => {
      val li = T(s, d, "lineitem").filter(col("l_orderkey") <= 9999)
      val atoms0 = li.select(
        (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        when(pmod(col("l_orderkey"), lit(13)) === 0, "HETATM")
          .otherwise("ATOM").as("group_PDB"),
        when(pmod(col("l_orderkey"), lit(5)) === 0, 2).otherwise(1)
          .cast("int").as("pdbx_PDB_model_num"),
        element_at(array(lit("A"), lit("B")),
          (pmod(col("l_orderkey"), lit(2)) + 1).cast("int"))
          .as("auth_asym_id"),
        pmod(col("l_orderkey"), lit(97)).cast("int").as("auth_seq_id"),
        when(pmod(col("l_orderkey"), lit(11)) === 0, "A").otherwise("?")
          .as("pdbx_PDB_ins_code"),
        element_at(array(lit("GLY"), lit("ALA"), lit("HOH")),
          (pmod(pmod(col("l_orderkey"), lit(97)), lit(3)) + 1).cast("int"))
          .as("auth_comp_id"),
        element_at(array(lit("N"), lit("O"), lit("CA"), lit("C"),
          lit("CB"), lit("H")),
          (pmod(col("l_linenumber"), lit(6)) + 1).cast("int"))
          .as("auth_atom_id"),
        lit(".").as("label_alt_id"),
        col("l_quantity").cast("double").as("Cartn_x"),
        (col("l_extendedprice") / lit(1000)).cast("double").as("Cartn_y"),
        (col("l_discount") * lit(100)).cast("double").as("Cartn_z"))
      val atoms1 = atoms0.withColumn("type_symbol",
        substring(col("auth_atom_id"), 1, 1))
      StructureFilters.filterStructures(atoms1,
        comps = Seq("GLY", "ALA"), removePartialRes = true,
        residueAgg = true)
    },
      oracle = Some("""WITH atoms0 AS (
        |SELECT l_orderkey * 8 + l_linenumber AS id,
        |CASE WHEN l_orderkey % 13 = 0 THEN 'HETATM' ELSE 'ATOM' END AS grp,
        |CAST(CASE WHEN l_orderkey % 5 = 0 THEN 2 ELSE 1 END AS INT) AS model,
        |['A','B'][(l_orderkey % 2) + 1] AS chain,
        |CAST(l_orderkey % 97 AS INT) AS seq,
        |CASE WHEN l_orderkey % 11 = 0 THEN 'A' ELSE '?' END AS icode,
        |['GLY','ALA','HOH'][((l_orderkey % 97) % 3) + 1] AS comp,
        |['N','O','CA','C','CB','H'][(l_linenumber % 6) + 1] AS atom,
        |'.' AS alt,
        |CAST(l_quantity AS DOUBLE) AS x,
        |CAST(l_extendedprice AS DOUBLE) / 1000 AS y,
        |CAST(l_discount AS DOUBLE) * 100 AS z
        |FROM lineitem WHERE l_orderkey <= 9999),
        |atoms1 AS (SELECT *, substr(atom, 1, 1) AS tsym FROM atoms0),
        |m1 AS (SELECT * FROM atoms1
        |WHERE model = (SELECT model FROM atoms1 ORDER BY id LIMIT 1)),
        |rf AS (SELECT *,
        |CAST(seq AS VARCHAR) || replace(icode, '?', '') AS seq_full
        |FROM m1),
        |noh AS (SELECT * FROM rf WHERE tsym <> 'H'),
        |bad AS (SELECT chain, seq FROM noh
        |WHERE grp = 'ATOM' AND comp IN ('GLY', 'ALA')
        |GROUP BY chain, seq
        |HAVING COUNT(DISTINCT CASE
        |WHEN comp = 'GLY' AND atom IN ('N','O','CA','C') THEN atom
        |WHEN comp = 'ALA' AND atom IN ('N','O','CA','C','CB') THEN atom
        |END) <
        |MAX(CASE comp WHEN 'GLY' THEN 4 WHEN 'ALA' THEN 5 END)),
        |kept AS (SELECT n.* FROM noh n
        |WHERE NOT EXISTS (SELECT 1 FROM bad b
        |WHERE b.chain = n.chain AND b.seq = n.seq)),
        |rst AS (SELECT * EXCLUDE (id),
        |CAST(ROW_NUMBER() OVER (ORDER BY id) AS INT) AS id FROM kept),
        |sel AS (SELECT * FROM rst WHERE comp IN ('GLY', 'ALA'))
        |SELECT model AS "pdbx_PDB_model_num", chain AS auth_asym_id,
        |seq AS auth_seq_id,
        |MIN(id) AS id,
        |ARG_MIN(grp, id) AS "group_PDB",
        |ARG_MIN(icode, id) AS "pdbx_PDB_ins_code",
        |ARG_MIN(comp, id) AS auth_comp_id,
        |ARG_MIN(atom, id) AS auth_atom_id,
        |ARG_MIN(alt, id) AS label_alt_id,
        |CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(x) AS "Cartn_x",
        |CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(y) AS "Cartn_y",
        |CAST(SUM(CAST(z AS DECIMAL(28,6))) AS DOUBLE) / COUNT(z) AS "Cartn_z",
        |ARG_MIN(tsym, id) AS type_symbol,
        |ARG_MIN(seq_full, id) AS auth_seq_id_full
        |FROM sel GROUP BY model, chain, seq""".stripMargin)),
    // range-sorted layout + pruned read: write events sorted by ts
    // (narrow per-row-group min/max bands), read back through a
    // one-day ts filter — the scan skips row groups via footer
    // stats (bytes-read win measured in LayoutSpec); result must
    // equal the same filter+agg on the raw table
    Query("q_layout_prune", (s, d) => {
      val out = roundtripDir("layout_sorted")
      graft.sinks.ParquetSink.writeRangeSorted(
        T(s, d, "events"), out, Seq("ts"), nFiles = 8)
      s.read.parquet(out)
        .filter(col("ts") >= to_timestamp(lit("2024-01-15 00:00:00")) &&
          col("ts") < to_timestamp(lit("2024-01-16 00:00:00")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          min("value").as("min_value"), max("value").as("max_value"))
    },
      // layout prune: the write is layout-only, so the oracle is the
      // same filter+agg straight off the raw table (min/max are
      // order-independent — no double sums)
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'
        |GROUP BY event_type""".stripMargin)),
    // WAT outlink extraction (the third Common Crawl container):
    // metadata records' JSON envelopes parse to (src, dst) link
    // edges — the input pageRankTicks ranks. Spark does the real
    // WARC write + read + from_json; the oracle replays the link
    // SYNTHESIS arithmetic (the q_warc_roundtrip identity precedent)
    Query("q_wat_outlinks", (s, d) => {
      val base = roundtripDir("wat_links")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val uri = concat(lit("https://corpus.example/doc/"), col("doc_id"))
      val src = T(s, d, "documents").select(
        uri.as("uri"),
        lit("2026-01-01T00:00:00Z").as("date"),
        to_json(struct(struct(
          struct(uri.as("WARC-Target-URI")).as("WARC-Header-Metadata"),
          struct(struct(struct(array(
            struct(concat(lit("https://corpus.example/doc/"),
              (col("doc_id") * 31 + 7) % 97).as("url")),
            struct(concat(lit("https://other.example/p/"),
              col("doc_id") % 13).as("url"))).as("Links"))
            .as("HTML-Metadata")).as("HTTP-Response-Metadata"))
            .as("Payload-Metadata")).as("Envelope")))
          .cast("binary").as("payload"))
      sources.Warc.write(src.repartition(2), s"$base/w",
        warcType = "metadata")
      sources.Wat.outlinks(sources.Warc.read(s, s"$base/w"))
    },
      // wat outlinks: the envelope JSON is synthesized from pure
      // arithmetic in doc_id, so the oracle replays the two links per
      // doc directly (the WARC/WAT container layer is lossless)
      Some("""SELECT 'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS src_url,
        |'https://corpus.example/doc/' || CAST((doc_id * 31 + 7) % 97 AS VARCHAR) AS dst_url
        |FROM documents
        |UNION ALL
        |SELECT 'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR),
        |'https://other.example/p/' || CAST(doc_id % 13 AS VARCHAR)
        |FROM documents""".stripMargin)),
    // ANCHOR-TEXT corpus from WAT (the other WAT product besides the
    // link graph): per (target, anchor term), inlink count + DISTINCT
    // source-host count — the host-deduped incoming-relevance signal
    // retrieval training pairs and spam demotion read. Spark does the
    // real WARC write + read + from_json + urlHost; link 1 carries
    // the doc's 2-word anchor, link 2 only on doc_id % 3 == 0 (the
    // text-less WAT link rows every real crawl has — dropped by
    // contract, pinned by the hash). The oracle replays the synthesis
    // arithmetic (q_wat_outlinks precedent) + the two-level exact
    // distinct.
    Query("q_anchor_text", (s, d) => {
      val base = roundtripDir("wat_anchors")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val uri = concat(lit("https://h"), col("doc_id") % 7,
        lit(".example.org/d/"), col("doc_id"))
      val anchor = array_join(
        slice(TextFunctions.tokens(col("text")), 1, 2), " ")
      val src = T(s, d, "documents").select(
        uri.as("uri"),
        lit("2026-01-01T00:00:00Z").as("date"),
        to_json(struct(struct(
          struct(uri.as("WARC-Target-URI")).as("WARC-Header-Metadata"),
          struct(struct(struct(array(
            struct(
              concat(lit("https://corpus.example/doc/"),
                (col("doc_id") * 31 + 7) % 97).as("url"),
              anchor.as("text")),
            struct(
              concat(lit("https://other.example/p/"),
                col("doc_id") % 13).as("url"),
              when(col("doc_id") % 3 === 0, anchor)
                .otherwise(lit(null).cast("string")).as("text")))
            .as("Links"))
            .as("HTML-Metadata")).as("HTTP-Response-Metadata"))
            .as("Payload-Metadata")).as("Envelope")))
          .cast("binary").as("payload"))
      sources.Warc.write(src.repartition(2), s"$base/w",
        warcType = "metadata")
      Graph.anchorTermProfile(
        sources.Wat.anchorTexts(sources.Warc.read(s, s"$base/w")))
    },
      // anchor text: replay the synthesis (2-word anchor, host from
      // doc_id % 7, the doc_id % 3 text-less second link) + tokenize +
      // the two-level exact-distinct aggregation
      Some("""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
        |an AS (SELECT doc_id, array_to_string(t[1:2], ' ') AS anchor FROM toks),
        |links AS (
        |SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS src_host,
        |'https://corpus.example/doc/' || CAST((doc_id * 31 + 7) % 97 AS VARCHAR) AS dst_url,
        |anchor FROM an
        |UNION ALL
        |SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org',
        |'https://other.example/p/' || CAST(doc_id % 13 AS VARCHAR),
        |anchor FROM an WHERE doc_id % 3 = 0),
        |tm AS (SELECT dst_url, src_host,
        |unnest(list_filter(string_split(lower(anchor), ' '), x -> x <> '')) AS term FROM links),
        |hh AS (SELECT dst_url, term, src_host, CAST(COUNT(*) AS BIGINT) AS n FROM tm GROUP BY 1, 2, 3)
        |SELECT dst_url, term, CAST(SUM(n) AS BIGINT) AS n_links, CAST(COUNT(*) AS BIGINT) AS n_hosts
        |FROM hh GROUP BY 1, 2""".stripMargin)),
    Query("q_fixedwidth_roundtrip", (s, d) => {
      val out = roundtripDir("fixedwidth")
      TextRender.writeText(
        TextRender.fixedWidthLines(
          T(s, d, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
          Seq((col("l_orderkey"), 12, true), (col("l_linenumber"), 4, true),
            (col("l_returnflag"), 2, false), (col("l_quantity"), 10, true))),
        out)
      TextSources.fixedWidth(s, out, Seq(
        TextSources.FixedWidthField("l_orderkey", 1, 12, "bigint"),
        TextSources.FixedWidthField("l_linenumber", 13, 4, "int"),
        TextSources.FixedWidthField("l_returnflag", 17, 2, "string"),
        TextSources.FixedWidthField("l_quantity", 19, 10, "double")))
    },
      Some("SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem")),
    Query("q_tokenrecords_roundtrip", (s, d) => {
      val out = roundtripDir("tokenrecords")
      TextRender.writeText(
        TextRender.tokenLines(
          T(s, d, "lineitem").withColumn("rec", lit("ATOM")),
          Seq("rec", "l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity")),
        out)
      TextSources.tokenRecords(s, out,
          Seq("rec", "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
          Some("ATOM"))
        .select(col("l_orderkey").cast("long"),
          col("l_linenumber").cast("int"), col("l_returnflag"),
          col("l_quantity").cast("double"))
    },
      Some("SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem")),
    // WARC container roundtrip (the CommonCrawl arrival format): one
    // file per partition on write, one task per file on read,
    // Content-Length-driven payload recovery — doc ids come back out
    // of the target URIs, payload bytes decode to the original text
    Query("q_warc_roundtrip", (s, d) => {
      val out = roundtripDir("warc")
      sources.Warc.write(
        T(s, d, "documents").select(
          concat(lit("https://corpus.example/doc/"), col("doc_id"))
            .as("uri"),
          lit("2026-01-01T00:00:00Z").as("date"),
          col("text").cast("binary").as("payload"))
          .repartition(4),
        out)
      sources.Warc.read(s, out + "/*.warc")
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("target_uri"), col("content_length"),
          col("payload").cast("string").as("text"))
    },
      Some("""SELECT doc_id, 'response' AS warc_type,
        |'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |text FROM documents""".stripMargin)),
    // incremental WARC ingest, two triggers: even docs land first and
    // commit as batch 1, odd docs arrive as new files and commit as
    // batch 2 — wave-1 files are NOT re-parsed (their batch stays 1),
    // and the cumulative record table holds every doc exactly once
    Query("q_warc_ingest", (s, d) => {
      val base = roundtripDir("warc_ingest")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = T(s, d, "documents").select(
        concat(lit("https://corpus.example/doc/"), col("doc_id"))
          .as("uri"),
        lit("2026-01-01T00:00:00Z").as("date"),
        col("text").cast("binary").as("payload"),
        col("doc_id"))
      sources.Warc.write(
        docs.where(col("doc_id") % 2 === 0).drop("doc_id")
          .repartition(2), s"$base/landing/w1")
      streaming.WarcIngest.ingestOnce(s, s"$base/landing", s"$base/ingest")
      sources.Warc.write(
        docs.where(col("doc_id") % 2 === 1).drop("doc_id")
          .repartition(2), s"$base/landing/w2")
      streaming.WarcIngest.ingestOnce(s, s"$base/landing", s"$base/ingest")
      streaming.WarcIngest.records(s, s"$base/ingest")
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("batch"), col("content_length"),
          col("payload").cast("string").as("text"))
    },
      // warc ingest: batch = which trigger's wave the doc landed in
      Some("""SELECT doc_id,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS batch,
        |CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |text FROM documents""".stripMargin)),
    Query("q_gff_roundtrip", tags = Set("structure"), build = (s, d) => {
      val out = roundtripDir("gff")
      TextRender.writeText(
        T(s, d, "part").select(concat_ws("\t", col("p_brand"), lit("graft"),
          col("p_type"), col("p_partkey"),
          (col("p_partkey") + col("p_size")).cast("long"), lit("."), lit("+"),
          lit("."),
          concat(lit("id="), col("p_partkey"), lit(";size="), col("p_size")))
          .as("value")),
        out)
      TextSources.gff(s, out)
        .select(col("seqid"), col("source"), col("type"), col("start"),
          col("end"), col("attr_map")("id").cast("long").as("id_attr"),
          col("attr_map")("size").cast("long").as("size_attr"))
    },
      oracle = Some("""SELECT p_brand AS seqid, 'graft' AS source, p_type AS type,
        |CAST(p_partkey AS BIGINT) AS start, CAST(p_partkey + p_size AS BIGINT) AS "end",
        |CAST(p_partkey AS BIGINT) AS id_attr, CAST(p_size AS BIGINT) AS size_attr
        |FROM part""".stripMargin)),
    Query("q_xml_roundtrip", (s, d) => {
      import s.implicits._
      val out = roundtripDir("xml")
      // a well-formed XML document needs one root element per file:
      // render rows as <rec/> lines between <parts>...</parts>
      val recs = T(s, d, "part").select(lit(1).as("k"),
        concat(lit("  <rec id=\""), col("p_partkey"),
          lit("\" brand=\""), col("p_brand"), lit("\" size=\""),
          col("p_size"), lit("\"/>")).as("value"))
      val wrapped = Seq((0, "<parts>")).toDF("k", "value")
        .unionByName(recs)
        .unionByName(Seq((2, "</parts>")).toDF("k", "value"))
        .coalesce(1).sortWithinPartitions("k")
      TextRender.writeText(wrapped.select("value"), out)
      sources.Xml.read(s, out, rowTag = "rec")
        .select(col("_id").cast("long").as("id"),
          col("_brand").cast("string").as("brand"),
          col("_size").cast("long").as("size"))
    },
      Some("""SELECT CAST(p_partkey AS BIGINT) AS id, p_brand AS brand,
        |CAST(p_size AS BIGINT) AS size FROM part""".stripMargin)),
    // natural-variant annotation findall triple (variants.py:718-744):
    // annotation strings synthesized per part row, the REAL regex
    // extraction runs, arrays joined to scalars for the hash compare;
    // the oracle re-derives the extracted values relationally
    Query("q_uniprot_variants", (s, d) => {
      val ann = concat(lit("['In disease_"), pmod(col("p_partkey"), lit(7)),
        lit("; x'] A->V (['VAR_"), col("p_partkey"), lit("'])"))
      Variants.parseUniprotVariants(
          T(s, d, "part").select(col("p_partkey"), ann.as("annotation")))
        .select(col("p_partkey"),
          array_join(col("disease"), ";").as("disease"),
          array_join(transform(col("transition"),
            t => concat(t("ref"), lit(">"), t("alt"))), ";").as("transition"),
          array_join(col("ids"), ";").as("ids"))
    },
      Some("""SELECT p_partkey,
        |'disease_' || CAST(p_partkey % 7 AS VARCHAR) AS disease,
        |'A>V' AS transition,
        |'VAR_' || CAST(p_partkey AS VARCHAR) AS ids
        |FROM part""".stripMargin)),
    // the UniProt-GFF annotation label recode (_annotation_writer,
    // annotation.py:19-34): all four TYPE/Note/ID presence cases
    // exercised by deriving note/id presence from part attributes
    Query("q_annotation_label", (s, d) =>
      T(s, d, "part").select(col("p_partkey"),
        TextFunctions.annotationLabel(
          col("p_brand"),
          when(col("p_size") % 3 === 0, col("p_type")),
          when(col("p_size") % 2 === 0, col("p_partkey").cast("string")))
          .as("label")),
      Some("""WITH src AS (
        |SELECT p_partkey, p_brand,
        |CASE WHEN p_size % 3 = 0 THEN p_type END AS note,
        |CASE WHEN p_size % 2 = 0 THEN CAST(p_partkey AS VARCHAR) END AS id
        |FROM part)
        |SELECT p_partkey,
        |CASE WHEN (id IS NULL OR id = '') AND (note IS NULL OR note = '') THEN p_brand
        |WHEN (id IS NULL OR id = '') THEN p_brand || ': ' || note
        |WHEN (note IS NULL OR note = '') THEN p_brand || ' (' || id || ')'
        |ELSE p_brand || ': ' || note || ' (' || id || ')' END AS label
        |FROM src""".stripMargin)),
    // SIFTS listDB header roundtrip: render a listDB XML from the
    // nation dim, parse it back distributed via siftsDbs with a
    // custom exclusion set (sifts.py:22-62's excluded_cols knob);
    // the oracle re-derives the surviving rows relationally
    Query("q_sifts_dbs", (s, d) => {
      import s.implicits._
      val out = roundtripDir("siftsdbs")
      val recs = T(s, d, "nation").select(lit(1).as("k"),
        concat(lit("  <db dbSource=\""), col("n_name"),
          lit("\" dbCoordSys=\"UniProt\" dbVersion=\""), col("n_nationkey"),
          lit(".0\"/>")).as("value"))
      val wrapped = Seq((0, "<entry><listDB>")).toDF("k", "value")
        .unionByName(recs)
        .unionByName(Seq((2, "</listDB></entry>")).toDF("k", "value"))
        .coalesce(1).sortWithinPartitions("k")
      TextRender.writeText(wrapped.select("value"), out)
      sources.Xml.siftsDbs(s, out, excluded = Seq("FRANCE", "KENYA"))
    },
      Some("""SELECT n_name AS "dbSource", 'UniProt' AS "dbCoordSys",
        |CAST(n_nationkey AS VARCHAR) || '.0' AS "dbVersion"
        |FROM nation WHERE n_name NOT IN ('FRANCE', 'KENYA')""".stripMargin)),
    // SIFTS region-map roundtrip + per-residue interval enrichment
    // (sifts.py:64-138 _parse_sifts_regions_from_file + :266-284 the
    // add_regions lookup): render a two-segment region XML from the
    // nation dim (overlapping ranges so the last-counter-wins rule is
    // exercised), parse it back via siftsRegions with an exclusion,
    // then enrich customer-derived residues — matched / overlap /
    // unmatched / excluded-source cases all present by construction
    Query("q_sifts_regions", (s, d) => {
      import s.implicits._
      val out = roundtripDir("siftsregions")
      val nat = T(s, d, "nation")
        .join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("entity"), col("n_nationkey").as("nk"),
          concat(lit("SRC"), pmod(col("n_nationkey"), lit(3))).as("src"),
          concat(lit("AC"), col("n_nationkey")).as("acc"))
      val segs = Seq(1, 2).toDF("seg")
      val rstart = col("nk") * 10 + (col("seg") - 1) * 5
      val regionRows = nat.crossJoin(segs).select(lit(1).as("ord"),
        col("entity"), col("seg"), lit(1).as("sub"), col("nk"),
        concat(lit("      <mapRegion start=\""), rstart,
          lit("\" end=\""), rstart + 9,
          lit("\"><db dbSource=\""), col("src"),
          lit("\" dbCoordSys=\"UniProt\" dbAccessionId=\""), col("acc"),
          lit("\"/></mapRegion>")).as("value"))
      val entities = nat.select("entity").distinct()
      val entOpen = entities.select(lit(1).as("ord"), col("entity"),
        lit(0).as("seg"), lit(0).as("sub"), lit(0).as("nk"),
        concat(lit("  <entity type=\"protein\" entityId=\""), col("entity"),
          lit("\">")).as("value"))
      val segOpen = entities.crossJoin(segs).select(lit(1).as("ord"),
        col("entity"), col("seg"), lit(0).as("sub"), lit(0).as("nk"),
        concat(lit("    <segment segId=\""), col("entity"), lit("_s"),
          col("seg"), lit("\"><listMapRegion>")).as("value"))
      val segClose = entities.crossJoin(segs).select(lit(1).as("ord"),
        col("entity"), col("seg"), lit(2).as("sub"), lit(0).as("nk"),
        lit("    </listMapRegion></segment>").as("value"))
      val entClose = entities.select(lit(1).as("ord"), col("entity"),
        lit(9).as("seg"), lit(0).as("sub"), lit(0).as("nk"),
        lit("  </entity>").as("value"))
      val open = Seq((0, "", 0, 0, 0, "<entry>"))
        .toDF("ord", "entity", "seg", "sub", "nk", "value")
      val close = Seq((2, "", 0, 0, 0, "</entry>"))
        .toDF("ord", "entity", "seg", "sub", "nk", "value")
      val doc = open.unionByName(entOpen).unionByName(segOpen)
        .unionByName(regionRows).unionByName(segClose).unionByName(entClose)
        .unionByName(close)
        .coalesce(1).sortWithinPartitions("ord", "entity", "seg", "sub", "nk")
      TextRender.writeText(doc.select("value"), out)
      val regions = sources.Xml.siftsRegions(s, out, excluded = Seq("SRC2"))
      val residues = T(s, d, "customer")
        .join(T(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name").as("entityId"),
          concat(lit("SRC"), pmod(col("n_nationkey"), lit(3))).as("_dbSource"),
          concat(lit("AC"), col("n_nationkey")).as("_dbAccessionId"),
          (col("n_nationkey") * 10 + pmod(col("c_custkey"), lit(20)) - 2)
            .cast("int").as("resnum"))
      sources.Xml.withRegions(residues, regions)
    },
      // re-derives the rendered region map relationally (two segments per
      // nation => counter ordered by (seg, nk)), then replays the
      // last-match-wins interval lookup with max/arg_max over the
      // matching regions per residue
      Some("""WITH nat AS (
        |SELECT r_name AS entity, n_nationkey AS nk,
        |'SRC' || CAST(n_nationkey % 3 AS VARCHAR) AS src,
        |'AC' || CAST(n_nationkey AS VARCHAR) AS acc
        |FROM nation JOIN region ON n_regionkey = r_regionkey),
        |regions AS (
        |SELECT entity, src, acc,
        |nk * 10 + (seg - 1) * 5 AS rstart,
        |nk * 10 + (seg - 1) * 5 + 9 AS rend,
        |CAST(ROW_NUMBER() OVER (PARTITION BY entity, src ORDER BY seg, nk) AS BIGINT) AS region_id
        |FROM nat CROSS JOIN (SELECT unnest([1, 2]) AS seg) s
        |WHERE src <> 'SRC2'),
        |res AS (
        |SELECT c_custkey, r_name AS entity,
        |'SRC' || CAST(n_nationkey % 3 AS VARCHAR) AS src,
        |'AC' || CAST(n_nationkey AS VARCHAR) AS acc,
        |n_nationkey * 10 + (c_custkey % 20) - 2 AS resnum
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey)
        |SELECT res.c_custkey, res.entity AS "entityId", res.src AS "_dbSource",
        |res.acc AS "_dbAccessionId", res.resnum,
        |max(reg.region_id) AS "regionId",
        |arg_max(reg.rstart, reg.region_id) AS "regionStart",
        |arg_max(reg.rend, reg.region_id) AS "regionEnd",
        |CASE WHEN max(reg.region_id) IS NOT NULL THEN res.resnum END AS "regionResNum"
        |FROM res LEFT JOIN regions reg
        |ON res.entity = reg.entity AND res.src = reg.src AND res.acc = reg.acc
        |AND res.resnum BETWEEN reg.rstart AND reg.rend
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin)),
    // the FULL parse_sifts_residues surface (sifts.py:141-310) in one
    // oracle-checked roundtrip: render a complete SIFTS file (listDB
    // header + region maps + residue lists with per-residue crossRefDb
    // annotations) from nation/region/customer, parse it back via the
    // named siftsResidues loader with addRegions + addDbs + an
    // exclusion — exercising the non-PDB/UniProt field nulling, the
    // interval enrichment and the header version join together
    Query("q_sifts_residues", tags = Set("structure"), build = (s, d) => {
      import s.implicits._
      val out = roundtripDir("siftsresidues")
      val nat = T(s, d, "nation")
        .join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("entity"), col("n_nationkey").as("nk"),
          concat(lit("SRC"), pmod(col("n_nationkey"), lit(3))).as("src"),
          concat(lit("AC"), col("n_nationkey")).as("acc"))
      val segs = Seq(1, 2).toDF("seg")
      val rstart = col("nk") * 10 + (col("seg") - 1) * 5
      def row6(ord: Int, e: Column, seg: Column, sub: Column, nk: Column,
               ck: Column, v: Column) =
        Seq(lit(ord).as("ord"), e.as("entity"), seg.as("seg"),
          sub.as("sub"), nk.as("nk"), ck.as("ck"), v.as("value"))
      val regionRows = nat.crossJoin(segs).select(row6(2, col("entity"),
        col("seg"), lit(2), col("nk"), lit(0L),
        concat(lit("      <mapRegion start=\""), rstart,
          lit("\" end=\""), rstart + 9,
          lit("\"><db dbSource=\""), col("src"),
          lit("\" dbCoordSys=\"UniProt\" dbAccessionId=\""), col("acc"),
          lit("\"/></mapRegion>"))): _*)
      val resRows = T(s, d, "customer")
        .join(T(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey").as("ck"), col("r_name").as("entity"),
          col("n_nationkey").as("nk"),
          (col("n_nationkey") * 10 + pmod(col("c_custkey"), lit(20)) - 2)
            .as("rn"))
        .select(row6(2, col("entity"), lit(1), lit(5), col("nk"), col("ck"),
          concat(lit("      <residue dbSource=\"PDBe\" dbCoordSys=\"PDBe\"" +
              " dbResNum=\""), col("rn"),
            lit("\" dbResName=\"ALA\"><crossRefDb dbSource=\"SRC"),
            pmod(col("nk"), lit(3)),
            lit("\" dbCoordSys=\"UniProt\" dbAccessionId=\"AC"), col("nk"),
            lit("\" dbResNum=\""), col("rn") + 100,
            lit("\" dbResName=\"VAL\" dbChainId=\"A\"/>" +
              "<crossRefDb dbSource=\"UniProt\" dbCoordSys=\"UniProt\"" +
              " dbAccessionId=\"P"), col("nk"),
            lit("\" dbResNum=\""), col("rn") + 100,
            lit("\" dbResName=\"V\"/></residue>"))): _*)
      val entities = nat.select("entity").distinct()
      def marker(ord: Int, seg: Int, sub: Int, text: String,
                 onlySeg1: Boolean = false) = {
        val base = if (onlySeg1) entities.crossJoin(Seq(1).toDF("seg"))
          else entities.crossJoin(segs)
        base.select(row6(ord, col("entity"),
          if (seg < 0) col("seg") else lit(seg),
          lit(sub), lit(0), lit(0L), lit(text)): _*)
      }
      val entOpenC = entities.select(row6(2, col("entity"), lit(0), lit(0),
        lit(0), lit(0L), concat(lit("  <entity type=\"protein\"" +
          " entityId=\""), col("entity"), lit("\">"))): _*)
      val segOpenC = entities.crossJoin(segs).select(row6(2, col("entity"),
        col("seg"), lit(0), lit(0), lit(0L),
        concat(lit("    <segment segId=\""), col("entity"), lit("_s"),
          col("seg"), lit("\">"))): _*)
      val entCloseC = entities.select(row6(2, col("entity"), lit(9), lit(0),
        lit(0), lit(0L), lit("  </entity>")): _*)
      val header = Seq(
        (0, "", 0, 0, 0, 0L, "<entry>"),
        (1, "", 0, 0, 0, 0L,
          "<listDB><db dbSource=\"SRC0\" dbCoordSys=\"UniProt\"" +
          " dbVersion=\"v0\"/><db dbSource=\"SRC1\"" +
          " dbCoordSys=\"UniProt\" dbVersion=\"v1\"/><db" +
          " dbSource=\"SRC2\" dbCoordSys=\"UniProt\" dbVersion=\"v2\"/>" +
          "<db dbSource=\"UniProt\" dbCoordSys=\"UniProt\"" +
          " dbVersion=\"u1\"/></listDB>"),
        (3, "", 0, 0, 0, 0L, "</entry>"))
        .toDF("ord", "entity", "seg", "sub", "nk", "ck", "value")
      val doc = header
        .unionByName(entOpenC).unionByName(segOpenC)
        .unionByName(marker(2, -1, 1, "      <listMapRegion>"))
        .unionByName(regionRows)
        .unionByName(marker(2, -1, 3, "      </listMapRegion>"))
        .unionByName(marker(2, 1, 4, "      <listResidue>", onlySeg1 = true))
        .unionByName(resRows)
        .unionByName(marker(2, 1, 6, "      </listResidue>", onlySeg1 = true))
        .unionByName(marker(2, -1, 7, "    </segment>"))
        .unionByName(entCloseC)
        .coalesce(1)
        .sortWithinPartitions("ord", "entity", "seg", "sub", "nk", "ck")
      TextRender.writeText(doc.select("value"), out)
      sources.Xml.siftsResidues(s, out, addRegions = true, addDbs = true,
        excluded = Seq("SRC2"))
    },
      // re-derives the full residue-annotation long table: the two
      // crossRefDb legs per residue (SRC leg excluded when SRC2, fields
      // nulled; UniProt leg keeps fields), the region argmax per
      // (entity, source, accession, resnum-in-range), and the listDB
      // version map; grouping by the hidden ck key preserves row
      // multiplicity across customers sharing a residue shape
      oracle = Some("""WITH nat AS (
        |SELECT r_name AS entity, n_nationkey AS nk,
        |'SRC' || CAST(n_nationkey % 3 AS VARCHAR) AS src,
        |'AC' || CAST(n_nationkey AS VARCHAR) AS acc
        |FROM nation JOIN region ON n_regionkey = r_regionkey),
        |regions AS (
        |SELECT entity, src, acc,
        |nk * 10 + (seg - 1) * 5 AS rstart,
        |nk * 10 + (seg - 1) * 5 + 9 AS rend,
        |CAST(ROW_NUMBER() OVER (PARTITION BY entity, src ORDER BY seg, nk) AS BIGINT) AS region_id
        |FROM nat CROSS JOIN (SELECT unnest([1, 2]) AS seg) s
        |WHERE src <> 'SRC2'),
        |res AS (
        |SELECT c_custkey AS ck, r_name AS entity, n_nationkey AS nk,
        |n_nationkey * 10 + (c_custkey % 20) - 2 AS rn
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey),
        |ann AS (
        |SELECT ck, entity, rn, 'ALA' AS resName,
        |'SRC' || CAST(nk % 3 AS VARCHAR) AS dbSource,
        |'AC' || CAST(nk AS VARCHAR) AS acc2,
        |CAST(NULL AS VARCHAR) AS dbResNum,
        |CAST(NULL AS VARCHAR) AS dbResName,
        |CAST(NULL AS VARCHAR) AS dbChainId
        |FROM res WHERE nk % 3 <> 2
        |UNION ALL
        |SELECT ck, entity, rn, 'ALA', 'UniProt', 'P' || CAST(nk AS VARCHAR),
        |CAST(rn + 100 AS VARCHAR), 'V', CAST(NULL AS VARCHAR)
        |FROM res)
        |SELECT ann.entity AS "entityId", ann.rn AS resnum,
        |ann.resName AS "resName",
        |CAST(NULL AS VARCHAR) AS "ssCode",
        |CAST(NULL AS VARCHAR) AS "ssName",
        |CAST(NULL AS VARCHAR) AS "detailAnnotation",
        |ann.dbSource AS "dbSource",
        |ann.acc2 AS "dbAccessionId", ann.dbResNum AS "dbResNum",
        |ann.dbResName AS "dbResName", ann.dbChainId AS "dbChainId",
        |max(reg.region_id) AS "regionId",
        |arg_max(reg.rstart, reg.region_id) AS "regionStart",
        |arg_max(reg.rend, reg.region_id) AS "regionEnd",
        |CASE WHEN max(reg.region_id) IS NOT NULL THEN ann.rn END AS "regionResNum",
        |CASE ann.dbSource WHEN 'SRC0' THEN 'v0' WHEN 'SRC1' THEN 'v1'
        |WHEN 'UniProt' THEN 'u1' END AS "dbVersion"
        |FROM ann LEFT JOIN regions reg
        |ON ann.entity = reg.entity AND ann.dbSource = reg.src
        |AND ann.acc2 = reg.acc AND ann.rn BETWEEN reg.rstart AND reg.rend
        |GROUP BY ann.ck, ann.entity, ann.rn, ann.resName, ann.dbSource,
        |ann.acc2, ann.dbResNum, ann.dbResName, ann.dbChainId""".stripMargin)),
    // validation-XML roundtrip (validation.py:21 parse_validation_
    // residues + :142 filter_validation): render ModelledSubgroup
    // attribute rows from the part dim with all three icode cases
    // (absent / blank / real) and all three altcode cases, parse back
    // via the named loader with a column exclusion, then filter by
    // chains with the res_full extension on — the oracle re-derives
    // every fix + the concat relationally
    Query("q_validation_roundtrip", tags = Set("structure"), build = (s, d) => {
      import s.implicits._
      val out = roundtripDir("validation")
      val icodeAttr = when(pmod(col("p_partkey"), lit(4)) === 0, lit(""))
        .when(pmod(col("p_partkey"), lit(4)) === 1, lit(" icode=\" \""))
        .when(pmod(col("p_partkey"), lit(4)) === 2, lit(" icode=\"A\""))
        .otherwise(lit(" icode=\"?\""))
      val altAttr = when(pmod(col("p_partkey"), lit(3)) === 0, lit(""))
        .when(pmod(col("p_partkey"), lit(3)) === 1, lit(" altcode=\"?\""))
        .otherwise(lit(" altcode=\"B\""))
      val recs = T(s, d, "part").select(lit(1).as("k"),
        col("p_partkey").as("pk"),
        concat(lit("  <ModelledSubgroup model=\"1\" said=\"main\" chain=\""),
          substring(col("p_brand"), 8, 1),
          lit("\" seq=\""), col("p_partkey"),
          lit("\" resnum=\""), pmod(col("p_partkey"), lit(100)),
          lit("\" resname=\""), upper(substring(col("p_type"), 1, 3)),
          lit("\" NatomsEDS=\""), col("p_size"),
          lit("\" rsr=\""), col("p_retailprice"),
          lit("\" phi=\""), pmod(col("p_partkey"), lit(360)) - 180,
          lit("\""), icodeAttr, altAttr, lit("/>")).as("value"))
      val doc = Seq((0, 0L, "<wwPDB-validation-information>"))
        .toDF("k", "pk", "value")
        .unionByName(recs)
        .unionByName(Seq((2, 0L, "</wwPDB-validation-information>"))
          .toDF("k", "pk", "value"))
        .coalesce(1).sortWithinPartitions("k", "pk")
      TextRender.writeText(doc.select("value"), out)
      val parsed = sources.Validation.validationResidues(s, out,
        excludedCols = Seq("validation_said"))
      sources.Validation.filterValidation(parsed,
        chains = Some(Seq("1", "3", "5")))
    },
      oracle = Some("""WITH src AS (
        |SELECT p_partkey, substr(p_brand, 8, 1) AS chain,
        |CAST(p_partkey % 100 AS VARCHAR) AS resnum,
        |CASE WHEN p_partkey % 4 = 2 THEN 'A' ELSE '?' END AS icode,
        |CASE WHEN p_partkey % 3 = 2 THEN 'B' ELSE '.' END AS altcode,
        |upper(substr(p_type, 1, 3)) AS resname,
        |CAST(p_size AS BIGINT) AS natoms,
        |CAST(p_retailprice AS DOUBLE) AS rsr,
        |CAST((p_partkey % 360) - 180 AS DOUBLE) AS phi
        |FROM part)
        |SELECT CAST(1 AS BIGINT) AS validation_model,
        |chain AS validation_chain,
        |CAST(p_partkey AS VARCHAR) AS validation_seq,
        |resnum AS validation_resnum,
        |resname AS validation_resname,
        |natoms AS "validation_NatomsEDS",
        |rsr AS validation_rsr,
        |phi AS validation_phi,
        |icode AS validation_icode,
        |altcode AS validation_altcode,
        |resnum || CASE WHEN icode = 'A' THEN 'A' ELSE '' END AS validation_resnum_full
        |FROM src WHERE chain IN ('1', '3', '5')""".stripMargin)),
    // mmCIF metadata-block roundtrip (structures.py:255 _mmcif_fields):
    // render one mmCIF file carrying BOTH block forms from the nation
    // dim — a key-value `_graft_summary.` block (pivots to one row)
    // and a `loop_` `_graft_nation.` block (quoted tokens with
    // embedded spaces: UNITED STATES) — parse each back and cross the
    // 1-row summary onto the per-nation table; dtype inference makes
    // the int columns long, matching the oracle's BIGINTs
    Query("q_mmcif_fields", tags = Set("structure"), build = (s, d) => {
      import s.implicits._
      val out = roundtripDir("mmciffields")
      val nat = T(s, d, "nation")
      val static = Seq(
        (0, 0L, "data_graft"), (0, 1L, "#"),
        (1, 0L, "_graft_summary.src_table   nation"),
        (1, 2L, "_graft_summary.source      'tpch testdata'"),
        (2, 0L, "#"), (2, 1L, "loop_"),
        (3, 0L, "_graft_nation.id"), (3, 1L, "_graft_nation.name"),
        (3, 2L, "_graft_nation.region_key"), (3, 3L, "_graft_nation.tag"),
        (5, 0L, "#")).toDF("k", "pk", "value")
      val cnt = nat.agg(count(lit(1)).as("c"))
        .select(lit(1).as("k"), lit(1L).as("pk"),
          concat(lit("_graft_summary.n_rows      "), col("c")).as("value"))
      val body = nat.select(lit(4).as("k"), col("n_nationkey").as("pk"),
        concat(col("n_nationkey"), lit(" '"), col("n_name"), lit("' "),
          col("n_regionkey"), lit(" '"), col("n_name"), lit(" "),
          col("n_nationkey"), lit("'")).as("value"))
      val doc = static.unionByName(cnt).unionByName(body)
        .coalesce(1).sortWithinPartitions("k", "pk")
      TextRender.writeText(doc.select("value"), out)
      val loop = sources.StructureFormats.mmcifFields(s, out, "_graft_nation.")
      val summary = sources.StructureFormats
        .mmcifFields(s, out, "_graft_summary.")
      loop.crossJoin(summary) // 1-row right side
    },
      oracle = Some("""SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name,
        |CAST(n_regionkey AS BIGINT) AS region_key,
        |n_name || ' ' || CAST(n_nationkey AS VARCHAR) AS tag,
        |'nation' AS src_table,
        |(SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_rows,
        |'tpch testdata' AS source
        |FROM nation""".stripMargin)),
    // the require_index leg: a loop_ block whose records span two
    // physical lines, the indexed line rendered WITH a trailing space
    // so the reference's no-separator join reassembles clean tokens
    // (the quirk path — token merging — is pinned by the spec instead,
    // where the oracle cannot express it)
    Query("q_mmcif_oper", tags = Set("structure"), build = (s, d) => {
      import s.implicits._
      val out = roundtripDir("mmcifoper")
      val nat = T(s, d, "nation")
      val static = Seq(
        (0, 0L, "data_graft"), (0, 1L, "#"), (0, 2L, "loop_"),
        (1, 0L, "_graft_oper.id"), (1, 1L, "_graft_oper.op"),
        (1, 2L, "_graft_oper.axis"), (1, 3L, "_graft_oper.note"),
        (5, 0L, "#")).toDF("k", "pk", "value")
      val l1 = nat.select(lit(4).as("k"),
        (col("n_nationkey") * 2).cast("long").as("pk"),
        concat(col("n_nationkey") + 1, lit(" 'op "), col("n_name"),
          lit("' ")).as("value"))
      val l2 = nat.select(lit(4).as("k"),
        (col("n_nationkey") * 2 + 1).cast("long").as("pk"),
        concat(lit("ax_"), col("n_regionkey"), lit(" t"),
          col("n_nationkey")).as("value"))
      val doc = static.unionByName(l1).unionByName(l2)
        .coalesce(1).sortWithinPartitions("k", "pk")
      TextRender.writeText(doc.select("value"), out)
      sources.StructureFormats.mmcifFields(s, out, "_graft_oper.",
        requireIndex = true)
    },
      oracle = Some("""SELECT CAST(n_nationkey + 1 AS BIGINT) AS id,
        |'op ' || n_name AS op,
        |'ax_' || CAST(n_regionkey AS VARCHAR) AS axis,
        |'t' || CAST(n_nationkey AS VARCHAR) AS note
        |FROM nation""".stripMargin)),
    // hive-style partitioned parquet write + partition-pruned read:
    // the filter prunes to the lang=en directory at planning time
    // (PartitionFilters in the scan), the 100 TB layout primitive
    Query("q_partitioned_roundtrip", (s, d) => {
      val out = roundtripDir("partitioned")
      T(s, d, "documents").select("doc_id", "source", "n_chars", "lang")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out).filter(col("lang") === "en")
        .select("doc_id", "source", "n_chars", "lang")
    },
      Some("""SELECT doc_id, source, n_chars, lang FROM documents
        |WHERE lang = 'en'""".stripMargin)),
    Query("q_stockholm_roundtrip", (s, d) => {
      val out = roundtripDir("stockholm")
      // render docs as a single-block Stockholm alignment: gaps are
      // dots (spaces are not legal in aligned seqs), and the parser
      // strips ALL gap chars ([.-]) for the ungapped sequence — so
      // the payload must be gap-free up front ([. -] removed) and
      // gap-only (empty) docs are excluded on BOTH sides, or the
      // roundtrip would not invert the render
      val payload = regexp_replace(col("text"), "[. \\-]", "")
      TextRender.writeText(
        T(s, d, "documents")
          .filter(length(payload) > 0)
          .select(concat(
            lit("doc_"), col("doc_id"), lit("/1-"), length(payload),
            lit(" "), translate(col("text"), " ", ".")).as("value")),
        out)
      Msa.parseDescription(Msa.stockholm(s, out))
        .select(col("acc"), col("seq_start"), col("seq_end"),
          length(col("sequence")).cast("long").as("seq_len"))
    },
      Some(stockholmRoundtripOracle)),
    // clustal roundtrip (msas.py:32 read_alignments' clustal branch):
    // one header + one record line per doc with a trailing cumulative
    // count (the optional column the parser must tolerate); same
    // gap-domain rules as the stockholm roundtrip
    Query("q_clustal_roundtrip", (s, d) => {
      import s.implicits._
      val out = roundtripDir("clustal")
      val payload = regexp_replace(col("text"), "[. \\-]", "")
      val recs = T(s, d, "documents")
        .filter(length(payload) > 0)
        .select(lit(1).as("k"), col("doc_id").as("pk"),
          concat(lit("doc_"), col("doc_id"), lit("/1-"), length(payload),
            lit(" "), translate(col("text"), " .", "--"),
            lit(" "), length(col("text"))).as("value"))
      val doc = Seq((0, -1L, "CLUSTAL W (1.83) multiple sequence alignment"))
        .toDF("k", "pk", "value")
        .unionByName(recs)
        .coalesce(1).sortWithinPartitions("k", "pk")
      TextRender.writeText(doc.select("value"), out)
      Msa.parseDescription(Msa.clustal(s, out))
        .select(col("acc"), col("seq_start"), col("seq_end"),
          length(col("sequence")).cast("long").as("seq_len"))
    },
      Some(stockholmRoundtripOracle)),
    Query("q_fasta_roundtrip", tags = Set("structure"), build = (s, d) => {
      val out = roundtripDir("fasta")
      TextRender.writeText(
        T(s, d, "documents").select(concat(
          lit(">doc_"), col("doc_id"), lit("/1-"),
          length(regexp_replace(col("text"), " ", "")), lit("\n"),
          regexp_replace(col("text"), " ", "")).as("value")),
        out)
      Msa.parseDescription(Msa.fasta(s, out))
        .select(col("acc"), col("seq_start"), col("seq_end"),
          length(col("sequence")).cast("long").as("seq_len"))
    },
      oracle = Some("""SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS acc, CAST(1 AS BIGINT) AS seq_start,
        |CAST(length(replace(text, ' ', '')) AS BIGINT) AS seq_end,
        |CAST(length(replace(text, ' ', '')) AS BIGINT) AS seq_len
        |FROM documents""".stripMargin)),
    // CSV leg with the production failure mode exercised: one
    // malformed line is injected, read PERMISSIVE with a
    // corrupt-record column, and filtered out — bad input must be
    // quarantined, never crash the pipeline or silently parse
    Query("q_csv_roundtrip", (s, d) => {
      import org.apache.spark.sql.types._
      import s.implicits._
      val out = roundtripDir("csv")
      val rendered = T(s, d, "customer")
        .select(concat_ws(",", col("c_custkey"), col("c_name"),
          col("c_mktsegment"), col("c_acctbal")).as("value"))
        .unionByName(Seq("oops,this line is not,valid").toDF("value"))
      TextRender.writeText(rendered, out)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_mktsegment", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("_bad", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out)
        // reference a REAL column alongside _bad: Spark rejects
        // queries whose pruned column set is ONLY the corrupt-record
        // column (QUERY_ONLY_CORRUPT_RECORD_COLUMN — hit by the
        // bench's count() after pruning the bare _bad filter)
        .filter(col("_bad").isNull && col("c_custkey").isNotNull)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    },
      Some("SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer")),
    // schema evolution: a 100 TB dataset is written over months —
    // later partitions carry columns earlier ones lack. Write two
    // generations (the second adds a column), read with mergeSchema,
    // aggregate with explicit null handling for the missing column.
    Query("q_schema_evolution", (s, d) => {
      val out = roundtripDir("schema_evo")
      val li = T(s, d, "lineitem")
      li.filter(col("l_orderkey") % 2 === 0)
        .select("l_orderkey", "l_returnflag", "l_quantity")
        .write.mode("overwrite").parquet(s"$out/gen=1")
      li.filter(col("l_orderkey") % 2 === 1)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(28,2)")).cast("double")
            .as("sum_qty"),
          count(col("l_extendedprice")).as("n_with_price"),
          sum(col("l_extendedprice").cast("decimal(28,2)")).cast("double")
            .as("sum_price_new_gen"))
    },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |COUNT(CASE WHEN l_orderkey % 2 = 1 THEN 1 END) AS n_with_price,
        |CAST(SUM(CASE WHEN l_orderkey % 2 = 1 THEN CAST(l_extendedprice AS DECIMAL(28,2)) END) AS DOUBLE) AS sum_price_new_gen
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    // second columnar format: ORC write + read + agg (same Catalyst
    // scan surface as parquet — pushdown/pruning apply identically)
    Query("q_orc_roundtrip", (s, d) => {
      val out = roundtripDir("orc")
      T(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(28,2)")).cast("double")
            .as("sum_qty"))
    },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    // variant-payload normalization end-to-end (variants.py:622): a
    // deterministic Proteins-API-shaped JSON payload is synthesized
    // per document, then flattened features -> xref split ->
    // merge-down; the oracle reproduces the derivation relationally
    Query("q_variants_flatten", (s, d) => {
      val docs = T(s, d, "documents")
      val xrefs = array(
        struct(lit("dbSNP").as("name"),
          concat(lit("rs"), pmod(col("doc_id"), lit(37)).cast("string"))
            .as("id")),
        struct(lit("ClinVar").as("name"),
          concat(lit("rcv"), pmod(col("doc_id"), lit(13)).cast("string"))
            .as("id")))
      val payload = docs.select(to_json(struct(
        concat(lit("P"), pmod(col("doc_id"), lit(50)).cast("string"))
          .as("accession"),
        lit("GRAFT_ENTRY").as("entryName"),
        array(
          struct(lit("VARIANT").as("type"),
            (pmod(col("n_chars"), lit(900)) + 1).cast("string").as("begin"),
            (pmod(col("n_chars"), lit(900)) + 3).cast("string").as("end"),
            upper(substring(col("lang"), 1, 1)).as("wildType"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              lit("synonymous_variant")).otherwise(lit("missense_variant"))
              .as("consequenceType"),
            xrefs.as("xrefs")),
          struct(lit("MUTAGEN").as("type"),
            (pmod(col("n_chars"), lit(900)) + 5).cast("string").as("begin"),
            (pmod(col("n_chars"), lit(900)) + 7).cast("string").as("end"),
            upper(substring(col("source"), 1, 1)).as("wildType"),
            lit("mutagenesis").as("consequenceType"),
            slice(xrefs, 1, 1).as("xrefs"))).as("features"))).as("json"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "accession string, entryName string, features array<struct<" +
          "type:string, begin:string, end:string, wildType:string, " +
          "consequenceType:string, " +
          "xrefs:array<struct<name:string, id:string>>>>")
      Variants.flattenUniprotVariants(payload, "json", schema)
    },
      Some("""WITH feats AS (
        |SELECT 'P' || CAST(doc_id % 50 AS VARCHAR) AS accession, 'GRAFT_ENTRY' AS en,
        |'VARIANT' AS ftype, CAST(n_chars % 900 + 1 AS INT) AS fbegin, CAST(n_chars % 900 + 3 AS INT) AS fend,
        |upper(substr(lang, 1, 1)) AS wt,
        |CASE WHEN doc_id % 3 = 0 THEN 'synonymous_variant' ELSE 'missense_variant' END AS ct,
        |'rs' || CAST(doc_id % 37 AS VARCHAR) AS xid FROM documents
        |UNION ALL
        |SELECT 'P' || CAST(doc_id % 50 AS VARCHAR), 'GRAFT_ENTRY',
        |'VARIANT', CAST(n_chars % 900 + 1 AS INT), CAST(n_chars % 900 + 3 AS INT),
        |upper(substr(lang, 1, 1)),
        |CASE WHEN doc_id % 3 = 0 THEN 'synonymous_variant' ELSE 'missense_variant' END,
        |'rcv' || CAST(doc_id % 13 AS VARCHAR) FROM documents
        |UNION ALL
        |SELECT 'P' || CAST(doc_id % 50 AS VARCHAR), 'GRAFT_ENTRY',
        |'MUTAGEN', CAST(n_chars % 900 + 5 AS INT), CAST(n_chars % 900 + 7 AS INT),
        |upper(substr(source, 1, 1)), 'mutagenesis',
        |'rs' || CAST(doc_id % 37 AS VARCHAR) FROM documents)
        |SELECT accession, xid AS xrefs_id,
        |string_agg(DISTINCT en, ';' ORDER BY en) AS "entryName",
        |string_agg(DISTINCT ftype, ';' ORDER BY ftype) AS "type",
        |string_agg(DISTINCT CAST(fbegin AS VARCHAR), ';' ORDER BY CAST(fbegin AS VARCHAR)) AS "begin",
        |string_agg(DISTINCT CAST(fend AS VARCHAR), ';' ORDER BY CAST(fend AS VARCHAR)) AS "end",
        |string_agg(DISTINCT wt, ';' ORDER BY wt) AS "wildType",
        |string_agg(DISTINCT ct, ';' ORDER BY ct) AS "consequenceType"
        |FROM feats GROUP BY accession, xid""".stripMargin)),
    // viewer attribute file (visualise.py defattr shape): header +
    // ':key<TAB>value' body rendered distributed, parsed back —
    // double→string→double roundtrips bit-exactly in Java
    Query("q_attr_render_roundtrip", (s, d) => {
      import s.implicits._
      val out = roundtripDir("attr")
      val (header, body) = TextRender.attributeLines(
        T(s, d, "customer").select("c_custkey", "c_acctbal"),
        "c_custkey", "c_acctbal", "acctbal")
      val headerDf = header.toDF("value")
      TextRender.writeText(headerDf.unionByName(body), out)
      val re = "^:([^\\t]+)\\t(.*)$"
      s.read.text(out)
        .filter(col("value").startsWith(":"))
        .select(
          regexp_extract(col("value"), re, 1).cast("long").as("c_custkey"),
          regexp_extract(col("value"), re, 2).cast("double").as("c_acctbal"))
    },
      Some("SELECT c_custkey, c_acctbal FROM customer")))
}
