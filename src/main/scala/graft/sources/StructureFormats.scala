package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Concrete structural-biology text layouts from the reference,
  * expressed as [[TextSources]] specs — the formats ProteoFAV parses
  * with pandas read_fwf / tokenization, here parsed distributed with
  * codegen'd substring/split expressions.
  */
object StructureFormats {

  import TextSources.FixedWidthField

  /** PDB ATOM/HETATM record layout (columns per the public PDB format
    * spec, the same offsets pandas read_fwf uses in
    * proteofav/structures.py:118 parse_pdb_atoms). */
  val PdbAtomFields: Seq[FixedWidthField] = Seq(
    FixedWidthField("group_PDB", 1, 6),
    FixedWidthField("id", 7, 5, "int"),
    FixedWidthField("auth_atom_id", 13, 4),
    FixedWidthField("label_alt_id", 17, 1),
    FixedWidthField("auth_comp_id", 18, 3),
    FixedWidthField("auth_asym_id", 22, 1),
    FixedWidthField("auth_seq_id", 23, 4, "int"),
    FixedWidthField("pdbx_PDB_ins_code", 27, 1),
    FixedWidthField("Cartn_x", 31, 8, "double"),
    FixedWidthField("Cartn_y", 39, 8, "double"),
    FixedWidthField("Cartn_z", 47, 8, "double"),
    FixedWidthField("occupancy", 55, 6, "double"),
    FixedWidthField("B_iso_or_equiv", 61, 6, "double"),
    FixedWidthField("type_symbol", 77, 2))

  /** Parse PDB ATOM (+ optionally HETATM) records, distributed.
    * reference: proteofav/structures.py:118. */
  def pdbAtoms(spark: SparkSession, path: String,
               includeHetatm: Boolean = true): DataFrame = {
    val prefix = if (includeHetatm)
      col("value").startsWith("ATOM") || col("value").startsWith("HETATM")
    else col("value").startsWith("ATOM")
    TextSources.fixedWidth(spark, path, PdbAtomFields, Some(prefix))
  }

  /** DSSP per-residue record layout (offsets as in
    * proteofav/dssp.py:31 parse_dssp_residues' read_fwf colspecs). */
  val DsspResidueFields: Seq[FixedWidthField] = Seq(
    FixedWidthField("LINE", 1, 5, "int"),
    FixedWidthField("RES", 6, 5),
    FixedWidthField("INSCODE", 11, 1),
    FixedWidthField("CHAIN", 12, 1),
    FixedWidthField("AA", 14, 1),
    FixedWidthField("SS", 17, 1),
    FixedWidthField("ACC", 35, 4, "double"),
    FixedWidthField("PHI", 104, 6, "double"),
    FixedWidthField("PSI", 110, 6, "double"))

  /** Parse DSSP residue lines: the body starts after the `  #  RES`
    * header line; data lines carry a numeric line index, so the
    * scale-safe filter is content-based (no positional skip).
    * reference: proteofav/dssp.py:31. */
  def dsspResidues(spark: SparkSession, path: String): DataFrame =
    TextSources.fixedWidth(spark, path, DsspResidueFields,
      Some(regexp_like(substring(col("value"), 1, 5), lit("^\\s*\\d+$"))))
      // '!' chain-break placeholder rows carry no residue
      .filter(col("AA") =!= "!")

  /** DSSP parse that KEEPS the '!'/'!*' break marker rows and reads
    * AA two wide (the reference colspec is (12,15), so the '*' of a
    * '!*' chain break survives — the plain 1-char read sees only
    * '!'). This is the input [[dsspFullChain]] needs; each row also
    * carries its source file for the per-file window.
    * reference: proteofav/dssp.py:31 (colspecs) + dssp.py:153. */
  def dsspResiduesWithBreaks(spark: SparkSession, path: String): DataFrame = {
    val fields = DsspResidueFields.map {
      case f if f.name == "AA" => f.copy(len = 2)
      case f => f
    }
    spark.read.text(path)
      .withColumn("file", input_file_name())
      .filter(regexp_like(substring(col("value"), 1, 5), lit("^\\s*\\d+$")))
      .select(col("file") +: fields.map { f =>
        trim(substring(col("value"), f.start, f.len)).cast(f.dataType).as(f.name)
      }: _*)
  }

  /** BioUnits chain re-lettering — the `_add_dssp_full_chain` recode
    * (proteofav/dssp.py:153-196), Spark-first: a per-file window scan
    * instead of the reference's driver-side row loop (parallel across
    * files, ordered within each — the only order the semantics need).
    *
    * Reference semantics reproduced exactly: a counter starts at -1;
    * at each '!*' chain-break row it increments when the CHAIN values
    * of the two NEIGHBORING rows agree (a BioUnit copy boundary
    * inside one author chain) and RESETS to -1 when they differ (a
    * genuine new chain) — including the quirk that the comparison is
    * positional (whatever rows happen to sit at ix±1, markers
    * included). While the counter is ≥ 0, residue rows (not '!' or
    * '!*') get CHAIN suffixed from the generated alphabet A..Z0..9,
    * AA..A9, BA..B9; position ≥ 108 raises, as the reference does. A
    * marker at a file edge has a null neighbor and resets (the
    * reference indexes out of bounds there — undefined; we pin the
    * conservative reset).
    *
    * In window terms: reset markers partition each file into groups
    * (running sum of resets), and the counter is the running count of
    * increment markers within the group, minus one. */
  def dsspFullChain(df: DataFrame, fileCol: String = "file",
                    orderCol: String = "LINE",
                    chainCol: String = "CHAIN",
                    aaCol: String = "AA",
                    as: String = "CHAIN_FULL"): DataFrame = {
    val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    val w = Window.partitionBy(fileCol).orderBy(orderCol)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isBreak = col(aaCol) === "!*"
    val sameNbr = lag(col(chainCol), 1).over(w) <=> lead(col(chainCol), 1).over(w)
    val staged = df
      .withColumn("__inc", when(isBreak && sameNbr, 1).otherwise(0))
      .withColumn("__rst", when(isBreak && !sameNbr, 1).otherwise(0))
      .withColumn("__grp", sum(col("__rst")).over(wRun))
    val wGrp = Window.partitionBy(col(fileCol), col("__grp"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c: Column = sum(col("__inc")).over(wGrp) - 1
    val suffix = when(c < 36, lit(alpha).substr((c + 1).cast("int"), lit(1)))
      .when(c < 72, concat(lit("A"), lit(alpha).substr((c - 35).cast("int"), lit(1))))
      .when(c < 108, concat(lit("B"), lit(alpha).substr((c - 71).cast("int"), lit(1))))
      .otherwise(raise_error(lit(
        "Alphabet needs update to accommodate such high number of chains..."))
        .cast("string"))
    staged
      .withColumn(as,
        when(c >= 0 && !col(aaCol).isin("!*", "!"),
          concat(col(chainCol), suffix))
          .otherwise(col(chainCol)))
      .drop("__inc", "__rst", "__grp")
  }

  /** mmCIF atom_site loop column order (whitespace-token records) —
    * the 21 columns proteofav names in structures.py:57. */
  val MmcifAtomCols: Seq[String] = Seq(
    "group_PDB", "id", "type_symbol", "label_atom_id", "label_alt_id",
    "label_comp_id", "label_asym_id", "label_entity_id", "label_seq_id",
    "pdbx_PDB_ins_code", "Cartn_x", "Cartn_y", "Cartn_z", "occupancy",
    "B_iso_or_equiv", "pdbx_formal_charge", "auth_seq_id", "auth_comp_id",
    "auth_asym_id", "auth_atom_id", "pdbx_PDB_model_num")

  /** Parse mmCIF ATOM/HETATM token records with typed coordinates.
    * reference: proteofav/structures.py:57 (parse_mmcif_atoms). */
  def mmcifAtoms(spark: SparkSession, path: String): DataFrame = {
    val raw = TextSources.tokenRecords(spark, path, MmcifAtomCols,
      linePrefix = None)
      .filter(col("group_PDB").isin("ATOM", "HETATM"))
    Seq("Cartn_x", "Cartn_y", "Cartn_z", "occupancy", "B_iso_or_equiv")
      .foldLeft(raw)((d, c) => d.withColumn(c, col(c).cast("double")))
      .withColumn("id", col("id").cast("int"))
      .withColumn("label_seq_id", col("label_seq_id").cast("int"))
      .withColumn("auth_seq_id", col("auth_seq_id").cast("int"))
  }

  /** Derive the `*_seq_id_full` merge keys — seq_id concatenated with
    * the insertion code, '?' sentinel stripped (blank ins codes from
    * PDB fixed-width parsing contribute nothing). Adds both label and
    * auth variants when their seq_id is present, as the reference
    * does. A codegen'd concat; Catalyst prunes the inputs if only the
    * key survives. reference: proteofav/structures.py:320
    * (_add_mmcif_res_full). */
  def addResFull(df: DataFrame): DataFrame = {
    def full(seq: String) = concat(col(seq).cast("string"),
      regexp_replace(coalesce(col("pdbx_PDB_ins_code"), lit("")),
        "\\?", ""))
    var out = df
    if (df.columns.contains("pdbx_PDB_ins_code")) {
      if (df.columns.contains("label_seq_id"))
        out = out.withColumn("label_seq_id_full", full("label_seq_id"))
      if (df.columns.contains("auth_seq_id"))
        out = out.withColumn("auth_seq_id_full", full("auth_seq_id"))
    }
    out
  }

  // ---- record cleanup passes (structures.py:178-258, 340-364) ----
  // PDB-parsed records carry blanks where mmCIF expects sentinel
  // characters; all four fixes are pure column expressions so they
  // fuse into the scan projection.

  /** Blank/null insertion codes → '?' (the mmCIF no-code sentinel).
    * reference: proteofav/structures.py:205 (_fix_pdb_ins_code). */
  def fixPdbInsCode(df: DataFrame): DataFrame =
    df.withColumn("pdbx_PDB_ins_code",
      when(col("pdbx_PDB_ins_code").isNull ||
        (trim(col("pdbx_PDB_ins_code")) === ""), lit("?"))
        .otherwise(col("pdbx_PDB_ins_code")))

  /** Blank/'?'/null altloc ids → '.' (the mmCIF no-altloc sentinel).
    * reference: proteofav/structures.py:219 (_fix_label_alt_id). */
  def fixLabelAltId(df: DataFrame): DataFrame =
    df.withColumn("label_alt_id",
      when(col("label_alt_id").isNull ||
        (trim(col("label_alt_id")) === "") ||
        (col("label_alt_id") === "?"), lit("."))
        .otherwise(col("label_alt_id")))

  /** Missing element symbol → first uppercase letter of the atom id
    * (" CA " → C). reference: proteofav/structures.py:233
    * (_fix_type_symbol / get_type_symbol). */
  def fixTypeSymbol(df: DataFrame,
                    atomCol: String = "label_atom_id"): DataFrame =
    df.withColumn("type_symbol",
      when(col("type_symbol").isNull || (trim(col("type_symbol")) === ""),
        substring(regexp_replace(col(atomCol), "[^A-Z]", ""), 1, 1))
        .otherwise(col("type_symbol")))

  /** Import mmCIF chain ids into a DSSP table by positional sequence
    * alignment — `_import_dssp_chains_ids` (dssp.py:114-133): DSSP
    * rows carrying a standard residue letter are aligned, in order,
    * with the mmCIF residue list; if ANY aligned position disagrees
    * (mmCIF 3-letter codes mapped through Library.toSingleAa — an
    * unmappable or missing residue counts as a disagreement, as the
    * reference's NaN comparison does) the import refuses with the
    * reference's error; otherwise CHAIN is replaced positionally by
    * the mmCIF auth_asym_id and non-standard rows keep theirs.
    *
    * The reference aligns two pandas tables by implicit row position
    * for ONE structure; here both sides carry a structure key and
    * every structure aligns independently — per-key windows, one
    * (key, position) equi-join, and the consistency check is a single
    * eager aggregate (eager so it can raise). */
  def dsspImportChainIds(dssp: DataFrame, cifResidues: DataFrame,
                         keyCol: String = "file",
                         orderCol: String = "LINE",
                         cifKeyCol: String = "file",
                         cifOrderCol: String = "id",
                         chainCol: String = "CHAIN",
                         // the reference uses the full modified-residue
                         // scop_3to1 dictionary (library.py:14) — pass it
                         // here; the 20-standard default covers
                         // unmodified structures
                         singleAa: Map[String, String] = Library.toSingleAa)
  : DataFrame = {
    val letters = singleAa.values.toSeq.distinct
    val toSingle = map(singleAa.toSeq
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val dPos = dssp.filter(col("AA").isin(letters: _*))
      .select(col(keyCol).as("__k"), col(orderCol).as("__ord"),
        col("AA").as("__aa"))
      .withColumn("__pos", row_number().over(
        Window.partitionBy("__k").orderBy("__ord")))
    val cPos = cifResidues
      .select(col(cifKeyCol).as("__k"), col(cifOrderCol).as("__cord"),
        element_at(toSingle, col("auth_comp_id")).as("__letter"),
        col("auth_asym_id").as("__chain"))
      .withColumn("__pos", row_number().over(
        Window.partitionBy("__k").orderBy("__cord")))
    // the aligned table feeds BOTH the eager gate and the chain
    // mapping — materialize it once (localCheckpoint, as the CC loops
    // do) instead of running the two window sorts + join twice
    val aligned = dPos.join(cPos, Seq("__k", "__pos"), "full_outer")
      .localCheckpoint(true)
    val bad = aligned.filter(!(col("__aa") <=> col("__letter"))).count()
    if (bad > 0) throw new IllegalStateException(
      s"Inconsistent DSSP / mmCIF sequence at $bad position(s) — " +
        "cannot be fixed by import_dssp_chains_ids")
    val mapping = aligned.select(col("__k"), col("__ord"), col("__chain"))
    dssp.join(mapping,
        dssp(keyCol) === col("__k") && dssp(orderCol) === col("__ord"), "left")
      .withColumn(chainCol, coalesce(col("__chain"), col(chainCol)))
      .drop("__k", "__ord", "__chain")
  }

  /** Renumber the line/residue index sequentially (1-based) after
    * filtering — filter_dssp's `reset_res_id` knob (dssp.py:403-407),
    * per file instead of the reference's single-table reset_index. */
  def resetLineIds(df: DataFrame, fileCol: String = "file",
                   orderCol: String = "LINE"): DataFrame =
    df.withColumn(orderCol, row_number().over(
      Window.partitionBy(fileCol).orderBy(orderCol)))

  /** x/y/z coordinate matrix from an atom table — the (N, 3)
    * vector-set `get_coordinates` builds with a driver-side row loop
    * (proteofav/structures.py:716-735); here a narrow projection the
    * parquet/text scan prunes to, one array<double> row per atom.
    * Same column contract as the reference: Cartn_x/y/z. */
  def getCoordinates(atoms: DataFrame): DataFrame =
    atoms.select(array(col("Cartn_x").cast("double"),
      col("Cartn_y").cast("double"),
      col("Cartn_z").cast("double")).as("coord"))

  /** Generic mmCIF metadata-block reader — the `_mmcif_fields`
    * analog (proteofav/structures.py:255): extract ONE named category
    * block (e.g. `_pdbx_struct_assembly.`) from an mmCIF file as a
    * table, supporting both block forms:
    *
    *  - `loop_` form: the consecutive `_cat.name` lines (in file
    *    order) name the columns; the body rows that follow, up to the
    *    `#` terminator, are whitespace-tokenized records;
    *  - key-value form: each `_cat.key value` line contributes one
    *    column, and the values pivot into a single row.
    *
    * Faithful-translation notes (all reproduced deliberately):
    *  - `"` is replaced by `'` before tokenizing, and a `'…'`-quoted
    *    token may contain whitespace (the reference feeds pandas
    *    `delim_whitespace=True, quotechar="'"`);
    *  - `requireIndex` (the reference's `require_index`) joins each
    *    line whose first TWO characters parse as an int with the
    *    following line(s) WITHOUT a separator — exactly the
    *    reference's `''.join` of newline-stripped lines, INCLUDING
    *    the quirk that the last token of the indexed line merges
    *    with the first token of the continuation when the indexed
    *    line has no trailing whitespace (visible in
    *    `_pdbx_struct_oper_list.` matrices);
    *  - missing trailing tokens become nulls; column dtypes follow
    *    pandas inference (all-int & complete → long, numeric or
    *    int-with-missing → double, all-missing → double, else
    *    string);
    *  - a category run or a loop body that hits end-of-file without
    *    its terminator raises, as the reference's bare `next(handle)`
    *    does (StopIteration).
    *
    * Scale shape: the block is located by CONTENT, but its column
    * order, body adjacency, and continuation joining genuinely need
    * line numbers, so the file is line-indexed once (zipWithIndex —
    * the documented TextSources fallback) and cached for the handful
    * of boundary probes. Driver-side state is bounded: the category
    * header lines (O(#columns)) and three boundary scalars. The loop
    * BODY stays distributed end-to-end; the single global window
    * under `requireIndex` orders only the body slice of one metadata
    * block, not the file. */
  def mmcifFields(spark: SparkSession, path: String,
                  category: String = "_exptl.",
                  requireIndex: Boolean = false): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rdd = spark.read.text(path).rdd.zipWithIndex()
      .map { case (r, i) => Row(r.getString(0), i) }
    val schema = StructType(Seq(StructField("value", StringType),
      StructField("__idx", LongType)))
    val indexed = spark.createDataFrame(rdd, schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the cache serves only the probes below; the returned frame
    // re-derives the index from the file, so release it on every exit
    // rather than leak one cached frame per call into the session
    try {
      // category lines: bounded driver state, one per block column
      val catLines = indexed.filter(col("value").startsWith(category))
        .orderBy("__idx").collect()
      require(catLines.nonEmpty,
        s"no '$category' block in $path")
      val firstIdx = catLines.head.getLong(1)
      // the contiguous header run starting at the block head — a later
      // re-occurrence of the category elsewhere in the file is not part
      // of this block (the reference stops at the first non-matching
      // line)
      val run = catLines.zipWithIndex
        .takeWhile { case (r, i) => r.getLong(1) == firstIdx + i }
        .map(_._1)
      val lastHeaderIdx = firstIdx + run.length - 1
      val maxIdx = indexed.agg(max("__idx")).head.getLong(0)
      if (lastHeaderIdx == maxIdx && run.length == catLines.length)
        throw new IllegalStateException(
          s"'$category' block runs to end-of-file in $path " +
            "(the reference raises StopIteration here)")
      val prevLine =
        if (firstIdx == 0) ""
        else indexed.filter(col("__idx") === firstIdx - 1)
          .head().getString(0)
      val stripRstrip = (s: String) => s.replace(category, "")
        .replaceAll("\\s+$", "")

      // '…'-quoted tokens (possibly containing whitespace) or bare runs
      // of non-whitespace — pandas delim_whitespace + quotechar "'"
      val tokenRe = "'[^']*'|\\S+"
      def unquote(t: Column): Column =
        when(t.rlike("^'.*'$"), t.substr(lit(2), length(t) - 2)).otherwise(t)

      val parsedStrings: DataFrame =
        if (prevLine.contains("loop_")) {
          val header = run.map(r => stripRstrip(r.getString(0)))
          // body: the slice between the header run and the '#'
          // terminator; finding the terminator is one filtered
          // min-aggregate over the cached index
          val termRow = indexed.filter(col("__idx") > lastHeaderIdx &&
              col("value").startsWith("#"))
            .agg(min("__idx")).head()
          if (termRow.isNullAt(0)) throw new IllegalStateException(
            s"unterminated '$category' loop_ block in $path " +
              "(the reference raises StopIteration here)")
          val endIdx = termRow.getLong(0)
          var body = indexed
            .filter(col("__idx") > lastHeaderIdx && col("__idx") < endIdx)
            .withColumn("value", translate(col("value"), "\"", "'"))
          if (requireIndex) {
            // a record = an int-indexed line plus the following
            // non-indexed line(s), concatenated with NO separator (the
            // reference strips the newline of indexed lines and
            // ''.joins); a record boundary falls after every
            // non-indexed line
            import org.apache.spark.sql.expressions.Window
            val keepsNewline = !regexp_like(
              substring(col("value"), 1, 2), lit("^\\s*[+-]?\\d+\\s*$"))
            val w = Window.orderBy("__idx")
              .rowsBetween(Window.unboundedPreceding, -1)
            body = body
              // guarded (r18): the running record-boundary sum is a
              // per-FILE parse (one table's lines) — assert the global
              // frame stays file-sized
              .withColumn("__rec", graft.operators.WindowOps.guardedGlobalFrame(
                coalesce(sum(keepsNewline.cast("long")).over(w), lit(0L)),
                "the indexed-record parse's per-file line table", 1L << 24))
              .groupBy("__rec")
              .agg(array_join(transform(
                array_sort(collect_list(struct(col("__idx"), col("value")))),
                s => s.getField("value")), "").as("value"))
          }
          body
            .withColumn("__toks",
              regexp_extract_all(col("value"), lit(tokenRe), lit(0)))
            .select(header.zipWithIndex.map { case (n, i) =>
              // try_: a short row (fewer tokens than headers) is a null
              // cell, not an ANSI index error — pandas NaN semantics
              unquote(try_element_at(col("__toks"), lit(i + 1))).as(n)
            }: _*)
        } else {
          // key-value form: headers AND data both come from the
          // category lines themselves; the row is metadata-sized by
          // construction (one value per column), so it is assembled on
          // the driver like the reference's ' '.join
          val pairs = run.map { r =>
            val s = stripRstrip(r.getString(0))
            val kv = s.split("\\s+", 2)
            require(kv.length == 2,
              s"malformed key-value line '${r.getString(0)}' in $category block")
            (kv(0), kv(1))
          }
          val joined = pairs.map(_._2).mkString(" ").replace("\"", "'")
          val toks = java.util.regex.Pattern.compile(tokenRe).matcher(joined)
          val values = scala.collection.mutable.ArrayBuffer.empty[String]
          while (toks.find()) values += {
            val t = toks.group()
            if (t.length >= 2 && t.startsWith("'") && t.endsWith("'"))
              t.substring(1, t.length - 1)
            else t
          }
          val header = pairs.map(_._1)
          val row = Row.fromSeq(header.indices.map(i =>
            if (i < values.length) values(i) else null))
          spark.createDataFrame(
            new java.util.ArrayList[Row](java.util.Arrays.asList(row)),
            StructType(header.map(h => StructField(h, StringType)).toArray))
        }

      // pandas-style dtype inference: one bounded aggregate (three
      // booleans per column) over the parsed strings
      val intRe = "^[+-]?\\d+$"
      val numRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"
      val cols = parsedStrings.columns
      val probes = cols.zipWithIndex.flatMap { case (c, i) => Seq(
        bool_and(col(c).isNull || col(c).rlike(intRe)).as(s"__i$i"),
        bool_and(col(c).isNull || col(c).rlike(numRe)).as(s"__n$i"),
        bool_and(col(c).isNull).as(s"__z$i"),
        bool_or(col(c).isNull).as(s"__h$i"))
      }
      val p = parsedStrings.agg(probes.head, probes.tail: _*).head()
      def flag(name: String): Boolean = !p.isNullAt(p.fieldIndex(name)) &&
        p.getBoolean(p.fieldIndex(name))
      parsedStrings.select(cols.zipWithIndex.map { case (c, i) =>
        val (allInt, allNum) = (flag(s"__i$i"), flag(s"__n$i"))
        val (allNull, hasNull) = (flag(s"__z$i"), flag(s"__h$i"))
        val qc = col(parsedStrings.columns(i))
        if (allNull) qc.cast("double").as(c) // pandas: all-NaN → float64
        else if (allInt && !hasNull) qc.cast("long").as(c)
        else if (allInt || allNum) qc.cast("double").as(c)
        else qc.as(c)
      }: _*)
    } finally indexed.unpersist()
  }

  /** Add '<atom>.<altloc>' disambiguation ids (plain atom id when no
    * altloc) for both label_ and auth_ naming schemes.
    * reference: proteofav/structures.py:340 (_add_mmcif_atom_altloc /
    * join_atom_altloc). */
  def addAtomAltloc(df: DataFrame): DataFrame = {
    def joined(category: String) = when(
      col("label_alt_id").isNull ||
        trim(col("label_alt_id")).isin("", "."),
      col(s"${category}_atom_id"))
      .otherwise(concat(col(s"${category}_atom_id"), lit("."),
        col("label_alt_id")))
    df.withColumn("label_atom_altloc_id", joined("label"))
      .withColumn("auth_atom_altloc_id", joined("auth"))
  }
}
