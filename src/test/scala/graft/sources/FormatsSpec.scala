package graft.sources

import graft.SparkSpec
import java.nio.file.Files

class FormatsSpec extends SparkSpec {
  import sqlImplicits._

  private def writeTmp(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_fmt")
    Files.writeString(dir.resolve(name), content)
    dir.resolve(name).toString
  }

  test("pdbAtoms parses ATOM/HETATM fixed columns") {
    // classic PDB ATOM layout (spaces exact)
    val pdb =
      "HEADER    TEST\n" +
      "ATOM      1  N   ALA A   1      11.104   6.134  -6.504  1.00  0.00           N\n" +
      "HETATM    2  O   HOH A   2       1.000   2.000   3.000  0.50 10.00           O\n" +
      "END\n"
    val out = StructureFormats.pdbAtoms(spark, writeTmp("t.pdb", pdb))
    val rows = out.orderBy("id")
      .select("group_PDB", "id", "auth_atom_id", "auth_comp_id",
        "auth_asym_id", "auth_seq_id", "Cartn_x", "occupancy")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "ATOM" && rows(0).getInt(1) == 1)
    assert(rows(0).getString(2) == "N" && rows(0).getString(3) == "ALA")
    assert(rows(0).getString(4) == "A" && rows(0).getInt(5) == 1)
    assert(rows(0).getDouble(6) == 11.104 && rows(0).getDouble(7) == 1.0)
    assert(rows(1).getString(0) == "HETATM" && rows(1).getDouble(7) == 0.5)
    val atomsOnly = StructureFormats.pdbAtoms(spark, writeTmp("t2.pdb", pdb),
      includeHetatm = false)
    assert(atomsOnly.count() == 1)
  }

  test("dsspResidues keeps numbered residue rows, drops breaks") {
    val pad = " " * 80
    val dssp =
      "==== Secondary Structure Definition ====\n" +
      "  #  RESIDUE AA STRUCTURE BP1 BP2  ACC\n" +
      "    1    1 A M  H          0   0  160" + pad + "\n" +
      "    2        !              0   0    0" + pad + "\n" +
      "    3    2 A A  E          0   0   82" + pad + "\n"
    val out = StructureFormats.dsspResidues(spark, writeTmp("t.dssp", dssp))
    val rows = out.orderBy("LINE").select("LINE", "AA", "SS", "ACC").collect()
    assert(rows.length == 2)
    assert(rows(0).getInt(0) == 1 && rows(0).getString(1) == "M"
      && rows(0).getString(2) == "H" && rows(0).getDouble(3) == 160.0)
    assert(rows(1).getInt(0) == 3 && rows(1).getString(1) == "A")
  }

  test("mmcifAtoms parses token records with typed coords") {
    val cif =
      "data_test\nloop_\n_atom_site.group_PDB\n_atom_site.id\n" +
      "ATOM 1 N N . ALA A 1 1 ? 11.104 6.134 -6.504 1.00 0.00 ? 1 ALA A N 1\n" +
      "HETATM 2 O O . HOH B 2 2 ? 1.0 2.0 3.0 0.50 10.0 ? 2 HOH B O 1\n"
    val out = StructureFormats.mmcifAtoms(spark, writeTmp("t.cif", cif))
    val rows = out.orderBy("id")
      .select("group_PDB", "id", "label_comp_id", "Cartn_x", "occupancy")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "ATOM" && rows(0).getInt(1) == 1)
    assert(rows(0).getString(2) == "ALA" && rows(0).getDouble(3) == 11.104)
    assert(rows(1).getDouble(4) == 0.5)
  }

  test("pdbLines render → pdbAtoms parse roundtrip") {
    val df = Seq(
      ("ATOM", 1, "N", "", "ALA", "A", 1, "", 11.104, 6.134, -6.504,
        1.0, 0.0, "N"),
      ("HETATM", 2, "O", "B", "HOH", "C", 42, "", -1.5, 0.25, 3.75,
        0.5, 10.25, "O"))
      .toDF("group_PDB", "id", "auth_atom_id", "label_alt_id",
        "auth_comp_id", "auth_asym_id", "auth_seq_id",
        "pdbx_PDB_ins_code", "Cartn_x", "Cartn_y", "Cartn_z",
        "occupancy", "B_iso_or_equiv", "type_symbol")
    val dir = Files.createTempDirectory("graft_pdb").toString + "/out"
    graft.sinks.TextRender.writeText(graft.sinks.TextRender.pdbLines(df), dir)
    val back = StructureFormats.pdbAtoms(spark, dir).orderBy("id")
      .select("group_PDB", "id", "auth_comp_id", "auth_asym_id",
        "auth_seq_id", "Cartn_x", "Cartn_z", "occupancy", "type_symbol")
      .collect()
    assert(back.length == 2)
    assert(back(0).getString(0) == "ATOM" && back(0).getDouble(5) == 11.104)
    assert(back(1).getString(0) == "HETATM" && back(1).getInt(4) == 42)
    assert(back(1).getDouble(6) == 3.75 && back(1).getDouble(7) == 0.5)
    assert(back(1).getString(8) == "O")
  }

  test("tokenLines render → mmcifAtoms parse roundtrip with ? nulls") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("ATOM", 1, "N", "N", null.asInstanceOf[String], "ALA", "A", "1", 1,
        null.asInstanceOf[String], 11.104, 6.134, -6.504, 1.0, 0.0,
        "?", 1, "ALA", "A", "N", "1"))
      .toDF(StructureFormats.MmcifAtomCols: _*)
    val dir = Files.createTempDirectory("graft_cif").toString + "/out"
    graft.sinks.TextRender.writeText(
      graft.sinks.TextRender.tokenLines(df, StructureFormats.MmcifAtomCols),
      dir)
    val back = StructureFormats.mmcifAtoms(spark, dir)
    val r = back.head()
    assert(back.count() == 1)
    assert(r.getAs[String]("label_alt_id") == "?") // null → placeholder
    assert(r.getAs[Double]("Cartn_x") == 11.104)
    assert(r.getAs[Int]("auth_seq_id") == 1)
  }

  test("Library constants drive recode/constrain/complete operators") {
    import graft.operators.{Aggregations, RowOps}
    import org.apache.spark.sql.functions._
    val atoms = Seq(
      ("ALA", 1, "CA"), ("ALA", 1, "N"), ("ALA", 1, "C"), ("ALA", 1, "O"),
      ("GLY", 2, "CA")) // residue 2 incomplete
      .toDF("comp", "res", "atom")
    val aa = RowOps.recodeByMap(atoms, "comp", "aa1", Library.toSingleAa, "X")
    assert(aa.filter($"res" === 1).select("aa1").head().getString(0) == "A")
    val complete = Aggregations.completeGroups(
      atoms.filter(col("atom").isin(Library.backboneAtoms: _*)),
      Seq("res"), col("n_members") >= Library.backboneAtoms.size)
    assert(complete.select("res").as[Int].collect().toSeq == Seq(1))
    // dssp.py:215: only H/E keep their class; G/I/B join the coils,
    // anything outside the DSSP alphabet falls to '-'
    val ss = RowOps.recodeByMap(
      Seq("H", "E", "G", "B", "S", "?").toDF("SS"), "SS", "r",
      Library.reducedSsMap, Library.reducedSsDefault)
    assert(ss.select("r").as[String].collect().toSeq ==
      Seq("H", "E", "C", "C", "C", "-"))
  }

  test("attributeLines renders the defattr shape") {
    import org.apache.spark.sql.functions._
    val df = Seq((12, 0.5), (13, 0.75)).toDF("res", "score")
    val (header, body) = graft.sinks.TextRender.attributeLines(
      df, "res", "score", "conservation")
    assert(header.exists(_.contains("attribute: conservation")))
    val lines = body.orderBy("value").as[String].collect().toSeq
    assert(lines == Seq(":12\t0.5", ":13\t0.75"))
    intercept[IllegalArgumentException] {
      graft.sinks.TextRender.attributeLines(df, "res", "score", "x", "bogus")
    }
  }

  test("visualiseChimera writes the attribute + command file pair") {
    // visualise.py:82 visualise_chimera end-to-end: both files land
    // with the reference's names and contents
    val out = java.nio.file.Files
      .createTempDirectory("graft_chimera").toString
    val df = Seq((13, 0.75), (12, 0.5)).toDF("res", "score")
    val (attrPath, cmdPath) = graft.sinks.TextRender.visualiseChimera(
      df, "res", "score", "conservation", "/data/1abc.cif", out)
    assert(attrPath.endsWith("/conservation.chimera_attrFile"))
    assert(cmdPath.endsWith("/1abc.com"))
    val attr = java.nio.file.Files.readString(
      java.nio.file.Paths.get(attrPath))
    assert(attr ==
      """# Generated with graft
        |attribute: conservation
        |match mode: 1-to-1
        |recipient: residues
        |:12	0.5
        |:13	0.75
        |""".stripMargin)
    val cmd = java.nio.file.Files.readString(
      java.nio.file.Paths.get(cmdPath))
    assert(cmd ==
      """open /data/1abc.cif
        |defattr conservation.chimera_attrFile
        |color green,r helix
        |color yellow,r strand
        |color gray,r coil
        |""".stripMargin)
  }

  test("chimeraCommandLines: open + content + SS coloring") {
    val lines = graft.sinks.TextRender.chimeraCommandLines(
      "/data/1abc.cif", content = Seq("display :12-20.A@ca"))
    assert(lines == Seq("open /data/1abc.cif", "display :12-20.A@ca",
      "color green,r helix", "color yellow,r strand", "color gray,r coil"))
    assert(graft.sinks.TextRender.chimeraCommandLines("x.cif",
      colorSecondaryStructure = false) == Seq("open x.cif"))
  }

  test("record cleanup passes: ins-code, altloc, type-symbol, altloc ids") {
    val df = Seq(
      // (ins_code, alt_id, type_symbol, label_atom, auth_atom)
      (null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String], "CA", "CA"),
      (" ", "?", " ", "NZ2", "NZ2"),
      ("A", "B", "N", "N", "N"))
      .toDF("pdbx_PDB_ins_code", "label_alt_id", "type_symbol",
        "label_atom_id", "auth_atom_id")
    val out = StructureFormats.addAtomAltloc(
      StructureFormats.fixTypeSymbol(
        StructureFormats.fixLabelAltId(
          StructureFormats.fixPdbInsCode(df))))
      .orderBy("label_atom_id").collect()
    // row CA: all sentinels applied, symbol from atom id, no suffix
    val ca = out.find(_.getAs[String]("label_atom_id") == "CA").get
    assert(ca.getAs[String]("pdbx_PDB_ins_code") == "?")
    assert(ca.getAs[String]("label_alt_id") == ".")
    assert(ca.getAs[String]("type_symbol") == "C")
    assert(ca.getAs[String]("label_atom_altloc_id") == "CA")
    // row NZ2: blank/question forms normalize the same way
    val nz = out.find(_.getAs[String]("label_atom_id") == "NZ2").get
    assert(nz.getAs[String]("label_alt_id") == ".")
    assert(nz.getAs[String]("type_symbol") == "N") // digits excluded
    // row N: real values pass through; altloc B suffixes both ids
    val n = out.find(_.getAs[String]("label_atom_id") == "N").get
    assert(n.getAs[String]("pdbx_PDB_ins_code") == "A")
    assert(n.getAs[String]("type_symbol") == "N")
    assert(n.getAs[String]("label_atom_altloc_id") == "N.B")
    assert(n.getAs[String]("auth_atom_altloc_id") == "N.B")
  }

  test("Xml.read + explodeNested: one row per nested element") {
    val xml =
      "<sifts><entity id=\"A\" type=\"protein\">" +
      "<residue nr=\"1\" name=\"ALA\"/><residue nr=\"2\" name=\"GLY\"/>" +
      "</entity><entity id=\"B\" type=\"dna\">" +
      "<residue nr=\"7\" name=\"DT\"/></entity></sifts>"
    val df = Xml.read(spark, writeTmp("t.xml", xml), rowTag = "entity")
    val out = Xml.explodeNested(df)
    assert(out.count() == 3)
    assert(out.columns.toSet ==
      Set("_id", "_type", "residue__nr", "residue__name"))
    val b = out.filter($"_id" === "B").head()
    assert(b.getAs[Long]("residue__nr") == 7L)
    assert(b.getAs[String]("residue__name") == "DT")
  }

  test("siftsDbs: listDB header rows, default exclusion set applied") {
    val xml =
      "<entry><listDB>" +
      "<db dbSource=\"Pfam\" dbCoordSys=\"UniProt\" dbVersion=\"27.0\"/>" +
      "<db dbSource=\"InterPro\" dbCoordSys=\"UniProt\" dbVersion=\"48.0\"/>" +
      "<db dbSource=\"UniProt\" dbCoordSys=\"UniProt\" dbVersion=\"2014.08\"/>" +
      "<db dbSource=\"GO\" dbCoordSys=\"UniProt\" dbVersion=\"20140708\"/>" +
      "</listDB><entity type=\"protein\" entityId=\"A\"/></entry>"
    val path = writeTmp("sifts.xml", xml)
    val dbs = Xml.siftsDbs(spark, path).orderBy("dbSource")
      .as[(String, String, String)].collect().toSeq
    // InterPro and GO fall to the reference's default exclusion set
    assert(dbs == Seq(("Pfam", "UniProt", "27.0"),
      ("UniProt", "UniProt", "2014.08")))
    // excluded=Nil keeps everything
    assert(Xml.siftsDbs(spark, path, excluded = Nil).count() == 4)
    // enrichment: residue crossRefDb rows pick up the header version
    val residues = Seq((1, "Pfam"), (1, "UniProt"), (2, "SCOP"))
      .toDF("resnum", "_dbSource")
    val enriched = Xml.withDbVersions(residues, Xml.siftsDbs(spark, path))
      .orderBy("resnum", "_dbSource")
      .select("_dbSource", "dbVersion").as[(String, String)].collect().toSeq
    assert(enriched == Seq(("Pfam", "27.0"), ("UniProt", "2014.08"),
      ("SCOP", null)))
  }

  test("siftsRegions: per-(entity,source) counter in document order") {
    val xml =
      "<entry><entity type=\"protein\" entityId=\"A\">" +
      "<segment segId=\"A_1\"><listMapRegion>" +
      "<mapRegion start=\"1\" end=\"100\">" +
      "<db dbSource=\"Pfam\" dbCoordSys=\"UniProt\" dbAccessionId=\"PF01\"/>" +
      "<db dbSource=\"InterPro\" dbCoordSys=\"UniProt\" dbAccessionId=\"IPR1\"/>" +
      "</mapRegion>" +
      "<mapRegion start=\"50\" end=\"150\">" +
      "<db dbSource=\"Pfam\" dbAccessionId=\"PF01\"/>" +
      "</mapRegion>" +
      "</listMapRegion></segment>" +
      "<segment segId=\"A_2\"><listMapRegion>" +
      "<mapRegion start=\"200\" end=\"300\">" +
      "<db dbSource=\"CATH\" dbCoordSys=\"PDBresnum\" dbAccessionId=\"1.10\"/>" +
      "</mapRegion>" +
      "</listMapRegion></segment></entity>" +
      "<entity type=\"dna\" entityId=\"B\">" +
      "<segment segId=\"B_1\"><listMapRegion>" +
      "<mapRegion start=\"1\" end=\"5\">" +
      "<db dbSource=\"Pfam\" dbAccessionId=\"PFX\"/></mapRegion>" +
      "</listMapRegion></segment></entity></entry>"
    val path = writeTmp("regions.xml", xml)
    val regions = Xml.siftsRegions(spark, path)
    val rows = regions.orderBy("dbSource", "regionId")
      .select("entityId", "dbSource", "regionId", "dbAccessionId",
        "start", "end", "dbCoordSys")
      .as[(String, String, Long, String, Int, Int, String)].collect().toSeq
    // InterPro excluded by default; dna entity dropped; the missing
    // dbCoordSys falls to the reference's '-' KeyError fallback
    assert(rows == Seq(
      ("A", "CATH", 1L, "1.10", 200, 300, "PDBresnum"),
      ("A", "Pfam", 1L, "PF01", 1, 100, "UniProt"),
      ("A", "Pfam", 2L, "PF01", 50, 150, "-")))
  }

  test("withRegions: interval lookup, last matching counter wins") {
    val xml =
      "<entry><entity type=\"protein\" entityId=\"A\">" +
      "<segment segId=\"A_1\"><listMapRegion>" +
      "<mapRegion start=\"1\" end=\"100\">" +
      "<db dbSource=\"Pfam\" dbCoordSys=\"UniProt\" dbAccessionId=\"PF01\"/>" +
      "</mapRegion>" +
      "<mapRegion start=\"50\" end=\"150\">" +
      "<db dbSource=\"Pfam\" dbCoordSys=\"UniProt\" dbAccessionId=\"PF01\"/>" +
      "</mapRegion>" +
      "<mapRegion start=\"200\" end=\"300\">" +
      "<db dbSource=\"CATH\" dbCoordSys=\"PDBresnum\" dbAccessionId=\"1.10\"/>" +
      "</mapRegion>" +
      "</listMapRegion></segment></entity></entry>"
    val regions = Xml.siftsRegions(spark, writeTmp("wr.xml", xml))
    val residues = Seq(
      ("A", "Pfam", "PF01", 60),   // both Pfam regions match -> id 2
      ("A", "Pfam", "PF01", 10),   // first region only -> id 1
      ("A", "Pfam", "PF01", 180),  // accession matches, out of range
      ("A", "CATH", "1.10", 250),  // other source -> its own counter
      ("A", "SCOP", "42", 60))     // unlisted source -> no region
      .toDF("entityId", "_dbSource", "_dbAccessionId", "resnum")
    val out = Xml.withRegions(residues, regions)
      .orderBy("_dbSource", "resnum")
      .select("_dbSource", "resnum", "regionId", "regionStart",
        "regionEnd", "regionResNum")
      .as[(String, Int, Option[Long], Option[Int], Option[Int], Option[Int])]
      .collect().toSeq
    assert(out == Seq(
      ("CATH", 250, Some(1L), Some(200), Some(300), Some(250)),
      ("Pfam", 10, Some(1L), Some(1), Some(100), Some(10)),
      ("Pfam", 60, Some(2L), Some(50), Some(150), Some(60)),
      ("Pfam", 180, None, None, None, None),
      ("SCOP", 60, None, None, None, None)))
  }

  test("siftsResidues: long-form parse_sifts_residues with both knobs") {
    // the reference docstring's 2pah fragment shape (sifts.py:156):
    // listDB header + one protein entity with a region map and two
    // residues carrying PDB / UniProt / CATH / InterPro crossRefs
    val xml =
      "<entry><listDB>" +
      "<db dbSource=\"CATH\" dbCoordSys=\"PDBresnum\" dbVersion=\"3.5.0\"/>" +
      "<db dbSource=\"UniProt\" dbCoordSys=\"UniProt\" dbVersion=\"2014.08\"/>" +
      "<db dbSource=\"InterPro\" dbCoordSys=\"UniProt\" dbVersion=\"48.0\"/>" +
      "</listDB><entity type=\"protein\" entityId=\"A\">" +
      "<segment segId=\"2pah_A_1_335\" start=\"1\" end=\"335\">" +
      "<listMapRegion><mapRegion start=\"1\" end=\"2\">" +
      "<db dbSource=\"CATH\" dbCoordSys=\"PDBresnum\" dbAccessionId=\"1.10.800.10\"/>" +
      "</mapRegion></listMapRegion>" +
      "<listResidue>" +
      "<residue dbSource=\"PDBe\" dbCoordSys=\"PDBe\" dbResNum=\"1\" dbResName=\"VAL\">" +
      "<crossRefDb dbSource=\"PDB\" dbCoordSys=\"PDBresnum\" dbAccessionId=\"2pah\" dbResNum=\"118\" dbResName=\"VAL\" dbChainId=\"A\"/>" +
      "<crossRefDb dbSource=\"UniProt\" dbCoordSys=\"UniProt\" dbAccessionId=\"P00439\" dbResNum=\"118\" dbResName=\"V\"/>" +
      "<crossRefDb dbSource=\"CATH\" dbCoordSys=\"PDBresnum\" dbAccessionId=\"1.10.800.10\" dbResNum=\"118\" dbResName=\"VAL\" dbChainId=\"A\"/>" +
      "<crossRefDb dbSource=\"InterPro\" dbCoordSys=\"UniProt\" dbAccessionId=\"IPR001273\" dbResNum=\"118\" dbResName=\"V\"/>" +
      "<residueDetail dbSource=\"PDBe\" property=\"codeSecondaryStructure\">T</residueDetail>" +
      "<residueDetail dbSource=\"PDBe\" property=\"nameSecondaryStructure\">loop</residueDetail>" +
      "</residue>" +
      "<residue dbSource=\"PDBe\" dbCoordSys=\"PDBe\" dbResNum=\"9\" dbResName=\"GLY\">" +
      "<crossRefDb dbSource=\"CATH\" dbCoordSys=\"PDBresnum\" dbAccessionId=\"1.10.800.10\" dbResNum=\"126\" dbResName=\"GLY\" dbChainId=\"A\"/>" +
      "</residue>" +
      "</listResidue></segment></entity></entry>"
    val path = writeTmp("residues.xml", xml)
    val out = Xml.siftsResidues(spark, path, addRegions = true,
      addDbs = true)
    val rows = out.orderBy("resnum", "dbSource")
      .select("entityId", "resnum", "dbSource", "dbAccessionId",
        "dbResNum", "dbChainId", "regionId", "dbVersion")
      .as[(String, Int, String, String, Option[String], Option[String],
        Option[Long], Option[String])].collect().toSeq
    // InterPro excluded by default; CATH keeps accession but nulls
    // the res fields (not PDB/UniProt); residue 1 falls inside the
    // CATH region [1,2], residue 9 outside; dbVersion rides along
    // for sources present in listDB (PDB is not)
    assert(rows == Seq(
      ("A", 1, "CATH", "1.10.800.10", None, None, Some(1L), Some("3.5.0")),
      ("A", 1, "PDB", "2pah", Some("118"), Some("A"), None, None),
      ("A", 1, "UniProt", "P00439", Some("118"), None, None,
        Some("2014.08")),
      ("A", 9, "CATH", "1.10.800.10", None, None, None, Some("3.5.0"))))
    // residueDetail annotations (sifts.py:252-257) ride along each
    // long row of the residue that carries them; the wide pivot
    // surfaces them under the reference's PDB_{property} names with
    // the 'Observed' default for residues without an Annotation detail
    val details = out.filter($"resnum" === 1)
      .select("ssCode", "ssName").distinct()
      .as[(String, String)].collect().toSeq
    assert(details == Seq(("T", "loop")))
    val wide = Xml.siftsResiduesWide(out, Seq("PDB", "UniProt", "CATH"))
    val w1 = wide.filter($"PDB_dbResNum" === "118").collect().head
    assert(w1.getAs[String]("PDB_codeSecondaryStructure") == "T")
    assert(w1.getAs[String]("PDB_nameSecondaryStructure") == "loop")
    assert(w1.getAs[String]("PDB_Annotation") == "Observed")
    val w9 = wide.filter($"PDB_dbResNum".isNull).collect().head
    assert(w9.getAs[String]("PDB_codeSecondaryStructure") == null)
    assert(w9.getAs[String]("PDB_Annotation") == "Observed")
  }

  test("dsspResiduesWithBreaks keeps '!*' markers with 2-wide AA") {
    val pad = " " * 80
    val dssp =
      "==== Secondary Structure Definition ====\n" +
      "  #  RESIDUE AA STRUCTURE BP1 BP2  ACC\n" +
      "    1    1 A M  H          0   0  160" + pad + "\n" +
      "    2        !*             0   0    0" + pad + "\n" +
      "    3    1 B M  E          0   0   82" + pad + "\n"
    val out = StructureFormats
      .dsspResiduesWithBreaks(spark, writeTmp("brk.dssp", dssp))
      .orderBy("LINE").select("AA", "CHAIN", "file").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("M", "!*", "M"))
    assert(out.map(_.getString(1)).toSeq == Seq("A", "", "B"))
    assert(out.forall(_.getString(2).nonEmpty)) // per-file window key
  }

  test("dsspFullChain: BioUnit re-lettering incl. the reset quirk") {
    // mirrors tests/test_dssp.py:185-191 — both 'AA' and 'BA' must
    // appear: copies of chain A suffix from the alphabet, a break
    // between DIFFERENT chains resets the counter, and copies of the
    // next chain restart the suffix series
    val df = Seq(
      (1, "A", "M"), (2, "A", "R"),
      (3, "", "!*"), // prev A == next A -> counter 0
      (4, "A", "M"), (5, "A", "R"), // -> AA
      (6, "", "!*"), // prev A != next B -> reset
      (7, "B", "M"), // bare B
      (8, "", "!*"), // prev B == next B -> counter 0
      (9, "B", "K"), // -> BA
      (10, "", "!")) // missing-segment marker: never suffixed
      .map { case (l, c, a) => ("f1", l, c, a) }
      .toDF("file", "LINE", "CHAIN", "AA")
    val out = StructureFormats.dsspFullChain(df).orderBy("LINE")
      .select("CHAIN_FULL").as[String].collect().toSeq
    assert(out == Seq("A", "A", "", "AA", "AA", "", "B", "", "BA", ""))
  }

  test("dsspFullChain: repeated breaks advance the alphabet in order") {
    val df = Seq(
      ("f", 1, "A", "M"), ("f", 2, "", "!*"), ("f", 3, "A", "M"),
      ("f", 4, "", "!*"), ("f", 5, "A", "M"),
      // independent second file: windows must not leak across files
      ("g", 1, "C", "M"), ("g", 2, "", "!*"), ("g", 3, "C", "M"))
      .toDF("file", "LINE", "CHAIN", "AA")
    val out = StructureFormats.dsspFullChain(df)
      .orderBy("file", "LINE").select("CHAIN_FULL").as[String].collect().toSeq
    assert(out == Seq("A", "", "AA", "", "AB", "C", "", "CA"))
  }

  test("dsspImportChainIds: positional chain import with consistency gate") {
    val dssp = Seq(
      ("f", 1, "M", "A"), ("f", 2, "!", ""), ("f", 3, "R", "A"))
      .toDF("file", "LINE", "AA", "CHAIN")
    val cif = Seq(("f", 10, "MET", "X"), ("f", 20, "ARG", "Y"))
      .toDF("file", "id", "auth_comp_id", "auth_asym_id")
    val out = StructureFormats.dsspImportChainIds(dssp, cif)
      .orderBy("LINE").select("AA", "CHAIN")
      .as[(String, String)].collect().toSeq
    // residue rows re-chained positionally; the '!' break row keeps its own
    assert(out == Seq(("M", "X"), ("!", ""), ("R", "Y")))
    // a mismatched residue letter refuses the import (reference raises)
    val badCif = Seq(("f", 10, "MET", "X"), ("f", 20, "GLY", "Y"))
      .toDF("file", "id", "auth_comp_id", "auth_asym_id")
    intercept[IllegalStateException](
      StructureFormats.dsspImportChainIds(dssp, badCif))
    // a length mismatch refuses too (the pandas NaN-compare analog)
    intercept[IllegalStateException](
      StructureFormats.dsspImportChainIds(dssp, cif.limit(1)))
    // a modified residue resolves through a caller-supplied dictionary
    // (the reference's scop_3to1); the standard default would refuse
    val modCif = Seq(("f", 10, "MSE", "X"), ("f", 20, "ARG", "Y"))
      .toDF("file", "id", "auth_comp_id", "auth_asym_id")
    intercept[IllegalStateException](
      StructureFormats.dsspImportChainIds(dssp, modCif))
    val ok = StructureFormats.dsspImportChainIds(dssp, modCif,
        singleAa = Library.toSingleAa + ("MSE" -> "M"))
      .orderBy("LINE").select("CHAIN").as[String].collect().toSeq
    assert(ok == Seq("X", "", "Y"))
  }

  test("resetLineIds renumbers sequentially per file after filtering") {
    val df = Seq(("f", 3, "A"), ("f", 9, "B"), ("g", 7, "C"))
      .toDF("file", "LINE", "x")
    val out = StructureFormats.resetLineIds(df).orderBy("file", "LINE")
      .select("file", "LINE", "x").as[(String, Int, String)].collect().toSeq
    assert(out == Seq(("f", 1, "A"), ("f", 2, "B"), ("g", 1, "C")))
  }

  // ---- mmcifFields (_mmcif_fields, structures.py:255) ------------------
  // fixture mirroring the reference test file's block shapes
  // (tests/test_structures.py:156-175): a key-value assembly block, a
  // key-value assembly_gen block, and a loop_ oper_list block whose
  // records span two physical lines (require_index)
  private val mmcifMeta =
    "data_test\n" +
    "#\n" +
    "_entry.id   TEST\n" +
    "#\n" +
    "_pdbx_struct_assembly.id                   1\n" +
    "_pdbx_struct_assembly.details              author_and_software_defined_assembly\n" +
    "_pdbx_struct_assembly.method_details       PISA,PQS\n" +
    "_pdbx_struct_assembly.oligomeric_details   tetrameric\n" +
    "_pdbx_struct_assembly.oligomeric_count     4\n" +
    "#\n" +
    "_pdbx_struct_assembly_gen.assembly_id       1\n" +
    "_pdbx_struct_assembly_gen.oper_expression   1,2\n" +
    "_pdbx_struct_assembly_gen.asym_id_list      A,C,B,D\n" +
    "#\n" +
    "loop_\n" +
    "_pdbx_struct_oper_list.id\n" +
    "_pdbx_struct_oper_list.type\n" +
    "_pdbx_struct_oper_list.name\n" +
    "_pdbx_struct_oper_list.symmetry_operation\n" +
    "_pdbx_struct_oper_list.m1\n" +
    "_pdbx_struct_oper_list.m2\n" +
    "1 'identity operation'         1_555 x,y,z        1.0000000000\n" +
    "0.0000000000\n" +
    "2 'crystal symmetry operation' 4_555 -y,-x,-z+2/3 0.5000000000\n" +
    "84.0000000000\n" +
    "#\n"

  test("mmcifFields key-value form: one pivoted row, pandas dtypes") {
    val path = writeTmp("meta.cif", mmcifMeta)
    val assembly = StructureFormats.mmcifFields(spark, path,
      "_pdbx_struct_assembly.")
    assert(assembly.columns.toSeq == Seq("id", "details", "method_details",
      "oligomeric_details", "oligomeric_count"))
    val row = assembly.head()
    // the three reference assertions (test_structures.py:158-162)
    assert(row.getAs[String]("details") ==
      "author_and_software_defined_assembly")
    assert(row.getAs[String]("oligomeric_details") == "tetrameric")
    assert(row.getAs[Long]("oligomeric_count") == 4L)
    val gen = StructureFormats.mmcifFields(spark, path,
      "_pdbx_struct_assembly_gen.")
    assert(gen.head().getAs[String]("asym_id_list") == "A,C,B,D")
  }

  test("mmcifFields loop_ form with requireIndex joins continuation lines") {
    val path = writeTmp("meta2.cif", mmcifMeta)
    val oper = StructureFormats.mmcifFields(spark, path,
      "_pdbx_struct_oper_list.", requireIndex = true)
    val rows = oper.orderBy("id").collect()
    assert(rows.length == 2)
    // the reference assertion (test_structures.py:174)
    assert(rows(0).getAs[String]("type") == "identity operation")
    assert(rows(0).getAs[Long]("id") == 1L)
    assert(rows(0).getAs[String]("symmetry_operation") == "x,y,z")
    // the faithful require_index quirk: the indexed line's last token
    // merges with the continuation's first token (no separator), so
    // m1 is the concatenated string and m2 is all-null (→ double)
    assert(rows(0).getAs[String]("m1") == "1.00000000000.0000000000")
    assert(rows(1).getAs[String]("m1") == "0.500000000084.0000000000")
    assert(oper.schema("m2").dataType.typeName == "double")
    assert(rows.forall(_.isNullAt(rows(0).fieldIndex("m2"))))
  }

  test("mmcifFields quoted tokens may contain spaces; ints with nulls → double") {
    val cif =
      "data_t\n#\nloop_\n" +
      "_g.biol_id\n_g.type\n_g.value\n_g.details\n" +
      "1 'ABSA (A^2)' 10460 ?\n" +
      "1 \"SSA (A^2)\"  55710 ?\n" +
      "1 MORE         -109  ?\n" +
      "#\n"
    val path = writeTmp("prop.cif", cif)
    val out = StructureFormats.mmcifFields(spark, path, "_g.")
    val rows = out.orderBy("value").collect()
    // double-quoted strings are re-quoted to single (reference
    // replaces '"' with "'"); quoted tokens keep embedded spaces
    assert(rows.map(_.getAs[String]("type")).toSet ==
      Set("ABSA (A^2)", "SSA (A^2)", "MORE"))
    assert(rows.map(_.getAs[Long]("value")).toSeq == Seq(-109L, 10460L, 55710L))
    assert(out.schema("biol_id").dataType.typeName == "long")
    assert(out.schema("details").dataType.typeName == "string")
    // short rows: missing trailing tokens are null cells, and an
    // int column with missing values degrades to double (pandas)
    val cif2 = "data_t\n#\nloop_\n_h.a\n_h.b\n1 2\n3\n#\n"
    val out2 = StructureFormats.mmcifFields(spark, writeTmp("s.cif", cif2), "_h.")
    assert(out2.schema("a").dataType.typeName == "long")
    assert(out2.schema("b").dataType.typeName == "double")
    assert(out2.orderBy("a").collect().map(r =>
      if (r.isNullAt(1)) null else r.getDouble(1)).toSeq == Seq(2.0, null))
  }

  test("mmcifFields locates the block from one scan: <= 2 jobs, nothing persisted") {
    // (column, dtype) pairs and rows of one parse
    def fields(cif: String, category: String, name: String) = {
      val before = persistedRdds
      val (df, jobs) = countJobs(
        StructureFormats.mmcifFields(spark, writeTmp(name, cif), category))
      assert(jobs <= 2, s"building mmcifFields ran $jobs jobs")
      val rows = df.collect().map(_.toSeq).toSeq
      assert(persistedRdds == before, "mmcifFields left a persisted RDD")
      (df.schema.map(f => f.name -> f.dataType.typeName), rows)
    }
    val longs = Seq("x" -> "long", "y" -> "long")
    // '#' lines before the block: the terminator is the first '#'
    // after the header run, not the first '#' in the file
    assert(fields("data_t\n#\n# note\n#\nloop_\n_a.x\n_a.y\n1 2\n3 4\n#\n" +
        "_z.k v\n#\n", "_a.", "hash.cif") ==
      (longs, Seq(Seq(1L, 2L), Seq(3L, 4L))))
    // a preceding line holding 'loop_' past column 1 opens a loop_
    // block too (the reference tests `'loop_' in line`)
    assert(fields("data_t\n#\n  loop_\n_b.x\n_b.y\n5 six\n#\n", "_b.",
        "indent.cif") == (Seq("x" -> "long", "y" -> "string"), Seq(Seq(5L, "six"))))
    // ...but 'loop_' two lines up does not: key-value form
    assert(fields("data_t\nloop_\n#\n_c.x 7\n_c.y eight\n#\n", "_c.",
        "kv.cif") == (Seq("x" -> "long", "y" -> "string"), Seq(Seq(7L, "eight"))))
    // a category that recurs later: only the first contiguous run is
    // the block, in both forms
    assert(fields("data_t\n#\nloop_\n_d.x\n_d.y\n1 2\n#\n_d.x 9\n#\n",
        "_d.", "recur.cif") == (longs, Seq(Seq(1L, 2L))))
    assert(fields("data_t\n#\n_e.x 1\n_e.y 2\n#\n_e.z 3\n#\n", "_e.",
        "recur2.cif") == (longs, Seq(Seq(1L, 2L))))
    // an empty loop_ body gives no dtype evidence: string columns
    assert(fields("data_t\n#\nloop_\n_f.x\n_f.y\n#\n", "_f.", "empty.cif") ==
      (Seq("x" -> "string", "y" -> "string"), Seq()))
  }

  test("mmcifFields raises on absent category and unterminated blocks") {
    val path = writeTmp("meta3.cif", mmcifMeta)
    intercept[IllegalArgumentException](
      StructureFormats.mmcifFields(spark, path, "_nope."))
    // loop body missing its '#' terminator → the reference's
    // StopIteration; mirrored as an error, never a silent partial read
    val bad = "data_t\n#\nloop_\n_x.a\n_x.b\n1 2\n"
    intercept[IllegalStateException](
      StructureFormats.mmcifFields(spark, writeTmp("bad.cif", bad), "_x."))
    // a key-value run ending at EOF is the same StopIteration shape
    val bad2 = "data_t\n#\n_y.a 1\n_y.b 2"
    intercept[IllegalStateException](
      StructureFormats.mmcifFields(spark, writeTmp("bad2.cif", bad2), "_y."))
  }

  test("getCoordinates projects the (N,3) coordinate matrix") {
    val atoms = Seq((1, 11.1, 6.1, -6.5), (2, 1.0, 2.0, 3.0))
      .toDF("id", "Cartn_x", "Cartn_y", "Cartn_z")
    val out = StructureFormats.getCoordinates(atoms)
    assert(out.columns.toSeq == Seq("coord"))
    val coords = out.as[Seq[Double]].collect().toSet
    assert(coords == Set(Seq(11.1, 6.1, -6.5), Seq(1.0, 2.0, 3.0)))
  }
}
