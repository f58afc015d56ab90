package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DecontaminationGateSpec extends SparkSpec {
  import sqlImplicits._

  private def writeOneFile(df: DataFrame, dest: String, mtime: Long): Unit = {
    val tmp = dest + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val out = new java.io.File(dest)
    java.nio.file.Files.move(part.toPath, out.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    out.setLastModified(mtime)
    ()
  }

  private val evalText = ("alpha beta gamma delta epsilon zeta eta " +
    "theta iota kappa lambda mu nu xi omicron pi rho sigma tau " +
    "upsilon phi chi psi omega one two three four five six")
  private def sk(df: DataFrame): DataFrame =
    Dedup.minhashSketch(df, numHashes = 32, shingleN = 1)

  test("streamed verdict equals the batch probe; clean docs admitted, " +
      "clones quarantined with evidence; restart gates only new files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dg").toString
    val docsDir = s"$tmp/docs"
    new java.io.File(docsDir).mkdirs()
    val t0 = System.currentTimeMillis() - 60000
    val bench = Seq((100L, evalText)).toDF("doc_id", "text")
    val idx = sk(bench)
    DecontaminationGate.saveBenchIndex(idx, s"$tmp/idx")

    // f1: a near-clone (one token changed) + a clean doc;
    // f2: an exact clone + a clean doc
    val clone1 = evalText.replace("omega", "omegaX")
    val f1 = Seq((1L, clone1), (2L, "totally unrelated words about " +
      "query planners and shuffle exchanges only")).toDF("doc_id", "text")
    val f2 = Seq((3L, evalText), (4L, "another clean document with " +
      "different content entirely about spark plans")).toDF("doc_id", "text")
    writeOneFile(f1, s"$docsDir/a.parquet", t0)
    writeOneFile(f2, s"$docsDir/b.parquet", t0 + 5000)

    val (verdict, admitted, quarantine) =
      DecontaminationGate.decontaminationGate(spark, docsDir,
        DecontaminationGate.loadBenchIndex(spark, s"$tmp/idx"),
        b => sk(b), s"$tmp/gate", s"$tmp/ckpt",
        threshold = 0.9, numHashes = 32, bands = 16)
    // batch equivalence: the same probe over the union
    val want = Dedup.fuzzyDecontaminate(
        sk(f1.unionByName(f2)), idx,
        threshold = 0.9, numHashes = 32, bands = 16)
      .collect().map(_.toSeq).toSet
    assert(verdict.collect().map(_.toSeq).toSet == want)
    assert(admitted.select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(2L, 4L))
    val q = quarantine
      .select("id", "bench_id", "contaminated")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(q == Set((1L, 100L, true), (3L, 100L, true)))
    // one exactly-once batch dir per input file
    val vdirs = new java.io.File(s"$tmp/gate/verdict").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(vdirs.length == 2 && vdirs.forall(_.startsWith("batch=")))

    // restart: a third file lands; only it is gated, committed batch
    // dirs untouched
    val committed = new java.io.File(s"$tmp/gate/verdict").listFiles()
      .filter(_.isDirectory).map(f => f.getName -> f.lastModified()).toMap
    val f3 = Seq((5L, evalText + " extra")).toDF("doc_id", "text")
    writeOneFile(f3, s"$docsDir/c.parquet", t0 + 10000)
    val (v2, a2, _) = DecontaminationGate.decontaminationGate(spark,
      docsDir, DecontaminationGate.loadBenchIndex(spark, s"$tmp/idx"),
      b => sk(b), s"$tmp/gate", s"$tmp/ckpt",
      threshold = 0.9, numHashes = 32, bands = 16)
    assert(v2.select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L, 5L))
    assert(a2.select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(2L, 4L)) // doc 5 is a superset clone -> quarantined
    for ((name, mt) <- committed)
      assert(new java.io.File(s"$tmp/gate/verdict/$name")
        .lastModified() == mt, s"$name was re-gated on resume")
  }

  test("cold-start guards: foreign outDir fails fast") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dg_g").toString
    new java.io.File(s"$tmp/gate").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/gate/unrelated.txt"), "x")
    val bench = sk(Seq((100L, evalText)).toDF("doc_id", "text"))
    val e = intercept[IllegalArgumentException](
      DecontaminationGate.decontaminationGate(spark, s"$tmp/nope",
        bench, b => sk(b), s"$tmp/gate", s"$tmp/ckpt", 0.9))
    assert(e.getMessage.contains("not prior gate state"), e.getMessage)
  }

  test("cold-start guards: stale checkpoint with a fresh outDir fails " +
      "fast; reset = true over prior state starts clean") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dg_sc").toString
    val docsDir = s"$tmp/docs"
    new java.io.File(docsDir).mkdirs()
    writeOneFile(Seq((1L, evalText), (2L, "clean words about query " +
        "planners and shuffle exchanges")).toDF("doc_id", "text"),
      s"$docsDir/a.parquet", System.currentTimeMillis() - 60000)
    val bench = sk(Seq((100L, evalText)).toDF("doc_id", "text"))
    def gate(reset: Boolean) = DecontaminationGate.decontaminationGate(
      spark, docsDir, bench, b => sk(b), s"$tmp/gate", s"$tmp/ckpt",
      threshold = 0.9, numHashes = 32, bands = 16, reset = reset)
    gate(reset = false)
    // outDir wiped, checkpoint kept: a cold start would mark a.parquet
    // committed and gate nothing
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$tmp/gate"))
    val e = intercept[IllegalArgumentException](gate(reset = false))
    assert(e.getMessage.contains("streaming state"), e.getMessage)
    // reset clears the stale checkpoint and re-gates every file
    val (verdict, admitted, quarantine) = gate(reset = true)
    assert(verdict.select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    assert(admitted.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    assert(quarantine.select("id").as[Long].collect().toSeq == Seq(1L))
  }
}
