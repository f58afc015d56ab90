package graft

import graft.functions.TextFunctions
import graft.operators._
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline through graft's public API:
  * quality signals → PII scrub → exact dedup → near-dup clustering →
  * benchmark decontamination → deterministic split → context packing.
  * The corpus twin of ReferenceParitySpec's structure workflow.
  */
class PipelineParitySpec extends SparkSpec {
  import sqlImplicits._

  test("corpus pipeline: scrub → dedup → cluster → decontaminate → split → pack") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog yesterday"), // near dup
      (4L, "contact me at alice@example.com about data and spark"),
      (5L, "benchmark question one about the meaning of life"),
      (6L, "completely unrelated text with words nobody repeats"))
      .toDF("doc_id", "text")
    val benchmark = Seq((100L, "benchmark question one about the meaning of life"))
      .toDF("doc_id", "text")

    // 1. quality + hygiene columns in one scan
    val scored = corpus.select(col("doc_id"),
      TextFunctions.scrubPii(col("text")).as("text"),
      TextFunctions.qualityScore(col("text")).as("quality"),
      TextFunctions.emailCount(col("text")).as("n_emails"))
    assert(scored.filter(col("n_emails") > 0).select("doc_id")
      .as[Long].collect().toSeq == Seq(4L))
    assert(scored.filter(col("text").contains("<EMAIL>")).count() == 1)

    // 2. exact dedup: 1 and 2 collapse (scrubbed text identical)
    val exact = Dedup.exact(scored, idCol = "doc_id", textCol = "text")
    assert(exact.count() == 5)
    val keepExact = scored.join(
      exact.select(col("keeper_doc_id").as("doc_id")), Seq("doc_id"), "left_semi")
    assert(keepExact.count() == 5) // doc 2 gone

    // 3. near-dup clustering: 1 and 3 share >= 70% of tokens
    val pairs = Dedup.ngramJaccardPairs(
      keepExact.withColumn("blk", lit(1)), Seq("blk"), threshold = 0.7,
      idCol = "doc_id", textCol = "text")
    assert(pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet ==
      Set((1L, 3L)))
    val clusters = Graph.connectedComponents(
      keepExact.select(col("doc_id")), pairs.select("a_id", "b_id"))
    val reps = keepExact.join(
      clusters.filter(col("id") === col("comp")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    assert(reps.select("doc_id").as[Long].collect().toSorted ==
      Seq(1L, 4L, 5L, 6L)) // 3 collapsed into 1's cluster

    // 4. decontamination: doc 5 IS the benchmark doc
    val decon = Corpus.decontaminate(reps, benchmark, shingleN = 3, tau = 0.5)
    val clean = reps.join(
      decon.filter(!col("contaminated")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    assert(clean.select("doc_id").as[Long].collect().toSorted ==
      Seq(1L, 4L, 6L))

    // 5. deterministic split + context packing survive to the end
    val split = Sampling.deterministicSplit(clean, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val packed = Sampling.packSequences(
      split.withColumn("n_tokens",
        TextFunctions.tokenCount(col("text")).cast("long")),
      "n_tokens", "doc_id", budget = 16L)
    assert(packed.count() == 3)
    assert(packed.schema.fieldNames.contains("split") &&
      packed.schema.fieldNames.contains("bin_id"))
    // re-running the whole chain is bit-stable (no rand anywhere)
    val again = Sampling.deterministicSplit(clean, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(again == split.select("doc_id", "split")
      .as[(Long, String)].collect().toSet)
  }

  test("CorpusPipeline.prepare: the same chain through the one-call facade") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // exact dup
      (3L, "the quick brown fox jumps over the lazy dog yesterday"), // near dup
      (4L, "contact me at alice@example.com about data and spark"),
      (5L, "benchmark question one about the meaning of life"),
      (6L, "completely unrelated text with words nobody repeats"))
      .toDF("doc_id", "text")
    val benchmark = Seq(
      (100L, "benchmark question one about the meaning of life"))
      .toDF("doc_id", "text")
    val out = CorpusPipeline.prepare(corpus,
      CorpusPipeline.Config(
        dedupMethod = "jaccard", dedupThreshold = 0.7,
        dedupBlockingKeys = Nil,
        decontaminateAgainst = Some(benchmark),
        packBudget = Some(16L)))
    // docs 2 (exact dup via jaccard 1.0), 3 (near dup) and 5
    // (benchmark) are gone; survivors carry split + bin assignments
    assert(out.select("doc_id").as[Long].collect().toSorted ==
      Seq(1L, 4L, 6L))
    assert(out.columns.contains("split") && out.columns.contains("bin_id"))
    assert(out.filter(col("text").contains("<EMAIL>")).count() == 1)
    // deterministic: a re-run reproduces splits and bins bit-for-bit
    val again = CorpusPipeline.prepare(corpus,
      CorpusPipeline.Config(
        dedupMethod = "jaccard", dedupThreshold = 0.7,
        dedupBlockingKeys = Nil,
        decontaminateAgainst = Some(benchmark),
        packBudget = Some(16L)))
    assert(again.select("doc_id", "split", "bin_id")
      .as[(Long, String, Long)].collect().toSet ==
      out.select("doc_id", "split", "bin_id")
        .as[(Long, String, Long)].collect().toSet)
  }

  test("CorpusPipeline quality gate drops low-quality docs") {
    val corpus = Seq(
      (1L, "A well formed sentence with reasonable words and a period."),
      (2L, "!!!! ???? @@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( ))))"))
      .toDF("doc_id", "text")
    val out = CorpusPipeline.prepare(corpus,
      CorpusPipeline.Config(minQuality = 0.5, dedupMethod = "",
        splitWeights = Nil))
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("tokenizePack: real encode → vocab ids (OOV=-1) → bins + offsets") {
    val vocab = Seq("ab", "b", "a", "cd")
    val docs = Seq(
      (1L, "abab cd x"), // [ab, ab, cd, x] -> "0 0 3 -1"
      (2L, "ba"),        // [b, a]          -> "1 2"
      (3L, ""),          // zero tokens     -> dropped
      (4L, "aaaa"))      // [a, a, a, a]    -> "2 2 2 2"
      .toDF("doc_id", "text")
    val out = CorpusPipeline.tokenizePack(docs, vocab, budget = 8L,
      nBuckets = 4)
    val rows = out
      .select("doc_id", "n_tokens", "token_ids", "bin_id", "bin_offset")
      .as[(Long, Long, String, Long, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      // (n_tokens desc, id) order: 1 (4), 4 (4), 2 (2); running 4,8,10
      (1L, 4L, "0 0 3 -1", 0L, 0L),
      (2L, 2L, "1 2", 1L, 0L),
      (4L, 4L, "2 2 2 2", 0L, 4L)))
  }

  test("tokenizePack bins equal the exact packSequences definition") {
    val vocab = Seq("th", "he", "in", "an", "a", "e")
    val docs = (1L to 40L).map(i =>
      (i, ("the " * (i % 7 + 1).toInt).trim)).toDF("doc_id", "text")
    val out = CorpusPipeline.tokenizePack(docs, vocab, budget = 16L,
      nBuckets = 4)
    // the definition: one global (n_tokens desc, id) running sum
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    val exact = out.select(col("doc_id"),
      floor((sum(col("n_tokens")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)) -
        col("n_tokens")) / 16L).cast("long").as("bin_id"))
    val mismatch = out.select("doc_id", "bin_id").except(exact)
    assert(mismatch.isEmpty,
      s"range bins drifted from the exact definition: ${
        mismatch.collect().mkString(",")}")
    // per-bin offsets are a consistent prefix sum: max(offset) +
    // its n_tokens == sum(n_tokens) in every bin
    val bad = out.groupBy("bin_id")
      .agg(max(struct(col("bin_offset"), col("n_tokens"))).as("last"),
        sum("n_tokens").as("tot"))
      .filter(col("last.bin_offset") + col("last.n_tokens") =!= col("tot"))
    assert(bad.isEmpty, s"offset chain broken: ${bad.collect().mkString(",")}")
  }

  test("prepareTrainingExport: stage composition, train-only, dense shards") {
    val corpus = (1L to 80L)
      .map(i => (i, s"w$i the quick brown fox ${"pad " * (i % 5).toInt}num$i"))
      .toDF("doc_id", "text")
    val vocab = Seq("the", "qu", "ick", "br", "own", "fox", "w", "pad")
    val cfg = CorpusPipeline.Config(dedupMethod = "", splitWeights =
      Seq("train" -> 0.8, "val" -> 0.2))
    val out = CorpusPipeline.prepareTrainingExport(corpus, cfg, vocab,
      budget = 64L, nShards = 4, nBuckets = 4)
    // equals the stages run by hand
    val kept = CorpusPipeline.prepare(corpus, cfg)
      .filter(col("split") === "train").select("doc_id", "text")
    val manual = Sampling.exportShards(
      CorpusPipeline.tokenizePack(kept, vocab, 64L, nBuckets = 4),
      "doc_id", 4)
    assert(out.except(manual).isEmpty && manual.except(out).isEmpty)
    // only train docs, dense per-shard ranks
    val trainIds = kept.select("doc_id").as[Long].collect().toSet
    val rows = out.select("doc_id", "shard", "shard_rank")
      .as[(Long, Int, Long)].collect()
    assert(rows.map(_._1).toSet.subsetOf(trainIds))
    rows.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.sameElements(1L to rs.length)) }
    // a word-level pre-pack is rejected loudly
    val err = intercept[IllegalArgumentException] {
      CorpusPipeline.prepareTrainingExport(corpus,
        cfg.copy(packBudget = Some(99L)), vocab, 64L, 4)
    }
    assert(err.getMessage.contains("subword"))
  }

  private implicit class SortedSeq(s: Array[Long]) {
    def toSorted: Seq[Long] = s.toSeq.sorted
  }
}
