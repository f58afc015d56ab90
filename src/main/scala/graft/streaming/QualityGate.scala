package graft.streaming

import graft.operators.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming QUALITY gate — the per-document quality battery
  * (model-based language ID + Gopher rules + classifier odds) as an
  * always-on ingest stage: the streaming twin of the
  * `crawlPrepareScored` batch tail, restricted to the stages that
  * are per-document STATELESS given pre-fitted models. That
  * restriction is the design, not a shortcut: corpus-global
  * statistics (line-df boilerplate counts, per-language perplexity
  * terciles, cross-wave dedup) cannot be computed per batch without
  * changing their meaning — they stay batch jobs over the
  * accumulated corpus ([[graft.operators.CorpusPipeline.warcToCorpus]]'s
  * re-prepare loop), while everything that CAN gate at file-arrival
  * time gates here, with models trained once and loaded from their
  * parquet artifacts ([[Corpus.loadLangIdModel]],
  * [[Corpus.loadQualityModel]] — the train-once / stream-forever
  * split every model family uses).
  *
  * foreachBatch (the [[FileGate]] skeleton) rather than a
  * plain append sink because each micro-batch fans out to THREE
  * exactly-once outputs — the full verdict table, the admitted
  * documents, and the rejected evidence — each written under a
  * `batch=<id>/` directory with overwrite mode, so a
  * crashed-and-retried micro-batch rewrites the same paths instead
  * of double-appending.
  *
  * Batch-equivalence is the contract: the streamed verdict rows
  * equal [[gateVerdict]] over the same files bit-for-bit (the
  * q_stream_langid discipline; the shared oracle hash-checks it end
  * to end), and restarting a killed stream resumes from the
  * checkpoint without re-gating committed files (spec-pinned).
  *
  * Scale shape: per batch, the langid transform and the Gopher
  * battery are pure scan-stage projections (zero shuffle); the
  * classifier probe is one explode + one broadcast hash probe + one
  * map-side-combined aggregation keyed on doc_id; the verdict join
  * then reuses that doc_id keying. Everything is batch-LOCAL — no
  * state store, no watermark, state never accumulates across
  * batches; an always-on 100 TB ingest runs one such plan per
  * arriving file. */
object QualityGate {

  /** The per-document verdict battery — the BATCH form, shared
    * verbatim by the foreachBatch leg (which is what makes the
    * stream batch-equivalent by construction):
    *
    *  - `lang_pred` from the pre-fitted char-bigram model (null for
    *    docs under 2 chars — the [[Corpus.applyLangIdModel]]
    *    contract; such docs fail the Gopher gate anyway);
    *  - the Gopher n_tokens + keep verdict (`gopher_keep`);
    *  - the classifier odds score (`clf_n_tokens`, `clf_score_fp`,
    *    `clf_keep`; null-safe false for docs with zero
    *    in-vocabulary tokens);
    *  - `keep` = gopher_keep AND clf_keep.
    *
    * The intermediate Gopher ratios are deliberately not carried
    * (q_gopher_rules hash-checks them); the verdict table is the
    * routing artifact. */
  def gateVerdict(docs: DataFrame, langModel: Corpus.LangIdModel,
                  qualityModel: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  minTokens: Long = 30): DataFrame = {
    // the langid prediction rides the Gopher projection as plain
    // columns — gopher + langid cost ONE scan and zero joins; only
    // the classifier (a token-level model probe + per-doc
    // aggregation) needs its own leg, and the verdict join below
    // aligns with that aggregation's doc_id keying. The score fold
    // is STAGED in its own withColumn so it runs once per row (see
    // [[Corpus.langIdScores]])
    val g = Corpus.gopherRules(
        docs
          .withColumn("__sc",
            Corpus.langIdScores(col(textCol), langModel))
          .withColumn("__lang_pred",
            Corpus.langIdPredictFromScores(col("__sc"), col(textCol),
              langModel)),
        idCol, textCol, minTokens = minTokens,
        keepCols = Seq("__lang_pred"))
      .select(col(idCol).as("doc_id"),
        col("__lang_pred").as("lang_pred"), col("n_tokens"),
        col("keep").as("gopher_keep"))
    val c = Corpus.applyQualityModel(docs, qualityModel, idCol, textCol)
      .select(col("doc_id"), col("n_tokens").as("clf_n_tokens"),
        col("score_fp").as("clf_score_fp"), col("keep").as("clf_keep"))
    g.join(c, Seq("doc_id"), "left")
      .withColumn("clf_keep", coalesce(col("clf_keep"), lit(false)))
      .withColumn("keep", col("gopher_keep") && col("clf_keep"))
      .select("doc_id", "lang_pred", "n_tokens", "gopher_keep",
        "clf_n_tokens", "clf_score_fp", "clf_keep", "keep")
  }

  /** Drive every parquet file under `docsDir` through the gate, one
    * micro-batch per file (availableNow). Re-invoking with the same
    * `outDir` + `checkpointDir` RESUMES: committed files are skipped
    * by the streaming checkpoint. `reset = true` destroys prior
    * state first; a non-empty `outDir` that is not prior gate state
    * fails fast (the [[IngestGate]] guards).
    *
    * Output layout under `outDir`:
    *  - `verdict/batch=<id>/`  — the full [[gateVerdict]] table
    *  - `admitted/batch=<id>/` — gated docs, full input schema plus
    *    `lang_pred` (the routing column downstream shards on)
    *  - `rejected/batch=<id>/` — verdict rows of refused docs
    *
    * Returns (verdict, admitted, rejected) as batch reads. */
  def qualityGate(spark: SparkSession, docsDir: String,
                  langModel: Corpus.LangIdModel,
                  qualityModel: DataFrame,
                  outDir: String, checkpointDir: String,
                  idCol: String = "doc_id", textCol: String = "text",
                  minTokens: Long = 30,
                  fileGlob: String = "*.parquet",
                  reset: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    val verdictDir = s"$outDir/verdict"
    FileGate.run(spark, docsDir, outDir, checkpointDir, fileGlob, reset,
        marker = "verdict/") { (batch, batchId) =>
      val docs = batch.persist()
      val verdict = gateVerdict(docs, langModel, qualityModel,
        idCol, textCol, minTokens)
      verdict.write.mode("overwrite")
        .parquet(s"$verdictDir/batch=$batchId")
      // re-read the committed verdict rather than recompute: the
      // gate pipeline (classifier probe included) ran once
      val v = spark.read.parquet(s"$verdictDir/batch=$batchId")
      docs.join(
          v.filter(col("keep"))
            .select(col("doc_id").as("__kid"), col("lang_pred")),
          docs(idCol) === col("__kid"))
        .drop("__kid")
        .write.mode("overwrite")
        .parquet(s"$outDir/admitted/batch=$batchId")
      v.filter(!col("keep"))
        .write.mode("overwrite")
        .parquet(s"$outDir/rejected/batch=$batchId")
      docs.unpersist()
    }
    (spark.read.parquet(verdictDir).drop("batch"),
      spark.read.parquet(s"$outDir/admitted").drop("batch"),
      spark.read.parquet(s"$outDir/rejected").drop("batch"))
  }
}
