package graft.streaming

import graft.operators.{Bucketing, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ingest near-dup gate — the incremental MinHash probe
  * ([[graft.operators.Dedup.incrementalMinhashPairs]]) as an
  * always-on ingest stage: each arriving micro-batch of documents is
  * first deduplicated WITHIN the batch, then probed against the
  * accumulated corpus sketch; documents with a verified
  * near-duplicate already in the corpus are quarantined (with the
  * pair evidence), the rest pass the gate AND their sketches are
  * appended to the index — so later batches are deduped against what
  * earlier batches admitted. This is the crawl-ingest shape: the
  * corpus only ever grows by documents that cleared the gate.
  *
  * foreachBatch is the right streaming construct here, not a
  * stream-static join chain: the probe is a multi-join batch
  * pipeline with its own persist/release discipline, and the index
  * must be APPENDED to between micro-batches — a static-side
  * mutation stream-static joins don't model. foreachBatch hands each
  * micro-batch to the exact batch operator the driver's oracle
  * certifies (q_dedup_incremental), and the per-batch index append
  * is a parquet write the next batch's probe scans.
  *
  * Restart-safe: invoking the gate again with the same `outDir` +
  * `checkpointDir` RESUMES — the streaming checkpoint skips files
  * already committed, and the probe picks up the accumulated
  * `sketch/` index (the `seedSketch` argument is ignored on resume;
  * it only seeds a cold start). Destroying prior state is opt-in via
  * `reset = true`; a non-empty `outDir` that is NOT prior gate state
  * fails fast instead of being silently overwritten.
  *
  * Exactly-once: every per-batch output lands under a
  * `batch=<batchId>/` directory written with overwrite mode, so a
  * crashed-and-retried micro-batch rewrites the same paths instead
  * of double-appending.
  *
  * Index compaction: an always-on gate otherwise grows `sketch/` by
  * one directory per micro-batch and re-lists all of them every
  * probe. Every `compactEvery` batches the gate folds all
  * `sketch/batch=*` directories into a single `batch=c<id>`
  * directory (dir count stays ≤ compactEvery) and — when
  * `indexTable` is set — rebuilds a bucketed-by-`bandkey` managed
  * table from it, after which candidate generation probes the STORED
  * index and exchanges only the batch side
  * ([[graft.operators.Dedup.incrementalMinhashPairsIndexed]];
  * IngestGateSpec pins the one-exchange plan). The fold renames the
  * compacted directory in BEFORE deleting the originals, and
  * compaction dedups by id, so a crash mid-swap costs duplicate pair
  * evidence for a window, never lost index entries.
  *
  * Scale notes (100 TB corpus, GB-scale daily batches):
  *  - per batch the corpus side costs pruned columnar scans of the
  *    stored sketch, never a re-shingle (see
  *    [[graft.operators.Dedup.minhashSketch]]);
  *  - with `indexTable` set, the band probe against the compacted
  *    corpus is exchange-free on the corpus side; only the
  *    not-yet-compacted recent batches (≤ compactEvery, each
  *    batch-sized) derive band keys in-flight;
  *  - in-batch dedup uses the conservative greedy rule — any doc
  *    paired with a smaller in-batch id is dropped. On A~B~C chains
  *    this may over-drop (C falls even if its only dup B fell
  *    first); the gate prefers admitting a guaranteed dup-free set
  *    over chain-precision. The full connected-components treatment
  *    is [[graft.operators.Dedup.deduplicate]].
  */
object IngestGate {

  /** Drive every parquet file under `docsDir` through the gate one
    * micro-batch per file (availableNow). `seedSketch` is the
    * pre-existing corpus index — pass a sketch of the current corpus,
    * or an empty sketch for a cold start (ignored when resuming).
    *
    * Output layout under `outDir`:
    *  - `admitted/batch=<id>/`  — gated documents, full input schema
    *  - `quarantine/batch=<id>/` — (new_id, corpus_id, jaccard) pair
    *    evidence for every document rejected as a near-duplicate of
    *    the corpus. An in-batch near-duplicate of a smaller id is
    *    dropped by the greedy rule and leaves no quarantine row
    *  - `sketch/batch=<id>/`   — admitted docs' (id, sh, sig), the
    *    index later batches probe (seeded from `seedSketch`);
    *    periodically folded into `batch=c<id>` (see compaction notes)
    *
    * Returns (admitted, quarantine) as batch DataFrames. */
  def nearDupGate(spark: SparkSession, docsDir: String,
                  seedSketch: DataFrame, outDir: String,
                  checkpointDir: String, threshold: Double = 0.9,
                  numHashes: Int = 16, bands: Int = 4, shingleN: Int = 3,
                  idCol: String = "doc_id", textCol: String = "text",
                  fileGlob: String = "*.parquet",
                  reset: Boolean = false,
                  compactEvery: Int = 16,
                  indexTable: Option[String] = None,
                  indexBuckets: Int = 16): (DataFrame, DataFrame) = {
    indexTable.foreach(t => require(!t.contains("."),
      s"indexTable '$t' must be a single-part table name " +
        "(written via saveAsTable into the current database); a " +
        "qualified name would abort the stream at the first compaction"))
    val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val sketchDir = s"$outDir/sketch"
    val sketchPath = new org.apache.hadoop.fs.Path(sketchDir)
    val admittedDir = s"$outDir/admitted"
    val quarantineDir = s"$outDir/quarantine"
    if (reset) indexTable.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    FileGate.run(spark, docsDir, outDir, checkpointDir, fileGlob, reset,
        marker = "sketch/",
        coldStart = seedSketch.write.parquet(s"$sketchDir/batch=seed")
    ) { (batch, batchId) =>
      val docs = batch.persist()
      val sketch = Dedup
        .minhashSketch(docs, numHashes, shingleN, idCol, textCol)
      // 1. in-batch dedup (greedy: larger id of any pair falls)
      val inBatchPairs = Dedup
        .minhashPairsFromSketch(sketch, threshold, numHashes, bands)
      // localCheckpoint: the probe, the admit semi-join and the
      // index append below all reuse the surviving sketch; the
      // checkpoint materializes it ONCE (the operator releases
      // its own cache before the later consumers run)
      val batchSketch = sketch.join(
        inBatchPairs.select(col("b_id").as("id")).distinct(),
        Seq("id"), "left_anti").localCheckpoint()
      // 2. probe the survivors against the accumulated index;
      //    `batch` is a partition-discovery column, not sketch data
      val corpus = spark.read.parquet(sketchDir).drop("batch")
      val dupPairs = indexTable match {
        case Some(t) if spark.catalog.tableExists(t) =>
          // stored bucketed index covers the compacted batch=c*
          // fold; the ≤ compactEvery recent batch dirs derive
          // their band keys in-flight (each is batch-sized)
          val stored = spark.table(t).select("id", "bandkey")
          val recent = fs.listStatus(sketchPath)
            .filter(_.isDirectory).map(_.getPath)
            .filterNot(_.getName.startsWith("batch=c"))
            .map(_.toString).toSeq
          val recentIdx =
            if (recent.isEmpty) stored.limit(0)
            else Dedup.sketchBandIndex(
              spark.read.parquet(recent: _*), numHashes, bands)
          Dedup.incrementalMinhashPairsIndexed(batchSketch, corpus,
            stored.unionByName(recentIdx), threshold, numHashes, bands)
        case _ =>
          Dedup.incrementalMinhashPairs(
            batchSketch, corpus, threshold, numHashes, bands)
      }
      // a crashed-then-replayed micro-batch probes an index that
      // already contains its own docs (sketch/batch=<id> or a
      // compacted fold of it): a doc is never a duplicate of its
      // own id, so drop self-pairs or the whole replayed batch
      // self-matches at jaccard 1.0 and is quarantined
      dupPairs.filter(col("new_id") =!= col("corpus_id"))
        .write.mode("overwrite")
        .parquet(s"$quarantineDir/batch=$batchId")
      // the two operators cache their (small) pair results for
      // reuse; an always-on gate must drop them per batch or the
      // executor cache grows by two tables every micro-batch
      inBatchPairs.unpersist(false)
      dupPairs.unpersist(false)
      // 3. admit everything not quarantined; grow the index.
      //    The quarantine parquet just written is re-read rather
      //    than recomputed: the probe pipeline ran once.
      val rejected = spark.read
        .parquet(s"$quarantineDir/batch=$batchId")
        .select(col("new_id").as("id")).distinct()
      val keptIds = batchSketch.select("id")
        .join(rejected, Seq("id"), "left_anti")
      docs.join(keptIds, docs(idCol) === keptIds("id"), "left_semi")
        .write.mode("overwrite").parquet(s"$admittedDir/batch=$batchId")
      batchSketch
        .join(rejected, Seq("id"), "left_anti")
        .write.mode("overwrite").parquet(s"$sketchDir/batch=$batchId")
      docs.unpersist()
      // 4. periodic compaction: bound sketch dir growth and keep
      //    the stored candidate index covering the whole corpus
      if (compactEvery > 0 &&
          fs.listStatus(sketchPath).count(_.isDirectory) >= compactEvery)
        compactSketchIndex(spark, outDir, batchId,
          numHashes, bands, indexTable, indexBuckets)
    }
    (spark.read.parquet(admittedDir).drop("batch"),
      spark.read.parquet(quarantineDir).drop("batch"))
  }

  /** Fold every `sketch/batch=*` directory into one `batch=c<id>`
    * directory and rebuild the bucketed band index table (when
    * configured). The step order makes every crash window safe:
    *
    *  1. write the full id-deduped fold to a temp dir;
    *  2. rebuild the bucketed index FROM THE TEMP FOLD — from here the
    *     stored index covers the whole corpus;
    *  3. rename the fold in as `batch=c<id>`;
    *  4. delete the original directories.
    *
    * A crash after 1 orphans a temp dir the next compaction clears;
    * after 2 or 3 the corpus is (at worst) double-represented —
    * duplicate candidate pairs for a window, never lost entries, and
    * the next compaction's id-dedup heals it. A crash DURING the
    * index rebuild (table dropped, not yet rewritten) demotes the
    * probe to the derive-in-flight path over the still-intact
    * originals until the next compaction. On an in-memory catalog
    * the table does not survive a JVM restart at all — same demotion,
    * same self-heal (see [[Bucketing.writeBucketed]]'s notes).
    *
    * `failAfter` is TEST-ONLY fault injection (IngestGateSpec's
    * kill-between-steps legs): 2 = throw after the index rebuild and
    * before the rename; 3 = throw after the rename and before the
    * original-directory deletes. Production call sites never set it. */
  private[graft] def compactSketchIndex(spark: SparkSession, outDir: String,
                                        batchId: Long, numHashes: Int,
                                        bands: Int,
                                        indexTable: Option[String],
                                        indexBuckets: Int,
                                        failAfter: Int = 0): Unit = {
    val sketchDir = s"$outDir/sketch"
    val sketchPath = new org.apache.hadoop.fs.Path(sketchDir)
    val fs = sketchPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$outDir/sketch_compact_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.parquet(sketchDir).drop("batch")
      .dropDuplicates("id")
      .coalesce(indexBuckets)
      .write.parquet(tmp.toString)
    indexTable.foreach { t =>
      Bucketing.writeBucketed(
        Dedup.sketchBandIndex(spark.read.parquet(tmp.toString),
          numHashes, bands),
        t, Seq("bandkey"), indexBuckets)
    }
    if (failAfter == 2)
      throw new IllegalStateException(
        "failpoint 2: crashed after the index rebuild, before the rename")
    val dest = new org.apache.hadoop.fs.Path(s"$sketchDir/batch=c$batchId")
    val originals = fs.listStatus(sketchPath)
      .filter(_.isDirectory).map(_.getPath)
      .filterNot(_.getName == s"batch=c$batchId")
    // a crash between a previous retry's rename and its delete leaves
    // the fold already in place; the tmp fold (built from the full
    // dir listing, dest included) covers it, so replace it
    if (fs.exists(dest)) fs.delete(dest, true)
    // rename failure must NOT reach the delete below — the originals
    // would then be the only copy of the index
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(
        s"sketch compaction rename $tmp -> $dest failed; " +
          "original batch directories left intact")
    if (failAfter == 3)
      throw new IllegalStateException(
        "failpoint 3: crashed after the rename, before the deletes")
    originals.foreach(p => fs.delete(p, true))
  }
}
