package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming over the events table.
  *
  * The same tumbling-window aggregation as the batch path, expressed
  * as a stream: file source → watermark → windowed agg → sink, driven
  * to completion with availableNow (batch-equivalent result,
  * streaming execution).
  *
  * NOTE on output mode: this verification harness uses
  * `complete` + memory sink so the FULL window set is returned and
  * comparable to the batch oracle — in complete mode the watermark
  * does NOT evict state, so state grows with distinct windows. The
  * production 100 TB path is `append` (or `update`) to a real sink —
  * there the watermark bounds state, at the cost of withholding
  * windows newer than (max ts − watermark) at stream end.
  */
object EventStreams {

  /** Stateful queries create one state-store instance per shuffle
    * partition (×2 for stream-stream joins), each with checkpoint
    * files and a maintenance thread — at the relational shuffle
    * default, store setup I/O dominates small/medium streams. Scope
    * stateful shuffles to a bounded width and restore the session
    * default after; a production cluster sizes this to state volume
    * per executor, independently of the batch shuffle width. */
  private[graft] def withStatefulShuffle[T](spark: SparkSession,
                                                n: Int = 8)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Run `f` with the RocksDB state store provider — the 100 TB
    * state backend: per-partition state lives on executor local disk
    * with a block-cache, instead of the default HDFS-backed provider
    * that keeps EVERY key in executor heap. Heap-resident state is
    * the first thing to fall over when a streaming job's key space
    * grows (dedup over billions of keys); RocksDB bounds memory and
    * spills to SSD. Scoped + restored so verification runs (small
    * state, heap is faster) are unaffected elsewhere. */
  def withRocksDbState[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Windowed count+sum per event_type over a parquet events path,
    * executed as a streaming query and returned as the final batch
    * result. Output: window_start_us, event_type, n, sum_value. */
  def windowedCounts(spark: SparkSession, eventsDir: String,
                     fileGlob: String = "events.parquet",
                     windowDur: String = "15 minutes",
                     queryName: String = "graft_stream_window"): DataFrame = {
    val schema = spark.read
      .option("pathGlobFilter", fileGlob).parquet(eventsDir).schema
    val stream = graft.sources.Tables.normalizeNanoTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", fileGlob).parquet(eventsDir))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,2)")).as("sum_dec"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"),
        col("sum_dec").cast("double").as("sum_value"))
    spark.catalog.dropTempView(queryName) // rerun-safe
    withStatefulShuffle(spark) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Watermarked stream-stream interval join: each click joins the
    * errors of the same user within the trailing `intervalMicros` —
    * both sides are streams, so Spark buffers each side in state and
    * the two watermarks + the time-range condition bound how much:
    * state is (rate × interval + watermark slack), not the stream's
    * history. The streaming twin of AsOfJoin-style enrichment for
    * always-on pipelines.
    * Output: click_id, user_id, click_ts_us, err_id, err_ts_us. */
  def streamStreamJoin(spark: SparkSession, eventsDir: String,
                       fileGlob: String = "events.parquet",
                       intervalMicros: Long = 600L * 1000000L,
                       watermark: String = "30 minutes",
                       queryName: String = "graft_ss_join"): DataFrame = {
    val schema = spark.read
      .option("pathGlobFilter", fileGlob).parquet(eventsDir).schema
    def side(tag: String) = graft.sources.Tables.normalizeNanoTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", fileGlob).parquet(eventsDir))
      .filter(col("event_type") === tag)
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val errors = side("error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", watermark)
    val joined = clicks.join(errors,
      col("user_id") === col("err_user") &&
        col("err_ts") <= col("click_ts") &&
        col("err_ts") >= col("click_ts") - expr(s"INTERVAL $intervalMicros MICROSECOND"))
      .select(col("click_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_ts_us"), col("err_id"),
        unix_micros(col("err_ts")).as("err_ts_us"))
    spark.catalog.dropTempView(queryName) // rerun-safe
    withStatefulShuffle(spark) {
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Watermarked stream-stream LEFT OUTER interval join: every click
    * pairs with its trailing errors, and clicks WITHOUT a matching
    * error are still emitted (null error columns) once the watermark
    * proves no match can arrive — the streaming feature that
    * distinguishes "no match yet" from "no match ever". State and
    * emission timing follow the two watermarks + the interval bound,
    * exactly like the inner variant; the outer rows simply flush
    * when their join-window closes. With a finite availableNow input
    * the final watermark closes every window, so the result equals
    * the batch left join.
    * Output: click_id, user_id, click_ts_us, err_id, err_ts_us
    * (err columns null for unmatched clicks). */
  def streamStreamLeftJoin(spark: SparkSession, eventsDir: String,
                           fileGlob: String = "events.parquet",
                           intervalMicros: Long = 600L * 1000000L,
                           watermark: String = "30 minutes",
                           queryName: String = "graft_ss_ljoin")
  : DataFrame = {
    val schema = spark.read
      .option("pathGlobFilter", fileGlob).parquet(eventsDir).schema
    def side(tag: String) = graft.sources.Tables.normalizeNanoTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", fileGlob).parquet(eventsDir))
      .filter(col("event_type") === tag)
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val errors = side("error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", watermark)
    val joined = clicks.join(errors,
      col("user_id") === col("err_user") &&
        col("err_ts") <= col("click_ts") &&
        col("err_ts") >= col("click_ts") - expr(s"INTERVAL $intervalMicros MICROSECOND"),
      "left_outer")
      .select(col("click_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_ts_us"), col("err_id"),
        unix_micros(col("err_ts")).as("err_ts_us"))
    spark.catalog.dropTempView(queryName) // rerun-safe
    withStatefulShuffle(spark) {
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Streaming exact dedup: drop events whose `keyCols` were already
    * seen within the watermark horizon — `dropDuplicatesWithinWatermark`
    * keys the state store and the watermark evicts it, so state is
    * bounded by (arrival rate × horizon), not the stream's lifetime.
    * The streaming twin of Dedup.exact for an always-on ingest
    * pipeline (at-least-once upstream → exactly-once-per-key out). */
  def streamingDedup(spark: SparkSession, eventsDir: String,
                     keyCols: Seq[String],
                     fileGlob: String = "events.parquet",
                     watermark: String = "1 hour",
                     queryName: String = "graft_stream_dedup"): DataFrame = {
    val schema = spark.read
      .option("pathGlobFilter", fileGlob).parquet(eventsDir).schema
    val stream = graft.sources.Tables.normalizeNanoTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", fileGlob).parquet(eventsDir))
    val deduped = stream
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)
    spark.catalog.dropTempView(queryName) // rerun-safe
    withStatefulShuffle(spark) {
      val q = deduped.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Streaming language-ID scoring: apply a PRE-FITTED langid model
    * ([[graft.operators.Corpus.fitLangIdModel]] over a labeled static
    * corpus — the train-once / stream-forever split every other model
    * family uses) to a document stream. The transform is a STATELESS
    * zero-shuffle scan (literal tick table + per-row fold + inline
    * argmax), so it streams in append mode with NO state store and no
    * watermark at all — this is exactly what the
    * model-as-expression-data design buys an ingest path: language
    * routing at file-arrival time, one task per arriving file.
    * Batch-equivalence is the contract: the streamed rows equal
    * `applyLangIdModel` over the same files bit-for-bit (the shared
    * q_langid_model oracle hash-checks it end to end).
    *
    * `sinkDir` routes the scored stream through the PRODUCTION sink
    * shape — append-mode parquet + streaming checkpoint (the E6
    * discipline; re-invoking with the same dirs resumes and scores
    * only new files) — and returns the parquet read-back; the
    * default memory sink remains for ad-hoc inspection. The spec
    * pins the two sinks row-equal over the same files. */
  def streamLangId(spark: SparkSession, docsDir: String,
                   model: graft.operators.Corpus.LangIdModel,
                   fileGlob: String = "documents.parquet",
                   queryName: String = "graft_stream_langid",
                   sinkDir: Option[String] = None,
                   checkpointDir: Option[String] = None)
  : DataFrame = {
    val schema = spark.read.option("pathGlobFilter", fileGlob)
      .parquet(docsDir).schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", fileGlob).parquet(docsDir)
    val out = graft.operators.Corpus.applyLangIdModel(stream, model)
    sinkDir match {
      case Some(dir) =>
        val ckpt = checkpointDir.getOrElse(s"${dir}_ckpt")
        val q = out.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", dir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.parquet(dir)
      case None =>
        spark.catalog.dropTempView(queryName) // rerun-safe
        val q = out.writeStream
          .outputMode("append")
          .format("memory")
          .queryName(queryName)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table(queryName)
    }
  }

  /** STREAMING PII gate — the scrub-before-landing leg of the ingest
    * battery (E11 near-dup, E12 langid, E13 quality, E15
    * decontamination; this closes the privacy gate): every arriving
    * document file is profiled ([[graft.operators.Corpus.piiProfile]]
    * — emails, digit runs, Luhn-validated card shapes) and lands
    * SCRUBBED, so raw PII never reaches the corpus tables
    * downstream consumers read. Stateless scan-stage transform →
    * append parquet sink + checkpoint: exactly-once by the file-sink
    * commit log, batch-equivalent by construction (the oracle
    * replays the batch body over the same files).
    */
  def streamPiiGate(spark: SparkSession, docsDir: String,
                    plant: org.apache.spark.sql.Column =>
                      org.apache.spark.sql.Column = identity,
                    fileGlob: String = "documents.parquet",
                    queryName: String = "graft_stream_pii",
                    sinkDir: Option[String] = None,
                    checkpointDir: Option[String] = None)
  : DataFrame = {
    val schema = spark.read.option("pathGlobFilter", fileGlob)
      .parquet(docsDir).schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", fileGlob).parquet(docsDir)
    val out = graft.operators.Corpus.piiProfile(stream, plant = plant)
    sinkDir match {
      case Some(dir) =>
        val ckpt = checkpointDir.getOrElse(s"${dir}_ckpt")
        val q = out.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", dir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.parquet(dir)
      case None =>
        spark.catalog.dropTempView(queryName) // rerun-safe
        val q = out.writeStream
          .outputMode("append")
          .format("memory")
          .queryName(queryName)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table(queryName)
    }
  }

  /** STREAMING corpus-drift monitor — the always-on twin of
    * [[graft.operators.Corpus.corpusDivergence]]: fit the reference
    * model ONCE on the trusted mix
    * ([[graft.operators.Corpus.fitDriftModel]], persisted via
    * save/loadDriftModel), then every arriving document file scores
    * one divergence summary row against it — the admit-this-batch?
    * numbers (total-variation ticks, directional OOV mass) land in a
    * table a dashboard or circuit-breaker tails. Per-batch rows are
    * a BATCH aggregation over the micro-batch, so the leg is a
    * foreachBatch loop (the [[FileGate]] skeleton): each batch writes
    * `outDir/batch=N` with mode overwrite — a crash-replayed batch
    * OVERWRITES its own dir, never appends a duplicate row
    * (exactly-once by idempotence), and the checkpoint makes a
    * resumed stream score only newly-landed files. Batch-equivalence
    * is the contract: each row equals
    * [[graft.operators.Corpus.driftAgainstModel]] over that batch's
    * files bit-for-bit (spec-pinned).
    *
    * Cold-start guards are the [[FileGate]] ones: a non-empty outDir
    * with no `batch=` dirs, or a checkpoint without its output
    * table, fails fast instead of silently skipping committed files.
    *
    * @param maxFilesPerTrigger bound files per micro-batch (None =
    *        source default: all available files in one batch under
    *        AvailableNow — one summary row per trigger sweep)
    */
  def streamDrift(spark: SparkSession, docsDir: String,
                  model: DataFrame,
                  outDir: String, checkpointDir: String,
                  textCol: String = "text",
                  fileGlob: String = "*.parquet",
                  maxFilesPerTrigger: Option[Int] = None,
                  reset: Boolean = false): DataFrame = {
    FileGate.run(spark, docsDir, outDir, checkpointDir, fileGlob, reset,
        marker = "batch=", maxFilesPerTrigger = maxFilesPerTrigger,
        statefulShuffle = false) { (batch, batchId) =>
      graft.operators.Corpus.driftAgainstModel(batch, model, textCol)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }
    spark.read.parquet(outDir)
      .withColumn("batch", col("batch").cast("long"))
  }

  /** Stream-static enrichment join: the event stream joined to a
    * static dimension table (user → segment), then window-aggregated.
    * Stream-static joins are STATELESS on the stream side — the
    * static side is just a (re-broadcast per micro-batch) lookup, so
    * this is the always-on twin of the batch broadcast dim join and
    * the cheapest enrichment shape at 100 TB: no state store, no
    * second watermark. Left join keeps events whose user has no
    * dimension row (segment → 'unknown') — dropping them silently is
    * the classic enrichment bug.
    * Output: window_start_us, segment, n, sum_value. */
  def streamStaticJoin(spark: SparkSession, eventsDir: String,
                       fileGlob: String = "events.parquet",
                       windowDur: String = "15 minutes",
                       queryName: String = "graft_stream_static",
                       dimDir: String = null): DataFrame = {
    val schema = spark.read
      .option("pathGlobFilter", fileGlob).parquet(eventsDir).schema
    val stream = graft.sources.Tables.normalizeNanoTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", fileGlob).parquet(eventsDir))
    val dim = broadcast(
      graft.sources.Tables.load(spark,
        Option(dimDir).getOrElse(eventsDir), "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment")))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .join(dim, Seq("user_id"), "left")
      .withColumn("segment", coalesce(col("segment"), lit("unknown")))
      .groupBy(window(col("ts"), windowDur), col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,2)")).as("sum_dec"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("segment"), col("n"),
        col("sum_dec").cast("double").as("sum_value"))
    spark.catalog.dropTempView(queryName) // rerun-safe
    withStatefulShuffle(spark) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(queryName)
  }

  /** Streaming upsert via foreachBatch: maintain a keyed
    * latest-event-per-user table from the stream — the production
    * "materialized view" shape (CDC compaction, feature stores).
    * Each micro-batch merges into the keyed table: read existing,
    * union the batch's per-key latest, keep-latest again, swap in.
    * The merged table is written to a TEMP path and promoted with
    * renames — writing in place over the path the plan is still
    * reading is the classic self-overwrite corruption, and even a
    * materialized in-place overwrite is not crash-safe (a failure
    * mid-overwrite leaves a partial directory a retry would read as
    * "existing"). With the swap, the live path always holds a
    * complete table and a batch retry that died between renames
    * restores the displaced previous version. Keep-latest is a
    * max(struct) aggregation ((ts, event_id) lexicographic —
    * event_id unique → deterministic), not a window sort.
    * Output: user_id, last_event_id, last_ts_us, last_value. */
  def streamUpsertToTable(spark: SparkSession, eventsDir: String,
                          tableDir: String, checkpointDir: String,
                          fileGlob: String = "events.parquet",
                          maxFilesPerTrigger: Option[Int] = None)
  : DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(tableDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Seq(tableDir, checkpointDir).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      if (fs.exists(hp)) fs.delete(hp, true)
    }
    val schema = spark.read
      .option("pathGlobFilter", fileGlob).parquet(eventsDir).schema
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", fileGlob)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val stream = graft.sources.Tables.normalizeNanoTs(
      reader.parquet(eventsDir))
      .select("user_id", "ts", "event_id", "value")
    def latest(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("m.ts").as("ts"),
          col("m.event_id").as("event_id"), col("m.value").as("value"))
    withStatefulShuffle(spark) {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val tablePath = new org.apache.hadoop.fs.Path(tableDir)
          val prevPath = new org.apache.hadoop.fs.Path(s"$tableDir.prev")
          // crash recovery: a retry that died between the two renames
          // below finds no live table — restore the displaced version
          // rather than silently restarting history from empty
          if (!fs.exists(tablePath) && fs.exists(prevPath))
            fs.rename(prevPath, tablePath)
          val existing =
            if (fs.exists(tablePath)) spark.read.parquet(tableDir)
            else latest(batch).limit(0)
          // write the merge to a temp path: the plan reads tableDir
          // while writing elsewhere, so no lineage barrier is needed
          // and the live path never holds a partial table
          val tmpPath = new org.apache.hadoop.fs.Path(s"$tableDir.tmp-$batchId")
          latest(existing.unionByName(latest(batch)))
            .write.mode("overwrite").parquet(tmpPath.toString)
          // promote: displace current, rename tmp in, drop displaced
          if (fs.exists(prevPath)) fs.delete(prevPath, true)
          if (fs.exists(tablePath)) fs.rename(tablePath, prevPath)
          fs.rename(tmpPath, tablePath)
          fs.delete(prevPath, true)
          ()
        }
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(tableDir)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        unix_micros(col("ts")).as("last_ts_us"),
        col("value").as("last_value"))
  }

  /** Streaming keyed merge through [[graft.operators.MergeTable]] —
    * the 100 TB form of [[streamUpsertToTable]]: that one REWRITES
    * THE WHOLE TABLE every micro-batch (fine for a small view,
    * O(table) per trigger at scale), this one rewrites only the
    * hash buckets the batch's keys touch — O(delta buckets) per
    * trigger — and commits each batch through the manifest rename,
    * so readers always see a complete committed snapshot and a
    * crash mid-batch leaves an invisible orphan the next batch
    * sweeps.
    *
    * Keep-latest semantics across batches: file order is not ts
    * order, so each batch's per-key winner is decided against the
    * CURRENT stored row — the snapshot read prunes to the batch's
    * buckets (kb is a partition column under every version dir, so
    * the isin filter prunes at planning, the L27/J41 discipline) and
    * the (ts, event_id) lexicographic max picks the winner. A batch
    * REPLAY (foreachBatch's at-least-once) re-derives the same
    * winners against the already-merged table — idempotent by the
    * max semantics, so the effect is exactly-once without the E9
    * whole-table double-rename.
    * Output contract = [[streamUpsertToTable]]'s (same oracle). */
  def streamMergeToTable(spark: SparkSession, eventsDir: String,
                         tableDir: String, checkpointDir: String,
                         fileGlob: String = "events.parquet",
                         nBuckets: Int = 16,
                         maxFilesPerTrigger: Option[Int] = None)
  : DataFrame = {
    import graft.operators.MergeTable
    val fs = new org.apache.hadoop.fs.Path(tableDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Seq(tableDir, checkpointDir).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      if (fs.exists(hp)) fs.delete(hp, true)
    }
    val schema = spark.read
      .option("pathGlobFilter", fileGlob).parquet(eventsDir).schema
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", fileGlob)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val stream = graft.sources.Tables.normalizeNanoTs(
      reader.parquet(eventsDir))
      .select("user_id", "ts", "event_id", "value")
    def latest(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("m.ts").as("ts"),
          col("m.event_id").as("event_id"), col("m.value").as("value"))
    withStatefulShuffle(spark) {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = latest(batch)
          val hasTable = new org.apache.hadoop.fs.Path(tableDir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(new org.apache.hadoop.fs.Path(s"$tableDir/manifest"))
          val winners =
            if (!hasTable) b
            else {
              val kb = pmod(xxhash64(col("user_id")),
                lit(nBuckets.toLong)).cast("int")
              val touched = b.select(kb.as("__kb")).distinct()
                .collect().map(_.getInt(0)).toSet
              val cur = MergeTable.snapshot(spark, tableDir)
                .filter(col("kb").isin(touched.toSeq: _*))
                .select("user_id", "ts", "event_id", "value")
              latest(cur.unionByName(b))
            }
          MergeTable.merge(spark, tableDir, winners, Seq("user_id"),
            nBuckets)
          ()
        }
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    MergeTable.snapshot(spark, tableDir)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        unix_micros(col("ts")).as("last_ts_us"),
        col("value").as("last_value"))
  }

  /** The production 100 TB sink path: the same windowed aggregation in
    * APPEND mode to parquet files with a checkpoint — here the
    * watermark genuinely evicts state (a window's row is emitted,
    * and its state dropped, once the watermark passes its end), so
    * state stays bounded on an unbounded stream. Finite caveat: at
    * stream end, windows newer than (max ts − watermark) remain
    * unemitted; that is correct streaming semantics, not data loss —
    * they flush when later data (or a final batch) advances the
    * watermark. */
  def windowedCountsToFiles(spark: SparkSession, eventsDir: String,
                            outDir: String, checkpointDir: String,
                            fileGlob: String = "events.parquet",
                            windowDur: String = "15 minutes",
                            watermark: String = "1 hour"): Unit = {
    val schema = spark.read
      .option("pathGlobFilter", fileGlob).parquet(eventsDir).schema
    val stream = graft.sources.Tables.normalizeNanoTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", fileGlob).parquet(eventsDir))
    val agg = stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,2)")).as("sum_dec"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"),
        col("sum_dec").cast("double").as("sum_value"))
    withStatefulShuffle(spark) {
      val q = agg.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }
}
