package graft
package registry

import graft.operators._
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import Fixtures._

/** SURVEY.md §2 E: time and streaming, over the events table. */
private[graft] object StreamingQueries extends Family {

  /** The composed quality-gate replay, shared by q_quality_gate and
    * its streaming twin q_stream_quality_gate (batch-equivalent by
    * construction — the foreachBatch leg runs gateVerdict verbatim):
    * the three certified per-scorer chains (H13 Gopher, H29 langid,
    * H15 classifier) embedded as subqueries and joined on doc_id,
    * with the same null-handling the Spark verdict applies (langid
    * null under 2 chars, classifier keep null-safe false for docs
    * with no in-vocabulary tokens). */
  private def qualityGateOracle: String =
    s"""SELECT g.doc_id, l.lang_pred, g.n_tokens, g.keep AS gopher_keep,
       |c.n_tokens AS clf_n_tokens, c.score_fp AS clf_score_fp,
       |COALESCE(c.keep, false) AS clf_keep,
       |(g.keep AND COALESCE(c.keep, false)) AS keep
       |FROM ($gopherRulesOracle) g
       |LEFT JOIN ($langIdModelOracle) l USING (doc_id)
       |LEFT JOIN ($qualityClassifierOracle) c USING (doc_id)""".stripMargin

  /** q_stream_upsert's oracle; the keyed merge q_stream_merge leaves the
    * same keep-latest table as the whole rewrite, so shares it. */
  private def streamUpsertOracle: String =
    """SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us,
      |value AS last_value FROM (
      |SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |FROM events) WHERE rn = 1""".stripMargin

  /** q_window_agg_time's oracle; the streamed tumbling window
    * q_stream_window equals the batch one, so shares it. */
  private def windowAggTimeOracle: String =
    """SELECT (epoch_us(ts) // 900000000) * 900000000 AS window_start_us,
      |event_type, COUNT(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q_window_agg_time", (s, d) =>
      TimeOps.tumblingAgg(T(s, d, "events"), "ts", Seq("event_type"),
        "value", 900L * 1000000L),
      Some(windowAggTimeOracle)),
    Query("q_stream_window", (s, d) => EventStreams.windowedCounts(s, d),
      Some(windowAggTimeOracle)),
    // per-user session stats via flatMapGroupsWithState — the single
    // availableNow batch emits every session (open ones unclosed), so
    // the aggregate matches the batch sessionize oracle exactly
    Query("q_stateful_sessions", (s, d) =>
      streaming.StatefulSessions.sessionize(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum("n_events").cast("long").as("n_events")),
      Some(WindowQueries.sessionizeOracle)),
    Query("q_stream_join", (s, d) => EventStreams.streamStreamJoin(s, d),
      Some("""SELECT c.event_id AS click_id, c.user_id, epoch_us(c.ts) AS click_ts_us,
        |e.event_id AS err_id, epoch_us(e.ts) AS err_ts_us
        |FROM events c JOIN events e ON c.event_type = 'click'
        |AND e.event_type = 'error' AND c.user_id = e.user_id
        |AND epoch_us(e.ts) <= epoch_us(c.ts)
        |AND epoch_us(e.ts) >= epoch_us(c.ts) - 600000000""".stripMargin)),
    // OUTER stream-stream join: unmatched clicks surface with null
    // error columns once the watermark closes their join window —
    // "no match ever", proven, not just "no match yet"
    Query("q_stream_left_join", (s, d) =>
      EventStreams.streamStreamLeftJoin(s, d),
      Some("""WITH ev AS (SELECT *, epoch_us(ts) AS us FROM events),
        |c AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'click'),
        |err AS (SELECT event_id, user_id, us FROM ev WHERE event_type = 'error'),
        |wm AS (SELECT least((SELECT (MAX(us) // 1000) * 1000 FROM c),
        |               (SELECT (MAX(us) // 1000) * 1000 FROM err))
        |        - 1800000000 AS w),
        |j AS (SELECT c.event_id AS click_id, c.user_id, c.us AS click_ts_us,
        |err.event_id AS err_id, err.us AS err_ts_us
        |FROM c LEFT JOIN err ON c.user_id = err.user_id
        |AND err.us <= c.us AND err.us >= c.us - 600000000)
        |SELECT click_id, user_id, click_ts_us, err_id, err_ts_us FROM j
        |WHERE err_id IS NOT NULL OR click_ts_us < (SELECT w FROM wm)""".stripMargin)),
    // streaming upsert (foreachBatch): latest-event-per-user keyed
    // table maintained by the stream — the materialized-view /
    // feature-store shape
    Query("q_stream_upsert", (s, d) =>
      EventStreams.streamUpsertToTable(s, d,
        roundtripDir("upsert/table"), roundtripDir("upsert/ckpt")),
      Some(streamUpsertOracle)),
    // the 100 TB form of q_stream_upsert: per batch, only the keyed
    // MergeTable buckets the delta touches rewrite (snapshot read
    // pruned to those buckets decides keep-latest winners); each
    // trigger commits through the manifest rename. Same final table
    // as the whole-rewrite form — the oracle is shared verbatim.
    Query("q_stream_merge", (s, d) =>
      EventStreams.streamMergeToTable(s, d,
        roundtripDir("stream_merge/table"),
        roundtripDir("stream_merge/ckpt")),
      Some(streamUpsertOracle)),
    // the PRODUCTION streaming sink path: append-mode windowed agg to
    // parquet files with a checkpoint — only windows the final
    // watermark (max ts − 1h) has passed are emitted, and the oracle
    // reproduces exactly that set
    Query("q_stream_to_files", (s, d) => {
      val out = roundtripDir("stream_files/out")
      val ckpt = roundtripDir("stream_files/ckpt")
      // fresh checkpoint each run: the source checkpoint remembers
      // processed files, a stale one would emit an empty batch
      val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      Seq(out, ckpt).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        if (fs.exists(hp)) fs.delete(hp, true)
      }
      EventStreams.windowedCountsToFiles(s, d, out, ckpt)
      s.read.parquet(out)
    },
      Some("""WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |wm AS (SELECT (MAX(us) // 1000) * 1000 - 3600000000 AS w FROM e)
        |SELECT (us // 900000000) * 900000000 AS window_start_us,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY 1, 2
        |HAVING (us // 900000000) * 900000000 + 900000000 <= (SELECT w FROM wm)""".stripMargin)),
    // one availableNow batch over a single file → every duplicate key
    // is in-batch and dropped, so exactly one row per user survives
    // (which row is arbitrary → aggregate to the deterministic shape)
    Query("q_stream_dedup", (s, d) =>
      EventStreams.streamingDedup(s, d, Seq("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n_rows")),
      Some("""SELECT user_id, CAST(1 AS BIGINT) AS n_rows FROM events GROUP BY user_id""")),
    // the STREAMING decontamination gate (the H38 probe as an
    // always-on ingest stage, chained after the E11 near-dup gate in
    // production): the bench sketch is SAVED once as the static index
    // artifact and LOADED back (the train-once/deploy-from-artifact
    // hop every model family uses), then the document stream drains
    // file-by-file through foreachBatch — three exactly-once outputs,
    // checkpointed, restart-safe. The index never grows, so the
    // streamed verdict is batch-equivalent BY CONSTRUCTION and the
    // q_decontaminate_fuzzy oracle is shared verbatim
    Query("q_stream_decontaminate", (s, d) => {
      val docs = T(s, d, "documents")
      val idxDir = roundtripDir("decon_gate_index")
      streaming.DecontaminationGate.saveBenchIndex(
        md5Sketch(evalCloneBench(docs)), idxDir)
      val (verdict, _, _) =
        streaming.DecontaminationGate.decontaminationGate(s, d,
          streaming.DecontaminationGate.loadBenchIndex(s, idxDir),
          b => md5Sketch(b.select(col("doc_id").as("id"), col("text"))),
          roundtripDir("decon_gate"), roundtripDir("decon_gate_ckpt"),
          threshold = 0.9, numHashes = 32, bands = 2,
          fileGlob = "documents.parquet", reset = true)
      verdict.withColumnRenamed("id", "doc_id")
    },
      Some(TextQueries.decontaminateFuzzyOracle)),
    // the STREAMING twin: fit once on the static labeled corpus,
    // score the document stream at file-arrival time — the transform
    // is a stateless zero-shuffle scan, so it streams append-mode
    // with no state store; output is batch-equivalent bit-for-bit
    // (same oracle)
    // the verified path IS the production one: parquet sink +
    // streaming checkpoint (fresh per run — the q_stream_to_files
    // hygiene), not the ad-hoc memory sink
    Query("q_stream_langid", (s, d) => {
      val out = roundtripDir("stream_langid/out")
      val ckpt = roundtripDir("stream_langid/ckpt")
      val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      Seq(out, ckpt).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        if (fs.exists(hp)) fs.delete(hp, true)
      }
      streaming.EventStreams.streamLangId(s, d,
        Corpus.fitLangIdModel(T(s, d, "documents")),
        sinkDir = Some(out), checkpointDir = Some(ckpt))
    },
      Some(langIdModelOracle)),
    // streaming PII gate: documents land scrubbed, with the Luhn
    // card census riding as evidence — same planted-runs fixture as
    // q_pii_luhn, exactly-once file sink, batch-replayed oracle
    Query("q_stream_pii", (s, d) => {
      val out = roundtripDir("stream_pii/out")
      val ckpt = roundtripDir("stream_pii/ckpt")
      val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      Seq(out, ckpt).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        if (fs.exists(hp)) fs.delete(hp, true)
      }
      streaming.EventStreams.streamPiiGate(s, d,
        plant = t => concat(t, lit(" 4532015112830366 "),
          (lit(1000000000000000L) +
            (col("doc_id") * 987654321L) % 9000000000000000L)
            .cast("string")),
        sinkDir = Some(out), checkpointDir = Some(ckpt))
    },
      // streaming PII gate: the batch replay of the per-file transform
      // — planted runs, scrub regexes, and the Luhn walk in one pass
      Some("""WITH p AS (SELECT doc_id,
        |text || ' 4532015112830366 ' || CAST(1000000000000000 + (doc_id * 987654321) % 9000000000000000 AS VARCHAR) AS t
        |FROM documents),
        |c AS (SELECT doc_id, t, regexp_extract_all(t, '[0-9]{13,19}') AS cands FROM p)
        |SELECT doc_id,
        |CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
        |CAST(len(regexp_extract_all(t, '[0-9]{6,}')) AS BIGINT) AS n_longnums,
        |CAST(len(cands) AS BIGINT) AS n_candidates,
        |CAST(len(list_filter(cands, s ->
        |list_sum(list_transform(range(1, len(s) + 1), i ->
        |CASE WHEN i % 2 = 0 THEN
        |CASE WHEN 2 * CAST(substring(s, CAST(len(s) - i + 1 AS INT), 1) AS INT) > 9
        |THEN 2 * CAST(substring(s, CAST(len(s) - i + 1 AS INT), 1) AS INT) - 9
        |ELSE 2 * CAST(substring(s, CAST(len(s) - i + 1 AS INT), 1) AS INT) END
        |ELSE CAST(substring(s, CAST(len(s) - i + 1 AS INT), 1) AS INT) END)) % 10 = 0
        |)) AS BIGINT) AS n_valid_cards,
        |regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
        |FROM c""".stripMargin)),
    // the composed per-document quality gate (batch form): model
    // langid + Gopher battery + classifier odds joined into one
    // verdict table — the stateless-given-models slice of the L16
    // tail, and the body the streaming gate runs per batch
    Query("q_quality_gate", (s, d) => {
      val docs = T(s, d, "documents")
      streaming.QualityGate.gateVerdict(docs,
        Corpus.fitLangIdModel(docs),
        Corpus.fitQualityModel(docs,
          col("source").isin("src0", "src1", "src2", "src3")))
    },
      Some(qualityGateOracle)),
    // the STREAMING gate (E11/E12 capstone): train both models once
    // on the static labeled corpus, persist them as their parquet
    // artifacts, LOAD them back, then gate the document stream
    // file-by-file through the foreachBatch leg — three exactly-once
    // outputs per batch, checkpointed, restart-safe. The save→load
    // hop is deliberate: the hash-checked path is the production
    // train-once/deploy-from-artifact one, not an in-process fit
    Query("q_stream_quality_gate", (s, d) => {
      val docs = T(s, d, "documents")
      Corpus.saveLangIdModel(s, Corpus.fitLangIdModel(docs),
        roundtripDir("quality_gate_models/langid"))
      Corpus.saveQualityModel(
        Corpus.fitQualityModel(docs,
          col("source").isin("src0", "src1", "src2", "src3")),
        roundtripDir("quality_gate_models/clf"))
      val (verdict, _, _) = streaming.QualityGate.qualityGate(s, d,
        Corpus.loadLangIdModel(s,
          roundtripDir("quality_gate_models/langid")),
        Corpus.loadQualityModel(s,
          roundtripDir("quality_gate_models/clf")),
        roundtripDir("quality_gate"),
        roundtripDir("quality_gate_ckpt"),
        fileGlob = "documents.parquet", reset = true)
      verdict
    },
      Some(qualityGateOracle)),
    // the STREAMING drift monitor (train-once / monitor-forever):
    // fit the reference model on the en slice, PERSIST it, load the
    // artifact back, then score the arriving document stream against
    // it through the checkpointed foreachBatch leg — one divergence
    // row per micro-batch, exactly-once via per-batch dir overwrite.
    // AvailableNow sweeps the dir in one batch here, so the oracle
    // is the batch divergence of ALL documents vs the en reference
    Query("q_stream_drift", (s, d) => {
      val docs = T(s, d, "documents")
      Corpus.saveDriftModel(
        Corpus.fitDriftModel(docs.filter(col("lang") === "en")),
        roundtripDir("drift_model"))
      streaming.EventStreams.streamDrift(s, d,
        Corpus.loadDriftModel(s, roundtripDir("drift_model")),
        roundtripDir("stream_drift"),
        roundtripDir("stream_drift_ckpt"),
        fileGlob = "documents.parquet", reset = true)
    },
      // streamed drift: ONE AvailableNow batch = all documents vs the
      // persisted en reference — the identical divergence chain with
      // side A unfiltered, plus the batch stamp
      Some("""WITH ca AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM (
        |SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term FROM documents) GROUP BY term),
        |cb AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM (
        |SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term FROM documents WHERE lang = 'en') GROUP BY term),
        |j AS (SELECT COALESCE(ca.term, cb.term) AS term,
        |COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
        |t AS (SELECT term, cnt_a, cnt_b,
        |CAST(floor(1.0e9 * CAST(cnt_a AS DOUBLE) / CAST((SELECT SUM(cnt_a) FROM ca) AS DOUBLE)) AS BIGINT) AS p_a_fp,
        |CAST(floor(1.0e9 * CAST(cnt_b AS DOUBLE) / CAST((SELECT SUM(cnt_b) FROM cb) AS DOUBLE)) AS BIGINT) AS p_b_fp FROM j),
        |g AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a, CAST(SUM(cnt_b) AS BIGINT) AS n_b,
        |CAST(SUM(CASE WHEN cnt_a > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_a,
        |CAST(SUM(CASE WHEN cnt_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_b,
        |CAST(SUM(CASE WHEN cnt_a > 0 AND cnt_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_shared,
        |CAST(SUM(abs(p_a_fp - p_b_fp)) AS BIGINT) AS tv_fp,
        |CAST(SUM(CASE WHEN cnt_b = 0 THEN cnt_a ELSE 0 END) AS BIGINT) AS oov_mass_a,
        |CAST(SUM(CASE WHEN cnt_a = 0 THEN cnt_b ELSE 0 END) AS BIGINT) AS oov_mass_b FROM t)
        |SELECT n_a, n_b, vocab_a, vocab_b, vocab_shared, tv_fp,
        |CAST(floor(1.0e9 * CAST(oov_mass_a AS DOUBLE) / CAST(n_a AS DOUBLE)) AS BIGINT) AS oov_a_fp,
        |CAST(floor(1.0e9 * CAST(oov_mass_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS BIGINT) AS oov_b_fp,
        |CAST(0 AS BIGINT) AS batch
        |FROM g""".stripMargin)),
    // stream-static enrichment: stateless dim lookup on the stream +
    // windowed agg (the always-on twin of q_join_broadcast_dims)
    Query("q_stream_static_join", (s, d) =>
      EventStreams.streamStaticJoin(s, d),
      Some("""SELECT (epoch_us(e.ts) // 900000000) * 900000000 AS window_start_us,
        |COALESCE(c.c_mktsegment, 'unknown') AS segment, COUNT(*) AS n,
        |CAST(SUM(CAST(e.value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin)))
}
