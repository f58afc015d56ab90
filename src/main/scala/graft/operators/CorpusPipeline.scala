package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-call training-data preparation facade — the corpus twin of
  * [[TableGenerator]]: hygiene → quality gate → dedup →
  * decontamination → deterministic split → context packing, each
  * stage a call into the existing operators and each individually
  * oracle-checked through its own driver query. Stages toggle off
  * independently so a pipeline can adopt them incrementally.
  *
  * Everything is deterministic (md5-bucket split, no rand()) so a
  * re-run over the same corpus reproduces the same splits and bins —
  * the replay property a 100 TB pipeline needs after a partial
  * failure.
  */
object CorpusPipeline {

  /** @param scrubPii       mask emails/long numbers in `textCol`
    * @param minQuality     drop docs scoring below this (0 = keep all)
    * @param dedupMethod    null/empty = skip; else a
    *                       [[Dedup.deduplicate]] method name
    * @param dedupThreshold similarity threshold for the dedup pass
    * @param dedupBlockingKeys blocking columns for the pair join
    * @param decontaminateAgainst benchmark docs (id, text) to exclude
    *                       near-matches of
    * @param decontaminateTau shingle-overlap fraction that counts as
    *                       contaminated
    * @param splitWeights   name → weight for the deterministic split
    *                       (empty = skip)
    * @param packBudget     token budget per packed bin, >= 1 (None = skip)
    */
  case class Config(scrubPii: Boolean = true,
                    minQuality: Double = 0.0,
                    dedupMethod: String = "jaccard",
                    dedupThreshold: Double = 0.9,
                    dedupBlockingKeys: Seq[String] = Seq("source"),
                    decontaminateAgainst: Option[DataFrame] = None,
                    decontaminateTau: Double = 0.5,
                    splitWeights: Seq[(String, Double)] =
                      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
                    packBudget: Option[Long] = None)

  def prepare(docs: DataFrame, config: Config = Config(),
              idCol: String = "doc_id", textCol: String = "text")
  : DataFrame = {
    // 1. hygiene + quality signals in ONE scan projection
    var t = docs
    if (config.scrubPii)
      t = t.withColumn(textCol, TextFunctions.scrubPii(col(textCol)))
    if (config.minQuality > 0.0)
      t = t.filter(
        TextFunctions.qualityScore(col(textCol)) >= config.minQuality)

    // 2. dedup: survivors only (pairs -> clusters -> min-id reps)
    if (config.dedupMethod != null && config.dedupMethod.nonEmpty)
      t = Dedup.deduplicate(t, config.dedupMethod, config.dedupThreshold,
        config.dedupBlockingKeys, idCol, textCol)

    // 3. benchmark decontamination: drop docs sharing >= tau of their
    //    shingles with any benchmark doc (broadcast benchmark side)
    config.decontaminateAgainst.foreach { bench =>
      val verdict = Corpus.decontaminate(t, bench, shingleN = 3,
        tau = config.decontaminateTau, idCol = idCol, textCol = textCol)
      t = t.join(verdict.filter(!col("contaminated")).select(idCol),
        Seq(idCol), "left_semi")
    }

    // 4. deterministic md5-bucket split (replay-safe, engine-stable)
    if (config.splitWeights.nonEmpty)
      t = Sampling.deterministicSplit(t, idCol, config.splitWeights)

    // 5. context-window packing on the token count (range-bucketed
    //    running sum, no global single-reducer sort).
    //    PrefixSum scans its input THREE times (quantile probe,
    //    bucket totals, final plan) — rebase the survivors on
    //    materialized partitions first (r17; the crawlPrepareScored
    //    discipline), or each scan replays the whole
    //    dedup-CC + decontaminate chain above
    config.packBudget.foreach { budget =>
      t = Sampling.packSequences(
        t.withColumn("n_tokens",
          TextFunctions.tokenCount(col(textCol)).cast("long"))
          .localCheckpoint(true),
        "n_tokens", idCol, budget = budget)
    }
    t
  }

  /** The CRAWL front half of the pipeline — the rungs that run
    * before [[prepare]]'s content stages, in their production order
    * and cost order (cheapest and highest-yield first):
    *
    *   1. URL dedup ([[Dedup.urlDedup]]) — collapse re-crawls by
    *      canonical URL; never reads the text.
    *   2. normalized-exact dedup ([[Dedup.normalizedExact]]) —
    *      case/punct/whitespace copies at hash-groupBy cost.
    *   3. line-level boilerplate removal ([[Dedup.dedupLines]]) —
    *      corpus-wide df over lines, docs REWRITTEN without their
    *      boilerplate.
    *   4. Gopher rule gate ([[Corpus.gopherRules]]) scored on the
    *      REWRITTEN text — rules fire on content, not on the nav
    *      bars stage 3 just removed.
    *
    * Every stage is a survivors semi join or a rewrite — no pair
    * joins anywhere; the only shuffles are the three keeper
    * aggregations and the line reassembly. Output: one row per
    * stage-1/2 survivor with the rewrite profile and the final keep
    * verdict (doc_id, n_lines, n_removed, n_tokens, keep). */
  def crawlPrepare(docs: DataFrame, urlCol: String = "url",
                   idCol: String = "doc_id", textCol: String = "text",
                   lineMinDf: Long = 2, minTokens: Long = 20,
                   keepText: Boolean = false): DataFrame = {
    // null hygiene up front, or rows fall through the cracks instead
    // of being GATED: a null text would vanish in dedupLines'
    // posexplode (no row, no verdict) — coalesce to "" so it flows
    // to a keep=false. Docs with no URL cannot be URL-duplicates of
    // anything — they all pass stage 1 (grouping them under one
    // null/empty canonical would silently drop all but one).
    val d = docs.withColumn(textCol, coalesce(col(textCol), lit("")))
    val hasUrl = col(urlCol).isNotNull && col(urlCol) =!= ""
    // NOT checkpointed (r18 adjudication, measured): the keeper
    // subtrees appear in several logical branches, but every copy
    // ends at the same canonicalized Exchange, so within the one
    // consuming job Spark's exchange reuse already computes the
    // aggregation ONCE (the committed q_crawl_prepare_full plan shows
    // 225 ReusedExchange nodes; task counts with / without explicit
    // keeper checkpoints were 236 vs 245). Materializing the keeper
    // sets (eager OR lazy localCheckpoint — AQE compiles the subtree
    // and submits its shuffle stages as jobs either way) added ~10
    // scheduling round-trips per query and measured strictly slower.
    val urlKeepers = Dedup.urlDedup(d.filter(hasUrl), urlCol, idCol)
      .select(col("keeper_doc_id").as(idCol))
    // survivors in ONE scan of d (r18): the former
    // `d.filter(hasUrl) ⋉ keepers UNION d.filter(!hasUrl)` replayed
    // the entire upstream subtree (blocklist gate + HTML extraction)
    // once per union branch — the no-URL branch usually holds zero
    // rows but still costs a full plan copy and a scan. A left probe
    // of the keeper set + one filter is row-equal:
    // keeper ids are unique (one min per group), so the join never
    // duplicates, no-URL rows never match a keeper and pass on the
    // !hasUrl arm, and URL rows pass iff matched — exactly the old
    // semi ∪ passthrough.
    val s1 = d.join(urlKeepers.withColumn("__url_keep", lit(true)),
        Seq(idCol), "left")
      .filter(col("__url_keep").isNotNull || !hasUrl)
      .drop("__url_keep")
    val normKeepers = Dedup.normalizedExact(s1, idCol, textCol)
      .select(col("keeper_doc_id").as(idCol))
    val s2 = s1.join(normKeepers, Seq(idCol), "left_semi")
    val lined = Dedup.dedupLines(s2, lineMinDf, idCol, textCol)
    val gated = Corpus.gopherRules(
      lined.select(col("doc_id"), col("kept_text").as("text")),
      "doc_id", "text", minTokens = minTokens)
    val out = lined.join(
      gated.select(col("doc_id"), col("n_tokens"), col("keep")),
      Seq("doc_id"))
    // kept_text rides along only when a downstream stage (the CCNet
    // scoring tail) needs the rewritten text — the verdict-only shape
    // stays narrow for callers that just gate
    if (keepText)
      out.select("doc_id", "n_lines", "n_removed", "n_tokens", "keep",
        "kept_text")
    else
      out.select("doc_id", "n_lines", "n_removed", "n_tokens", "keep")
  }

  /** The COMPLETE crawl front, stage 0 through gate — the RefinedWeb
    * §3 pipeline order end-to-end: domain blocklist (never fetches,
    * never parses — URLs only) → HTML main-text extraction
    * ([[TextFunctions.htmlExtract]] — block structure becomes line
    * structure) → [[crawlPrepare]] (URL dedup → normalized-exact
    * dedup → line-level boilerplate removal → Gopher gate). The
    * ordering is the point: extraction must precede line dedup (the
    * shared chrome every page carries — headers, footers, nav —
    * becomes high-df LINES only after tags are gone), and the
    * blocklist must precede everything (cheapest evidence first).
    * Output is [[crawlPrepare]]'s per-doc verdict row; blocked docs
    * are absent from it (they were never fetched, in the real
    * pipeline's terms). */
  def crawlPrepareFull(docs: DataFrame, blocklist: DataFrame,
                       urlCol: String = "url", idCol: String = "doc_id",
                       htmlCol: String = "html",
                       lineMinDf: Long = 2, minTokens: Long = 20,
                       blockScored: Boolean = false)
  : DataFrame = {
    val gated = blocklistFilter(docs, blocklist, urlCol)
      .filter(col("keep"))
      .drop("host", "blocked_by", "keep")
    // blockScored: the jusText rung ([[Boilerplate.htmlExtractBlocks]])
    // drops PER-DOC boilerplate (nav/footer/link farms) before the
    // corpus-wide line-dedup stage, which then only has to catch the
    // boilerplate that block evidence alone can't (site-wide repeated
    // CONTENT lines). Default stays the flat htmlExtract — the
    // oracle-equality baseline.
    val extracted =
      if (blockScored)
        Boilerplate.htmlExtractBlocks(gated, idCol, htmlCol,
            carryCols = Seq(urlCol))
          .select(col(idCol), col(urlCol),
            col("extracted").as("__crawl_text"))
      else gated.select(col(idCol), col(urlCol),
        TextFunctions.htmlExtract(col(htmlCol)).as("__crawl_text"))
    crawlPrepare(extracted, urlCol, idCol, "__crawl_text",
      lineMinDf, minTokens)
  }

  /** The crawl front for PRE-EXTRACTED text — the Common Crawl WET
    * shape (WARC-Type: conversion records carry the already-extracted
    * page text, and most LLM pipelines consume WET, not raw response
    * WARCs): the stage-0 URL blocklist gate runs exactly as in
    * [[crawlPrepareFull]], the HTML-extraction stage is skipped (the
    * payload IS the text), then [[crawlPrepare]]'s four content
    * stages. Same output contract as crawlPrepareFull. */
  def crawlPrepareText(docs: DataFrame, blocklist: DataFrame,
                       urlCol: String = "url", idCol: String = "doc_id",
                       textCol: String = "text",
                       lineMinDf: Long = 2, minTokens: Long = 20,
                       keepText: Boolean = false)
  : DataFrame = {
    val gated = blocklistFilter(docs, blocklist, urlCol)
      .filter(col("keep"))
      .drop("host", "blocked_by", "keep")
    crawlPrepare(gated, urlCol, idCol, textCol, lineMinDf, minTokens,
      keepText)
  }

  /** The crawl front COMPLETE with the CCNet scoring tail — the last
    * two stages the CCNet/RefinedWeb pipelines run after the gate:
    * language-ID on the REWRITTEN text (langid must see the text the
    * model will see, i.e. post-extraction, post-boilerplate-removal)
    * and per-language perplexity terciles (fit the unigram LM on the
    * kept corpus itself, cut each predicted language into
    * head/middle/tail). Chains [[crawlPrepareFull]]'s six stages,
    * filters to keep=true survivors, and scores only those — the
    * production order: never spend LM passes on docs the gate
    * already rejected.
    *
    * Newlines in the kept text are folded to spaces before scoring so
    * the single-line tokenizer ([[TextFunctions.tokens]], the LM's
    * convention) does not merge tokens adjoining line breaks.
    *
    * Scale shape: the gate chain is [[crawlPrepare]]'s (no pair
    * joins); the kept corpus is PERSISTED once (it feeds langid +
    * both LM passes + the group-size scan — without the persist each
    * would replay the whole crawl chain) and released when the
    * result materializes. Buckets come from
    * [[Corpus.perplexityBucketsByBoundary]] — exact per-language
    * tercile boundary scores through batched order statistics, no
    * per-language sort task. Output: (doc_id, lang_pred, n_tokens,
    * avg_tok_p, bucket) for every kept doc. */
  def crawlPrepareScored(docs: DataFrame, blocklist: DataFrame,
                         urlCol: String = "url", idCol: String = "doc_id",
                         htmlCol: String = "html",
                         lineMinDf: Long = 2, minTokens: Long = 20,
                         modelLangId: Boolean = false): DataFrame = {
    val gated = blocklistFilter(docs, blocklist, urlCol)
      .filter(col("keep"))
      .drop("host", "blocked_by", "keep")
    val extracted = gated.select(col(idCol), col(urlCol),
      TextFunctions.htmlExtract(col(htmlCol)).as("__crawl_text"))
    val verdict = crawlPrepare(extracted, urlCol, idCol, "__crawl_text",
      lineMinDf, minTokens, keepText = true)
    // localCheckpoint, NOT persist: the crawl chain's LOGICAL plan is
    // enormous (htmlExtract's regex chain + line dedup + the gopher
    // battery), and the scoring tail runs many actions over `kept`
    // (LM fit + probe, group sizes, the order-statistic narrowing
    // rounds). persist() short-circuits execution but NOT analysis —
    // Catalyst re-analyzed the full tree per action, measured ~6 s of
    // pure planning PER JOB at sf0.1, 25+ s total in the narrowing
    // loop. Eager localCheckpoint rebases the plan on the
    // materialized partitions (the Graph.connectedComponents
    // discipline); reliable checkpoint() is the flaky-executor
    // hardened variant on a real cluster.
    val marked = verdict.filter(col("keep"))
      .select(col("doc_id"),
        translate(col("kept_text"), "\n", " ").as("__text"))
      .withColumn("__marker", TextFunctions.langId(col("__text")))
      .localCheckpoint(true)
    // modelLangId = the H29 production path, BOOTSTRAPPED on the
    // marker heuristic (crawl text has no labels — the markers label
    // the fit corpus, the char-bigram model then re-predicts every
    // doc; self-training, the CLD-style deployment shape). Markers
    // stay the fallback for docs the model cannot score (<2 chars —
    // can't occur past the Gopher minTokens gate, but the contract
    // is total either way).
    val kept =
      if (!modelLangId)
        marked.withColumnRenamed("__marker", "lang_pred")
      else {
        val pred = Corpus.langIdModel(
          marked.select(col("doc_id"), col("__text"),
            col("__marker").as("lang")),
          textCol = "__text")
          .select(col("doc_id"), col("lang_pred").as("__model"))
        marked.join(pred, Seq("doc_id"), "left")
          .withColumn("lang_pred",
            coalesce(col("__model"), col("__marker")))
          .drop("__model", "__marker")
          .localCheckpoint(true) // the narrowing tail is many actions
      }
    Corpus.perplexityBucketsByBoundary(kept, "lang_pred", "doc_id",
      "__text")
  }

  /** LANDING ZONE to gated corpus, one call — the production loop a
    * crawl pipeline actually runs: drain new WARC files from
    * `warcDir` through [[graft.streaming.WarcIngest.ingestOnce]]
    * (one exactly-once trigger; files already ingested are skipped),
    * then run [[crawlPrepareFull]]'s six gate stages over the
    * CUMULATIVE record table — response records become docs with
    * `url` = WARC-Target-URI, `html` = the payload bytes as UTF-8,
    * and `doc_id` = `docId(target_uri)` (default: the URI itself —
    * the natural document key in a crawl; URL dedup then keeps the
    * MIN id per canonical URL, so a caller needing numeric ids
    * passes an extractor).
    *
    * The re-prepare is over the whole accumulated corpus, not the
    * delta, ON PURPOSE: line-level boilerplate df counts and
    * cross-wave URL/normalized dedup are corpus-global statistics —
    * a delta-only prepare would miss boilerplate that only becomes
    * frequent across waves (the incremental-dedup shape for the
    * minhash family is [[graft.streaming.IngestGate]]'s job). The
    * gate chain itself stays pair-join-free end to end. */
  def warcToCorpus(spark: org.apache.spark.sql.SparkSession,
                   warcDir: String, ingestDir: String,
                   blocklist: DataFrame,
                   docId: Column => Column = identity,
                   lineMinDf: Long = 2, minTokens: Long = 20,
                   recordType: String = "response")
  : DataFrame = {
    require(recordType == "response" || recordType == "conversion",
      s"warcToCorpus consumes response (raw WARC) or conversion (WET) " +
        s"records, got $recordType")
    graft.streaming.WarcIngest.ingestOnce(spark, warcDir, ingestDir)
    val docs = graft.streaming.WarcIngest.records(spark, ingestDir)
      .where(col("warc_type") === recordType)
      .select(docId(col("target_uri")).as("doc_id"),
        col("target_uri").as("url"),
        col("payload").cast("string").as("payload_text"))
    if (recordType == "conversion")
      // WET: the payload IS the extracted text — skip the HTML stage
      crawlPrepareText(docs.withColumnRenamed("payload_text", "text"),
        blocklist, "url", "doc_id", "text", lineMinDf, minTokens)
    else
      crawlPrepareFull(docs.withColumnRenamed("payload_text", "html"),
        blocklist, "url", "doc_id", "html", lineMinDf, minTokens)
  }

  /** How many trailing host labels [[blocklistFilter]] tries against
    * the blocklist: real hosts are < 8 labels deep, so 8 covers every
    * registrable suffix a UT1-style list contains. */
  val blocklistMaxLabels: Int = 8

  /** UT1-style domain blocklist filtering — the stage-0 URL filter a
    * crawl pipeline runs before even extracting text (RefinedWeb §3.1,
    * CCNet): a blocked domain bans itself and every subdomain.
    * `blocked_by` reports the MOST SPECIFIC (longest) matching list
    * entry; `keep` is its absence. Hosts come from
    * [[TextFunctions.urlHost]]; docs with no parseable host (null /
    * non-hierarchical URLs) pass — an unparseable URL is not evidence
    * of a blocked domain.
    *
    * Scale shape: ZERO corpus shuffles — the host's last-j-label
    * suffixes (j = 1..[[blocklistMaxLabels]]) each probe one
    * broadcast hash join against the deduplicated list (UT1 lists
    * are MBs — they broadcast; `broadcastList=false` falls back to
    * shuffle joins). The build side is distinct, so each left join
    * matches at most once and row counts never inflate; no explode,
    * no re-aggregation by doc. */
  def blocklistFilter(docs: DataFrame, blocklist: DataFrame,
                      urlCol: String = "url",
                      domainCol: String = "domain",
                      broadcastList: Boolean = true): DataFrame = {
    val list0 = blocklist
      .select(lower(col(domainCol)).as("__blocked")).distinct()
    val withHost = docs.withColumn("host",
      TextFunctions.urlHost(col(urlCol)))
    val labels = split(col("host"), "\\.")
    val js = blocklistMaxLabels to 1 by -1 // longest suffix first
    val joined = js.foldLeft(withHost) { (acc, j) =>
      val sufJ = when(size(labels) >= j,
        array_join(slice(labels, size(labels) - j + 1, lit(j)), "."))
      val listJ = list0.select(col("__blocked").as(s"__b$j"))
      acc.join(if (broadcastList) broadcast(listJ) else listJ,
        sufJ === col(s"__b$j"), "left")
    }
    joined
      .withColumn("blocked_by",
        coalesce(js.map(j => col(s"__b$j")): _*))
      .withColumn("keep", col("blocked_by").isNull)
      .drop(js.map(j => s"__b$j"): _*)
  }

  /** Text to TRAINING-READY token sequences — the last mile after the
    * crawl front and the quality gates: encode every document through
    * the real longest-match BPE encoder
    * ([[Bpe.encodeLongestMatch]]), map subwords to vocabulary ids
    * (OOV single-char fallbacks map to -1, the sentinel a downstream
    * embedding lookup must handle), then assign each document to a
    * fixed-token-budget context bin and its byte-exact offset inside
    * that bin. The output is exactly what a dataloader shards on:
    * (doc, ids, bin, offset) with Σ tokens per bin < budget + max doc
    * length.
    *
    * Scale shape: encode + id mapping are scan-stage column
    * expressions (the vocab trie compiles once per executor; the
    * id map is a broadcast literal) — zero exchanges until packing.
    * Packing is [[Sampling.packSequences]] (PrefixSum range buckets
    * — no global sort task). The only remaining window is
    * the per-bin offset sum, and a bin holds at most `budget`
    * documents (every kept doc has >= 1 token), so no window task
    * ever sees more than `budget` rows regardless of corpus size.
    *
    * Documents with zero tokens are dropped: they contribute nothing
    * to a training sequence, and keeping them would let a bin's doc
    * count grow without bound. */
  def tokenizePack(docs: DataFrame, vocab: Seq[String], budget: Long,
                   idCol: String = "doc_id", textCol: String = "text",
                   nBuckets: Int = 64): DataFrame = {
    require(vocab.nonEmpty, "tokenizePack needs a non-empty vocab")
    require(budget >= 1L, "tokenizePack needs a positive token budget")
    val idMap = map(vocab.zipWithIndex.flatMap {
      case (t, i) => Seq(lit(t), lit(i)) }: _*)
    // gate on the cheap word count, not size(__subs): the two are
    // equivalent (every word yields >= 1 subword), but a filter on
    // __subs gets predicate-pushed through the projection and makes
    // Catalyst evaluate the trie encode TWICE per row (measured in
    // the plan audit — the Filter node carried its own
    // longest_match_encode)
    // localCheckpoint before packing (r17): PrefixSum scans its input
    // three times, and each scan would otherwise re-run the trie
    // encode over every document
    val enc = docs
      .filter(size(TextFunctions.tokens(col(textCol))) >= 1)
      .withColumn("__subs", Bpe.encodeLongestMatch(col(textCol), vocab))
      .select(col(idCol),
        size(col("__subs")).cast("long").as("n_tokens"),
        array_join(
          transform(col("__subs"),
            s => coalesce(element_at(idMap, s), lit(-1)).cast("string")),
          " ").as("token_ids"))
      .localCheckpoint(true)
    val binned =
      Sampling.packSequences(enc, "n_tokens", idCol, budget, nBuckets)
    val wBin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bin_id"))
      .orderBy(col("n_tokens").desc, col(idCol).asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    binned.withColumn("bin_offset",
      (sum(col("n_tokens")).over(wBin) - col("n_tokens")).cast("long"))
  }

  /** RAW CORPUS to TRAINING EXPORT, one call — [[prepare]]'s content
    * stages (scrub → quality → dedup → decontaminate → split), then
    * the train split only through [[tokenizePack]] (real encode →
    * vocab ids → subword-budget context bins + offsets), then
    * [[Sampling.exportShards]]' content-hash shard + dense rank. The
    * output row set is exactly what [[Sampling.writeShards]] lays on
    * disk and [[Sampling.exportManifest]] summarizes — the complete
    * production last mile, hash-checked end-to-end by ONE composed
    * oracle (each stage's replay chained, the crawlPrepareFull
    * precedent).
    *
    * Packing happens HERE at the subword level (what the context
    * window actually holds), so `config.packBudget` must be unset —
    * a word-level pre-pack would assign every doc two conflicting
    * bins. The prepared plan is rebased via eager localCheckpoint
    * before the tokenize tail (the crawlPrepareScored discipline:
    * the dedup-CC + decontaminate chain re-analyzes per action
    * otherwise). */
  def prepareTrainingExport(docs: DataFrame, config: Config,
                            vocab: Seq[String], budget: Long,
                            nShards: Int, idCol: String = "doc_id",
                            textCol: String = "text",
                            nBuckets: Int = 64): DataFrame = {
    require(config.packBudget.isEmpty,
      "prepareTrainingExport packs at the subword level — leave " +
        "packBudget unset")
    require(config.splitWeights.exists(_._1 == "train"),
      "splitWeights must include a 'train' split")
    val kept = prepare(docs, config, idCol, textCol)
      .filter(col("split") === lit("train"))
      .select(col(idCol), col(textCol))
      .localCheckpoint(true)
    Sampling.exportShards(
      tokenizePack(kept, vocab, budget, idCol, textCol, nBuckets),
      idCol, nShards)
  }
}
