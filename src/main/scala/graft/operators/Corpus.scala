package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level statistics for the training-data pipeline: vocabulary
  * / document-frequency tables and length profiles. One explode +
  * one map-side-combined aggregation each — the shuffle carries
  * |vocab| partial counts, not tokens.
  */
object Corpus {

  /** Document frequency per distinct token (the table behind prefix
    * filtering, idf weighting, and stopword discovery). */
  def tokenDf(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextFunctions.tokenSet(col(textCol))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("df"))

  /** EXACT heavy hitters — every token whose instance count strictly
    * exceeds N/k (total instances over k) — found WITHOUT ever
    * shuffling the vocabulary. The naive form (groupBy token, filter)
    * shuffles |vocab| partial counts, and web-scale vocabularies are
    * unbounded (hapax-heavy); this is the two-pass sketch-then-verify
    * shape instead:
    *
    *  1. CANDIDATES: a per-partition Misra–Gries summary (Misra &
    *     Gries 1982) with k−1 counters over the token stream —
    *     mapPartitions, genuinely imperative per-partition state, the
    *     legitimate RDD-ish case. MG guarantees per partition that
    *     any token is undercounted by at most N_p/k; summing the
    *     guarantee over partitions: a token dropped from EVERY
    *     summary has f_p ≤ N_p/k everywhere, so f ≤ N/k — i.e. the
    *     union of partition summaries is a SUPERSET of the true heavy
    *     hitters, at most tasks·(k−1) candidate rows total.
    *  2. CONFIRM: broadcast the deduplicated candidates, left-semi
    *     the token stream against them, and count EXACTLY — a
    *     map-side-combined aggregation over ≤ tasks·(k−1) keys. The
    *     integer filter cnt·k > N clears the false positives.
    *
    * The candidate SET depends on partition layout; the OUTPUT never
    * does (superset + exact confirm — spec-pinned across layouts) and
    * equals the plain groupBy-and-filter bit-for-bit. Output:
    * (token, cnt, n_total, freq) with freq = cnt/N, one IEEE
    * division. Cost: two scans of the text (sketch, confirm) plus a
    * cheap per-doc size scan for N; shuffle volume is O(candidates),
    * corpus- and vocabulary-size-independent. */
  def heavyHitters(docs: DataFrame, k: Int, textCol: String = "text")
  : DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val candidates = tok.as[String].mapPartitions(mgCandidates(k))
      .toDF("tok").distinct()
    val total = docs.select(
      sum(coalesce(size(TextFunctions.tokens(col(textCol))), lit(0)))
        .cast("long").as("n_total"))
    tok.join(broadcast(candidates), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("n_total"))
      .select(col("tok").as("token"), col("cnt"), col("n_total"),
        (col("cnt").cast("double") / col("n_total")).as("freq"))
  }

  /** One Misra–Gries pass over a partition's token stream: k−1
    * counters; an unseen token with all counters full decrements
    * every counter instead (amortized O(1) per token — each
    * decrement event pays down k tokens' worth of arrivals). Emits
    * the surviving counter KEYS; estimates are discarded because the
    * confirm pass recounts exactly. */
  private[operators] def mgCandidates(k: Int)(it: Iterator[String])
  : Iterator[String] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val t = it.next()
      counters.get(t) match {
        case Some(c) => counters.update(t, c + 1)
        case None if counters.size < k - 1 => counters.update(t, 1L)
        case None =>
          counters.mapValuesInPlace((_, c) => c - 1)
          counters.filterInPlace((_, c) => c > 0)
      }
    }
    counters.keysIterator
  }

  /** Top-k characteristic terms per document, ranked by
    * (tf desc, df asc, token asc) — the tf-idf ordering without a
    * float idf: for fixed tf, rarer (lower-df) terms win, which is
    * exactly idf's tie-break, and integer ranks stay bit-stable
    * across engines (ln() is libm-dependent). Two map-side-combined
    * aggregations + one window; the df table joins on token
    * (broadcast when vocab is bounded, shuffle otherwise — AQE
    * decides from size stats). */
  def tfIdfTopTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    // tf feeds both the df aggregation and the final join — persist
    // the compact (doc, tok, tf) table and materialize it eagerly so
    // the corpus is tokenized once, not once per branch (at 100 TB
    // this is the checkpoint of the term-frequency table)
    val tf = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tf.count()
    val df_ = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
    CacheOps.materializeAndRelease(
      tf.join(df_, "tok")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col(idCol), col("rank"), col("tok"), col("tf"), col("df")),
      tf)
  }

  /** Corpus bigram counts (adjacent token pairs) — the n-gram LM /
    * collocation table. Explode + one combined count; the shuffle
    * carries |distinct bigrams| partials. */
  def bigramCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextFunctions.shingles(
        TextFunctions.tokens(col(textCol)), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))

  /** COLLOCATION mining (Church & Hanks 1990 — pointwise mutual
    * information over adjacent token pairs): surface the phrases
    * ("new york", "machine learning") whose parts occur together far
    * beyond chance — the classic corpus-analysis pass behind phrase
    * vocabularies, tokenizer seed phrases, and query suggestion.
    * PMI = log p(ab)/(p(a)·p(b)) is MONOTONE in the ratio
    * cnt_ab·N_uni²/(N_bi·cnt_a·cnt_b), so the log never needs to be
    * taken: pmi_fp = floor(1e6·that ratio) through one fixed IEEE
    * tree (every factor cast to double BEFORE multiplying — long
    * products of corpus-scale counts would overflow; doubles span
    * the range and the fixed tree keeps the quantized rank
    * engine-exact). `minCount` is Church & Hanks' guard: PMI
    * explodes on hapax pairs (cnt 1 of two hapax words maxes the
    * ratio), so rare pairs are excluded before ranking, not after.
    *
    * Scale shape: pair counts = one zip_with scan + one
    * map-side-combined aggregation (bigram-TYPE-sized output);
    * unigram marginals join back keyed on the word — vocab-sized
    * equi-joins (NOT broadcast: web vocab is unbounded, both sides
    * shuffle once on the term key); totals ride 1-row broadcasts;
    * top-k = TakeOrderedAndProject.
    *
    * @return top-k (a, b, cnt_pair, cnt_a, cnt_b, pmi_fp) by
    *         (pmi_fp desc, a, b)
    */
  def collocations(docs: DataFrame, minCount: Long = 5L, k: Int = 30,
                   textCol: String = "text"): DataFrame = {
    val toks = docs.select(TextFunctions.tokens(col(textCol)).as("t"))
    val n = greatest(size(col("t")) - 1, lit(0))
    val pairs = toks.select(explode(zip_with(
        slice(col("t"), lit(1), n), slice(col("t"), lit(2), n),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).cast("long").as("cnt_pair"))
    val uni = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).cast("long").as("cnt"))
    val nUni = uni.agg(sum(col("cnt")).cast("long").as("n_uni"))
    val nBi = pairs.agg(sum(col("cnt_pair")).cast("long").as("n_bi"))
    def d(c: Column) = c.cast("double")
    pairs.filter(col("cnt_pair") >= minCount)
      .join(uni.select(col("tok").as("a"), col("cnt").as("cnt_a")), "a")
      .join(uni.select(col("tok").as("b"), col("cnt").as("cnt_b")), "b")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("a"), col("b"), col("cnt_pair"), col("cnt_a"),
        col("cnt_b"),
        floor(
          (lit(1.0e6) * d(col("cnt_pair")) * d(col("n_uni")) *
            d(col("n_uni"))) /
          (d(col("n_bi")) * d(col("cnt_a")) * d(col("cnt_b"))))
          .cast("long").as("pmi_fp"))
      .orderBy(col("pmi_fp").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Benchmark decontamination: flag corpus documents whose distinct
    * word n-grams overlap a benchmark set by >= tau.
    *
    * The benchmark's distinct shingle set is small (eval suites are
    * KBs–MBs, the corpus is the 100 TB side) — broadcast it; the
    * corpus side is one explode + one broadcast-hash semi-count +
    * one groupBy, no shuffle of text. Output: one row per corpus doc
    * with its distinct-shingle count, overlap count, and flag.
    *
    * `broadcastBench=false` is the shape for a benchmark side too
    * big for a broadcast hash relation (a full eval-suite UNION —
    * hundreds of benchmarks' worth of shingles): the corpus shingle
    * stream is prefiltered through a driver-bounded bloom sketch of
    * the benchmark shingles ([[Joins.bloomPrefilter]] — no false
    * negatives, so no overlap is ever missed), then the surviving
    * sliver takes an exact SHUFFLE_HASH join that clears the false
    * positives. Only ~the matching fraction of the 100 TB side ever
    * enters an exchange; output is bit-identical to the broadcast
    * path, so both share one oracle. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, shingleN: Int,
                    tau: Double, idCol: String = "doc_id",
                    textCol: String = "text",
                    broadcastBench: Boolean = true): DataFrame = {
    def sh(c: Column) = array_distinct(
      TextFunctions.shingles(TextFunctions.tokens(c), shingleN))
    val benchSh = benchmark
      .select(explode(sh(col(textCol))).as("sh")).distinct()
    // tokenize+shingle the (big) corpus side ONCE: the cached
    // (id, shingles) table feeds both the overlap count and the
    // per-doc totals, instead of re-deriving shingles per branch
    val corpSets = corpus.select(col(idCol), sh(col(textCol)).as("shs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpSets.count()
    val corpSh = corpSets.select(col(idCol), explode(col("shs")).as("sh"))
    // bloom path: the sketch-build action and the exact join both
    // consume the bench shingle table — persist it or the bench
    // tokenize/shingle/distinct pipeline runs twice (the same CSE
    // discipline as corpSets above, small side or not)
    val benchCached =
      if (broadcastBench) Seq.empty[DataFrame]
      else {
        // no eager count: bloomPrefilter's sketch-build action (the
        // .head) is the first consumer and populates the cache; the
        // exact join then reads it — one fewer job than count-first
        Seq(benchSh
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      }
    val matched =
      if (broadcastBench) corpSh.join(broadcast(benchSh), "sh")
      else Joins.bloomPrefilter(corpSh, benchCached.head, Seq("sh" -> "sh"))
        .hint("SHUFFLE_HASH").join(benchCached.head.hint("SHUFFLE_HASH"), "sh")
    val overlap = matched
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    CacheOps.materializeAndRelease(
      corpSets.select(col(idCol),
          size(col("shs")).cast("long").as("n_shingles"))
        .join(overlap, Seq(idCol), "left")
        .na.fill(0L, Seq("n_overlap"))
        .withColumn("contaminated",
          col("n_overlap").cast("double") /
            greatest(col("n_shingles"), lit(1L)) >= tau),
      corpSets +: benchCached: _*)
  }

  /** Per-document repetition profile (the Gopher-style repetition
    * quality gate): duplicate-line ratio, duplicate-token ratio, and
    * the fraction of all bigrams taken by the single most frequent
    * bigram. The per-row ratios are pure column expressions in the
    * scan; the top-bigram fraction is explode + two map-side-combined
    * aggregations (the shuffle carries (doc, bigram) partial counts,
    * never text). Docs with <2 tokens have no bigrams → fraction 0.
    * `repetitive` flags docs over any threshold — the rows a
    * training-data pipeline drops. */
  def repetitionProfile(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        maxDupLine: Double = 0.30,
                        maxTopBigram: Double = 0.18): DataFrame = {
    val perRow = docs.select(col(idCol),
      TextFunctions.dupLineRatio(col(textCol)).as("dup_line_ratio"),
      TextFunctions.dupTokenRatio(col(textCol)).as("dup_tok_ratio"))
    val bigram = docs
      .select(col(idCol), explode(TextFunctions.shingles(
        TextFunctions.tokens(col(textCol)), 2)).as("bigram"))
      .groupBy(col(idCol), col("bigram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col(idCol))
      .agg((max(col("n")).cast("double") / sum(col("n")))
        .as("top_bigram_frac"))
    perRow.join(bigram, Seq(idCol), "left")
      .na.fill(0.0, Seq("top_bigram_frac"))
      .withColumn("repetitive",
        col("dup_line_ratio") > maxDupLine ||
          col("top_bigram_frac") > maxTopBigram)
  }

  /** Context-window chunking: split each document's token sequence
    * into fixed-size chunks every `stride` tokens (overlapping when
    * stride < size — the training-time sliding context). One
    * sequence+explode per doc (fan-out = ceil(n/stride)) followed by
    * a codegen'd slice+join — no shuffle at all; the chunker runs
    * inside the same scan stage as tokenization, which is what lets
    * it stream over 100 TB. Output: (id, chunk_idx, chunk_len,
    * chunk_text); empty docs produce no chunks. */
  def chunkTokens(docs: DataFrame, size: Int, stride: Int,
                  idCol: String = "doc_id", textCol: String = "text")
  : DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    docs.select(col(idCol),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", org.apache.spark.sql.functions.size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0), col("__n") - 1, lit(stride))).as("__start"))
      .select(col(idCol),
        (col("__start") / lit(stride)).cast("long").as("chunk_idx"),
        least(lit(size), col("__n") - col("__start")).cast("long")
          .as("chunk_len"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(size)), " ")
          .as("chunk_text"))
  }

  /** Unigram-LM quality scoring — the fit-then-transform shape of
    * the CCNet/KenLM perplexity filter, with an exact-arithmetic
    * score. FIT: one pass counts every token over the corpus (the
    * language model). TRANSFORM: each document is scored by its mean
    * token probability sum(tf·cnt) / (n_doc_tokens · total_tokens)
    * — a document of common tokens scores high, one of rare/garbled
    * tokens scores low — plus its hapax rate (fraction of token
    * instances whose corpus count is 1, the "never seen elsewhere"
    * tail). Both scores are a single IEEE division over exact long
    * integrals, so results hash-match across engines (no
    * order-dependent float summation, no log).
    *
    * Scale shape: the model is the token-count table — broadcast
    * here (raw-token vocab is MBs even at web scale after a min-df
    * floor); set broadcastModel=false to fall back to a shuffle join
    * when the vocabulary genuinely can't broadcast (that path
    * shuffles token instances — pre-aggregate (doc, tok, tf) first
    * if you take it at scale). The corpus-side work is one explode
    * + two map-side-combined aggregations.
    * Documents with zero tokens have no defined mean and are not
    * emitted. Note: p_num = Σ tf·cnt stays exact in a long up to
    * ~9e18; at extreme corpus sizes the double cast rounds, equally
    * in any engine. */
  def lmScore(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              broadcastModel: Boolean = true): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    // total token instances ride ON the count table via a ONE-ROW
    // broadcast cross join against the same aggregation — exchange
    // reuse dedupes the vocab shuffle, so tokenize still runs once
    // (plan-guarded). The former global window over the count table
    // was the r12-scorer killer shape in miniature: vocab is
    // UNBOUNDED on web text (hapax-heavy), so "ride the total via
    // Window.partitionBy()" funnels every vocab row through one task
    val counts = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).cast("long").as("total"))
    val withTotal = counts.crossJoin(broadcast(totals))
    val model = if (broadcastModel) broadcast(withTotal) else withTotal
    // probe per token INSTANCE — a (doc, tok, tf) pre-aggregation
    // would full-shuffle the token stream to save broadcast-probe
    // work that costs nothing; the per-instance integer sums below
    // (Σ cnt ≡ Σ tf·cnt, Σ [cnt=1] ≡ Σ tf·[cnt=1]) are exactly the
    // grouped ones, and the per-doc aggregation compresses map-side
    tok.join(model, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("cnt")).cast("long").as("p_num"),
        sum(when(col("cnt") === 1L, lit(1L)).otherwise(lit(0L)))
          .cast("long").as("hapax"),
        max(col("total")).cast("long").as("total"))
      .select(col("doc_id"), col("n_tokens"),
        (col("p_num").cast("double") /
          (col("n_tokens") * col("total")).cast("double")).as("avg_tok_p"),
        (col("hapax").cast("double") / col("n_tokens").cast("double"))
          .as("hapax_frac"))
  }

  /** Bigram LM scoring with stupid backoff (Brants et al. 2007) —
    * the fit-on-target, score-the-crawl shape of the CCNet/KenLM
    * perplexity filter, one order up from [[lmScore]]'s unigram
    * model. FIT (over `fitDocs`, normally the curated target slice —
    * NOT the corpus being scored, which is what makes backoff
    * meaningful): unigram counts, total token instances, and bigram
    * counts with each bigram's left-word count riding on the model
    * row. TRANSFORM (over `scoreDocs`): every adjacent token pair
    * scores floor(1e6·cnt(w1w2)/cnt(w1)) ticks when the bigram was
    * seen, else the backoff floor(0.4·1e6·cnt(w2)/total), else 0 for
    * out-of-vocabulary w2 — raw conditional frequencies with the
    * fixed 0.4 backoff factor, no log/libm, the exact double tree
    * mirrored by the oracle. Per doc: pair count, exact long tick
    * sum, backoff (unseen-bigram) count, and the mean as ONE IEEE
    * division. Docs with < 2 tokens have no pairs and are not
    * emitted (the [[lmScore]] zero-token contract).
    *
    * Scale shape: fit is two scans of the (small) target slice into
    * count tables; scoring is one explode + two equi-joins + one
    * map-side-combined aggregation. The bigram model broadcasts when
    * the target slice is curated-corpus-sized (MBs–GBs of distinct
    * bigrams — the CCNet case, default); set broadcastModel=false to
    * shuffle-join on the bigram key when fitting against something
    * web-scale. */
  def bigramLmScore(fitDocs: DataFrame, scoreDocs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    broadcastModel: Boolean = true): DataFrame = {
    // persisted: the unigram table feeds THREE consumers (totals,
    // the bigram model's cnt_w1 join, the backoff model) — each
    // builds its own broadcast job, so without the cache the fit
    // corpus would be tokenized three times. Vocab-sized, released
    // by materializeAndRelease below (the qualityClassifier pattern)
    val uni = fitDocs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).cast("long").as("cnt_w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = uni.agg(sum(col("cnt_w")).cast("long").as("total"))
    // attach cnt(w1) to each bigram model row — tokens cannot contain
    // the space separator, so the split back into words is unambiguous
    val bgModel0 = fitDocs
      .select(explode(TextFunctions.shingles(
        TextFunctions.tokens(col(textCol)), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).cast("long").as("cnt_bg"))
      .withColumn("__w1", split(col("bigram"), " ").getItem(0))
      .join(uni.withColumnRenamed("tok", "__w1")
        .withColumnRenamed("cnt_w", "cnt_w1"), "__w1")
      .select("bigram", "cnt_bg", "cnt_w1")
    val bgModel = if (broadcastModel) broadcast(bgModel0) else bgModel0
    val uniModel0 = uni.withColumnRenamed("tok", "__w2")
      .withColumnRenamed("cnt_w", "cnt_w2")
    val uniModel = if (broadcastModel) broadcast(uniModel0) else uniModel0
    // per-pair ticks: each factor cast to double BEFORE the divide —
    // the same overflow-safe fixed tree as qualityClassifier, floored
    // to 1e-6 ticks so per-doc sums are order-independent longs
    val tick = when(col("cnt_bg").isNotNull,
        floor(lit(1000000.0) * col("cnt_bg").cast("double") /
          col("cnt_w1").cast("double")).cast("long"))
      .when(col("cnt_w2").isNotNull,
        floor(lit(400000.0) * col("cnt_w2").cast("double") /
          col("total").cast("double")).cast("long"))
      .otherwise(lit(0L))
    CacheOps.materializeAndRelease(
      scoreDocs
        .select(col(idCol).as("doc_id"),
          explode(TextFunctions.shingles(
            TextFunctions.tokens(col(textCol)), 2)).as("bigram"))
        .join(bgModel, Seq("bigram"), "left")
        .withColumn("__w2", split(col("bigram"), " ").getItem(1))
        .join(uniModel, Seq("__w2"), "left")
        .crossJoin(broadcast(totals))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          sum(tick).cast("long").as("score_fp"),
          sum(when(col("cnt_bg").isNull, lit(1L)).otherwise(lit(0L)))
            .cast("long").as("n_backoff"))
        .withColumn("avg_bigram_p",
          col("score_fp").cast("double") / col("n_bigrams").cast("double")),
      uni)
  }

  /** Interpolated Kneser-Ney trigram LM scoring (Kneser & Ney 1995;
    * Chen & Goodman 1998 interpolated form) — the scorer a
    * CCNet/KenLM-replica pipeline reaches for one order above
    * [[bigramLmScore]]'s stupid backoff. FIT (over `fitDocs`): ONE
    * trigram-type table `tri(w1,w2,w3,cnt)`; every lower-order
    * statistic is DERIVED from it (KenLM's adjusted-count
    * discipline — lower orders count continuation TYPES, not raw
    * occurrences):
    *   - context (w1 w2): c2 = Σ cnt (so the top order normalizes
    *     exactly), n3f = |{w3}| distinct followers;
    *   - middle order (w2): ccmid = |{(w1,w3)}| trigram types
    *     through w2, n2f = |{w3}| distinct followers of w2;
    *   - adjusted bigram (w2 w3): cc3 = |{w1}| distinct predecessors
    *     (the continuation count N1+(·w2w3));
    *   - unigram (w3): cc1 = |{w2}| distinct predecessors over
    *     adjusted bigram types; bg_types = total adjusted bigram
    *     types (so the unigram level normalizes exactly).
    * TRANSFORM (over `scoreDocs`), per trigram instance, with the
    * discount D = 0.75 (= 3/4, EXACT in binary — the arithmetic
    * stays an exact rational tree until the final floor):
    *   p1 = cc1/bg_types                      (0 for OOV w3)
    *   p2 = max(cc3−D,0)/ccmid + ((D·n2f)/ccmid)·p1   (p1 if w2 unseen)
    *   p3 = max(cnt−D,0)/c2  + ((D·n3f)/c2)·p2        (p2 if ctx unseen)
    * Each level is a FIXED IEEE double tree (counts ≤ 2^53 are exact
    * doubles; +,−,×,/ are correctly rounded, so any engine replaying
    * the same nesting gets the same bits — the bm25TopK discipline),
    * floored to 1e-9 ticks; tick longs sum exactly in any order. Per
    * doc: trigram count, tick sum, unseen-context count, OOV count,
    * and the mean as ONE division. Docs with < 3 tokens emit nothing
    * (the [[bigramLmScore]] short-doc contract).
    *
    * Scale shape: fit is one scan of the (small) target slice into a
    * trigram-type table plus four SMALL derived aggregations (all
    * over types, not instances); scoring is one explode + five
    * broadcast hash probes inside the scan stage + one
    * map-side-combined aggregation — the only corpus-keyed shuffle.
    * Set broadcastModel=false to shuffle-join instead when fitting
    * against something web-scale. */
  def trigramLmScore(fitDocs: DataFrame, scoreDocs: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text",
                     broadcastModel: Boolean = true): DataFrame = {
    val D = 0.75 // = 3/4, exactly representable; max(c-D,0) never
                 // rounds: integer-c minus 0.75 is exact for c < 2^51
    // persisted: the trigram-type table feeds FIVE derived model
    // tables — without the cache the fit corpus would be tokenized
    // five times. Type-table-sized (vocab^3 bounded by corpus), and
    // released by materializeAndRelease below
    val tri = fitDocs
      .select(explode(TextFunctions.shingles(
        TextFunctions.tokens(col(textCol)), 3)).as("trigram"))
      .groupBy("trigram").agg(count(lit(1)).cast("long").as("cnt_t3"))
      .withColumn("__p", split(col("trigram"), " "))
      .select(col("trigram"), col("cnt_t3"),
        col("__p").getItem(0).as("w1"), col("__p").getItem(1).as("w2"),
        col("__p").getItem(2).as("w3"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // tri rows are DISTINCT (w1,w2,w3) types, so within any group a
    // plain count(*) IS the distinct-type count
    val ctx = tri.groupBy(concat_ws(" ", col("w1"), col("w2")).as("__ctx"))
      .agg(sum(col("cnt_t3")).cast("long").as("c2"),
        count(lit(1)).cast("long").as("n3f"))
    val cc3t = tri.groupBy(concat_ws(" ", col("w2"), col("w3")).as("__w2w3"))
      .agg(count(lit(1)).cast("long").as("cc3"))
    val mid = tri.groupBy(col("w2").as("__w2"))
      .agg(count(lit(1)).cast("long").as("ccmid"),
        countDistinct(col("w3")).cast("long").as("n2f"))
    val uniC = cc3t
      .groupBy(split(col("__w2w3"), " ").getItem(1).as("__w3"))
      .agg(count(lit(1)).cast("long").as("cc1"))
    val totals = cc3t.agg(count(lit(1)).cast("long").as("bg_types"))
    val triM0 = tri.select("trigram", "cnt_t3")
    def m(df: DataFrame) = if (broadcastModel) broadcast(df) else df
    // the three per-order trees, each a fixed nesting mirrored
    // token-for-token by the oracle CTE chain (p1 → p2 → p3)
    val p1 = when(col("cc1").isNotNull,
        col("cc1").cast("double") / col("bg_types").cast("double"))
      .otherwise(lit(0.0))
    val p2 = when(col("ccmid").isNotNull,
        when(col("cc3").isNotNull,
            greatest(col("cc3").cast("double") - lit(D), lit(0.0)))
          .otherwise(lit(0.0)) / col("ccmid").cast("double") +
          ((lit(D) * col("n2f").cast("double")) /
            col("ccmid").cast("double")) * col("__p1"))
      .otherwise(col("__p1"))
    val p3 = when(col("c2").isNotNull,
        when(col("cnt_t3").isNotNull,
            greatest(col("cnt_t3").cast("double") - lit(D), lit(0.0)))
          .otherwise(lit(0.0)) / col("c2").cast("double") +
          ((lit(D) * col("n3f").cast("double")) /
            col("c2").cast("double")) * col("__p2"))
      .otherwise(col("__p2"))
    CacheOps.materializeAndRelease(
      scoreDocs
        .select(col(idCol).as("doc_id"),
          explode(TextFunctions.shingles(
            TextFunctions.tokens(col(textCol)), 3)).as("trigram"))
        .withColumn("__s", split(col("trigram"), " "))
        .withColumn("__ctx",
          concat_ws(" ", col("__s").getItem(0), col("__s").getItem(1)))
        .withColumn("__w2w3",
          concat_ws(" ", col("__s").getItem(1), col("__s").getItem(2)))
        .withColumn("__w2", col("__s").getItem(1))
        .withColumn("__w3", col("__s").getItem(2))
        .join(m(triM0), Seq("trigram"), "left")
        .join(m(ctx), Seq("__ctx"), "left")
        .join(m(cc3t), Seq("__w2w3"), "left")
        .join(m(mid), Seq("__w2"), "left")
        .join(m(uniC), Seq("__w3"), "left")
        .crossJoin(broadcast(totals))
        .withColumn("__p1", p1)
        .withColumn("__p2", p2)
        .withColumn("__p3", p3)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_trigrams"),
          sum(floor(lit(1000000000.0) * col("__p3")).cast("long"))
            .cast("long").as("score_fp"),
          sum(when(col("c2").isNull, lit(1L)).otherwise(lit(0L)))
            .cast("long").as("n_ctx_backoff"),
          sum(when(col("cc1").isNull, lit(1L)).otherwise(lit(0L)))
            .cast("long").as("n_oov"))
        .withColumn("avg_trigram_p",
          col("score_fp").cast("double") / col("n_trigrams").cast("double")),
      tri)
  }

  /** Gopher-style document quality rules (Rae et al. 2021, Table A1
    * shape): per-document word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (# and ... marks), bullet-start and
    * ellipsis-end line fractions, fraction of words containing an
    * alphabetic character, and a required-stopword presence count —
    * `keep` is the conjunction. Pure column expressions over one scan
    * (no shuffle, no UDF): the rule set runs inside the same stage as
    * tokenization, which is what lets a 100 TB crawl be gated at read
    * throughput. Every ratio is ONE IEEE division over exact integer
    * counts (engine-portable); the '...' count uses non-overlapping
    * left-to-right matching, identical to plain substring replace. */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  minTokens: Long = 50, maxTokens: Long = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8,
                  minStopHits: Int = 2,
                  keepCols: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    // multiline tokenizer: the gate runs on multiline text
    // (crawlPrepare feeds it line-dedup'd docs) and a space-only
    // split would merge the tokens adjoining every line break
    val toks = TextFunctions.tokensMultiline(t)
    val lines = filter(split(t, "\n"), l => l =!= lit(""))
    val nTok = size(toks).cast("long")
    val nLines = size(lines).cast("long")
    // exact integer counts; each ratio below is a single division
    val charSum = aggregate(toks, lit(0L), (acc, x) => acc + length(x))
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val nEllipsis =
      ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3)
        .cast("long")
    val nBullet = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") ||
        l.startsWith("• "))).cast("long")
    val nEllipsisEnd = size(filter(lines, l => l.endsWith("..."))).cast("long")
    val nAlpha = size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("long")
    val stopHits = size(array_intersect(
      array_distinct(transform(toks, x => lower(x))),
      array(RequiredStopwords.map(lit): _*))).cast("long")
    def ratio(num: Column) =
      num.cast("double") / greatest(nTok, lit(1L)).cast("double")
    // keepCols ride the same projection (zero-join passthrough — the
    // quality gate smuggles its scan-stage langid prediction here)
    docs.select((Seq(col(idCol), nTok.as("n_tokens"),
        ratio(charSum).as("mean_tok_len"),
        ratio(nHash + nEllipsis).as("symbol_ratio"),
        (nBullet.cast("double") / greatest(nLines, lit(1L)).cast("double"))
          .as("bullet_frac"),
        (nEllipsisEnd.cast("double") / greatest(nLines, lit(1L)).cast("double"))
          .as("ellipsis_frac"),
        ratio(nAlpha).as("alpha_tok_frac"),
        stopHits.as("n_stop_hits")) ++ keepCols.map(col)): _*)
      .withColumn("keep",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
          col("mean_tok_len") >= minMeanLen &&
          col("mean_tok_len") <= maxMeanLen &&
          col("symbol_ratio") < maxSymbolRatio &&
          col("bullet_frac") < maxBulletFrac &&
          col("ellipsis_frac") < maxEllipsisFrac &&
          col("alpha_tok_frac") > minAlphaFrac &&
          col("n_stop_hits") >= minStopHits)
  }

  /** The Gopher required-stopword list (Rae et al. 2021 §A1.1: a doc
    * must contain >= 2 of these to pass the rule gate). */
  private val RequiredStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "is")

  /** BM25 top-k retrieval over the corpus — term-at-a-time scoring on
    * the inverted index, with FIXED-POINT per-term contributions so
    * results hash-match across engines. Floating sums are
    * order-dependent (a+b+c reassociates across partitions); instead
    * each (query term, doc) contribution is computed as a double with
    * a FIXED expression tree — IEEE ops are individually correctly
    * rounded, so any engine evaluating the same tree gets the same
    * bits — then floored to a scaled long (1e6 ticks). Longs sum
    * exactly in any order; `score_fp` is the ranking key with
    * (doc_id) tie-break. idf is the raw Robertson odds
    * (N − df + 0.5)/(df + 0.5) rather than its log: log is
    * libm-dependent (not correctly rounded), the odds ratio is one
    * subtraction and one division. Monotone per term in df, the
    * standard saturation in tf.
    *
    * Scale shape: queries are the tiny side — their distinct terms
    * broadcast onto the (doc, term, tf) inverted index (a hash probe
    * inside the scan stage, no corpus shuffle); df and the 1-row
    * corpus stats broadcast the same way; the only corpus-keyed
    * shuffle is the (query, doc) partial-sum aggregation, and the
    * final top-k window partitions by query. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text",
               queryIdCol: String = "query_id",
               queryTextCol: String = "query_text"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tf.count() // tokenize once: tf feeds df, dl, stats, and the probe
    val dfTab = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).cast("long").as("total_tokens"))
    val qTerms = queries.select(col(queryIdCol).as("query_id"),
      explode(TextFunctions.tokenSet(col(queryTextCol))).as("tok"))
    // fixed expression tree — mirrored token-for-token in the oracle
    val avgdl = col("total_tokens").cast("double") / col("n_docs").cast("double")
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val tfn = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / avgdl)))
    val contrib = floor(lit(1000000.0) * (idf * tfn)).cast("long")
    // attach df to the query terms FIRST: |qdf| = |query terms|, so
    // the corpus probe broadcasts one tiny table — broadcasting dfTab
    // itself would ship the full vocabulary
    val qdf = qTerms.join(dfTab, "tok")
    val scored = tf.join(broadcast(qdf), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), contrib.as("contrib_fp"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib_fp")).as("score_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
    CacheOps.materializeAndRelease(
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("doc_id"), col("score_fp")),
      tf)
  }

  /** Corpus length profile per grouping key: docs, total/mean token
    * counts — the cheap first look at a new 100 TB crawl. */
  def lengthProfile(docs: DataFrame, keys: Seq[String],
                    textCol: String = "text"): DataFrame =
    docs.select((keys.map(col) :+
        TextFunctions.tokenCount(col(textCol)).cast("long").as("__n")): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("total_tokens"),
        (sum(col("__n")).cast("double") / count(col("__n"))).as("mean_tokens"))

  /** Quality-classifier scoring — the GPT-3/PaLM "looks like the
    * curated set" filter as a fit-then-transform pair, with the same
    * engine-portable arithmetic as [[bm25TopK]]. FIT: one tokenize
    * pass counts each token's instances in the positive class
    * (`posExpr` true — e.g. the curated sources) and the negative
    * class; class totals and the vocabulary size ride ON the model
    * rows via a global window (no third corpus pass). TRANSFORM: each
    * token contributes tf × the Laplace-smoothed class odds
    * (cnt_pos+1)(tot_neg+V) / (cnt_neg+1)(tot_pos+V) — the naive-
    * Bayes likelihood ratio with the odds kept raw instead of logged
    * (log is libm-dependent; the ratio is two multiplies and a
    * divide), floored to 1e-6 fixed-point ticks so per-doc sums are
    * exact longs in any order. `keep` = mean odds ≥ 1, i.e. the doc's
    * tokens look more positive-class than negative-class on average.
    *
    * Scale shape: the model is the per-token count table — broadcast
    * by default (vocab is MBs after a min-df floor even at web
    * scale), shuffle-join fallback via broadcastModel=false. Corpus
    * work is one explode + two map-side-combined aggregations + the
    * model probe; zero-token docs are not emitted (no defined mean).
    * Null posExpr rows count as negative. */
  def qualityClassifier(docs: DataFrame, posExpr: Column,
                        idCol: String = "doc_id", textCol: String = "text",
                        broadcastModel: Boolean = true): DataFrame = {
    // instance-level token table, NOT a (doc, tok, tf) pre-
    // aggregation: both consumers compress map-side anyway (the fit
    // to |vocab| partials, the per-doc score to |docs| partials), so
    // the (doc, tok) groupBy would be a full shuffle bought only to
    // make the broadcast hash probe marginally cheaper — and
    // Σ tf·tick ≡ Σ per-instance tick exactly (integer arithmetic)
    val inst = docs
      .select(col(idCol).as("doc_id"),
        coalesce(posExpr, lit(false)).as("is_pos"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    inst.count() // tokenize once: feeds the model fit AND the probe
    // totals + vocab ride on the model rows via a one-row broadcast
    // cross join (exchange-reused) — the same de-windowing as
    // lmScore: the vocab table is unbounded, a global window over it
    // is a single-task funnel at web scale
    val counts = inst.groupBy("tok")
      .agg(sum(when(col("is_pos"), lit(1L)).otherwise(lit(0L)))
          .cast("long").as("cnt_pos"),
        sum(when(!col("is_pos"), lit(1L)).otherwise(lit(0L)))
          .cast("long").as("cnt_neg"))
    val totals = counts.agg(
      sum(col("cnt_pos")).cast("long").as("tot_pos"),
      sum(col("cnt_neg")).cast("long").as("tot_neg"),
      count(lit(1)).cast("long").as("vocab"))
    val withTotals = counts.crossJoin(broadcast(totals))
    val model = if (broadcastModel) broadcast(withTotals) else withTotals
    // fixed double tree over exact longs (each factor cast to double
    // BEFORE multiplying — the long product could overflow at web
    // scale, the double one cannot), mirrored token-for-token by the
    // oracle; floor to 1e-6 ticks → order-independent long sums
    val odds = ((col("cnt_pos") + lit(1L)).cast("double") *
        (col("tot_neg") + col("vocab")).cast("double")) /
      ((col("cnt_neg") + lit(1L)).cast("double") *
        (col("tot_pos") + col("vocab")).cast("double"))
    val tick = floor(lit(1000000.0) * odds).cast("long")
    CacheOps.materializeAndRelease(
      inst.join(model, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(tick).cast("long").as("score_fp"))
        .withColumn("keep",
          col("score_fp") >= col("n_tokens") * lit(1000000L)),
      inst)
  }

  /** FIT half of [[qualityClassifier]] as a persistable model — the
    * H29 train-once discipline for the H15 scorer: one tokenize pass
    * over the LABELED corpus produces the per-token odds-tick table
    * `(tok, tick)`, where tick = floor(1e6 · Laplace class odds) —
    * the identical fixed double tree, so
    * [[applyQualityModel]]([[fitQualityModel]]) ≡ [[qualityClassifier]]
    * bit-for-bit (spec-pinned). Unlike the langid model the vocab is
    * UNBOUNDED, so the model stays a DataFrame (vocab-sized, MBs
    * after any min-df floor even at web scale — broadcastable), not
    * a driver-side case class. */
  def fitQualityModel(docs: DataFrame, posExpr: Column,
                      textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(coalesce(posExpr, lit(false)).as("is_pos"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("tok")
      .agg(sum(when(col("is_pos"), lit(1L)).otherwise(lit(0L)))
          .cast("long").as("cnt_pos"),
        sum(when(!col("is_pos"), lit(1L)).otherwise(lit(0L)))
          .cast("long").as("cnt_neg"))
    val totals = counts.agg(
      sum(col("cnt_pos")).cast("long").as("tot_pos"),
      sum(col("cnt_neg")).cast("long").as("tot_neg"),
      count(lit(1)).cast("long").as("vocab"))
    val odds = ((col("cnt_pos") + lit(1L)).cast("double") *
        (col("tot_neg") + col("vocab")).cast("double")) /
      ((col("cnt_neg") + lit(1L)).cast("double") *
        (col("tot_pos") + col("vocab")).cast("double"))
    counts.crossJoin(broadcast(totals))
      .select(col("tok"), floor(lit(1000000.0) * odds).cast("long")
        .as("tick"))
  }

  /** TRANSFORM half: score docs against a pre-fitted `(tok, tick)`
    * model — one explode + one broadcast hash probe (shuffle-join
    * fallback via broadcastModel=false) + one map-side-combined
    * aggregation. OOV tokens (absent from the model) are dropped
    * from both the count and the sum, exactly like
    * [[qualityClassifier]]'s inner model probe; docs with zero
    * in-vocabulary tokens are not emitted (no defined mean). */
  def applyQualityModel(docs: DataFrame, model: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        broadcastModel: Boolean = true): DataFrame = {
    val m0 = model.select("tok", "tick")
    val m = if (broadcastModel) broadcast(m0) else m0
    docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .join(m, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("tick")).cast("long").as("score_fp"))
      .withColumn("keep",
        col("score_fp") >= col("n_tokens") * lit(1000000L))
  }

  /** Persist a fitted quality model — `(tok, tick)` parquet, the
    * model-artifact discipline (Ivf/Bpe/LangId). */
  def saveQualityModel(model: DataFrame, path: String): Unit =
    model.select("tok", "tick").write.mode("overwrite").parquet(path)

  /** Load a [[saveQualityModel]] table; rejects duplicate tokens (an
    * append-mode double write must fail loud, not double-score). */
  def loadQualityModel(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame = {
    val m = spark.read.parquet(path).select("tok", "tick")
    val (rows, toks) = {
      val r = m.agg(count(lit(1)), countDistinct(col("tok")))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    require(rows > 0, s"quality model at $path is empty")
    require(rows == toks,
      s"quality model at $path has duplicate tok rows ($rows rows, " +
        s"$toks distinct)")
    m
  }

  /** FIM (fill-in-the-middle) transform — the code-model data-prep
    * stage (Bavarian et al. 2022; the StarCoder pipeline applies it
    * at a fixed rate): rewrite a deterministic `rate` fraction of
    * documents into PSM sentinel order,
    * `<PRE> prefix <SUF> suffix <MID> middle`, so autoregressive
    * training teaches infilling with the loss unchanged. ALL
    * randomness is md5-derived from the doc id (the
    * [[Sampling.deterministicSplit]] discipline — reproducible
    * across runs and engines, no rand()): the doc is transformed iff
    * md5Bucket16(id ‖ ":fim") % 100 < rate·100, and the two split
    * points 0 ≤ i ≤ j ≤ len are independent md5 draws over the
    * CHARACTER length (the paper's character-level split, which
    * avoids token-boundary artifacts; the small modulo bias of a
    * 16-bit draw is deterministic and documented). Sentinel strings
    * are parameters — the exact tokens are tokenizer-specific.
    *
    * Scale shape: one scan, pure column expressions (md5 + substr +
    * concat), zero shuffles — the transform runs at read throughput
    * inside whatever export stage consumes it.
    *
    * Output: doc_id, fim_applied, fim_text (untransformed docs pass
    * through verbatim). prefix‖middle‖suffix always reassembles the
    * original text (spec-pinned losslessness). */
  def fimTransform(docs: DataFrame, rate: Double = 0.5,
                   idCol: String = "doc_id", textCol: String = "text",
                   preTok: String = "<PRE>", sufTok: String = "<SUF>",
                   midTok: String = "<MID>"): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1]: $rate")
    val id = col(idCol).cast("string")
    val text = col(textCol)
    val len = length(text)
    val gate = Sampling.md5Bucket16(concat(id, lit(":fim"))) % 100 <
      math.round(rate * 100).toInt
    val i = Sampling.md5Bucket16(concat(id, lit(":a"))) % (len + 1)
    val j = i + Sampling.md5Bucket16(concat(id, lit(":b"))) % (len - i + 1)
    val fim = concat(lit(preTok), text.substr(lit(1), i),
      lit(sufTok), text.substr(j + 1, len - j),
      lit(midTok), text.substr(i + 1, j - i))
    docs.select(col(idCol), gate.as("fim_applied"),
      when(gate, fim).otherwise(text).as("fim_text"))
  }

  /** SPAN CORRUPTION (Raffel et al. 2020 — the T5/UL2 denoising
    * objective prep, the sibling of [[fimTransform]]'s infilling
    * rewrite): mask `nSpans` disjoint token spans with `<extra_id_k>`
    * sentinels and emit the (input, target) pair autoregressive
    * denoising trains on — input = text with spans replaced by
    * sentinels, target = sentinel-delimited span contents closed by
    * the final sentinel (the exact T5 target grammar).
    *
    * ALL randomness is md5-derived from the doc id (the fimTransform
    * discipline — reproducible across runs, retries AND engines, no
    * rand()): the doc's token array splits into `nSpans` equal
    * segments and span k starts at an md5 draw inside segment k —
    * disjointness holds BY CONSTRUCTION (one span per segment), no
    * rejection sampling to replay. Spans are `spanLen` tokens each —
    * the fixed-length deterministic variant; T5's Poisson(3) span
    * lengths are a sampling detail, the objective SHAPE (spans →
    * sentinels → delimited target) is what downstream consumes.
    * Docs with fewer than nSpans·… tokens (any segment shorter than
    * spanLen) pass through uncorrupted: corrupted = false, input =
    * the original text, target = null.
    *
    * Scale shape: ONE Project over the scan — token split, md5
    * draws, fixed slice/concat tree — zero shuffles, whole-stage
    * codegen; runs at read throughput inside an export stage.
    */
  def spanCorrupt(docs: DataFrame, nSpans: Int = 2, spanLen: Int = 2,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(nSpans >= 1, s"nSpans must be >= 1, got $nSpans")
    require(spanLen >= 1, s"spanLen must be >= 1, got $spanLen")
    val id = col(idCol).cast("string")
    val toks = TextFunctions.tokens(col(textCol))
    val n = size(toks)
    // segment k covers [floor(n·k/S)+1, floor(n·(k+1)/S)] (1-based);
    // the shortest segment is floor(n/S) tokens, so eligibility is
    // one comparison, not a per-segment check
    def segStart(k: Int) = floor(n * k / nSpans).cast("int") + 1
    def segEnd(k: Int) = floor(n * (k + 1) / nSpans).cast("int")
    val eligible = floor(n / nSpans).cast("int") >= spanLen
    def draw(k: Int) =
      Sampling.md5Bucket16(concat(id, lit(s":sc$k"))).cast("int")
    val starts = (0 until nSpans).map { k =>
      segStart(k) + draw(k) % (segEnd(k) - segStart(k) - spanLen + 2)
    }
    def sentinel(k: Int) = array(lit(s"<extra_id_$k>"))
    val inputParts = (0 until nSpans).flatMap { k =>
      val prevEnd = if (k == 0) lit(0) else starts(k - 1) + (spanLen - 1)
      Seq(slice(toks, prevEnd + 1, starts(k) - prevEnd - 1), sentinel(k))
    } :+ {
      val lastEnd = starts(nSpans - 1) + (spanLen - 1)
      slice(toks, lastEnd + 1, n - lastEnd)
    }
    val targetParts = (0 until nSpans).flatMap { k =>
      Seq(sentinel(k), slice(toks, starts(k), lit(spanLen)))
    } :+ sentinel(nSpans)
    docs.select(col(idCol), eligible.as("corrupted"),
      when(eligible, array_join(concat(inputParts: _*), " "))
        .otherwise(col(textCol)).as("sc_input"),
      when(eligible, array_join(concat(targetParts: _*), " "))
        .otherwise(lit(null).cast("string")).as("sc_target"))
  }

  /** SFT chat-template rendering with LOSS-SPAN offsets — the
    * supervised-fine-tuning export stage: each (prompt, response)
    * pair renders into the fixed chat template and the row carries
    * the exact character span [loss_start, loss_end) of the
    * RESPONSE inside the rendered string — the contract a
    * masked-loss dataloader needs (loss on assistant tokens only;
    * shipping the span as data beats re-finding it with string
    * search downstream, which breaks the moment a response happens
    * to repeat a template fragment). Offsets are 0-based character
    * (code point) positions; `substring(sft_text, loss_start + 1,
    * loss_end - loss_start) == response` is the invariant
    * (spec-pinned, unicode included).
    *
    * Scale shape: one codegen'd Project — concat + two length sums
    * — zero shuffles, export-stage throughput (the fimTransform
    * family). */
  def sftRender(pairs: DataFrame, systemPrompt: String,
                idCol: String = "doc_id", promptCol: String = "prompt",
                responseCol: String = "response"): DataFrame = {
    val pre = s"<|system|>\n$systemPrompt\n<|user|>\n"
    val mid = "\n<|assistant|>\n"
    val post = "<|end|>"
    val lossStart = (lit(pre.codePointCount(0, pre.length).toLong) +
      length(col(promptCol)) +
      lit(mid.codePointCount(0, mid.length).toLong)).cast("long")
    pairs.select(col(idCol),
      concat(lit(pre), col(promptCol), lit(mid), col(responseCol),
        lit(post)).as("sft_text"),
      lossStart.as("loss_start"),
      (lossStart + length(col(responseCol)).cast("long"))
        .as("loss_end"))
  }

  /** DSIR importance weights (Xie et al. 2023 shape): score every raw
    * document by how much its hashed-bigram profile looks like a
    * TARGET distribution (`targetExpr` — e.g. the wiki-like sources),
    * then keep the top `selectN` — importance RESAMPLING as a
    * deterministic top-N instead of a random draw. Features are
    * hashed shingles: bucket = md5(bigram) mod nBuckets (engine-
    * portable, fixed model width — the hashing trick that keeps the
    * model O(nBuckets) however large the vocabulary grows). FIT: one
    * shingle pass counts each bucket's instances under the target
    * slice and the full raw corpus; totals ride on the model rows.
    * TRANSFORM: per-bucket importance = Laplace-smoothed
    * (cnt_t+1)(tot_r+B) / (cnt_r+1)(tot_t+B) — the likelihood ratio
    * with raw odds instead of logs (libm-free), floored to 1e-6
    * ticks; per-doc weight = exact long sum of tf × tick.
    *
    * Scale shape: the model is nBuckets rows — always broadcastable
    * by construction. Corpus work is one explode + two map-side-
    * combined aggregations + one broadcast probe; the only full
    * shuffle is the per-doc aggregation. The top-N selection is the
    * [[OrderStats.selectTopN]] cutoff + boundary tie-sweep (exact,
    * bit-identical to the (weight desc, id) row_number definition,
    * no single-reducer sort anywhere); `globalSortSelect = true`
    * switches to the naive single-partition window, kept only as the
    * equality baseline in the spec. Docs with <2 tokens have no
    * bigrams and are not emitted. */
  def dsirWeights(docs: DataFrame, targetExpr: Column, selectN: Long,
                  nBuckets: Int = 1024, idCol: String = "doc_id",
                  textCol: String = "text",
                  globalSortSelect: Boolean = false): DataFrame = {
    require(nBuckets > 0 && nBuckets <= 65536,
      "nBuckets must be in 1..65536 (md5Bucket16 range)")
    // instance-level table, NOT a (doc, bucket, tf) pre-aggregation:
    // hashed bigrams are mostly distinct within a doc, so that
    // groupBy would shuffle ~|instances| rows for no compression —
    // whereas both consumers below compress map-side (the model fit
    // to nBuckets partials, the per-doc sum to |docs| partials) and
    // Σ tf·tick ≡ Σ per-instance tick exactly (integer arithmetic)
    val inst = docs
      .select(col(idCol).as("doc_id"),
        coalesce(targetExpr, lit(false)).as("is_target"),
        explode(TextFunctions.shingles(
          TextFunctions.tokens(col(textCol)), 2)).as("bigram"))
      .select(col("doc_id"), col("is_target"),
        (Sampling.md5Bucket16(col("bigram")) % nBuckets).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    inst.count() // shingle once: feeds the model fit AND the probe
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val model = broadcast(inst.groupBy("bucket")
      .agg(sum(when(col("is_target"), lit(1L)).otherwise(lit(0L)))
          .cast("long").as("cnt_t"),
        count(lit(1)).cast("long").as("cnt_r"))
      // guarded (r18): ≤ nBuckets rows by construction (the groupBy
      // key is a pmod-nBuckets hash) — assert the invariant so a
      // future key change cannot silently single-partition a corpus
      .withColumn("tot_t", WindowOps.guardedGlobalFrame(
        sum(col("cnt_t")).over(w).cast("long"),
        "the bucket model's grouped table", nBuckets.toLong))
      .withColumn("tot_r", sum(col("cnt_r")).over(w).cast("long")))
    val ratio = ((col("cnt_t") + lit(1L)).cast("double") *
        (col("tot_r") + lit(nBuckets.toLong)).cast("double")) /
      ((col("cnt_r") + lit(1L)).cast("double") *
        (col("tot_t") + lit(nBuckets.toLong)).cast("double"))
    val tick = floor(lit(1000000.0) * ratio).cast("long")
    val weighted = inst.join(model, "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(tick).cast("long").as("weight_fp"))
    if (globalSortSelect) {
      // reference form: exact but a single-partition sort at 100 TB —
      // kept only as the equality baseline for the cutoff path
      val rk = org.apache.spark.sql.expressions.Window
        .orderBy(col("weight_fp").desc, col("doc_id").asc)
      CacheOps.materializeAndRelease(
        weighted.withColumn("selected", row_number().over(rk) <= selectN)
          .select(col("doc_id"), col("n_bigrams"), col("weight_fp"),
            col("selected")),
        inst)
    } else {
      // production form: OrderStats cutoff + boundary tie sweep —
      // bit-identical output (same (weight desc, id) total order),
      // no un-partitioned window anywhere in the plan
      val w2 = weighted
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      w2.count()
      inst.unpersist(false)
      CacheOps.materializeAndRelease(
        OrderStats.selectTopN(w2, selectN, "weight_fp", "doc_id")
          .select(col("doc_id"), col("n_bigrams"), col("weight_fp"),
            col("selected")),
        w2)
    }
  }

  /** CCNet-style perplexity bucketing: score every document with the
    * unigram LM ([[lmScore]]) and cut each language into head /
    * middle / tail terciles by model fit — the standard crawl
    * partition (keep head+middle, drop or re-filter tail). Ordering
    * is (avg_tok_p desc, id): avg_tok_p is a single IEEE division
    * over exact integers, so the total order — and therefore every
    * ntile boundary — is identical across engines.
    *
    * Scale shape: lmScore's two corpus passes + one doc-keyed join to
    * recover the group column + one window partitioned by language.
    * The per-language window is the exact form; at 100 TB languages
    * are few and huge, so derive the two tercile BOUNDARY scores per
    * language first (approx_percentile or a two-pass exact count)
    * and bucket with a scan-stage comparison instead — same output,
    * no single-partition-per-language sort. */
  def perplexityBuckets(docs: DataFrame, groupCol: String = "lang",
                        idCol: String = "doc_id", textCol: String = "text")
  : DataFrame = {
    val scored = lmScore(docs, idCol, textCol)
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("avg_tok_p").desc, col("doc_id").asc)
    scored
      .join(docs.select(col(idCol).as("doc_id"), col(groupCol)), "doc_id")
      .withColumn("tile", ntile(3).over(rk))
      .withColumn("bucket",
        when(col("tile") === 1, lit("head"))
          .when(col("tile") === 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col(groupCol), col("n_tokens"),
        col("avg_tok_p"), col("bucket"))
  }

  /** CCNet bucketing, 100 TB form: instead of sorting every language
    * group in one task ([[perplexityBuckets]]'s ntile window), derive
    * the two tercile BOUNDARY scores per language as exact order
    * statistics ([[OrderStats.kthLargest]] — quantile-narrowed, no
    * global sort) and assign buckets with a scan-stage comparison
    * against the broadcast (group, b1, b2) table. Group cardinality
    * must be driver-bounded (language codes are), since each group
    * costs a few narrowing scans.
    *
    * Tie contract (the one delta vs the exact ntile form): every row
    * whose score EQUALS a boundary score takes the higher bucket,
    * whereas ntile splits boundary ties by doc_id — so the two forms
    * agree on all rows except exact ties at a boundary value. Tercile
    * sizes use the ntile convention: s1 = ceil(n/3), s1+s2 =
    * ceil(2n/3). Deterministic and SQL-replayable (the driver oracle
    * recomputes the boundary scores with a window, DuckDB-side). */
  def perplexityBucketsByBoundary(docs: DataFrame,
                                  groupCol: String = "lang",
                                  idCol: String = "doc_id",
                                  textCol: String = "text"): DataFrame =
    bucketsByBoundary(
      lmScore(docs, idCol, textCol)
        .join(docs.select(col(idCol).as("doc_id"), col(groupCol)),
          "doc_id"),
      groupCol, "avg_tok_p", Seq("n_tokens"))

  /** CCNet bucketing over the interpolated-KN TRIGRAM scorer — the
    * n-gram-LM form of [[perplexityBucketsByBoundary]] (CCNet proper
    * buckets on a KenLM n-gram perplexity fit on curated text, not a
    * unigram model): fit [[trigramLmScore]] on `fitDocs` (the curated
    * target slice), score `docs`, tercile-bucket per `groupCol` with
    * the same exact-order-statistic boundary machinery and tie
    * contract. Output: doc_id, group, n_trigrams, avg_trigram_p,
    * bucket. Docs with < 3 tokens have no trigram score and are not
    * emitted (the trigramLmScore contract — CCNet drops them too). */
  def perplexityBucketsTrigram(fitDocs: DataFrame, docs: DataFrame,
                               groupCol: String = "lang",
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame =
    bucketsByBoundary(
      trigramLmScore(fitDocs, docs, idCol, textCol)
        .join(docs.select(col(idCol).as("doc_id"), col(groupCol)),
          "doc_id"),
      groupCol, "avg_trigram_p", Seq("n_trigrams"))

  /** The boundary-form tercile core shared by every scorer: exact
    * per-group boundary VALUES via one batched order-statistic
    * narrowing, then a scan-stage comparison against the broadcast
    * (group, b1, b2) table. `scored` carries (doc_id, group,
    * carryCols, scoreCol). */
  private[graft] def bucketsByBoundary(scoredIn: DataFrame,
                                       groupCol: String,
                                       scoreCol: String,
                                       carryCols: Seq[String]): DataFrame = {
    val spark = scoredIn.sparkSession
    val scored = scoredIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scored.count()
    val sizes = OrderStats.boundedGroupRows(
      scored.groupBy(col(groupCol)).count(),
      "bucketsByBoundary", maxGroups = 100000)
    // BOTH tercile boundaries of EVERY language resolve through one
    // batched narrowing (O(rounds) corpus scans total) — the
    // per-language kthLargest loop this replaces ran a scan loop per
    // boundary, which is the difference between a handful of jobs
    // and hundreds on a many-language 100 TB crawl
    val targets = sizes.flatMap { r =>
      val n = r.getLong(1)
      Seq((r.get(0), (n + 2) / 3), (r.get(0), (2 * n + 2) / 3))
    }.toSeq.distinct
    val kth = OrderStats.kthLargestByGroup(
      scored, groupCol, scoreCol, targets)
    val bounds = sizes.map { r =>
      val grpV = r.get(0)
      val n = r.getLong(1)
      org.apache.spark.sql.Row(grpV,
        kth((grpV, (n + 2) / 3)), kth((grpV, (2 * n + 2) / 3)))
    }
    val boundsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "__grp", scoredIn.schema(groupCol).dataType),
      org.apache.spark.sql.types.StructField(
        "__b1", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField(
        "__b2", org.apache.spark.sql.types.DoubleType)))
    val boundsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(bounds.toSeq, 1), boundsSchema)
    CacheOps.materializeAndRelease(
      scored.join(broadcast(boundsDf), col(groupCol) <=> col("__grp"))
        .withColumn("bucket",
          when(col(scoreCol) >= col("__b1"), lit("head"))
            .when(col(scoreCol) >= col("__b2"), lit("middle"))
            .otherwise(lit("tail")))
        .select((Seq(col("doc_id"), col(groupCol)) ++
          carryCols.map(col) :+ col(scoreCol) :+ col("bucket")): _*),
      scored)
  }

  /** Model-based language ID — the fastText/CLD-class production form
    * of [[graft.functions.TextFunctions.langId]]'s marker heuristic:
    * a character-bigram multinomial scorer FIT ON THE CORPUS'S OWN
    * language labels (the qualityClassifier fit-then-transform
    * shape), features hashed to a fixed bucket width (the dsirWeights
    * hashing trick — model size is nLangs × nBuckets whatever the
    * character vocabulary). Bigram buckets come from ONE string walk
    * per document ([[graft.expressions.CharBigramBuckets]] — the
    * per-position substr formulation is quadratic per doc).
    *
    * FIT: one explode + one map-side-combined aggregation; the
    * bounded (lang, bucket) count table (≤ nLangs × nBuckets rows —
    * languages are dozens, not millions) COLLECTS to the driver,
    * densifies over all nBuckets cells (a zero count must still score
    * through smoothing) and bakes into a literal bucket-indexed
    * per-class tick table (model-as-expression-data, the
    * IVF-centroid / unigramSegModel discipline). tick = floor(1e6 ·
    * (cnt_cb+1)(tot_all+B) / (bg_b+1)(tot_c+B)) — the Laplace-
    * smoothed likelihood ratio vs the corpus background, raw odds
    * instead of logs (libm-free, the H15 discipline), floored to
    * ticks so per-doc sums are exact longs in any order.
    *
    * TRANSFORM: a pure scan-stage projection, ZERO shuffles — each
    * doc folds its bucket array over the literal tick table into a
    * per-class exact-long score vector, and the argmax folds in as
    * array_max over (score, class) structs: ties → greatest lang
    * code, the langId determinism family. Docs shorter than 2
    * characters have no bigrams and are not emitted.
    *
    * Scale shape: two corpus scans (fit, score), one bounded
    * collect, one tiny shuffle (the fit aggregation). Nothing is
    * cached — both passes are codegen scan pipelines and rebuilding
    * the second costs less than materializing an instance cache
    * (measured by a stage breakdown of q_langid_model). */
  def langIdModel(docs: DataFrame, nBuckets: Int = 256,
                  idCol: String = "doc_id", textCol: String = "text",
                  langCol: String = "lang"): DataFrame = {
    val m = fitLangIdModel(docs, nBuckets, textCol, langCol)
    applyLangIdModel(docs, m, idCol, textCol, langCol)
  }

  /** The fitted language-ID model: lang codes in ASC order and the
    * dense bucket-indexed per-class tick table ([[langIdModel]]'s
    * FIT half) — a driver-bounded artifact (nLangs × nBuckets longs),
    * persistable via [[saveLangIdModel]] like every other model
    * family (IVF centroids, PQ codebooks, BPE merges, unigram
    * pieces). */
  case class LangIdModel(langs: Seq[String], ticks: Seq[Seq[Long]]) {
    require(langs.nonEmpty && langs == langs.distinct.sorted,
      "langs must be distinct and ASC-sorted")
    require(ticks.nonEmpty && ticks.forall(_.length == langs.length),
      "ticks must be nBuckets rows of nLangs entries")
    def nBuckets: Int = ticks.length
  }

  /** FIT half of [[langIdModel]]: one explode + one map-side-combined
    * aggregation + a bounded collect; ticks = floor(1e6 ·
    * (cnt_cb+1)(tot_all+B) / (bg_b+1)(tot_c+B)). */
  def fitLangIdModel(docs: DataFrame, nBuckets: Int = 256,
                     textCol: String = "text",
                     langCol: String = "lang"): LangIdModel = {
    require(nBuckets > 0 && nBuckets <= 65536,
      "nBuckets must be in 1..65536 (md5Bucket16 range)")
    val text = col(textCol)
    val bucketArr = graft.expressions.CharBigramBuckets(text, nBuckets)
    val cnt = docs.filter(length(text) >= 2)
      .select(col(langCol).as("lang"), explode(bucketArr).as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("cnt_cb"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    require(cnt.nonEmpty, "fitLangIdModel: no document has >= 2 characters")
    // class order is lang ASC; the argmax structs in the transform
    // break ties to the GREATEST code, independent of this order
    val langs = cnt.keys.map(_._1).toSeq.distinct.sorted
    val totC = langs.map(c =>
      c -> cnt.collect { case ((`c`, _), n) => n }.sum).toMap
    val bgB = (0L until nBuckets.toLong).map(bk =>
      bk -> cnt.collect { case ((_, `bk`), n) => n }.sum).toMap
    val totAll = cnt.values.sum
    // fixed double tree over exact longs (factors to double BEFORE
    // multiplying — the qualityClassifier overflow discipline),
    // mirrored factor-for-factor by the oracle's SQL expression
    def tick(c: String, bk: Long): Long =
      math.floor(1000000.0 *
        (((cnt.getOrElse((c, bk), 0L) + 1L).toDouble * (totAll + nBuckets).toDouble) /
          ((bgB(bk) + 1L).toDouble * (totC(c) + nBuckets).toDouble))).toLong
    // dense bucket-indexed tick table: element_at on an ARRAY literal
    // is O(1) per row (a map literal would linear-scan its keys)
    LangIdModel(langs,
      (0L until nBuckets.toLong).map(bk => langs.map(tick(_, bk))))
  }

  /** TRANSFORM half of [[langIdModel]]: a pure scan-stage projection,
    * zero shuffles — per-row bucket fold over the literal tick table,
    * inline array_max argmax (ties → greatest lang code). Train once,
    * predict across sessions via [[loadLangIdModel]]. */
  def applyLangIdModel(docs: DataFrame, m: LangIdModel,
                       idCol: String = "doc_id",
                       textCol: String = "text",
                       langCol: String = "lang"): DataFrame = {
    val text = col(textCol)
    val bucketArr = graft.expressions.CharBigramBuckets(text, m.nBuckets)
    val scores = aggregate(bucketArr,
      typedLit(m.langs.map(_ => 0L)),
      (acc, b) => zip_with(acc,
        element_at(typedLit(m.ticks), b.cast("int") + 1),
        (x, y) => x + y))
    val best = array_max(array(m.langs.zipWithIndex.map { case (c, k) =>
      struct(element_at(col("__sc"), k + 1).as("score_fp"),
        lit(c).as("c")) }: _*))
    docs.filter(length(text) >= 2)
      .select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        scores.as("__sc"))
      .select(col("doc_id"), col("lang"),
        best.getField("c").as("lang_pred"),
        best.getField("score_fp").as("score_fp"))
  }

  /** [[applyLangIdModel]]'s transform as COLUMN functions, for
    * callers that ride the prediction on an existing projection (the
    * quality gate's one-scan composition) instead of buying a join
    * against the apply form's output. Two-step ON PURPOSE — the
    * caller must stage [[langIdScores]] in its own projection
    * (withColumn) so the bucket fold is evaluated ONCE per row:
    * inlining it into the nLangs argmax structs re-runs the fold per
    * class (higher-order functions don't whole-stage-codegen, so no
    * subexpression elimination rescues it — measured 2.7x on the
    * gate at sf0.1). CollapseProject declines to inline a multi-use
    * non-cheap expression, which is the same guarantee
    * applyLangIdModel's own two-step select leans on. */
  def langIdScores(text: Column, m: LangIdModel): Column =
    aggregate(graft.expressions.CharBigramBuckets(text, m.nBuckets),
      typedLit(m.langs.map(_ => 0L)),
      (acc, b) => zip_with(acc,
        element_at(typedLit(m.ticks), b.cast("int") + 1),
        (x, y) => x + y))

  /** Argmax over a staged [[langIdScores]] column — null for texts
    * under 2 chars (no bigram evidence; the apply form FILTERS those
    * rows, a column must stay total). Ties → greatest lang code, the
    * applyLangIdModel rule. */
  def langIdPredictFromScores(scores: Column, text: Column,
                              m: LangIdModel): Column = {
    val best = array_max(array(m.langs.zipWithIndex.map { case (c, k) =>
      struct(element_at(scores, k + 1).as("score_fp"),
        lit(c).as("c")) }: _*))
    when(length(text) >= 2, best.getField("c"))
  }

  /** Persist a fitted langid model as a parquet table — (bucket,
    * lang, tick), one row per cell (the Ivf.saveCentroids
    * discipline). */
  def saveLangIdModel(spark: org.apache.spark.sql.SparkSession,
                      m: LangIdModel, path: String): Unit = {
    import spark.implicits._
    (for {
      (row, bk) <- m.ticks.zipWithIndex
      (c, k) <- m.langs.zipWithIndex
    } yield (bk.toLong, c, row(k)))
      .toDF("bucket", "lang", "tick")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveLangIdModel]] table; rejects a ragged or
    * double-written table (every (bucket, lang) cell must appear
    * exactly once over a dense bucket range) rather than silently
    * predicting from a corrupted model. */
  def loadLangIdModel(spark: org.apache.spark.sql.SparkSession,
                      path: String): LangIdModel = {
    val rows = spark.read.parquet(path).select("bucket", "lang", "tick")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
    val byCell = rows.toMap
    require(rows.length == byCell.size,
      s"langid model at $path has duplicate (bucket, lang) cells")
    val langs = rows.map(_._1._2).distinct.sorted.toSeq
    val buckets = rows.map(_._1._1).distinct.sorted
    require(buckets.nonEmpty &&
      buckets.toSeq == (0L until buckets.length.toLong),
      s"langid model at $path is not dense in [0, nBuckets)")
    require(byCell.size == langs.length * buckets.length,
      s"langid model at $path is ragged: ${byCell.size} cells for " +
        s"${langs.length} langs x ${buckets.length} buckets")
    LangIdModel(langs,
      buckets.toSeq.map(bk => langs.map(c => byCell((bk, c)))))
  }

  // ------------------------------------------------------------------
  // Corpus DRIFT — the snapshot-over-snapshot distribution monitor a
  // continuously-fed training pipeline runs before admitting a new
  // crawl into the mix: how far has the token distribution moved, in
  // which direction is mass appearing/vanishing, and WHICH terms
  // moved it. Everything in the exactness discipline: integer counts,
  // per-term probability ticks through ONE fixed IEEE tree, long sums.
  // ------------------------------------------------------------------

  /** Per-term drift table between two corpora: token counts from each
    * side full-outer-joined on the term (a term missing from one side
    * is count 0 — exactly the mass-appeared/vanished rows a drift
    * report exists for), per-side probability ticks p_fp =
    * floor(1e9 · cnt / N) (the bigramLmScore fixed-tree idiom — each
    * factor cast to double BEFORE the divide, deterministic across
    * runs, layouts and engines), drift_fp = |p_a_fp − p_b_fp|.
    *
    * Scale shape: each side is ONE map-side-combined vocab
    * aggregation; the full-outer join keys both vocab tables on the
    * term (co-partitioned single shuffle each — vocab-sized, corpus
    * never moves); totals ride as 1-row broadcasts. Top-k consumers
    * should `orderBy(drift_fp desc, term).limit(k)` — Spark plans
    * TakeOrderedAndProject: per-partition heaps, no global sort.
    *
    * @return (term, cnt_a, cnt_b, p_a_fp, p_b_fp, drift_fp)
    */
  def corpusDriftTerms(a: DataFrame, b: DataFrame,
                       textCol: String = "text"): DataFrame =
    driftTermsFromCounts(
      driftCounts(a, textCol, "cnt_a"), driftCounts(b, textCol, "cnt_b"))

  /** Token-count table of one corpus side: (term, cnt). */
  private def driftCounts(df: DataFrame, textCol: String,
                          cn: String): DataFrame =
    df.select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("long").as(cn))

  /** [[corpusDriftTerms]] over pre-aggregated count tables — the
    * form the streaming leg probes with a PERSISTED reference model
    * instead of re-counting the reference corpus per batch. */
  private def driftTermsFromCounts(ca: DataFrame,
                                   cb: DataFrame): DataFrame = {
    val na = ca.agg(sum(col("cnt_a")).cast("long").as("n_a"))
    val nb = cb.agg(sum(col("cnt_b")).cast("long").as("n_b"))
    def ticks(cnt: Column, n: Column) =
      floor(lit(1.0e9) * cnt.cast("double") / n.cast("double"))
        .cast("long")
    ca.join(cb, Seq("term"), "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("term"), col("cnt_a"), col("cnt_b"),
        ticks(col("cnt_a"), col("n_a")).as("p_a_fp"),
        ticks(col("cnt_b"), col("n_b")).as("p_b_fp"))
      .withColumn("drift_fp", abs(col("p_a_fp") - col("p_b_fp")))
  }

  /** One-row corpus-divergence summary over the FULL vocabulary:
    * token totals, vocab sizes and overlap, total-variation ticks
    * tv_fp = Σ drift_fp (≈ 2·TV·1e9; per-term ticks ≤ 1e9 so the
    * long sum holds to a 1e9-term vocabulary), and the directional
    * out-of-vocabulary mass each way (oov_a_fp = ticks of corpus-A
    * probability mass on terms corpus B has NEVER seen — the "new
    * snapshot is full of words the reference mix lacks" alarm,
    * exact integer sum then one fixed tree). TV is the metric of
    * choice here because it is EXACT under tick quantization —
    * KL/JS need logs, which are libm-dependent and belong to the
    * rows-only family; TV bounds JS (JS ≤ TV·ln 2) when a
    * paper-comparable number is needed. */
  def corpusDivergence(a: DataFrame, b: DataFrame,
                       textCol: String = "text"): DataFrame =
    divergenceFromCounts(
      driftCounts(a, textCol, "cnt_a"), driftCounts(b, textCol, "cnt_b"))

  /** FIT the drift reference model: the reference corpus reduced to
    * its (term, cnt) table — what [[driftAgainstModel]] probes and
    * what persists between snapshots (count the 100 TB reference mix
    * ONCE, monitor every arriving batch against the artifact). */
  def fitDriftModel(ref: DataFrame, textCol: String = "text"): DataFrame =
    driftCounts(ref, textCol, "cnt")

  /** Persist a [[fitDriftModel]] table (the saveQualityModel
    * discipline). */
  def saveDriftModel(model: DataFrame, path: String): Unit =
    model.select("term", "cnt").write.mode("overwrite").parquet(path)

  /** Load a [[saveDriftModel]] table; rejects empties and duplicate
    * terms (an append-mode double write must fail loud, not
    * double-count the reference). */
  def loadDriftModel(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    val m = spark.read.parquet(path).select("term", "cnt")
    val (rows, terms) = {
      val r = m.agg(count(lit(1)), countDistinct(col("term")))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    require(rows > 0, s"drift model at $path is empty")
    require(rows == terms,
      s"drift model at $path has duplicate term rows ($rows rows, " +
        s"$terms distinct)")
    m
  }

  /** One-row divergence of a batch AGAINST a fitted reference model
    * (batch = side A, reference = side B): apply(fit(ref)) ≡
    * [[corpusDivergence]](batch, ref) bit-for-bit — the fit/apply
    * contract the streaming drift monitor rides. */
  def driftAgainstModel(batch: DataFrame, model: DataFrame,
                        textCol: String = "text"): DataFrame =
    divergenceFromCounts(
      driftCounts(batch, textCol, "cnt_a"),
      model.select(col("term"), col("cnt").as("cnt_b")))

  private def divergenceFromCounts(ca: DataFrame,
                                   cb: DataFrame): DataFrame =
    driftTermsFromCounts(ca, cb)
      .agg(
        sum(col("cnt_a")).cast("long").as("n_a"),
        sum(col("cnt_b")).cast("long").as("n_b"),
        sum(when(col("cnt_a") > 0L, 1L).otherwise(0L))
          .cast("long").as("vocab_a"),
        sum(when(col("cnt_b") > 0L, 1L).otherwise(0L))
          .cast("long").as("vocab_b"),
        sum(when(col("cnt_a") > 0L && col("cnt_b") > 0L, 1L)
          .otherwise(0L)).cast("long").as("vocab_shared"),
        sum(col("drift_fp")).cast("long").as("tv_fp"),
        sum(when(col("cnt_b") === 0L, col("cnt_a")).otherwise(0L))
          .cast("long").as("oov_mass_a"),
        sum(when(col("cnt_a") === 0L, col("cnt_b")).otherwise(0L))
          .cast("long").as("oov_mass_b"))
      .select(col("n_a"), col("n_b"), col("vocab_a"), col("vocab_b"),
        col("vocab_shared"), col("tv_fp"),
        floor(lit(1.0e9) * col("oov_mass_a").cast("double") /
          col("n_a").cast("double")).cast("long").as("oov_a_fp"),
        floor(lit(1.0e9) * col("oov_mass_b").cast("double") /
          col("n_b").cast("double")).cast("long").as("oov_b_fp"))

  /** HOST-LEVEL crawl-policy mining — the feedback loop that turns
    * per-document gate verdicts into DOMAIN policy (the RefinedWeb/
    * CCNet practice of maintaining per-site statistics: a host whose
    * documents overwhelmingly fail the quality gate is cheaper to
    * blocklist at the FRONTIER — stage 0, never fetched — than to
    * keep gating doc by doc). Reference analog: the reference's
    * per-table row-quality summaries (proteofav/structures.py's
    * per-chain filters) lifted to the host grain.
    *
    * Inputs: a verdict table (idCol, n_tokens, keep) — any gate's
    * output (gopherRules, crawlPrepare, the quality classifier) —
    * and the (idCol, urlCol) mapping. Hosts come from
    * [[graft.functions.TextFunctions.urlHost]]; docs without a
    * parseable host carry no domain evidence and are dropped.
    *
    * Output per host: n_docs, n_kept, keep_rate (one fixed IEEE
    * division — engine-exact), kept_tokens (the host's surviving
    * token yield — what the corpus actually gains from crawling it),
    * and blocklist_candidate = n_docs >= minDocs (enough evidence)
    * AND keep_rate <= maxKeepRate. The candidate list feeds
    * [[graft.operators.CorpusPipeline.blocklistFilter]] directly.
    *
    * Scale shape: ONE co-partitioned join on the doc id + ONE
    * map-side-combined aggregation keyed on host — counts and sums
    * only, so a mega-host is a hot KEY but never a hot BUFFER; no
    * window, no driver state. */
  def hostPolicyStats(verdicts: DataFrame, urls: DataFrame,
                      minDocs: Long, maxKeepRate: Double,
                      idCol: String = "doc_id",
                      urlCol: String = "url"): DataFrame = {
    val hosts = urls.select(col(idCol),
        TextFunctions.urlHost(col(urlCol)).as("host"))
      .filter(col("host").isNotNull)
    verdicts.select(col(idCol), col("n_tokens"), col("keep"))
      .join(hosts, Seq(idCol))
      .groupBy("host")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("long")
          .as("n_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L))
          .cast("long").as("kept_tokens"))
      .withColumn("keep_rate",
        col("n_kept").cast("double") / col("n_docs").cast("double"))
      .withColumn("blocklist_candidate",
        col("n_docs") >= minDocs && col("keep_rate") <= maxKeepRate)
      .select("host", "n_docs", "n_kept", "keep_rate", "kept_tokens",
        "blocklist_candidate")
  }

  /** INVERTED INDEX — the materialize-once search structure a corpus
    * serves keyword queries from (BM25's [[bm25TopK]] sibling for
    * boolean retrieval): one row per distinct token with its sorted
    * posting list and document frequency. At corpus scale the table
    * is written out partitioned/bucketed BY TOKEN so a query's terms
    * prune to |terms| buckets; here it stays a DataFrame. Posting
    * lists are `sort_array(collect_list(...))` — set-exact and
    * deterministic (doc ids are distinct per token by construction,
    * so sorting pins the order regardless of shuffle arrival).
    *
    * Scale note: a stopword's posting row IS data-sized — real
    * deployments cap or drop postings with df above a threshold
    * (`maxDf`, the CCNet/Lucene stop-row discipline); the cap is an
    * exact relational filter, not a heuristic.
    */
  def invertedIndex(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id",
                    maxDf: Long = Long.MaxValue): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokenSet(col(textCol))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .filter(col("df") <= maxDf)

  /** Boolean retrieval over an [[invertedIndex]]: docs matching ANY
    * query term, with the distinct-term hit count and the AND flag
    * (n_hit = |terms|). The index side prunes to the |terms| posting
    * rows BEFORE any explode — the work is Σ posting lengths of the
    * query's terms, never corpus size; the per-doc rollup shuffles
    * those postings once, map-side combined.
    */
  def searchIndex(index: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "boolean search needs at least one term")
    require(terms.distinct.size == terms.size,
      s"duplicate query terms would double-count hits: $terms")
    index.filter(col("tok").isin(terms: _*))
      .select(explode(col("postings")).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("and_match", col("n_hit") === terms.size)
  }

  /** Per-document PII profile + scrub — the batch body the streaming
    * ingest gate runs per micro-batch ([[graft.streaming.EventStreams
    * .streamPiiGate]]), extending the H-family regex scrub with the
    * Luhn-gated card count ([[TextFunctions.luhnValid]]): emails,
    * long digit runs, card-shaped candidates and how many
    * CHECKSUM-validate, plus the scrubbed text (emails → <EMAIL>,
    * digit runs → <NUM> — card runs are digit runs, so they scrub
    * with the same pass). Stateless scan-stage columns only: the
    * streamed transform is batch-equivalent by construction.
    *
    * @param plant test-fixture hook: a column transform applied to
    *              the text before profiling (the synthetic corpus
    *              carries no digits — driver queries plant
    *              deterministic runs); identity in production */
  def piiProfile(docs: DataFrame, textCol: String = "text",
                 plant: Column => Column = identity): DataFrame = {
    val t = plant(col(textCol))
    val cands = TextFunctions.cardCandidates(t)
    docs.select(col("doc_id"),
      TextFunctions.emailCount(t).cast("long").as("n_emails"),
      TextFunctions.longNumCount(t).cast("long").as("n_longnums"),
      size(cands).cast("long").as("n_candidates"),
      size(filter(cands, c => TextFunctions.luhnValid(c)))
        .cast("long").as("n_valid_cards"),
      TextFunctions.scrubPii(t).as("scrubbed"))
  }

  /** FUZZY VOCABULARY MATCH — typo-tolerant term lookup (query
    * correction, entity-name reconciliation, OCR-noise repair)
    * with a COMPLETE-by-construction candidate stage: edit distance
    * <= k implies |len(a) − len(b)| <= k, so blocking each query
    * term into its 2k+1 candidate LENGTHS loses no true match
    * (first-letter or n-gram blocking, the usual shortcuts, silently
    * drop prefix-edited pairs). Candidates equi-join on length —
    * the vocab side shuffles once on a short-int key, or broadcasts
    * when the query list is small (Catalyst picks) — then the exact
    * Levenshtein filter keeps dist <= k. Levenshtein is the classic
    * DP (no transpositions) in BOTH engines — integer, so the
    * verdict is hash-exact.
    *
    * @param vocab   (tok) distinct terms, e.g. [[tokenDf]] keys
    * @param terms   query terms (driver-side literals; a DataFrame
    *                overload is the scale path for big query sets)
    * @param maxDist inclusive edit-distance bar (k)
    * @return (query, tok, dist) for every vocab term within k */
  def fuzzyMatch(vocab: DataFrame, terms: Seq[String],
                 maxDist: Int): DataFrame = {
    require(terms.nonEmpty, "fuzzyMatch needs at least one query term")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val spark = vocab.sparkSession
    import scala.jdk.CollectionConverters._
    // each query term exploded to its admissible candidate lengths
    val q = spark.createDataFrame(
      terms.flatMap { t =>
        (math.max(1, t.length - maxDist) to (t.length + maxDist))
          .map(l => org.apache.spark.sql.Row(t, l))
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__ql",
          org.apache.spark.sql.types.IntegerType))))
    vocab.select(col("tok"), length(col("tok")).as("__tl"))
      .join(broadcast(q), col("__tl") === col("__ql"))
      .select(col("query"), col("tok"),
        levenshtein(col("query"), col("tok")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** ASSOCIATION RULES over per-key item baskets — market-basket
    * support / confidence / lift (the classic co-occurrence miner;
    * H35's PMI is ADJACENT-token collocation, this is set
    * co-occurrence within a basket): for every item pair (a < b),
    * how many baskets hold both, and the directional confidences
    * plus lift. Support/confidence are exact long floor-division ppm
    * (numerators bounded by n_ab·1e6 < 2^63 for any real corpus);
    * lift's numerator is n_ab·1e6·n_baskets — a LONG tree would
    * silently wrap in Spark past ~3e6 baskets while the DuckDB
    * replay errors (the groupedR2 overflow class) — so lift runs
    * through a pinned IEEE double tree with a tick floor, identical
    * in the SQL replay: overflow degrades to rounding, gracefully
    * and identically in both engines. Shape: distinct (key, item)
    * pairs (map-side combined), a per-key self-join bounded by
    * items-per-basket² (never baskets²), two broadcast item-count
    * joins, one single-row total. A basket with 10k distinct items
    * is the caller's skew bug, not this operator's — the join
    * explodes quadratically per basket by definition of the measure.
    */
  def associationRules(df: DataFrame, keyCol: String,
                       itemCol: String): DataFrame = {
    val ui = df.select(col(keyCol).as("__k"), col(itemCol).as("__i"))
      .filter(col("__i").isNotNull).distinct()
    val tot = ui.agg(countDistinct(col("__k")).as("n_baskets"))
    val ic = ui.groupBy(col("__i")).agg(count(lit(1)).as("n_item"))
    val pairs = ui.toDF("k", "a").join(ui.toDF("k", "b"), "k")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(ic.select(col("__i").as("a"),
        col("n_item").as("n_a"))), "a")
      .join(broadcast(ic.select(col("__i").as("b"),
        col("n_item").as("n_b"))), "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        call_function("div", col("n_ab") * 1000000L, col("n_baskets"))
          .as("support_ppm"),
        call_function("div", col("n_ab") * 1000000L, col("n_a"))
          .as("conf_a_to_b_ppm"),
        call_function("div", col("n_ab") * 1000000L, col("n_b"))
          .as("conf_b_to_a_ppm"),
        floor(col("n_ab").cast("double") * lit(1000000.0) *
            col("n_baskets").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")))
          .cast("long").as("lift_ppm"))
  }

  /** VOCABULARY GINI CONCENTRATION — how unequally token mass is
    * spread (near 1: a few stop-tokens dominate — normal for natural
    * language; an unusually LOW value on web text flags synthetic or
    * templated corpora whose generators flatten the Zipf curve).
    * Gini over ascending-sorted frequencies:
    * G = 2·Σ(i·f_i)/(n·Σf) − (n+1)/n, ranks from ONE window over the
    * VOCAB table — |vocab| rows, not corpus rows (the H2 rollup
    * already collapsed the corpus); the (freq, token) order is total
    * so ranks are deterministic. Sums are exact longs (contract:
    * rank·freq fits — i.e. |vocab|·max_freq < 2^63; split by shard
    * beyond that), the final tree is pinned IEEE, output one row
    * with the tick floor. */
  def giniConcentration(docs: DataFrame,
                        textCol: String = "text"): DataFrame = {
    val freqs = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("f").asc, col("tok").asc)
    val ranked = freqs.withColumn("i", row_number().over(w).cast("long"))
    val sums = ranked.agg(count(lit(1)).as("n_vocab"),
      sum(col("f")).as("n_tokens"),
      sum(col("i") * col("f")).as("s_if"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    sums.select(col("n_vocab"), col("n_tokens"),
      floor(lit(1e6) *
        ((lit(2.0) * d(col("s_if"))) / (d(col("n_vocab")) * d(col("n_tokens")))
          - (d(col("n_vocab")) + 1.0) / d(col("n_vocab"))))
        .cast("long").as("gini_ticks"))
  }
}
