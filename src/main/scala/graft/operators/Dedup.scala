package graft.operators

import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators (documents table).
  *
  * Every candidate-generation step is an equi-join on a derived key
  * (hash, LSH band, blocking key) — never a cross join — so each
  * variant scales to 100 TB as shuffle-on-key + bounded per-bucket
  * fan-out.
  */
object Dedup {

  /** Exact dedup on normalized text: md5 hash-groupBy, keep the
    * minimum doc id, report copy counts. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs
      .withColumn("text_hash", md5(lower(trim(col(textCol))).cast("binary")))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))

  /** Normalized near-exact dedup: [[TextFunctions.normalizeText]]
    * (lowercase / strip punctuation / collapse whitespace) before the
    * hash-groupBy — the standard first rung of the fuzzy-dedup ladder
    * (catches case-shifted, re-punctuated, re-wrapped copies) at
    * exact-dedup cost: one map-side-combined aggregation on the
    * normalized hash, no pair join. `n_variants` counts the DISTINCT
    * raw texts merged into each group — >1 is exactly the signal
    * byte-exact dedup would have missed.
    *
    * `unicodeFold = true` prepends the FULL Unicode fold
    * ([[TextFunctions.unicodeFold]]: NFKC width/compat/case/mark
    * fold + confusable translate) — the multilingual rung: a
    * full-width, ligatured, or homoglyph-respelled copy hashes
    * identically. Production path, not SQL-replayable (the F3/F4
    * pattern: q_unicode_fold drives the expression over a
    * fixture-subset oracle; the spec pins the fold table). */
  def normalizedExact(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      unicodeFold: Boolean = false): DataFrame =
    docs
      .withColumn("norm_hash",
        md5(TextFunctions.normalizeText(
          if (unicodeFold) TextFunctions.unicodeFold(col(textCol))
          else col(textCol)).cast("binary")))
      .groupBy(col("norm_hash"))
      .agg(min(col(idCol)).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"),
        count_distinct(col(textCol)).as("n_variants"))

  /** URL-level dedup — the crawl pipeline's cheapest and
    * highest-yield rung, run BEFORE any content dedup: canonicalize
    * each document's URL ([[TextFunctions.canonicalizeUrl]] — case,
    * www, default ports, tracking params, fragments, trailing slash)
    * and keep the minimum doc id per canonical URL. One map-side-
    * combined hash aggregation on the canonical string; no pair
    * join, no text read — at 100 TB this collapses re-crawls without
    * touching the document bodies. `n_url_variants` counts the
    * distinct raw spellings each canonical absorbed (>1 = the
    * duplication raw-URL dedup would have missed).
    *
    * Null/empty-URL rows are NOT deduplicated against each other:
    * each survives as its own singleton group with a null
    * canonical_url (grouping them would silently drop every no-URL
    * doc but one — [[CorpusPipeline.crawlPrepare]] routes these rows
    * around the dedup explicitly; direct callers get the same
    * protection here). */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
               idCol: String = "doc_id"): DataFrame = {
    // the flag rides in the grouping key, so a no-URL row's id-keyed
    // singleton group can never collide with a real canonical URL
    val noUrl = col(urlCol).isNull || col(urlCol) === ""
    val key = when(noUrl, col(idCol).cast("string"))
      .otherwise(TextFunctions.canonicalizeUrl(col(urlCol)))
    docs
      .groupBy(noUrl.as("__nourl"), key.as("__k"))
      .agg(min(col(idCol)).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"),
        count_distinct(col(urlCol)).as("n_url_variants"))
      .select(
        when(col("__nourl"), lit(null)).otherwise(col("__k"))
          .as("canonical_url"),
        col("keeper_doc_id"), col("n_copies"), col("n_url_variants"))
  }

  /** Shared prefix-filtered inverted-index scaffolding for the
    * set-similarity joins: tokenize once (persisted), df-rank tokens
    * globally, keep each doc's ⌊sz − ceil(τ·sz)⌋ + 1 rarest tokens as
    * its prefix, and expose the hashed sorted token sets for the
    * verify stage. The ceil subtracts a 1e-9 epsilon: τ·sz computed
    * in doubles can land one ulp ABOVE the exact product (0.9 × 10 =
    * 9.000000000000002), which would shorten the prefix by one token
    * and break the pigeonhole recall guarantee; the epsilon undoes
    * that without affecting exact-integer products.
    * Returns (base, tok, prefix, sets) — base and prefix are
    * persisted; the caller releases them via materializeAndRelease. */
  private def prefixIndex(docs: DataFrame, blockingKeys: Seq[String],
                          threshold: Double, idCol: String,
                          textCol: String)
  : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = docs.select(
      (col(idCol).as("id") +: blockingKeys.map(col)) :+
        TextFunctions.tokenSet(col(textCol)).as("toks"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // complete the cache before multi-branch reads
    prefixIndexFromBase(base, blockingKeys, threshold)
  }

  /** The df-rank/prefix tail of [[prefixIndex]] over a PREPARED,
    * already-persisted-and-materialized `(id, <blockingKeys>, toks:
    * array<string> DISTINCT tokens)` base — split out (r18) so a
    * harness that derives several indexes from one tokenized corpus
    * (q_minhash_recall's exact side shares the base with the minhash
    * sketch) tokenizes ONCE instead of once per chain. */
  private def prefixIndexFromBase(base: DataFrame,
                                  blockingKeys: Seq[String],
                                  threshold: Double)
  : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // set size rides along from the scan — deriving it later with a
    // count() window would add a second window pass over the sorted
    // partitions for a value already known at tokenize time
    val tok = base.select(
      (col("id") +: blockingKeys.map(col)) :+
        size(col("toks")).as("__sz") :+ explode(col("toks")).as("tok"): _*)
    // global df order: (df asc, tok asc) — broadcast-joined back
    val df_ = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked = tok.join(broadcast(df_), "tok")
      .withColumn("__ord", struct(col("df"), col("tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("__ord"))
    // joined below (a × b) — persist so the df-join + window run
    // once, not once per join branch
    val prefix = ranked
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <=
        col("__sz") - ceil(lit(threshold) * col("__sz") - lit(1e-9)) + 1)
      .select((col("id") +: blockingKeys.map(col)) :+ col("tok"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    prefix.count() // complete the cache before the candidate join
    // hashed sorted-distinct sets for the codegen'd merge-walk verify
    // (same sizes/intersections, cheaper compares, ~4x smaller)
    val sets = base.select(col("id"),
      sort_array(array_distinct(transform(col("toks"), t => xxhash64(t))))
        .as("toks"))
    (base, tok, prefix, sets)
  }

  /** Prefix-filtered token-set Jaccard similarity join within
    * blocking keys (the PPJoin candidate bound).
    *
    * Tokens are globally ordered by document frequency (rarest
    * first); each doc indexes only its first ⌊|set|−⌈τ·|set|⌉⌋+1
    * tokens. Any pair with J ≥ τ shares its globally-smallest common
    * token inside BOTH prefixes (pigeonhole), so recall is exact —
    * but a ubiquitous token ("the", df≈n) no longer produces an O(n²)
    * candidate blowup because it sits at the END of the df order and
    * rarely lands in a prefix. Candidates are deduped to (a,b) id
    * pairs, then each side's full token set is fetched ONCE for the
    * exact-jaccard verify (array_intersect) — the arrays never ride
    * through the candidate join itself. */
  def ngramJaccardPairs(docs: DataFrame, blockingKeys: Seq[String],
                        threshold: Double, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val base = docs.select(
      (col(idCol).as("id") +: blockingKeys.map(col)) :+
        TextFunctions.tokenSet(col(textCol)).as("toks"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // complete the cache before multi-branch reads
    ngramJaccardPairsFromTokens(base, blockingKeys, threshold)
  }

  /** [[ngramJaccardPairs]] over a PREPARED tokenized base
    * `(id, <blockingKeys>, toks: array<string> distinct tokens)` that
    * the caller has already persisted and materialized — the share-
    * one-tokenize entry for harnesses that run several chains over
    * the same corpus (r18). Identical output to [[ngramJaccardPairs]]
    * on the same docs (the base expression is the same; spec-pinned).
    * NOTE: releases `base` when the pair table materializes — the
    * caller's other consumers must have materialized first. */
  private[graft] def ngramJaccardPairsFromTokens(base: DataFrame,
                                                 blockingKeys: Seq[String],
                                                 threshold: Double)
  : DataFrame = {
    val (b, _, prefix, sets) =
      prefixIndexFromBase(base, blockingKeys, threshold)
    // symmetric candidate join: prefix x prefix, a < b
    val a = prefix.toDF(prefix.columns.toIndexedSeq.map(c => s"a_$c"): _*)
    val bb = prefix.toDF(prefix.columns.toIndexedSeq.map(c => s"b_$c"): _*)
    val joinCond = (blockingKeys.map(k => col(s"a_$k") === col(s"b_$k")) :+
      (col("a_tok") === col("b_tok")) :+ (col("a_id") < col("b_id")))
      .reduce(_ && _)
    val cands = a.join(bb, joinCond)
      .select(col("a_id"), col("b_id")).distinct()
    CacheOps.materializeAndRelease(
      cands
        .join(sets.select(col("id").as("a_id"), col("toks").as("a_toks")), "a_id")
        .join(sets.select(col("id").as("b_id"), col("toks").as("b_toks")), "b_id")
        .withColumn("jaccard",
          graft.expressions.SortedIntersect.jaccard(col("a_toks"), col("b_toks")))
        .filter(col("jaccard") >= threshold)
        .select(col("a_id"), col("b_id"), col("jaccard")),
      b, prefix)
  }

  /** DEDUP THRESHOLD SWEEP — the tuning curve BEFORE committing to a
    * jaccard bar: pair generation runs ONCE at the loosest requested
    * threshold (prefix filtering is recall-complete for everything
    * above it), then each threshold is a cheap filtered aggregate
    * over the materialized pair table. "Materialized" is load-
    * bearing and lives INSIDE [[ngramJaccardPairs]]: its result
    * comes back persisted and eagerly counted
    * (CacheOps.materializeAndRelease), so although the candidate-
    * join subtree appears |thresholds| times in the unioned LOGICAL
    * plan, every per-threshold aggregate executes as an
    * InMemoryTableScan of the one cached pair table (plan-guarded in
    * the spec) — the join itself never re-runs. Per threshold: pairs
    * surviving, documents
    * flagged (distinct larger-id side: the kept-min casualty count,
    * an upper bound — the exact survivor count needs the F6 cluster
    * pass, which the CHOSEN threshold then runs), survivors. One
    * expensive stage, |thresholds| cheap ones; reading the curve is
    * how 0.8-vs-0.9 stops being folklore for a given corpus.
    */
  def thresholdSweep(docs: DataFrame, blockingKeys: Seq[String],
                     thresholds: Seq[Double],
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(thresholds.nonEmpty &&
      thresholds.forall(t => t > 0 && t <= 1),
      s"thresholds must be in (0, 1], got $thresholds")
    val pairs = ngramJaccardPairs(docs, blockingKeys, thresholds.min,
      idCol, textCol)
    val total = docs.select(col(idCol)).distinct().count()
    thresholds.sorted.map { t =>
      pairs.filter(col("jaccard") >= t)
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(countDistinct(col("b_id")), lit(0L)).as("n_dup_docs"))
        .select(lit(t).as("threshold"), col("n_pairs"),
          col("n_dup_docs"),
          (lit(total) - col("n_dup_docs")).as("n_survivors"))
    }.reduce(_ unionByName _)
  }

  /** Directed set-containment near-dup pairs: (a, b) where
    * |A∩B| / |A| ≥ τ — doc a's token set is (nearly) subsumed by
    * doc b's (the boilerplate-page / quoted-reply / truncated-copy
    * case that symmetric Jaccard misses when sizes differ a lot).
    *
    * Candidate generation is the ASYMMETRIC prefix-filtered inverted
    * index: only the probe (contained) side is prefix-pruned — if
    * |A∩B| ≥ τ|A| then A shares one of its ⌊|A|−⌈τ|A|⌉⌋+1 rarest
    * tokens with B (pigeonhole on A alone), so the candidate join is
    * A.prefix × B.fullIndex, recall-exact. Hot tokens stay out of
    * prefixes (df-ranked), which bounds the blowup the full×full
    * token join would have. Verify fetches each side's hashed token
    * set once and runs the codegen'd merge-walk intersect. */
  def containmentPairs(docs: DataFrame, blockingKeys: Seq[String],
                       threshold: Double, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val (base, tok, prefix, sets) =
      prefixIndex(docs, blockingKeys, threshold, idCol, textCol)
    // asymmetric candidate join: A.prefix x B.fullIndex, directed
    val a = prefix.toDF(prefix.columns.toIndexedSeq.map(c => s"a_$c"): _*)
    val b = tok.toDF(tok.columns.toIndexedSeq.map(c => s"b_$c"): _*)
    val joinCond = (blockingKeys.map(k => col(s"a_$k") === col(s"b_$k")) :+
      (col("a_tok") === col("b_tok")) :+ (col("a_id") =!= col("b_id")))
      .reduce(_ && _)
    val cands = a.join(b, joinCond)
      .select(col("a_id"), col("b_id")).distinct()
    CacheOps.materializeAndRelease(
      cands
        .join(sets.select(col("id").as("a_id"), col("toks").as("a_toks")), "a_id")
        .join(sets.select(col("id").as("b_id"), col("toks").as("b_toks")), "b_id")
        .withColumn("containment",
          graft.expressions.SortedIntersect.size(col("a_toks"), col("b_toks"))
            .cast("double") / size(col("a_toks")))
        .filter(col("containment") >= threshold)
        .select(col("a_id"), col("b_id"), col("containment")),
      base, prefix)
  }

  /** Verified MinHash near-dup pairs, staged for 100 TB:
    *
    *  1. band-key equi-join carries ONLY (id, bandkey) — no arrays;
    *  2. candidate (a_id, b_id) pairs deduped BEFORE anything heavy;
    *  3. cheap signature-agreement prefilter: join each side's
    *     numHashes-long signature (16 longs, not the shingle set) and
    *     require matching fraction >= threshold − slack. E[match
    *     fraction] = true jaccard, so this discards the flood of
    *     low-similarity candidates a dense corpus produces for the
    *     cost of an int compare — the expensive exact verify below
    *     never sees them (slack 0.15 keeps estimator-variance recall
    *     loss well under LSH's own miss rate);
    *  4. exact shingle-Jaccard verify only on survivors, fetching
    *     each side's shingle array once. */
  def minhashPairs(docs: DataFrame, threshold: Double, numHashes: Int = 16,
                   bands: Int = 4, shingleN: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // shingles are 64-bit-hashed up front: set size, intersection and
    // therefore jaccard are unchanged (collisions ~2^-64), while the
    // verify-stage array_intersect compares longs instead of strings
    // and the arrays shipped to candidates shrink ~4x
    // The sketch table (id, shingle-hashes, signature) is referenced
    // by FIVE plan branches below (banding + 2 signature joins + 2
    // shingle joins); Spark recomputes unshared subtrees per branch,
    // so without a persist the text→shingle→numHashes-minima pipeline
    // — the expensive part — runs 5x. Persisting the compact derived
    // table (a few hundred bytes/doc, MEMORY_AND_DISK so it spills,
    // never fails) is the same move a production pipeline makes by
    // checkpointing the signature table before the candidate join.
    // sorted-distinct so the verify step can use the codegen'd
    // merge-walk jaccard (one sort per DOC buys an allocation-free
    // O(n) loop per candidate PAIR)
    minhashPairsFromSketch(
      minhashSketch(docs, numHashes, shingleN, idCol, textCol),
      threshold, numHashes, bands)
  }

  /** The band/prefilter/verify pipeline of [[minhashPairs]] over a
    * PREPARED sketch `(id, sh: sorted-distinct array<bigint>, sig:
    * array<bigint>)` — the hash family is the caller's choice. The
    * production path ([[minhashPairs]]) supplies xxhash64 shingles +
    * the codegen'd MinHashSig; the driver's oracle query supplies an
    * md5-derived family an external SQL engine can replay bit-exactly,
    * so THIS machinery (banding, candidate equi-join, signature
    * prefilter, exact verify) is what the DuckDB hash-compare
    * certifies — the same promotion pattern as simhash's
    * [[hammingPairs]]. */
  def minhashPairsFromSketch(sketchDf: DataFrame, threshold: Double,
                             numHashes: Int, bands: Int): DataFrame = {
    val sketch = sketchDf
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize the cache BEFORE the multi-branch join pipeline:
    // concurrent branches populating a lazy cache race and each
    // recompute the partitions they touch first (measured 6x worse
    // than no cache at all on local[32]).
    sketch.count()
    val base = sketch.select(col("id"), col("sh"))
    val sigs = sketch.select(col("id"), col("sig"))
    val banded = sigs.select(col("id"),
      explode(HashFunctions.bandKeys(col("sig"), bands,
        numHashes / bands)).as("bk"))
    val cands = banded.alias("x").join(banded.alias("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
    val minAgree = math.max(0, math.ceil((threshold - 0.15) * numHashes)).toInt
    val agree = size(filter(
      zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
      m => m))
    val prefiltered = cands
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .filter(agree >= minAgree)
      .select(col("a_id"), col("b_id"))
    CacheOps.materializeAndRelease(
      prefiltered
        .join(base.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
        .join(base.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
        .withColumn("jaccard",
          graft.expressions.SortedIntersect.jaccard(col("a_sh"), col("b_sh")))
        .filter(col("jaccard") >= threshold)
        .select(col("a_id"), col("b_id"), col("jaccard")),
      sketch)
  }

  /** The (id, sh, sig) MinHash sketch [[minhashPairs]] builds — split
    * out so a production pipeline can compute it ONCE, write it to a
    * parquet table, and run both self-dedup ([[minhashPairsFromSketch]])
    * and incremental probes ([[incrementalMinhashPairs]]) against the
    * stored sketch without re-shingling the corpus. */
  def minhashSketch(docs: DataFrame, numHashes: Int = 16, shingleN: Int = 3,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    unicodeFold: Boolean = false): DataFrame = {
    // unicodeFold: shingle over the folded text so a full-width /
    // ligatured / diacritic-respelled copy of a document — or of an
    // eval answer fed to fuzzyDecontaminate — produces the SAME
    // shingle hashes (the multilingual decontamination rung; the
    // fold is the scan-stage production path, spec-pinned)
    val t = if (unicodeFold) TextFunctions.unicodeFold(col(textCol))
      else col(textCol)
    docs.select(col(idCol).as("id"),
      sort_array(array_distinct(transform(TextFunctions.shingles(
        TextFunctions.tokens(t), shingleN),
        s => xxhash64(s)))).as("sh"))
      .withColumn("sig",
        graft.expressions.MinHashSig.of(col("sh"), numHashes))
  }

  /** Incremental near-dup detection — the daily-batch production
    * shape: a small NEW batch is probed against the stored corpus
    * sketch instead of re-pairing the whole corpus (self-dedup of
    * corpus ∪ batch redoes O(corpus) sketch + band work per day;
    * this does O(batch) + a key-lookup join).
    *
    * Both inputs are `(id, sh: sorted-distinct array<bigint>, sig:
    * array<bigint>)` sketches ([[minhashSketch]], or any
    * engine-portable family — the driver's oracle replays the md5
    * family end-to-end). Returns `(new_id, corpus_id, jaccard)` —
    * each verified near-duplicate of the corpus in the new batch.
    *
    * Scale shape (100 TB corpus, GB-scale daily batch):
    *  - the corpus side is read THREE times (band projection,
    *    signature fetch, shingle fetch) but each branch prunes to the
    *    2-3 columns it needs — three columnar scans of a stored
    *    sketch table, never a re-shingle of the raw corpus;
    *  - the band probe is an equi-join on `bk`; store the corpus band
    *    projection bucketed by `bk` (see BucketingSpec's pattern) and
    *    the probe shuffles ONLY the batch side;
    *  - candidate pairs are LSH-sparse, so the two verify fetches are
    *    small-⋈-big key lookups AQE resolves to broadcast of the
    *    candidate side; storing the sketch bucketed by `id` removes
    *    even that shuffle;
    *  - only the BATCH sketch is persisted (it drives two probe
    *    branches and is batch-sized); the corpus is never cached. */
  def incrementalMinhashPairs(newSketch: DataFrame, corpusSketch: DataFrame,
                              threshold: Double, numHashes: Int = 16,
                              bands: Int = 4): DataFrame = {
    val batch = newSketch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batch.count() // materialize before the multi-branch fan-out (see
                  // minhashPairsFromSketch: lazy caches race)
    val rows = numHashes / bands
    def bandKeysOf(df: DataFrame, idAs: String) = df.select(
      col("id").as(idAs),
      explode(HashFunctions.bandKeys(col("sig"), bands, rows)).as("bk"))
    val cands = bandKeysOf(batch, "new_id")
      .join(bandKeysOf(corpusSketch, "corpus_id"), "bk")
      .select(col("new_id"), col("corpus_id"))
      .distinct()
    verifyIncrementalCandidates(cands, batch, corpusSketch,
      threshold, numHashes)
  }

  /** `(id, bandkey: bigint)` band-index projection of a sketch — the
    * STORABLE form of the LSH candidate index. `bandkey` folds the
    * band ordinal into the hash so cross-band collisions can't pair
    * (a hash collision only adds a candidate the verify stage
    * discards). Write it with [[Bucketing.writeBucketed]] on
    * `bandkey` and the daily probe join shuffles only the batch side
    * ([[incrementalMinhashPairsIndexed]]). */
  def sketchBandIndex(sketch: DataFrame, numHashes: Int = 16,
                      bands: Int = 4): DataFrame =
    sketch.select(col("id"),
        explode(HashFunctions.bandKeys(col("sig"), bands,
          numHashes / bands)).as("bk"))
      .select(col("id"),
        xxhash64(col("bk.band"), col("bk.key")).as("bandkey"))

  /** [[incrementalMinhashPairs]] with candidate generation driven by
    * a PRE-BUILT corpus band index `(id, bandkey)` — at corpus scale
    * the index lives as a bucketed-by-`bandkey` table
    * ([[sketchBandIndex]] + [[Bucketing.writeBucketed]]), so the band
    * probe exchanges ONLY the batch side; the corpus sketch is still
    * consulted for the signature/shingle verify fetches, which are
    * candidate-sized key lookups. */
  def incrementalMinhashPairsIndexed(newSketch: DataFrame,
                                     corpusSketch: DataFrame,
                                     corpusBandIndex: DataFrame,
                                     threshold: Double, numHashes: Int = 16,
                                     bands: Int = 4): DataFrame = {
    val batch = newSketch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batch.count()
    val cands = sketchBandIndex(batch, numHashes, bands)
      .withColumnRenamed("id", "new_id")
      .join(corpusBandIndex.select(col("id").as("corpus_id"),
        col("bandkey")), "bandkey")
      .select(col("new_id"), col("corpus_id"))
      .distinct()
    verifyIncrementalCandidates(cands, batch, corpusSketch,
      threshold, numHashes)
  }

  /** Shared verify tail of the incremental probes: signature-agreement
    * prefilter, then the exact sorted-merge jaccard over shingle
    * hashes. Releases `batch`'s persist. */
  private def verifyIncrementalCandidates(cands: DataFrame, batch: DataFrame,
                                          corpusSketch: DataFrame,
                                          threshold: Double,
                                          numHashes: Int): DataFrame = {
    val minAgree = math.max(0, math.ceil((threshold - 0.15) * numHashes)).toInt
    val agree = size(filter(
      zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
      m => m))
    val prefiltered = cands
      .join(batch.select(col("id").as("new_id"), col("sig").as("a_sig")),
        "new_id")
      .join(corpusSketch.select(col("id").as("corpus_id"),
        col("sig").as("b_sig")), "corpus_id")
      .filter(agree >= minAgree)
      .select(col("new_id"), col("corpus_id"))
    CacheOps.materializeAndRelease(
      prefiltered
        .join(batch.select(col("id").as("new_id"), col("sh").as("a_sh")),
          "new_id")
        .join(corpusSketch.select(col("id").as("corpus_id"),
          col("sh").as("b_sh")), "corpus_id")
        .withColumn("jaccard",
          graft.expressions.SortedIntersect.jaccard(col("a_sh"), col("b_sh")))
        .filter(col("jaccard") >= threshold)
        .select(col("new_id"), col("corpus_id"), col("jaccard")),
      batch)
  }

  /** FUZZY decontamination — near-duplicate eval-set leakage removal
    * (the gap [[graft.operators.Corpus.decontaminate]] leaves open: a
    * PERTURBED benchmark clone — punctuation drift, a dropped token —
    * shares almost no exact n-gram shingles with its source, so the
    * exact-overlap gate misses it, while its minhash jaccard stays
    * high). The F14 incremental-probe machinery pointed at the eval
    * set: the BENCHMARK sketch is the stored index, the corpus is
    * the probe batch, candidates verify with exact jaccard over
    * shingle-hash sets, and the report is per-CORPUS-doc max overlap
    * (the H10 shape): `(id, max_jaccard, bench_id, contaminated)`
    * for every corpus doc — bench_id is the best-matching benchmark
    * doc (ties to the smallest id), max_jaccard is 0 with a null
    * bench_id when no candidate survives the LSH band + signature
    * prefilter.
    *
    * Scale shape (100 TB corpus, eval sets of 1e3-1e6 docs): the
    * bench side is BROADCAST twice (band keys for candidacy, then
    * sig+shingles for the verify), so the corpus is never shuffled —
    * candidacy and verification both happen inside the corpus scan
    * stage; the only keyed exchanges carry the LSH-sparse candidate
    * set (per-doc max groupBy, then the report join AQE resolves to
    * a broadcast of the tiny verdict side).
    *
    * `broadcastBench = false` is the bench-TOO-BIG form (an eval
    * union of 1e7+ docs whose sketches exceed broadcast limits — the
    * H10 bloom-path duality): candidacy becomes a SHUFFLE_HASH join
    * on the band key — the corpus contributes only its (id, bk)
    * band-key pairs to that exchange, never text or shingles — and
    * the verify fetch hash-joins on bench_id. Bit-identical output
    * (spec-pinned). */
  def fuzzyDecontaminate(corpusSketch: DataFrame, benchSketch: DataFrame,
                         threshold: Double, numHashes: Int = 16,
                         bands: Int = 4,
                         broadcastBench: Boolean = true): DataFrame = {
    val bench = benchSketch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bench.count()
    val rows = numHashes / bands
    def bandKeysOf(df: DataFrame, idAs: String) = df.select(
      col("id").as(idAs),
      explode(HashFunctions.bandKeys(col("sig"), bands, rows)).as("bk"))
    def benchSide(df: DataFrame): DataFrame =
      if (broadcastBench) broadcast(df) else df.hint("SHUFFLE_HASH")
    val cands = bandKeysOf(corpusSketch, "corpus_id")
      .join(benchSide(bandKeysOf(bench, "bench_id")), "bk")
      .select(col("corpus_id"), col("bench_id"))
      .distinct()
    val minAgree = math.max(0, math.ceil((threshold - 0.15) * numHashes)).toInt
    val agree = size(filter(
      zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
      m => m))
    val verified = cands
      .join(corpusSketch.select(col("id").as("corpus_id"),
        col("sig").as("a_sig"), col("sh").as("a_sh")), "corpus_id")
      .join(benchSide(bench.select(col("id").as("bench_id"),
        col("sig").as("b_sig"), col("sh").as("b_sh"))), "bench_id")
      .filter(agree >= minAgree)
      .withColumn("jaccard",
        graft.expressions.SortedIntersect.jaccard(col("a_sh"), col("b_sh")))
    // per-doc argmax with a pinned tie: max over (jaccard, -bench_id)
    // structs → highest jaccard, then SMALLEST bench id
    val best = verified
      .groupBy(col("corpus_id"))
      .agg(max(struct(col("jaccard"), (-col("bench_id")).as("nb"))).as("m"))
      .select(col("corpus_id").as("id"),
        col("m").getField("jaccard").as("max_jaccard"),
        (-col("m").getField("nb")).as("bench_id"))
    CacheOps.materializeAndRelease(
      corpusSketch.select("id").join(best, Seq("id"), "left")
        .na.fill(0.0, Seq("max_jaccard"))
        .withColumn("contaminated", col("max_jaccard") >= threshold),
      bench)
  }

  /** Text-level convenience over [[incrementalMinhashPairs]] with the
    * production xxhash64 + codegen'd-MinHashSig family. */
  def incrementalMinhash(newDocs: DataFrame, corpus: DataFrame,
                         threshold: Double, numHashes: Int = 16,
                         bands: Int = 4, shingleN: Int = 3,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    incrementalMinhashPairs(
      minhashSketch(newDocs, numHashes, shingleN, idCol, textCol),
      minhashSketch(corpus, numHashes, shingleN, idCol, textCol),
      threshold, numHashes, bands)

  /** Per-doc 64-bit SimHash + hamming band keys (always non-empty);
    * near-dup pairs via [[simhashPairs]]. */
  def simhashProfile(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      HashFunctions.simhash(TextFunctions.tokens(col(textCol))).as("simhash"))
      .withColumn("bands", HashFunctions.hammingBands(col("simhash"), 4))
      .select(col("doc_id"), col("simhash"),
        col("bands")(0)("key").as("band0"), col("bands")(1)("key").as("band1"),
        col("bands")(2)("key").as("band2"), col("bands")(3)("key").as("band3"))

  /** Hamming-≤-maxHamming pairs over PRECOMPUTED 64-bit codes via the
    * band equi-join: two codes within hamming distance (bands−1)
    * share at least one identical bit-slice (pigeonhole), so for
    * maxHamming ≤ bands−1 recall is exact while candidate generation
    * stays a shuffle-on-band-key join, never all-pairs. */
  def hammingPairs(coded: DataFrame, maxHamming: Int = 3, bands: Int = 4,
                   idCol: String = "id", codeCol: String = "code"): DataFrame = {
    val base = coded.select(col(idCol).as("id"), col(codeCol).as("code"))
    val banded = base.select(col("id"), col("code"),
      explode(HashFunctions.hammingBands(col("code"), bands)).as("bk"))
    banded.alias("x").join(banded.alias("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        col("x.code").as("a_code"), col("y.code").as("b_code"))
      .distinct()
      .withColumn("hamming", bit_count(col("a_code").bitwiseXOR(col("b_code"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** SimHash near-dup pairs with hamming <= maxHamming (<= bands−1
    * guarantees exact recall via pigeonhole). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hammingPairs(docs.select(col(idCol).as("id"),
      HashFunctions.simhash(TextFunctions.tokens(col(textCol))).as("code")),
      maxHamming)

  /** Embedding-cosine near-dup pairs within a blocking key (label):
    * EXACT cosine-threshold self-join, triangle-TILED for scale.
    *
    * Why exact and why tiled: an exact threshold join over DENSE
    * vectors has no subquadratic algorithm — prefix-filter pruning
    * (ngramJaccardPairs) needs sparsity, and hyperplane LSH only wins
    * when the threshold is high (see [[embeddingCosinePairsLsh]]'s
    * regime math; at this corpus's τ = 0.35 operating point any LSH
    * parameterization with recall ≥ 0.95 generates MORE candidates
    * than brute force). So the per-block pair count is inherent; what
    * must NOT happen at 100 TB is a plain self-join on the block key,
    * which shuffles every block into ONE task — a low-cardinality
    * block key turns that task into an (n/|blocks|)² straggler/OOM.
    *
    * The fix is deterministic triangle tiling: each row gets a tile
    * t = xxhash64(id) mod T; the row side replicates to tile pairs
    * (t, u) for u ∈ [t, T), the col side to (t', u) for t' ∈ [0, u],
    * and the join key is (block, t, u). Every unordered cross-tile
    * pair meets in exactly one tile pair and diagonal tiles dedupe on
    * id order, so the pair set is EXACTLY the blocked all-pairs set —
    * but the block's quadratic work now spreads evenly over
    * T·(T+1)/2 independent tasks with (n_blk/T)² pairs each, at the
    * cost of shuffling (T+1)× the vector data. Pick T ≈ n_blk·dim /
    * (per-task FLOP budget); 8 is right for the test SFs.
    *
    * Norms are precomputed once per ROW before replication — the
    * naive cosine-per-pair recomputes both norms for every candidate
    * pair (O(pairs·dim) extra fold work at 100 TB).
    *
    * `tiles` <= 0 auto-sizes PER BLOCK: T_blk = ceil(blockRows /
    * 2048), capped at 256, broadcast-joined back onto the cached
    * projection — so a skewed giant block gets the tiling it needs
    * while small blocks keep T = 1 instead of paying the global-max
    * T's (T+1)× replication for zero pair-count benefit. The stats
    * side is one row per distinct blocking key (and a key cardinality
    * too high to broadcast implies blocks too small to need tiling —
    * pass an explicit `tiles` there). Targeting ~4M scored pairs per
    * task keeps per-task work minutes-not-hours whatever the skew. */
  def embeddingCosinePairs(embs: DataFrame, threshold: Double,
                           blockCol: String = "label",
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           tiles: Int = 8): DataFrame = {
    val v0 = embs.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(vecCol).as("vec"), VectorFunctions.norm(col(vecCol)).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    v0.count() // complete the cache before the multi-branch read
    val sized =
      if (tiles > 0) v0.withColumn("nt", lit(tiles))
      else {
        val stats = v0.groupBy("blk").agg(count(lit(1)).as("__cnt"))
          .select(col("blk"),
            least(lit(256), greatest(lit(1),
              ceil(col("__cnt") / lit(2048.0)))).cast("int").as("nt"))
        v0.join(broadcast(stats), "blk")
      }
    val v = sized.withColumn("tile",
      pmod(xxhash64(col("id")), col("nt")).cast("int"))
    val rows = v.select(col("id").as("a_id"), col("blk"),
      col("vec").as("a_vec"), col("nrm").as("a_nrm"),
      col("tile").as("t"),
      explode(sequence(col("tile"), col("nt") - 1)).as("u"))
    val cols_ = v.select(col("id").as("b_id"), col("blk"),
      col("vec").as("b_vec"), col("nrm").as("b_nrm"),
      explode(sequence(lit(0), col("tile"))).as("t"), col("tile").as("u"))
    val denom = col("a_nrm") * col("b_nrm")
    CacheOps.materializeAndRelease(
      rows.join(cols_, Seq("blk", "t", "u"))
        // diagonal tiles see both orders + self; cross tiles exactly once
        .filter(col("t") =!= col("u") || col("a_id") < col("b_id"))
        .withColumn("cos", when(denom === 0.0, lit(0.0))
          .otherwise(VectorFunctions.dot(col("a_vec"), col("b_vec")) / denom))
        .filter(col("cos") >= threshold)
        // cross-tile orientation is by tile, not id — normalize (dot
        // and norms are accumulation-order-identical either way)
        .select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id"), col("cos")),
      v0)
  }

  /** APPROXIMATE embedding near-dup pairs: multi-table random-
    * hyperplane LSH candidate blocking + exact cosine verify — the
    * staged candidate/verify shape of [[minhashPairs]], for the
    * regime where it actually wins.
    *
    * Regime math (collision prob per bit p = 1 − acos(cos)/π;
    * a random pair has p ≈ 0.5): candidate volume ≈ nTables/2^nBits
    * of all-pairs, recall = 1 − (1 − p^nBits)^nTables. At τ = 0.9
    * (p ≈ 0.857), nBits = 8 / nTables = 12 gives ~4.7% of all-pairs
    * candidates at recall ≈ 0.97. At τ = 0.35 (p ≈ 0.61) the same
    * recall needs nTables ≈ 3·(1/p)^nBits, i.e. MORE candidates than
    * brute force for every nBits — use the tiled exact join
    * [[embeddingCosinePairs]] there instead. [[pairRecall]] measures
    * the achieved recall/precision against the exact pair set
    * (q_embed_recall). */
  def embeddingCosinePairsLsh(embs: DataFrame, threshold: Double,
                              dim: Int, nBits: Int = 8, nTables: Int = 12,
                              blockCol: String = "label",
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val v = embs.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(vecCol).as("vec"), VectorFunctions.norm(col(vecCol)).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    v.count()
    // (table, code) bucket keys: the candidate join carries only
    // (id, blk, bucket) — vectors never ride the multi-table join
    val coded = v.select(col("id"), col("blk"),
      explode(array((0 until nTables).map(t =>
        struct(lit(t).as("t"),
          VectorFunctions.hyperplaneCode(col("vec"), dim, nBits, t)
            .as("code"))): _*)).as("bk"))
    val cands = coded.alias("x").join(coded.alias("y"),
        col("x.blk") === col("y.blk") && col("x.bk") === col("y.bk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct() // dedupe across tables BEFORE fetching vectors
    val denom = col("a_nrm") * col("b_nrm")
    CacheOps.materializeAndRelease(
      cands
        .join(v.select(col("id").as("a_id"), col("vec").as("a_vec"),
          col("nrm").as("a_nrm")), "a_id")
        .join(v.select(col("id").as("b_id"), col("vec").as("b_vec"),
          col("nrm").as("b_nrm")), "b_id")
        .withColumn("cos", when(denom === 0.0, lit(0.0))
          .otherwise(VectorFunctions.dot(col("a_vec"), col("b_vec")) / denom))
        .filter(col("cos") >= threshold)
        .select(col("a_id"), col("b_id"), col("cos")),
      v)
  }

  /** SemDeDup (Abbas et al. 2023 shape): cluster-scoped semantic
    * dedup — assign every embedding to its nearest centroid (the
    * same argmin-over-broadcast-matrix assignment as [[Ivf]]), then
    * compare pairs ONLY within a cell and drop every member that has
    * a smaller-id neighbor at cosine ≥ `threshold` (the paper keeps
    * one representative per near-dup group; we pick the minimum id —
    * deterministic — where the paper picks the least-centroid-like).
    * Output: one row per vector with its cell and `keep` flag.
    *
    * Scale shape: this is THE production semantic-dedup form for
    * corpora where the exact tiled self-join
    * ([[embeddingCosinePairs]]) is too big even blocked — candidate
    * generation becomes an equi-join on the cell id, so pair volume
    * is Σ cell² instead of n², tuned by nCentroids (the paper runs
    * k ≈ 0.1% of n). Centroids come in PRE-TRAINED
    * ([[Ivf.trainCentroids]] once / [[Ivf.loadCentroids]] from the
    * model table) — the matrix is O(k × dim) broadcast state, and
    * the assignment is a scan-stage fold. The within-cell pair join
    * inherits the skew caveat of any blocked self-join: a degenerate
    * cell (all vectors identical) re-creates the n² problem, which
    * is what the Lloyd refit distributes away. */
  def semDeDup(embs: DataFrame, centroids: Seq[Seq[Double]],
               threshold: Double, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val dvec = transform(col(vecCol), x => x.cast("double"))
    // cast once per row before the argmin (the Ivf r17 discipline)
    val v = embs.select(col(idCol).as("id"), col(vecCol).as("vec"),
        VectorFunctions.norm(col(vecCol)).as("nrm"), dvec.as("__dv"))
      .select(col("id"), col("vec"), col("nrm"),
        Ivf.nearestCell(col("__dv"), centroids).as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    v.count() // assign once: feeds both join sides and the output
    val denom = col("a_nrm") * col("b_nrm")
    val dropped = v.select(col("cell"), col("id").as("a_id"),
        col("vec").as("a_vec"), col("nrm").as("a_nrm"))
      .join(v.select(col("cell"), col("id").as("b_id"),
        col("vec").as("b_vec"), col("nrm").as("b_nrm")), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", when(denom === 0.0, lit(0.0))
        .otherwise(VectorFunctions.dot(col("a_vec"), col("b_vec")) / denom))
      .filter(col("cos") >= threshold)
      .select(col("b_id").as("id")).distinct()
    CacheOps.materializeAndRelease(
      v.join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
        .select(col("id").as(idCol), col("cell"),
          coalesce(!col("__drop"), lit(true)).as("keep")),
      v)
  }

  /** One-call dedup deliverable: near-dup pair generation (by
    * `method`) → connected-components clustering → the SURVIVING
    * rows (minimum id per cluster, original columns preserved via a
    * semi join — no payload ever rides the clustering loop).
    *
    * Methods: "exact" (hash-identical text), "jaccard"
    * (prefix-filtered token-set similarity, recall-exact),
    * "containment" (directed subsumption), "minhash" (LSH-staged,
    * approximate), "simhash" (hamming-banded, approximate). The
    * composition equals the q_dedup_keep driver query, which keeps
    * this facade oracle-checked end-to-end. */
  def deduplicate(docs: DataFrame, method: String = "jaccard",
                  threshold: Double = 0.9,
                  blockingKeys: Seq[String] = Nil,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = method match {
    case "exact" =>
      // Hash-identical groups already name their representative (the
      // min id per hash group): the copy→keeper star edges are a
      // transitively-closed clustering, so the CC loop the other
      // methods need would be a provably-redundant iterative job at
      // 100 TB. Survivors = the keeper set, one semi join.
      docs.join(
        exact(docs, idCol, textCol).select(col("keeper_doc_id").as(idCol)),
        Seq(idCol), "left_semi")
    case _ =>
      val pairs = method match {
        case "jaccard" => ngramJaccardPairs(docs, blockingKeys, threshold,
          idCol, textCol)
        case "containment" => containmentPairs(docs, blockingKeys, threshold,
          idCol, textCol)
        case "minhash" => minhashPairs(docs, threshold, idCol = idCol,
          textCol = textCol)
        case "simhash" => simhashPairs(docs, idCol = idCol, textCol = textCol)
        case other => throw new IllegalArgumentException(
          s"unknown dedup method '$other'")
      }
      val clusters = graft.operators.Graph.connectedComponents(
        docs.select(col(idCol)), pairs.select("a_id", "b_id"))
      docs.join(clusters.filter(col("id") === col("comp"))
        .select(col("id").as(idCol)), Seq(idCol), "left_semi")
  }

  /** Exact duplicated-SPAN coverage per document — the span-level
    * exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") at k-token window
    * granularity. Every k-token window of every document is hashed;
    * a window whose hash occurs ≥ 2 times anywhere in the corpus
    * (another document OR a repeat inside the same one) is a
    * duplicated span. Per document the report is the union of its
    * duplicated-window intervals: how many token positions sit
    * inside at least one duplicated span, and the fraction of the
    * document that is. Downstream a pipeline drops documents above a
    * coverage threshold or clips the spans themselves.
    *
    * Scale shape: the costly step is one shuffle of O(total tokens)
    * window hashes for the occurrence count — done as
    * count-over-partition(hash), NOT a self-join — followed by one
    * shuffle on doc id for the interval sweep. A suffix-array build
    * (the paper's single-node structure) has no distributed
    * equivalent at this cost; window hashing is the standard
    * cluster-scale approximation and is exact at span granularity k.
    * Interval union exploits that all intervals share length k, so
    * after sorting by start the running coverage is
    * min(k, start − prev_start) with no running-max state. */
  def duplicatedSpanProfile(docs: DataFrame, k: Int,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    require(k >= 1, s"window size k must be >= 1, got $k")
    val base = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val wins = base.filter(col("n_tokens") >= k)
      .select(col("doc_id"),
        posexplode(TextFunctions.shingles(col("toks"), k)))
      .select(col("doc_id"), col("pos").as("start"),
        md5(col("col")).as("wh"))
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("wh")
    val sweep = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("start")
    val covered = wins
      .withColumn("occ", count(lit(1)).over(byHash))
      .filter(col("occ") >= 2)
      .withColumn("prev", lag(col("start"), 1).over(sweep))
      .withColumn("contrib", when(col("prev").isNull, lit(k.toLong))
        .otherwise(least(lit(k.toLong), col("start") - col("prev"))))
      .groupBy("doc_id")
      .agg(sum("contrib").cast("long").as("dup_span_tokens"))
    base.select("doc_id", "n_tokens")
      .join(covered, Seq("doc_id"), "left")
      .withColumn("dup_span_tokens", coalesce(col("dup_span_tokens"), lit(0L)))
      .withColumn("dup_span_frac",
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(col("dup_span_tokens").cast("double") /
            col("n_tokens").cast("double")))
  }

  /** SPAN-LEVEL decontamination evidence — WHERE the leak is, not
    * just whether (the eval-leak triage companion of the doc-grain
    * H10/H38 verdicts): every k-token window of the BENCHMARK whose
    * hash appears in a corpus document names that document's exact
    * leaked token interval, and adjacent/overlapping hits merge into
    * maximal spans. Output one row per (corpus doc, bench doc,
    * contiguous leaked span): `(doc_id, bench_id, span_start,
    * span_end, span_tokens, n_windows)` — token offsets are 0-based,
    * end exclusive, so a triage UI can highlight `toks[start, end)`
    * and a surgical cut can excise exactly that range
    * ([[cutDuplicatedSpans]]'s protect/cut machinery applies).
    *
    * Scale shape (100 TB corpus, 1e3–1e6-doc eval sets): the bench
    * window table is O(bench tokens) rows of (wh, bench_id) —
    * BROADCAST, so the corpus-side window scan joins inside its own
    * scan stage and the corpus never shuffles for the match; the
    * only keyed exchange carries the HITS (LSH-free exact matches,
    * sparse by construction) to the per-(doc, bench) interval merge
    * — the F15 sweep generalized from coverage counting to interval
    * EMISSION (a new span starts when the gap to the previous window
    * start exceeds k; span_end = last_start + k). Exact window
    * hashing, fully SQL-replayable — unlike the minhash verdicts
    * this one is oracle-green, not rows-only. */
  def decontaminateSpans(corpus: DataFrame, bench: DataFrame, k: Int,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         benchIdCol: String = "id",
                         benchTextCol: String = "text"): DataFrame = {
    require(k >= 1, s"window size k must be >= 1, got $k")
    def windowsOf(df: DataFrame, id: String, text: String,
                  outId: String): DataFrame =
      df.select(col(id).as(outId),
          posexplode(TextFunctions.shingles(
            TextFunctions.tokens(col(text)), k)))
        .select(col(outId), col("pos").as("start"),
          md5(col("col")).as("wh"))
    val bw = windowsOf(bench, benchIdCol, benchTextCol, "bench_id")
      .select("bench_id", "wh").distinct()
    val hits = windowsOf(corpus, idCol, textCol, "doc_id")
      .join(broadcast(bw), Seq("wh"))
      .select(col("doc_id"), col("bench_id"), col("start"))
    val sweep = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "bench_id").orderBy("start")
    hits
      .withColumn("__prev", lag(col("start"), 1).over(sweep))
      .withColumn("__new",
        when(col("__prev").isNull || col("start") - col("__prev") > k,
          1L).otherwise(0L))
      .withColumn("__grp", sum(col("__new")).over(
        sweep.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .groupBy(col("doc_id"), col("bench_id"), col("__grp"))
      .agg(min(col("start")).cast("long").as("span_start"),
        (max(col("start")) + k).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .withColumn("span_tokens", col("span_end") - col("span_start"))
      .drop("__grp")
  }

  /** Line-level boilerplate dedup (the C4 / RefinedWeb rung of the
    * dedup ladder): a line that appears in `minDf`-or-more DISTINCT
    * documents is boilerplate (nav bars, cookie banners, license
    * headers) and is removed from every document that carries it;
    * each document is then reassembled from its surviving lines in
    * original order. This is a corpus-wide TRANSFORM — unlike the
    * span profile above it rewrites the text — and the df threshold
    * counts documents, not occurrences, so a line repeated inside
    * one document is not boilerplate by itself.
    *
    * Scale shape: no pair join anywhere. One shuffle of O(total
    * lines) on the line hash builds the document-frequency table
    * (distinct-per-doc reduce first, so a million-document boilerplate
    * line still contributes one row per document, combined map-side);
    * the df verdict comes back via an equi-join on the same hash; one
    * shuffle on doc id reassembles. Duplication degree never appears
    * in any term — the hot-line blowup that kills a self-join shape
    * (§6 r12 measurement) cannot occur.
    *
    * Output: doc_id, n_lines, n_removed, kept_text (surviving lines
    * re-joined with `delim`, empty string when everything was
    * boilerplate). */
  /** Shared line explosion: (doc_id, pos, line, lh) with lh the md5
    * line identity — fixed-width exchange keys instead of shuffling
    * arbitrarily long line text as a key (the identity contract both
    * line-dedup operators and their oracles share). */
  private def explodeLines(docs: DataFrame, idCol: String,
                           textCol: String, delim: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim))))
      .select(col("doc_id"), col("pos"), col("col").as("line"),
        md5(col("col").cast("binary")).as("lh"))

  def dedupLines(docs: DataFrame, minDf: Long = 2,
                 idCol: String = "doc_id", textCol: String = "text",
                 delim: String = "\n"): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    // persisted: the split/explode/md5 scan feeds BOTH the df branch
    // and the join probe — unpersisted it would run twice (the
    // prefixIndex tokenize-once discipline above)
    val lines = explodeLines(docs, idCol, textCol, delim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lines.count() // complete the cache before the two branch reads
    // document frequency: reduce to one (doc, line) row BEFORE the
    // count so the shuffle and the count are both degree-independent.
    // BLANK lines (consecutive/trailing delimiters) are exempt: a
    // blank present in >= minDf docs is a paragraph break, not
    // boilerplate (the C4/RefinedWeb convention) — they skip the df
    // table entirely and the left join keeps them (null df)
    val df_ = lines.filter(col("line") =!= "")
      .select("doc_id", "lh").distinct()
      .groupBy("lh").agg(count(lit(1)).as("line_df"))
    // collect_list skips nulls, so the boilerplate lines vanish from
    // the reassembly struct without a second filtered branch
    val removed = coalesce(col("line_df"), lit(0L)) >= minDf
    val out = lines.join(df_, Seq("lh"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(removed, 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!removed, struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          delim).as("kept_text"))
    CacheOps.materializeAndRelease(out, lines)
  }

  /** Exact-substring dedup as a TRANSFORM (Lee et al. 2022 §4.1's
    * ExactSubstr policy: keep ONE occurrence of every duplicated
    * span, cut the rest): each duplicated k-token window's
    * globally-first occurrence (min (doc, start) — deterministic) is
    * the keeper and its k tokens are PROTECTED; every other
    * occurrence's tokens are cut unless protected. The protection is
    * what makes keep-one real: without it, OVERLAPPING duplicated
    * windows erode the keeper occurrence and a duplicated span can
    * lose every intact copy ("a b c d" keeper's tail cut by the
    * overlapping "b c d e" keeper's non-first occurrences). Each
    * document is reassembled from its surviving tokens in order.
    * The companion of [[duplicatedSpanProfile]] (which only scores).
    *
    * Scale shape: the same degree-independent skeleton as the
    * profile — count/rank-over-partition on the window hash (each
    * window shuffles ONCE regardless of duplication degree); cut and
    * protection marks each explode to k rows per occurrence (linear,
    * and protection is one row per DISTINCT duplicated window); one
    * anti join (cut minus protected), one left join onto the token
    * stream, one groupBy per doc. No pair join.
    *
    * Output: doc_id, n_tokens, n_removed, kept_text. */
  def cutDuplicatedSpans(docs: DataFrame, k: Int,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(k >= 1, s"window size k must be >= 1, got $k")
    val base = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // feeds the window pass AND the reassembly join
    val wins = base.filter(col("n_tokens") >= k)
      .select(col("doc_id"),
        posexplode(TextFunctions.shingles(col("toks"), k)))
      .select(col("doc_id"), col("pos").as("start"),
        md5(col("col").cast("binary")).as("wh"))
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("wh")
    val firstOcc = byHash.orderBy(col("doc_id"), col("start"))
    val marked = wins
      .withColumn("occ", count(lit(1)).over(byHash))
      .withColumn("rn", row_number().over(firstOcc))
      .filter(col("occ") >= 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    marked.count() // feeds both the cut and the protection branch
    def tokenIdx(df: DataFrame) = df.select(col("doc_id"),
      explode(sequence(col("start"), col("start") + (k - 1))).as("idx"))
      .distinct()
    val protectd = tokenIdx(marked.filter(col("rn") === 1))
    val cut = tokenIdx(marked.filter(col("rn") > 1))
      .join(protectd, Seq("doc_id", "idx"), "left_anti")
      .withColumn("__cut", lit(true))
    val toks = base.select(col("doc_id"),
      posexplode(col("toks"))).select(
      col("doc_id"), col("pos").as("idx"), col("col").as("tok"))
    // single-pass reassembly (the dedupLines shape): cut flag rides
    // a left join, kept tokens survive in collect_list via the
    // null-skipping when — no second execution of the window subtree
    // for a restore branch; empty docs come back via the base join
    val agg = toks
      .join(cut, Seq("doc_id", "idx"), "left")
      .groupBy("doc_id")
      .agg(sum(when(col("__cut"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__cut").isNull, struct(col("idx"), col("tok"))))),
            s => s.getField("tok")), " ").as("kept_text"))
    val out = base.select(col("doc_id"), col("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
    CacheOps.materializeAndRelease(out, base, marked)
  }

  /** Intra-document line dedup — the WITHIN-doc counterpart of
    * [[dedupLines]] (which removes corpus-wide boilerplate): keep
    * the FIRST occurrence of each distinct line inside a document,
    * drop the repeats (chat transcripts, scraped pagination, list
    * stutter). No corpus-wide state at all: one window rank
    * partitioned by (doc id, line hash) and one reassembly groupBy.
    * Every exchange key CONTAINS the doc id (spec-pinned), so no
    * data ever moves across documents — at any scale the operator
    * is embarrassingly parallel over docs.
    *
    * Output: doc_id, n_lines, n_removed, kept_text. */
  def dedupLinesWithin(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       delim: String = "\n"): DataFrame = {
    val lines = explodeLines(docs, idCol, textCol, delim)
    val firstOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("lh")).orderBy(col("pos"))
    // blank lines are structure, not content: a repeated paragraph
    // break inside one doc must survive (same exemption as
    // [[dedupLines]])
    val repeat = col("rn") > 1 && col("line") =!= ""
    lines
      .withColumn("rn", row_number().over(firstOcc))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(repeat, 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!repeat, struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          delim).as("kept_text"))
  }

  /** Winnowing document fingerprints (Schleimer et al. 2003 — the
    * MOSS local fingerprinting scheme): hash every k-token window,
    * then in each run of `w` consecutive window hashes select the
    * minimum, ties to the RIGHTMOST position, and dedup the
    * selections. (This is basic winnowing with the rightmost-min
    * tie; the paper's "robust" variant additionally prefers the
    * PREVIOUSLY selected hash on ties, emitting fewer fingerprints
    * on low-entropy runs — a sequential rule with no stateless
    * per-window form.) The guarantee: any
    * shared token run of length ≥ w + k − 1 between two documents
    * yields at least one shared fingerprint, while the fingerprint
    * density stays ~2/(w+1) of the windows — the position-aware,
    * bounded-size sketch for copy detection that plain MinHash (a
    * whole-document sketch) cannot provide.
    *
    * Plan shape: one shuffle on doc id for the two frame-window
    * passes (selection + the count guard), one aggregation for the
    * dedup — O(total tokens), no pair join. The min-with-rightmost-
    * tie is ONE window min over a sortable string key (md5 hex ‖
    * zero-padded descending position), so any SQL engine replays the
    * selection bit-identically — no struct-comparison semantics to
    * align. Fingerprint comparison across docs is then an equi-join
    * on fp_hash, the same degree-independent shape as every other
    * candidate generator here. */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val wins = docs.select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.shingles(
          TextFunctions.tokens(col(textCol)), k)))
      .select(col("doc_id"), col("pos"),
        md5(col("col").cast("binary")).as("h"))
      // sortable selection key: hash asc, then POSITION DESC via the
      // 9-digit descending complement — the rightmost-tie rule as a
      // plain string min. Positions >= 1e9 would go NEGATIVE and
      // lpad would silently truncate the "-…" string, corrupting the
      // order — fail loudly instead (a single document with a
      // billion tokens is a data bug, not a workload)
      .withColumn("key", concat(col("h"),
        lpad((lit(999999999) -
          when(col("pos") <= lit(999999999), col("pos"))
            .otherwise(raise_error(concat(
              lit("winnowFingerprints: token position "),
              col("pos").cast("string"),
              lit(" exceeds the 9-digit rightmost-tie key bound")))
              .cast("int"))).cast("string"), 9, "0")))
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(0, w - 1)
    wins
      .withColumn("sel", min(col("key")).over(frame))
      .withColumn("full", count(lit(1)).over(frame) === w)
      .filter(col("full")) // only complete windows select
      .select(col("doc_id"),
        (lit(999999999) - substring(col("sel"), 33, 9).cast("int"))
          .as("fp_pos"),
        substring(col("sel"), 1, 32).as("fp_hash"))
      .distinct()
  }

  /** ROBUST winnowing (Schleimer et al. 2003 Fig. 5 — the
    * F20-documented exclusion, now behind its own entry point): same
    * guarantee and density as [[winnowFingerprints]], but ties
    * prefer the PREVIOUSLY selected fingerprint — if the prior
    * selection is still inside the current window and still minimal,
    * no new fingerprint is emitted. On low-entropy runs (aaaa…) this
    * emits ONE fingerprint per run instead of one per window
    * position, which is why MOSS uses it for code (keywords repeat).
    *
    * The rule is SEQUENTIAL (window i's choice depends on window
    * i−1's), so no stateless per-window form exists — but only
    * WITHIN a document. Per doc it is one left-to-right fold,
    * expressed as a Catalyst `aggregate` over the window-start
    * sequence carrying (prevPos, selections) — O(windows × w) per
    * doc, the same order as the basic form's frame window, zero
    * extra shuffles (one doc-keyed aggregation to assemble the hash
    * array, then a scan-stage fold + explode). Across documents the
    * operator stays embarrassingly parallel — the 100 TB shape is
    * unchanged.
    *
    * Output: (doc_id, fp_pos, fp_hash) — the [[winnowFingerprints]]
    * schema; property-tested equal to a sequential reference
    * implementation of the paper's rule, and equal to basic
    * winnowing whenever no window has a tied minimum. */
  def winnowFingerprintsRobust(docs: DataFrame, k: Int = 4, w: Int = 5,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val hs = transform(
      TextFunctions.shingles(TextFunctions.tokens(col(textCol)), k),
      g => md5(g.cast("binary")))
    val nWin = size(col("__hs"))
    val selType = "array<struct<fp_pos:int,fp_hash:string>>"
    val fold = aggregate(
      when(nWin >= w, sequence(lit(0), nWin - lit(w)))
        .otherwise(array().cast("array<int>")),
      struct(lit(-1).as("prev"),
        array().cast(selType).as("sel")),
      (st, i) => {
        val win = slice(col("__hs"), i + 1, lit(w))
        val m = array_min(win)
        // previously selected hash still in-window and still minimal
        val keepPrev = st.getField("prev") >= i &&
          element_at(col("__hs"), st.getField("prev") + 1) === m
        // rightmost in-window position carrying the minimum
        val p = array_max(filter(
          transform(sequence(lit(0), lit(w - 1)),
            j => when(element_at(win, j + 1) === m, i + j)),
          x => x.isNotNull))
        when(keepPrev, st).otherwise(
          struct(p.as("prev"),
            concat(st.getField("sel"),
              array(struct(p.as("fp_pos"), m.as("fp_hash")))).as("sel")))
      },
      st => st.getField("sel"))
    docs.select(col(idCol).as("doc_id"), hs.as("__hs"))
      .select(col("doc_id"), explode(fold).as("fp"))
      .select(col("doc_id"), col("fp.fp_pos"), col("fp.fp_hash"))
  }

  /** Winnowing copy-detection pairs: equi-join the
    * [[winnowFingerprints]] sketches on the fingerprint hash and
    * count shared fingerprints per document pair — the MOSS match
    * score. Fingerprints shared by more than `maxDf` documents are
    * dropped first (the standard stop-fingerprint rule: a license
    * header's fingerprint in a million docs is noise, and joining it
    * would cost occ² pairs — the cap makes the join volume
    * ≤ maxDf²/2 per fingerprint, degree-bounded by construction).
    * Output: a_id, b_id (a < b), n_shared. */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 5,
                  maxDf: Long = 10, minShared: Long = 1,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val fps = winnowFingerprints(docs, k, w, idCol, textCol)
      .select("doc_id", "fp_hash").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fps.count() // feeds the df filter AND both join sides
    // persisted: rare feeds BOTH sides of the self-join — unpersisted
    // the df aggregation + cap join would execute twice
    val rare = fps.join(
        fps.groupBy("fp_hash").agg(count(lit(1)).as("fp_df"))
          .filter(col("fp_df") <= maxDf)
          .select("fp_hash"),
        "fp_hash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rare.count()
    val out = rare.select(col("fp_hash"), col("doc_id").as("a_id"))
      .join(rare.select(col("fp_hash"), col("doc_id").as("b_id")), "fp_hash")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    CacheOps.materializeAndRelease(out, fps, rare)
  }

  /** Pair-set recall harness: how many of the exact near-dup pairs
    * does an approximate (LSH/simhash) pair set recover? The quality
    * number that justifies running the sketch instead of the exact
    * join at 100 TB. Pairs are orientation-normalized (min, max)
    * before the semi-count so A~B matches B~A. Output: one row —
    * n_exact, n_approx, n_hit, recall, precision. */
  def pairRecall(approx: DataFrame, exact: DataFrame,
                 aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    // a and e are NOT persisted (r18): both inputs arrive already
    // materialized (every pair generator returns a persisted table),
    // each normalized set feeds two branches of the ONE output action
    // below, and both copies end at the same canonicalized distinct
    // Exchange — exchange reuse computes each once per action, so the
    // former persist+count pair was two extra jobs buying nothing.
    def norm(df: DataFrame) = df.select(
      least(col(aCol), col(bCol)).as("p"),
      greatest(col(aCol), col(bCol)).as("q")).distinct()
    val a = norm(approx)
    val e = norm(exact)
    val hits = e.join(a, Seq("p", "q"), "left_semi")
    val out = e.agg(count(lit(1)).as("n_exact")).crossJoin(
        a.agg(count(lit(1)).as("n_approx")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .withColumn("recall",
        col("n_hit").cast("double") / greatest(col("n_exact"), lit(1L)))
      .withColumn("precision",
        col("n_hit").cast("double") / greatest(col("n_approx"), lit(1L)))
    CacheOps.materializeAndRelease(out)
  }
}
