package graft
package registry

import graft.operators._
import graft.functions._
import org.apache.spark.sql.functions._
import Fixtures._

/** SURVEY.md §2 H: text analysis, over the documents table. */
private[graft] object TextQueries extends Family {

  /** Non-ASCII suffixes for q_bpe_encode_bytes, keyed by doc_id % 4 —
    * 2-/3-/4-byte UTF-8 words exercise multi-byte-crossing vocab
    * entries, the single-BYTE fallback (語 stays out of vocab → its 3
    * bytes emit as 3 tokens), and the pure-ASCII identity path.
    * \u escapes only (the §5 looks-identical-in-an-editor lesson). */
  private val byteSuffixes: Seq[String] = Seq(
    " caf\u00e9",              // e-acute: C3 A9, both self-mapped
    " na\u00efve \ud83d\ude42",  // i-diaeresis (2-byte) + 4-byte emoji
    " \u65e5\u672c\u8a9e", // CJK: three 3-byte chars
    "")                        // ASCII fast path, byte == char level

  /** Byte-level (GPT-2-style) vocab for q_bpe_encode_bytes: the char
    * vocab (pure ASCII = identity under the byte remap) plus
    * multi-byte pieces, all passed through ByteRemap.remapString so
    * entries live in remapped display space — 語 deliberately absent
    * to pin the byte-fallback semantics byte-level mode exists for.
    * ONE Scala value feeds the Spark literal and (chr-composed) the
    * DuckDB replay. */
  private val bpeByteVocab: Seq[String] =
    (bpeEncodeVocab ++ Seq("caf", "\u00e9", "\u00efve",
      "\u65e5\u672c", "\ud83d\ude42"))
      .map(graft.expressions.ByteRemap.remapString)

  /** Fixed WordPiece vocabulary for q_wordpiece_encode, shared
    * verbatim with the DuckDB replay. Designed against the corpus
    * word list so every kernel path fires: whole-word matches (the,
    * spark), a longest INITIAL match over its prefixes (fa > f),
    * longest CONTINUATION matches (##able > ##a\u2026), plain char
    * chains, first-char [UNK] (query \u2014 no "q"), and mid-word [UNK]
    * that discards matched prefixes (row/slow \u2014 no "##w"; order/
    * window \u2014 no "##d"). */
  private val wordPieceVocabFixed: Seq[String] = Seq(
    "a", "b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "o", "p",
    "r", "s", "t", "v", "w", "fa", "sp", "spark", "the",
    "##a", "##b", "##c", "##e", "##g", "##h", "##i", "##l", "##m",
    "##n", "##o", "##p", "##r", "##s", "##t", "##u", "##y",
    "##able", "##alue", "##art", "##atch", "##eam", "##erge", "##ta")

  /** Fixed literal unigram model (piece → ln-prob ticks) for
    * q_unigram_segment — shared verbatim by the Spark query and the
    * DuckDB oracle. Weights are deliberately NOT monotone in length
    * (e.g. "th"+"ere" beats "the"+"re") so the Viterbi DP provably
    * differs from greedy maximal munch on common words. */
  private val unigramSegModel: Seq[(String, Long)] = Seq(
    "the" -> -2800000L, "th" -> -1000000L, "he" -> -1500000L,
    "er" -> -1800000L, "ere" -> -1200000L, "re" -> -2500000L,
    "in" -> -1400000L, "ing" -> -1300000L, "an" -> -1600000L,
    "and" -> -2000000L, "on" -> -1700000L, "at" -> -1900000L,
    "en" -> -2100000L, "es" -> -2200000L, "or" -> -2300000L,
    "te" -> -2400000L, "ed" -> -2600000L, "is" -> -2700000L,
    "a" -> -3000000L, "e" -> -2900000L, "t" -> -3100000L,
    "o" -> -3200000L, "i" -> -3300000L, "n" -> -3400000L,
    "s" -> -3500000L, "r" -> -3600000L)
  private val unigramOov = -20000000L
  private val unigramMaxPieceLen = 3

  /** Decomposed/compatibility suffixes for q_normalize_text, keyed by
    * doc_id % 6 — combining marks out of canonical order, a composed
    * target, a ligature, and fullwidth digits exercise every NFC
    * branch. ONE Scala value feeds both sides: the Spark literal
    * directly, the DuckDB side as chr(codepoint) concatenations (SQL
    * string literals don't process \u escapes). */
  private val nfcSuffixes: Seq[String] = Seq(
    " cafe\u0301",          // e + combining acute -> \u00e9
    " A\u030angstro\u0308m", // A+ring, o+diaeresis -> composed
    " q\u0307\u0323s",      // combining marks reorder (below first)
    " \ufb01le",            // fi ligature: NFC keeps, NFKC folds
    " \u0117\u0301x",       // e-dot + acute: no precomposed form
    "")                     // pure ASCII: fast path, unchanged

  private def sqlChrLit(s: String): String =
    if (s.isEmpty) "''"
    else s.codePoints().toArray.map(cp => s"chr($cp)").mkString(" || ")

  /** The H31 interpolated-KN trigram replay — a val so
    * q_trigram_lm_score and the composed trigram-bucket oracle
    * share one text. */
  private val trigramLmOracle: String =
    """WITH ft AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS l
        |FROM documents WHERE doc_id % 2 = 0),
        |tri AS (SELECT trigram, CAST(COUNT(*) AS BIGINT) AS cnt_t3,
        |string_split(trigram, ' ')[1] AS w1, string_split(trigram, ' ')[2] AS w2, string_split(trigram, ' ')[3] AS w3
        |FROM (SELECT unnest(list_transform(range(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS trigram
        |FROM ft WHERE len(l) >= 3) GROUP BY trigram),
        |ctx AS (SELECT w1 || ' ' || w2 AS ctxk, CAST(SUM(cnt_t3) AS BIGINT) AS c2,
        |CAST(COUNT(*) AS BIGINT) AS n3f FROM tri GROUP BY 1),
        |cc3 AS (SELECT w2 || ' ' || w3 AS w2w3, CAST(COUNT(*) AS BIGINT) AS cc3 FROM tri GROUP BY 1),
        |mid AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ccmid,
        |CAST(COUNT(DISTINCT w3) AS BIGINT) AS n2f FROM tri GROUP BY w2),
        |uni AS (SELECT string_split(w2w3, ' ')[2] AS w3u, CAST(COUNT(*) AS BIGINT) AS cc1 FROM cc3 GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bg_types FROM cc3),
        |st AS (SELECT doc_id, unnest(list_transform(range(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS trigram
        |FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l FROM documents)
        |WHERE len(l) >= 3),
        |j AS (SELECT st.doc_id, t.cnt_t3, c.c2, c.n3f, b.cc3, m.ccmid, m.n2f, u.cc1, tt.bg_types
        |FROM st LEFT JOIN tri t USING (trigram)
        |LEFT JOIN ctx c ON c.ctxk = string_split(st.trigram, ' ')[1] || ' ' || string_split(st.trigram, ' ')[2]
        |LEFT JOIN cc3 b ON b.w2w3 = string_split(st.trigram, ' ')[2] || ' ' || string_split(st.trigram, ' ')[3]
        |LEFT JOIN mid m ON m.w2 = string_split(st.trigram, ' ')[2]
        |LEFT JOIN uni u ON u.w3u = string_split(st.trigram, ' ')[3]
        |CROSS JOIN tot tt),
        |p1t AS (SELECT *, CASE WHEN cc1 IS NOT NULL
        |THEN CAST(cc1 AS DOUBLE) / CAST(bg_types AS DOUBLE) ELSE 0.0 END AS p1 FROM j),
        |p2t AS (SELECT *, CASE WHEN ccmid IS NOT NULL
        |THEN (CASE WHEN cc3 IS NOT NULL THEN greatest(CAST(cc3 AS DOUBLE) - 0.75, 0.0) ELSE 0.0 END) / CAST(ccmid AS DOUBLE)
        |+ ((0.75 * CAST(n2f AS DOUBLE)) / CAST(ccmid AS DOUBLE)) * p1
        |ELSE p1 END AS p2 FROM p1t),
        |p3t AS (SELECT *, CASE WHEN c2 IS NOT NULL
        |THEN (CASE WHEN cnt_t3 IS NOT NULL THEN greatest(CAST(cnt_t3 AS DOUBLE) - 0.75, 0.0) ELSE 0.0 END) / CAST(c2 AS DOUBLE)
        |+ ((0.75 * CAST(n3f AS DOUBLE)) / CAST(c2 AS DOUBLE)) * p2
        |ELSE p2 END AS p3 FROM p2t)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |CAST(SUM(CAST(floor(1000000000.0 * p3) AS BIGINT)) AS BIGINT) AS score_fp,
        |CAST(SUM(CASE WHEN c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx_backoff,
        |CAST(SUM(CASE WHEN cc1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |CAST(CAST(SUM(CAST(floor(1000000000.0 * p3) AS BIGINT)) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_trigram_p
        |FROM p3t GROUP BY doc_id""".stripMargin

  /** One oracle for both decontamination paths: the broadcast join
    * and the bloom-prefiltered shuffle join are bit-identical by
    * contract (no false negatives in the bloom; the exact join
    * clears the false positives). */
  private val decontaminateOracle: String =
    """WITH corp AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      |FROM documents WHERE doc_id >= 25),
      |bench AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS l
      |FROM documents WHERE doc_id < 25),
      |bsh AS (SELECT DISTINCT unnest(list_transform(range(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS sh
      |FROM bench WHERE len(l) >= 3),
      |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS sh
      |FROM corp WHERE len(l) >= 3),
      |ov AS (SELECT doc_id, COUNT(*) AS n_overlap FROM csh JOIN bsh USING (sh) GROUP BY doc_id),
      |tot AS (SELECT doc_id,
      |CAST(len(list_distinct(list_transform(range(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS BIGINT) AS n_shingles
      |FROM corp)
      |SELECT tot.doc_id, tot.n_shingles, COALESCE(ov.n_overlap, 0) AS n_overlap,
      |CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / greatest(tot.n_shingles, 1) >= 0.5 AS contaminated
      |FROM tot LEFT JOIN ov ON tot.doc_id = ov.doc_id""".stripMargin

  /** q_decontaminate_fuzzy's oracle. The bench index is static, so the
    * streamed gate q_stream_decontaminate is batch-equivalent: shares it. */
  private[registry] def decontaminateFuzzyOracle: String =
    """WITH mt AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
      |csh AS (SELECT doc_id, list_sort(list_distinct(list_transform(toks,
      |t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)))) AS sh FROM mt),
      |cnz AS (SELECT * FROM csh WHERE len(sh) > 0),
      |csig AS (SELECT doc_id, sh, list_transform(range(0, 32), j ->
      |list_min(list_transform(sh, v ->
      |CAST('0x' || substr(md5(CAST(v AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT)))) AS sig FROM cnz),
      |bt AS (SELECT doc_id, toks[1:len(toks)-1] AS btoks FROM mt WHERE doc_id % 17 = 0 AND len(toks) >= 2),
      |bsh AS (SELECT doc_id, list_sort(list_distinct(list_transform(btoks,
      |t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)))) AS sh FROM bt),
      |bnz AS (SELECT * FROM bsh WHERE len(sh) > 0),
      |bsig AS (SELECT doc_id, sh, list_transform(range(0, 32), j ->
      |list_min(list_transform(sh, v ->
      |CAST('0x' || substr(md5(CAST(v AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT)))) AS sig FROM bnz),
      |cband AS (SELECT doc_id, s.band_no, CAST(sig[s.band_no*16+1:(s.band_no+1)*16] AS VARCHAR) AS bkey
      |FROM csig CROSS JOIN (SELECT unnest([0, 1]) AS band_no) s),
      |bband AS (SELECT doc_id, s.band_no, CAST(sig[s.band_no*16+1:(s.band_no+1)*16] AS VARCHAR) AS bkey
      |FROM bsig CROSS JOIN (SELECT unnest([0, 1]) AS band_no) s),
      |cands AS (SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid
      |FROM cband c JOIN bband b ON c.band_no = b.band_no AND c.bkey = b.bkey),
      |pre AS (SELECT cands.cid, cands.bid, ca.sh AS a_sh, bb.sh AS b_sh
      |FROM cands JOIN csig ca ON cands.cid = ca.doc_id JOIN bsig bb ON cands.bid = bb.doc_id
      |WHERE len(list_filter(range(1, 33), i -> ca.sig[i] = bb.sig[i])) >= 24),
      |j AS (SELECT cid, bid,
      |CAST(len(list_intersect(a_sh, b_sh)) AS DOUBLE) /
      |(len(a_sh) + len(b_sh) - len(list_intersect(a_sh, b_sh))) AS jaccard FROM pre),
      |best AS (SELECT cid, bid, jaccard,
      |ROW_NUMBER() OVER (PARTITION BY cid ORDER BY jaccard DESC, bid ASC) AS rn FROM j)
      |SELECT cnz.doc_id, coalesce(b.jaccard, 0.0) AS max_jaccard,
      |b.bid AS bench_id, coalesce(b.jaccard >= 0.9, false) AS contaminated
      |FROM cnz LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON cnz.doc_id = b.cid""".stripMargin

  def queries: Seq[Query] = Seq(
    // typo-tolerant vocabulary match: complete length-band blocking
    // + exact integer Levenshtein (identical DP in both engines)
    Query("q_fuzzy_match", (s, d) =>
      Corpus.fuzzyMatch(
        Corpus.tokenDf(T(s, d, "documents")).select("tok"),
        Seq("sparq", "merg", "vektor", "windoww", "batch"),
        maxDist = 1),
      // fuzzy match: the same complete length band + levenshtein bar
      Some("""WITH v AS (SELECT DISTINCT unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
        |FROM documents),
        |q AS (SELECT unnest(['sparq', 'merg', 'vektor', 'windoww', 'batch']) AS query)
        |SELECT query, tok, CAST(levenshtein(query, tok) AS BIGINT) AS dist
        |FROM q JOIN v ON abs(len(query) - len(tok)) <= 1
        |WHERE levenshtein(query, tok) <= 1""".stripMargin)),
    // homoglyph scrub: confusables planted into every 3rd doc map
    // back to ASCII — `restored` hash-checks the roundtrip; mixed-
    // script tokens are the evasion signature
    Query("q_homoglyph_scrub", (s, d) => {
      val planted = when(col("doc_id") % 3 === 0,
        translate(col("text"), "ae", "\u0430\u0435"))
        .otherwise(col("text"))
      T(s, d, "documents")
        .withColumn("__t", planted)
        .select(col("doc_id"),
          TextFunctions.homoglyphCount(col("__t")).as("n_confusables"),
          TextFunctions.mixedScriptTokenCount(col("__t"))
            .as("n_mixed_tokens"),
          TextFunctions.homoglyphNormalize(col("__t")).as("normalized"),
          (TextFunctions.homoglyphNormalize(col("__t")) === col("text"))
            .as("restored"))
    },
      // homoglyph scrub: from/to strings interpolated from the SAME
      // Scala constants the Spark expression reads — single source
      Some {
        val from = graft.functions.TextFunctions.homoglyphFrom
        val to = graft.functions.TextFunctions.homoglyphTo
        s"""WITH p AS (SELECT doc_id, text,
           |CASE WHEN doc_id % 3 = 0 THEN translate(text, 'ae', '${"\u0430\u0435"}') ELSE text END AS t
           |FROM documents)
           |SELECT doc_id,
           |CAST(len(t) - len(translate(t, '$from', '')) AS BIGINT) AS n_confusables,
           |CAST(len(list_filter(list_filter(string_split(t, ' '), x -> x <> ''), x -> regexp_matches(x, '[a-z]') AND regexp_matches(x, '[$from]'))) AS BIGINT) AS n_mixed_tokens,
           |translate(t, '$from', '$to') AS normalized,
           |translate(t, '$from', '$to') = text AS restored
           |FROM p""".stripMargin
      }),
    // FULL Unicode fold (the REAL expression, driven): per doc a
    // planted variant from the spec-pinned fold table (width /
    // compat / marks / confusables) rides on the ASCII text; the
    // fold runs java.text.Normalizer — not SQL-expressible — so the
    // oracle replays the SUBSET: lower(text) || the pinned folded
    // literal (the F3/F4 promotion pattern; UnicodeFoldSpec pins the
    // table both sides copy)
    Query("q_unicode_fold", (s, d) => {
      val variants = array(
        lit("Ｃａｆé ﬁnal ②㏏"),
        lit("ÄÑÉ Ｔｅｓｔ"),
        lit("№ ℡ Ⅸ ｈｅｌｌｏ"),
        lit("viаgrа сlub"))
      T(s, d, "documents")
        .withColumn("__p", concat(col("text"), lit(" "),
          element_at(variants, (col("doc_id") % 4).cast("int") + 1)))
        .withColumn("__f", TextFunctions.unicodeFold(col("__p")))
        .select(col("doc_id"),
          md5(col("__f").cast("binary")).as("fold_hash"),
          length(col("__f")).cast("long").as("n_chars_folded"),
          (length(col("__p")) - length(col("__f"))).cast("long")
            .as("n_chars_dropped"))
    },
      // unicode fold: the fixture-subset replay — lower(text) plus the
      // UnicodeFoldSpec-pinned folded literal per variant; lengths via
      // the same concat
      Some("""WITH p AS (SELECT doc_id, text,
        |CASE CAST(doc_id % 4 AS INT)
        |WHEN 0 THEN 'Ｃａｆé ﬁnal ②㏏'
        |WHEN 1 THEN 'ÄÑÉ Ｔｅｓｔ'
        |WHEN 2 THEN '№ ℡ Ⅸ ｈｅｌｌｏ'
        |WHEN 3 THEN 'viаgrа сlub' END AS raw_v,
        |CASE CAST(doc_id % 4 AS INT)
        |WHEN 0 THEN 'cafe final 2kt'
        |WHEN 1 THEN 'ane test'
        |WHEN 2 THEN 'no tel ix hello'
        |WHEN 3 THEN 'viagra club' END AS fold_v
        |FROM documents),
        |f AS (SELECT doc_id, text || ' ' || raw_v AS planted,
        |lower(text) || ' ' || fold_v AS folded FROM p)
        |SELECT doc_id, md5(folded) AS fold_hash,
        |CAST(length(folded) AS BIGINT) AS n_chars_folded,
        |CAST(length(planted) - length(folded) AS BIGINT) AS n_chars_dropped
        |FROM f""".stripMargin)),
    // Luhn-gated PII: two planted 13–19 digit runs per doc (a fixed
    // card-shaped constant + a doc_id-derived 16-digit number whose
    // validity the CHECKSUM decides — no fixture-side answer key);
    // regex finds candidates, mod-10 keeps real card shapes
    Query("q_pii_luhn", (s, d) => {
      val planted = concat(col("text"), lit(" 4532015112830366 "),
        (lit(1000000000000000L) +
          (col("doc_id") * 987654321L) % 9000000000000000L)
          .cast("string"))
      val cands = TextFunctions.cardCandidates(planted)
      T(s, d, "documents").select(col("doc_id"),
        size(cands).cast("long").as("n_candidates"),
        size(filter(cands, c => TextFunctions.luhnValid(c)))
          .cast("long").as("n_valid"))
    },
      // Luhn PII: same planted runs, same substring checksum walk
      Some("""WITH p AS (SELECT doc_id,
        |text || ' 4532015112830366 ' || CAST(1000000000000000 + (doc_id * 987654321) % 9000000000000000 AS VARCHAR) AS t
        |FROM documents),
        |c AS (SELECT doc_id, regexp_extract_all(t, '[0-9]{13,19}') AS cands FROM p)
        |SELECT doc_id,
        |CAST(len(cands) AS BIGINT) AS n_candidates,
        |CAST(len(list_filter(cands, s ->
        |list_sum(list_transform(range(1, len(s) + 1), i ->
        |CASE WHEN i % 2 = 0 THEN
        |CASE WHEN 2 * CAST(substring(s, CAST(len(s) - i + 1 AS INT), 1) AS INT) > 9
        |THEN 2 * CAST(substring(s, CAST(len(s) - i + 1 AS INT), 1) AS INT) - 9
        |ELSE 2 * CAST(substring(s, CAST(len(s) - i + 1 AS INT), 1) AS INT) END
        |ELSE CAST(substring(s, CAST(len(s) - i + 1 AS INT), 1) AS INT) END)) % 10 = 0
        |)) AS BIGINT) AS n_valid
        |FROM c""".stripMargin)),
    // FUZZY decontamination: the eval set is every %17 doc with its
    // LAST TOKEN DROPPED — a perturbed clone exact-shingle overlap
    // (q_decontaminate) would miss at high shingle n, but whose token
    // jaccard stays ~1. Bench side broadcast (eval sets are small);
    // the corpus is probed without ever being shuffled; same
    // md5-portable family as q_dedup_incremental so DuckDB replays
    // sketch → band probe → 24-of-32 prefilter → exact jaccard →
    // per-doc argmax verdict bit-exactly.
    // span-level decontamination evidence: WHERE each leak is — per
    // (corpus doc, bench doc) the merged token intervals of matched
    // 8-token bench windows (the F15 sweep generalized to interval
    // emission; bench windows broadcast, corpus never shuffles for
    // the match). Exact window hashes → fully SQL-replayable.
    Query("q_decontaminate_spans", (s, d) => {
      val docs = T(s, d, "documents")
      Dedup.decontaminateSpans(docs, evalCloneBench(docs), k = 8)
    },
      // fuzzy decontamination: the incremental-probe replay pointed at
      // the dropped-last-token eval clones, finished with the per-doc
      // argmax (jaccard DESC, bench_id ASC) and the every-doc left join
      // span evidence: the same bench clone, window hashes, and the
      // F15 lag/gap sweep emitting merged intervals
      Some("""WITH bsrc AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents WHERE doc_id % 17 = 0),
        |bt AS (SELECT doc_id AS bench_id, toks[1 : len(toks) - 1] AS toks FROM bsrc WHERE len(toks) >= 2),
        |bb AS (SELECT bench_id, toks, CAST(len(toks) AS BIGINT) AS n FROM bt),
        |bwn AS (SELECT bench_id, toks, unnest(generate_series(0, n - 8)) AS start FROM bb WHERE n >= 8),
        |bw AS (SELECT DISTINCT bench_id, md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS wh FROM bwn),
        |ct AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |cb AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM ct),
        |cwn AS (SELECT doc_id, toks, unnest(generate_series(0, n - 8)) AS start FROM cb WHERE n >= 8),
        |cw AS (SELECT doc_id, start, md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS wh FROM cwn),
        |hits AS (SELECT cw.doc_id, bw.bench_id, cw.start FROM cw JOIN bw USING (wh)),
        |lg AS (SELECT doc_id, bench_id, start, lag(start) OVER (PARTITION BY doc_id, bench_id ORDER BY start) AS prev FROM hits),
        |g AS (SELECT doc_id, bench_id, start, SUM(CASE WHEN prev IS NULL OR start - prev > 8 THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id, bench_id ORDER BY start) AS grp FROM lg)
        |SELECT doc_id, bench_id, CAST(MIN(start) AS BIGINT) AS span_start,
        |CAST(MAX(start) + 8 AS BIGINT) AS span_end,
        |CAST(COUNT(*) AS BIGINT) AS n_windows,
        |CAST(MAX(start) + 8 - MIN(start) AS BIGINT) AS span_tokens
        |FROM g GROUP BY doc_id, bench_id, grp""".stripMargin)),
    Query("q_decontaminate_fuzzy", (s, d) => {
      val docs = T(s, d, "documents")
      Dedup.fuzzyDecontaminate(
        md5Sketch(docs.select(col("doc_id").as("id"), col("text")))
          .localCheckpoint(),
        md5Sketch(evalCloneBench(docs)),
        threshold = 0.9, numHashes = 32, bands = 2)
        .withColumnRenamed("id", "doc_id")
    },
      Some(decontaminateFuzzyOracle)),
    // Gopher rule gate: the full Rae-et-al heuristic battery as one
    // scan-stage column block (minTokens lowered to split this corpus)
    Query("q_gopher_rules", (s, d) =>
      Corpus.gopherRules(T(s, d, "documents"), minTokens = 30),
      // Gopher rules: every count is an exact integer, every ratio ONE
      // IEEE division; '...' counting via non-overlapping replace
      Some(gopherRulesOracle)),
    // BM25 retrieval: fixed-point per-term contributions (floored
    // 1e-6 ticks sum exactly in any order) over the inverted index
    Query("q_bm25_topk", (s, d) => {
      import s.implicits._
      val queries = Seq(
        (1, "spark query data"), (2, "window agg sort"),
        (3, "customer table join"), (4, "fast stream merge"))
        .toDF("query_id", "query_text")
      Corpus.bm25TopK(T(s, d, "documents"), queries, k = 10)
    },
      // BM25: the per-term double expression tree is written token-for-
      // token as the Spark side (IEEE ops are individually correctly
      // rounded, so identical trees give identical bits), floored to
      // 1e-6 ticks; tick longs sum exactly in any order
      Some("""WITH q(query_id, query_text) AS (VALUES
        |(1, 'spark query data'), (2, 'window agg sort'),
        |(3, 'customer table join'), (4, 'fast stream merge')),
        |tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, tok),
        |dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
        |qt AS (SELECT query_id, unnest(list_distinct(list_filter(string_split(query_text, ' '), x -> x <> ''))) AS tok FROM q),
        |contrib AS (SELECT qt.query_id, tf.doc_id,
        |CAST(floor(CAST(1000000.0 AS DOUBLE) * (((st.n_docs - dft.df + CAST(0.5 AS DOUBLE)) / (dft.df + CAST(0.5 AS DOUBLE))) * ((tf.tf * CAST(2.2 AS DOUBLE)) / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (dl.dl / (CAST(st.total_tokens AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))))) AS BIGINT) AS c
        |FROM tf JOIN qt USING (tok) JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN st),
        |sc AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_fp FROM contrib GROUP BY 1, 2),
        |rk AS (SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_fp DESC, doc_id ASC) AS BIGINT) AS rank, doc_id, score_fp FROM sc)
        |SELECT query_id, rank, doc_id, score_fp FROM rk WHERE rank <= 10""".stripMargin)),
    // unigram-LM quality filter (CCNet fit-then-transform shape):
    // corpus token counts → per-doc mean token probability + hapax
    // rate, exact-rational so both engines hash-match
    Query("q_lm_score", (s, d) => Corpus.lmScore(T(s, d, "documents")),
      // unigram-LM scoring: every aggregate stays an exact integer;
      // the two output scores are each ONE IEEE division, so Spark and
      // DuckDB produce bit-identical doubles
      Some("""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnt),
        |pdt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, tok)
        |SELECT p.doc_id, CAST(SUM(p.tf) AS BIGINT) AS n_tokens,
        |CAST(CAST(SUM(p.tf * c.cnt) AS BIGINT) AS DOUBLE) / CAST(CAST(SUM(p.tf) AS BIGINT) * t.total AS DOUBLE) AS avg_tok_p,
        |CAST(CAST(SUM(CASE WHEN c.cnt = 1 THEN p.tf ELSE 0 END) AS BIGINT) AS DOUBLE) / CAST(CAST(SUM(p.tf) AS BIGINT) AS DOUBLE) AS hapax_frac
        |FROM pdt p JOIN cnt c USING (tok) CROSS JOIN tot t
        |GROUP BY p.doc_id, t.total""".stripMargin)),
    // bigram LM with stupid backoff (Brants et al.): fit on the
    // even-id slice (the "curated target"), score every doc — unseen
    // bigrams fall back to 0.4 × unigram frequency, so the backoff
    // path genuinely fires on the odd-id docs
    Query("q_bigram_lm_score", (s, d) => {
      val docs = T(s, d, "documents")
      Corpus.bigramLmScore(docs.where(col("doc_id") % 2 === 0), docs)
    },
      // bigram LM: replay the fit (even-id slice unigram/bigram counts)
      // and the per-pair tick tree — seen pairs floor(1e6·cnt12/cnt1),
      // unseen floor(4e5·cnt2/total), OOV 0 — with the identical
      // double expression tree so sums hash-match
      Some("""WITH ft AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS l
        |FROM documents WHERE doc_id % 2 = 0),
        |ucnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt_w
        |FROM (SELECT unnest(l) AS tok FROM ft) GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt_w) AS BIGINT) AS total FROM ucnt),
        |bcnt AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt_bg
        |FROM (SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])) AS bigram
        |FROM ft WHERE len(l) >= 2) GROUP BY bigram),
        |bmodel AS (SELECT b.bigram, b.cnt_bg, u.cnt_w AS cnt_w1
        |FROM bcnt b JOIN ucnt u ON u.tok = string_split(b.bigram, ' ')[1]),
        |sb AS (SELECT doc_id, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])) AS bigram
        |FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l FROM documents)
        |WHERE len(l) >= 2)
        |SELECT sb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |CAST(SUM(CASE WHEN bm.cnt_bg IS NOT NULL
        |THEN CAST(floor(1000000.0 * CAST(bm.cnt_bg AS DOUBLE) / CAST(bm.cnt_w1 AS DOUBLE)) AS BIGINT)
        |WHEN u2.cnt_w IS NOT NULL
        |THEN CAST(floor(400000.0 * CAST(u2.cnt_w AS DOUBLE) / CAST(t.total AS DOUBLE)) AS BIGINT)
        |ELSE 0 END) AS BIGINT) AS score_fp,
        |CAST(SUM(CASE WHEN bm.cnt_bg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
        |CAST(CAST(SUM(CASE WHEN bm.cnt_bg IS NOT NULL
        |THEN CAST(floor(1000000.0 * CAST(bm.cnt_bg AS DOUBLE) / CAST(bm.cnt_w1 AS DOUBLE)) AS BIGINT)
        |WHEN u2.cnt_w IS NOT NULL
        |THEN CAST(floor(400000.0 * CAST(u2.cnt_w AS DOUBLE) / CAST(t.total AS DOUBLE)) AS BIGINT)
        |ELSE 0 END) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bigram_p
        |FROM sb LEFT JOIN bmodel bm USING (bigram)
        |LEFT JOIN ucnt u2 ON u2.tok = string_split(sb.bigram, ' ')[2]
        |CROSS JOIN tot t
        |GROUP BY sb.doc_id""".stripMargin)),
    // interpolated Kneser-Ney trigram LM (D = 3/4 exact): fit the
    // trigram-type table on the even-id slice, score every doc —
    // unseen contexts interpolate down through continuation-count
    // orders, so every backoff path fires on the odd-id docs
    Query("q_trigram_lm_score", (s, d) => {
      val docs = T(s, d, "documents")
      Corpus.trigramLmScore(docs.where(col("doc_id") % 2 === 0), docs)
    },
      // interpolated KN trigram LM: replay the fit (even-id trigram
      // TYPE table + the four derived continuation-count tables) and
      // the three per-order double trees CTE-for-CTE — D = 0.75 is
      // exact in binary, each level's nesting matches the Spark
      // column tree token-for-token, floored to 1e-9 ticks
      Some(trigramLmOracle)),
    // CCNet buckets over the trigram KN scorer (CCNet proper buckets
    // on an n-gram LM perplexity): same fit slice, per-language
    // tercile boundaries as exact order statistics, scan-stage
    // bucket assignment — the scorer upgrade composed into the
    // bucketing machinery rather than a parallel implementation
    Query("q_ccnet_buckets_trigram", (s, d) => {
      val docs = T(s, d, "documents")
      Corpus.perplexityBucketsTrigram(
        docs.where(col("doc_id") % 2 === 0), docs)
    },
      // trigram-scored CCNet buckets: the full KN replay as a
      // subquery, then the q_ccnet_buckets_boundary rank recovery over
      // avg_trigram_p per language (same tie contract: boundary-score
      // ties take the higher bucket)
      Some(s"""WITH base AS ($trigramLmOracle),
         |j AS (SELECT b.doc_id, d.lang, b.n_trigrams, b.avg_trigram_p
         |FROM base b JOIN documents d USING (doc_id)),
         |rk AS (SELECT lang, avg_trigram_p,
         |ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_trigram_p DESC) AS r,
         |COUNT(*) OVER (PARTITION BY lang) AS n FROM j),
         |bd AS (SELECT lang,
         |MAX(CASE WHEN r = (n + 2) // 3 THEN avg_trigram_p END) AS b1,
         |MAX(CASE WHEN r = (2 * n + 2) // 3 THEN avg_trigram_p END) AS b2
         |FROM rk GROUP BY lang)
         |SELECT j.doc_id, j.lang, j.n_trigrams, j.avg_trigram_p,
         |CASE WHEN j.avg_trigram_p >= bd.b1 THEN 'head'
         |WHEN j.avg_trigram_p >= bd.b2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM j JOIN bd USING (lang)""".stripMargin)),
    // quality classifier (GPT-3 filter shape): fit NB-style class
    // odds on curated-vs-rest, score every doc in fixed-point ticks
    Query("q_quality_classifier", (s, d) =>
      Corpus.qualityClassifier(T(s, d, "documents"),
        col("source").isin("src0", "src1", "src2", "src3")),
      // quality classifier: the smoothed class-odds double tree is
      // written token-for-token as the Spark side (each factor cast to
      // double BEFORE the multiply), floored to 1e-6 ticks; tick longs
      // sum exactly in any order
      Some(qualityClassifierOracle)),
    // T5 span corruption (the FIM sibling): two md5-placed disjoint
    // spans → <extra_id_k> sentinels, target in the T5 grammar; one
    // codegen'd projection, zero shuffles
    Query("q_span_corrupt", (s, d) =>
      Corpus.spanCorrupt(T(s, d, "documents")),
      // span corruption: the same md5-nibble replay for both span
      // starts, then identical 1-based list slicing — integer division
      // replays Spark's floor(n·k/S) exactly for non-negative n
      Some {
        def b16(sfx: String) = (1 to 4).map(k =>
          s"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || '$sfx'), $k, 1)) - 1) * ${1L << (4 * (4 - k))}")
          .mkString(" + ")
        s"""WITH t AS (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
           |d AS (SELECT doc_id, text, tk, CAST(len(tk) AS BIGINT) AS n,
           |(${b16(":sc0")}) AS r0, (${b16(":sc1")}) AS r1 FROM t),
           |s AS (SELECT doc_id, text, tk, n, (n // 2 >= 2) AS elig,
           |CASE WHEN n // 2 >= 2 THEN 1 + r0 % (n // 2 - 1) END AS s0,
           |CASE WHEN n // 2 >= 2 THEN n // 2 + 1 + r1 % (n - n // 2 - 1) END AS s1 FROM d)
           |SELECT doc_id, elig AS corrupted,
           |CASE WHEN elig THEN array_to_string(tk[1:s0-1] || ['<extra_id_0>'] || tk[s0+2:s1-1] || ['<extra_id_1>'] || tk[s1+2:n], ' ')
           |ELSE text END AS sc_input,
           |CASE WHEN elig THEN array_to_string(['<extra_id_0>'] || tk[s0:s0+1] || ['<extra_id_1>'] || tk[s1:s1+1] || ['<extra_id_2>'], ' ')
           |END AS sc_target
           |FROM s""".stripMargin
      }),
    Query("q_fim_transform", (s, d) =>
      Corpus.fimTransform(T(s, d, "documents"), rate = 0.5),
      // FIM: the md5-nibble draw replay (q_export_shards idiom) for the
      // gate and both split points, then the same substring arithmetic
      Some {
        def b16(sfx: String) = (1 to 4).map(k =>
          s"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || '$sfx'), $k, 1)) - 1) * ${1L << (4 * (4 - k))}")
          .mkString(" + ")
        s"""WITH s AS (SELECT doc_id, text, len(text) AS n,
           |(${b16(":fim")}) % 100 < 50 AS fim_applied,
           |(${b16(":a")}) % (len(text) + 1) AS i
           |FROM documents),
           |t AS (SELECT doc_id, text, n, fim_applied, i,
           |i + (${b16(":b")}) % (n - i + 1) AS j FROM s)
           |SELECT doc_id, fim_applied,
           |CASE WHEN fim_applied THEN '<PRE>' || substring(text, 1, CAST(i AS INT)) || '<SUF>' || substring(text, CAST(j + 1 AS INT), CAST(n - j AS INT)) || '<MID>' || substring(text, CAST(i + 1 AS INT), CAST(j - i AS INT))
           |ELSE text END AS fim_text
           |FROM t""".stripMargin
      }),
    // DSIR importance weights: hashed-bigram likelihood ratio vs the
    // target slice, deterministic top-N selection
    Query("q_dsir_weights", (s, d) =>
      Corpus.dsirWeights(T(s, d, "documents"),
        col("lang") === "en", selectN = 200L, nBuckets = 256),
      // DSIR: md5-nibble bucket replay (q_export_shards idiom) mod 256,
      // smoothed target/raw likelihood ratio in the same fixed tree
      Some("""WITH t AS (SELECT doc_id, (lang = 'en') AS is_t, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |bg AS (SELECT doc_id, is_t, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM t WHERE len(toks) >= 2),
        |h AS (SELECT doc_id, is_t, md5(bigram) AS hex FROM bg),
        |b AS (SELECT doc_id, is_t,
        |CAST(((strpos('0123456789abcdef', substring(hex, 1, 1)) - 1) * 4096
        |+ (strpos('0123456789abcdef', substring(hex, 2, 1)) - 1) * 256
        |+ (strpos('0123456789abcdef', substring(hex, 3, 1)) - 1) * 16
        |+ (strpos('0123456789abcdef', substring(hex, 4, 1)) - 1)) % 256 AS BIGINT) AS bucket FROM h),
        |tf AS (SELECT doc_id, is_t, bucket, CAST(COUNT(*) AS BIGINT) AS tf FROM b GROUP BY 1, 2, 3),
        |m AS (SELECT bucket,
        |CAST(SUM(CASE WHEN is_t THEN tf ELSE 0 END) AS BIGINT) AS cnt_t,
        |CAST(SUM(tf) AS BIGINT) AS cnt_r FROM tf GROUP BY bucket),
        |mm AS (SELECT bucket, cnt_t, cnt_r,
        |CAST(SUM(cnt_t) OVER () AS BIGINT) AS tot_t,
        |CAST(SUM(cnt_r) OVER () AS BIGINT) AS tot_r FROM m),
        |c AS (SELECT tf.doc_id, tf.tf,
        |tf.tf * CAST(floor(CAST(1000000.0 AS DOUBLE) * ((CAST(mm.cnt_t + 1 AS DOUBLE) * CAST(mm.tot_r + 256 AS DOUBLE)) / (CAST(mm.cnt_r + 1 AS DOUBLE) * CAST(mm.tot_t + 256 AS DOUBLE)))) AS BIGINT) AS contrib
        |FROM tf JOIN mm USING (bucket)),
        |wgt AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams, CAST(SUM(contrib) AS BIGINT) AS weight_fp FROM c GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, weight_fp,
        |(ROW_NUMBER() OVER (ORDER BY weight_fp DESC, doc_id ASC)) <= 200 AS selected FROM wgt""".stripMargin)),
    // CCNet bucketing: unigram-LM fit → per-language head/middle/
    // tail terciles (the standard crawl partition)
    Query("q_ccnet_buckets", (s, d) =>
      Corpus.perplexityBuckets(T(s, d, "documents")),
      // CCNet terciles: the q_lm_score exact-rational score + lang join
      // + ntile(3) over the engine-identical (avg_tok_p desc, id) order
      Some("""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnt),
        |pdt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, tok),
        |sc AS (SELECT p.doc_id, CAST(SUM(p.tf) AS BIGINT) AS n_tokens,
        |CAST(CAST(SUM(p.tf * c.cnt) AS BIGINT) AS DOUBLE) / CAST(CAST(SUM(p.tf) AS BIGINT) * t.total AS DOUBLE) AS avg_tok_p
        |FROM pdt p JOIN cnt c USING (tok) CROSS JOIN tot t
        |GROUP BY p.doc_id, t.total),
        |j AS (SELECT s.doc_id, d.lang, s.n_tokens, s.avg_tok_p FROM sc s JOIN documents d USING (doc_id)),
        |tl AS (SELECT *, ntile(3) OVER (PARTITION BY lang ORDER BY avg_tok_p DESC, doc_id ASC) AS tile FROM j)
        |SELECT doc_id, lang, n_tokens, avg_tok_p,
        |CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket FROM tl""".stripMargin)),
    // CCNet bucketing, 100 TB form: exact per-language tercile
    // BOUNDARY scores via quantile-narrowed order statistics (no
    // per-language sort task), bucket assignment as a scan-stage
    // comparison; boundary-score ties all take the higher bucket
    Query("q_ccnet_buckets_boundary", (s, d) =>
      Corpus.perplexityBucketsByBoundary(T(s, d, "documents")),
      // CCNet boundary form: same score table; tercile boundary scores
      // recovered per language as order statistics (the value at ranks
      // ceil(n/3) and ceil(2n/3) of the score-desc order), buckets by
      // >= comparison so boundary ties take the higher bucket
      Some("""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnt),
        |pdt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, tok),
        |sc AS (SELECT p.doc_id, CAST(SUM(p.tf) AS BIGINT) AS n_tokens,
        |CAST(CAST(SUM(p.tf * c.cnt) AS BIGINT) AS DOUBLE) / CAST(CAST(SUM(p.tf) AS BIGINT) * t.total AS DOUBLE) AS avg_tok_p
        |FROM pdt p JOIN cnt c USING (tok) CROSS JOIN tot t
        |GROUP BY p.doc_id, t.total),
        |j AS (SELECT s.doc_id, d.lang, s.n_tokens, s.avg_tok_p FROM sc s JOIN documents d USING (doc_id)),
        |rk AS (SELECT lang, avg_tok_p,
        |ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_tok_p DESC) AS r,
        |COUNT(*) OVER (PARTITION BY lang) AS n FROM j),
        |bd AS (SELECT lang,
        |MAX(CASE WHEN r = (n + 2) // 3 THEN avg_tok_p END) AS b1,
        |MAX(CASE WHEN r = (2 * n + 2) // 3 THEN avg_tok_p END) AS b2
        |FROM rk GROUP BY lang)
        |SELECT j.doc_id, j.lang, j.n_tokens, j.avg_tok_p,
        |CASE WHEN j.avg_tok_p >= bd.b1 THEN 'head'
        |WHEN j.avg_tok_p >= bd.b2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM j JOIN bd USING (lang)""".stripMargin)),
    // BPE tokenizer fitting, round-1 statistics: the weighted
    // adjacent symbol-pair counts over the distinct-word vocabulary
    // (the aggregation every trainMerges round repeats), top-20
    // deterministic (cnt desc, a, b). The iterative trainer itself
    // is BpeSpec-verified against the sequential reference.
    Query("q_bpe_pair_counts", (s, d) => {
      val words = Bpe.wordFreqs(T(s, d, "documents"))
        .select(Bpe.charSymbols(col("word")).as("symbols"), col("freq"))
      Bpe.pairCounts(words)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cnt").desc, col("a"), col("b"))))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("a"), col("b"), col("cnt"))
    },
      // BPE round-1 pair counts: distinct-word freqs, per-position
      // char pairs via correlated generate_series, weighted sum, and
      // the deterministic top-20
      Some("""WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents),
        |wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word),
        |px AS (SELECT word, freq, unnest(generate_series(1, len(word) - 1)) AS i FROM wf WHERE len(word) >= 2),
        |c AS (SELECT substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM px GROUP BY 1, 2)
        |SELECT rank, a, b, cnt FROM (
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS INT) AS rank, a, b, cnt FROM c)
        |WHERE rank <= 20""".stripMargin)),
    // the BYTE-LEVEL trainer's round statistics (the aggregation
    // every byteLevel=true merge round repeats): weighted adjacent
    // REMAPPED-BYTE pair counts over the distinct-word vocabulary,
    // with the non-ASCII suffixes so cross-UTF-8-boundary pairs are
    // in the table — the FULL pair table (no top-k), every count
    // hash-checked against the hex-remap replay
    Query("q_bpe_pair_counts_bytes", (s, d) => {
      val suffixed = T(s, d, "documents").select(
        concat(col("text"), element_at(
          array(byteSuffixes.map(lit): _*),
          (col("doc_id") % 4 + 1).cast("int"))).as("text"))
      val words = Bpe.wordFreqs(suffixed)
        .select(Bpe.byteSymbols(col("word")).as("symbols"), col("freq"))
      Bpe.pairCounts(words)
        .select(col("a"), col("b"), col("cnt"))
    },
      // byte-level pair counts: distinct-word freqs -> the hex byte
      // remap (the q_bpe_encode_bytes chain, over DISTINCT WORDS so the
      // remap cost is vocabulary-sized) -> adjacent remapped-char pairs
      // weighted by freq, full table
      Some {
        val bvals = (0 until 256).mkString(", ")
        val bchrs = graft.expressions.ByteRemap.byteToChar
          .map(c => s"chr(${c.toInt})").mkString(", ")
        val suffix = byteSuffixes.zipWithIndex.map { case (x, i) =>
          s"WHEN $i THEN ${sqlChrLit(x)}" }.mkString(" ")
        s"""WITH bmap AS (SELECT unnest([$bvals]) AS b, unnest([$bchrs]) AS c),
           |t AS (SELECT list_filter(string_split(text || CASE CAST(doc_id % 4 AS INT) $suffix END, ' '), x -> x <> '') AS toks FROM documents),
           |w0 AS (SELECT unnest(toks) AS word FROM t),
           |wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM w0 GROUP BY word),
           |wb AS (SELECT word, freq, hex(encode(word)) AS h FROM wf),
           |wp AS (SELECT word, freq, unnest(generate_series(1, CAST(len(h) // 2 AS BIGINT))) AS bi, h FROM wb),
           |wv AS (SELECT word, freq, bi,
           |(strpos('0123456789ABCDEF', substring(h, CAST(2 * bi - 1 AS INT), 1)) - 1) * 16
           |+ (strpos('0123456789ABCDEF', substring(h, CAST(2 * bi AS INT), 1)) - 1) AS bv FROM wp),
           |rw AS (SELECT word, freq, string_agg(c, '' ORDER BY bi) AS rword FROM wv JOIN bmap ON bv = b GROUP BY word, freq),
           |px AS (SELECT freq, unnest(generate_series(1, CAST(len(rword) AS BIGINT) - 1)) AS i, rword FROM rw WHERE len(rword) >= 2)
           |SELECT substring(rword, CAST(i AS INT), 1) AS a, substring(rword, CAST(i + 1 AS INT), 1) AS b, CAST(SUM(freq) AS BIGINT) AS cnt
           |FROM px GROUP BY 1, 2""".stripMargin
      }),
    // BPE production ENCODE: greedy longest-match (maximal munch)
    // against a fixed literal vocab — the LongestMatchEncode trie
    // expression; output = corpus subword-token frequencies. The
    // oracle replays the greedy scan with a recursive CTE over the
    // same vocab literal, so every split decision is hash-checked.
    Query("q_bpe_encode", (s, d) =>
      T(s, d, "documents")
        .select(explode(
          Bpe.encodeLongestMatch(col("text"), bpeEncodeVocab)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n")),
      // BPE production encode: the greedy longest-match scan replayed
      // as a recursive CTE — per (doc, word) the cursor advances by the
      // longest vocab entry matching at pos (single char when none),
      // so every split decision the trie expression makes is re-derived
      // and the corpus token frequencies hash-compare
      Some {
        val vlist = bpeEncodeVocab.map(t => s"'$t'").mkString(", ")
        s"""WITH RECURSIVE vocab AS (SELECT unnest([$vlist]) AS tok),
           |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
           |w AS (SELECT doc_id, unnest(generate_series(1, CAST(len(toks) AS BIGINT))) AS wi, toks FROM t WHERE len(toks) >= 1),
           |ww AS (SELECT doc_id, wi, toks[wi] AS word FROM w),
           |enc AS (
           |SELECT doc_id, wi, word, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS out FROM ww
           |UNION ALL
           |SELECT doc_id, wi, word, pos + mlen AS pos,
           |list_append(out, substring(word, pos, mlen)) AS out FROM (
           |SELECT e.doc_id, e.wi, e.word, e.pos, e.out,
           |CAST(COALESCE(MAX(CASE WHEN substring(e.word, e.pos, len(v.tok)) = v.tok THEN len(v.tok) END), 1) AS BIGINT) AS mlen
           |FROM enc e LEFT JOIN vocab v ON substring(e.word, e.pos, len(v.tok)) = v.tok
           |WHERE e.pos <= len(e.word)
           |GROUP BY e.doc_id, e.wi, e.word, e.pos, e.out) s),
           |fin AS (SELECT out FROM enc WHERE pos > len(word)),
           |ft AS (SELECT unnest(out) AS token FROM fin)
           |SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM ft GROUP BY token""".stripMargin
      }),
    // BYTE-LEVEL BPE encode (GPT-2 apply): UTF-8 bytes → display
    // remap → greedy longest-match against a remapped-space vocab;
    // docs get non-ASCII suffixes (doc_id % 4) so multi-byte vocab
    // hits AND the single-BYTE fallback (語 → 3 byte tokens) are both
    // exercised. The oracle rebuilds the remap from hex(encode(word))
    // via the 256-entry chr() table and replays the same cursor, so
    // every byte-level split decision is hash-checked.
    Query("q_bpe_encode_bytes", (s, d) =>
      T(s, d, "documents")
        .select(explode(Bpe.encodeBytesLongestMatch(
          concat(col("text"), element_at(
            array(byteSuffixes.map(lit): _*),
            (col("doc_id") % 4 + 1).cast("int"))),
          bpeByteVocab)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n")),
      // byte-level encode: the SAME greedy cursor, preceded by the
      // byte remap — hex(encode(word)) gives the UTF-8 bytes as hex
      // pairs (the md5-bucket strpos-parse precedent), each byte joins
      // the 256-entry chr() table (generated from the ONE Scala
      // ByteRemap.byteToChar array), string_agg in byte order rebuilds
      // the remapped word the trie expression walks
      Some {
        val bvals = (0 until 256).mkString(", ")
        val bchrs = graft.expressions.ByteRemap.byteToChar
          .map(c => s"chr(${c.toInt})").mkString(", ")
        val vlist = bpeByteVocab.map(sqlChrLit).mkString(", ")
        val suffix = byteSuffixes.zipWithIndex.map { case (x, i) =>
          s"WHEN $i THEN ${sqlChrLit(x)}" }.mkString(" ")
        s"""WITH RECURSIVE bmap AS (SELECT unnest([$bvals]) AS b, unnest([$bchrs]) AS c),
           |vocab AS (SELECT unnest([$vlist]) AS tok),
           |t AS (SELECT doc_id, list_filter(string_split(text || CASE CAST(doc_id % 4 AS INT) $suffix END, ' '), x -> x <> '') AS toks FROM documents),
           |w AS (SELECT doc_id, unnest(generate_series(1, CAST(len(toks) AS BIGINT))) AS wi, toks FROM t WHERE len(toks) >= 1),
           |ww0 AS (SELECT doc_id, wi, hex(encode(toks[wi])) AS h FROM w),
           |wp AS (SELECT doc_id, wi, unnest(generate_series(1, CAST(len(h) // 2 AS BIGINT))) AS bi, h FROM ww0),
           |wv AS (SELECT doc_id, wi, bi,
           |(strpos('0123456789ABCDEF', substring(h, CAST(2 * bi - 1 AS INT), 1)) - 1) * 16
           |+ (strpos('0123456789ABCDEF', substring(h, CAST(2 * bi AS INT), 1)) - 1) AS bv FROM wp),
           |ww AS (SELECT doc_id, wi, string_agg(c, '' ORDER BY bi) AS word FROM wv JOIN bmap ON bv = b GROUP BY doc_id, wi),
           |enc AS (
           |SELECT doc_id, wi, word, CAST(1 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS out FROM ww
           |UNION ALL
           |SELECT doc_id, wi, word, pos + mlen AS pos,
           |list_append(out, substring(word, pos, mlen)) AS out FROM (
           |SELECT e.doc_id, e.wi, e.word, e.pos, e.out,
           |CAST(COALESCE(MAX(CASE WHEN substring(e.word, e.pos, len(v.tok)) = v.tok THEN len(v.tok) END), 1) AS BIGINT) AS mlen
           |FROM enc e LEFT JOIN vocab v ON substring(e.word, e.pos, len(v.tok)) = v.tok
           |WHERE e.pos <= len(e.word)
           |GROUP BY e.doc_id, e.wi, e.word, e.pos, e.out) s),
           |fin AS (SELECT out FROM enc WHERE pos > len(word)),
           |ft AS (SELECT unnest(out) AS token FROM fin)
           |SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM ft GROUP BY token""".stripMargin
      }),
    // lossless byte-level tokenize → ids → DETOKENIZE roundtrip (the
    // dataloader contract byte-level mode exists for): whole-text
    // GPT-2 encode (whitespace bytes remap and merge like any other),
    // TOTAL id space (256 base bytes + merge products — no OOV
    // sentinel anywhere), decode = id → token → concat → unremap.
    // The oracle is the IDENTITY (the q_warc_roundtrip precedent):
    // the restored text hash-matches documents.text iff every split,
    // id and decode decision is lossless on every doc.
    Query("q_tokenize_roundtrip_bytes", (s, d) => {
      val idVocab = Bpe.byteIdVocab(bpeByteVocab)
      T(s, d, "documents").select(col("doc_id"),
        Bpe.decodeBytes(
          Bpe.tokenIdsTotal(
            Bpe.encodeBytesFullText(col("text"), bpeByteVocab), idVocab),
          idVocab).as("text"))
    },
      // byte-level roundtrip: identity — losslessness of the whole
      // encode→ids→decode chain IS the claim under hash check
      Some("SELECT doc_id, text FROM documents")),
    // WordPiece (BERT) production encode: greedy longest match under
    // the position-split vocabulary (word-initial vs ##-continuation
    // entries are distinct citizens), whole-word [UNK] on any
    // mid-word failure or >12-char words. The oracle replays the
    // cursor with a (body, cont) vocab table — a NULL match means
    // [UNK]-and-jump instead of BPE's single-char fallback, so both
    // defining WordPiece semantics are hash-checked per decision.
    Query("q_wordpiece_encode", (s, d) =>
      T(s, d, "documents")
        .select(explode(Bpe.encodeWordPiece(col("text"),
          wordPieceVocabFixed, maxWordChars = 12)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n")),
      // WordPiece encode: the greedy cursor replayed with a
      // (body, cont) vocabulary — a row matches only when its
      // continuation flag equals (pos > 1), a NULL longest-match means
      // whole-word [UNK] (out is REPLACED, discarding matched pieces)
      // and the cursor jumps past the end; >12-char words [UNK] in the
      // anchor row without scanning
      Some {
        val bodies = wordPieceVocabFixed
          .map(t => s"'${t.stripPrefix("##")}'").mkString(", ")
        val conts = wordPieceVocabFixed
          .map(t => if (t.startsWith("##")) "true" else "false")
          .mkString(", ")
        s"""WITH RECURSIVE vocab AS (SELECT unnest([$bodies]) AS body, unnest([$conts]) AS cont),
           |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
           |w AS (SELECT doc_id, unnest(generate_series(1, CAST(len(toks) AS BIGINT))) AS wi, toks FROM t WHERE len(toks) >= 1),
           |ww AS (SELECT doc_id, wi, toks[wi] AS word FROM w),
           |enc AS (
           |SELECT doc_id, wi, word,
           |CASE WHEN len(word) > 12 THEN CAST(len(word) + 1 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS pos,
           |CASE WHEN len(word) > 12 THEN ['[UNK]'] ELSE CAST([] AS VARCHAR[]) END AS out FROM ww
           |UNION ALL
           |SELECT doc_id, wi, word,
           |CASE WHEN mlen IS NULL THEN CAST(len(word) + 1 AS BIGINT) ELSE pos + mlen END AS pos,
           |CASE WHEN mlen IS NULL THEN ['[UNK]']
           |ELSE list_append(out, CASE WHEN pos = 1 THEN substring(word, pos, mlen) ELSE '##' || substring(word, pos, mlen) END) END AS out FROM (
           |SELECT e.doc_id, e.wi, e.word, e.pos, e.out,
           |CAST(MAX(CASE WHEN substring(e.word, e.pos, len(v.body)) = v.body AND v.cont = (e.pos > 1) THEN len(v.body) END) AS BIGINT) AS mlen
           |FROM enc e LEFT JOIN vocab v ON substring(e.word, e.pos, len(v.body)) = v.body AND v.cont = (e.pos > 1)
           |WHERE e.pos <= len(e.word)
           |GROUP BY e.doc_id, e.wi, e.word, e.pos, e.out) s),
           |fin AS (SELECT out FROM enc WHERE pos > len(word)),
           |ft AS (SELECT unnest(out) AS token FROM fin)
           |SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM ft GROUP BY token""".stripMargin
      }),
    // WordPiece round-1 TRAINING statistics: the scored pair table
    // the likelihood argmax score(a,b) = cnt_pair/(cnt_a·cnt_b)
    // reads — pair counts plus both symbol marginals, all exact
    // longs (the division happens at the driver argmax; the
    // distributed round ships only integers). Full table.
    Query("q_wordpiece_pair_scores", (s, d) =>
      Bpe.wordPiecePairScores(
        Bpe.wordFreqs(T(s, d, "documents"))
          .select(Bpe.wordPieceSymbols(col("word")).as("symbols"),
            col("freq"))),
      // WordPiece round-1 statistics: ##-marked symbol enumeration per
      // distinct word (first char plain), weighted pair counts, symbol
      // marginals joined back — exact integers end to end
      Some("""WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents),
        |wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word),
        |sy AS (SELECT word, freq, unnest(generate_series(1, CAST(len(word) AS BIGINT))) AS i FROM wf),
        |sym AS (SELECT freq, CASE WHEN i = 1 THEN substring(word, CAST(i AS INT), 1) ELSE '##' || substring(word, CAST(i AS INT), 1) END AS s FROM sy),
        |mg AS (SELECT s AS sym, CAST(SUM(freq) AS BIGINT) AS cnt FROM sym GROUP BY s),
        |px AS (SELECT word, freq, unnest(generate_series(1, CAST(len(word) - 1 AS BIGINT))) AS i FROM wf WHERE len(word) >= 2),
        |pc AS (SELECT CASE WHEN i = 1 THEN substring(word, CAST(i AS INT), 1) ELSE '##' || substring(word, CAST(i AS INT), 1) END AS a,
        |'##' || substring(word, CAST(i + 1 AS INT), 1) AS b,
        |CAST(SUM(freq) AS BIGINT) AS cnt_pair FROM px GROUP BY 1, 2)
        |SELECT pc.a, pc.b, pc.cnt_pair, ma.cnt AS cnt_a, mb.cnt AS cnt_b
        |FROM pc JOIN mg ma ON pc.a = ma.sym JOIN mg mb ON pc.b = mb.sym""".stripMargin)),
    // tokenizer FERTILITY stats (the standard tokenizer-evaluation
    // table): per language, words / subwords / chars and
    // subwords-per-word through the real longest-match encoder —
    // exact integer sums, ONE IEEE division for the ratio
    Query("q_encode_stats", (s, d) =>
      T(s, d, "documents")
        .select(col("lang"),
          explode(TextFunctions.tokens(col("text"))).as("word"))
        .select(col("lang"), length(col("word")).cast("long").as("n_chars"),
          size(graft.expressions.BpeEncode.longestMatch(
            col("word"), bpeEncodeVocab)).cast("long").as("n_sub"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_sub")).as("n_subwords"),
          sum(col("n_chars")).as("n_chars"),
          (sum(col("n_sub")).cast("double") /
            count(lit(1)).cast("double")).as("fertility")),
      // fertility: the same greedy cursor, carrying only the subword
      // COUNT through the recursion; lang recovered by (doc, word-idx)
      // join, one IEEE division for the ratio
      Some {
        val vlist = bpeEncodeVocab.map(t => s"'$t'").mkString(", ")
        s"""WITH RECURSIVE vocab AS (SELECT unnest([$vlist]) AS tok),
           |t AS (SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
           |w AS (SELECT doc_id, lang, unnest(generate_series(1, CAST(len(toks) AS BIGINT))) AS wi, toks FROM t WHERE len(toks) >= 1),
           |ww AS (SELECT doc_id, lang, wi, toks[wi] AS word FROM w),
           |enc AS (
           |SELECT doc_id, wi, word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n_sub FROM ww
           |UNION ALL
           |SELECT doc_id, wi, word, pos + mlen AS pos, n_sub + 1 AS n_sub FROM (
           |SELECT e.doc_id, e.wi, e.word, e.pos, e.n_sub,
           |CAST(COALESCE(MAX(CASE WHEN substring(e.word, e.pos, len(v.tok)) = v.tok THEN len(v.tok) END), 1) AS BIGINT) AS mlen
           |FROM enc e LEFT JOIN vocab v ON substring(e.word, e.pos, len(v.tok)) = v.tok
           |WHERE e.pos <= len(e.word)
           |GROUP BY e.doc_id, e.wi, e.word, e.pos, e.n_sub) s),
           |fin AS (SELECT doc_id, wi, word, n_sub FROM enc WHERE pos > len(word)),
           |j AS (SELECT ww.lang, f.n_sub, CAST(len(f.word) AS BIGINT) AS n_chars
           |FROM fin f JOIN ww ON ww.doc_id = f.doc_id AND ww.wi = f.wi)
           |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
           |CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
           |CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           |CAST(SUM(n_sub) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS fertility
           |FROM j GROUP BY lang""".stripMargin
      }),
    // unigram tokenizer SEED vocabulary (Kudo 2018): every substring
    // (length 1..4) of every word occurrence, frequency-weighted,
    // top-200 by (total desc, piece asc) — selection through
    // OrderStats.selectTopN, bit-identical to the row_number
    // definition with no global sort
    Query("q_unigram_seed", (s, d) =>
      Unigram.seedVocab(T(s, d, "documents"), maxPieceLen = 4,
        topK = 200L),
      // unigram seed: replay the substring enumeration (1..4 per start
      // position, frequency-weighted) + the (total desc, piece asc)
      // top-200 — the exact row_number definition selectTopN reproduces
      Some("""WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT unnest(toks) AS word FROM t),
        |wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt FROM w GROUP BY word),
        |subs AS (SELECT wcnt, unnest(flatten(list_transform(range(1, len(word) + 1), i ->
        |list_transform(range(1, least(4, len(word) - i + 1) + 1), l ->
        |substring(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece FROM wf),
        |agg AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS total FROM subs GROUP BY piece),
        |rk AS (SELECT piece, total, ROW_NUMBER() OVER (ORDER BY total DESC, piece ASC) AS rn FROM agg)
        |SELECT piece, total FROM rk WHERE rn <= 200""".stripMargin)),
    // the hard-EM unigram TRAINER end-to-end at driver scale (seed →
    // 2 EM rounds → pruned model). Rows-only by construction: the
    // M-step weights are StrictMath-log ticks — deterministic across
    // JVMs but not SQL-replayable (libm log differs per engine); the
    // sequential bit-replay lives in UnigramSpec
    Query("q_unigram_train", (s, d) =>
      Unigram.trainViterbiEm(T(s, d, "documents"), vocabSize = 64,
        maxPieceLen = 3, seedSize = 256L, rounds = 2), None),
    // unigram Viterbi DECODE under a fixed literal tick-weight model:
    // max-score segmentation (exact integer DP, ties → smallest
    // start) — the oracle replays the forward DP + backtrack as two
    // recursive CTEs, so every split decision is hash-checked
    Query("q_unigram_segment", (s, d) =>
      T(s, d, "documents")
        .select(explode(Unigram.segment(
          col("text"), unigramSegModel, unigramOov)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n")),
      // unigram Viterbi decode: forward DP as a recursive CTE carrying
      // the best-score and backpointer lists (ties -> smallest start),
      // then a backtrack recursion reassembling each word's pieces;
      // single chars outside the model take the OOV weight
      Some {
        val plist = unigramSegModel.map(p => s"'${p._1}'").mkString(", ")
        val wlist = unigramSegModel
          .map(p => s"CAST(${p._2} AS BIGINT)").mkString(", ")
        s"""WITH RECURSIVE m AS (SELECT unnest([$plist]) AS piece, unnest([$wlist]) AS w),
           |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
           |wd AS (SELECT doc_id, unnest(generate_series(1, CAST(len(toks) AS BIGINT))) AS wi, toks FROM t WHERE len(toks) >= 1),
           |ww AS (SELECT doc_id, wi, toks[wi] AS word FROM wd),
           |fwd AS (
           |SELECT doc_id, wi, word, CAST(0 AS BIGINT) AS e,
           |[CAST(0 AS BIGINT)] AS best, [CAST(0 AS BIGINT)] AS back FROM ww
           |UNION ALL
           |SELECT doc_id, wi, word, e + 1,
           |list_append(best, mx) AS best, list_append(back, s_star) AS back
           |FROM (
           |SELECT doc_id, wi, word, e, best, back, MAX(cand) AS mx,
           |MIN(CASE WHEN cand = mxw THEN s END) AS s_star
           |FROM (
           |SELECT x.*,
           |x.best[CAST(x.s + 1 AS INT)] + COALESCE(m.w,
           |CASE WHEN x.e + 1 - x.s = 1 THEN CAST($unigramOov AS BIGINT) END) AS cand,
           |MAX(x.best[CAST(x.s + 1 AS INT)] + COALESCE(m.w,
           |CASE WHEN x.e + 1 - x.s = 1 THEN CAST($unigramOov AS BIGINT) END))
           |OVER (PARTITION BY x.doc_id, x.wi) AS mxw
           |FROM (
           |SELECT f.doc_id, f.wi, f.word, f.e, f.best, f.back,
           |unnest(range(greatest(0, f.e + 1 - $unigramMaxPieceLen), f.e + 1)) AS s
           |FROM fwd f WHERE f.e < len(f.word)
           |) x
           |LEFT JOIN m ON substring(x.word, CAST(x.s + 1 AS INT), CAST(x.e + 1 - x.s AS INT)) = m.piece
           |) cands
           |WHERE cand IS NOT NULL
           |GROUP BY doc_id, wi, word, e, best, back
           |) step),
           |fin AS (SELECT doc_id, wi, word, back FROM fwd WHERE e = len(word)),
           |bt AS (
           |SELECT doc_id, wi, word, back, CAST(len(word) AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS toks FROM fin
           |UNION ALL
           |SELECT doc_id, wi, word, back,
           |back[CAST(pos + 1 AS INT)] AS pos,
           |list_prepend(substring(word, CAST(back[CAST(pos + 1 AS INT)] + 1 AS INT),
           |CAST(pos - back[CAST(pos + 1 AS INT)] AS INT)), toks) AS toks
           |FROM bt WHERE pos > 0),
           |segs AS (SELECT toks FROM bt WHERE pos = 0),
           |ft AS (SELECT unnest(toks) AS token FROM segs)
           |SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM ft GROUP BY token""".stripMargin
      }),
    Query("q_tokcount", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_ws"),
        TextFunctions.bpeishCount(col("text")).cast("long").as("n_bpe")),
      Some("""SELECT doc_id,
        |CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_ws,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin)),
    Query("q_quality_score", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.dupTokenRatio(col("text")).as("dup_tok_ratio")),
      Some("""SELECT doc_id,
        |(CAST(length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g')) AS DOUBLE) / length(text)) * 0.5
        |+ (CAST(len(list_filter(list_filter(string_split(text, ' '), t -> t <> ''), t -> list_contains(['the','a','an','of','and','in','to','is','for','on'], t))) AS DOUBLE)
        |   / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1)) * 0.3
        |+ least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.2 AS quality,
        |1.0 - CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
        |  / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1) AS dup_tok_ratio
        |FROM documents""".stripMargin)),
    Query("q_langid", (s, d) =>
      T(s, d, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("lang_pred")),
      Some("""WITH t AS (SELECT doc_id, lang,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)
        |SELECT doc_id, lang, list_sort([
        |  {'h': len(list_filter(toks, x -> list_contains(['the','and','of','is','fast','slow'], x))), 'l': 'en'},
        |  {'h': len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))), 'l': 'es'},
        |  {'h': len(list_filter(toks, x -> list_contains(['der','die','und','ist'], x))), 'l': 'de'},
        |  {'h': len(list_filter(toks, x -> list_contains(['le','la','et','est'], x))), 'l': 'fr'},
        |  {'h': len(list_filter(toks, x -> list_contains(['spark','query','data'], x))), 'l': 'zh'}
        |], 'DESC')[1].l AS lang_pred FROM t""".stripMargin)),
    // char-diversity gibberish signal: fixed-alphabet histogram via
    // the length-of-removal trick, Rényi-2 collision ppm in pure
    // long arithmetic — scan-fused, zero shuffle
    Query("q_char_diversity", (s, d) =>
      T(s, d, "documents")
        .withColumn("__cd", TextFunctions.charDiversity(col("text")))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          col("__cd.n_alpha").as("n_alpha"),
          col("__cd.n_distinct_alpha").as("n_distinct_alpha"),
          col("__cd.collision_ppm").as("collision_ppm"),
          (col("__cd.collision_ppm") > 100000L).as("repetitive")),
      // char diversity: the SAME alphabet constant drives both engines
      // — per-char counts by length-of-removal, pure integer collision
      Some {
        val cnts = graft.functions.TextFunctions.diversityAlphabet.map(c =>
          s"(len(text) - len(replace(text, '$c', '')))")
        val nAlpha = cnts.mkString("(", " + ", ")")
        val sumSq = cnts.map(c => s"$c * $c").mkString("(", " + ", ")")
        val nDist = cnts.map(c => s"(CASE WHEN $c > 0 THEN 1 ELSE 0 END)")
          .mkString("(", " + ", ")")
        s"""WITH c AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
           |CAST($nAlpha AS BIGINT) AS n_alpha,
           |CAST($nDist AS BIGINT) AS n_distinct_alpha,
           |CAST($sumSq AS BIGINT) AS sum_sq FROM documents)
           |SELECT doc_id, n_chars, n_alpha, n_distinct_alpha,
           |CASE WHEN n_alpha > 0 THEN (1000000 * sum_sq) // (n_alpha * n_alpha) ELSE CAST(0 AS BIGINT) END AS collision_ppm,
           |CASE WHEN n_alpha > 0 THEN (1000000 * sum_sq) // (n_alpha * n_alpha) ELSE CAST(0 AS BIGINT) END > 100000 AS repetitive
           |FROM c""".stripMargin
      }),
    // MODEL-based language ID (the production upgrade of q_langid's
    // marker heuristic): char-bigram naive-Bayes-style scorer fit on
    // the corpus's own labels, md5-hashed buckets, tick likelihood
    // ratios, per-doc argmax — the oracle replays fit + densify +
    // probe + argmax CTE-for-CTE, so every tick and every tie is
    // hash-checked
    Query("q_langid_model", (s, d) =>
      Corpus.langIdModel(T(s, d, "documents")),
      // model langid: fit (lang, bucket) char-bigram counts, densify
      // langs × observed buckets (zero cells still smooth), window the
      // totals onto the bounded model, probe every instance against
      // every class, argmax (score desc, class desc) per doc
      Some(langIdModelOracle)),
    // Unicode NFC normalization (stage-0 canonicalization): each doc
    // gets a decomposed/ligature/reordered suffix keyed by doc_id%6;
    // JDK Normalizer output is hash-checked against DuckDB's
    // nfc_normalize (both UAX #15) byte-for-byte
    Query("q_normalize_text", (s, d) => {
      val raw = concat(col("text"), element_at(
        array(nfcSuffixes.map(lit): _*),
        (col("doc_id") % 6 + 1).cast("int")))
      T(s, d, "documents").select(col("doc_id"),
        TextFunctions.normalizeNfc(raw).as("text_nfc"),
        (raw =!= TextFunctions.normalizeNfc(raw)).as("changed"))
    },
      // NFC: the suffix table is generated from the SAME Scala literal
      // as the Spark side (chr(codepoint) concatenation — SQL literals
      // don't process \u escapes); nfc_normalize is DuckDB's UAX #15
      Some {
        val sfx = nfcSuffixes.map(sqlChrLit).mkString(", ")
        val ks = nfcSuffixes.indices.mkString(", ")
        s"""WITH sfx AS (SELECT unnest([$sfx]) AS s, unnest([$ks]) AS k),
           |r AS (SELECT d.doc_id, d.text || f.s AS raw
           |FROM documents d JOIN sfx f ON f.k = d.doc_id % 6)
           |SELECT doc_id, nfc_normalize(raw) AS text_nfc,
           |raw <> nfc_normalize(raw) AS changed FROM r""".stripMargin
      }),
    // the oracle-checkable polynomial fold (DuckDB replays the md5 +
    // hex-parse + modular fold via list_reduce); rollingFingerprint
    // (the xxhash64 fast path, same contract) stays spec-covered
    Query("q_fingerprint", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextFunctions.polyFingerprint(col("text")).as("fp")),
      // replays the polynomial fold token-by-token: same md5, same
      // 7-hex-char hash domain, same modular step — list_prepend(0)
      // supplies the fold's init value (list_reduce has no init arg)
      Some("""SELECT doc_id,
        |list_reduce(
        |list_prepend(CAST(0 AS BIGINT),
        |list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
        |t -> CAST('0x' || substr(md5(t), 1, 7) AS BIGINT))),
        |(a, h) -> (a * 31 + h) % 2147483647) AS fp
        |FROM documents""".stripMargin)),
    Query("q_vocab_df", (s, d) => Corpus.tokenDf(T(s, d, "documents")),
      Some("""SELECT tok, COUNT(*) AS df FROM (
        |SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
        |FROM documents) GROUP BY tok""".stripMargin)),
    // boolean retrieval THROUGH the inverted index: build postings,
    // serve a 3-term query — the oracle replays the DIRECT per-doc
    // distinct-term count, so the hash-match proves the index
    // roundtrip (postings neither drop nor duplicate a doc)
    Query("q_boolean_search", (s, d) =>
      Corpus.searchIndex(Corpus.invertedIndex(T(s, d, "documents")),
        Seq("spark", "merge", "vector")),
      // boolean search: the direct form — per-doc distinct query terms
      Some("""WITH dt AS (SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS tok
        |FROM documents)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit, COUNT(*) = 3 AS and_match
        |FROM dt WHERE tok IN ('spark', 'merge', 'vector') GROUP BY doc_id""".stripMargin)),
    // multi-pattern content filter (the C4 badwords scan): ONE
    // Aho-Corasick pass counts all five patterns — phrases crossing
    // token boundaries included. The patterns are chosen BORDERLESS
    // (no proper prefix = suffix), so occurrences can never overlap
    // and the replace-length replay counts them exactly; overlap
    // semantics itself is spec-pinned against the naive reference
    Query("q_badwords_profile", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        graft.expressions.MultiPatternCount(col("text"),
          Seq("slow", "spark", "w j", "merge f", "qv")).as("m"))
        .select(col("doc_id"), col("m.n_hits").as("n_hits"),
          col("m.n_patterns").as("n_patterns"),
          (col("m.n_hits") > 0).as("flagged")),
      // badwords: per-pattern replace-length occurrence counts (exact
      // for borderless patterns — overlap impossible), summed + hit
      // flags per doc
      Some("""WITH c AS (SELECT doc_id,
        |(len(text) - len(replace(text, 'slow', ''))) // 4 AS c1,
        |(len(text) - len(replace(text, 'spark', ''))) // 5 AS c2,
        |(len(text) - len(replace(text, 'w j', ''))) // 3 AS c3,
        |(len(text) - len(replace(text, 'merge f', ''))) // 7 AS c4,
        |(len(text) - len(replace(text, 'qv', ''))) // 2 AS c5
        |FROM documents)
        |SELECT doc_id, CAST(c1 + c2 + c3 + c4 + c5 AS BIGINT) AS n_hits,
        |CAST((CASE WHEN c1 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c2 > 0 THEN 1 ELSE 0 END)
        |+ (CASE WHEN c3 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c4 > 0 THEN 1 ELSE 0 END)
        |+ (CASE WHEN c5 > 0 THEN 1 ELSE 0 END) AS INT) AS n_patterns,
        |(c1 + c2 + c3 + c4 + c5) > 0 AS flagged
        |FROM c""".stripMargin)),
    // PMI collocations: adjacent-pair counts + unigram marginals,
    // the log-free monotone ratio as one fixed-tree tick, min-count
    // guard before ranking, top-30 via TakeOrderedAndProject
    Query("q_collocations", (s, d) =>
      Corpus.collocations(T(s, d, "documents"), minCount = 5L, k = 30),
      // collocations: the same pair/unigram counts, the identical
      // fixed multiply tree, row_number top-30
      Some("""WITH tt AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
        |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (SELECT unnest(t) AS tok FROM tt) GROUP BY tok),
        |px AS (SELECT t, unnest(generate_series(1, CAST(len(t) AS BIGINT) - 1)) AS i FROM tt WHERE len(t) >= 2),
        |pc AS (SELECT t[CAST(i AS INT)] AS a, t[CAST(i + 1 AS INT)] AS b, CAST(COUNT(*) AS BIGINT) AS cnt_pair FROM px GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_uni FROM uni),
        |totb AS (SELECT CAST(SUM(cnt_pair) AS BIGINT) AS n_bi FROM pc),
        |sc AS (SELECT a, b, cnt_pair, ua.cnt AS cnt_a, ub.cnt AS cnt_b,
        |CAST(floor(((1.0e6 * CAST(cnt_pair AS DOUBLE)) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)) /
        |((CAST(n_bi AS DOUBLE) * CAST(ua.cnt AS DOUBLE)) * CAST(ub.cnt AS DOUBLE))) AS BIGINT) AS pmi_fp
        |FROM pc JOIN uni ua ON pc.a = ua.tok JOIN uni ub ON pc.b = ub.tok
        |CROSS JOIN tot CROSS JOIN totb WHERE cnt_pair >= 5),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi_fp DESC, a ASC, b ASC) AS rn FROM sc)
        |SELECT a, b, cnt_pair, cnt_a, cnt_b, pmi_fp FROM rk WHERE rn <= 30""".stripMargin)),
    // corpus DRIFT term report: the en vs de token distributions
    // full-outer-joined, probability ticks through the fixed tree,
    // top-20 by |Δp| — TakeOrderedAndProject, no global sort
    Query("q_corpus_drift", (s, d) => {
      val docs = T(s, d, "documents")
      Corpus.corpusDriftTerms(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "de"))
        .orderBy(col("drift_fp").desc, col("term")).limit(20)
    },
      // corpus drift: per-side counts, full-outer vocab join, the same
      // fixed floor(1e9·cnt/N) tree, |Δticks|, row_number top-20
      Some("""WITH ca AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM (
        |SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term FROM documents WHERE lang = 'en') GROUP BY term),
        |cb AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM (
        |SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term FROM documents WHERE lang = 'de') GROUP BY term),
        |j AS (SELECT COALESCE(ca.term, cb.term) AS term,
        |COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
        |t AS (SELECT term, cnt_a, cnt_b,
        |CAST(floor(1.0e9 * CAST(cnt_a AS DOUBLE) / CAST((SELECT SUM(cnt_a) FROM ca) AS DOUBLE)) AS BIGINT) AS p_a_fp,
        |CAST(floor(1.0e9 * CAST(cnt_b AS DOUBLE) / CAST((SELECT SUM(cnt_b) FROM cb) AS DOUBLE)) AS BIGINT) AS p_b_fp FROM j),
        |d AS (SELECT term, cnt_a, cnt_b, p_a_fp, p_b_fp, abs(p_a_fp - p_b_fp) AS drift_fp FROM t),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY drift_fp DESC, term ASC) AS rn FROM d)
        |SELECT term, cnt_a, cnt_b, p_a_fp, p_b_fp, drift_fp FROM rk WHERE rn <= 20""".stripMargin)),
    // one-row divergence summary over the FULL vocabulary: totals,
    // vocab overlap, total-variation ticks, directional OOV mass —
    // the admit-this-snapshot? gate numbers
    Query("q_corpus_divergence", (s, d) => {
      val docs = T(s, d, "documents")
      Corpus.corpusDivergence(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "de"))
    },
      // divergence summary: the same drift table aggregated over the
      // FULL vocabulary — integer masses first, fixed trees last
      Some("""WITH ca AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM (
        |SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term FROM documents WHERE lang = 'en') GROUP BY term),
        |cb AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM (
        |SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term FROM documents WHERE lang = 'de') GROUP BY term),
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
        |CAST(floor(1.0e9 * CAST(oov_mass_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS BIGINT) AS oov_b_fp
        |FROM g""".stripMargin)),
    Query("q_tfidf_top_terms", (s, d) =>
      Corpus.tfIdfTopTerms(T(s, d, "documents"), 3),
      Some("""WITH tf AS (
        |SELECT doc_id, tok, COUNT(*) AS tf FROM (
        |SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |FROM documents) GROUP BY doc_id, tok),
        |dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
        |SELECT doc_id, CAST(rnk AS INT) AS rank, tok, tf, df FROM (
        |SELECT tf.doc_id, tf.tok, tf.tf, dfc.df,
        |row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, dfc.df ASC, tf.tok ASC) AS rnk
        |FROM tf JOIN dfc ON tf.tok = dfc.tok) WHERE rnk <= 3""".stripMargin)),
    // ROUGE-1/2 over (full text, first-half-of-same-doc) pairs — the
    // truncated reference makes recall < precision by construction;
    // clipped multiset overlap, tick ratios, no libm anywhere
    Query("q_rouge_score", (s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val ref = array_join(slice(toks, lit(1),
        greatest(lit(1), (size(toks) / lit(2)).cast("int"))), " ")
      Eval.rougeN(T(s, d, "documents")
          .select(col("doc_id"), col("text").as("cand"), ref.as("ref")),
        "doc_id", "cand", "ref", Seq(1, 2))
    },
      // ROUGE: clipped multiset n-gram overlap — per-(id, gram) counts
      // joined, Σ least; guarded tick ratios share the Spark tree
      Some("""WITH t AS (SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS ct FROM documents),
        |p AS (SELECT id, ct, ct[1:greatest(1, len(ct) // 2)] AS rt FROM t),
        |c1c AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (SELECT id, unnest(ct) AS g FROM p) GROUP BY 1, 2),
        |c1r AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cr FROM (SELECT id, unnest(rt) AS g FROM p) GROUP BY 1, 2),
        |o1 AS (SELECT id, CAST(SUM(least(cc, cr)) AS BIGINT) AS overlap FROM c1c JOIN c1r USING (id, g) GROUP BY id),
        |r1 AS (SELECT p.id, CAST(1 AS BIGINT) AS n, COALESCE(o1.overlap, CAST(0 AS BIGINT)) AS overlap,
        |CAST(len(ct) AS BIGINT) AS cand_total, CAST(len(rt) AS BIGINT) AS ref_total
        |FROM p LEFT JOIN o1 ON p.id = o1.id),
        |c2c AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (
        |SELECT id, unnest(list_transform(generate_series(1, len(ct) - 1), i -> ct[i] || ' ' || ct[i + 1])) AS g FROM p) GROUP BY 1, 2),
        |c2r AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cr FROM (
        |SELECT id, unnest(list_transform(generate_series(1, len(rt) - 1), i -> rt[i] || ' ' || rt[i + 1])) AS g FROM p) GROUP BY 1, 2),
        |o2 AS (SELECT id, CAST(SUM(least(cc, cr)) AS BIGINT) AS overlap FROM c2c JOIN c2r USING (id, g) GROUP BY id),
        |r2 AS (SELECT p.id, CAST(2 AS BIGINT) AS n, COALESCE(o2.overlap, CAST(0 AS BIGINT)) AS overlap,
        |CAST(greatest(len(ct) - 1, 0) AS BIGINT) AS cand_total, CAST(greatest(len(rt) - 1, 0) AS BIGINT) AS ref_total
        |FROM p LEFT JOIN o2 ON p.id = o2.id),
        |q AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        |dd AS (SELECT id, n, overlap, cand_total, ref_total,
        |CASE WHEN cand_total > 0 THEN CAST(overlap AS DOUBLE) / CAST(cand_total AS DOUBLE) ELSE 0.0 END AS pd,
        |CASE WHEN ref_total > 0 THEN CAST(overlap AS DOUBLE) / CAST(ref_total AS DOUBLE) ELSE 0.0 END AS rd FROM q)
        |SELECT id, n, overlap, cand_total, ref_total,
        |CAST(floor(1000000.0 * pd) AS BIGINT) AS p_ticks,
        |CAST(floor(1000000.0 * rd) AS BIGINT) AS r_ticks,
        |CASE WHEN pd + rd > 0 THEN CAST(floor(1000000.0 * ((2.0 * pd) * rd) / (pd + rd)) AS BIGINT)
        |ELSE CAST(0 AS BIGINT) END AS f_ticks
        |FROM dd""".stripMargin)),
    // distinct-n diversity (mode-collapse detector for generated
    // corpora): distinct/total n-grams per order, guarded ticks
    Query("q_distinct_ngrams", (s, d) =>
      Eval.distinctN(T(s, d, "documents"), "text", Seq(1, 2)),
      // distinct-n: two-level exact distinct, guarded tick ratio
      Some("""WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ct FROM documents),
        |g1 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM (SELECT unnest(ct) AS g FROM t) GROUP BY g),
        |g2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |SELECT unnest(list_transform(generate_series(1, len(ct) - 1), i -> ct[i] || ' ' || ct[i + 1])) AS g FROM t) GROUP BY g),
        |r1 AS (SELECT CAST(1 AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(SUM(c) AS BIGINT) AS n_total FROM g1),
        |r2 AS (SELECT CAST(2 AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(SUM(c) AS BIGINT) AS n_total FROM g2),
        |q AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |SELECT n, n_distinct, n_total,
        |CASE WHEN n_total > 0 THEN CAST(floor(1000000.0 * (CAST(n_distinct AS DOUBLE) / CAST(n_total AS DOUBLE))) AS BIGINT)
        |ELSE CAST(0 AS BIGINT) END AS distinct_ticks
        |FROM q""".stripMargin)),
    // vocabulary Gini: token-mass inequality — the flattened-Zipf
    // synthetic-corpus flag; one vocab-bounded window, long sums
    Query("q_gini_vocab", (s, d) =>
      Corpus.giniConcentration(T(s, d, "documents")),
      // gini: same ascending rank + pinned final tree
      Some("""WITH f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents) GROUP BY tok),
        |r AS (SELECT f, CAST(ROW_NUMBER() OVER (ORDER BY f ASC, tok ASC) AS BIGINT) AS i FROM f),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab, CAST(SUM(f) AS BIGINT) AS n_tokens,
        |CAST(SUM(i * f) AS BIGINT) AS s_if FROM r)
        |SELECT n_vocab, n_tokens,
        |CAST(floor(1000000.0 * ((2.0 * CAST(s_if AS DOUBLE)) / (CAST(n_vocab AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        |- (CAST(n_vocab AS DOUBLE) + 1.0) / CAST(n_vocab AS DOUBLE))) AS BIGINT) AS gini_ticks
        |FROM s""".stripMargin)),
    // corpus-level BLEU kernel over the same pairs: clipped p1..p4,
    // linear brevity, pinned-association product ticks — one row
    Query("q_bleu_corpus", (s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val ref = array_join(slice(toks, lit(1),
        greatest(lit(1), (size(toks) / lit(2)).cast("int"))), " ")
      Eval.bleuKernel(T(s, d, "documents")
          .select(col("doc_id"), col("text").as("cand"), ref.as("ref")),
        "doc_id", "cand", "ref")
    },
      // BLEU kernel: corpus-sums of the same clipped machinery for
      // n=1..4; linear brevity; pinned-association product ticks
      Some("""WITH t AS (SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS ct FROM documents),
        |p AS (SELECT id, ct, ct[1:greatest(1, len(ct) // 2)] AS rt FROM t),
        |c1c AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (SELECT id, unnest(ct) AS g FROM p) GROUP BY 1, 2),
        |c1r AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cr FROM (SELECT id, unnest(rt) AS g FROM p) GROUP BY 1, 2),
        |c2c AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (
        |SELECT id, unnest(list_transform(generate_series(1, len(ct) - 1), i -> array_to_string(ct[i:i+1], ' '))) AS g FROM p) GROUP BY 1, 2),
        |c2r AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cr FROM (
        |SELECT id, unnest(list_transform(generate_series(1, len(rt) - 1), i -> array_to_string(rt[i:i+1], ' '))) AS g FROM p) GROUP BY 1, 2),
        |c3c AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (
        |SELECT id, unnest(list_transform(generate_series(1, len(ct) - 2), i -> array_to_string(ct[i:i+2], ' '))) AS g FROM p) GROUP BY 1, 2),
        |c3r AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cr FROM (
        |SELECT id, unnest(list_transform(generate_series(1, len(rt) - 2), i -> array_to_string(rt[i:i+2], ' '))) AS g FROM p) GROUP BY 1, 2),
        |c4c AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cc FROM (
        |SELECT id, unnest(list_transform(generate_series(1, len(ct) - 3), i -> array_to_string(ct[i:i+3], ' '))) AS g FROM p) GROUP BY 1, 2),
        |c4r AS (SELECT id, g, CAST(COUNT(*) AS BIGINT) AS cr FROM (
        |SELECT id, unnest(list_transform(generate_series(1, len(rt) - 3), i -> array_to_string(rt[i:i+3], ' '))) AS g FROM p) GROUP BY 1, 2),
        |k1 AS (SELECT CAST(COALESCE(SUM(least(cc, cr)), 0) AS BIGINT) AS clip_1 FROM c1c JOIN c1r USING (id, g)),
        |k2 AS (SELECT CAST(COALESCE(SUM(least(cc, cr)), 0) AS BIGINT) AS clip_2 FROM c2c JOIN c2r USING (id, g)),
        |k3 AS (SELECT CAST(COALESCE(SUM(least(cc, cr)), 0) AS BIGINT) AS clip_3 FROM c3c JOIN c3r USING (id, g)),
        |k4 AS (SELECT CAST(COALESCE(SUM(least(cc, cr)), 0) AS BIGINT) AS clip_4 FROM c4c JOIN c4r USING (id, g)),
        |tt AS (SELECT CAST(SUM(len(ct)) AS BIGINT) AS tot_1,
        |CAST(SUM(greatest(len(ct) - 1, 0)) AS BIGINT) AS tot_2,
        |CAST(SUM(greatest(len(ct) - 2, 0)) AS BIGINT) AS tot_3,
        |CAST(SUM(greatest(len(ct) - 3, 0)) AS BIGINT) AS tot_4,
        |CAST(SUM(len(rt)) AS BIGINT) AS ref_len FROM p),
        |w AS (SELECT * FROM k1, k2, k3, k4, tt),
        |dd AS (SELECT *,
        |CASE WHEN tot_1 > 0 THEN CAST(clip_1 AS DOUBLE) / CAST(tot_1 AS DOUBLE) ELSE 0.0 END AS p1,
        |CASE WHEN tot_2 > 0 THEN CAST(clip_2 AS DOUBLE) / CAST(tot_2 AS DOUBLE) ELSE 0.0 END AS p2,
        |CASE WHEN tot_3 > 0 THEN CAST(clip_3 AS DOUBLE) / CAST(tot_3 AS DOUBLE) ELSE 0.0 END AS p3,
        |CASE WHEN tot_4 > 0 THEN CAST(clip_4 AS DOUBLE) / CAST(tot_4 AS DOUBLE) ELSE 0.0 END AS p4,
        |CASE WHEN ref_len > 0 THEN least(1.0, CAST(tot_1 AS DOUBLE) / CAST(ref_len AS DOUBLE)) ELSE 0.0 END AS bp
        |FROM w)
        |SELECT clip_1, tot_1, clip_2, tot_2, clip_3, tot_3, clip_4, tot_4, ref_len,
        |CAST(floor(1000000.0 * p1) AS BIGINT) AS p1_ticks,
        |CAST(floor(1000000.0 * p2) AS BIGINT) AS p2_ticks,
        |CAST(floor(1000000.0 * p3) AS BIGINT) AS p3_ticks,
        |CAST(floor(1000000.0 * p4) AS BIGINT) AS p4_ticks,
        |CAST(floor(1000000.0 * bp) AS BIGINT) AS bp_ticks,
        |CAST(floor(1000000000000.0 * ((((bp * p1) * p2) * p3) * p4)) AS BIGINT) AS bleu_ticks
        |FROM dd""".stripMargin)),
    Query("q_bigram_counts", (s, d) => Corpus.bigramCounts(T(s, d, "documents")),
      Some("""WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS l FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])) AS bigram
        |FROM t WHERE len(l) >= 2)
        |SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram""".stripMargin)),
    Query("q_pii_scrub", (s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextFunctions.emailCount(col("text")).cast("long").as("n_emails"),
        TextFunctions.longNumCount(col("text")).cast("long").as("n_longnums"),
        TextFunctions.scrubPii(col("text")).as("scrubbed")),
      Some("""SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
        |CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_longnums,
        |regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin)),
    // benchmark decontamination: docs 0..24 stand in for the eval
    // suite; the rest of the corpus is checked for 3-gram overlap
    Query("q_decontaminate", (s, d) => {
      val docs = T(s, d, "documents")
      Corpus.decontaminate(
        docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), shingleN = 3, tau = 0.5)
    },
      Some(decontaminateOracle)),
    // the benchmark-side-too-big-to-broadcast shape: bloom sketch
    // prefilter on the corpus shingle stream + exact shuffle join.
    // Bit-identical output, shared oracle
    Query("q_decontaminate_bloom", (s, d) => {
      val docs = T(s, d, "documents")
      Corpus.decontaminate(
        docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), shingleN = 3, tau = 0.5,
        broadcastBench = false)
    },
      // identical output by contract — the bloom prefilter has no
      // false negatives and the exact join clears false positives
      Some(decontaminateOracle)),
    Query("q_length_profile", (s, d) =>
      Corpus.lengthProfile(T(s, d, "documents"), Seq("lang", "source")),
      Some("""SELECT lang, source, COUNT(*) AS n_docs,
        |CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS total_tokens,
        |CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE) / COUNT(*) AS mean_tokens
        |FROM documents GROUP BY lang, source""".stripMargin)),
    // Gopher-style repetition quality gate: per-row dup ratios + the
    // top-bigram fraction (explode + two combined aggs)
    Query("q_repetition_profile", (s, d) =>
      Corpus.repetitionProfile(T(s, d, "documents")),
      Some("""WITH per_row AS (SELECT doc_id,
        |1.0 - CAST(len(list_distinct(list_filter(string_split(text, chr(10)), l -> l <> ''))) AS DOUBLE)
        |  / greatest(len(list_filter(string_split(text, chr(10)), l -> l <> '')), 1) AS dup_line_ratio,
        |1.0 - CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
        |  / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1) AS dup_tok_ratio
        |FROM documents),
        |big AS (SELECT doc_id, bigram, COUNT(*) AS n FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])) AS bigram
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l FROM documents)
        |  WHERE len(l) >= 2) GROUP BY doc_id, bigram),
        |topb AS (SELECT doc_id, CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS top_bigram_frac
        |  FROM big GROUP BY doc_id)
        |SELECT p.doc_id, p.dup_line_ratio, p.dup_tok_ratio,
        |COALESCE(t.top_bigram_frac, 0.0) AS top_bigram_frac,
        |(p.dup_line_ratio > 0.30 OR COALESCE(t.top_bigram_frac, 0.0) > 0.18) AS repetitive
        |FROM per_row p LEFT JOIN topb t USING (doc_id)""".stripMargin)))
}
