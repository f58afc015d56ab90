package graft
package registry

import graft.operators._
import graft.functions._
import org.apache.spark.sql.functions._
import Fixtures._

/** SURVEY.md §2 F: training-data dedup, over the documents table. */
private[graft] object DedupQueries extends Family {

  /** q_dedup_cluster's oracle; the alternating-stars form
    * q_dedup_cluster_stars gives the same components, so shares it. */
  private def dedupClusterOracle: String =
    """WITH RECURSIVE toks AS (
      |SELECT doc_id, source, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
      |FROM documents),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
      |cand AS (
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      |FROM toks a JOIN toks b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
      |GROUP BY 1, 2),
      |edges AS (
      |SELECT a_id, b_id FROM cand JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.9),
      |sym AS (SELECT a_id AS src, b_id AS dst FROM edges
      |UNION SELECT b_id AS src, a_id AS dst FROM edges),
      |reach AS (
      |SELECT doc_id AS src, doc_id AS dst FROM documents
      |UNION
      |SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
      |SELECT src AS doc_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q_dedup_exact", (s, d) => Dedup.exact(T(s, d, "documents")),
      Some("""SELECT md5(lower(trim(text))) AS text_hash, MIN(doc_id) AS keeper_doc_id,
        |COUNT(*) AS n_copies FROM documents GROUP BY 1""".stripMargin)),
    // pairs → clusters: the step that turns near-dup PAIRS into
    // droppable duplicate groups (min-reachable-id representative)
    Query("q_dedup_cluster", (s, d) => {
      val docs = T(s, d, "documents")
      Graph.connectedComponents(
          docs.select(col("doc_id")),
          Dedup.ngramJaccardPairs(docs, Seq("source"), 0.9)
            .select("a_id", "b_id"))
        .select(col("id").as("doc_id"), col("comp").as("cluster_rep"))
    },
      Some(dedupClusterOracle)),
    Query("q_dedup_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(T(s, d, "documents"), Seq("source"), 0.9),
      Some("""WITH toks AS (
        |SELECT doc_id, source, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
        |FROM documents),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |pairs AS (
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        |FROM toks a JOIN toks b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        |GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.9""".stripMargin)),
    // same clusters via the O(log d) alternating-stars algorithm —
    // the two independent implementations must agree bit-for-bit
    // with the same recursive-CTE oracle
    Query("q_dedup_cluster_stars", (s, d) => {
      val docs = T(s, d, "documents")
      Graph.connectedComponentsStars(
          docs.select(col("doc_id")),
          Dedup.ngramJaccardPairs(docs, Seq("source"), 0.9)
            .select("a_id", "b_id"))
        .select(col("id").as("doc_id"), col("comp").as("cluster_rep"))
    },
      Some(dedupClusterOracle)),
    // 32 hashes × 2 bands of 16: this corpus's tiny vocabulary makes
    // 1-gram jaccard between RANDOM docs ~0.6, so short bands (4
    // rows) degenerate into near-all-pairs candidates; 16-row bands
    // keep collision probability j^16 — negligible at j=0.6, high
    // only for true near-dups.
    // the REAL minhash banding/prefilter/verify machinery
    // (minhashPairsFromSketch) driven with an md5-derived hash family
    // both engines compute identically — v = first 15 md5 hex chars
    // of the token as int64; sig_j = min over v of md5int("v_j").
    // DuckDB replays sketch, band slices, 24-of-32 signature
    // prefilter and the exact jaccard verify; the xxhash64+MinHashSig
    // fast path keeps its own drive via q_minhash_recall. Promoted
    // rows-only -> oracle-green r9 (the simhash r8 pattern).
    Query("q_dedup_minhash_lsh", (s, d) => {
      val sketch = T(s, d, "documents")
        .select(col("doc_id").as("id"), col("text"))
        .transform(md5Sketch)
      Dedup.minhashPairsFromSketch(sketch, threshold = 0.9,
        numHashes = 32, bands = 2)
    },
      // replays the full LSH pipeline with the same md5 hash family:
      // sketch (15-hex-char md5 ints, 32 per-seed minima), band
      // membership via exact slice equality (the Spark side equi-joins
      // on xxhash64(slice), equality-preserving), the 24-of-32
      // signature prefilter, and the exact merge-walk jaccard verify
      Some("""WITH mtoks AS (
        |SELECT doc_id, list_sort(list_distinct(list_transform(
        |list_filter(string_split(text, ' '), t -> t <> ''),
        |t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)))) AS sh
        |FROM documents),
        |nz AS (SELECT * FROM mtoks WHERE len(sh) > 0),
        |sigs AS (
        |SELECT doc_id, sh, list_transform(range(0, 32), j ->
        |list_min(list_transform(sh, v ->
        |CAST('0x' || substr(md5(CAST(v AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT)))) AS sig
        |FROM nz),
        |banded AS (
        |SELECT doc_id, s.band_no, CAST(sig[s.band_no*16+1:(s.band_no+1)*16] AS VARCHAR) AS bkey
        |FROM sigs CROSS JOIN (SELECT unnest([0, 1]) AS band_no) s),
        |cands AS (
        |SELECT DISTINCT x.doc_id AS p, y.doc_id AS q
        |FROM banded x JOIN banded y
        |ON x.band_no = y.band_no AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |pre AS (
        |SELECT c.p, c.q, sa.sh AS a_sh, sb.sh AS b_sh
        |FROM cands c JOIN sigs sa ON c.p = sa.doc_id
        |JOIN sigs sb ON c.q = sb.doc_id
        |WHERE len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) >= 24)
        |SELECT p AS a_id, q AS b_id,
        |CAST(len(list_intersect(a_sh, b_sh)) AS DOUBLE) /
        |(len(a_sh) + len(b_sh) - len(list_intersect(a_sh, b_sh))) AS jaccard
        |FROM pre
        |WHERE CAST(len(list_intersect(a_sh, b_sh)) AS DOUBLE) /
        |(len(a_sh) + len(b_sh) - len(list_intersect(a_sh, b_sh))) >= 0.9""".stripMargin)),
    // incremental (daily-batch) near-dup detection: docs with
    // doc_id % 5 == 4 play the arriving batch, the rest the stored
    // corpus — the batch is probed against the corpus band index
    // without re-pairing the corpus (the 100 TB shape: O(batch) new
    // work + key-lookup joins). Same md5-portable family as
    // q_dedup_minhash_lsh so DuckDB replays sketch → asymmetric band
    // probe → 24-of-32 prefilter → exact jaccard verify bit-exactly.
    // The ONE sketch pipeline is localCheckpoint'd before the split:
    // that is the stored-sketch production shape (compute once, every
    // probe branch re-reads materialized blocks, not the md5 tree).
    Query("q_dedup_incremental", (s, d) => {
      val sketch = T(s, d, "documents")
        .select(col("doc_id").as("id"), col("text"))
        .transform(md5Sketch)
        .localCheckpoint()
      Dedup.incrementalMinhashPairs(
        sketch.filter(pmod(col("id"), lit(5)) === 4),
        sketch.filter(pmod(col("id"), lit(5)) < 4),
        threshold = 0.9, numHashes = 32, bands = 2)
    },
      // the incremental probe: same md5 family, but the band join is
      // ASYMMETRIC — batch (doc_id % 5 = 4) against corpus (the rest)
      Some("""WITH mtoks AS (
        |SELECT doc_id, list_sort(list_distinct(list_transform(
        |list_filter(string_split(text, ' '), t -> t <> ''),
        |t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)))) AS sh
        |FROM documents),
        |nz AS (SELECT * FROM mtoks WHERE len(sh) > 0),
        |sigs AS (
        |SELECT doc_id, sh, list_transform(range(0, 32), j ->
        |list_min(list_transform(sh, v ->
        |CAST('0x' || substr(md5(CAST(v AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT)))) AS sig
        |FROM nz),
        |banded AS (
        |SELECT doc_id, s.band_no, CAST(sig[s.band_no*16+1:(s.band_no+1)*16] AS VARCHAR) AS bkey
        |FROM sigs CROSS JOIN (SELECT unnest([0, 1]) AS band_no) s),
        |cands AS (
        |SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        |FROM banded n JOIN banded c
        |ON n.band_no = c.band_no AND n.bkey = c.bkey
        |AND n.doc_id % 5 = 4 AND c.doc_id % 5 < 4),
        |pre AS (
        |SELECT c.new_id, c.corpus_id, sa.sh AS a_sh, sb.sh AS b_sh
        |FROM cands c JOIN sigs sa ON c.new_id = sa.doc_id
        |JOIN sigs sb ON c.corpus_id = sb.doc_id
        |WHERE len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) >= 24)
        |SELECT new_id, corpus_id,
        |CAST(len(list_intersect(a_sh, b_sh)) AS DOUBLE) /
        |(len(a_sh) + len(b_sh) - len(list_intersect(a_sh, b_sh))) AS jaccard
        |FROM pre
        |WHERE CAST(len(list_intersect(a_sh, b_sh)) AS DOUBLE) /
        |(len(a_sh) + len(b_sh) - len(list_intersect(a_sh, b_sh))) >= 0.9""".stripMargin)),
    // normalized near-exact dedup: case/punct/whitespace-insensitive
    // hash-groupBy — the first rung of the fuzzy ladder at exact cost
    Query("q_dedup_normalized", (s, d) =>
      Dedup.normalizedExact(T(s, d, "documents")),
      // normalized dedup: the exact normalization chain (explicit char
      // classes — RE2 \s excludes \x0B, Java's includes it, so neither
      // side uses \s), then the same hash-groupBy as exact dedup
      Some("""WITH n AS (SELECT doc_id, text,
        |trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \n\t\r]', ' ', 'g'), '[ \n\t\r]+', ' ', 'g')) AS norm
        |FROM documents)
        |SELECT md5(norm) AS norm_hash, min(doc_id) AS keeper_doc_id,
        |CAST(COUNT(*) AS BIGINT) AS n_copies,
        |CAST(COUNT(DISTINCT text) AS BIGINT) AS n_variants
        |FROM n GROUP BY md5(norm)""".stripMargin)),
    // span-level exact-substring dedup (the Lee et al. 2022 signal):
    // every duplicated 8-token window, unioned per doc into covered-
    // token counts — count-over-partition(window hash), no self-join
    Query("q_dedup_substring", (s, d) =>
      Dedup.duplicatedSpanProfile(T(s, d, "documents"), k = 8),
      // duplicated 8-token spans: window hash occurrence counts, then a
      // per-doc sorted interval union (all spans share length 8, so the
      // union is least(8, start - prev_start) after an ORDER BY start)
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
        |w AS (SELECT doc_id, toks, unnest(generate_series(0, n_tokens - 8)) AS start FROM b WHERE n_tokens >= 8),
        |h AS (SELECT doc_id, start, md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS wh FROM w),
        |o AS (SELECT doc_id, start, COUNT(*) OVER (PARTITION BY wh) AS occ FROM h),
        |d AS (SELECT doc_id, start, lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev FROM o WHERE occ >= 2),
        |c AS (SELECT doc_id, CAST(SUM(CASE WHEN prev IS NULL THEN 8 ELSE least(8, start - prev) END) AS BIGINT) AS dup FROM d GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, CAST(COALESCE(c.dup, 0) AS BIGINT) AS dup_span_tokens,
        |CASE WHEN b.n_tokens = 0 THEN 0.0 ELSE CAST(COALESCE(c.dup, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE) END AS dup_span_frac
        |FROM b LEFT JOIN c USING (doc_id)""".stripMargin)),
    // line-level boilerplate dedup (C4/RefinedWeb): lines appearing
    // in >= 2 distinct docs are removed, docs reassembled in order.
    // The corpus has no newlines, so pseudo-lines (10-token
    // segments) are synthesized deterministically first — both
    // engines replay the same segmentation.
    Query("q_dedup_lines", (s, d) =>
      Dedup.dedupLines(linedDocuments(s, d), minDf = 2),
      // line-level boilerplate dedup: replay the 10-token pseudo-line
      // synthesis, count DISTINCT docs per line, remove df>=2 lines,
      // reassemble with string_agg ordered by line position
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) >= 1),
        |g AS (SELECT doc_id, unnest(generate_series(0, CAST(ceil(n / 10.0) AS BIGINT) - 1)) AS pos, toks FROM b),
        |ln AS (SELECT doc_id, pos, array_to_string(toks[pos*10+1 : pos*10+10], ' ') AS line FROM g),
        |df AS (SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS line_df FROM ln GROUP BY line),
        |j AS (SELECT ln.doc_id, ln.pos, ln.line, df.line_df FROM ln JOIN df USING (line))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |CAST(SUM(CASE WHEN line_df >= 2 AND line <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE line_df < 2 OR line = ''), '') AS kept_text
        |FROM j GROUP BY doc_id""".stripMargin)),
    // exact-substring dedup transform (Lee et al. ExactSubstr): every
    // duplicated 8-token window's globally-first occurrence is kept
    // with its tokens PROTECTED; other occurrences' tokens are cut
    // unless protected (keep-one survives overlap), docs reassembled
    Query("q_dedup_substring_cut", (s, d) =>
      Dedup.cutDuplicatedSpans(T(s, d, "documents"), k = 8),
      // substring cut: rank-over-partition picks the global first
      // occurrence per window hash; its tokens are PROTECTED; other
      // occurrences' tokens are cut unless protected; ordered
      // string_agg reassembles
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
        |w AS (SELECT doc_id, toks, unnest(generate_series(0, n_tokens - 8)) AS start FROM b WHERE n_tokens >= 8),
        |h AS (SELECT doc_id, start, md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS wh FROM w),
        |o AS (SELECT doc_id, start,
        |COUNT(*) OVER (PARTITION BY wh) AS occ,
        |ROW_NUMBER() OVER (PARTITION BY wh ORDER BY doc_id, start) AS rn FROM h),
        |prot AS (SELECT DISTINCT doc_id, unnest(generate_series(start, start + 7)) AS idx
        |FROM o WHERE occ >= 2 AND rn = 1),
        |cov0 AS (SELECT DISTINCT doc_id, unnest(generate_series(start, start + 7)) AS idx
        |FROM o WHERE occ >= 2 AND rn > 1),
        |cov AS (SELECT cov0.doc_id, cov0.idx FROM cov0 LEFT JOIN prot
        |ON cov0.doc_id = prot.doc_id AND cov0.idx = prot.idx WHERE prot.doc_id IS NULL),
        |tok AS (SELECT doc_id, n_tokens, unnest(generate_series(1, CAST(n_tokens AS BIGINT))) AS i, toks FROM b),
        |tk AS (SELECT doc_id, n_tokens, i - 1 AS idx, toks[i] AS tok FROM tok),
        |kept AS (SELECT tk.* FROM tk LEFT JOIN cov
        |ON tk.doc_id = cov.doc_id AND tk.idx = cov.idx WHERE cov.doc_id IS NULL),
        |agg AS (SELECT doc_id, CAST(MIN(n_tokens) AS BIGINT) AS n_tokens,
        |CAST(COUNT(*) AS BIGINT) AS n_kept,
        |string_agg(tok, ' ' ORDER BY idx) AS kept_text FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |CAST(b.n_tokens - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
        |COALESCE(agg.kept_text, '') AS kept_text
        |FROM b LEFT JOIN agg USING (doc_id)""".stripMargin)),
    // intra-doc line dedup: keep each distinct pseudo-line's FIRST
    // occurrence within a doc (no corpus-wide state — the within-doc
    // counterpart of q_dedup_lines)
    Query("q_dedup_lines_within", (s, d) =>
      Dedup.dedupLinesWithin(linedDocuments(s, d)),
      // intra-doc line dedup: rank per (doc, line) by position, keep
      // rank 1, reassemble ordered
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) >= 1),
        |g AS (SELECT doc_id, unnest(generate_series(0, CAST(ceil(n / 10.0) AS BIGINT) - 1)) AS pos, toks FROM b),
        |ln AS (SELECT doc_id, pos, array_to_string(toks[pos*10+1 : pos*10+10], ' ') AS line FROM g),
        |r AS (SELECT doc_id, pos, line,
        |ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn FROM ln)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |CAST(SUM(CASE WHEN rn > 1 AND line <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE rn = 1 OR line = ''), '') AS kept_text
        |FROM r GROUP BY doc_id""".stripMargin)),
    // winnowing fingerprints (MOSS): per doc, the rightmost-tie
    // window minima over k-gram hashes — the position-aware bounded
    // sketch whose guarantee (shared run >= w+k-1 => shared
    // fingerprint) the spec property-tests
    Query("q_winnow_fingerprints", (s, d) =>
      Dedup.winnowFingerprints(T(s, d, "documents"), k = 4, w = 5),
      // winnowing: the string-key trick replays exactly — md5 hex ‖
      // zero-padded descending position makes "min hash, rightmost
      // tie" a plain MIN over a frame window in any engine
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) >= 4),
        |g AS (SELECT doc_id, unnest(generate_series(0, n - 4)) AS pos, toks FROM b),
        |h AS (SELECT doc_id, pos, md5(array_to_string(toks[pos+1 : pos+4], ' ')) AS h FROM g),
        |kx AS (SELECT doc_id, pos, h || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0') AS key FROM h),
        |s AS (SELECT doc_id, pos,
        |MIN(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel,
        |COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS cnt
        |FROM kx)
        |SELECT DISTINCT doc_id,
        |CAST(999999999 - CAST(substring(sel, 33, 9) AS BIGINT) AS INT) AS fp_pos,
        |substring(sel, 1, 32) AS fp_hash
        |FROM s WHERE cnt = 5""".stripMargin)),
    // ROBUST winnowing (Schleimer Fig. 5 tie rule) — rows-only BY
    // CONSTRUCTION: window i's selection depends on window i-1's (a
    // per-doc sequential fold, no stateless SQL form); the basic
    // form's oracle hash-checks the shared shingle/hash/min
    // machinery, and the spec bit-replays this rule against the
    // paper's sequential algorithm
    Query("q_winnow_robust", (s, d) =>
      Dedup.winnowFingerprintsRobust(T(s, d, "documents"), k = 4, w = 5), None),
    // winnowing copy-detection pairs: shared-fingerprint counts per
    // doc pair after the stop-fingerprint df cap
    Query("q_winnow_pairs", (s, d) =>
      Dedup.winnowPairs(T(s, d, "documents"), k = 4, w = 5, maxDf = 10),
      // winnowing pairs: the fingerprint CTE + df cap + self join
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) >= 4),
        |g AS (SELECT doc_id, unnest(generate_series(0, n - 4)) AS pos, toks FROM b),
        |h AS (SELECT doc_id, pos, md5(array_to_string(toks[pos+1 : pos+4], ' ')) AS h FROM g),
        |kx AS (SELECT doc_id, pos, h || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0') AS key FROM h),
        |s AS (SELECT doc_id,
        |MIN(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel,
        |COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS cnt
        |FROM kx),
        |fp AS (SELECT DISTINCT doc_id, substring(sel, 1, 32) AS fp_hash FROM s WHERE cnt = 5),
        |rare AS (SELECT fp.doc_id, fp.fp_hash FROM fp JOIN
        |(SELECT fp_hash FROM fp GROUP BY fp_hash HAVING COUNT(*) <= 10) ok USING (fp_hash))
        |SELECT a.doc_id AS a_id, c.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM rare a JOIN rare c ON a.fp_hash = c.fp_hash AND a.doc_id < c.doc_id
        |GROUP BY a.doc_id, c.doc_id""".stripMargin)),
    // URL-level dedup: canonicalize (case/www/port/tracking/fragment/
    // trailing slash, sorted params) and keep min id per canonical.
    // URLs are synthesized in four variant classes per 4-doc group;
    // the three https variants merge, the http one stays distinct.
    Query("q_dedup_url", (s, d) =>
      Dedup.urlDedup(T(s, d, "documents")
        .select(col("doc_id"), synthUrl.as("url"))),
      // URL dedup: replay the synthesis + every canonicalization rule
      // (fragment, tracking params, sorted query, scheme/host case,
      // www, default ports, trailing slash) with engine-portable
      // string ops, then the keep-min-id groupBy
      Some("""WITH docs AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
        |WHEN 0 THEN 'https://Example.COM/articles/item-' || CAST(doc_id // 4 AS VARCHAR)
        |WHEN 1 THEN 'https://www.example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '/'
        |WHEN 2 THEN 'https://example.com:443/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
        |ELSE 'http://example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1#section' END AS url
        |FROM documents),
        |nf AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u FROM docs),
        |bq AS (SELECT doc_id, url, split_part(u, '?', 1) AS base,
        |CASE WHEN contains(u, '?') THEN substring(u, len(split_part(u, '?', 1)) + 2) ELSE '' END AS query FROM nf),
        |pr AS (SELECT doc_id, url, base,
        |COALESCE(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref=') OR starts_with(p, 'fbclid=') OR p = ''))), '&'), '') AS cq FROM bq),
        |hp AS (SELECT doc_id, url, cq, split_part(base, '//', 1) AS scheme,
        |substring(base, len(split_part(base, '//', 1)) + 3) AS hostpath FROM pr),
        |h2 AS (SELECT doc_id, url, cq, scheme, split_part(hostpath, '/', 1) AS host0,
        |substring(hostpath, len(split_part(hostpath, '/', 1)) + 1) AS path FROM hp),
        |h3 AS (SELECT doc_id, url, cq, scheme, path,
        |regexp_replace(lower(host0), '^www\.', '') AS hw FROM h2),
        |cn AS (SELECT doc_id, url,
        |lower(scheme) || '//' ||
        |CASE WHEN lower(scheme) = 'http:' THEN regexp_replace(hw, ':80$', '')
        |WHEN lower(scheme) = 'https:' THEN regexp_replace(hw, ':443$', '')
        |ELSE hw END ||
        |regexp_replace(path, '/$', '') ||
        |CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url FROM h3)
        |SELECT canonical_url, MIN(doc_id) AS keeper_doc_id,
        |CAST(COUNT(*) AS BIGINT) AS n_copies,
        |CAST(COUNT(DISTINCT url) AS BIGINT) AS n_url_variants
        |FROM cn GROUP BY canonical_url""".stripMargin)),
    // SemDeDup: cluster-scoped semantic dedup — nearest-seed cell
    // assignment (seeds = the 8 lowest vec_ids, a bounded collect of
    // model state), within-cell cosine pairs, keep = no smaller-id
    // near-dup neighbor in the cell
    Query("q_semdedup", (s, d) => {
      val embs = T(s, d, "embeddings")
      val centroids = embs.filter(col("vec_id") < 8).orderBy("vec_id")
        .select(transform(col("embedding"), x => x.cast("double")))
        .collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
      Dedup.semDeDup(embs, centroids, 0.35)
    },
      // SemDeDup: seeds = the 8 lowest vec_ids (cell = seed rank),
      // ordered-fold squared-L2 assignment with (d2, cell) tie-break,
      // within-cell cosine pairs, keep = no smaller-id near neighbor
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id AS seed, v AS sv, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell FROM e WHERE vec_id < 8),
        |d AS (SELECT e.vec_id, s.cell,
        |list_sum(list_transform(list_zip(e.v, s.sv), z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2
        |FROM e CROSS JOIN s),
        |a AS (SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rk FROM d),
        |asg AS (SELECT vec_id, cell FROM a WHERE rk = 1),
        |v AS (SELECT asg.vec_id, asg.cell, emb.embedding,
        |sqrt(list_sum(list_transform(emb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |FROM asg JOIN embeddings emb USING (vec_id)),
        |drp AS (SELECT DISTINCT b.vec_id AS vec_id
        |FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE (CASE WHEN a.nrm * b.nrm = 0 THEN 0.0 ELSE
        |list_sum(list_transform(list_zip(a.embedding, b.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (a.nrm * b.nrm) END) >= 0.35)
        |SELECT v.vec_id, v.cell, (drp.vec_id IS NULL) AS keep
        |FROM v LEFT JOIN drp USING (vec_id)""".stripMargin)),
    // hamming-banded near-dup pairs over codes BOTH engines derive
    // identically (md5 hex-char parity bits — the production
    // simhash's xxhash64 mixing is not SQL-expressible; that path is
    // simhashPairs/simhashProfile, spec-tested): each bucket of 10
    // docs shares a 62-bit base code and each member flips one
    // distinct low bit, so within-bucket pairs sit at hamming 2 and
    // cross-bucket pairs at ~31 — the banded join (4×16-bit slices,
    // pigeonhole-exact for hamming ≤ 3) must recover exactly the
    // within-bucket pairs, which the oracle re-derives all-pairs.
    Query("q_dedup_simhash", (s, d) => {
      val bucket = floor(col("doc_id") / 10).cast("string")
      val withH = T(s, d, "documents").select(col("doc_id"),
        concat(md5(bucket.cast("binary")),
          md5(concat(bucket, lit("x")).cast("binary"))).as("h"))
      val base = (0 until 62).map(i =>
          (ascii(substring(col("h"), i + 1, 1)) % 2).cast("long") *
            lit(1L << i))
        .reduce(_ + _)
      val coded = withH.select(col("doc_id").as("id"),
        base.bitwiseXOR(call_function("shiftleft", lit(1L),
          (col("doc_id") % 10).cast("int"))).as("code"))
      Dedup.hammingPairs(coded, maxHamming = 3)
        .select(col("a_id"), col("b_id"),
          col("hamming").cast("long").as("hamming"))
    },
      Some {
        // same md5-parity code construction as the Spark side; the
        // oracle brute-forces the quadratic hamming join the banded
        // equi-join must equal exactly (pigeonhole at hamming <= 3)
        val bits = (0 until 62).map(i =>
          s"(ascii(substr(h, ${i + 1}, 1)) % 2) * ${1L << i}").mkString(" + ")
        s"""WITH hsrc AS (
           |SELECT doc_id,
           |md5(CAST(CAST(FLOOR(doc_id / 10.0) AS BIGINT) AS VARCHAR)) ||
           |md5(CAST(CAST(FLOOR(doc_id / 10.0) AS BIGINT) AS VARCHAR) || 'x') AS h
           |FROM documents),
           |coded AS (
           |SELECT doc_id AS id,
           |xor($bits, CAST(POWER(2, doc_id % 10) AS BIGINT)) AS code
           |FROM hsrc)
           |SELECT a.id AS a_id, b.id AS b_id,
           |CAST(bit_count(xor(a.code, b.code)) AS BIGINT) AS hamming
           |FROM coded a JOIN coded b ON a.id < b.id
           |WHERE bit_count(xor(a.code, b.code)) <= 3""".stripMargin
      }),
    // directed containment (|A∩B|/|A| ≥ τ): the subsumed-copy case
    // symmetric jaccard misses; asymmetric prefix-filtered index
    Query("q_dedup_containment", (s, d) =>
      Dedup.containmentPairs(T(s, d, "documents"), Seq("source"), 0.9),
      Some("""WITH toks AS (SELECT doc_id, source, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok FROM documents),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        |FROM toks a JOIN toks b ON a.tok = b.tok AND a.source = b.source AND a.doc_id <> b.doc_id
        |GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(inter AS DOUBLE) / sa.sz AS containment
        |FROM cand JOIN sizes sa ON a_id = sa.doc_id
        |WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.9""".stripMargin)),
    // the deliverable of the dedup family: the corpus that SURVIVES —
    // one representative (min id) per near-dup cluster
    Query("q_dedup_keep", (s, d) =>
      Dedup.deduplicate(T(s, d, "documents"), method = "jaccard",
          threshold = 0.9, blockingKeys = Seq("source"))
        .select("doc_id", "lang", "source"),
      Some("""WITH RECURSIVE toks AS (
        |SELECT doc_id, source, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
        |FROM documents),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |cand AS (
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        |FROM toks a JOIN toks b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        |GROUP BY 1, 2),
        |edges AS (
        |SELECT a_id, b_id FROM cand JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.9),
        |sym AS (SELECT a_id AS src, b_id AS dst FROM edges
        |UNION SELECT b_id AS src, a_id AS dst FROM edges),
        |reach AS (
        |SELECT doc_id AS src, doc_id AS dst FROM documents
        |UNION
        |SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |cc AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY src)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |JOIN cc ON d.doc_id = cc.doc_id AND cc.doc_id = cc.rep""".stripMargin)),
    Query("q_dedup_embed_cos", (s, d) =>
      Dedup.embeddingCosinePairs(T(s, d, "embeddings"), 0.35),
      Some("""WITH v AS (SELECT vec_id, label, embedding,
        |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |FROM embeddings),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |CASE WHEN a.nrm * b.nrm = 0 THEN 0.0 ELSE
        |list_sum(list_transform(list_zip(a.embedding, b.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (a.nrm * b.nrm) END AS cos
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT a_id, b_id, cos FROM p WHERE cos >= 0.35""".stripMargin)),
    // the SEMANTIC dedup deliverable: embedding near-dup pairs →
    // connected components → one cluster representative per vector
    // (the embedding-side twin of q_dedup_cluster/q_dedup_keep)
    Query("q_dedup_semantic", (s, d) => {
      val embs = T(s, d, "embeddings")
      Graph.connectedComponents(
          embs.select(col("vec_id")),
          Dedup.embeddingCosinePairs(embs, 0.35).select("a_id", "b_id"))
        .select(col("id").as("vec_id"), col("comp").as("cluster_rep"))
    },
      Some("""WITH RECURSIVE v AS (SELECT vec_id, label, embedding,
        |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |FROM embeddings),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |CASE WHEN a.nrm * b.nrm = 0 THEN 0.0 ELSE
        |list_sum(list_transform(list_zip(a.embedding, b.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (a.nrm * b.nrm) END AS cos
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id),
        |edges AS (SELECT a_id, b_id FROM p WHERE cos >= 0.35),
        |sym AS (SELECT a_id AS src, b_id AS dst FROM edges
        |UNION SELECT b_id AS src, a_id AS dst FROM edges),
        |reach AS (
        |SELECT vec_id AS src, vec_id AS dst FROM embeddings
        |UNION
        |SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
        |SELECT src AS vec_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src""".stripMargin)),
    // minhash-LSH pair recall vs the exact jaccard pair set (the
    // number that justifies the sketch at 100 TB); xxhash64-based →
    // rows-only
    Query("q_minhash_recall", (s, d) => {
      val docs = T(s, d, "documents")
      // r18 (VERDICT item 5): both chains tokenized the same corpus
      // independently — the minhash side via shingles(tokens, 1), the
      // exact side via tokenSet. With shingleN = 1 the sketch's
      // hash set IS the hashed token set, so ONE tokenized base
      // (the prefixIndex shape, persisted once) feeds both: the
      // sketch derives sh = sorted distinct xxhash64(toks) (equal
      // arrays — dedupe before or after hashing yields the same set)
      // and the exact side runs the df-rank/prefix tail over the same
      // cached base. Rows-only output byte-compared against the
      // two-chain form at sf0.01.
      val base = docs.select(col("doc_id").as("id"), col("source"),
          TextFunctions.tokenSet(col("text")).as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      base.count()
      val sketch = base.select(col("id"),
          sort_array(array_distinct(
            transform(col("toks"), t => xxhash64(t)))).as("sh"))
        .withColumn("sig",
          graft.expressions.MinHashSig.of(col("sh"), 32))
      Dedup.pairRecall(
        Dedup.minhashPairsFromSketch(sketch, threshold = 0.9,
          numHashes = 32, bands = 2).select("a_id", "b_id"),
        Dedup.ngramJaccardPairsFromTokens(base, Seq("source"), 0.9)
          .select("a_id", "b_id"))
    }, None),
    // embedding-LSH pair recall vs the tiled exact pair set — the
    // measured basis for choosing exact-tiled vs LSH-staged dedup at
    // a given threshold (regime math in embeddingCosinePairsLsh's
    // scaladoc). Verify is exact-cosine on both sides, so precision
    // is 1.0 by construction and recall is the number that matters.
    Query("q_embed_recall", (s, d) => {
      val embs = T(s, d, "embeddings")
      Dedup.pairRecall(
        Dedup.embeddingCosinePairsLsh(embs, 0.35, dim = 64, nBits = 2,
          nTables = 8).select("a_id", "b_id"),
        Dedup.embeddingCosinePairs(embs, 0.35).select("a_id", "b_id"))
    }, None))
}
