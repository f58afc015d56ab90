package graft

import graft.operators._
import graft.functions._
import graft.multimodal.Multimodal
import graft.sinks.TextRender
import graft.sources.{Msa, StructureFormats, TextSources}
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Driver contract — one `queries` entry per SURVEY.md §2 row, with
  * DuckDB-runnable `oracleSql` for every SQL-expressible row.
  *
  * Determinism rules (SURVEY §5): money doubles accumulate as
  * decimals; averages are decimal-sum / count (identical IEEE
  * division in both engines); int-like derived outputs are cast to
  * bigint to match DuckDB's BIGINT; timestamps surface as epoch
  * micros; top-k ties break on id.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    sources.Tables.load(s, dir, name)

  /** Shared synthesis fixtures — q_dedup_url, q_dedup_lines, and the
    * q_crawl_prepare facade must derive the SAME URL variants and
    * pseudo-line segmentation, or the facade query silently diverges
    * from the stage queries it chains (each oracle replays these). */
  private def synthUrl: Column = {
    val item = concat(lit("/articles/item-"),
      floor(col("doc_id") / 4).cast("long").cast("string"))
    val v = col("doc_id") % 4
    when(v === 0, concat(lit("https://Example.COM"), item))
      .when(v === 1, concat(lit("https://www.example.com"), item, lit("/")))
      .when(v === 2, concat(lit("https://example.com:443"), item,
        lit("?utm_source=feed&utm_campaign=x")))
      .otherwise(concat(lit("http://example.com"), item,
        lit("?b=2&a=1#section")))
  }

  /** URL fixture for q_blocklist_filter: six host shapes covering
    * subdomain suffix matches, the most-specific-entry tie, userinfo
    * + port stripping, the not-a-suffix boundary, and a
    * non-hierarchical URL (the oracle replays the same variants). */
  private def synthBlockUrl: Column = {
    val v = col("doc_id") % 6
    when(v === 0, lit("https://Ads.Tracker.NET/banner?x=1"))
      .when(v === 1, lit("https://www.example.com/a"))
      .when(v === 2, lit("http://user:pw@sub.shop.example.com:8080/x"))
      .when(v === 3, lit("https://good-site.org/page#frag"))
      .when(v === 4, lit("mailto:someone@nowhere"))
      .otherwise(lit("https://nottracker.net/x"))
  }

  /** HTML shell fixture shared by q_html_extract and
    * q_crawl_prepare_full (same drift rule as [[synthUrl]]): wraps a
    * text column in script/style/comment noise, a common header, and
    * a common footer — the header/footer become corpus-wide
    * boilerplate LINES after extraction, which is exactly what the
    * full-crawl facade's line-dedup stage must remove. */
  private def htmlShell(text: Column): Column = concat(
    lit("<html><head><title>t</title>" +
      "<style type=\"text/css\">body {color:#fff}</style>" +
      "<script>if (1 < 2) { alert(\"x&y\"); }</script></head>" +
      "<body><!-- nav --><h1>Doc &amp; entity &lt;demo&gt;</h1><p>"),
    text,
    lit("</p><div>footer&nbsp;menu</div></body></html>"))

  /** Multi-block HTML fixture for q_html_extract_blocks: the doc
    * text as the content paragraph, surrounded by the boilerplate
    * taxonomy the block scorer must reject — a link-only nav, a
    * too-short heading, a link-farm "related" block, and a
    * stopword-free copyright line (same drift rule as [[htmlShell]]).
    * Shared verbatim with the oracle SQL. */
  private val blockShellPre: String =
    "<html><head><title>t</title>" +
      "<script>if (1 < 2) { alert(\"x&y\"); }</script>" +
      "<style>.nav{display:none}</style></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a>" +
      "</div><h1>Tiny title</h1><p>"
  private val blockShellPost: String =
    "</p><div><a href=\"/r1\">Related article one</a> " +
      "<a href=\"/r2\">Related article two</a> more</div>" +
      "<div>Copyright 2024 ExampleCorp All rights reserved</div>" +
      "<!-- footer --></body></html>"

  /** The md5-portable minhash sketch family (15-hex-nibble token
    * hashes, 32 per-seed min signatures) shared by the fuzzy
    * decontamination queries and their streaming gate — the form
    * DuckDB replays bit-exactly. Input must carry (id, text). */
  private def md5Sketch(df: DataFrame): DataFrame = {
    // Md5PrefixLong/Md5MinHashSig compute the same VALUES as the
    // conv(substring(md5(·),1,15),16,10) HOF family the oracle
    // replays, from the raw digest (no hex/conv/concat per call) —
    // spec-pinned equal in Md5MinHashSpec
    val sh = sort_array(array_distinct(transform(
      TextFunctions.tokens(col("text")),
      t => graft.expressions.Md5MinHashSig.prefix(t, 15))))
    df.select(col("id"), sh.as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig",
        graft.expressions.Md5MinHashSig.of(col("sh"), 32))
  }

  /** The eval-clone benchmark fixture for the fuzzy decontamination
    * family: every doc_id % 17 document with its LAST TOKEN DROPPED —
    * a perturbed clone the exact-shingle gate misses. */
  private def evalCloneBench(docs: DataFrame): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    docs.filter(pmod(col("doc_id"), lit(17)) === 0)
      .filter(size(toks) >= 2)
      .select(col("doc_id").as("id"),
        array_join(slice(toks, lit(1), size(toks) - 1), " ").as("text"))
  }

  /** Shared frontier fixture for q_sitemap_frontier /
    * q_frontier_schedule: 7 hosts (doc_id % 7), each publishing a
    * sitemapindex naming its child urlset (the index hop), plus the
    * synthesized robots corpus — star group with Crawl-delay 3 and
    * the /private/ rules, an exact graftbot group (no delay) on
    * k % 3 == 0 hosts. Returns (frontier candidates, robots table).
    */
  private def frontierFixture(s: SparkSession, d: String)
  : (DataFrame, DataFrame) = {
    val docs = T(s, d, "documents")
    val k = col("doc_id") % 7
    val pathCol = when(col("doc_id") % 3 === 0,
      concat(lit("/d/"), col("doc_id")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("/private/p"), col("doc_id")))
      .otherwise(concat(lit("/tmp/"), col("doc_id")))
    val frag = concat(lit("<url><loc>https://h"), k,
      lit(".example.org"), pathCol, lit("</loc><priority>0."),
      col("doc_id") % 10, lit("</priority></url>"))
    // the index hop: each host publishes ONE sitemapindex naming
    // its child urlset; the frontier discovers children by parsing
    // the index, then joins the fetched child docs on (host, path)
    val children = docs.select(k.cast("int").as("k"), frag.as("f"))
      .groupBy("k")
      .agg(concat(lit("<urlset>"), concat_ws("", collect_list(col("f"))),
        lit("</urlset>")).as("xml"))
      .select(concat(lit("h"), col("k"), lit(".example.org")).as("chost"),
        lit("/sitemap.xml").as("cpath"), col("xml"))
    val indexes = docs.select(k.cast("int").as("k")).distinct()
      .select(concat(lit("<sitemapindex><sitemap><loc>https://h"),
        col("k"), lit(".example.org/sitemap.xml</loc>" +
          "<lastmod>2024-01-01</lastmod></sitemap></sitemapindex>"))
        .as("xml"))
    val cand = sources.Sitemap.urls(
      sources.Sitemap.indexChildren(indexes)
        .join(children, col("host") === col("chost") &&
          col("path") === col("cpath"))
        .select("xml"))
    val hosts = docs.select(k.cast("int").as("k")).distinct()
      .select(
        concat(lit("h"), col("k"), lit(".example.org")).as("host"),
        concat(
          lit("# synthetic robots\nUser-Agent: *\nCrawl-delay: 3\n" +
            "Disallow: /private/\nDisallow:\n"),
          when(col("k") % 2 === 0, lit("Allow: /private/p\n"))
            .otherwise(lit("")),
          when(col("k") % 3 === 0,
            lit("\nUser-agent: graftbot\nDisAllow: /d/\n" +
              "Disallow: /tmp/\n")).otherwise(lit("")))
          .as("robots_txt"))
    (cand, hosts)
  }

  /** Shell for q_crawl_prepare_blocks: the blockShell boilerplate
    * taxonomy around a MULTI-BLOCK body (each pseudo-line its own
    * `<p>` — block structure must survive extraction as line
    * structure for the downstream line-dedup stage). */
  private val crawlBlocksPre: String =
    "<html><head><title>t</title>" +
      "<script>if (1 < 2) { alert(\"x&y\"); }</script>" +
      "<style>.nav{display:none}</style></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a>" +
      "</div><h1>Tiny title</h1>"
  private val crawlBlocksPost: String =
    "<div><a href=\"/r1\">Related article one</a> " +
      "<a href=\"/r2\">Related article two</a> more</div>" +
      "<div>Copyright 2024 ExampleCorp All rights reserved</div>" +
      "<!-- footer --></body></html>"

  /** The block-extraction CTE chain spliced into the L15 crawl-front
    * oracle between its `hx`/`nf` markers (the q_wet_to_corpus
    * derivation precedent): the q_html_extract_blocks scoring replay
    * over the lined fixture, ending in `ex(doc_id, text)` exactly
    * where the flat extraction chain ended. */
  private val crawlBlocksCtes: String =
    ("""bh AS (SELECT doc_id,
      |'<html><head><title>t</title><script>if (1 < 2) { alert("x&y"); }</script><style>.nav{display:none}</style></head><body><div class="nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div><h1>Tiny title</h1>'
      | || array_to_string(list_transform(string_split(text, chr(10)), l -> '<p>' || l || '</p>'), '') ||
      |'<div><a href="/r1">Related article one</a> <a href="/r2">Related article two</a> more</div><div>Copyright 2024 ExampleCorp All rights reserved</div><!-- footer --></body></html>'
      | AS html FROM d),
      |bc AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      |'(?is)<script[^>]*>.*?</script>', '', 'g'),
      |'(?is)<style[^>]*>.*?</style>', '', 'g'),
      |'(?is)<title[^>]*>.*?</title>', '', 'g'),
      |'(?s)<!--.*?-->', '', 'g') AS clean FROM bh),
      |bsg AS (SELECT doc_id, string_split(regexp_replace(clean,
      |'(?i)(</?(p|div|li|ul|ol|h[1-6]|tr|table|td|th|blockquote|article|section|header|footer|nav|aside|main|form|pre)(\s[^>]*)?>|<br\s*/?>)',
      |chr(1), 'g'), chr(1)) AS frags FROM bc),
      |bx AS (SELECT doc_id, unnest(generate_series(1, len(frags))) AS i, frags FROM bsg),
      |brw AS (SELECT doc_id, CAST(i AS BIGINT) AS block_idx, frags[i] AS raw FROM bx),
      |btb AS (SELECT doc_id, block_idx, raw,
      |trim(regexp_replace(replace(replace(replace(replace(replace(replace(
      |regexp_replace(raw, '<[^>]+>', '', 'g'),
      |'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
      |'[ ' || chr(9) || chr(10) || chr(13) || ']+', ' ', 'g')) AS btext FROM brw),
      |blk AS (SELECT doc_id, block_idx, btext, CAST(length(btext) AS BIGINT) AS text_len,
      |coalesce(list_sum(list_transform(regexp_extract_all(raw, '(?is)<a(\s[^>]*)?>(.*?)</a>', 2),
      |a -> CAST(length(trim(regexp_replace(replace(replace(replace(replace(replace(replace(
      |regexp_replace(a, '<[^>]+>', '', 'g'),
      |'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
      |'[ ' || chr(9) || chr(10) || chr(13) || ']+', ' ', 'g'))) AS BIGINT))), 0) AS link_chars FROM btb),
      |bsc AS (SELECT doc_id, block_idx, btext, text_len, link_chars,
      |len(list_filter(string_split(btext, ' '), t -> t <> '')) AS n_tokens,
      |len(list_filter(string_split(btext, ' '), t -> list_contains(['the','a','an','of','and','in','to','is','for','on'], lower(t)))) AS n_stop FROM blk),
      |bkp AS (SELECT doc_id, block_idx, btext,
      |(text_len >= 25 AND CAST(link_chars AS DOUBLE) / greatest(text_len, 1) <= 0.35
      |AND (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) >= 0.05 OR text_len >= 200)) AS keep FROM bsc),
      |ex AS (SELECT doc_id, coalesce(string_agg(CASE WHEN keep THEN btext END, chr(10) ORDER BY block_idx), '') AS text FROM bkp GROUP BY doc_id),
      |""").stripMargin

  /** Shared IVF-training + assignment CTE chain (dv → md5-ordered
    * seed pick → two Lloyd rounds with fixed-point tick means → cc
    * final assignment) — the common prefix of the q_ann_ivf and
    * q_kmeans_profile oracles, ending right after `cc` so each
    * composes its own tail (`pc…`/`kp…`). A named constant, not a
    * substring cut on a CTE marker: renaming a CTE now breaks the
    * one query that uses it at SQL time, never registry construction
    * for an unrelated query. */
  private val ivfTrainCtes: String =
    """WITH dv AS (
      |SELECT vec_id, embedding,
      |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |FROM embeddings),
      |seed AS (
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) AS INT) - 1 AS cell, v AS c
      |FROM (SELECT vec_id, v,
      |CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM dv)
      |ORDER BY h LIMIT 8),
      |a0 AS (
      |SELECT vec_id, v, cell FROM (
      |SELECT d.vec_id, d.v, s.cell,
      |ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
      |list_sum(list_transform(range(1, 65), i -> (d.v[i] - s.c[i]) * (d.v[i] - s.c[i]))), s.cell) AS rn
      |FROM dv d CROSS JOIN seed s) WHERE rn = 1),
      |m1 AS (
      |SELECT cell, i.i AS pos,
      |CAST(SUM(CAST(floor(v[i.i] * 1000000.0) AS BIGINT)) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS m
      |FROM a0 CROSS JOIN generate_series(1, 64) i(i) GROUP BY cell, i.i),
      |c1 AS (
      |SELECT s.cell, COALESCE(mm.c, s.c) AS c
      |FROM seed s LEFT JOIN (SELECT cell, list(m ORDER BY pos) AS c FROM m1 GROUP BY cell) mm
      |ON s.cell = mm.cell),
      |a1 AS (
      |SELECT vec_id, v, cell FROM (
      |SELECT d.vec_id, d.v, s.cell,
      |ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
      |list_sum(list_transform(range(1, 65), i -> (d.v[i] - s.c[i]) * (d.v[i] - s.c[i]))), s.cell) AS rn
      |FROM dv d CROSS JOIN c1 s) WHERE rn = 1),
      |m2 AS (
      |SELECT cell, i.i AS pos,
      |CAST(SUM(CAST(floor(v[i.i] * 1000000.0) AS BIGINT)) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS m
      |FROM a1 CROSS JOIN generate_series(1, 64) i(i) GROUP BY cell, i.i),
      |c2 AS (
      |SELECT s.cell, COALESCE(mm.c, s.c) AS c
      |FROM c1 s LEFT JOIN (SELECT cell, list(m ORDER BY pos) AS c FROM m2 GROUP BY cell) mm
      |ON s.cell = mm.cell),
      |cc AS (
      |SELECT vec_id, cell FROM (
      |SELECT d.vec_id, s.cell,
      |ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
      |list_sum(list_transform(range(1, 65), i -> (d.v[i] - s.c[i]) * (d.v[i] - s.c[i]))), s.cell) AS rn
      |FROM dv d CROSS JOIN c2 s) WHERE rn = 1),
      |""".stripMargin

  /** Fixed literal vocab for q_bpe_encode — shared verbatim by the
    * Spark query and the DuckDB oracle so every greedy-longest-match
    * split decision is replayed bit-exactly on both sides. */
  private val bpeEncodeVocab: Seq[String] = Seq(
    "the", "th", "he", "in", "er", "an", "re", "on", "at", "en",
    "ing", "and", "ion", "tion", "es", "or", "te", "ed", "is", "it",
    "al", "ar", "st", "to", "nt", "ng", "se", "ha", "as", "ou")

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

  /** The tick-PageRank replay parameterized on an `edges` CTE
    * (BIGINT or VARCHAR node keys both work — the iteration never
    * inspects the key): 3 iterations, damping 17/20, dangling mass
    * as a scalar subquery — shared by q_pagerank and q_host_rank so
    * the replays cannot drift. */
  private def pageRankOracle(edgesCtes: String): String =
    s"""WITH RECURSIVE $edgesCtes,
       |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
       |pr AS (
       |SELECT CAST(0 AS BIGINT) AS it, node, CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS rank FROM nodes
       |UNION ALL
       |SELECT p.it + 1, p2.node,
       |CAST((3 * 1000000000000) // (20 * (SELECT n FROM nn))
       |+ COALESCE(c.contrib, 0)
       |+ (SELECT COALESCE(SUM(CASE WHEN d2.src IS NULL THEN p3.rank ELSE 0 END), 0)
       |FROM pr p3 LEFT JOIN deg d2 ON p3.node = d2.src) * 17
       |// (20 * (SELECT n FROM nn)) AS BIGINT) AS rank
       |FROM (SELECT DISTINCT it FROM pr WHERE it < 3) p
       |CROSS JOIN nodes p2
       |LEFT JOIN (
       |SELECT e.dst AS node, SUM((pp.rank * 17) // (20 * d.outdeg)) AS contrib
       |FROM pr pp JOIN deg d ON pp.node = d.src JOIN edges e ON e.src = pp.node
       |GROUP BY e.dst
       |) c ON c.node = p2.node
       |)
       |SELECT node, rank FROM pr WHERE it = 3""".stripMargin

  /** The H29 fit + densify + probe + argmax replay — shared by
    * q_langid_model and its streaming twin q_stream_langid (the
    * streamed transform is batch-equivalent by construction). */
  private val langIdModelOracle: String =
    """WITH t AS (SELECT doc_id, lang, text FROM documents WHERE len(text) >= 2),
        |g AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(text)), i -> substring(text, CAST(i AS INT), 2))) AS gram FROM t),
        |b AS (SELECT doc_id, lang,
        |CAST(((strpos('0123456789abcdef', substring(md5(gram), 1, 1)) - 1) * 4096
        |+ (strpos('0123456789abcdef', substring(md5(gram), 2, 1)) - 1) * 256
        |+ (strpos('0123456789abcdef', substring(md5(gram), 3, 1)) - 1) * 16
        |+ (strpos('0123456789abcdef', substring(md5(gram), 4, 1)) - 1)) % 256 AS BIGINT) AS bucket FROM g),
        |cb AS (SELECT lang AS c, bucket, CAST(COUNT(*) AS BIGINT) AS cnt_cb FROM b GROUP BY 1, 2),
        |dense AS (SELECT l.c, k.bucket, COALESCE(cb.cnt_cb, CAST(0 AS BIGINT)) AS cnt_cb
        |FROM (SELECT DISTINCT c FROM cb) l CROSS JOIN (SELECT DISTINCT bucket FROM cb) k
        |LEFT JOIN cb ON cb.c = l.c AND cb.bucket = k.bucket),
        |m AS (SELECT c, bucket, cnt_cb,
        |CAST(SUM(cnt_cb) OVER (PARTITION BY c) AS BIGINT) AS tot_c,
        |CAST(SUM(cnt_cb) OVER (PARTITION BY bucket) AS BIGINT) AS bg_b,
        |CAST(SUM(cnt_cb) OVER () AS BIGINT) AS tot_all FROM dense),
        |tf AS (SELECT doc_id, lang, bucket, CAST(COUNT(*) AS BIGINT) AS tf FROM b GROUP BY 1, 2, 3),
        |sc AS (SELECT tf.doc_id, tf.lang, m.c,
        |CAST(SUM(tf.tf * CAST(floor(CAST(1000000.0 AS DOUBLE) * ((CAST(m.cnt_cb + 1 AS DOUBLE) * CAST(m.tot_all + 256 AS DOUBLE)) / (CAST(m.bg_b + 1 AS DOUBLE) * CAST(m.tot_c + 256 AS DOUBLE)))) AS BIGINT)) AS BIGINT) AS score_fp
        |FROM tf JOIN m USING (bucket) GROUP BY 1, 2, 3),
        |rk AS (SELECT doc_id, lang, c AS lang_pred, score_fp,
        |ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_fp DESC, c DESC) AS rn FROM sc)
        |SELECT doc_id, lang, lang_pred, score_fp FROM rk WHERE rn = 1""".stripMargin

  /** The H13 Gopher battery replay (minTokens = 30, the driver
    * query's knob) — a val so q_gopher_rules and the composed
    * quality-gate oracle share one text. */
  private val gopherRulesOracle: String =
    """WITH t AS (SELECT doc_id, text,
      |list_filter(string_split_regex(text, '[ \n]'), x -> x <> '') AS toks,
      |list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
      |FROM documents),
      |c AS (SELECT doc_id,
      |CAST(len(toks) AS BIGINT) AS n_tok,
      |CAST(len(lines) AS BIGINT) AS n_lines,
      |CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS char_sum,
      |CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
      |CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
      |CAST(len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT) AS n_bullet,
      |CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS n_ell_end,
      |CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
      |CAST(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))), ['the','be','to','of','and','that','have','with','a','is'])) AS BIGINT) AS stop_hits
      |FROM t)
      |SELECT doc_id, n_tok AS n_tokens,
      |CAST(char_sum AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) AS mean_tok_len,
      |CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) AS symbol_ratio,
      |CAST(n_bullet AS DOUBLE) / CAST(greatest(n_lines, 1) AS DOUBLE) AS bullet_frac,
      |CAST(n_ell_end AS DOUBLE) / CAST(greatest(n_lines, 1) AS DOUBLE) AS ellipsis_frac,
      |CAST(n_alpha AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) AS alpha_tok_frac,
      |stop_hits AS n_stop_hits,
      |(n_tok >= 30 AND n_tok <= 100000
      | AND CAST(char_sum AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) >= CAST(3.0 AS DOUBLE)
      | AND CAST(char_sum AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) <= CAST(10.0 AS DOUBLE)
      | AND CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) < CAST(0.1 AS DOUBLE)
      | AND CAST(n_bullet AS DOUBLE) / CAST(greatest(n_lines, 1) AS DOUBLE) < CAST(0.9 AS DOUBLE)
      | AND CAST(n_ell_end AS DOUBLE) / CAST(greatest(n_lines, 1) AS DOUBLE) < CAST(0.3 AS DOUBLE)
      | AND CAST(n_alpha AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) > CAST(0.8 AS DOUBLE)
      | AND stop_hits >= 2) AS keep
      |FROM c""".stripMargin

  /** The H15 classifier replay (fit + probe in fixed ticks) — a val
    * shared by q_quality_classifier and the composed gate oracle. */
  private val qualityClassifierOracle: String =
    """WITH tok AS (SELECT doc_id, (source IN ('src0','src1','src2','src3')) AS is_pos,
      |unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
      |tf AS (SELECT doc_id, is_pos, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2, 3),
      |m AS (SELECT tok,
      |CAST(SUM(CASE WHEN is_pos THEN tf ELSE 0 END) AS BIGINT) AS cnt_pos,
      |CAST(SUM(CASE WHEN NOT is_pos THEN tf ELSE 0 END) AS BIGINT) AS cnt_neg
      |FROM tf GROUP BY tok),
      |mm AS (SELECT tok, cnt_pos, cnt_neg,
      |CAST(SUM(cnt_pos) OVER () AS BIGINT) AS tot_pos,
      |CAST(SUM(cnt_neg) OVER () AS BIGINT) AS tot_neg,
      |CAST(COUNT(*) OVER () AS BIGINT) AS vocab FROM m),
      |c AS (SELECT tf.doc_id, tf.tf,
      |tf.tf * CAST(floor(CAST(1000000.0 AS DOUBLE) * ((CAST(mm.cnt_pos + 1 AS DOUBLE) * CAST(mm.tot_neg + mm.vocab AS DOUBLE)) / (CAST(mm.cnt_neg + 1 AS DOUBLE) * CAST(mm.tot_pos + mm.vocab AS DOUBLE)))) AS BIGINT) AS contrib
      |FROM tf JOIN mm USING (tok))
      |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |CAST(SUM(contrib) AS BIGINT) AS score_fp,
      |CAST(SUM(contrib) AS BIGINT) >= CAST(SUM(tf) AS BIGINT) * 1000000 AS keep
      |FROM c GROUP BY doc_id""".stripMargin

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

  /** The SEEDED (TrustRank) tick-PageRank replay: teleport + dangling
    * mass return only to the seed set (`seedPred` over the node
    * universe), denominators are |seeds| — otherwise term-for-term
    * the [[pageRankOracle]] iteration. */
  private def pageRankSeededOracle(edgesCtes: String,
                                   seedPred: String): String =
    s"""WITH RECURSIVE $edgesCtes,
       |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
       |seeds AS (SELECT node FROM nodes WHERE $seedPred),
       |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seeds),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
       |pr AS (
       |SELECT CAST(0 AS BIGINT) AS it, n0.node,
       |CAST(CASE WHEN s0.node IS NOT NULL THEN 1000000000000 // (SELECT n FROM ns) ELSE 0 END AS BIGINT) AS rank
       |FROM nodes n0 LEFT JOIN seeds s0 ON n0.node = s0.node
       |UNION ALL
       |SELECT p.it + 1, p2.node,
       |CAST(CASE WHEN s2.node IS NOT NULL THEN (3 * 1000000000000) // (20 * (SELECT n FROM ns)) ELSE 0 END
       |+ COALESCE(c.contrib, 0)
       |+ CASE WHEN s2.node IS NOT NULL THEN
       |((SELECT COALESCE(SUM(CASE WHEN d2.src IS NULL THEN p3.rank ELSE 0 END), 0)
       |FROM pr p3 LEFT JOIN deg d2 ON p3.node = d2.src) * 17)
       |// (20 * (SELECT n FROM ns)) ELSE 0 END AS BIGINT) AS rank
       |FROM (SELECT DISTINCT it FROM pr WHERE it < 3) p
       |CROSS JOIN nodes p2
       |LEFT JOIN seeds s2 ON p2.node = s2.node
       |LEFT JOIN (
       |SELECT e.dst AS node, SUM((pp.rank * 17) // (20 * d.outdeg)) AS contrib
       |FROM pr pp JOIN deg d ON pp.node = d.src JOIN edges e ON e.src = pp.node
       |GROUP BY e.dst
       |) c ON c.node = p2.node
       |)
       |SELECT node, rank FROM pr WHERE it = 3""".stripMargin

  /** The q_corpus_prepare CTE chain (scrub → jaccard-dedup CC →
    * decontaminate → md5 split → word token counts), ending at
    * `tokd` — shared between q_corpus_prepare and the composed
    * q_training_export oracle so the two replays CANNOT drift apart
    * (the L15/L17 derivation precedent). */
  private val corpusPrepareCtes: String =
    """src AS (
      |SELECT doc_id, lang, source,
      |regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]{6,}', '<NUM>', 'g') AS text
      |FROM documents WHERE doc_id >= 25),
      |bench AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS l
      |FROM documents WHERE doc_id < 25),
      |toks AS (SELECT doc_id, source, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok FROM src),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
      |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
      |FROM toks a JOIN toks b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |edges AS (SELECT a_id, b_id FROM cand JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.9),
      |sym AS (SELECT a_id AS src, b_id AS dst FROM edges UNION SELECT b_id, a_id FROM edges),
      |reach AS (SELECT doc_id AS src, doc_id AS dst FROM src
      |UNION SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
      |cc AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY src),
      |kept AS (SELECT d.* FROM src d JOIN cc ON d.doc_id = cc.doc_id AND cc.doc_id = cc.rep),
      |bsh AS (SELECT DISTINCT unnest(list_transform(range(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS sh
      |FROM bench WHERE len(l) >= 3),
      |kl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l FROM kept),
      |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS sh
      |FROM kl WHERE len(l) >= 3),
      |ov AS (SELECT doc_id, COUNT(*) AS n_overlap FROM csh JOIN bsh USING (sh) GROUP BY doc_id),
      |tot AS (SELECT doc_id,
      |CAST(len(list_distinct(list_transform(range(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS BIGINT) AS n_shingles
      |FROM kl),
      |clean AS (SELECT k.* FROM kept k JOIN tot ON k.doc_id = tot.doc_id
      |LEFT JOIN ov ON k.doc_id = ov.doc_id
      |WHERE NOT (CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / greatest(tot.n_shingles, 1) >= 0.5)),
      |named AS (SELECT *,
      |CAST((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |+ (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket FROM clean),
      |tokd AS (SELECT *,
      |CASE WHEN bucket < 230 THEN 'train' WHEN bucket < 243 THEN 'val' ELSE 'test' END AS split,
      |CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens FROM named)""".stripMargin

  private val crawlScoredModelCtes: String =
    """|ktxt AS (SELECT gt.doc_id, replace(gt.text, chr(10), ' ') AS text FROM gt JOIN vd USING (doc_id) WHERE vd.keep),
       |mt AS (SELECT k.doc_id, l.lang_pred AS lang, k.text FROM ktxt k JOIN lg l USING (doc_id) WHERE len(k.text) >= 2),
       |mg AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(text)), i -> substring(text, CAST(i AS INT), 2))) AS gram FROM mt),
       |mb AS (SELECT doc_id, lang,
       |CAST(((strpos('0123456789abcdef', substring(md5(gram), 1, 1)) - 1) * 4096
       |+ (strpos('0123456789abcdef', substring(md5(gram), 2, 1)) - 1) * 256
       |+ (strpos('0123456789abcdef', substring(md5(gram), 3, 1)) - 1) * 16
       |+ (strpos('0123456789abcdef', substring(md5(gram), 4, 1)) - 1)) % 256 AS BIGINT) AS bucket FROM mg),
       |mcb AS (SELECT lang AS cl, bucket, CAST(COUNT(*) AS BIGINT) AS cnt_cb FROM mb GROUP BY 1, 2),
       |mdense AS (SELECT l.cl, k.bucket, COALESCE(mcb.cnt_cb, CAST(0 AS BIGINT)) AS cnt_cb
       |FROM (SELECT DISTINCT cl FROM mcb) l CROSS JOIN (SELECT DISTINCT bucket FROM mcb) k
       |LEFT JOIN mcb ON mcb.cl = l.cl AND mcb.bucket = k.bucket),
       |mm AS (SELECT cl, bucket, cnt_cb,
       |CAST(SUM(cnt_cb) OVER (PARTITION BY cl) AS BIGINT) AS tot_c,
       |CAST(SUM(cnt_cb) OVER (PARTITION BY bucket) AS BIGINT) AS bg_b,
       |CAST(SUM(cnt_cb) OVER () AS BIGINT) AS tot_all FROM mdense),
       |mtf AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS tf FROM mb GROUP BY 1, 2),
       |msc AS (SELECT mtf.doc_id, mm.cl,
       |CAST(SUM(mtf.tf * CAST(floor(CAST(1000000.0 AS DOUBLE) * ((CAST(mm.cnt_cb + 1 AS DOUBLE) * CAST(mm.tot_all + 256 AS DOUBLE)) / (CAST(mm.bg_b + 1 AS DOUBLE) * CAST(mm.tot_c + 256 AS DOUBLE)))) AS BIGINT)) AS BIGINT) AS score_fp
       |FROM mtf JOIN mm USING (bucket) GROUP BY 1, 2),
       |mrk AS (SELECT doc_id, cl, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_fp DESC, cl DESC) AS rn FROM msc),
       |lgm AS (SELECT l.doc_id, COALESCE(m.cl, l.lang_pred) AS lang_pred
       |FROM lg l LEFT JOIN (SELECT doc_id, cl FROM mrk WHERE rn = 1) m USING (doc_id)),""".stripMargin

  private def crawlScoredOracle(extraCtes: String, langRel: String): String =
    raw"""WITH t0 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t0 WHERE len(toks) >= 1),
        |g0 AS (SELECT doc_id, unnest(generate_series(0, CAST(ceil(n / 10.0) AS BIGINT) - 1)) AS pos, toks FROM b),
        |ld AS (SELECT doc_id, pos, array_to_string(toks[pos*10+1 : pos*10+10], ' ') AS line FROM g0),
        |d AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM ld GROUP BY doc_id),
        |du AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |THEN 'https://ads.tracker.net/item-' || CAST(doc_id AS VARCHAR)
        |ELSE CASE CAST(doc_id % 4 AS INTEGER)
        |WHEN 0 THEN 'https://Example.COM/articles/item-' || CAST(doc_id // 4 AS VARCHAR)
        |WHEN 1 THEN 'https://www.example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '/'
        |WHEN 2 THEN 'https://example.com:443/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
        |ELSE 'http://example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1#section' END END AS url FROM d),
        |hst AS (SELECT doc_id, url,
        |nullif(regexp_replace(regexp_replace(regexp_replace(lower(regexp_replace(
        |regexp_extract(string_split(url, '//')[2], '^[^/?#]*'),
        |'^[^@]*@', '')), '(\])?:[0-9]*$$', '\1'), '^www\.', ''), '^\[([^\]]*)\]$$', '\1'), '') AS host FROM du),
        |sv AS (SELECT doc_id, url FROM hst WHERE host IS NULL OR NOT EXISTS (
        |SELECT 1 FROM (VALUES ('tracker.net')) bl(domain)
        |WHERE hst.host = bl.domain OR hst.host LIKE '%.' || bl.domain)),
        |hx AS (SELECT doc_id,
        |'<html><head><title>t</title><style type="text/css">body {color:#fff}</style><script>if (1 < 2) { alert("x&y"); }</script></head><body><!-- nav --><h1>Doc &amp; entity &lt;demo&gt;</h1><p>'
        | || text || '</p><div>footer&nbsp;menu</div></body></html>' AS html FROM d),
        |ex AS (SELECT doc_id,
        |trim(regexp_replace(regexp_replace(regexp_replace(
        |replace(replace(replace(replace(replace(replace(
        |regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |'(?is)<script[^>]*>.*?</script>', '', 'g'),
        |'(?is)<style[^>]*>.*?</style>', '', 'g'),
        |'(?s)<!--.*?-->', '', 'g'),
        |'(?i)(</(p|div|li|h[1-6]|tr)>|<br\s*/?>)', chr(10), 'g'),
        |'<[^>]+>', '', 'g'),
        |'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |'&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
        |'[ ' || chr(9) || ']+', ' ', 'g'),
        |' ?' || chr(10) || ' ?', chr(10), 'g'),
        |chr(10) || '{2,}', chr(10), 'g'),
        |' ' || chr(10)) AS text FROM hx),
        |nf AS (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS u FROM sv),
        |bq AS (SELECT doc_id, split_part(u, '?', 1) AS base,
        |CASE WHEN contains(u, '?') THEN substring(u, len(split_part(u, '?', 1)) + 2) ELSE '' END AS query FROM nf),
        |pr AS (SELECT doc_id, base,
        |COALESCE(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref=') OR starts_with(p, 'fbclid=') OR p = ''))), '&'), '') AS cq FROM bq),
        |hp AS (SELECT doc_id, cq, split_part(base, '//', 1) AS scheme,
        |substring(base, len(split_part(base, '//', 1)) + 3) AS hostpath FROM pr),
        |h2 AS (SELECT doc_id, cq, scheme, split_part(hostpath, '/', 1) AS host0,
        |substring(hostpath, len(split_part(hostpath, '/', 1)) + 1) AS path FROM hp),
        |h3 AS (SELECT doc_id, cq, scheme, path, regexp_replace(lower(host0), '^www\.', '') AS hw FROM h2),
        |cn AS (SELECT doc_id,
        |lower(scheme) || '//' ||
        |CASE WHEN lower(scheme) = 'http:' THEN regexp_replace(hw, ':80$$', '')
        |WHEN lower(scheme) = 'https:' THEN regexp_replace(hw, ':443$$', '')
        |ELSE hw END ||
        |regexp_replace(path, '/$$', '') ||
        |CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url FROM h3),
        |uk AS (SELECT MIN(doc_id) AS doc_id FROM cn GROUP BY canonical_url),
        |s1 AS (SELECT ex.doc_id, ex.text FROM ex JOIN uk USING (doc_id)),
        |nn AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \n\t\r]', ' ', 'g'), '[ \n\t\r]+', ' ', 'g'))) AS nh FROM s1),
        |nk AS (SELECT MIN(doc_id) AS doc_id FROM nn GROUP BY nh),
        |s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN nk USING (doc_id)),
        |l1 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM s2),
        |l2 AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls FROM l1),
        |lr AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ls[i] AS line FROM l2),
        |df2 AS (SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS line_df FROM lr GROUP BY line),
        |lj AS (SELECT lr.doc_id, lr.pos, lr.line, df2.line_df FROM lr JOIN df2 USING (line)),
        |lined AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |CAST(SUM(CASE WHEN line_df >= 2 AND line <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE line_df < 2 OR line = ''), '') AS kept_text
        |FROM lj GROUP BY doc_id),
        |gt AS (SELECT doc_id, n_lines, n_removed, kept_text AS text,
        |list_filter(string_split_regex(kept_text, '[ \n]'), x -> x <> '') AS toks,
        |list_filter(string_split(kept_text, chr(10)), x -> x <> '') AS lines FROM lined),
        |gc AS (SELECT doc_id, n_lines, n_removed,
        |CAST(len(toks) AS BIGINT) AS n_tok,
        |CAST(len(lines) AS BIGINT) AS g_lines,
        |CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS char_sum,
        |CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
        |CAST(len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT) AS n_bullet,
        |CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS n_ell_end,
        |CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |CAST(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))), ['the','be','to','of','and','that','have','with','a','is'])) AS BIGINT) AS stop_hits
        |FROM gt),
        |vd AS (SELECT doc_id,
        |(n_tok >= 20 AND n_tok <= 100000
        |AND CAST(char_sum AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) >= CAST(3.0 AS DOUBLE)
        |AND CAST(char_sum AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) <= CAST(10.0 AS DOUBLE)
        |AND CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) < CAST(0.1 AS DOUBLE)
        |AND CAST(n_bullet AS DOUBLE) / CAST(greatest(g_lines, 1) AS DOUBLE) < CAST(0.9 AS DOUBLE)
        |AND CAST(n_ell_end AS DOUBLE) / CAST(greatest(g_lines, 1) AS DOUBLE) < CAST(0.3 AS DOUBLE)
        |AND CAST(n_alpha AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) > CAST(0.8 AS DOUBLE)
        |AND stop_hits >= 2) AS keep
        |FROM gc),
        |kt AS (SELECT gt.doc_id,
        |list_filter(string_split(replace(gt.text, chr(10), ' '), ' '), x -> x <> '') AS toks
        |FROM gt JOIN vd USING (doc_id) WHERE vd.keep),
        |lg AS (SELECT doc_id, list_sort([
        |{'h': len(list_filter(toks, x -> list_contains(['the','and','of','is','fast','slow'], x))), 'l': 'en'},
        |{'h': len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))), 'l': 'es'},
        |{'h': len(list_filter(toks, x -> list_contains(['der','die','und','ist'], x))), 'l': 'de'},
        |{'h': len(list_filter(toks, x -> list_contains(['le','la','et','est'], x))), 'l': 'fr'},
        |{'h': len(list_filter(toks, x -> list_contains(['spark','query','data'], x))), 'l': 'zh'}
        |], 'DESC')[1].l AS lang_pred FROM kt),$extraCtes
        |tk AS (SELECT doc_id, unnest(toks) AS tok FROM kt),
        |c2 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY tok),
        |t2 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c2),
        |p2 AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY doc_id, tok),
        |s2b AS (SELECT p.doc_id, CAST(SUM(p.tf) AS BIGINT) AS n_tokens,
        |CAST(CAST(SUM(p.tf * c.cnt) AS BIGINT) AS DOUBLE) / CAST(CAST(SUM(p.tf) AS BIGINT) * t.total AS DOUBLE) AS avg_tok_p
        |FROM p2 p JOIN c2 c USING (tok) CROSS JOIN t2 t
        |GROUP BY p.doc_id, t.total),
        |j2 AS (SELECT s.doc_id, l.lang_pred, s.n_tokens, s.avg_tok_p FROM s2b s JOIN $langRel l USING (doc_id)),
        |rk2 AS (SELECT lang_pred, avg_tok_p,
        |ROW_NUMBER() OVER (PARTITION BY lang_pred ORDER BY avg_tok_p DESC) AS r,
        |COUNT(*) OVER (PARTITION BY lang_pred) AS n FROM j2),
        |bd2 AS (SELECT lang_pred,
        |MAX(CASE WHEN r = (n + 2) // 3 THEN avg_tok_p END) AS b1,
        |MAX(CASE WHEN r = (2 * n + 2) // 3 THEN avg_tok_p END) AS b2
        |FROM rk2 GROUP BY lang_pred)
        |SELECT j2.doc_id, j2.lang_pred, j2.n_tokens, j2.avg_tok_p,
        |CASE WHEN j2.avg_tok_p >= bd2.b1 THEN 'head'
        |WHEN j2.avg_tok_p >= bd2.b2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM j2 JOIN bd2 USING (lang_pred)""".stripMargin

  /** The q_tokenize_pack CTE chain over relation `src` (greedy-cursor
    * encode → vocab-id join → ordered id string → pack bins + in-bin
    * offsets), ending at `pk` with the five output columns — shared
    * verbatim by q_tokenize_pack and q_training_export. */
  private def tokenizePackCtes(src: String, budget: Long): String = {
    val vlist = bpeEncodeVocab.map(t => s"'$t'").mkString(", ")
    val ilist = bpeEncodeVocab.indices.mkString(", ")
    s"""vocab AS (SELECT unnest([$vlist]) AS tok, unnest([$ilist]) AS idx),
       |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM $src),
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
       |fin AS (SELECT doc_id, wi, out FROM enc WHERE pos > len(word)),
       |sub AS (SELECT doc_id, wi, unnest(out) AS sub, unnest(range(1, len(out) + 1)) AS si FROM fin),
       |ids AS (SELECT s.doc_id, s.wi, s.si, COALESCE(v.idx, -1) AS id
       |FROM sub s LEFT JOIN vocab v ON s.sub = v.tok),
       |doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |string_agg(CAST(id AS VARCHAR), ' ' ORDER BY wi, si) AS token_ids FROM ids GROUP BY doc_id),
       |b AS (SELECT doc_id, n_tokens, token_ids,
       |CAST(floor((SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / $budget) AS BIGINT) AS bin_id
       |FROM doc),
       |pk AS (SELECT doc_id, n_tokens, token_ids, bin_id,
       |CAST(SUM(n_tokens) OVER (PARTITION BY bin_id ORDER BY n_tokens DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS bin_offset
       |FROM b)""".stripMargin
  }

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

  private def synthPseudoLines(toks: Column): Column =
    array_join(
      transform(
        sequence(lit(0), ceil(size(toks) / lit(10.0)).cast("int") - 1),
        g => array_join(slice(toks, g * 10 + 1, lit(10)), " ")),
      "\n")

  /** The pseudo-lined documents fixture all three line-shaped queries
    * share (q_dedup_lines, q_dedup_lines_within, q_crawl_prepare):
    * docs with >= 1 token, text rebuilt as 10-token lines. */
  private def linedDocuments(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    T(s, d, "documents")
      .filter(size(toks) >= 1)
      .select(col("doc_id"), synthPseudoLines(toks).as("text"))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregations.pricingSummary(
      T(spark, "/root/testdata/sf0.001", "lineitem")
        .filter(col("l_shipdate") <= expr("timestamp'1998-09-02 00:00:00'")))

  // ---- shared query fragments -------------------------------------------

  private val q1Filter = "l_shipdate <= timestamp'1998-09-02 00:00:00'"

  /** 20 standard residue letters + 'X' (→ LNT, deliberately absent
    * from the ASA tables) for q_rsa_methods' synthesized AA column. */
  private val rsaAlphabet = "ARNDCQEGHILKMFPSTWYVX"

  private def roundtripDir(name: String) = s"/tmp/graft_roundtrip/$name"

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val base = queriesBase
    // each *_range name stays registered (callers and bench records
    // key on it) as an alias of its base query, which already runs
    // the PrefixSum range form
    base ++ rangeAliased.map(q => s"${q}_range" -> base(q))
  }

  private val rangeAliased =
    Seq("q_pack_sequences", "q_token_budget_mix", "q_stratified_sample")

  private def queriesBase
  : Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A. core relational ---------------------------------------------
    "q_filter_eq" -> ((s, d) =>
      RowOps.rowSelector(T(s, d, "lineitem"), "l_returnflag", Seq("R"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
          "l_extendedprice")),
    "q_filter_in" -> ((s, d) =>
      RowOps.rowSelector(T(s, d, "orders"), "o_orderpriority",
          Seq("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")),
    "q_filter_not" -> ((s, d) =>
      RowOps.rowSelector(T(s, d, "customer"), "c_mktsegment",
          Seq("BUILDING", "MACHINERY"), reverse = true)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")),
    "q_project_exclude" -> ((s, d) =>
      RowOps.excludeColumns(T(s, d, "part"), Seq("p_retailprice", "p_type"))),
    "q_cast_types" -> ((s, d) =>
      RowOps.constrainColumnTypes(
        T(s, d, "supplier").withColumn("s_acctbal",
          when(col("s_acctbal") < 0, lit(null)).otherwise(col("s_acctbal"))),
        casts = Map("s_suppkey" -> org.apache.spark.sql.types.DoubleType,
          "s_nationkey" -> LongType),
        fills = Map("s_acctbal" -> 0.0))),
    "q_explode_split" -> ((s, d) =>
      RowOps.splitUpByKey(
        T(s, d, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderpriority", "-", "element")),
    "q_collapse_group" -> ((s, d) =>
      RowOps.mergeDownByKey(
        T(s, d, "orders").select("o_orderstatus", "o_orderpriority"),
        Seq("o_orderstatus"))),
    "q_derive_concat_key" -> ((s, d) =>
      RowOps.deriveConcatKey(
        T(s, d, "lineitem").select("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_linenumber"), "res_full")),
    "q_recode_class" -> ((s, d) =>
      RowOps.recodeByThresholds(
        T(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity"),
        "l_quantity", "qty_class", Seq(10.0, 25.0),
        Seq("low", "mid", "high"))),
    "q_scaled_ratio" -> ((s, d) =>
      RowOps.scaledRatio(
        T(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
        "l_quantity", "l_returnflag",
        Map("A" -> 17.0, "N" -> 23.5, "R" -> 31.0), "qty_rsa")),
    // ASA-table method dispatch (dssp.py:249 get_rsa over the three
    // published max-ASA tables, library.py:249-272): DSSP-ish (AA, ACC)
    // rows synthesized from lineitem drive all three constant tables
    // plus the RSA class recode (dssp.py:289); the oracle replays the
    // literal when-chains as CASE expressions GENERATED from the same
    // Library maps, so the shipped constants are what the hash
    // certifies. The 21st letter 'X' maps to LNT (no ASA entry) and
    // exercises the null-RSA / '-'-class path.
    "q_rsa_methods" -> ((s, d) => {
      val syn = T(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        lit(rsaAlphabet).substr(
          (pmod(col("l_orderkey") + col("l_linenumber"),
            lit(rsaAlphabet.length)) + 1).cast("int"), lit(1)).as("AA"),
        col("l_quantity").cast("double").as("ACC"))
      val withAll = StructureFilters.addRsa(
        StructureFilters.addRsa(
          StructureFilters.addRsa(syn, "Wilke"),
          "Miller", as = "RSA_MILLER"),
        "Sander", as = "RSA_SANDER")
      StructureFilters.addRsaClass(withAll)
        .select("l_orderkey", "l_linenumber", "AA", "ACC",
          "RSA", "RSA_MILLER", "RSA_SANDER", "RSA_CLASS")
    }),
    // UniProt-GFF annotation aggregation (annotation.py:67): range
    // features synthesized from orders → per-residue expansion via
    // explode(sequence) → file-order label concat; the oracle replays
    // with unnest(generate_series) + ordered string_agg
    "q_annotation_agg" -> ((s, d) => {
      val feats = T(s, d, "orders").select(
        col("o_orderkey").as("line_id"),
        element_at(
          array(lit("Domain"), lit("Active site"), lit("Helix"),
            lit("Site"), lit("Chain"), lit("Region")),
          (pmod(col("o_orderkey"), lit(6)) + 1).cast("int")).as("TYPE"),
        (pmod(col("o_orderkey"), lit(97)) + 1).as("START"),
        (pmod(col("o_orderkey"), lit(97)) + 1 +
          pmod(col("o_orderkey"), lit(4))).as("END"),
        when(pmod(col("o_orderkey"), lit(3)) === 0, lit(null))
          .otherwise(concat(lit("note"), pmod(col("o_orderkey"), lit(7))))
          .cast("string").as("Note"),
        when(pmod(col("o_orderkey"), lit(5)) === 0,
          concat(lit("PRO_"), col("o_orderkey"))).cast("string").as("ID"))
      Annotations.annotationAggregation(feats, identifier = Some("P12345"))
    }),
    // wide SIFTS pivot (sifts.py:141 parse_sifts_residues' frame
    // shape): long residue×crossRef rows → one row per residue with
    // {source}_{field} columns, region fills included; the long side
    // is synthesized from nation so the oracle can replay the pivot
    "q_sifts_wide" -> ((s, d) => {
      import s.implicits._
      val resnums = Seq(1, 2, 3, 4, 5, 6).toDF("resnum")
        .select(col("resnum").cast("int").as("resnum"))
      val base = T(s, d, "nation")
        .select(col("n_name").as("entityId"), col("n_nationkey").as("nk"))
        .crossJoin(resnums) // 25 × 6 synthesis rows — bounded dim
      def nullStr = lit(null).cast("string")
      def nullLong = lit(null).cast("long")
      val pdb = base.select(col("entityId"), col("nk"), col("resnum"),
        lit("PDB").as("dbSource"), lit("2pah").as("dbAccessionId"),
        (col("resnum") + 100).cast("string").as("dbResNum"),
        lit("VAL").as("dbResName"),
        substring(col("entityId"), 1, 1).as("dbChainId"),
        nullLong.as("regionId"), nullLong.as("regionStart"),
        nullLong.as("regionEnd"), nullLong.as("regionResNum"))
      val uni = base.select(col("entityId"), col("nk"), col("resnum"),
        lit("UniProt").as("dbSource"),
        concat(lit("AC"), col("nk")).as("dbAccessionId"),
        (col("resnum") + 17).cast("string").as("dbResNum"),
        lit("V").as("dbResName"), nullStr.as("dbChainId"),
        lit(1L).as("regionId"), lit(1L).as("regionStart"),
        lit(200L).as("regionEnd"),
        col("resnum").cast("long").as("regionResNum"))
      val cath = base.filter(col("resnum") <= 3)
        .select(col("entityId"), col("nk"), col("resnum"),
          lit("CATH").as("dbSource"),
          concat(lit("1.10.800."), col("nk")).as("dbAccessionId"),
          nullStr.as("dbResNum"), nullStr.as("dbResName"),
          nullStr.as("dbChainId"),
          nullLong.as("regionId"), nullLong.as("regionStart"),
          nullLong.as("regionEnd"), nullLong.as("regionResNum"))
      sources.Xml.siftsResiduesWide(
        pdb.unionByName(uni).unionByName(cath).drop("nk"),
        Seq("PDB", "UniProt", "CATH"))
    }),
    // table_merger (mergers.py:403): the full six-table merge chain —
    // dssp+validation onto atoms, annotation+variants onto SIFTS,
    // then atoms ⋈ SIFTS; tables synthesized per-residue so the
    // oracle replays every join; the duplicate `accession` column
    // (annotation + variants both carry it) is disambiguated
    // positionally to pandas' _x/_y suffixes
    "q_table_merger" -> ((s, d) => {
      import s.implicits._
      val chains = Seq("A", "B").toDF("ch")
      val res = s.range(1, 41).select(col("id").cast("int").as("rn"))
      val keys = chains.crossJoin(res)
      val mmcif = keys.select(
        col("ch").as("auth_asym_id"), col("rn").as("auth_seq_id"),
        col("rn").cast("string").as("auth_seq_id_full"),
        concat(lit("atom_"), col("ch"), lit("_"), col("rn")).as("atom_tag"))
      val dssp = keys.filter(col("rn") <= 30).select(
        col("rn").cast("string").as("RES_FULL"),
        col("ch").as("CHAIN_FULL"),
        element_at(array(lit("H"), lit("E"), lit("-")),
          (pmod(col("rn"), lit(3)) + 1).cast("int")).as("SS"))
      val validation = keys.filter(pmod(col("rn"), lit(2)) === 0).select(
        col("rn").cast("string").as("validation_resnum_full"),
        col("ch").as("validation_chain"),
        (col("rn").cast("double") / lit(40.0)).as("validation_rsr"))
      val sifts = keys.select(
        col("rn").cast("string").as("PDB_dbResNum"),
        col("ch").as("PDB_dbChainId"),
        lit("P00439").as("UniProt_dbAccessionId"),
        (col("rn") + 17).cast("string").as("UniProt_dbResNum"))
      val annotation = res.filter(pmod(col("rn"), lit(3)) === 0).select(
        lit("P00439").as("accession"),
        (col("rn") + 17).cast("string").as("site"),
        concat(lit("Domain (PRO_"), col("rn"), lit(")")).as("annotation"))
      val variants = res.filter(pmod(col("rn"), lit(4)) === 0).select(
        lit("P00439").as("accession"),
        (col("rn") + 17).as("begin"), // numeric: the merger casts it
        concat(lit("VAR_"), col("rn")).as("variant_id"))
      TableMerger.pandasSuffixDuplicates(TableMerger.tableMerger(
        mmcif = Some(mmcif), dssp = Some(dssp), sifts = Some(sifts),
        validation = Some(validation), annotation = Some(annotation),
        variants = Some(variants)))
    }),
    // filter_structures (structures.py:777), the full knob chain on a
    // lineitem-synthesized atom table: models-first (1-row eager
    // lookup) → res_full → hydrogen removal → partial-residue drop
    // (aaDefaultAtoms inventory) → dense id reset → comps selection →
    // centroid residue aggregation; the oracle replays every stage
    "q_filter_structures" -> ((s, d) => {
      val li = T(s, d, "lineitem").filter(col("l_orderkey") <= 9999)
      val atoms0 = li.select(
        (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        when(pmod(col("l_orderkey"), lit(13)) === 0, "HETATM")
          .otherwise("ATOM").as("group_PDB"),
        when(pmod(col("l_orderkey"), lit(5)) === 0, 2).otherwise(1)
          .cast("int").as("pdbx_PDB_model_num"),
        element_at(array(lit("A"), lit("B")),
          (pmod(col("l_orderkey"), lit(2)) + 1).cast("int"))
          .as("auth_asym_id"),
        pmod(col("l_orderkey"), lit(97)).cast("int").as("auth_seq_id"),
        when(pmod(col("l_orderkey"), lit(11)) === 0, "A").otherwise("?")
          .as("pdbx_PDB_ins_code"),
        element_at(array(lit("GLY"), lit("ALA"), lit("HOH")),
          (pmod(pmod(col("l_orderkey"), lit(97)), lit(3)) + 1).cast("int"))
          .as("auth_comp_id"),
        element_at(array(lit("N"), lit("O"), lit("CA"), lit("C"),
          lit("CB"), lit("H")),
          (pmod(col("l_linenumber"), lit(6)) + 1).cast("int"))
          .as("auth_atom_id"),
        lit(".").as("label_alt_id"),
        col("l_quantity").cast("double").as("Cartn_x"),
        (col("l_extendedprice") / lit(1000)).cast("double").as("Cartn_y"),
        (col("l_discount") * lit(100)).cast("double").as("Cartn_z"))
      val atoms1 = atoms0.withColumn("type_symbol",
        substring(col("auth_atom_id"), 1, 1))
      StructureFilters.filterStructures(atoms1,
        comps = Seq("GLY", "ALA"), removePartialRes = true,
        residueAgg = true)
    }),
    // ---- B. aggregation -------------------------------------------------
    "q1_pricing_summary" -> ((s, d) =>
      Aggregations.pricingSummary(T(s, d, "lineitem").filter(expr(q1Filter)))),
    "q_centroid" -> ((s, d) =>
      Aggregations.centroid(T(s, d, "lineitem"), Seq("l_suppkey"),
        Seq("l_quantity", "l_extendedprice"))),
    // ANALYZE-style column statistics: three columns profiled in
    // ONE table pass (structs inside one aggregation, exploded to
    // rows) — counts, exact NDV, min/max, quartiles
    "q_analyze_stats" -> ((s, d) =>
      Aggregations.columnStats(T(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))),
    // ROLLUP with grouping flags: subtotal rows per returnflag and
    // the grand total in one pass (Spark expands grouping sets
    // before the aggregation — one shuffle for all three levels);
    // sums in the decimal discipline
    "q_rollup_aggregate" -> ((s, d) =>
      T(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          Aggregations.decSum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))),
    // CUBE: all four grouping sets in one pass — rollup's lattice
    // completion (the (·, linestatus) slice rollup never emits)
    "q_cube_aggregate" -> ((s, d) =>
      T(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          Aggregations.decSum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))),
    // typo-tolerant vocabulary match: complete length-band blocking
    // + exact integer Levenshtein (identical DP in both engines)
    "q_fuzzy_match" -> ((s, d) =>
      Corpus.fuzzyMatch(
        Corpus.tokenDf(T(s, d, "documents")).select("tok"),
        Seq("sparq", "merg", "vektor", "windoww", "batch"),
        maxDist = 1)),
    // PIVOT → UNPIVOT roundtrip: wide per-user event-type cents
    // matrix back to long form ≡ the direct grouped aggregation —
    // the roundtrip IS the hash-checked claim; cents stay exact
    // longs so pivot cell order can't move a bit
    "q_pivot_roundtrip" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val piv = T(s, d, "events")
        .select(col("user_id"), col("event_type"), cents.as("cents"))
        .groupBy("user_id").pivot("event_type", types).agg(sum("cents"))
      piv.unpivot(Array(col("user_id")), types.map(col).toArray,
          "event_type", "cents_sum")
        .where(col("cents_sum").isNotNull)
    }),
    // ordered funnel: signup → view (after) → purchase (after) —
    // strict min-chain semantics, one row of per-step user counts
    "q_funnel" -> ((s, d) =>
      TimeOps.funnel(T(s, d, "events"),
        Seq("signup", "view", "purchase"))),
    // weekly retention triangle: cohort = first active week,
    // exact distinct (user, week) counting
    "q_retention_cohorts" -> ((s, d) =>
      TimeOps.retentionCohorts(T(s, d, "events"),
        7L * 86400L * 1000000L)),
    // Benford first-digit audit over order totals — the fabricated-
    // numbers screen; expected ppm are JVM-baked literal ticks
    "q_benford_profile" -> ((s, d) =>
      Audit.benfordProfile(T(s, d, "orders"), "o_totalprice")),
    // lang × source independence: ticked chi-square + Cramér's V —
    // the corpus mix-shift detector, all order-independent longs
    "q_chi_square" -> ((s, d) =>
      Aggregations.chiSquare(T(s, d, "documents"), "lang", "source")),
    // per-group r² between quantity and (whole-unit) price — pure
    // rational, no sqrt; Σy² is the long-overflow bound, so price
    // quantizes to units (the documented caller contract)
    "q_corr_r2" -> ((s, d) =>
      TimeOps.groupedR2(T(s, d, "lineitem"), "l_returnflag",
        "l_quantity", "l_extendedprice")),
    // per-type daily trend: OLS slope from exact long sums, the one
    // division pinned IEEE — is this event type growing?
    "q_trend_slope" -> ((s, d) =>
      TimeOps.trendSlope(T(s, d, "events"), "event_type", "ts",
        "value", bucketMicros = 86400L * 1000000L)),
    // association rules over per-user event-type baskets: exact
    // support/confidence/lift in long ppm — no IEEE op anywhere
    "q_assoc_rules" -> ((s, d) =>
      Corpus.associationRules(T(s, d, "events"),
        "user_id", "event_type")),
    // interval-overlap self-join: each event opens a 5-minute
    // window; overlapping windows per user pair up via the banded
    // (user, bucket) equi-join — never a per-user theta join
    "q_interval_join" -> ((s, d) =>
      RangeJoin.intervalSelfJoin(
        T(s, d, "events").select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) + 300000000L).as("e_us")),
        "user_id", "event_id", "s_us", "e_us",
        bucketMicros = 300000000L)),
    // SCD2 dimension history from the event change log: per-user
    // validity intervals over the (ts, event_id)-pinned change order
    "q_scd2_history" -> ((s, d) =>
      TimeOps.scd2History(
        T(s, d, "events").withColumn("cents",
          floor(col("value") * 100 + 0.5).cast("long")),
        "user_id", "ts", "event_id", Seq("event_type", "cents"))),
    // homoglyph scrub: confusables planted into every 3rd doc map
    // back to ASCII — `restored` hash-checks the roundtrip; mixed-
    // script tokens are the evasion signature
    "q_homoglyph_scrub" -> ((s, d) => {
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
    }),
    // FULL Unicode fold (the REAL expression, driven): per doc a
    // planted variant from the spec-pinned fold table (width /
    // compat / marks / confusables) rides on the ASCII text; the
    // fold runs java.text.Normalizer — not SQL-expressible — so the
    // oracle replays the SUBSET: lower(text) || the pinned folded
    // literal (the F3/F4 promotion pattern; UnicodeFoldSpec pins the
    // table both sides copy)
    "q_unicode_fold" -> ((s, d) => {
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
    }),
    // half-life freshness score per user: 1-day half-life as of
    // 2024-02-01 (past the fixture's last event) — exact power-of-two
    // weights, per-event long ticks, order-independent long sum
    "q_time_decay" -> ((s, d) =>
      TimeOps.halfLifeScore(T(s, d, "events"), "user_id", "ts", "value",
        halfLifeMicros = 86400L * 1000000L,
        asOfUs = 1706745600000000L)),
    // ---- governance audits (documents/customer/orders tables) ----
    // k-anonymity / l-diversity: quasi-identifiers are segment ×
    // nation × a synthetic 20-bucket zip (custkey % 20 — the
    // linkable-attribute stand-in); sensitive = account balance.
    // Output rows = |equivalence classes|, corpus-size independent
    "q_k_anonymity" -> ((s, d) =>
      Audit.kAnonymity(
        T(s, d, "customer").withColumn("zip", col("c_custkey") % 20),
        Seq("c_mktsegment", "c_nationkey", "zip"), "c_acctbal", k = 10)),
    // referential integrity over two key edges in one report: a
    // damaged dim (customers with custkey%3=0 dropped — the
    // simulated lost-partition) and an intact edge as the control
    "q_fk_audit" -> ((s, d) =>
      Audit.referentialIntegrity("orders->customer",
          T(s, d, "orders"), "o_custkey",
          T(s, d, "customer").filter(col("c_custkey") % 3 =!= 0),
          "c_custkey")
        .unionByName(Audit.referentialIntegrity("lineitem->orders",
          T(s, d, "lineitem"), "l_orderkey",
          T(s, d, "orders"), "o_orderkey"))),
    // hourly LOCF gap fill per event type: densified bucket grid +
    // carried-forward cents — the resample/ffill shape; the window
    // runs over the grid, never the event stream
    "q_gap_fill" -> ((s, d) => {
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      // exact integer FLOOR division (matches the oracle's `//` for
      // negative pre-epoch timestamps; double-divide truncates)
      val us = unix_micros(col("ts"))
      val hour = call_function("div",
        us - pmod(us, lit(3600000000L)), lit(3600000000L))
      val hc = T(s, d, "events")
        .select(col("event_type"), hour.as("hour"), cents.as("cents"))
        .groupBy("event_type", "hour").agg(sum("cents").as("cents"))
      TimeOps.gapFillLocf(hc, Seq("event_type"), "hour", Seq("cents"))
    }),
    "q_agg_first" -> ((s, d) =>
      Aggregations.firstPerGroup(
        T(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_quantity")))),
    "q_seq_concat" -> ((s, d) =>
      T(s, d, "lineitem").groupBy("l_orderkey")
        .agg(Aggregations.orderedConcat("l_linenumber", "l_returnflag")
          .as("seq"))),
    "q_having_complete" -> ((s, d) =>
      Aggregations.completeGroups(T(s, d, "lineitem"), Seq("l_orderkey"),
        col("n_members") >= 5)),
    // dataset versioning: diff two corpus snapshots (v2 derived
    // deterministically: drop %10 ids, mutate %7 texts, add %13 ids
    // under new keys) → added/removed/changed rows
    "q_table_diff" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val v2 = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000))
      RowOps.snapshotDiff(docs, v2, Seq("doc_id"),
        Seq("text", "lang", "source", "n_chars"))
    }),
    // aligned-sequence comparison (variants.py:411,430): build two
    // sequences under ONE total ordering, count positionwise
    // mismatches with the zip_with char walk
    "q_seq_mismatch" -> ((s, d) => {
      val rows = T(s, d, "lineitem").groupBy("l_orderkey")
        .agg(array_sort(collect_list(struct(col("l_linenumber"),
          col("l_returnflag"), col("l_linestatus")))).as("rows"))
      rows.select(col("l_orderkey"),
          array_join(transform(col("rows"),
            r => r.getField("l_returnflag")), "").as("seq_a"),
          array_join(transform(col("rows"),
            r => r.getField("l_linestatus")), "").as("seq_b"))
        .withColumn("n_mismatch",
          TextFunctions.countMismatches(col("seq_a"), col("seq_b"))
            .cast("long"))
        .withColumn("seqs_match",
          TextFunctions.sequencesMatch(col("seq_a"), col("seq_b"), 2))
    }),
    // re-key annotations through a per-sequence alignment index map
    // (variants.py:394): the map drops every 4th position (gap) and
    // shifts the rest by orderkey%5; unmapped positions surface as
    // null mapped_idx (imap.get -> None)
    "q_seq_index_map" -> ((s, d) => {
      val li = T(s, d, "lineitem")
      val ann = li.select("l_orderkey", "l_linenumber", "l_returnflag",
        "l_quantity")
      // positions deduped first: (orderkey, linenumber) repeats in
      // this corpus and a map key must be unique
      val imaps = li.select("l_orderkey", "l_linenumber").distinct()
        .filter(col("l_linenumber") % 4 =!= 0)
        .groupBy("l_orderkey")
        .agg(map_from_entries(array_sort(collect_list(struct(
          col("l_linenumber").as("src"),
          (col("l_linenumber") + pmod(col("l_orderkey"), lit(5)))
            .cast("int").as("dst"))))).as("imap"))
      RowOps.applySequenceIndexMap(ann, imaps, Seq("l_orderkey"),
        "l_linenumber")
    }),
    "q_annotation_collapse" -> ((s, d) =>
      RowOps.mergeDownByKey(
        T(s, d, "documents").select("lang", "source"), Seq("lang"))),
    // ---- C. joins / merges ----------------------------------------------
    "q_join_left_composite" -> ((s, d) => {
      val li = T(s, d, "lineitem")
      val grp = li.groupBy("l_orderkey", "l_returnflag")
        .agg(Aggregations.decSum(col("l_quantity")).as("grp_qty"))
        .withColumnRenamed("l_orderkey", "g_orderkey")
        .withColumnRenamed("l_returnflag", "g_returnflag")
      Joins.leftMerge(
          li.select("l_orderkey", "l_linenumber", "l_returnflag"), grp,
          Seq("l_orderkey" -> "g_orderkey", "l_returnflag" -> "g_returnflag"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "grp_qty")
    }),
    "q_join_broadcast_dims" -> ((s, d) => {
      val cn = Joins.broadcastDim(T(s, d, "customer"), T(s, d, "nation"),
        "c_nationkey", "n_nationkey")
      Joins.broadcastDim(cn, T(s, d, "region"), "n_regionkey", "r_regionkey")
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"),
          Aggregations.decSum(col("c_acctbal")).as("sum_acctbal"))
    }),
    "q_multiway_merge" -> ((s, d) =>
      Joins.chainMerge(T(s, d, "lineitem"), Seq(
          (T(s, d, "orders"), Seq("l_orderkey" -> "o_orderkey")),
          (T(s, d, "customer"), Seq("o_custkey" -> "c_custkey")),
          (T(s, d, "nation"), Seq("c_nationkey" -> "n_nationkey")),
          (T(s, d, "region"), Seq("n_regionkey" -> "r_regionkey"))))
        .groupBy("n_name")
        .agg(Aggregations.decSum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n"))),
    "q_union_dedup" -> ((s, d) =>
      Joins.unionDedup(
        T(s, d, "lineitem").filter(col("l_returnflag") === "A")
          .select(col("l_orderkey").as("key")),
        T(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("key")))),
    "q_semi_anti" -> ((s, d) => {
      val cust = T(s, d, "customer").select("c_custkey", "c_name")
      val ords = T(s, d, "orders").select("o_custkey")
      val semi = Joins.semiJoin(cust, ords, Seq("c_custkey" -> "o_custkey"))
        .withColumn("kind", lit("semi"))
      val anti = Joins.antiJoin(cust, ords, Seq("c_custkey" -> "o_custkey"))
        .withColumn("kind", lit("anti"))
      semi.unionByName(anti).select("kind", "c_custkey", "c_name")
    }),
    // bucketed fact-fact join: both sides pre-shuffled at write time
    // into the same bucket layout → the join itself plans with ZERO
    // exchanges (the repeated-join pattern for a 100 TB fact table)
    "q_bucketed_join" -> ((s, d) => {
      Bucketing.writeBucketed(
        T(s, d, "lineitem").select("l_orderkey", "l_quantity"),
        "graft_li_bucketed", Seq("l_orderkey"), 8)
      Bucketing.writeBucketed(
        T(s, d, "orders").select("o_orderkey", "o_orderstatus"),
        "graft_ord_bucketed", Seq("o_orderkey"), 8)
      Bucketing.bucketedJoin(s, "graft_li_bucketed", "graft_ord_bucketed",
          Seq("l_orderkey" -> "o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          Aggregations.decSum(col("l_quantity")).as("sum_qty"))
    }),
    // ---- D. window / dedup / order --------------------------------------
    "q_dedup_keep_best" -> ((s, d) =>
      WindowOps.keepBestPerKey(
        T(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice"),
        Seq("l_orderkey"),
        Seq(col("l_extendedprice").desc, col("l_linenumber").asc))),
    "q_window_lag" -> ((s, d) =>
      WindowOps.lagDelta(
        T(s, d, "events").select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us")),
        Seq("user_id"), Seq(col("ts_us"), col("event_id")),
        col("ts_us"), "delta_us")),
    "q_window_rolling" -> ((s, d) =>
      WindowOps.rollingStats(
        T(s, d, "events").select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value")),
        Seq("user_id"), Seq(col("ts_us"), col("event_id")),
        col("value"), nRows = 5)),
    "q_sessionize" -> ((s, d) =>
      WindowOps.sessionize(T(s, d, "events"), Seq("user_id"),
          unix_micros(col("ts")), 1800L * 1000000L)
        .groupBy("user_id")
        .agg(max(col("session_idx")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))),
    // session transcripts: interaction logs as conversation-style
    // documents — sessionize + in-aggregation ordering + integer
    // cents; every line of every transcript hash-checked
    "q_dialogue_assemble" -> ((s, d) =>
      WindowOps.sessionTranscripts(T(s, d, "events"))),
    // DPO preference pairs over the L29 transcripts: sessions play
    // rated candidate responses (rating = n_turns), prompt families
    // key on (opening event type, user cohort); deterministic
    // max-vs-min pairing with id-broken ties, then the L25
    // leakage-safe split on the prompt family so a family never
    // straddles train/test
    "q_dpo_pairs" -> ((s, d) => {
      val tr = WindowOps.sessionTranscripts(T(s, d, "events"))
      val firstLine = element_at(split(col("transcript"), "\n"), 1)
      val responses = tr.select(
        concat(element_at(split(firstLine, " "), 2), lit("#"),
          pmod(col("user_id"), lit(97)).cast("string")).as("prompt"),
        col("transcript").as("response"),
        col("n_turns").cast("double").as("rating"),
        (col("user_id") * 100000 + col("session_idx")).as("id"))
      val pairs = Preference.dpoPairs(responses)
      Sampling.groupAwareSplit(
          pairs.withColumn("gk", md5(col("prompt"))), "gk", "chosen_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .drop("gk")
    }),
    "q_range_join_contacts" -> ((s, d) =>
      RangeJoin.contacts3D(
        T(s, d, "lineitem").select(
          col("l_suppkey"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_quantity").as("x"),
          (col("l_extendedprice") / 100).as("y"),
          (col("l_discount") * 100).as("z")),
        "l_suppkey", "id", "x", "y", "z", 2.0)),
    "q_knn_contacts" -> ((s, d) =>
      RangeJoin.knnContacts(
        T(s, d, "lineitem").select(
          col("l_suppkey"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_quantity").as("x"),
          (col("l_extendedprice") / 100).as("y"),
          (col("l_discount") * 100).as("z")),
        "l_suppkey", "id", "x", "y", "z", eps = 2.0, k = 3)),
    // exact linear-interpolation percentiles (sort-based; for the
    // 100 TB path see q_sketch_profile's approx variants)
    // fixed-width histogram per return flag (distribution profiling)
    "q_histogram" -> ((s, d) =>
      Aggregations.histogram(T(s, d, "lineitem"), "l_quantity",
        Seq("l_returnflag"), lo = 0.0, width = 5.0, nBins = 10)),
    "q_quantiles" -> ((s, d) =>
      // one percentile buffer per group for both points (r17): two
      // percentile() calls each buffered the whole group's values
      T(s, d, "lineitem").groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.5, 0.95))")
          .as("__qs"))
        .select(col("l_returnflag"), col("__qs")(0).as("p50"),
          col("__qs")(1).as("p95"))),
    // the 100 TB form of q_quantiles: exact interpolated percentiles
    // via batched order-statistic narrowing — no group's values ever
    // buffer in one aggregation task; bit-identical to percentile()
    // (same oracle, shared verbatim)
    "q_quantiles_scale" -> ((s, d) =>
      OrderStats.quantilesByGroup(T(s, d, "lineitem"),
        "l_returnflag", "l_extendedprice",
        Seq("p50" -> 0.5, "p95" -> 0.95))),
    // robust outlier profile: median/MAD flagging per group from the
    // exact percentile aggregate (k = 5·MAD, strict)
    "q_robust_outliers" -> ((s, d) =>
      OrderStats.robustOutliersByGroup(
        T(s, d, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", k = 5.0)),
    // winsorization — the TRANSFORM twin of the outlier report:
    // values clamped to the exact per-group [p05, p95]
    "q_winsorize" -> ((s, d) =>
      OrderStats.winsorizeByGroup(
        T(s, d, "lineitem").select("l_orderkey", "l_linenumber",
          "l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice")),
    // the ONE-PASS sketch path of the order-statistics family: per
    // group, KLL discrete quantiles next to the exact percentile()
    // answer and the measured rank error in exact ppm of the group
    // size — the self-auditing harness shape (F8). Rows-only: the
    // sketch's compaction survivors depend on merge order, which no
    // SQL replay can reproduce; the SPEC pins the error bound.
    "q_quantile_sketch" -> ((s, d) => {
      val li = T(s, d, "lineitem").select("l_returnflag", "l_extendedprice")
      val sk = OrderStats.sketchQuantilesByGroup(li,
        "l_returnflag", "l_extendedprice",
        Seq("sk_p50" -> 0.5, "sk_p95" -> 0.95))
      val ex = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          expr("percentile(l_extendedprice, array(0.5, 0.95))")
            .as("__qs"))
        .select(col("l_returnflag"), col("n"),
          col("__qs")(0).as("ex_p50"), col("__qs")(1).as("ex_p95"))
      def rkErr(skc: Column, q: Double) = {
        // measured rank error: |rank(sketch value) − q·(n−1)| in ppm
        // of n, rank from one conditional count against the data
        abs(sum(when(col("l_extendedprice") <= skc, 1L).otherwise(0L))
          .cast("double") - lit(1.0) -
          lit(q) * (count(lit(1)).cast("double") - lit(1.0))) * 1e6 /
          count(lit(1)).cast("double")
      }
      val err = li.join(broadcast(sk), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(floor(rkErr(col("sk_p50"), 0.5)).cast("long")
          .as("p50_rank_err_ppm"),
          floor(rkErr(col("sk_p95"), 0.95)).cast("long")
            .as("p95_rank_err_ppm"))
      sk.join(ex, Seq("l_returnflag")).join(err, Seq("l_returnflag"))
        .select("l_returnflag", "n", "sk_p50", "ex_p50",
          "p50_rank_err_ppm", "sk_p95", "ex_p95", "p95_rank_err_ppm")
    }),
    // winsorization on the sketch scale path: same clamp shape as
    // q_winsorize but bounds from the one-pass KLL aggregate — no
    // per-group buffering, no group-cardinality bound. Rows-only
    // (merge-order-dependent bounds); the spec pins the error.
    "q_winsorize_scale" -> ((s, d) =>
      OrderStats.winsorizeByGroup(
        T(s, d, "lineitem").select("l_orderkey", "l_linenumber",
          "l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", sketched = true)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("clipped"), 1L).otherwise(0L)).as("n_clipped"),
          min("l_extendedprice_w").as("w_min"),
          max("l_extendedprice_w").as("w_max"))),
    // the INCREMENTAL sketch rollup: one bounded kll_state row per
    // (event_type, day) — the stored-state table a daily job would
    // append — then any range's quantiles from merged STATES alone
    // (history never re-scanned). Self-auditing (F8): merged sketch
    // p50/p95 next to the exact percentile answer and the measured
    // rank error in ppm. Rows-only: compaction survivors are
    // merge-order-dependent; the spec pins exactness under the
    // level-0 capacity and the 1% bound beyond it.
    "q_sketch_rollup" -> ((s, d) => {
      val ev = T(s, d, "events").select(col("event_type"),
        to_date(col("ts")).as("day"), col("value").cast("double").as("v"))
        .filter(col("v").isNotNull)
      val daily = ev.groupBy("event_type", "day")
        .agg(graft.expressions.KllQuantiles.state(col("v"), 200).as("st"),
          count(lit(1)).as("n_day"))
      val merged = daily.groupBy("event_type")
        .agg(graft.expressions.KllQuantiles
          .mergeQuantiles(col("st"), Seq(0.5, 0.95)).as("qs"),
          sum(col("n_day")).as("n"), count(lit(1)).as("n_states"))
        .select(col("event_type"), col("n"), col("n_states"),
          element_at(col("qs"), 1).as("sk_p50"),
          element_at(col("qs"), 2).as("sk_p95"))
      val ex = ev.groupBy("event_type")
        .agg(expr("percentile(v, array(0.5, 0.95))").as("__qs"))
        .select(col("event_type"), col("__qs")(0).as("ex_p50"),
          col("__qs")(1).as("ex_p95"))
      def rkErr(skc: Column, q: Double) =
        abs(sum(when(col("v") <= skc, 1L).otherwise(0L))
          .cast("double") - lit(1.0) -
          lit(q) * (count(lit(1)).cast("double") - lit(1.0))) * 1e6 /
          count(lit(1)).cast("double")
      val err = ev.join(broadcast(merged
          .select("event_type", "sk_p50", "sk_p95")), Seq("event_type"))
        .groupBy("event_type")
        .agg(floor(rkErr(col("sk_p50"), 0.5)).cast("long")
          .as("p50_rank_err_ppm"),
          floor(rkErr(col("sk_p95"), 0.95)).cast("long")
            .as("p95_rank_err_ppm"))
      merged.join(ex, Seq("event_type")).join(err, Seq("event_type"))
        .select("event_type", "n", "n_states", "sk_p50", "ex_p50",
          "p50_rank_err_ppm", "sk_p95", "ex_p95", "p95_rank_err_ppm")
    }),
    // Luhn-gated PII: two planted 13–19 digit runs per doc (a fixed
    // card-shaped constant + a doc_id-derived 16-digit number whose
    // validity the CHECKSUM decides — no fixture-side answer key);
    // regex finds candidates, mod-10 keeps real card shapes
    "q_pii_luhn" -> ((s, d) => {
      val planted = concat(col("text"), lit(" 4532015112830366 "),
        (lit(1000000000000000L) +
          (col("doc_id") * 987654321L) % 9000000000000000L)
          .cast("string"))
      val cands = TextFunctions.cardCandidates(planted)
      T(s, d, "documents").select(col("doc_id"),
        size(cands).cast("long").as("n_candidates"),
        size(filter(cands, c => TextFunctions.luhnValid(c)))
          .cast("long").as("n_valid"))
    }),
    // sketch profile: t-digest percentiles + HLL++ distinct counts —
    // fixed-size mergeable state, the only viable shapes at 100 TB;
    // approximate by design → rows-only check
    "q_sketch_profile" -> ((s, d) =>
      T(s, d, "events").groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          expr("approx_percentile(value, array(0.5, 0.99), 1000)")
            .as("value_p50_p99"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("approx_users"),
          col("value_p50_p99")(0).as("p50"),
          col("value_p50_p99")(1).as("p99"), col("n"))),
    "q_asof_join" -> ((s, d) => {
      val ev = T(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts_us").as("e_ts"),
          col("event_id").as("err_id"), col("value").as("err_value"))
      AsOfJoin.asOf(clicks, errors, "user_id", "e_user", "ts_us", "e_ts",
        Seq("err_id", "err_value"), rightTieBreak = Seq("err_id"))
    }),
    // forward and nearest as-of directions (pandas merge_asof
    // completion): next error at-or-after each click; the closest
    // error either way with exact-tie-goes-backward pinned
    "q_asof_forward" -> ((s, d) => {
      val ev = T(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      AsOfJoin.asOfForward(
        ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us"),
        ev.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("ts_us").as("e_ts"),
            col("event_id").as("err_id"), col("value").as("err_value")),
        "user_id", "e_user", "ts_us", "e_ts",
        Seq("err_id", "err_value"), rightTieBreak = Seq("err_id"))
    }),
    "q_asof_nearest" -> ((s, d) => {
      val ev = T(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      AsOfJoin.asOfNearest(
        ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us"),
        ev.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("ts_us").as("e_ts"),
            col("event_id").as("err_id"), col("value").as("err_value")),
        "user_id", "e_user", "ts_us", "e_ts",
        Seq("err_id", "err_value"), rightTieBreak = Seq("err_id"))
    }),
    // ---- E. time / streaming --------------------------------------------
    "q_window_agg_time" -> ((s, d) =>
      TimeOps.tumblingAgg(T(s, d, "events"), "ts", Seq("event_type"),
        "value", 900L * 1000000L)),
    "q_stream_window" -> ((s, d) => EventStreams.windowedCounts(s, d)),
    // per-user session stats via flatMapGroupsWithState — the single
    // availableNow batch emits every session (open ones unclosed), so
    // the aggregate matches the batch sessionize oracle exactly
    "q_stateful_sessions" -> ((s, d) =>
      streaming.StatefulSessions.sessionize(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum("n_events").cast("long").as("n_events"))),
    "q_stream_join" -> ((s, d) => EventStreams.streamStreamJoin(s, d)),
    // OUTER stream-stream join: unmatched clicks surface with null
    // error columns once the watermark closes their join window —
    // "no match ever", proven, not just "no match yet"
    "q_stream_left_join" -> ((s, d) =>
      EventStreams.streamStreamLeftJoin(s, d)),
    // streaming upsert (foreachBatch): latest-event-per-user keyed
    // table maintained by the stream — the materialized-view /
    // feature-store shape
    "q_stream_upsert" -> ((s, d) =>
      EventStreams.streamUpsertToTable(s, d,
        roundtripDir("upsert/table"), roundtripDir("upsert/ckpt"))),
    // the 100 TB form of q_stream_upsert: per batch, only the keyed
    // MergeTable buckets the delta touches rewrite (snapshot read
    // pruned to those buckets decides keep-latest winners); each
    // trigger commits through the manifest rename. Same final table
    // as the whole-rewrite form — the oracle is shared verbatim.
    "q_stream_merge" -> ((s, d) =>
      EventStreams.streamMergeToTable(s, d,
        roundtripDir("stream_merge/table"),
        roundtripDir("stream_merge/ckpt"))),
    // the PRODUCTION streaming sink path: append-mode windowed agg to
    // parquet files with a checkpoint — only windows the final
    // watermark (max ts − 1h) has passed are emitted, and the oracle
    // reproduces exactly that set
    "q_stream_to_files" -> ((s, d) => {
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
    }),
    // one availableNow batch over a single file → every duplicate key
    // is in-batch and dropped, so exactly one row per user survives
    // (which row is arbitrary → aggregate to the deterministic shape)
    "q_stream_dedup" -> ((s, d) =>
      EventStreams.streamingDedup(s, d, Seq("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n_rows"))),
    // ---- F. dedup -------------------------------------------------------
    "q_dedup_exact" -> ((s, d) => Dedup.exact(T(s, d, "documents"))),
    // pairs → clusters: the step that turns near-dup PAIRS into
    // droppable duplicate groups (min-reachable-id representative)
    "q_dedup_cluster" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Graph.connectedComponents(
          docs.select(col("doc_id")),
          Dedup.ngramJaccardPairs(docs, Seq("source"), 0.9)
            .select("a_id", "b_id"))
        .select(col("id").as("doc_id"), col("comp").as("cluster_rep"))
    }),
    "q_dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(T(s, d, "documents"), Seq("source"), 0.9)),
    // threshold sweep: one pair pass at 0.7, four cheap aggregates —
    // the tuning curve read before committing to a jaccard bar
    "q_dedup_sweep" -> ((s, d) =>
      Dedup.thresholdSweep(T(s, d, "documents"), Seq("source"),
        Seq(0.7, 0.8, 0.9, 0.95))),
    // same clusters via the O(log d) alternating-stars algorithm —
    // the two independent implementations must agree bit-for-bit
    // with the same recursive-CTE oracle
    "q_dedup_cluster_stars" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Graph.connectedComponentsStars(
          docs.select(col("doc_id")),
          Dedup.ngramJaccardPairs(docs, Seq("source"), 0.9)
            .select("a_id", "b_id"))
        .select(col("id").as("doc_id"), col("comp").as("cluster_rep"))
    }),
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
    "q_dedup_minhash_lsh" -> ((s, d) => {
      val sketch = T(s, d, "documents")
        .select(col("doc_id").as("id"), col("text"))
        .transform(md5Sketch)
      Dedup.minhashPairsFromSketch(sketch, threshold = 0.9,
        numHashes = 32, bands = 2)
    }),
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
    "q_dedup_incremental" -> ((s, d) => {
      val sketch = T(s, d, "documents")
        .select(col("doc_id").as("id"), col("text"))
        .transform(md5Sketch)
        .localCheckpoint()
      Dedup.incrementalMinhashPairs(
        sketch.filter(pmod(col("id"), lit(5)) === 4),
        sketch.filter(pmod(col("id"), lit(5)) < 4),
        threshold = 0.9, numHashes = 32, bands = 2)
    }),
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
    "q_decontaminate_spans" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Dedup.decontaminateSpans(docs, evalCloneBench(docs), k = 8)
    }),
    "q_decontaminate_fuzzy" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Dedup.fuzzyDecontaminate(
        md5Sketch(docs.select(col("doc_id").as("id"), col("text")))
          .localCheckpoint(),
        md5Sketch(evalCloneBench(docs)),
        threshold = 0.9, numHashes = 32, bands = 2)
        .withColumnRenamed("id", "doc_id")
    }),
    // the STREAMING decontamination gate (the H38 probe as an
    // always-on ingest stage, chained after the E11 near-dup gate in
    // production): the bench sketch is SAVED once as the static index
    // artifact and LOADED back (the train-once/deploy-from-artifact
    // hop every model family uses), then the document stream drains
    // file-by-file through foreachBatch — three exactly-once outputs,
    // checkpointed, restart-safe. The index never grows, so the
    // streamed verdict is batch-equivalent BY CONSTRUCTION and the
    // q_decontaminate_fuzzy oracle is shared verbatim
    "q_stream_decontaminate" -> ((s, d) => {
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
    }),
    // normalized near-exact dedup: case/punct/whitespace-insensitive
    // hash-groupBy — the first rung of the fuzzy ladder at exact cost
    "q_dedup_normalized" -> ((s, d) =>
      Dedup.normalizedExact(T(s, d, "documents"))),
    // Gopher rule gate: the full Rae-et-al heuristic battery as one
    // scan-stage column block (minTokens lowered to split this corpus)
    "q_gopher_rules" -> ((s, d) =>
      Corpus.gopherRules(T(s, d, "documents"), minTokens = 30)),
    // host-level crawl-policy mining: gopher verdicts rolled up to
    // the host grain (13 synthesized hosts), low-yield hosts flagged
    // as frontier blocklist candidates
    "q_host_policy" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Corpus.hostPolicyStats(
        Corpus.gopherRules(docs, minTokens = 30),
        docs.select(col("doc_id"),
          concat(lit("https://h"), col("doc_id") % 13,
            lit(".example.org/item-"), col("doc_id")).as("url")),
        minDocs = 20, maxKeepRate = 0.5)
    }),
    // exact heavy hitters (cnt > N/40) WITHOUT a vocabulary shuffle:
    // per-partition Misra-Gries candidate sketch, broadcast semi-join
    // confirm, integer threshold — output equals plain groupBy+filter
    "q_heavy_hitters" -> ((s, d) =>
      Corpus.heavyHitters(T(s, d, "documents"), k = 40)),
    // exact stratified sample: largest-remainder allocation of 100
    // rows over languages, per-stratum content-hash-order prefix from
    // the range-partitioned running count (PrefixSum)
    "q_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(
          T(s, d, "documents"), "lang", "doc_id", 100L, nBuckets = 16)
        .select(col("doc_id"), col("lang"), col("source"))),
    // leakage-safe split: train/val/test keyed on the normalized-
    // text duplicate group's min doc_id — a dup cluster can never
    // straddle train and test
    "q_leakage_safe_split" -> ((s, d) =>
      Sampling.groupAwareSplit(
          T(s, d, "documents").withColumn("gk",
            md5(graft.functions.TextFunctions.normalizeText(col("text"))
              .cast("binary"))),
          "gk", "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("rep_id"), col("bucket"), col("split"))),
    // distribution matching: down-sample to the target lang mix
    // (en .4 / es .3 / zh .2 / fr .1; de dropped) — binding group
    // keeps ~100%, md5-bucket thresholds, corpus never shuffles
    "q_match_distribution" -> ((s, d) =>
      Sampling.matchDistribution(T(s, d, "documents"), "lang", "doc_id",
          Seq("en" -> 0.4, "es" -> 0.3, "zh" -> 0.2, "fr" -> 0.1))
        .select(col("doc_id"), col("lang"), col("source"))),
    // weighted sample without replacement (Efraimidis–Spirakis):
    // inclusion odds proportional to n_chars via the exact
    // max-of-w-uniforms key (md5 draws, zero floats), top-64 through
    // the selectTopN narrowing — the key itself is hash-checked
    "q_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(T(s, d, "documents"), "doc_id", "n_chars", 64L)
        .filter(col("selected"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("es_key"))),
    // the per-group form: 12 weighted draws from EVERY language via
    // the batched selectTopNByGroup narrowing (52-bit key; no
    // per-group window sort anywhere)
    "q_weighted_sample_group" -> ((s, d) =>
      Sampling.weightedSamplePerGroup(
          T(s, d, "documents"), "lang", "doc_id", "n_chars", 12L)
        .filter(col("selected"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("es_key"))),
    // Z-order layout: per-tile file-skipping stats over the Morton
    // interleave of (l_orderkey, l_partkey) — exact integer grid
    // normalization, 64 rectangle tiles, every bound hash-checked
    "q_zorder_layout" -> ((s, d) =>
      Layout.zorderStats(T(s, d, "lineitem"), "l_orderkey", "l_partkey",
        bits = 16, tileBits = 3)),
    // bitext mining (Artetxe-Schwenk margin): parallel pairs across
    // the vec_id parity split — fwd/bwd top-4 candidates, exact-tick
    // neighborhood sums, one integer division, per-x argmax over
    // margin >= 1.10
    "q_bitext_mine" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.bitextMine(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        k = 4, marginFpMin = 1100000L)
    }),
    // BM25 retrieval: fixed-point per-term contributions (floored
    // 1e-6 ticks sum exactly in any order) over the inverted index
    "q_bm25_topk" -> ((s, d) => {
      import s.implicits._
      val queries = Seq(
        (1, "spark query data"), (2, "window agg sort"),
        (3, "customer table join"), (4, "fast stream merge"))
        .toDF("query_id", "query_text")
      Corpus.bm25TopK(T(s, d, "documents"), queries, k = 10)
    }),
    // span-level exact-substring dedup (the Lee et al. 2022 signal):
    // every duplicated 8-token window, unioned per doc into covered-
    // token counts — count-over-partition(window hash), no self-join
    "q_dedup_substring" -> ((s, d) =>
      Dedup.duplicatedSpanProfile(T(s, d, "documents"), k = 8)),
    // unigram-LM quality filter (CCNet fit-then-transform shape):
    // corpus token counts → per-doc mean token probability + hapax
    // rate, exact-rational so both engines hash-match
    "q_lm_score" -> ((s, d) => Corpus.lmScore(T(s, d, "documents"))),
    // bigram LM with stupid backoff (Brants et al.): fit on the
    // even-id slice (the "curated target"), score every doc — unseen
    // bigrams fall back to 0.4 × unigram frequency, so the backoff
    // path genuinely fires on the odd-id docs
    "q_bigram_lm_score" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Corpus.bigramLmScore(docs.where(col("doc_id") % 2 === 0), docs)
    }),
    // interpolated Kneser-Ney trigram LM (D = 3/4 exact): fit the
    // trigram-type table on the even-id slice, score every doc —
    // unseen contexts interpolate down through continuation-count
    // orders, so every backoff path fires on the odd-id docs
    "q_trigram_lm_score" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Corpus.trigramLmScore(docs.where(col("doc_id") % 2 === 0), docs)
    }),
    // CCNet buckets over the trigram KN scorer (CCNet proper buckets
    // on an n-gram LM perplexity): same fit slice, per-language
    // tercile boundaries as exact order statistics, scan-stage
    // bucket assignment — the scorer upgrade composed into the
    // bucketing machinery rather than a parallel implementation
    "q_ccnet_buckets_trigram" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Corpus.perplexityBucketsTrigram(
        docs.where(col("doc_id") % 2 === 0), docs)
    }),
    // deterministic training-export sharding: md5 shard assignment +
    // in-shard content-hash rank (the no-rand() global shuffle)
    "q_export_shards" -> ((s, d) =>
      Sampling.exportShards(
        T(s, d, "documents").select("doc_id"), "doc_id", nShards = 8)),
    // the dataloader-facing shard manifest: per shard, row count,
    // token total, dense-rank integrity and an order-free hex-sum id
    // checksum — all engine-replayable arithmetic
    "q_export_manifest" -> ((s, d) =>
      Sampling.exportManifest(
        T(s, d, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        "doc_id", nShards = 8, nTokensCol = Some("n_tokens"))),
    // token-budget mixture sampling: per source keep the hash-order
    // prefix of docs whose running token total starts under budget
    // (training mixes are token splits, not doc splits)
    "q_token_budget_mix" -> ((s, d) =>
      Sampling.tokenBudgetSample(
        T(s, d, "documents").select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        "source", "doc_id", "n_tokens", budget = 800L, nBuckets = 16)),
    // quality classifier (GPT-3 filter shape): fit NB-style class
    // odds on curated-vs-rest, score every doc in fixed-point ticks
    "q_quality_classifier" -> ((s, d) =>
      Corpus.qualityClassifier(T(s, d, "documents"),
        col("source").isin("src0", "src1", "src2", "src3"))),
    // FIM transform (code-model infilling data prep): a deterministic
    // half of the docs rewritten to <PRE>/<SUF>/<MID> sentinel order,
    // split points md5-drawn over the char length — scan-stage, zero
    // shuffles, every byte hash-checked by the substring replay
    // SFT chat-template rendering: prompt = first 3 tokens,
    // response = the rest; the rendered row carries the exact
    // character span of the response (the masked-loss contract) —
    // both hash-checked against the same assembly arithmetic
    "q_sft_format" -> ((s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val pairs = T(s, d, "documents").select(col("doc_id"),
        array_join(slice(toks, 1, 3), " ").as("prompt"),
        array_join(slice(toks, lit(4), greatest(size(toks) - 3, lit(0))),
          " ").as("response"))
      Corpus.sftRender(pairs, "You are a helpful assistant.")
    }),
    // T5 span corruption (the FIM sibling): two md5-placed disjoint
    // spans → <extra_id_k> sentinels, target in the T5 grammar; one
    // codegen'd projection, zero shuffles
    "q_span_corrupt" -> ((s, d) =>
      Corpus.spanCorrupt(T(s, d, "documents"))),
    "q_fim_transform" -> ((s, d) =>
      Corpus.fimTransform(T(s, d, "documents"), rate = 0.5)),
    // DSIR importance weights: hashed-bigram likelihood ratio vs the
    // target slice, deterministic top-N selection
    "q_dsir_weights" -> ((s, d) =>
      Corpus.dsirWeights(T(s, d, "documents"),
        col("lang") === "en", selectN = 200L, nBuckets = 256)),
    // CCNet bucketing: unigram-LM fit → per-language head/middle/
    // tail terciles (the standard crawl partition)
    "q_ccnet_buckets" -> ((s, d) =>
      Corpus.perplexityBuckets(T(s, d, "documents"))),
    // CCNet bucketing, 100 TB form: exact per-language tercile
    // BOUNDARY scores via quantile-narrowed order statistics (no
    // per-language sort task), bucket assignment as a scan-stage
    // comparison; boundary-score ties all take the higher bucket
    "q_ccnet_buckets_boundary" -> ((s, d) =>
      Corpus.perplexityBucketsByBoundary(T(s, d, "documents"))),
    // crawl-prepare facade capstone: URL dedup → normalized-exact
    // dedup → line boilerplate removal → Gopher gate on the
    // REWRITTEN text, over the same synthesized URL variants and
    // pseudo-lines as q_dedup_url / q_dedup_lines — every stage
    // individually oracle-green, here chained and replayed end-to-end
    "q_crawl_prepare" -> ((s, d) =>
      CorpusPipeline.crawlPrepare(
        linedDocuments(s, d)
          .select(col("doc_id"), synthUrl.as("url"), col("text")),
        minTokens = 20)),
    // UT1-style domain blocklist (the RefinedWeb/CCNet stage-0 URL
    // filter): a blocked domain bans itself + every subdomain;
    // blocked_by = the most specific matching entry. The fixture
    // exercises suffix vs substring ("nottracker.net" survives),
    // specificity ("shop.example.com" beats "example.com"),
    // userinfo/port stripping, and unparseable-URL passthrough
    "q_blocklist_filter" -> ((s, d) => {
      import s.implicits._
      val blocklist = Seq("tracker.net", "example.com",
        "shop.example.com").toDF("domain")
      CorpusPipeline.blocklistFilter(
        T(s, d, "documents").select(col("doc_id"),
          synthBlockUrl.as("url")),
        blocklist)
        .select("doc_id", "host", "blocked_by", "keep")
    }),
    // HTML main-text extraction (the trafilatura stage between the
    // URL gate and line dedup): wrap each doc's text in a noisy HTML
    // shell — script/style/comment blocks, block tags, the six
    // entities — and extract; the whole chain is RE2-portable
    // regexp/replace steps, so DuckDB replays it byte-for-byte
    "q_html_extract" -> ((s, d) =>
      T(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.htmlExtract(htmlShell(col("text"))).as("extracted"))
        .withColumn("n_chars_out",
          length(col("extracted")).cast("long"))),
    // block-scored main-content extraction (the jusText rung): each
    // doc wrapped in nav/heading/link-farm/copyright boilerplate plus
    // its content paragraph; the scorer must keep exactly the content
    // (when it is stopword-fluent) and drop the rest — every score
    // and verdict replayed relationally in the oracle
    "q_html_extract_blocks" -> ((s, d) =>
      Boilerplate.htmlExtractBlocks(
        T(s, d, "documents").select(col("doc_id"),
          concat(lit(blockShellPre), col("text"),
            lit(blockShellPost)).as("html")))
        .withColumn("n_chars_out", length(col("extracted")).cast("long"))),
    // the COMPLETE crawl front (RefinedWeb §3 order): blocklist on
    // URLs only (1 in 7 docs lands on a blocked domain) → HTML
    // main-text extraction (the shared shell's header/footer become
    // corpus-wide boilerplate lines) → URL dedup → normalized dedup
    // → line dedup (which removes said boilerplate from every doc)
    // → Gopher gate. One facade call; the oracle replays all six
    // stages as a single CTE chain
    "q_crawl_prepare_full" -> ((s, d) => {
      import s.implicits._
      val blockedUrl = concat(lit("https://ads.tracker.net/item-"),
        col("doc_id"))
      CorpusPipeline.crawlPrepareFull(
        linedDocuments(s, d).select(col("doc_id"),
          when(col("doc_id") % 7 === 0, blockedUrl)
            .otherwise(synthUrl).as("url"),
          htmlShell(col("text")).as("html")),
        Seq("tracker.net").toDF("domain"),
        minTokens = 20)
    }),
    // the crawl front with the BLOCK-SCORED extraction stage opted
    // in (blockScored=true): every pseudo-line rides its own <p>
    // block through the jusText scorer — per-doc boilerplate
    // (nav/link-farm/copyright) dies on block evidence BEFORE the
    // corpus-wide line-dedup stage; the oracle is the L15 chain with
    // the extraction CTEs swapped for the block-scoring replay
    "q_crawl_prepare_blocks" -> ((s, d) => {
      import s.implicits._
      val blockedUrl = concat(lit("https://ads.tracker.net/item-"),
        col("doc_id"))
      val body = concat_ws("", transform(split(col("text"), "\n"),
        l => concat(lit("<p>"), l, lit("</p>"))))
      CorpusPipeline.crawlPrepareFull(
        linedDocuments(s, d).select(col("doc_id"),
          when(col("doc_id") % 7 === 0, blockedUrl)
            .otherwise(synthUrl).as("url"),
          concat(lit(crawlBlocksPre), body,
            lit(crawlBlocksPost)).as("html")),
        Seq("tracker.net").toDF("domain"),
        minTokens = 20, blockScored = true)
    }),
    // LANDING ZONE to gated corpus: two WARC waves drain through the
    // exactly-once ingest trigger (wave 1 ingested directly; the
    // facade's own trigger picks up ONLY wave 2), then the six-stage
    // crawl front runs over the cumulative record table — the
    // production loop end to end. The url fixture keeps the blocked
    // domain (1 in 7) but uses doc_id-recoverable URIs; the oracle
    // is the L15 CTE chain with only the url-synthesis CTE swapped
    "q_warc_to_corpus" -> ((s, d) => {
      import s.implicits._
      val base = roundtripDir("warc_corpus")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val src = linedDocuments(s, d).select(
        col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("https://ads.tracker.net/item-"), col("doc_id")))
          .otherwise(concat(lit("https://corpus.example/doc/"),
            col("doc_id"))).as("uri"),
        lit("2026-01-01T00:00:00Z").as("date"),
        htmlShell(col("text")).cast("binary").as("payload"))
      sources.Warc.write(src.where(col("doc_id") % 2 === 0)
        .drop("doc_id").repartition(2), s"$base/landing/w1")
      streaming.WarcIngest.ingestOnce(s, s"$base/landing", s"$base/ingest")
      sources.Warc.write(src.where(col("doc_id") % 2 === 1)
        .drop("doc_id").repartition(2), s"$base/landing/w2")
      CorpusPipeline.warcToCorpus(s, s"$base/landing", s"$base/ingest",
        Seq("tracker.net").toDF("domain"),
        docId = uri => regexp_extract(uri, "([0-9]+)$", 1).cast("long"),
        minTokens = 20)
    }),
    // WET leg: conversion-type records carry PRE-EXTRACTED text (the
    // Common Crawl WET shape most LLM pipelines actually consume) —
    // same ingest loop, the extraction stage skipped; oracle = the
    // L15 chain with the extraction CTEs collapsed to identity
    "q_wet_to_corpus" -> ((s, d) => {
      import s.implicits._
      val base = roundtripDir("wet_corpus")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val src = linedDocuments(s, d).select(
        col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("https://ads.tracker.net/item-"), col("doc_id")))
          .otherwise(concat(lit("https://corpus.example/doc/"),
            col("doc_id"))).as("uri"),
        lit("2026-01-01T00:00:00Z").as("date"),
        col("text").cast("binary").as("payload"))
      sources.Warc.write(src.drop("doc_id").repartition(2),
        s"$base/landing/w1", warcType = "conversion")
      CorpusPipeline.warcToCorpus(s, s"$base/landing", s"$base/ingest",
        Seq("tracker.net").toDF("domain"),
        docId = uri => regexp_extract(uri, "([0-9]+)$", 1).cast("long"),
        minTokens = 20, recordType = "conversion")
    }),
    // the crawl front + the CCNet scoring tail: the six gate stages,
    // then language-ID and per-language perplexity terciles on the
    // kept (rewritten) text — langid and the LM fit both run on
    // exactly what survived the gate, the production order. Buckets
    // via the boundary form (no per-language sort task); the oracle
    // replays the whole chain plus the boundary tie contract
    "q_crawl_prepare_scored" -> ((s, d) => {
      import s.implicits._
      val blockedUrl = concat(lit("https://ads.tracker.net/item-"),
        col("doc_id"))
      CorpusPipeline.crawlPrepareScored(
        linedDocuments(s, d).select(col("doc_id"),
          when(col("doc_id") % 7 === 0, blockedUrl)
            .otherwise(synthUrl).as("url"),
          htmlShell(col("text")).as("html")),
        Seq("tracker.net").toDF("domain"),
        minTokens = 20)
    }),
    // L16 with the H29 MODEL language ID (bootstrapped on the marker
    // heuristic — crawl text has no labels): same crawl front, the
    // char-bigram model fits on marker-labeled kept text, re-predicts
    // every doc (marker fallback), terciles bucket on the model's
    // predictions. The oracle shares ONE builder with
    // q_crawl_prepare_scored plus the H29 fit/argmax CTEs.
    "q_crawl_prepare_model" -> ((s, d) => {
      import s.implicits._
      val blockedUrl = concat(lit("https://ads.tracker.net/item-"),
        col("doc_id"))
      CorpusPipeline.crawlPrepareScored(
        linedDocuments(s, d).select(col("doc_id"),
          when(col("doc_id") % 7 === 0, blockedUrl)
            .otherwise(synthUrl).as("url"),
          htmlShell(col("text")).as("html")),
        Seq("tracker.net").toDF("domain"),
        minTokens = 20, modelLangId = true)
    }),
    // BPE tokenizer fitting, round-1 statistics: the weighted
    // adjacent symbol-pair counts over the distinct-word vocabulary
    // (the aggregation every trainMerges round repeats), top-20
    // deterministic (cnt desc, a, b). The iterative trainer itself
    // is BpeSpec-verified against the sequential reference.
    "q_bpe_pair_counts" -> ((s, d) => {
      val words = Bpe.wordFreqs(T(s, d, "documents"))
        .select(Bpe.charSymbols(col("word")).as("symbols"), col("freq"))
      Bpe.pairCounts(words)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cnt").desc, col("a"), col("b"))))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("a"), col("b"), col("cnt"))
    }),
    // the BYTE-LEVEL trainer's round statistics (the aggregation
    // every byteLevel=true merge round repeats): weighted adjacent
    // REMAPPED-BYTE pair counts over the distinct-word vocabulary,
    // with the non-ASCII suffixes so cross-UTF-8-boundary pairs are
    // in the table — the FULL pair table (no top-k), every count
    // hash-checked against the hex-remap replay
    "q_bpe_pair_counts_bytes" -> ((s, d) => {
      val suffixed = T(s, d, "documents").select(
        concat(col("text"), element_at(
          array(byteSuffixes.map(lit): _*),
          (col("doc_id") % 4 + 1).cast("int"))).as("text"))
      val words = Bpe.wordFreqs(suffixed)
        .select(Bpe.byteSymbols(col("word")).as("symbols"), col("freq"))
      Bpe.pairCounts(words)
        .select(col("a"), col("b"), col("cnt"))
    }),
    // BPE production ENCODE: greedy longest-match (maximal munch)
    // against a fixed literal vocab — the LongestMatchEncode trie
    // expression; output = corpus subword-token frequencies. The
    // oracle replays the greedy scan with a recursive CTE over the
    // same vocab literal, so every split decision is hash-checked.
    "q_bpe_encode" -> ((s, d) =>
      T(s, d, "documents")
        .select(explode(
          Bpe.encodeLongestMatch(col("text"), bpeEncodeVocab)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))),
    // BYTE-LEVEL BPE encode (GPT-2 apply): UTF-8 bytes → display
    // remap → greedy longest-match against a remapped-space vocab;
    // docs get non-ASCII suffixes (doc_id % 4) so multi-byte vocab
    // hits AND the single-BYTE fallback (語 → 3 byte tokens) are both
    // exercised. The oracle rebuilds the remap from hex(encode(word))
    // via the 256-entry chr() table and replays the same cursor, so
    // every byte-level split decision is hash-checked.
    "q_bpe_encode_bytes" -> ((s, d) =>
      T(s, d, "documents")
        .select(explode(Bpe.encodeBytesLongestMatch(
          concat(col("text"), element_at(
            array(byteSuffixes.map(lit): _*),
            (col("doc_id") % 4 + 1).cast("int"))),
          bpeByteVocab)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))),
    // lossless byte-level tokenize → ids → DETOKENIZE roundtrip (the
    // dataloader contract byte-level mode exists for): whole-text
    // GPT-2 encode (whitespace bytes remap and merge like any other),
    // TOTAL id space (256 base bytes + merge products — no OOV
    // sentinel anywhere), decode = id → token → concat → unremap.
    // The oracle is the IDENTITY (the q_warc_roundtrip precedent):
    // the restored text hash-matches documents.text iff every split,
    // id and decode decision is lossless on every doc.
    "q_tokenize_roundtrip_bytes" -> ((s, d) => {
      val idVocab = Bpe.byteIdVocab(bpeByteVocab)
      T(s, d, "documents").select(col("doc_id"),
        Bpe.decodeBytes(
          Bpe.tokenIdsTotal(
            Bpe.encodeBytesFullText(col("text"), bpeByteVocab), idVocab),
          idVocab).as("text"))
    }),
    // WordPiece (BERT) production encode: greedy longest match under
    // the position-split vocabulary (word-initial vs ##-continuation
    // entries are distinct citizens), whole-word [UNK] on any
    // mid-word failure or >12-char words. The oracle replays the
    // cursor with a (body, cont) vocab table — a NULL match means
    // [UNK]-and-jump instead of BPE's single-char fallback, so both
    // defining WordPiece semantics are hash-checked per decision.
    "q_wordpiece_encode" -> ((s, d) =>
      T(s, d, "documents")
        .select(explode(Bpe.encodeWordPiece(col("text"),
          wordPieceVocabFixed, maxWordChars = 12)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))),
    // WordPiece round-1 TRAINING statistics: the scored pair table
    // the likelihood argmax score(a,b) = cnt_pair/(cnt_a·cnt_b)
    // reads — pair counts plus both symbol marginals, all exact
    // longs (the division happens at the driver argmax; the
    // distributed round ships only integers). Full table.
    "q_wordpiece_pair_scores" -> ((s, d) =>
      Bpe.wordPiecePairScores(
        Bpe.wordFreqs(T(s, d, "documents"))
          .select(Bpe.wordPieceSymbols(col("word")).as("symbols"),
            col("freq")))),
    // tokenizer FERTILITY stats (the standard tokenizer-evaluation
    // table): per language, words / subwords / chars and
    // subwords-per-word through the real longest-match encoder —
    // exact integer sums, ONE IEEE division for the ratio
    "q_encode_stats" -> ((s, d) =>
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
            count(lit(1)).cast("double")).as("fertility"))),
    // unigram tokenizer SEED vocabulary (Kudo 2018): every substring
    // (length 1..4) of every word occurrence, frequency-weighted,
    // top-200 by (total desc, piece asc) — selection through
    // OrderStats.selectTopN, bit-identical to the row_number
    // definition with no global sort
    "q_unigram_seed" -> ((s, d) =>
      Unigram.seedVocab(T(s, d, "documents"), maxPieceLen = 4,
        topK = 200L)),
    // the hard-EM unigram TRAINER end-to-end at driver scale (seed →
    // 2 EM rounds → pruned model). Rows-only by construction: the
    // M-step weights are StrictMath-log ticks — deterministic across
    // JVMs but not SQL-replayable (libm log differs per engine); the
    // sequential bit-replay lives in UnigramSpec
    "q_unigram_train" -> ((s, d) =>
      Unigram.trainViterbiEm(T(s, d, "documents"), vocabSize = 64,
        maxPieceLen = 3, seedSize = 256L, rounds = 2)),
    // unigram Viterbi DECODE under a fixed literal tick-weight model:
    // max-score segmentation (exact integer DP, ties → smallest
    // start) — the oracle replays the forward DP + backtrack as two
    // recursive CTEs, so every split decision is hash-checked
    "q_unigram_segment" -> ((s, d) =>
      T(s, d, "documents")
        .select(explode(Unigram.segment(
          col("text"), unigramSegModel, unigramOov)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))),
    // line-level boilerplate dedup (C4/RefinedWeb): lines appearing
    // in >= 2 distinct docs are removed, docs reassembled in order.
    // The corpus has no newlines, so pseudo-lines (10-token
    // segments) are synthesized deterministically first — both
    // engines replay the same segmentation.
    "q_dedup_lines" -> ((s, d) =>
      Dedup.dedupLines(linedDocuments(s, d), minDf = 2)),
    // exact-substring dedup transform (Lee et al. ExactSubstr): every
    // duplicated 8-token window's globally-first occurrence is kept
    // with its tokens PROTECTED; other occurrences' tokens are cut
    // unless protected (keep-one survives overlap), docs reassembled
    "q_dedup_substring_cut" -> ((s, d) =>
      Dedup.cutDuplicatedSpans(T(s, d, "documents"), k = 8)),
    // intra-doc line dedup: keep each distinct pseudo-line's FIRST
    // occurrence within a doc (no corpus-wide state — the within-doc
    // counterpart of q_dedup_lines)
    "q_dedup_lines_within" -> ((s, d) =>
      Dedup.dedupLinesWithin(linedDocuments(s, d))),
    // winnowing fingerprints (MOSS): per doc, the rightmost-tie
    // window minima over k-gram hashes — the position-aware bounded
    // sketch whose guarantee (shared run >= w+k-1 => shared
    // fingerprint) the spec property-tests
    "q_winnow_fingerprints" -> ((s, d) =>
      Dedup.winnowFingerprints(T(s, d, "documents"), k = 4, w = 5)),
    // ROBUST winnowing (Schleimer Fig. 5 tie rule) — rows-only BY
    // CONSTRUCTION: window i's selection depends on window i-1's (a
    // per-doc sequential fold, no stateless SQL form); the basic
    // form's oracle hash-checks the shared shingle/hash/min
    // machinery, and the spec bit-replays this rule against the
    // paper's sequential algorithm
    "q_winnow_robust" -> ((s, d) =>
      Dedup.winnowFingerprintsRobust(T(s, d, "documents"), k = 4, w = 5)),
    // winnowing copy-detection pairs: shared-fingerprint counts per
    // doc pair after the stop-fingerprint df cap
    "q_winnow_pairs" -> ((s, d) =>
      Dedup.winnowPairs(T(s, d, "documents"), k = 4, w = 5, maxDf = 10)),
    // bloom-prefiltered semi join: result identical to the exact
    // semi join (the oracle), but the probe side is cut by the
    // build side's bloom sketch BEFORE the join shuffle
    "q_bloom_join" -> ((s, d) =>
      Joins.bloomSemiJoin(
          T(s, d, "lineitem"),
          T(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          Seq("l_orderkey" -> "o_orderkey"), expectedItems = 100000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))),
    // URL-level dedup: canonicalize (case/www/port/tracking/fragment/
    // trailing slash, sorted params) and keep min id per canonical.
    // URLs are synthesized in four variant classes per 4-doc group;
    // the three https variants merge, the http one stays distinct.
    "q_dedup_url" -> ((s, d) =>
      Dedup.urlDedup(T(s, d, "documents")
        .select(col("doc_id"), synthUrl.as("url")))),
    // SemDeDup: cluster-scoped semantic dedup — nearest-seed cell
    // assignment (seeds = the 8 lowest vec_ids, a bounded collect of
    // model state), within-cell cosine pairs, keep = no smaller-id
    // near-dup neighbor in the cell
    "q_semdedup" -> ((s, d) => {
      val embs = T(s, d, "embeddings")
      val centroids = embs.filter(col("vec_id") < 8).orderBy("vec_id")
        .select(transform(col("embedding"), x => x.cast("double")))
        .collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
      Dedup.semDeDup(embs, centroids, 0.35)
    }),
    // hamming-banded near-dup pairs over codes BOTH engines derive
    // identically (md5 hex-char parity bits — the production
    // simhash's xxhash64 mixing is not SQL-expressible; that path is
    // simhashPairs/simhashProfile, spec-tested): each bucket of 10
    // docs shares a 62-bit base code and each member flips one
    // distinct low bit, so within-bucket pairs sit at hamming 2 and
    // cross-bucket pairs at ~31 — the banded join (4×16-bit slices,
    // pigeonhole-exact for hamming ≤ 3) must recover exactly the
    // within-bucket pairs, which the oracle re-derives all-pairs.
    "q_dedup_simhash" -> ((s, d) => {
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
    }),
    // directed containment (|A∩B|/|A| ≥ τ): the subsumed-copy case
    // symmetric jaccard misses; asymmetric prefix-filtered index
    "q_dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(T(s, d, "documents"), Seq("source"), 0.9)),
    // the deliverable of the dedup family: the corpus that SURVIVES —
    // one representative (min id) per near-dup cluster
    "q_dedup_keep" -> ((s, d) =>
      Dedup.deduplicate(T(s, d, "documents"), method = "jaccard",
          threshold = 0.9, blockingKeys = Seq("source"))
        .select("doc_id", "lang", "source")),
    "q_dedup_embed_cos" -> ((s, d) =>
      Dedup.embeddingCosinePairs(T(s, d, "embeddings"), 0.35)),
    // the SEMANTIC dedup deliverable: embedding near-dup pairs →
    // connected components → one cluster representative per vector
    // (the embedding-side twin of q_dedup_cluster/q_dedup_keep)
    "q_dedup_semantic" -> ((s, d) => {
      val embs = T(s, d, "embeddings")
      Graph.connectedComponents(
          embs.select(col("vec_id")),
          Dedup.embeddingCosinePairs(embs, 0.35).select("a_id", "b_id"))
        .select(col("id").as("vec_id"), col("comp").as("cluster_rep"))
    }),
    // ---- G. similarity search -------------------------------------------
    "q_ann_brute_topk" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 5)
    }),
    // 4-bit × 8-table operating point: this corpus's true neighbours
    // sit at cos ≈ 0.3 (near-random), where 6-bit codes collide too
    // rarely — recall math in Similarity.lshTopK scaladoc. Runs the
    // REAL lshTopK pipeline with the md5 hyperplane family
    // (plan-identical to the murmur default — weights are plan-time
    // constants either way) so DuckDB re-derives the hyperplanes and
    // replays codes → candidate join → cosine → top-k exactly.
    // Promoted rows-only -> oracle-green r9.
    "q_ann_lsh" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), 5, dim = 64,
        nBits = 4, weight = VectorFunctions.md5Weight)
    }),
    // the REAL IVF train+search pipeline with an md5 seed hash so
    // DuckDB can replay training end-to-end: hash-ordered seed pick,
    // two Lloyd rounds (ordered-fold squared-L2 argmin + exact
    // decimal(28,9) means — double->decimal can never hit a rounding
    // tie, so the centroids are bit-identical across engines), then
    // inverted-file search, cosine, top-k. xxhash64 stays the
    // production seed default. Promoted rows-only -> oracle-green r9.
    "q_ann_ivf" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      // tick means (floor(v·10⁶) longs) in BOTH engines: the former
      // decimal-cast mean rounds at an engine-specific point (the
      // divergence PQ actually hit at sf0.1 — SURVEY §6 r12)
      Ivf.ivfTopK(emb, emb.filter(col("vec_id") < 8), 5,
        nCells = 8, nProbe = 3,
        seedHash = c => conv(substring(md5(c.cast("string")), 1, 15),
          16, 10).cast("long"),
        tickScale = Some(1000000L))
    }),
    // k-means cluster profile: the SAME md5-seeded tick-mean Lloyd
    // fit as q_ann_ivf, read as topic clusters — per cell size,
    // majority label, exact-ppm purity (oracle derived from the
    // q_ann_ivf training replay so the fits cannot drift)
    "q_kmeans_profile" -> ((s, d) =>
      Ivf.clusterProfile(T(s, d, "embeddings"), nCells = 8,
        lloydIters = 2,
        seedHash = c => conv(substring(md5(c.cast("string")), 1, 15),
          16, 10).cast("long"),
        tickScale = Some(1000000L))),
    // PQ-ADC search (the FAISS memory-compression path): m=4
    // per-subspace codebooks trained with the replayable md5 seed of
    // q_ann_ivf + fixed-point tick Lloyd means; routing = label (the
    // coarse cell a production IVF-PQ derives via Ivf.nearestCell);
    // scoring = the fixed-order ADC sum over the 4 codes — the
    // oracle replays training, encoding, and scoring bit-exactly
    "q_ann_pq" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val cb = Pq.trainCodebooks(emb, m = 4, k = 8, lloydIters = 1,
        seedHash = c => conv(substring(md5(c.cast("string")), 1, 15),
          16, 10).cast("long"))
      Pq.pqTopK(emb, emb.filter(col("vec_id") < 4), 5, cb, "label")
    }),
    // PQ + exact re-rank (the FAISS IndexRefineFlat composition):
    // the q_ann_pq ADC chain fetched wide (kAdc = 10 = 2×k), then
    // the true vectors of just the shortlist re-scored with the
    // brute-force cosine tree and cut to top-5
    "q_ann_pq_refine" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val cb = Pq.trainCodebooks(emb, m = 4, k = 8, lloydIters = 1,
        seedHash = c => conv(substring(md5(c.cast("string")), 1, 15),
          16, 10).cast("long"))
      val probes = emb.filter(col("vec_id") < 4)
      Pq.refineTopK(Pq.pqTopK(emb, probes, 10, cb, "label"),
        emb, probes, 5)
    }),
    // range-sorted layout + pruned read: write events sorted by ts
    // (narrow per-row-group min/max bands), read back through a
    // one-day ts filter — the scan skips row groups via footer
    // stats (bytes-read win measured in LayoutSpec); result must
    // equal the same filter+agg on the raw table
    "q_layout_prune" -> ((s, d) => {
      val out = roundtripDir("layout_sorted")
      graft.sinks.ParquetSink.writeRangeSorted(
        T(s, d, "events"), out, Seq("ts"), nFiles = 8)
      s.read.parquet(out)
        .filter(col("ts") >= to_timestamp(lit("2024-01-15 00:00:00")) &&
          col("ts") < to_timestamp(lit("2024-01-16 00:00:00")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          min("value").as("min_value"), max("value").as("max_value"))
    }),
    // hard-negative mining (contrastive-training negatives): per
    // probe the top-5 most-similar vectors with a DIFFERENT label —
    // the similar-but-wrong band the loss needs
    "q_hard_negatives" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 8), 5)
    }),
    // ANN quality harness: recall@5 of the LSH and IVF indexes vs
    // the brute-force exact result, per probe (approximate indexes →
    // rows-only; the recall VALUE is the deliverable)
    "q_ann_recall" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(emb, probes, 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      exact.count()
      val lsh = Similarity.recallAtK(
          Similarity.lshTopK(emb, probes, 5, dim = 64, nBits = 4), exact, 5)
        .withColumn("index", lit("lsh"))
      val ivf = Similarity.recallAtK(
          Ivf.ivfTopK(emb, probes, 5, nCells = 8, nProbe = 3), exact, 5)
        .withColumn("index", lit("ivf"))
      // the refine lift, measured: ADC top-5 vs the same 10-wide
      // shortlist exact-rescored to 5. The baseline is the exact
      // top-5 WITHIN the label-routed candidate universe (refineTopK
      // over all same-label pairs IS brute force on that universe —
      // spec-pinned), so the pq rows isolate QUANTIZATION loss (what
      // refine recovers) from routing loss (what no re-rank can);
      // the lsh/ivf rows keep the global-exact baseline
      // r18: the mechanism-sized (m=4, k=8) and published (m=16,
      // k=16) codebooks train over the SAME corpus — the joint
      // trainer shares one hash-ordered seed job and one Lloyd job
      // between them (bit-identical to two solo calls, PqSpec-pinned)
      // instead of paying two full passes per stage.
      val Seq(cb, cbOp) = Pq.trainCodebooksJoint(emb, Seq(
        Pq.CodebookSpec(m = 4, k = 8), Pq.CodebookSpec(m = 16, k = 16)),
        lloydIters = 1)
      val short10 = Pq.pqTopK(emb, probes, 10, cb, "label")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      short10.count()
      val labelPairs = emb
        .select(col("label"), col("vec_id").as("neighbor_id"))
        .join(probes.select(col("label"), col("vec_id").as("probe_id")),
          Seq("label"))
        .filter(col("probe_id") =!= col("neighbor_id"))
      // r17: ONE exact-in-universe baseline at k=10 serves both the
      // k=5 mechanism legs and the k=10 operating-point legs — the
      // k=5 baseline is its rank<=5 prefix (BoundedTopK keeps its
      // best-k sorted with the same tie-break at any k, and recallAtK
      // filters rank <= k itself), so the former separate
      // refineTopK(labelPairs, k=5) pass + persist computed the same
      // rows twice.
      val exactPq10 = Pq.refineTopK(labelPairs, emb, probes, 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      exactPq10.count()
      val pqAdc = Similarity.recallAtK(short10, exactPq10, 5)
        .withColumn("index", lit("pq_adc"))
      val pqRefine = Similarity.recallAtK(
          Pq.refineTopK(short10, emb, probes, 5), exactPq10, 5)
        .withColumn("index", lit("pq_refine"))
      // the PUBLISHED operating point (the r16 recall grid's pick,
      // BASELINE.md): m = dim/4 subspaces × 16 codewords, kAdc = 5×k
      // shortlist, exact refine — measured 0.91 recall@10 at sf0.1
      // vs 0.10 for the starved m=4/k=8/kAdc=2×k mechanism setting;
      // the grid's three levers in BASELINE.md's table
      val shortOp = Pq.pqTopK(emb, probes, 50, cbOp, "label")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      shortOp.count()
      val pqAdcOp = Similarity.recallAtK(shortOp, exactPq10, 10)
        .withColumn("index", lit("pq_adc_op"))
      val pqRefineOp = Similarity.recallAtK(
          Pq.refineTopK(shortOp, emb, probes, 10), exactPq10, 10)
        .withColumn("index", lit("pq_refine_op"))
      // RESIDUAL IVF-PQ (r17, the FAISS composition proper): the res
      // twin's codes quantize within-cell residuals, the raw twin
      // quantizes raw vectors at IDENTICAL routing and codebook
      // budget (m=16, k=16) — their gap is the residual ADC lift.
      // The sf embeddings are near-uniform within a label (no coarse
      // cluster structure — the r16 saturation finding), so residuals
      // ≈ raw there (measured: both 0.25, zero lift — the documented
      // property, not a bug); the lift surface needs coarse
      // structure, so it is IMPOSED deterministically in-universe:
      // ±60.0 on EVERY dimension, sign = hash(label, dim) — all 16
      // subspaces then carry 10 label positions at 60× the fine
      // scale, which is exactly the geometry where a raw codebook
      // burns its codewords re-describing positions. Coarse model =
      // the 10 per-label means (the model is an input contract, as
      // in FAISS — a hash-seeded 8-cell Lloyd on 10 tight clusters
      // merges/splits cells and muddies what is being measured).
      // persisted (r17): seven consumers below (coarse means, probes,
      // exact baseline, two codebook trainings, two searches) each
      // replayed the parquet scan + 64 hash evals/row otherwise
      val shifted = emb.select(col("vec_id"), col("label"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") +
            (pmod(xxhash64(col("label") * 64 + i), lit(2))
              .cast("double") * 2.0 - 1.0) * 60.0).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val coarse = shifted
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c"))
        .orderBy("label").collect()
        .map(r => r.getSeq[Double](1).toIndexedSeq).toIndexedSeq
      val probesS = shifted.filter(col("vec_id") < 8)
      val exactS = Similarity.bruteForceTopK(shifted, probesS, 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      exactS.count()
      // r18: raw and residual twins share routing, budget AND corpus
      // (the cached shifted universe) — joint-trained in one seed +
      // one Lloyd pass, same bit-for-bit books as the two solo calls
      val Seq(cbRawS, cbResS) = Pq.trainCodebooksJoint(shifted, Seq(
        Pq.CodebookSpec(m = 16, k = 16),
        Pq.CodebookSpec(m = 16, k = 16, coarse = Some(coarse))),
        lloydIters = 1)
      val ivfpqAdc = Similarity.recallAtK(
          Pq.ivfPqTopK(shifted, probesS, 10, coarse, cbRawS, nProbe = 1),
          exactS, 10)
        .withColumn("index", lit("ivfpq_adc_op"))
      val ivfpqResAdc = Similarity.recallAtK(
          Pq.ivfPqTopK(shifted, probesS, 10, coarse, cbResS, nProbe = 1,
            residual = true),
          exactS, 10)
        .withColumn("index", lit("ivfpq_res_adc_op"))
      operators.CacheOps.materializeAndRelease(
        lsh.unionByName(ivf).unionByName(pqAdc).unionByName(pqRefine)
          .unionByName(pqAdcOp).unionByName(pqRefineOp)
          .unionByName(ivfpqAdc).unionByName(ivfpqResAdc)
          .select("index", "probe_id", "n_exact", "n_hit", "recall"),
        exact, short10, exactPq10, shortOp, exactS, shifted)
    }),
    "q_vec_norms" -> ((s, d) =>
      T(s, d, "embeddings").select(col("vec_id"), col("label"),
        VectorFunctions.norm(col("embedding")).as("l2"),
        VectorFunctions.normSq(col("embedding")).as("sq"))),
    // ---- H. text analysis -----------------------------------------------
    "q_tokcount" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_ws"),
        TextFunctions.bpeishCount(col("text")).cast("long").as("n_bpe"))),
    "q_quality_score" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.dupTokenRatio(col("text")).as("dup_tok_ratio"))),
    "q_langid" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("lang_pred"))),
    // char-diversity gibberish signal: fixed-alphabet histogram via
    // the length-of-removal trick, Rényi-2 collision ppm in pure
    // long arithmetic — scan-fused, zero shuffle
    "q_char_diversity" -> ((s, d) =>
      T(s, d, "documents")
        .withColumn("__cd", TextFunctions.charDiversity(col("text")))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          col("__cd.n_alpha").as("n_alpha"),
          col("__cd.n_distinct_alpha").as("n_distinct_alpha"),
          col("__cd.collision_ppm").as("collision_ppm"),
          (col("__cd.collision_ppm") > 100000L).as("repetitive"))),
    // MODEL-based language ID (the production upgrade of q_langid's
    // marker heuristic): char-bigram naive-Bayes-style scorer fit on
    // the corpus's own labels, md5-hashed buckets, tick likelihood
    // ratios, per-doc argmax — the oracle replays fit + densify +
    // probe + argmax CTE-for-CTE, so every tick and every tie is
    // hash-checked
    "q_langid_model" -> ((s, d) =>
      Corpus.langIdModel(T(s, d, "documents"))),
    // the STREAMING twin: fit once on the static labeled corpus,
    // score the document stream at file-arrival time — the transform
    // is a stateless zero-shuffle scan, so it streams append-mode
    // with no state store; output is batch-equivalent bit-for-bit
    // (same oracle)
    // the verified path IS the production one: parquet sink +
    // streaming checkpoint (fresh per run — the q_stream_to_files
    // hygiene), not the ad-hoc memory sink
    "q_stream_langid" -> ((s, d) => {
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
    }),
    // streaming PII gate: documents land scrubbed, with the Luhn
    // card census riding as evidence — same planted-runs fixture as
    // q_pii_luhn, exactly-once file sink, batch-replayed oracle
    "q_stream_pii" -> ((s, d) => {
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
    }),
    // the composed per-document quality gate (batch form): model
    // langid + Gopher battery + classifier odds joined into one
    // verdict table — the stateless-given-models slice of the L16
    // tail, and the body the streaming gate runs per batch
    "q_quality_gate" -> ((s, d) => {
      val docs = T(s, d, "documents")
      streaming.QualityGate.gateVerdict(docs,
        Corpus.fitLangIdModel(docs),
        Corpus.fitQualityModel(docs,
          col("source").isin("src0", "src1", "src2", "src3")))
    }),
    // the STREAMING gate (E11/E12 capstone): train both models once
    // on the static labeled corpus, persist them as their parquet
    // artifacts, LOAD them back, then gate the document stream
    // file-by-file through the foreachBatch leg — three exactly-once
    // outputs per batch, checkpointed, restart-safe. The save→load
    // hop is deliberate: the hash-checked path is the production
    // train-once/deploy-from-artifact one, not an in-process fit
    "q_stream_quality_gate" -> ((s, d) => {
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
    }),
    // WAT outlink extraction (the third Common Crawl container):
    // metadata records' JSON envelopes parse to (src, dst) link
    // edges — the input pageRankTicks ranks. Spark does the real
    // WARC write + read + from_json; the oracle replays the link
    // SYNTHESIS arithmetic (the q_warc_roundtrip identity precedent)
    "q_wat_outlinks" -> ((s, d) => {
      val base = roundtripDir("wat_links")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val uri = concat(lit("https://corpus.example/doc/"), col("doc_id"))
      val src = T(s, d, "documents").select(
        uri.as("uri"),
        lit("2026-01-01T00:00:00Z").as("date"),
        to_json(struct(struct(
          struct(uri.as("WARC-Target-URI")).as("WARC-Header-Metadata"),
          struct(struct(struct(array(
            struct(concat(lit("https://corpus.example/doc/"),
              (col("doc_id") * 31 + 7) % 97).as("url")),
            struct(concat(lit("https://other.example/p/"),
              col("doc_id") % 13).as("url"))).as("Links"))
            .as("HTML-Metadata")).as("HTTP-Response-Metadata"))
            .as("Payload-Metadata")).as("Envelope")))
          .cast("binary").as("payload"))
      sources.Warc.write(src.repartition(2), s"$base/w",
        warcType = "metadata")
      sources.Wat.outlinks(sources.Warc.read(s, s"$base/w"))
    }),
    // ANCHOR-TEXT corpus from WAT (the other WAT product besides the
    // link graph): per (target, anchor term), inlink count + DISTINCT
    // source-host count — the host-deduped incoming-relevance signal
    // retrieval training pairs and spam demotion read. Spark does the
    // real WARC write + read + from_json + urlHost; link 1 carries
    // the doc's 2-word anchor, link 2 only on doc_id % 3 == 0 (the
    // text-less WAT link rows every real crawl has — dropped by
    // contract, pinned by the hash). The oracle replays the synthesis
    // arithmetic (q_wat_outlinks precedent) + the two-level exact
    // distinct.
    "q_anchor_text" -> ((s, d) => {
      val base = roundtripDir("wat_anchors")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val uri = concat(lit("https://h"), col("doc_id") % 7,
        lit(".example.org/d/"), col("doc_id"))
      val anchor = array_join(
        slice(TextFunctions.tokens(col("text")), 1, 2), " ")
      val src = T(s, d, "documents").select(
        uri.as("uri"),
        lit("2026-01-01T00:00:00Z").as("date"),
        to_json(struct(struct(
          struct(uri.as("WARC-Target-URI")).as("WARC-Header-Metadata"),
          struct(struct(struct(array(
            struct(
              concat(lit("https://corpus.example/doc/"),
                (col("doc_id") * 31 + 7) % 97).as("url"),
              anchor.as("text")),
            struct(
              concat(lit("https://other.example/p/"),
                col("doc_id") % 13).as("url"),
              when(col("doc_id") % 3 === 0, anchor)
                .otherwise(lit(null).cast("string")).as("text")))
            .as("Links"))
            .as("HTML-Metadata")).as("HTTP-Response-Metadata"))
            .as("Payload-Metadata")).as("Envelope")))
          .cast("binary").as("payload"))
      sources.Warc.write(src.repartition(2), s"$base/w",
        warcType = "metadata")
      Graph.anchorTermProfile(
        sources.Wat.anchorTexts(sources.Warc.read(s, s"$base/w")))
    }),
    // PageRank over a synthesized link graph in EXACT tick
    // arithmetic (damping 17/20, one floor per term) — deterministic
    // across engines, so DuckDB replays all three iterations by
    // recursive CTE and hash-checks every rank
    "q_pagerank" -> ((s, d) =>
      Graph.pageRankTicks(
        T(s, d, "documents").select(
          (col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + 7) % 97).as("dst"))
          .filter(col("src") =!= col("dst")),
        iters = 3)),
    // deterministic label propagation on the same 97-node graph:
    // 3 synchronous ticks, most-frequent-neighbor label, ties to the
    // smallest — integer state, replayed tick-for-tick in SQL
    "q_label_propagation" -> ((s, d) =>
      Graph.labelPropagation(
        T(s, d, "documents").select(
          (col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + 7) % 97).as("dst"))
          .filter(col("src") =!= col("dst")),
        iters = 3)),
    // component-size histogram over the 97-node graph — the dedup
    // cluster-health audit (giant-component share, singleton mass)
    "q_component_sizes" -> ((s, d) => {
      val e = T(s, d, "documents").select(
        (col("doc_id") % 97).as("a_id"),
        ((col("doc_id") * 31 + 7) % 97).as("b_id"))
        .filter(col("a_id") =!= col("b_id"))
      val nodes = e.select(col("a_id").as("id"))
        .unionByName(e.select(col("b_id").as("id"))).distinct()
      Graph.componentSizes(nodes, e)
    }),
    // exact triangle census on a richer 97-node graph (dst from the
    // doc_id HIGH digits so edges vary): forward algorithm, pure
    // long arithmetic end to end
    "q_triangle_stats" -> ((s, d) =>
      Graph.triangleStats(
        T(s, d, "documents").select(
          (col("doc_id") % 97).as("src"),
          (call_function("div", col("doc_id"), lit(97L)) % 97).as("dst"))
          .filter(col("src") =!= col("dst")))),
    // SEEDED PageRank (TrustRank, Gyöngyi et al. 2004): teleport +
    // dangling mass return only to the trusted seed set (every 5th
    // node here), so authority flows outward from seeds and far-away
    // clusters starve — the crawl-pipeline spam-demotion signal.
    // Same exact-tick discipline; the oracle replays the seeded
    // iteration with |seeds| denominators
    "q_pagerank_seeded" -> ((s, d) => {
      val edges = T(s, d, "documents").select(
        (col("doc_id") % 97).as("src"),
        ((col("doc_id") * 31 + 7) % 97).as("dst"))
        .filter(col("src") =!= col("dst"))
      val seedIds = T(s, d, "documents")
        .select((col("doc_id") % 97).as("node"))
        .filter(col("node") % 5 === 0).distinct()
      Graph.pageRankTicksSeeded(edges, seedIds, iters = 3)
    }),
    // HOST-level rank (Common Crawl publishes exactly this table):
    // per-doc URLs across 17 hosts → urlHost extraction → simple
    // host graph (distinct, the documented pre-distinct for
    // simple-graph semantics) → the same tick iteration
    "q_host_rank" -> ((s, d) => {
      val srcU = concat(lit("https://h"),
        (col("doc_id") % 17).cast("string"),
        lit(".example.org/d/"), col("doc_id").cast("string"))
      val dstU = concat(lit("https://h"),
        ((col("doc_id") * 5 + 3) % 17).cast("string"),
        lit(".example.org/d/x"))
      val edges = T(s, d, "documents").select(
        TextFunctions.urlHost(srcU).as("src"),
        TextFunctions.urlHost(dstU).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct()
      Graph.pageRankTicks(edges, iters = 3)
    }),
    // Unicode NFC normalization (stage-0 canonicalization): each doc
    // gets a decomposed/ligature/reordered suffix keyed by doc_id%6;
    // JDK Normalizer output is hash-checked against DuckDB's
    // nfc_normalize (both UAX #15) byte-for-byte
    "q_normalize_text" -> ((s, d) => {
      val raw = concat(col("text"), element_at(
        array(nfcSuffixes.map(lit): _*),
        (col("doc_id") % 6 + 1).cast("int")))
      T(s, d, "documents").select(col("doc_id"),
        TextFunctions.normalizeNfc(raw).as("text_nfc"),
        (raw =!= TextFunctions.normalizeNfc(raw)).as("changed"))
    }),
    // the oracle-checkable polynomial fold (DuckDB replays the md5 +
    // hex-parse + modular fold via list_reduce); rollingFingerprint
    // (the xxhash64 fast path, same contract) stays spec-covered
    "q_fingerprint" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextFunctions.polyFingerprint(col("text")).as("fp"))),
    "q_vocab_df" -> ((s, d) => Corpus.tokenDf(T(s, d, "documents"))),
    // boolean retrieval THROUGH the inverted index: build postings,
    // serve a 3-term query — the oracle replays the DIRECT per-doc
    // distinct-term count, so the hash-match proves the index
    // roundtrip (postings neither drop nor duplicate a doc)
    "q_boolean_search" -> ((s, d) =>
      Corpus.searchIndex(Corpus.invertedIndex(T(s, d, "documents")),
        Seq("spark", "merge", "vector"))),
    // sitemap → frontier: synthesize one urlset per host (same
    // path/robots arithmetic as q_robots_gate, plus a priority
    // hint), parse with from_xml, robots-gate for GraftBot, and
    // join the priority back — frontier assembly end to end. The
    // oracle replays the synthesis + the same gate decision table
    "q_sitemap_frontier" -> ((s, d) => {
      val (cand, hosts) = frontierFixture(s, d)
      Robots.gateUrls(cand.select("host", "path"),
          Robots.robotsRules(hosts), "GraftBot")
        .join(cand.select("host", "path", "priority"),
          Seq("host", "path"))
        .select("host", "path", "priority", "allowed")
    }),
    // frontier politeness scheduling: the gated F26 frontier paced
    // per host — Crawl-delay 3 s where the star group applies,
    // the 1 s crawler default where the exact graftbot group exists
    // but declares no delay (the most-specific-group contract); slot
    // order pinned (priority DESC, path), all-long micros timeline
    "q_frontier_schedule" -> ((s, d) => {
      val (cand, hosts) = frontierFixture(s, d)
      val gated = Robots.gateUrls(cand.select("host", "path"),
          Robots.robotsRules(hosts), "GraftBot")
        .where(col("allowed"))
        .join(cand.select("host", "path", "priority"),
          Seq("host", "path"))
        .select("host", "path", "priority")
      Frontier.schedule(gated, Robots.crawlDelays(hosts, "GraftBot"),
        orderBy = Seq(col("priority").cast("double").desc, col("path")),
        defaultDelaySec = 1.0)
    }),
    // sitemap-index fan-out on its own: per-host indexes declare 3
    // child sitemaps (one per doc_id%3 family, each with a lastmod);
    // index parse → (host, path) join to the fetched children →
    // urlset parse, with the child's identity and freshness carried
    // through to every emitted URL — the provenance a frontier
    // scheduler ranks on
    "q_sitemap_index" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val k = col("doc_id") % 7
      val m = col("doc_id") % 3
      val pathCol = when(m === 0, concat(lit("/d/"), col("doc_id")))
        .when(m === 1, concat(lit("/private/p"), col("doc_id")))
        .otherwise(concat(lit("/tmp/"), col("doc_id")))
      val frag = concat(lit("<url><loc>https://h"), k,
        lit(".example.org"), pathCol, lit("</loc><priority>0."),
        col("doc_id") % 10, lit("</priority></url>"))
      val children = docs
        .select(k.cast("int").as("k"), m.cast("int").as("m"), frag.as("f"))
        .groupBy("k", "m")
        .agg(concat(lit("<urlset>"), concat_ws("", collect_list(col("f"))),
          lit("</urlset>")).as("xml"))
        .select(concat(lit("h"), col("k"), lit(".example.org")).as("chost"),
          concat(lit("/sitemaps/s"), col("m"), lit(".xml")).as("cpath"),
          col("xml"))
      val idxFrag = concat(lit("<sitemap><loc>https://h"), col("k"),
        lit(".example.org/sitemaps/s"), col("m"),
        lit(".xml</loc><lastmod>2024-01-0"), col("m") + 1,
        lit("</lastmod></sitemap>"))
      val indexes = docs
        .select(k.cast("int").as("k"), m.cast("int").as("m")).distinct()
        .select(col("k"), idxFrag.as("f"))
        .groupBy("k")
        .agg(concat(lit("<sitemapindex>"),
          concat_ws("", collect_list(col("f"))),
          lit("</sitemapindex>")).as("xml"))
      val kids = sources.Sitemap.indexChildren(indexes)
      sources.Sitemap.urls(
        kids.join(children, col("host") === col("chost") &&
            col("path") === col("cpath"))
          .select(col("xml"), col("path").as("sitemap_path"),
            col("lastmod").as("sitemap_lastmod")),
        carryCols = Seq("sitemap_path", "sitemap_lastmod"))
        .select("host", "path", "priority",
          "sitemap_path", "sitemap_lastmod")
    }),
    // multi-pattern content filter (the C4 badwords scan): ONE
    // Aho-Corasick pass counts all five patterns — phrases crossing
    // token boundaries included. The patterns are chosen BORDERLESS
    // (no proper prefix = suffix), so occurrences can never overlap
    // and the replace-length replay counts them exactly; overlap
    // semantics itself is spec-pinned against the naive reference
    "q_badwords_profile" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        graft.expressions.MultiPatternCount(col("text"),
          Seq("slow", "spark", "w j", "merge f", "qv")).as("m"))
        .select(col("doc_id"), col("m.n_hits").as("n_hits"),
          col("m.n_patterns").as("n_patterns"),
          (col("m.n_hits") > 0).as("flagged"))),
    // robots.txt gate (RFC 9309): synthesize per-host robots files
    // with comments, blank lines, mixed-case directives, an ignored
    // Crawl-delay, an empty Disallow, a longer-Allow override, and a
    // graftbot-specific group on every third host (exact beats *);
    // parse RELATIONALLY and gate the synthesized frontier for
    // 'GraftBot'. The oracle replays the synthesis arithmetic — if
    // the parser misreads any line, decisions hash-mismatch
    "q_robots_gate" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val k = col("doc_id") % 7
      val urls = docs.select(
        concat(lit("h"), k, lit(".example.org")).as("host"),
        when(col("doc_id") % 3 === 0,
          concat(lit("/d/"), col("doc_id")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("/private/p"), col("doc_id")))
          .otherwise(concat(lit("/tmp/"), col("doc_id"))).as("path"))
      val hosts = docs.select(k.cast("int").as("k")).distinct()
        .select(
          concat(lit("h"), col("k"), lit(".example.org")).as("host"),
          concat(
            lit("# synthetic robots\nUser-Agent: *\nCrawl-delay: 3\n" +
              "Disallow: /private/\nDisallow:\n"),
            when(col("k") % 2 === 0, lit("Allow: /private/p\n"))
              .otherwise(lit("")),
            when(col("k") % 3 === 0,
              lit("\nUser-agent: graftbot\nDisAllow: /d/\n" +
                "Disallow: /tmp/\n")).otherwise(lit("")))
            .as("robots_txt"))
      Robots.gateUrls(urls, Robots.robotsRules(hosts), "GraftBot")
    }),
    // small-file COMPACTION is semantics-free: scatter documents
    // into 32 tiny files, compact to one, read the compacted table
    // back — the identity oracle hash-checks that no row was lost,
    // duplicated or altered (the q_layout_prune discipline); the
    // file-count and partition-preservation claims are spec-measured
    "q_compact_layout" -> ((s, d) => {
      val base = roundtripDir("compact")
      T(s, d, "documents").repartition(32)
        .write.mode("overwrite").parquet(s"$base/src")
      Layout.compactTable(s, s"$base/src", s"$base/dst",
        targetBytes = 1L << 30)
      s.read.parquet(s"$base/dst")
    }),
    // keyed MERGE into the bucket-partitioned manifest table
    // (snapshot-isolated upsert/delete — the "apply this day's delta
    // to the corpus table" operator): three batches — full load,
    // upsert (price bump on even keys) + insert (shifted keys),
    // upsert (status recode) + delete — applied through the commit
    // path; the final snapshot must equal the relational replay of
    // the same three batches. Crash-window, pointer-carry-over,
    // compaction and vacuum claims are spec-proven.
    "q_merge_upsert" -> ((s, d) => {
      val dir = roundtripDir("merge_upsert")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val base = T(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      MergeTable.merge(s, dir, base, Seq("o_orderkey"), nBuckets = 32)
      val b2 = base.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
        .unionByName(base.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
            col("o_custkey"), lit("N").as("o_orderstatus"),
            col("o_totalprice")))
      MergeTable.merge(s, dir, b2, Seq("o_orderkey"), nBuckets = 32)
      val b3 = base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("_del", lit(true))
        .unionByName(base
          .filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 7 =!= 0)
          .withColumn("o_orderstatus", lit("X"))
          .withColumn("_del", lit(false)))
      MergeTable.merge(s, dir, b3, Seq("o_orderkey"), nBuckets = 32,
        deleteCol = Some("_del"))
      MergeTable.snapshot(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    }),
    // PMI collocations: adjacent-pair counts + unigram marginals,
    // the log-free monotone ratio as one fixed-tree tick, min-count
    // guard before ranking, top-30 via TakeOrderedAndProject
    "q_collocations" -> ((s, d) =>
      Corpus.collocations(T(s, d, "documents"), minCount = 5L, k = 30)),
    // corpus DRIFT term report: the en vs de token distributions
    // full-outer-joined, probability ticks through the fixed tree,
    // top-20 by |Δp| — TakeOrderedAndProject, no global sort
    "q_corpus_drift" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Corpus.corpusDriftTerms(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "de"))
        .orderBy(col("drift_fp").desc, col("term")).limit(20)
    }),
    // one-row divergence summary over the FULL vocabulary: totals,
    // vocab overlap, total-variation ticks, directional OOV mass —
    // the admit-this-snapshot? gate numbers
    "q_corpus_divergence" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Corpus.corpusDivergence(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "de"))
    }),
    // the STREAMING drift monitor (train-once / monitor-forever):
    // fit the reference model on the en slice, PERSIST it, load the
    // artifact back, then score the arriving document stream against
    // it through the checkpointed foreachBatch leg — one divergence
    // row per micro-batch, exactly-once via per-batch dir overwrite.
    // AvailableNow sweeps the dir in one batch here, so the oracle
    // is the batch divergence of ALL documents vs the en reference
    "q_stream_drift" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Corpus.saveDriftModel(
        Corpus.fitDriftModel(docs.filter(col("lang") === "en")),
        roundtripDir("drift_model"))
      streaming.EventStreams.streamDrift(s, d,
        Corpus.loadDriftModel(s, roundtripDir("drift_model")),
        roundtripDir("stream_drift"),
        roundtripDir("stream_drift_ckpt"),
        fileGlob = "documents.parquet", reset = true)
    }),
    "q_tfidf_top_terms" -> ((s, d) =>
      Corpus.tfIdfTopTerms(T(s, d, "documents"), 3)),
    // ROUGE-1/2 over (full text, first-half-of-same-doc) pairs — the
    // truncated reference makes recall < precision by construction;
    // clipped multiset overlap, tick ratios, no libm anywhere
    "q_rouge_score" -> ((s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val ref = array_join(slice(toks, lit(1),
        greatest(lit(1), (size(toks) / lit(2)).cast("int"))), " ")
      Eval.rougeN(T(s, d, "documents")
          .select(col("doc_id"), col("text").as("cand"), ref.as("ref")),
        "doc_id", "cand", "ref", Seq(1, 2))
    }),
    // distinct-n diversity (mode-collapse detector for generated
    // corpora): distinct/total n-grams per order, guarded ticks
    "q_distinct_ngrams" -> ((s, d) =>
      Eval.distinctN(T(s, d, "documents"), "text", Seq(1, 2))),
    // vocabulary Gini: token-mass inequality — the flattened-Zipf
    // synthetic-corpus flag; one vocab-bounded window, long sums
    "q_gini_vocab" -> ((s, d) =>
      Corpus.giniConcentration(T(s, d, "documents"))),
    // corpus-level BLEU kernel over the same pairs: clipped p1..p4,
    // linear brevity, pinned-association product ticks — one row
    "q_bleu_corpus" -> ((s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val ref = array_join(slice(toks, lit(1),
        greatest(lit(1), (size(toks) / lit(2)).cast("int"))), " ")
      Eval.bleuKernel(T(s, d, "documents")
          .select(col("doc_id"), col("text").as("cand"), ref.as("ref")),
        "doc_id", "cand", "ref")
    }),
    "q_bigram_counts" -> ((s, d) => Corpus.bigramCounts(T(s, d, "documents"))),
    "q_pii_scrub" -> ((s, d) =>
      T(s, d, "documents").select(col("doc_id"),
        TextFunctions.emailCount(col("text")).cast("long").as("n_emails"),
        TextFunctions.longNumCount(col("text")).cast("long").as("n_longnums"),
        TextFunctions.scrubPii(col("text")).as("scrubbed"))),
    // benchmark decontamination: docs 0..24 stand in for the eval
    // suite; the rest of the corpus is checked for 3-gram overlap
    "q_decontaminate" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Corpus.decontaminate(
        docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), shingleN = 3, tau = 0.5)
    }),
    // the benchmark-side-too-big-to-broadcast shape: bloom sketch
    // prefilter on the corpus shingle stream + exact shuffle join.
    // Bit-identical output, shared oracle
    "q_decontaminate_bloom" -> ((s, d) => {
      val docs = T(s, d, "documents")
      Corpus.decontaminate(
        docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), shingleN = 3, tau = 0.5,
        broadcastBench = false)
    }),
    "q_length_profile" -> ((s, d) =>
      Corpus.lengthProfile(T(s, d, "documents"), Seq("lang", "source"))),
    "q_vec_quantize" -> ((s, d) => {
      val q = VectorFunctions.quantizeInt8(col("embedding"), lit(1.0))
      T(s, d, "embeddings").select(col("vec_id"),
        aggregate(q, lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(q).cast("int").as("q_min"),
        array_max(q).cast("int").as("q_max"))
    }),
    // ---- L. sampling / splits (training-data pipeline) -------------------
    "q_train_split" -> ((s, d) =>
      Sampling.deterministicSplit(
        T(s, d, "documents").select("doc_id", "lang"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))),
    "q_cap_per_group" -> ((s, d) =>
      Sampling.capPerGroup(
        T(s, d, "documents").select("doc_id", "lang", "source"),
        Seq("lang", "source"), Seq(col("doc_id").asc), 10)),
    // the 100 TB form of the same cap: k-capped BoundedTopK partial
    // state (<= n pairs per group per task) + id semi join — no
    // per-group window sort; same oracle
    "q_cap_per_group_topk" -> ((s, d) =>
      Sampling.capPerGroupTopK(
        T(s, d, "documents").select("doc_id", "lang", "source"),
        Seq("lang", "source"), col("doc_id"), "doc_id", 10)),
    // uniform (not first-k) per-group sample: order by a content hash
    // instead of the id — deterministic, unbiased within each group
    "q_sample_uniform" -> ((s, d) =>
      Sampling.capPerGroup(
        T(s, d, "documents").select("doc_id", "lang"),
        Seq("lang"),
        Seq(md5(col("doc_id").cast("string")).asc, col("doc_id").asc), 20)),
    // context-window packing: documents → fixed token-budget bins,
    // the (length desc, id) running sum from PrefixSum's range
    // buckets + driver-walked offsets (no global single-reducer sort)
    "q_pack_sequences" -> ((s, d) =>
      Sampling.packSequences(
        T(s, d, "documents").select(col("doc_id"),
          functions.TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        "n_tokens", "doc_id", budget = 512L, nBuckets = 16)),
    // the training-ready LAST MILE: real longest-match BPE encode →
    // vocab-id mapping (OOV → -1) → token-budget bin + in-bin offset.
    // The oracle composes the H21 recursive greedy cursor with the
    // pack running-sum windows, so every split decision, id, bin and
    // offset is hash-checked end-to-end
    "q_tokenize_pack" -> ((s, d) =>
      CorpusPipeline.tokenizePack(
        T(s, d, "documents").select(col("doc_id"), col("text")),
        bpeEncodeVocab, budget = 512L, nBuckets = 16)),
    // salted join == plain join (the oracle proves it): single-key
    // hotspot mitigation AQE cannot split
    "q_skew_join" -> ((s, d) =>
      Skew.saltedJoin(
          T(s, d, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity"),
          T(s, d, "supplier").select("s_suppkey", "s_name"),
          Seq("l_suppkey" -> "s_suppkey"), buckets = 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"),
          Aggregations.decSum(col("l_quantity")).as("sum_qty"))),
    // ---- I. multimodal --------------------------------------------------
    "q_binary_meta" -> ((s, d) =>
      Multimodal.asMedia(T(s, d, "documents").select("doc_id", "text"),
          "text", "text/plain")
        .select(col("doc_id"), col("media_meta.media_type").as("media_type"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.sha").as("sha"))),
    // REAL image decode (javax.imageio): synthesize a deterministic
    // RGB PNG per doc, decode it back through the batched codec —
    // PNG is lossless, so width/height/bands and the exact
    // per-channel sample sums replay in SQL from the synthesis
    // arithmetic (promoted from rows-only to oracle-green r13)
    "q_media_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMedia(
          Multimodal.synthRgbPng(T(s, d, "documents").select("doc_id")),
          "png", "image/png")
          .select("doc_id", "payload", "media_meta"),
        Multimodal.imageIoCodec)
        .select("doc_id", "feat_width", "feat_height", "feat_channels",
          "feat_sum_r", "feat_sum_g", "feat_sum_b")),
    // REAL audio decode (javax.sound.sampled): synthesize a
    // deterministic 16-bit PCM WAV per doc, decode it back through
    // the batched codec — PCM is lossless, so rate/channels/frames
    // and the exact per-channel sample sums replay in SQL from the
    // synthesis arithmetic (the audio twin of q_media_features)
    "q_audio_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMedia(
          Multimodal.synthWavPcm(T(s, d, "documents").select("doc_id")),
          "wav", "audio/wav")
          .select("doc_id", "payload", "media_meta"),
        Multimodal.audioWavCodec)
        .select("doc_id", "feat_rate", "feat_audio_channels",
          "feat_frames", "feat_sum_ch0", "feat_sum_ch1")),
    // REAL multi-frame sampling (javax.imageio GIF): synthesize a
    // deterministic multi-frame grayscale GIF per doc, explode every
    // 2nd frame with its exact gray-sample sum — the indexed-palette
    // write is lossless, so the per-frame features replay in SQL
    "q_frame_sample" -> ((s, d) =>
      Multimodal.frameSampleGif(
        Multimodal.asMedia(
          Multimodal.synthGrayGif(T(s, d, "documents").select("doc_id")),
          "gif", "image/gif")
          .select("doc_id", "payload"),
        stride = 2)
        .select("doc_id", "frame_idx", "frame_width", "frame_height",
          "frame_gray_sum")),
    // audio fingerprint (the perceptual-hash twin for PCM): REAL WAV
    // decode + 64-window integer energy hash — docs 2k/2k+1 are
    // one-sample-edit near-dups; pairs ride the same hammingPairs
    // band join (spec-covered)
    "q_audio_fingerprint" -> ((s, d) =>
      Multimodal.audioEnergyHash64(
        Multimodal.asMedia(
          Multimodal.synthPairWavPcm(T(s, d, "documents")
            .select("doc_id")),
          "wav", "audio/wav")
          .select("doc_id", "payload"))
        .select(col("doc_id"), col("feat_audiohash").as("fingerprint"))),
    // LAION-style perceptual image hash: REAL decode + nearest-
    // neighbor 8x8 aHash (index arithmetic, no resample kernel, so
    // the 64-bit code replays in SQL from the synthesis formula);
    // docs 2k/2k+1 are one-pixel-edit near-dups by construction
    "q_image_phash" -> ((s, d) =>
      Multimodal.imageAHash64(
        Multimodal.asMedia(
          Multimodal.synthPairGrayPng(T(s, d, "documents")
            .select("doc_id")),
          "png", "image/png")
          .select("doc_id", "payload"))
        .select(col("doc_id"), col("feat_ahash").as("ahash"))),
    // image near-dup pairs over the aHash codes: the SAME hamming
    // band equi-join as text SimHash (pigeonhole-exact for <= 3),
    // never all-pairs — IMAGE dedup as a shuffle-on-band-key join
    "q_image_phash_pairs" -> ((s, d) =>
      Dedup.hammingPairs(
        Multimodal.imageAHash64(
          Multimodal.asMedia(
            Multimodal.synthPairGrayPng(T(s, d, "documents")
              .select("doc_id")),
            "png", "image/png")
            .select("doc_id", "payload"))
          .select(col("doc_id").as("id"), col("feat_ahash").as("code")),
        maxHamming = 3, bands = 4)),
    // DCT pHash near-dup pairs over the frequency-domain fixture
    // (tiled textures + a one-pixel soft edit): same banded hamming
    // equi-join, never all-pairs. The DCT's doubles are not
    // SQL-replayable (StrictMath trig) → rows-only gate; the
    // invariance + exact-pair-set contracts are property-pinned in
    // MiscOpsSpec
    // SPECTRAL audio near-dup pairs (the chromaprint-shaped upgrade
    // of q_audio_fingerprint's FFT-free energy hash): StrictMath-DCT
    // band fingerprint over square-wave near-dup pairs, same banded
    // hamming equi-join. Doubles are not SQL-replayable → rows-only
    // gate; offset/gain/stereo invariances + the exact pair set are
    // property-pinned in MiscOpsSpec
    "q_audio_spectral" -> ((s, d) =>
      Dedup.hammingPairs(
        Multimodal.audioSpectralHash64(
          Multimodal.asMedia(
            Multimodal.synthPairWavPcmSoft(T(s, d, "documents")
              .select("doc_id")),
            "wav", "audio/wav")
            .select("doc_id", "payload"))
          .select(col("doc_id").as("id"),
            col("feat_spectralhash").as("code")),
        maxHamming = 3, bands = 4)),
    "q_image_dcthash" -> ((s, d) =>
      Dedup.hammingPairs(
        Multimodal.imageDctHash64(
          Multimodal.asMedia(
            Multimodal.synthPairGrayPngSoft(T(s, d, "documents")
              .select("doc_id")),
            "png", "image/png")
            .select("doc_id", "payload"))
          .select(col("doc_id").as("id"), col("feat_dcthash").as("code")),
        maxHamming = 3, bands = 4)),
    // ---- K. nested / json -----------------------------------------------
    "q_json_flatten" -> ((s, d) =>
      NestedOps.flattenJson(
        T(s, d, "events").select("event_id", "event_type", "props"),
        "props", StructType(Seq(StructField("k", LongType))))
        .select("event_id", "event_type", "k")),
    "q_nested_flatten" -> ((s, d) =>
      NestedOps.flattenStructs(
        T(s, d, "lineitem").select(col("l_orderkey"),
          struct(col("l_partkey"), col("l_suppkey")).as("ps"),
          struct(col("l_quantity"),
            struct(col("l_extendedprice"), col("l_discount")).as("price"))
            .as("m")))),
    // ---- J. sources / sinks (roundtrips through /tmp) -------------------
    "q_fixedwidth_roundtrip" -> ((s, d) => {
      val out = roundtripDir("fixedwidth")
      TextRender.writeText(
        TextRender.fixedWidthLines(
          T(s, d, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
          Seq((col("l_orderkey"), 12, true), (col("l_linenumber"), 4, true),
            (col("l_returnflag"), 2, false), (col("l_quantity"), 10, true))),
        out)
      TextSources.fixedWidth(s, out, Seq(
        TextSources.FixedWidthField("l_orderkey", 1, 12, "bigint"),
        TextSources.FixedWidthField("l_linenumber", 13, 4, "int"),
        TextSources.FixedWidthField("l_returnflag", 17, 2, "string"),
        TextSources.FixedWidthField("l_quantity", 19, 10, "double")))
    }),
    "q_tokenrecords_roundtrip" -> ((s, d) => {
      val out = roundtripDir("tokenrecords")
      TextRender.writeText(
        TextRender.tokenLines(
          T(s, d, "lineitem").withColumn("rec", lit("ATOM")),
          Seq("rec", "l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity")),
        out)
      TextSources.tokenRecords(s, out,
          Seq("rec", "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
          Some("ATOM"))
        .select(col("l_orderkey").cast("long"),
          col("l_linenumber").cast("int"), col("l_returnflag"),
          col("l_quantity").cast("double"))
    }),
    // WARC container roundtrip (the CommonCrawl arrival format): one
    // file per partition on write, one task per file on read,
    // Content-Length-driven payload recovery — doc ids come back out
    // of the target URIs, payload bytes decode to the original text
    "q_warc_roundtrip" -> ((s, d) => {
      val out = roundtripDir("warc")
      sources.Warc.write(
        T(s, d, "documents").select(
          concat(lit("https://corpus.example/doc/"), col("doc_id"))
            .as("uri"),
          lit("2026-01-01T00:00:00Z").as("date"),
          col("text").cast("binary").as("payload"))
          .repartition(4),
        out)
      sources.Warc.read(s, out + "/*.warc")
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("target_uri"), col("content_length"),
          col("payload").cast("string").as("text"))
    }),
    // incremental WARC ingest, two triggers: even docs land first and
    // commit as batch 1, odd docs arrive as new files and commit as
    // batch 2 — wave-1 files are NOT re-parsed (their batch stays 1),
    // and the cumulative record table holds every doc exactly once
    "q_warc_ingest" -> ((s, d) => {
      val base = roundtripDir("warc_ingest")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = T(s, d, "documents").select(
        concat(lit("https://corpus.example/doc/"), col("doc_id"))
          .as("uri"),
        lit("2026-01-01T00:00:00Z").as("date"),
        col("text").cast("binary").as("payload"),
        col("doc_id"))
      sources.Warc.write(
        docs.where(col("doc_id") % 2 === 0).drop("doc_id")
          .repartition(2), s"$base/landing/w1")
      streaming.WarcIngest.ingestOnce(s, s"$base/landing", s"$base/ingest")
      sources.Warc.write(
        docs.where(col("doc_id") % 2 === 1).drop("doc_id")
          .repartition(2), s"$base/landing/w2")
      streaming.WarcIngest.ingestOnce(s, s"$base/landing", s"$base/ingest")
      streaming.WarcIngest.records(s, s"$base/ingest")
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("batch"), col("content_length"),
          col("payload").cast("string").as("text"))
    }),
    "q_gff_roundtrip" -> ((s, d) => {
      val out = roundtripDir("gff")
      TextRender.writeText(
        T(s, d, "part").select(concat_ws("\t", col("p_brand"), lit("graft"),
          col("p_type"), col("p_partkey"),
          (col("p_partkey") + col("p_size")).cast("long"), lit("."), lit("+"),
          lit("."),
          concat(lit("id="), col("p_partkey"), lit(";size="), col("p_size")))
          .as("value")),
        out)
      TextSources.gff(s, out)
        .select(col("seqid"), col("source"), col("type"), col("start"),
          col("end"), col("attr_map")("id").cast("long").as("id_attr"),
          col("attr_map")("size").cast("long").as("size_attr"))
    }),
    "q_xml_roundtrip" -> ((s, d) => {
      import s.implicits._
      val out = roundtripDir("xml")
      // a well-formed XML document needs one root element per file:
      // render rows as <rec/> lines between <parts>...</parts>
      val recs = T(s, d, "part").select(lit(1).as("k"),
        concat(lit("  <rec id=\""), col("p_partkey"),
          lit("\" brand=\""), col("p_brand"), lit("\" size=\""),
          col("p_size"), lit("\"/>")).as("value"))
      val wrapped = Seq((0, "<parts>")).toDF("k", "value")
        .unionByName(recs)
        .unionByName(Seq((2, "</parts>")).toDF("k", "value"))
        .coalesce(1).sortWithinPartitions("k")
      TextRender.writeText(wrapped.select("value"), out)
      sources.Xml.read(s, out, rowTag = "rec")
        .select(col("_id").cast("long").as("id"),
          col("_brand").cast("string").as("brand"),
          col("_size").cast("long").as("size"))
    }),
    // natural-variant annotation findall triple (variants.py:718-744):
    // annotation strings synthesized per part row, the REAL regex
    // extraction runs, arrays joined to scalars for the hash compare;
    // the oracle re-derives the extracted values relationally
    "q_uniprot_variants" -> ((s, d) => {
      val ann = concat(lit("['In disease_"), pmod(col("p_partkey"), lit(7)),
        lit("; x'] A->V (['VAR_"), col("p_partkey"), lit("'])"))
      Variants.parseUniprotVariants(
          T(s, d, "part").select(col("p_partkey"), ann.as("annotation")))
        .select(col("p_partkey"),
          array_join(col("disease"), ";").as("disease"),
          array_join(transform(col("transition"),
            t => concat(t("ref"), lit(">"), t("alt"))), ";").as("transition"),
          array_join(col("ids"), ";").as("ids"))
    }),
    // the UniProt-GFF annotation label recode (_annotation_writer,
    // annotation.py:19-34): all four TYPE/Note/ID presence cases
    // exercised by deriving note/id presence from part attributes
    "q_annotation_label" -> ((s, d) =>
      T(s, d, "part").select(col("p_partkey"),
        TextFunctions.annotationLabel(
          col("p_brand"),
          when(col("p_size") % 3 === 0, col("p_type")),
          when(col("p_size") % 2 === 0, col("p_partkey").cast("string")))
          .as("label"))),
    // SIFTS listDB header roundtrip: render a listDB XML from the
    // nation dim, parse it back distributed via siftsDbs with a
    // custom exclusion set (sifts.py:22-62's excluded_cols knob);
    // the oracle re-derives the surviving rows relationally
    "q_sifts_dbs" -> ((s, d) => {
      import s.implicits._
      val out = roundtripDir("siftsdbs")
      val recs = T(s, d, "nation").select(lit(1).as("k"),
        concat(lit("  <db dbSource=\""), col("n_name"),
          lit("\" dbCoordSys=\"UniProt\" dbVersion=\""), col("n_nationkey"),
          lit(".0\"/>")).as("value"))
      val wrapped = Seq((0, "<entry><listDB>")).toDF("k", "value")
        .unionByName(recs)
        .unionByName(Seq((2, "</listDB></entry>")).toDF("k", "value"))
        .coalesce(1).sortWithinPartitions("k")
      TextRender.writeText(wrapped.select("value"), out)
      sources.Xml.siftsDbs(s, out, excluded = Seq("FRANCE", "KENYA"))
    }),
    // SIFTS region-map roundtrip + per-residue interval enrichment
    // (sifts.py:64-138 _parse_sifts_regions_from_file + :266-284 the
    // add_regions lookup): render a two-segment region XML from the
    // nation dim (overlapping ranges so the last-counter-wins rule is
    // exercised), parse it back via siftsRegions with an exclusion,
    // then enrich customer-derived residues — matched / overlap /
    // unmatched / excluded-source cases all present by construction
    "q_sifts_regions" -> ((s, d) => {
      import s.implicits._
      val out = roundtripDir("siftsregions")
      val nat = T(s, d, "nation")
        .join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("entity"), col("n_nationkey").as("nk"),
          concat(lit("SRC"), pmod(col("n_nationkey"), lit(3))).as("src"),
          concat(lit("AC"), col("n_nationkey")).as("acc"))
      val segs = Seq(1, 2).toDF("seg")
      val rstart = col("nk") * 10 + (col("seg") - 1) * 5
      val regionRows = nat.crossJoin(segs).select(lit(1).as("ord"),
        col("entity"), col("seg"), lit(1).as("sub"), col("nk"),
        concat(lit("      <mapRegion start=\""), rstart,
          lit("\" end=\""), rstart + 9,
          lit("\"><db dbSource=\""), col("src"),
          lit("\" dbCoordSys=\"UniProt\" dbAccessionId=\""), col("acc"),
          lit("\"/></mapRegion>")).as("value"))
      val entities = nat.select("entity").distinct()
      val entOpen = entities.select(lit(1).as("ord"), col("entity"),
        lit(0).as("seg"), lit(0).as("sub"), lit(0).as("nk"),
        concat(lit("  <entity type=\"protein\" entityId=\""), col("entity"),
          lit("\">")).as("value"))
      val segOpen = entities.crossJoin(segs).select(lit(1).as("ord"),
        col("entity"), col("seg"), lit(0).as("sub"), lit(0).as("nk"),
        concat(lit("    <segment segId=\""), col("entity"), lit("_s"),
          col("seg"), lit("\"><listMapRegion>")).as("value"))
      val segClose = entities.crossJoin(segs).select(lit(1).as("ord"),
        col("entity"), col("seg"), lit(2).as("sub"), lit(0).as("nk"),
        lit("    </listMapRegion></segment>").as("value"))
      val entClose = entities.select(lit(1).as("ord"), col("entity"),
        lit(9).as("seg"), lit(0).as("sub"), lit(0).as("nk"),
        lit("  </entity>").as("value"))
      val open = Seq((0, "", 0, 0, 0, "<entry>"))
        .toDF("ord", "entity", "seg", "sub", "nk", "value")
      val close = Seq((2, "", 0, 0, 0, "</entry>"))
        .toDF("ord", "entity", "seg", "sub", "nk", "value")
      val doc = open.unionByName(entOpen).unionByName(segOpen)
        .unionByName(regionRows).unionByName(segClose).unionByName(entClose)
        .unionByName(close)
        .coalesce(1).sortWithinPartitions("ord", "entity", "seg", "sub", "nk")
      TextRender.writeText(doc.select("value"), out)
      val regions = sources.Xml.siftsRegions(s, out, excluded = Seq("SRC2"))
      val residues = T(s, d, "customer")
        .join(T(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name").as("entityId"),
          concat(lit("SRC"), pmod(col("n_nationkey"), lit(3))).as("_dbSource"),
          concat(lit("AC"), col("n_nationkey")).as("_dbAccessionId"),
          (col("n_nationkey") * 10 + pmod(col("c_custkey"), lit(20)) - 2)
            .cast("int").as("resnum"))
      sources.Xml.withRegions(residues, regions)
    }),
    // the FULL parse_sifts_residues surface (sifts.py:141-310) in one
    // oracle-checked roundtrip: render a complete SIFTS file (listDB
    // header + region maps + residue lists with per-residue crossRefDb
    // annotations) from nation/region/customer, parse it back via the
    // named siftsResidues loader with addRegions + addDbs + an
    // exclusion — exercising the non-PDB/UniProt field nulling, the
    // interval enrichment and the header version join together
    "q_sifts_residues" -> ((s, d) => {
      import s.implicits._
      val out = roundtripDir("siftsresidues")
      val nat = T(s, d, "nation")
        .join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("entity"), col("n_nationkey").as("nk"),
          concat(lit("SRC"), pmod(col("n_nationkey"), lit(3))).as("src"),
          concat(lit("AC"), col("n_nationkey")).as("acc"))
      val segs = Seq(1, 2).toDF("seg")
      val rstart = col("nk") * 10 + (col("seg") - 1) * 5
      def row6(ord: Int, e: Column, seg: Column, sub: Column, nk: Column,
               ck: Column, v: Column) =
        Seq(lit(ord).as("ord"), e.as("entity"), seg.as("seg"),
          sub.as("sub"), nk.as("nk"), ck.as("ck"), v.as("value"))
      val regionRows = nat.crossJoin(segs).select(row6(2, col("entity"),
        col("seg"), lit(2), col("nk"), lit(0L),
        concat(lit("      <mapRegion start=\""), rstart,
          lit("\" end=\""), rstart + 9,
          lit("\"><db dbSource=\""), col("src"),
          lit("\" dbCoordSys=\"UniProt\" dbAccessionId=\""), col("acc"),
          lit("\"/></mapRegion>"))): _*)
      val resRows = T(s, d, "customer")
        .join(T(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey").as("ck"), col("r_name").as("entity"),
          col("n_nationkey").as("nk"),
          (col("n_nationkey") * 10 + pmod(col("c_custkey"), lit(20)) - 2)
            .as("rn"))
        .select(row6(2, col("entity"), lit(1), lit(5), col("nk"), col("ck"),
          concat(lit("      <residue dbSource=\"PDBe\" dbCoordSys=\"PDBe\"" +
              " dbResNum=\""), col("rn"),
            lit("\" dbResName=\"ALA\"><crossRefDb dbSource=\"SRC"),
            pmod(col("nk"), lit(3)),
            lit("\" dbCoordSys=\"UniProt\" dbAccessionId=\"AC"), col("nk"),
            lit("\" dbResNum=\""), col("rn") + 100,
            lit("\" dbResName=\"VAL\" dbChainId=\"A\"/>" +
              "<crossRefDb dbSource=\"UniProt\" dbCoordSys=\"UniProt\"" +
              " dbAccessionId=\"P"), col("nk"),
            lit("\" dbResNum=\""), col("rn") + 100,
            lit("\" dbResName=\"V\"/></residue>"))): _*)
      val entities = nat.select("entity").distinct()
      def marker(ord: Int, seg: Int, sub: Int, text: String,
                 onlySeg1: Boolean = false) = {
        val base = if (onlySeg1) entities.crossJoin(Seq(1).toDF("seg"))
          else entities.crossJoin(segs)
        base.select(row6(ord, col("entity"),
          if (seg < 0) col("seg") else lit(seg),
          lit(sub), lit(0), lit(0L), lit(text)): _*)
      }
      val entOpenC = entities.select(row6(2, col("entity"), lit(0), lit(0),
        lit(0), lit(0L), concat(lit("  <entity type=\"protein\"" +
          " entityId=\""), col("entity"), lit("\">"))): _*)
      val segOpenC = entities.crossJoin(segs).select(row6(2, col("entity"),
        col("seg"), lit(0), lit(0), lit(0L),
        concat(lit("    <segment segId=\""), col("entity"), lit("_s"),
          col("seg"), lit("\">"))): _*)
      val entCloseC = entities.select(row6(2, col("entity"), lit(9), lit(0),
        lit(0), lit(0L), lit("  </entity>")): _*)
      val header = Seq(
        (0, "", 0, 0, 0, 0L, "<entry>"),
        (1, "", 0, 0, 0, 0L,
          "<listDB><db dbSource=\"SRC0\" dbCoordSys=\"UniProt\"" +
          " dbVersion=\"v0\"/><db dbSource=\"SRC1\"" +
          " dbCoordSys=\"UniProt\" dbVersion=\"v1\"/><db" +
          " dbSource=\"SRC2\" dbCoordSys=\"UniProt\" dbVersion=\"v2\"/>" +
          "<db dbSource=\"UniProt\" dbCoordSys=\"UniProt\"" +
          " dbVersion=\"u1\"/></listDB>"),
        (3, "", 0, 0, 0, 0L, "</entry>"))
        .toDF("ord", "entity", "seg", "sub", "nk", "ck", "value")
      val doc = header
        .unionByName(entOpenC).unionByName(segOpenC)
        .unionByName(marker(2, -1, 1, "      <listMapRegion>"))
        .unionByName(regionRows)
        .unionByName(marker(2, -1, 3, "      </listMapRegion>"))
        .unionByName(marker(2, 1, 4, "      <listResidue>", onlySeg1 = true))
        .unionByName(resRows)
        .unionByName(marker(2, 1, 6, "      </listResidue>", onlySeg1 = true))
        .unionByName(marker(2, -1, 7, "    </segment>"))
        .unionByName(entCloseC)
        .coalesce(1)
        .sortWithinPartitions("ord", "entity", "seg", "sub", "nk", "ck")
      TextRender.writeText(doc.select("value"), out)
      sources.Xml.siftsResidues(s, out, addRegions = true, addDbs = true,
        excluded = Seq("SRC2"))
    }),
    // validation-XML roundtrip (validation.py:21 parse_validation_
    // residues + :142 filter_validation): render ModelledSubgroup
    // attribute rows from the part dim with all three icode cases
    // (absent / blank / real) and all three altcode cases, parse back
    // via the named loader with a column exclusion, then filter by
    // chains with the res_full extension on — the oracle re-derives
    // every fix + the concat relationally
    "q_validation_roundtrip" -> ((s, d) => {
      import s.implicits._
      val out = roundtripDir("validation")
      val icodeAttr = when(pmod(col("p_partkey"), lit(4)) === 0, lit(""))
        .when(pmod(col("p_partkey"), lit(4)) === 1, lit(" icode=\" \""))
        .when(pmod(col("p_partkey"), lit(4)) === 2, lit(" icode=\"A\""))
        .otherwise(lit(" icode=\"?\""))
      val altAttr = when(pmod(col("p_partkey"), lit(3)) === 0, lit(""))
        .when(pmod(col("p_partkey"), lit(3)) === 1, lit(" altcode=\"?\""))
        .otherwise(lit(" altcode=\"B\""))
      val recs = T(s, d, "part").select(lit(1).as("k"),
        col("p_partkey").as("pk"),
        concat(lit("  <ModelledSubgroup model=\"1\" said=\"main\" chain=\""),
          substring(col("p_brand"), 8, 1),
          lit("\" seq=\""), col("p_partkey"),
          lit("\" resnum=\""), pmod(col("p_partkey"), lit(100)),
          lit("\" resname=\""), upper(substring(col("p_type"), 1, 3)),
          lit("\" NatomsEDS=\""), col("p_size"),
          lit("\" rsr=\""), col("p_retailprice"),
          lit("\" phi=\""), pmod(col("p_partkey"), lit(360)) - 180,
          lit("\""), icodeAttr, altAttr, lit("/>")).as("value"))
      val doc = Seq((0, 0L, "<wwPDB-validation-information>"))
        .toDF("k", "pk", "value")
        .unionByName(recs)
        .unionByName(Seq((2, 0L, "</wwPDB-validation-information>"))
          .toDF("k", "pk", "value"))
        .coalesce(1).sortWithinPartitions("k", "pk")
      TextRender.writeText(doc.select("value"), out)
      val parsed = sources.Validation.validationResidues(s, out,
        excludedCols = Seq("validation_said"))
      sources.Validation.filterValidation(parsed,
        chains = Some(Seq("1", "3", "5")))
    }),
    // mmCIF metadata-block roundtrip (structures.py:255 _mmcif_fields):
    // render one mmCIF file carrying BOTH block forms from the nation
    // dim — a key-value `_graft_summary.` block (pivots to one row)
    // and a `loop_` `_graft_nation.` block (quoted tokens with
    // embedded spaces: UNITED STATES) — parse each back and cross the
    // 1-row summary onto the per-nation table; dtype inference makes
    // the int columns long, matching the oracle's BIGINTs
    "q_mmcif_fields" -> ((s, d) => {
      import s.implicits._
      val out = roundtripDir("mmciffields")
      val nat = T(s, d, "nation")
      val static = Seq(
        (0, 0L, "data_graft"), (0, 1L, "#"),
        (1, 0L, "_graft_summary.src_table   nation"),
        (1, 2L, "_graft_summary.source      'tpch testdata'"),
        (2, 0L, "#"), (2, 1L, "loop_"),
        (3, 0L, "_graft_nation.id"), (3, 1L, "_graft_nation.name"),
        (3, 2L, "_graft_nation.region_key"), (3, 3L, "_graft_nation.tag"),
        (5, 0L, "#")).toDF("k", "pk", "value")
      val cnt = nat.agg(count(lit(1)).as("c"))
        .select(lit(1).as("k"), lit(1L).as("pk"),
          concat(lit("_graft_summary.n_rows      "), col("c")).as("value"))
      val body = nat.select(lit(4).as("k"), col("n_nationkey").as("pk"),
        concat(col("n_nationkey"), lit(" '"), col("n_name"), lit("' "),
          col("n_regionkey"), lit(" '"), col("n_name"), lit(" "),
          col("n_nationkey"), lit("'")).as("value"))
      val doc = static.unionByName(cnt).unionByName(body)
        .coalesce(1).sortWithinPartitions("k", "pk")
      TextRender.writeText(doc.select("value"), out)
      val loop = sources.StructureFormats.mmcifFields(s, out, "_graft_nation.")
      val summary = sources.StructureFormats
        .mmcifFields(s, out, "_graft_summary.")
      loop.crossJoin(summary) // 1-row right side
    }),
    // the require_index leg: a loop_ block whose records span two
    // physical lines, the indexed line rendered WITH a trailing space
    // so the reference's no-separator join reassembles clean tokens
    // (the quirk path — token merging — is pinned by the spec instead,
    // where the oracle cannot express it)
    "q_mmcif_oper" -> ((s, d) => {
      import s.implicits._
      val out = roundtripDir("mmcifoper")
      val nat = T(s, d, "nation")
      val static = Seq(
        (0, 0L, "data_graft"), (0, 1L, "#"), (0, 2L, "loop_"),
        (1, 0L, "_graft_oper.id"), (1, 1L, "_graft_oper.op"),
        (1, 2L, "_graft_oper.axis"), (1, 3L, "_graft_oper.note"),
        (5, 0L, "#")).toDF("k", "pk", "value")
      val l1 = nat.select(lit(4).as("k"),
        (col("n_nationkey") * 2).cast("long").as("pk"),
        concat(col("n_nationkey") + 1, lit(" 'op "), col("n_name"),
          lit("' ")).as("value"))
      val l2 = nat.select(lit(4).as("k"),
        (col("n_nationkey") * 2 + 1).cast("long").as("pk"),
        concat(lit("ax_"), col("n_regionkey"), lit(" t"),
          col("n_nationkey")).as("value"))
      val doc = static.unionByName(l1).unionByName(l2)
        .coalesce(1).sortWithinPartitions("k", "pk")
      TextRender.writeText(doc.select("value"), out)
      sources.StructureFormats.mmcifFields(s, out, "_graft_oper.",
        requireIndex = true)
    }),
    // hive-style partitioned parquet write + partition-pruned read:
    // the filter prunes to the lang=en directory at planning time
    // (PartitionFilters in the scan), the 100 TB layout primitive
    "q_partitioned_roundtrip" -> ((s, d) => {
      val out = roundtripDir("partitioned")
      T(s, d, "documents").select("doc_id", "source", "n_chars", "lang")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out).filter(col("lang") === "en")
        .select("doc_id", "source", "n_chars", "lang")
    }),
    "q_stockholm_roundtrip" -> ((s, d) => {
      val out = roundtripDir("stockholm")
      // render docs as a single-block Stockholm alignment: gaps are
      // dots (spaces are not legal in aligned seqs), and the parser
      // strips ALL gap chars ([.-]) for the ungapped sequence — so
      // the payload must be gap-free up front ([. -] removed) and
      // gap-only (empty) docs are excluded on BOTH sides, or the
      // roundtrip would not invert the render
      val payload = regexp_replace(col("text"), "[. \\-]", "")
      TextRender.writeText(
        T(s, d, "documents")
          .filter(length(payload) > 0)
          .select(concat(
            lit("doc_"), col("doc_id"), lit("/1-"), length(payload),
            lit(" "), translate(col("text"), " ", ".")).as("value")),
        out)
      Msa.parseDescription(Msa.stockholm(s, out))
        .select(col("acc"), col("seq_start"), col("seq_end"),
          length(col("sequence")).cast("long").as("seq_len"))
    }),
    // clustal roundtrip (msas.py:32 read_alignments' clustal branch):
    // one header + one record line per doc with a trailing cumulative
    // count (the optional column the parser must tolerate); same
    // gap-domain rules as the stockholm roundtrip
    "q_clustal_roundtrip" -> ((s, d) => {
      import s.implicits._
      val out = roundtripDir("clustal")
      val payload = regexp_replace(col("text"), "[. \\-]", "")
      val recs = T(s, d, "documents")
        .filter(length(payload) > 0)
        .select(lit(1).as("k"), col("doc_id").as("pk"),
          concat(lit("doc_"), col("doc_id"), lit("/1-"), length(payload),
            lit(" "), translate(col("text"), " .", "--"),
            lit(" "), length(col("text"))).as("value"))
      val doc = Seq((0, -1L, "CLUSTAL W (1.83) multiple sequence alignment"))
        .toDF("k", "pk", "value")
        .unionByName(recs)
        .coalesce(1).sortWithinPartitions("k", "pk")
      TextRender.writeText(doc.select("value"), out)
      Msa.parseDescription(Msa.clustal(s, out))
        .select(col("acc"), col("seq_start"), col("seq_end"),
          length(col("sequence")).cast("long").as("seq_len"))
    }),
    "q_fasta_roundtrip" -> ((s, d) => {
      val out = roundtripDir("fasta")
      TextRender.writeText(
        T(s, d, "documents").select(concat(
          lit(">doc_"), col("doc_id"), lit("/1-"),
          length(regexp_replace(col("text"), " ", "")), lit("\n"),
          regexp_replace(col("text"), " ", "")).as("value")),
        out)
      Msa.parseDescription(Msa.fasta(s, out))
        .select(col("acc"), col("seq_start"), col("seq_end"),
          length(col("sequence")).cast("long").as("seq_len"))
    }),
    // ---- r4 additions ---------------------------------------------------
    // CSV leg with the production failure mode exercised: one
    // malformed line is injected, read PERMISSIVE with a
    // corrupt-record column, and filtered out — bad input must be
    // quarantined, never crash the pipeline or silently parse
    "q_csv_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.types._
      import s.implicits._
      val out = roundtripDir("csv")
      val rendered = T(s, d, "customer")
        .select(concat_ws(",", col("c_custkey"), col("c_name"),
          col("c_mktsegment"), col("c_acctbal")).as("value"))
        .unionByName(Seq("oops,this line is not,valid").toDF("value"))
      TextRender.writeText(rendered, out)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_mktsegment", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("_bad", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out)
        // reference a REAL column alongside _bad: Spark rejects
        // queries whose pruned column set is ONLY the corrupt-record
        // column (QUERY_ONLY_CORRUPT_RECORD_COLUMN — hit by the
        // bench's count() after pruning the bare _bad filter)
        .filter(col("_bad").isNull && col("c_custkey").isNotNull)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    }),
    // schema evolution: a 100 TB dataset is written over months —
    // later partitions carry columns earlier ones lack. Write two
    // generations (the second adds a column), read with mergeSchema,
    // aggregate with explicit null handling for the missing column.
    "q_schema_evolution" -> ((s, d) => {
      val out = roundtripDir("schema_evo")
      val li = T(s, d, "lineitem")
      li.filter(col("l_orderkey") % 2 === 0)
        .select("l_orderkey", "l_returnflag", "l_quantity")
        .write.mode("overwrite").parquet(s"$out/gen=1")
      li.filter(col("l_orderkey") % 2 === 1)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(28,2)")).cast("double")
            .as("sum_qty"),
          count(col("l_extendedprice")).as("n_with_price"),
          sum(col("l_extendedprice").cast("decimal(28,2)")).cast("double")
            .as("sum_price_new_gen"))
    }),
    // second columnar format: ORC write + read + agg (same Catalyst
    // scan surface as parquet — pushdown/pruning apply identically)
    "q_orc_roundtrip" -> ((s, d) => {
      val out = roundtripDir("orc")
      T(s, d, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(28,2)")).cast("double")
            .as("sum_qty"))
    }),
    // Gopher-style repetition quality gate: per-row dup ratios + the
    // top-bigram fraction (explode + two combined aggs)
    "q_repetition_profile" -> ((s, d) =>
      Corpus.repetitionProfile(T(s, d, "documents"))),
    // context-window chunking: 32-token chunks every 16 tokens
    // (stride < size → overlapping training contexts), zero shuffles
    "q_chunk_tokens" -> ((s, d) =>
      Corpus.chunkTokens(T(s, d, "documents"), size = 32, stride = 16)),
    // temperature-weighted source mixing (alpha = 0.5): dominant
    // sources square-root-damped via deterministic md5 thresholds
    "q_corpus_mix" -> ((s, d) =>
      Sampling.temperatureSample(
        T(s, d, "documents").select("doc_id", "source"),
        "source", "doc_id")),
    // hopping windows: width 30 min, slide 15 min — every event in 2
    // windows via the native window() generator, one hash agg
    "q_window_sliding" -> ((s, d) =>
      TimeOps.slidingAgg(T(s, d, "events"), "ts", Seq("event_type"),
        "value", 1800L * 1000000L, 900L * 1000000L)),
    // stream-static enrichment: stateless dim lookup on the stream +
    // windowed agg (the always-on twin of q_join_broadcast_dims)
    "q_stream_static_join" -> ((s, d) =>
      EventStreams.streamStaticJoin(s, d)),
    // minhash-LSH pair recall vs the exact jaccard pair set (the
    // number that justifies the sketch at 100 TB); xxhash64-based →
    // rows-only
    "q_minhash_recall" -> ((s, d) => {
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
    }),
    // embedding-LSH pair recall vs the tiled exact pair set — the
    // measured basis for choosing exact-tiled vs LSH-staged dedup at
    // a given threshold (regime math in embeddingCosinePairsLsh's
    // scaladoc). Verify is exact-cosine on both sides, so precision
    // is 1.0 by construction and recall is the number that matters.
    "q_embed_recall" -> ((s, d) => {
      val embs = T(s, d, "embeddings")
      Dedup.pairRecall(
        Dedup.embeddingCosinePairsLsh(embs, 0.35, dim = 64, nBits = 2,
          nTables = 8).select("a_id", "b_id"),
        Dedup.embeddingCosinePairs(embs, 0.35).select("a_id", "b_id"))
    }),
    // the flagship STRUCTURE workflow end-to-end through the facade:
    // synthesize atoms, render to PDB text, parse back distributed,
    // clean (completeness gate) + merge a recoded per-residue table
    // via TableGenerator — the oracle derives the same rows
    // relationally (the render/parse leg's exactness is separately
    // proven by q_fixedwidth_roundtrip)
    "q_structure_pipeline" -> ((s, d) => {
      val out = roundtripDir("structpipe")
      // (orderkey, linenumber) repeats in this corpus — reduce to one
      // deterministic row per position so every atom site is unique
      // (a tied altloc collapse would otherwise pick arbitrarily)
      val li = T(s, d, "lineitem")
        .filter(col("l_orderkey") <= 9999 && col("l_linenumber") <= 4)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(min("l_returnflag").as("l_returnflag"),
          min("l_quantity").as("l_quantity"))
      val atoms = li.select(
        lit("ATOM").as("group_PDB"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("int").as("id"),
        when(col("l_linenumber") === 1, "N")
          .when(col("l_linenumber") === 2, "CA")
          .when(col("l_linenumber") === 3, "C").otherwise("O")
          .as("auth_atom_id"),
        lit("").as("label_alt_id"),
        lit("ALA").as("auth_comp_id"),
        col("l_returnflag").as("auth_asym_id"),
        col("l_orderkey").cast("int").as("auth_seq_id"),
        lit("").as("pdbx_PDB_ins_code"),
        col("l_quantity").as("Cartn_x"),
        col("l_linenumber").cast("double").as("Cartn_y"),
        lit(0.0).as("Cartn_z"),
        lit(1.0).as("occupancy"),
        lit(0.0).as("B_iso_or_equiv"),
        lit("C").as("type_symbol"))
      TextRender.writeText(TextRender.pdbLines(atoms), out)
      val dssp = RowOps.recodeByMap(
        T(s, d, "orders").select(col("o_orderkey").cast("int").as("RES"),
          col("o_orderstatus").as("SS")),
        "SS", "SS_CLASS", Map("O" -> "open", "F" -> "finished"), "other")
      TableGenerator.generate(StructureFormats.pdbAtoms(s, out),
          dssp = Some(dssp.select("RES", "SS_CLASS")),
          dsspKeys = Seq("auth_seq_id" -> "RES"))
        .select(col("auth_asym_id"), col("auth_seq_id"),
          col("auth_atom_id"), col("Cartn_x"), col("Cartn_y"),
          col("SS_CLASS"))
    }),
    // BioUnits chain re-lettering (dssp.py:153-196) as a per-file
    // window recode: synthesized DSSP-ish rows from orders (chain
    // flips every 37 rows, '!*' markers every 11 — so markers inside
    // a chain run increment the copy counter and markers straddling a
    // flip reset it, and counters climb past 36 to exercise the
    // two-char AA.. suffixes), run through dsspFullChain; the oracle
    // re-derives the same recode with window sums
    "q_dssp_full_chain" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w0 = Window.partitionBy("file_id").orderBy("line_no")
      val syn = T(s, d, "orders")
        .select((col("o_orderkey") % 8).as("file_id"),
          col("o_orderkey").as("line_no"))
        .withColumn("r", row_number().over(w0))
        .select(col("file_id"), col("line_no"),
          lit("ABCD").substr(
            (floor(col("r") / 37.0).cast("int") % 4) + 1, lit(1)).as("chain"),
          when(col("r") % 11 === 0, "!*")
            .when(col("r") % 23 === 0, "!")
            .otherwise(lit("ARNDCQEGHILKMFPSTWYV").substr(
              (col("r") % 20).cast("int") + 1, lit(1))).as("aa"))
      StructureFormats.dsspFullChain(syn, fileCol = "file_id",
          orderCol = "line_no", chainCol = "chain", aaCol = "aa",
          as = "chain_full")
        .select("file_id", "line_no", "chain", "aa", "chain_full")
    }),
    // mmCIF→DSSP chain-id import (dssp.py:114-133): synthesized DSSP
    // rows ('!' breaks every 13th) aligned positionally against a
    // synthesized cif residue list with per-row chains; the REAL
    // operator runs (per-file windows + position equi-join + eager
    // consistency gate) while the oracle derives the imported chains
    // relationally — alignment is the identity by construction, so
    // any positional drift in the operator breaks the hash match
    "q_dssp_chain_import" -> ((s, d) => {
      val three = sources.Library.toSingleAa.map(_.swap)
      val threeMap = map(three.toSeq
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      val base = T(s, d, "orders").select(
        (col("o_orderkey") % 4).as("file"), col("o_orderkey").as("line"),
        when(col("o_orderkey") % 13 === 0, "!")
          .otherwise(lit("ARNDCQEGHILKMFPSTWYV").substr(
            (col("o_orderkey") % 20).cast("int") + 1, lit(1))).as("AA"),
        lit("A").as("CHAIN"))
      val cif = base.filter(col("AA") =!= "!").select(col("file"),
        col("line").as("id"),
        element_at(threeMap, col("AA")).as("auth_comp_id"),
        lit("XYZ").substr((col("line") % 3).cast("int") + 1, lit(1))
          .as("auth_asym_id"))
      StructureFormats.dsspImportChainIds(base, cif,
          keyCol = "file", orderCol = "line")
        .select(col("file"), col("line"), col("AA").as("aa"),
          col("CHAIN").as("chain"))
    }),
    // the WHOLE training-data pipeline in one call: scrub -> jaccard
    // dedup -> benchmark decontamination -> deterministic split ->
    // context packing, hash-matched end-to-end against a composite
    // DuckDB oracle assembled from the per-stage oracles
    "q_corpus_prepare" -> ((s, d) => {
      val docs = T(s, d, "documents")
      CorpusPipeline.prepare(docs.filter(col("doc_id") >= 25),
          CorpusPipeline.Config(
            dedupMethod = "jaccard", dedupThreshold = 0.9,
            dedupBlockingKeys = Seq("source"),
            decontaminateAgainst = Some(docs.filter(col("doc_id") < 25)
              .select("doc_id", "text")),
            packBudget = Some(512L)))
        .select("doc_id", "lang", "source", "bucket", "split",
          "n_tokens", "bin_id")
    }),
    // the COMPLETE production last mile, one call: prepare (scrub →
    // dedup → decontaminate → split) → train slice → real encode →
    // subword-budget bins + offsets → content-hash shards + ranks.
    // Oracle = the three stage chains composed via shared CTE
    // builders, hash-checked end-to-end
    "q_training_export" -> ((s, d) => {
      val docs = T(s, d, "documents")
      CorpusPipeline.prepareTrainingExport(
        docs.filter(col("doc_id") >= 25),
        CorpusPipeline.Config(
          dedupMethod = "jaccard", dedupThreshold = 0.9,
          dedupBlockingKeys = Seq("source"),
          decontaminateAgainst = Some(docs.filter(col("doc_id") < 25)
            .select("doc_id", "text"))),
        bpeEncodeVocab, budget = 512L, nShards = 8, nBuckets = 16)
    }),
    // variant-payload normalization end-to-end (variants.py:622): a
    // deterministic Proteins-API-shaped JSON payload is synthesized
    // per document, then flattened features -> xref split ->
    // merge-down; the oracle reproduces the derivation relationally
    "q_variants_flatten" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val xrefs = array(
        struct(lit("dbSNP").as("name"),
          concat(lit("rs"), pmod(col("doc_id"), lit(37)).cast("string"))
            .as("id")),
        struct(lit("ClinVar").as("name"),
          concat(lit("rcv"), pmod(col("doc_id"), lit(13)).cast("string"))
            .as("id")))
      val payload = docs.select(to_json(struct(
        concat(lit("P"), pmod(col("doc_id"), lit(50)).cast("string"))
          .as("accession"),
        lit("GRAFT_ENTRY").as("entryName"),
        array(
          struct(lit("VARIANT").as("type"),
            (pmod(col("n_chars"), lit(900)) + 1).cast("string").as("begin"),
            (pmod(col("n_chars"), lit(900)) + 3).cast("string").as("end"),
            upper(substring(col("lang"), 1, 1)).as("wildType"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              lit("synonymous_variant")).otherwise(lit("missense_variant"))
              .as("consequenceType"),
            xrefs.as("xrefs")),
          struct(lit("MUTAGEN").as("type"),
            (pmod(col("n_chars"), lit(900)) + 5).cast("string").as("begin"),
            (pmod(col("n_chars"), lit(900)) + 7).cast("string").as("end"),
            upper(substring(col("source"), 1, 1)).as("wildType"),
            lit("mutagenesis").as("consequenceType"),
            slice(xrefs, 1, 1).as("xrefs"))).as("features"))).as("json"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "accession string, entryName string, features array<struct<" +
          "type:string, begin:string, end:string, wildType:string, " +
          "consequenceType:string, " +
          "xrefs:array<struct<name:string, id:string>>>>")
      Variants.flattenUniprotVariants(payload, "json", schema)
    }),
    // viewer attribute file (visualise.py defattr shape): header +
    // ':key<TAB>value' body rendered distributed, parsed back —
    // double→string→double roundtrips bit-exactly in Java
    "q_attr_render_roundtrip" -> ((s, d) => {
      import s.implicits._
      val out = roundtripDir("attr")
      val (header, body) = TextRender.attributeLines(
        T(s, d, "customer").select("c_custkey", "c_acctbal"),
        "c_custkey", "c_acctbal", "acctbal")
      val headerDf = header.toDF("value")
      TextRender.writeText(headerDf.unionByName(body), out)
      val re = "^:([^\\t]+)\\t(.*)$"
      s.read.text(out)
        .filter(col("value").startsWith(":"))
        .select(
          regexp_extract(col("value"), re, 1).cast("long").as("c_custkey"),
          regexp_extract(col("value"), re, 2).cast("double").as("c_acctbal"))
    }),
    // JSONL (the interchange format of corpus pipelines): render each
    // doc as one JSON line, read back as text + from_json, aggregate
    "q_jsonl_roundtrip" -> ((s, d) => {
      val out = roundtripDir("jsonl")
      val docs = T(s, d, "documents")
      TextRender.writeText(
        docs.select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value")), out)
      s.read.text(out)
        .select(from_json(col("value"), docs.schema).as("r"))
        .select("r.*")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_text_len"))
    }))

  /** Oracle for q_ann_pq, generated because the four subspaces are
    * mechanical repeats: per subspace — seed slice (same 8
    * hash-ordered rows as q_ann_ivf), one Lloyd round (ordered-fold
    * squared-L2 argmin + fixed-point tick means), encode; then ADC =
    * the four per-subspace d2 terms summed in subspace order and the
    * per-probe top-5 over label-routed candidates. */
  private def annPqOracle: String =
    s"""WITH $annPqScoredCtes
       |SELECT probe_id, CAST(rnk AS INT) AS rank, neighbor_id, adc FROM (
       |SELECT probe_id, neighbor_id, adc,
       |ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc ASC, neighbor_id) AS rnk
       |FROM scored) WHERE rnk <= 5""".stripMargin

  /** Oracle for q_ann_pq_refine: the SAME ADC chain fetched wide
    * (rnk <= 10), then the exact-cosine re-rank CTE — the cosine
    * tree is the q_ann_brute_topk one verbatim, so the refine
    * contract ("rescored like brute force, over the shortlist
    * only") is what the hash checks. */
  private def annPqRefineOracle: String =
    s"""WITH $annPqScoredCtes,
       |short AS (SELECT probe_id, neighbor_id FROM (
       |SELECT probe_id, neighbor_id,
       |ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc ASC, neighbor_id) AS rnk
       |FROM scored) WHERE rnk <= 10),
       |v AS (SELECT vec_id, embedding,
       |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |FROM embeddings),
       |rescored AS (SELECT s.probe_id, s.neighbor_id,
       |CASE WHEN p.nrm * c.nrm = 0 THEN 0.0 ELSE
       |list_sum(list_transform(list_zip(p.embedding, c.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (p.nrm * c.nrm) END AS cos
       |FROM short s JOIN v p ON s.probe_id = p.vec_id
       |JOIN v c ON s.neighbor_id = c.vec_id)
       |SELECT probe_id, CAST(rnk AS INT) AS rank, neighbor_id, cos FROM (
       |SELECT probe_id, neighbor_id, cos,
       |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
       |FROM rescored) WHERE rnk <= 5""".stripMargin

  private def annPqScoredCtes: String = {
    val m = 4; val sub = 16
    def d2(vec: String, cent: String, s: Int): String =
      s"list_sum(list_transform(range(1, ${sub + 1}), i -> " +
        s"($vec[${s * sub}+i] - $cent[i]) * ($vec[${s * sub}+i] - $cent[i])))"
    val perSub = (0 until m).map { s =>
      s"""seed_$s AS (SELECT cell, c[${s * sub + 1}:${s * sub + sub}] AS c FROM seed),
         |a0_$s AS (SELECT vec_id, v, cell FROM (
         |SELECT d.vec_id, d.v, s.cell,
         |ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY ${d2("d.v", "s.c", s)}, s.cell) AS rn
         |FROM dv d CROSS JOIN seed_$s s) WHERE rn = 1),
         |m1_$s AS (SELECT cell, i.i AS pos,
         |CAST(SUM(CAST(floor(v[${s * sub}+i.i] * 1000000.0) AS BIGINT)) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS m
         |FROM a0_$s CROSS JOIN generate_series(1, $sub) i(i) GROUP BY cell, i.i),
         |cb_$s AS (SELECT s.cell, COALESCE(mm.c, s.c) AS c FROM seed_$s s
         |LEFT JOIN (SELECT cell, list(m ORDER BY pos) AS c FROM m1_$s GROUP BY cell) mm
         |ON s.cell = mm.cell),
         |code_$s AS (SELECT vec_id, cell AS code FROM (
         |SELECT d.vec_id, s.cell,
         |ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY ${d2("d.v", "s.c", s)}, s.cell) AS rn
         |FROM dv d CROSS JOIN cb_$s s) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (0 until m).map(s =>
      s"JOIN code_$s k$s ON k$s.vec_id = cand.neighbor_id " +
        s"JOIN cb_$s b$s ON b$s.cell = k$s.code").mkString("\n")
    val adcSum = (0 until m).map(s => d2("cand.pv", s"b$s.c", s))
      .mkString(" + ")
    s"""dv AS (SELECT vec_id, label,
       |list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |seed AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) AS INT) - 1 AS cell, v AS c
       |FROM (SELECT vec_id, v,
       |CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM dv)
       |ORDER BY h LIMIT 8),
       |$perSub,
       |cand AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, p.v AS pv
       |FROM dv p JOIN dv c ON p.label = c.label AND p.vec_id <> c.vec_id
       |WHERE p.vec_id < 4),
       |scored AS (SELECT cand.probe_id, cand.neighbor_id, $adcSum AS adc
       |FROM cand
       |$codeJoins)""".stripMargin
  }

  /** DuckDB oracle SQL per SQL-expressible query (driver runs these
    * on the same parquet tables and hash-compares). Omitted keys get
    * the driver's weaker rows-only check. */
  def oracleSql: Map[String, String] = oracleSqlBase ++
    // the *_range names alias their base queries (see queries), so
    // the oracle SQL is shared verbatim
    rangeAliased.map(q => s"${q}_range" -> oracleSqlBase(q)).toMap +
    // same sharing for the BoundedTopK form of the per-group cap
    ("q_cap_per_group_topk" -> oracleSqlBase("q_cap_per_group")) +
    // queries that must equal another query's result, so the oracle
    // is shared verbatim: alternating-stars vs plain connected
    // components, stateful-stream vs batch sessions, streamed vs
    // batch tumbling window, Clustal vs Stockholm roundtrip
    ("q_dedup_cluster_stars" -> oracleSqlBase("q_dedup_cluster")) +
    ("q_stateful_sessions" -> oracleSqlBase("q_sessionize")) +
    ("q_stream_window" -> oracleSqlBase("q_window_agg_time")) +
    ("q_clustal_roundtrip" -> oracleSqlBase("q_stockholm_roundtrip")) +
    // scale-safe exact percentiles: bit-identical to the exact
    // aggregate, so the oracle is shared verbatim
    ("q_quantiles_scale" -> oracleSqlBase("q_quantiles")) +
    // k-means profile: composes the SAME named ivfTrainCtes constant
    // as the q_ann_ivf oracle (dv → seed → two Lloyd rounds → cc) so
    // the two fits stay in lockstep by construction — with the
    // search tail swapped for the per-cell label rollup
    ("q_kmeans_profile" -> {
      ivfTrainCtes +
        """kp AS (SELECT cc.cell, e.label, CAST(COUNT(*) AS BIGINT) AS c
          |FROM cc JOIN embeddings e ON cc.vec_id = e.vec_id GROUP BY 1, 2),
          |t AS (SELECT cell, CAST(SUM(c) AS BIGINT) AS n_vecs FROM kp GROUP BY cell),
          |r AS (SELECT cell, label, c, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY c DESC, label ASC) AS rn FROM kp)
          |SELECT t.cell, t.n_vecs, CAST(r.label AS BIGINT) AS top_label,
          |r.c AS top_label_n, (1000000 * r.c) // t.n_vecs AS purity_ppm
          |FROM t JOIN r ON t.cell = r.cell AND r.rn = 1""".stripMargin
    }) +
    // streaming decontamination gate: the bench index is static, so
    // the streamed verdict is batch-equivalent by construction — the
    // fuzzy-decontamination oracle is shared verbatim
    ("q_stream_decontaminate" -> oracleSqlBase("q_decontaminate_fuzzy")) +
    // streaming keyed merge: same final keep-latest table as the
    // whole-rewrite upsert — oracle shared verbatim
    ("q_stream_merge" -> oracleSqlBase("q_stream_upsert")) +
    // warc-to-corpus: the WARC leg is a lossless identity, so the
    // oracle is the L15 crawl-front CTE chain with ONLY the
    // url-synthesis CTE swapped for the doc_id-recoverable fixture —
    // derived programmatically so the two chains stay in lockstep
    ("q_warc_to_corpus" -> oracleSqlBase("q_crawl_prepare_full").replace(
      """ELSE CASE CAST(doc_id % 4 AS INTEGER)
        |WHEN 0 THEN 'https://Example.COM/articles/item-' || CAST(doc_id // 4 AS VARCHAR)
        |WHEN 1 THEN 'https://www.example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '/'
        |WHEN 2 THEN 'https://example.com:443/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
        |ELSE 'http://example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1#section' END END AS url""".stripMargin,
      "ELSE 'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) END AS url")) +
    // blocks leg: the same derived chain, with the flat extraction
    // CTEs (hx/ex) swapped for the q_html_extract_blocks scoring
    // replay over the per-line <p> body — derived programmatically
    // so the block keep-rule and the crawl chain cannot drift
    ("q_crawl_prepare_blocks" -> {
      val base = oracleSqlBase("q_crawl_prepare_full")
      val start = base.indexOf("hx AS (")
      val end = base.indexOf("nf AS (")
      require(start >= 0 && end > start,
        "crawl oracle drifted: hx/ex extraction markers missing")
      base.substring(0, start) + crawlBlocksCtes + base.substring(end)
    }) +
    // WET leg: the same derived chain, with the HTML-synthesis +
    // extraction CTEs collapsed to identity — conversion payloads
    // ARE the extracted text (derived programmatically from the L15
    // oracle so the three chains stay in lockstep)
    ("q_wet_to_corpus" -> {
      val base = oracleSqlBase("q_crawl_prepare_full").replace(
        """ELSE CASE CAST(doc_id % 4 AS INTEGER)
          |WHEN 0 THEN 'https://Example.COM/articles/item-' || CAST(doc_id // 4 AS VARCHAR)
          |WHEN 1 THEN 'https://www.example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '/'
          |WHEN 2 THEN 'https://example.com:443/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
          |ELSE 'http://example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1#section' END END AS url""".stripMargin,
        "ELSE 'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) END AS url")
      val start = base.indexOf("hx AS (")
      val end = base.indexOf("nf AS (")
      require(start >= 0 && end > start,
        "crawl oracle drifted: hx/ex extraction markers missing")
      base.substring(0, start) +
        "ex AS (SELECT doc_id, text FROM d),\n" + base.substring(end)
    })

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "q_ann_pq" -> annPqOracle,
    "q_ann_pq_refine" -> annPqRefineOracle,
    // layout prune: the write is layout-only, so the oracle is the
    // same filter+agg straight off the raw table (min/max are
    // order-independent — no double sums)
    "q_layout_prune" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'
        |GROUP BY event_type""".stripMargin,
    // hard negatives: the brute-force cosine replay + the
    // different-label predicate on the candidate join
    "q_hard_negatives" ->
      """WITH v AS (SELECT vec_id, label, embedding,
        |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |FROM embeddings),
        |p AS (SELECT * FROM v WHERE vec_id < 8),
        |scored AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |CASE WHEN p.nrm * c.nrm = 0 THEN 0.0 ELSE
        |list_sum(list_transform(list_zip(p.embedding, c.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (p.nrm * c.nrm) END AS cos
        |FROM p JOIN v c ON p.vec_id <> c.vec_id AND p.label <> c.label)
        |SELECT probe_id, CAST(rnk AS INT) AS rank, neighbor_id, cos FROM (
        |SELECT probe_id, neighbor_id, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
        |FROM scored) WHERE rnk <= 5""".stripMargin,
    "q_filter_eq" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,
    "q_filter_in" ->
      """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""".stripMargin,
    "q_filter_not" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')""".stripMargin,
    "q_project_exclude" ->
      "SELECT p_partkey, p_name, p_brand, p_size FROM part",
    "q_cast_types" ->
      """SELECT CAST(s_suppkey AS DOUBLE) AS s_suppkey, s_name,
        |CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |COALESCE(CASE WHEN s_acctbal < 0 THEN NULL ELSE s_acctbal END, 0.0) AS s_acctbal
        |FROM supplier""".stripMargin,
    "q_explode_split" ->
      """SELECT o_orderkey, unnest(string_split(o_orderpriority, '-')) AS element
        |FROM orders""".stripMargin,
    "q_collapse_group" ->
      """SELECT o_orderstatus, string_agg(o_orderpriority, ';' ORDER BY o_orderpriority) AS o_orderpriority
        |FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        |GROUP BY o_orderstatus""".stripMargin,
    "q_derive_concat_key" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS res_full
        |FROM lineitem""".stripMargin,
    "q_recode_class" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 25 THEN 'mid' ELSE 'high' END AS qty_class
        |FROM lineitem""".stripMargin,
    "q_scaled_ratio" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |l_quantity / (CASE l_returnflag WHEN 'A' THEN CAST(17.0 AS DOUBLE) WHEN 'N' THEN CAST(23.5 AS DOUBLE) WHEN 'R' THEN CAST(31.0 AS DOUBLE) END) * CAST(100.0 AS DOUBLE) AS qty_rsa
        |FROM lineitem""".stripMargin,
    "q_annotation_agg" ->
      """WITH feats AS (
        |SELECT o_orderkey AS line_id,
        |['Domain','Active site','Helix','Site','Chain','Region'][(o_orderkey % 6) + 1] AS t,
        |o_orderkey % 97 + 1 AS s, o_orderkey % 97 + 1 + o_orderkey % 4 AS e,
        |CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |ELSE 'note' || CAST(o_orderkey % 7 AS VARCHAR) END AS note,
        |CASE WHEN o_orderkey % 5 = 0
        |THEN 'PRO_' || CAST(o_orderkey AS VARCHAR) END AS id
        |FROM orders),
        |lab AS (
        |SELECT line_id, s, e,
        |CASE WHEN id IS NULL AND note IS NULL THEN t
        |WHEN id IS NULL THEN t || ': ' || note
        |WHEN note IS NULL THEN t || ' (' || id || ')'
        |ELSE t || ': ' || note || ' (' || id || ')' END AS annotation
        |FROM feats WHERE t NOT IN ('Helix','Beta strand','Turn','Chain')),
        |expl AS (
        |SELECT line_id, annotation, unnest(generate_series(s, e)) AS idx
        |FROM lab)
        |SELECT string_agg(annotation, ', ' ORDER BY line_id) AS annotation,
        |CAST(idx AS VARCHAR) AS site, 'P12345' AS accession
        |FROM expl GROUP BY idx""".stripMargin,
    "q_sifts_wide" ->
      """WITH base AS (
        |SELECT n_name AS entity, n_nationkey AS nk, resnum
        |FROM nation, (SELECT unnest(generate_series(1, 6)) AS resnum))
        |SELECT
        |'2pah' AS "PDB_dbAccessionId",
        |CAST(resnum + 100 AS VARCHAR) AS "PDB_dbResNum",
        |'VAL' AS "PDB_dbResName",
        |substr(entity, 1, 1) AS "PDB_dbChainId",
        |'-' AS "PDB_regionId",
        |CAST(0 AS BIGINT) AS "PDB_regionStart",
        |CAST(0 AS BIGINT) AS "PDB_regionEnd",
        |CAST(NULL AS BIGINT) AS "PDB_regionResNum",
        |'AC' || CAST(nk AS VARCHAR) AS "UniProt_dbAccessionId",
        |CAST(resnum + 17 AS VARCHAR) AS "UniProt_dbResNum",
        |'V' AS "UniProt_dbResName",
        |CAST(NULL AS VARCHAR) AS "UniProt_dbChainId",
        |'1' AS "UniProt_regionId",
        |CAST(1 AS BIGINT) AS "UniProt_regionStart",
        |CAST(200 AS BIGINT) AS "UniProt_regionEnd",
        |CAST(resnum AS BIGINT) AS "UniProt_regionResNum",
        |CASE WHEN resnum <= 3
        |THEN '1.10.800.' || CAST(nk AS VARCHAR) END AS "CATH_dbAccessionId",
        |'-' AS "CATH_regionId",
        |CAST(0 AS BIGINT) AS "CATH_regionStart",
        |CAST(0 AS BIGINT) AS "CATH_regionEnd",
        |CAST(NULL AS BIGINT) AS "CATH_regionResNum",
        |'Observed' AS "PDB_Annotation",
        |entity AS "PDB_entityId"
        |FROM base""".stripMargin,
    "q_table_merger" ->
      """WITH chains AS (SELECT * FROM (VALUES ('A'), ('B')) c(ch)),
        |res AS (SELECT CAST(r AS INT) AS rn FROM range(1, 41) t(r)),
        |ks AS (SELECT ch, rn FROM chains CROSS JOIN res),
        |mmcif AS (SELECT ch AS auth_asym_id, rn AS auth_seq_id,
        |CAST(rn AS VARCHAR) AS auth_seq_id_full,
        |'atom_' || ch || '_' || CAST(rn AS VARCHAR) AS atom_tag FROM ks),
        |dssp AS (SELECT CAST(rn AS VARCHAR) AS "RES_FULL",
        |ch AS "CHAIN_FULL", ['H','E','-'][(rn % 3) + 1] AS "SS"
        |FROM ks WHERE rn <= 30),
        |vald AS (SELECT CAST(rn AS VARCHAR) AS validation_resnum_full,
        |ch AS validation_chain, CAST(rn AS DOUBLE) / 40.0 AS validation_rsr
        |FROM ks WHERE rn % 2 = 0),
        |sifts AS (SELECT CAST(rn AS VARCHAR) AS "PDB_dbResNum",
        |ch AS "PDB_dbChainId", 'P00439' AS "UniProt_dbAccessionId",
        |CAST(rn + 17 AS VARCHAR) AS "UniProt_dbResNum" FROM ks),
        |ann AS (SELECT 'P00439' AS accession,
        |CAST(rn + 17 AS VARCHAR) AS site,
        |'Domain (PRO_' || CAST(rn AS VARCHAR) || ')' AS annotation
        |FROM res WHERE rn % 3 = 0),
        |vars AS (SELECT 'P00439' AS accession, rn + 17 AS beg,
        |'VAR_' || CAST(rn AS VARCHAR) AS variant_id
        |FROM res WHERE rn % 4 = 0),
        |sifts2 AS (SELECT s.*, a.accession AS accession_x, a.site,
        |a.annotation FROM sifts s LEFT JOIN ann a
        |ON s."UniProt_dbAccessionId" = a.accession
        |AND s."UniProt_dbResNum" = a.site),
        |sifts3 AS (SELECT s.*, v.accession AS accession_y,
        |CAST(v.beg AS VARCHAR) AS "begin", v.variant_id
        |FROM sifts2 s LEFT JOIN vars v
        |ON s."UniProt_dbAccessionId" = v.accession
        |AND s."UniProt_dbResNum" = CAST(v.beg AS VARCHAR)),
        |mm2 AS (SELECT m.*, d."RES_FULL", d."CHAIN_FULL", d."SS"
        |FROM mmcif m LEFT JOIN dssp d
        |ON m.auth_seq_id_full = d."RES_FULL"
        |AND m.auth_asym_id = d."CHAIN_FULL"),
        |mm3 AS (SELECT m.*, v.validation_resnum_full, v.validation_chain,
        |v.validation_rsr FROM mm2 m LEFT JOIN vald v
        |ON m.auth_seq_id_full = v.validation_resnum_full
        |AND m.auth_asym_id = v.validation_chain)
        |SELECT m.*, s.* FROM mm3 m LEFT JOIN sifts3 s
        |ON m.auth_seq_id_full = s."PDB_dbResNum"
        |AND m.auth_asym_id = s."PDB_dbChainId"""".stripMargin,
    "q_filter_structures" ->
      """WITH atoms0 AS (
        |SELECT l_orderkey * 8 + l_linenumber AS id,
        |CASE WHEN l_orderkey % 13 = 0 THEN 'HETATM' ELSE 'ATOM' END AS grp,
        |CAST(CASE WHEN l_orderkey % 5 = 0 THEN 2 ELSE 1 END AS INT) AS model,
        |['A','B'][(l_orderkey % 2) + 1] AS chain,
        |CAST(l_orderkey % 97 AS INT) AS seq,
        |CASE WHEN l_orderkey % 11 = 0 THEN 'A' ELSE '?' END AS icode,
        |['GLY','ALA','HOH'][((l_orderkey % 97) % 3) + 1] AS comp,
        |['N','O','CA','C','CB','H'][(l_linenumber % 6) + 1] AS atom,
        |'.' AS alt,
        |CAST(l_quantity AS DOUBLE) AS x,
        |CAST(l_extendedprice AS DOUBLE) / 1000 AS y,
        |CAST(l_discount AS DOUBLE) * 100 AS z
        |FROM lineitem WHERE l_orderkey <= 9999),
        |atoms1 AS (SELECT *, substr(atom, 1, 1) AS tsym FROM atoms0),
        |m1 AS (SELECT * FROM atoms1
        |WHERE model = (SELECT model FROM atoms1 ORDER BY id LIMIT 1)),
        |rf AS (SELECT *,
        |CAST(seq AS VARCHAR) || replace(icode, '?', '') AS seq_full
        |FROM m1),
        |noh AS (SELECT * FROM rf WHERE tsym <> 'H'),
        |bad AS (SELECT chain, seq FROM noh
        |WHERE grp = 'ATOM' AND comp IN ('GLY', 'ALA')
        |GROUP BY chain, seq
        |HAVING COUNT(DISTINCT CASE
        |WHEN comp = 'GLY' AND atom IN ('N','O','CA','C') THEN atom
        |WHEN comp = 'ALA' AND atom IN ('N','O','CA','C','CB') THEN atom
        |END) <
        |MAX(CASE comp WHEN 'GLY' THEN 4 WHEN 'ALA' THEN 5 END)),
        |kept AS (SELECT n.* FROM noh n
        |WHERE NOT EXISTS (SELECT 1 FROM bad b
        |WHERE b.chain = n.chain AND b.seq = n.seq)),
        |rst AS (SELECT * EXCLUDE (id),
        |CAST(ROW_NUMBER() OVER (ORDER BY id) AS INT) AS id FROM kept),
        |sel AS (SELECT * FROM rst WHERE comp IN ('GLY', 'ALA'))
        |SELECT model AS "pdbx_PDB_model_num", chain AS auth_asym_id,
        |seq AS auth_seq_id,
        |MIN(id) AS id,
        |ARG_MIN(grp, id) AS "group_PDB",
        |ARG_MIN(icode, id) AS "pdbx_PDB_ins_code",
        |ARG_MIN(comp, id) AS auth_comp_id,
        |ARG_MIN(atom, id) AS auth_atom_id,
        |ARG_MIN(alt, id) AS label_alt_id,
        |CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(x) AS "Cartn_x",
        |CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(y) AS "Cartn_y",
        |CAST(SUM(CAST(z AS DECIMAL(28,6))) AS DOUBLE) / COUNT(z) AS "Cartn_z",
        |ARG_MIN(tsym, id) AS type_symbol,
        |ARG_MIN(seq_full, id) AS auth_seq_id_full
        |FROM sel GROUP BY model, chain, seq""".stripMargin,
    "q_rsa_methods" -> {
      // CASE chains generated from the SAME Library constant maps the
      // operator compiles into its when-chains — the shipped ASA
      // values are exactly what the hash compare certifies
      def rsaCase(m: Map[String, Double], as: String): String =
        "CASE AA " + sources.Library.aaCodes1to3Extended.toSeq.sortBy(_._1)
          .flatMap { case (one, three) => m.get(three).map(one -> _) }
          .map { case (l, v) =>
            s"WHEN '$l' THEN ROUND(ACC / CAST($v AS DOUBLE) * 100, 3)" }
          .mkString(" ") + s" ELSE NULL END AS $as"
      s"""SELECT l_orderkey, l_linenumber, AA, ACC, RSA, RSA_MILLER, RSA_SANDER,
         |CASE WHEN RSA IS NULL THEN '-' WHEN RSA >= 25.0 THEN 'Surface' WHEN RSA >= 5.0 THEN 'Part. Exposed' ELSE 'Core' END AS RSA_CLASS
         |FROM (SELECT l_orderkey, l_linenumber, AA, ACC,
         |${rsaCase(sources.Library.asaWilke, "RSA")},
         |${rsaCase(sources.Library.asaMiller, "RSA_MILLER")},
         |${rsaCase(sources.Library.asaSander, "RSA_SANDER")}
         |FROM (SELECT l_orderkey, l_linenumber,
         |substring('$rsaAlphabet', CAST((l_orderkey + l_linenumber) % ${rsaAlphabet.length} AS INT) + 1, 1) AS AA,
         |CAST(l_quantity AS DOUBLE) AS ACC FROM lineitem))""".stripMargin
    },
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4))) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |CAST(SUM(CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_centroid" ->
      """SELECT l_suppkey,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_quantity) AS l_quantity_centroid,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_extendedprice) AS l_extendedprice_centroid,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY l_suppkey""".stripMargin,
    "q_agg_first" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        |SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
        |FROM lineitem) WHERE rn = 1""".stripMargin,
    "q_seq_concat" ->
      """SELECT l_orderkey, string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag) AS seq
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q_having_complete" ->
      """SELECT l_orderkey, COUNT(*) AS n_members FROM lineitem
        |GROUP BY l_orderkey HAVING COUNT(*) >= 5""".stripMargin,
    "q_annotation_collapse" ->
      """SELECT lang, string_agg(source, ';' ORDER BY source) AS source
        |FROM (SELECT DISTINCT lang, source FROM documents)
        |GROUP BY lang""".stripMargin,
    "q_seq_index_map" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |CASE WHEN l_linenumber % 4 = 0 THEN NULL
        |ELSE CAST(l_linenumber + l_orderkey % 5 AS INT) END AS mapped_idx
        |FROM lineitem""".stripMargin,
    "q_structure_pipeline" ->
      """WITH li AS (
        |SELECT l_orderkey, l_linenumber, MIN(l_returnflag) AS l_returnflag,
        |MIN(l_quantity) AS l_quantity
        |FROM lineitem WHERE l_orderkey <= 9999 AND l_linenumber <= 4
        |GROUP BY 1, 2),
        |atoms AS (
        |SELECT l_returnflag AS auth_asym_id, CAST(l_orderkey AS INT) AS auth_seq_id,
        |CASE l_linenumber WHEN 1 THEN 'N' WHEN 2 THEN 'CA' WHEN 3 THEN 'C' ELSE 'O' END AS auth_atom_id,
        |l_quantity AS cx, CAST(l_linenumber AS DOUBLE) AS cy
        |FROM li),
        |complete AS (SELECT auth_asym_id, auth_seq_id FROM atoms
        |GROUP BY 1, 2 HAVING COUNT(*) >= 4),
        |kept AS (SELECT a.* FROM atoms a JOIN complete USING (auth_asym_id, auth_seq_id)),
        |dssp AS (SELECT CAST(o_orderkey AS INT) AS res,
        |CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished' ELSE 'other' END AS ss
        |FROM orders)
        |SELECT k.auth_asym_id, k.auth_seq_id, k.auth_atom_id,
        |k.cx AS "Cartn_x", k.cy AS "Cartn_y", dssp.ss AS "SS_CLASS"
        |FROM kept k LEFT JOIN dssp ON k.auth_seq_id = dssp.res""".stripMargin,
    "q_dssp_full_chain" ->
      """WITH base AS (
        |SELECT o_orderkey % 8 AS file_id, o_orderkey AS line_no,
        |row_number() OVER (PARTITION BY o_orderkey % 8 ORDER BY o_orderkey) AS r
        |FROM orders),
        |syn AS (
        |SELECT file_id, line_no,
        |substr('ABCD', (CAST(FLOOR(r / 37.0) AS INT) % 4) + 1, 1) AS chain,
        |CASE WHEN r % 11 = 0 THEN '!*' WHEN r % 23 = 0 THEN '!'
        |ELSE substr('ARNDCQEGHILKMFPSTWYV', CAST(r % 20 AS INT) + 1, 1) END AS aa
        |FROM base),
        |nbr AS (
        |SELECT *, (lag(chain) OVER (PARTITION BY file_id ORDER BY line_no)
        |IS NOT DISTINCT FROM lead(chain) OVER (PARTITION BY file_id ORDER BY line_no)) AS same_nbr
        |FROM syn),
        |marks AS (
        |SELECT *, CASE WHEN aa = '!*' AND same_nbr THEN 1 ELSE 0 END AS inc,
        |CASE WHEN aa = '!*' AND NOT same_nbr THEN 1 ELSE 0 END AS rst
        |FROM nbr),
        |grps AS (
        |SELECT *, SUM(rst) OVER (PARTITION BY file_id ORDER BY line_no ROWS UNBOUNDED PRECEDING) AS grp
        |FROM marks),
        |cs AS (
        |SELECT *, SUM(inc) OVER (PARTITION BY file_id, grp ORDER BY line_no ROWS UNBOUNDED PRECEDING) - 1 AS c
        |FROM grps)
        |SELECT file_id, line_no, chain, aa,
        |CASE WHEN c >= 0 AND aa NOT IN ('!', '!*') THEN chain ||
        |CASE WHEN c < 36 THEN substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789', CAST(c AS INT) + 1, 1)
        |WHEN c < 72 THEN 'A' || substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789', CAST(c AS INT) - 35, 1)
        |ELSE 'B' || substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789', CAST(c AS INT) - 71, 1) END
        |ELSE chain END AS chain_full
        |FROM cs""".stripMargin,
    "q_dssp_chain_import" ->
      """SELECT o_orderkey % 4 AS file, o_orderkey AS line,
        |CASE WHEN o_orderkey % 13 = 0 THEN '!'
        |ELSE substr('ARNDCQEGHILKMFPSTWYV', CAST(o_orderkey % 20 AS INT) + 1, 1) END AS aa,
        |CASE WHEN o_orderkey % 13 = 0 THEN 'A'
        |ELSE substr('XYZ', CAST(o_orderkey % 3 AS INT) + 1, 1) END AS chain
        |FROM orders""".stripMargin,
    "q_corpus_prepare" ->
      s"""WITH RECURSIVE $corpusPrepareCtes
         |SELECT doc_id, lang, source, bucket, split, n_tokens,
         |CAST(floor((SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512) AS BIGINT) AS bin_id
         |FROM tokd""".stripMargin,
    "q_variants_flatten" ->
      """WITH feats AS (
        |SELECT 'P' || CAST(doc_id % 50 AS VARCHAR) AS accession, 'GRAFT_ENTRY' AS en,
        |'VARIANT' AS ftype, CAST(n_chars % 900 + 1 AS INT) AS fbegin, CAST(n_chars % 900 + 3 AS INT) AS fend,
        |upper(substr(lang, 1, 1)) AS wt,
        |CASE WHEN doc_id % 3 = 0 THEN 'synonymous_variant' ELSE 'missense_variant' END AS ct,
        |'rs' || CAST(doc_id % 37 AS VARCHAR) AS xid FROM documents
        |UNION ALL
        |SELECT 'P' || CAST(doc_id % 50 AS VARCHAR), 'GRAFT_ENTRY',
        |'VARIANT', CAST(n_chars % 900 + 1 AS INT), CAST(n_chars % 900 + 3 AS INT),
        |upper(substr(lang, 1, 1)),
        |CASE WHEN doc_id % 3 = 0 THEN 'synonymous_variant' ELSE 'missense_variant' END,
        |'rcv' || CAST(doc_id % 13 AS VARCHAR) FROM documents
        |UNION ALL
        |SELECT 'P' || CAST(doc_id % 50 AS VARCHAR), 'GRAFT_ENTRY',
        |'MUTAGEN', CAST(n_chars % 900 + 5 AS INT), CAST(n_chars % 900 + 7 AS INT),
        |upper(substr(source, 1, 1)), 'mutagenesis',
        |'rs' || CAST(doc_id % 37 AS VARCHAR) FROM documents)
        |SELECT accession, xid AS xrefs_id,
        |string_agg(DISTINCT en, ';' ORDER BY en) AS "entryName",
        |string_agg(DISTINCT ftype, ';' ORDER BY ftype) AS "type",
        |string_agg(DISTINCT CAST(fbegin AS VARCHAR), ';' ORDER BY CAST(fbegin AS VARCHAR)) AS "begin",
        |string_agg(DISTINCT CAST(fend AS VARCHAR), ';' ORDER BY CAST(fend AS VARCHAR)) AS "end",
        |string_agg(DISTINCT wt, ';' ORDER BY wt) AS "wildType",
        |string_agg(DISTINCT ct, ';' ORDER BY ct) AS "consequenceType"
        |FROM feats GROUP BY accession, xid""".stripMargin,
    "q_join_left_composite" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, g.grp_qty
        |FROM lineitem l LEFT JOIN (
        |SELECT l_orderkey, l_returnflag,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS grp_qty
        |FROM lineitem GROUP BY 1, 2) g
        |ON l.l_orderkey = g.l_orderkey AND l.l_returnflag = g.l_returnflag""".stripMargin,
    "q_join_broadcast_dims" ->
      """SELECT r_name, COUNT(*) AS n_customers,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q_multiway_merge" ->
      """SELECT n_name,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n
        |FROM lineitem
        |LEFT JOIN orders ON l_orderkey = o_orderkey
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin,
    "q_union_dedup" ->
      """SELECT l_orderkey AS key FROM lineitem WHERE l_returnflag = 'A'
        |UNION
        |SELECT o_orderkey AS key FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "q_semi_anti" ->
      """SELECT 'semi' AS kind, c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT 'anti' AS kind, c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "q_dedup_keep_best" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        |FROM lineitem) WHERE rn = 1""".stripMargin,
    "q_window_lag" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta_us
        |FROM events""".stripMargin,
    "q_window_rolling" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE) AS roll_sum,
        |COUNT(value) OVER w AS roll_n,
        |CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE) / COUNT(value) OVER w AS roll_mean
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |f AS (SELECT user_id, us,
        |CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |  OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |  THEN 1 ELSE 0 END AS flag FROM e),
        |s AS (SELECT user_id,
        |SUM(flag) OVER (PARTITION BY user_id ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |FROM f)
        |SELECT user_id, CAST(MAX(sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM s GROUP BY user_id""".stripMargin,
    // analyze: one SELECT per column, same aggregate definitions
    "q_analyze_stats" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column, COUNT(*) AS n_rows,
           |CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
           |CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v,
           |quantile_cont($c, 0.25) AS p25, quantile_cont($c, 0.5) AS p50,
           |quantile_cont($c, 0.75) AS p75 FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount")
        .map(one).mkString("\nUNION ALL\n")
    },
    // rollup: the same three grouping levels + GROUPING flags +
    // the decimal-sum discipline
    "q_rollup_aggregate" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28, 2))) AS DOUBLE) AS sum_qty,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    // cube: the full grouping-set lattice
    "q_cube_aggregate" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28, 2))) AS DOUBLE) AS sum_qty,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    // fuzzy match: the same complete length band + levenshtein bar
    "q_fuzzy_match" ->
      """WITH v AS (SELECT DISTINCT unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
        |FROM documents),
        |q AS (SELECT unnest(['sparq', 'merg', 'vektor', 'windoww', 'batch']) AS query)
        |SELECT query, tok, CAST(levenshtein(query, tok) AS BIGINT) AS dist
        |FROM q JOIN v ON abs(len(query) - len(tok)) <= 1
        |WHERE levenshtein(query, tok) <= 1""".stripMargin,
    // pivot roundtrip ≡ the direct grouped aggregation
    "q_pivot_roundtrip" ->
      """SELECT user_id, event_type,
        |CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_sum
        |FROM events GROUP BY 1, 2""".stripMargin,
    // funnel: the same min-chain, three CTE levels
    "q_funnel" ->
      """WITH e AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS us FROM events),
        |t1 AS (SELECT u, MIN(us) AS t1 FROM e WHERE et = 'signup' GROUP BY u),
        |t2 AS (SELECT e.u, MIN(us) AS t2 FROM e JOIN t1 ON e.u = t1.u WHERE et = 'view' AND us > t1 GROUP BY e.u),
        |t3 AS (SELECT e.u, MIN(us) AS t3 FROM e JOIN t2 ON e.u = t2.u WHERE et = 'purchase' AND us > t2 GROUP BY e.u)
        |SELECT (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) FROM e) AS n_users,
        |(SELECT COUNT(*) FROM t1) AS n_step1,
        |(SELECT COUNT(*) FROM t2) AS n_step2,
        |(SELECT COUNT(*) FROM t3) AS n_step3""".stripMargin,
    // retention: distinct (user, week) -> min-week cohort -> counts
    "q_retention_cohorts" ->
      """WITH ub AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS b FROM events),
        |c AS (SELECT u, MIN(b) AS cohort FROM ub GROUP BY u)
        |SELECT c.cohort, ub.b - c.cohort AS offset, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM ub JOIN c ON ub.u = c.u GROUP BY c.cohort, ub.b - c.cohort""".stripMargin,
    // benford: expected ticks interpolated from the SAME Scala bake
    "q_benford_profile" -> {
      val values = graft.operators.Audit.benfordTicks
        .map { case (d, t) => s"($d, CAST($t AS BIGINT))" }
        .mkString(", ")
      s"""WITH e(digit, benford_ppm) AS (VALUES $values),
         |c AS (SELECT CAST(substring(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         |CAST(COUNT(*) AS BIGINT) AS n
         |FROM orders WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) >= 1 GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c)
         |SELECT e.digit, COALESCE(c.n, CAST(0 AS BIGINT)) AS n,
         |(COALESCE(c.n, CAST(0 AS BIGINT)) * 1000000) // tot.n_total AS obs_ppm,
         |e.benford_ppm,
         |abs((COALESCE(c.n, CAST(0 AS BIGINT)) * 1000000) // tot.n_total - e.benford_ppm) AS dev_ppm
         |FROM e LEFT JOIN c ON e.digit = c.digit, tot""".stripMargin
    },
    // chi-square: same cell ticks, same integer rollup
    "q_chi_square" ->
      """WITH c AS (SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS o
        |FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ta FROM c GROUP BY a),
        |rb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS tb FROM c GROUP BY b),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |CAST(COUNT(DISTINCT a) AS BIGINT) AS n_a, CAST(COUNT(DISTINCT b) AS BIGINT) AS n_b FROM c),
        |g AS (SELECT ra.a, ra.ta, rb.b, rb.tb, COALESCE(c.o, CAST(0 AS BIGINT)) AS o
        |FROM ra CROSS JOIN rb LEFT JOIN c ON c.a = ra.a AND c.b = rb.b),
        |cells AS (SELECT
        |CAST(floor(1000000.0 * ((CAST(g.o * tot.n - g.ta * g.tb AS DOUBLE) * CAST(g.o * tot.n - g.ta * g.tb AS DOUBLE))
        |/ CAST(tot.n * g.ta * g.tb AS DOUBLE))) AS BIGINT) AS cell_ticks,
        |tot.n AS n, tot.n_a AS n_a, tot.n_b AS n_b
        |FROM g, tot)
        |SELECT n, n_a, n_b, (n_a - 1) * (n_b - 1) AS dof,
        |CAST(SUM(cell_ticks) AS BIGINT) AS chi2_ticks,
        |CASE WHEN least(n_a, n_b) > 1
        |THEN CAST(SUM(cell_ticks) AS BIGINT) // (n * (least(n_a, n_b) - 1))
        |ELSE CAST(0 AS BIGINT) END AS cramers_v2_ppm
        |FROM cells GROUP BY n, n_a, n_b""".stripMargin,
    // r²: the same long sums and pinned final tree
    "q_corr_r2" ->
      """WITH q AS (SELECT l_returnflag,
        |CAST(floor(l_quantity * 1 + 0.5) AS BIGINT) AS x,
        |CAST(floor(l_extendedprice * 1 + 0.5) AS BIGINT) AS y
        |FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |s AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |CAST(SUM(x * y) AS BIGINT) AS sxy,
        |CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
        |FROM q GROUP BY 1)
        |SELECT l_returnflag, n,
        |CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
        |AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <> 0.0
        |THEN ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |/ ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS r2
        |FROM s""".stripMargin,
    // trend slope: the same long sums + the same pinned final tree
    "q_trend_slope" ->
      """WITH daily AS (SELECT event_type,
        |epoch_us(ts) // 86400000000 AS x0,
        |CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |FROM events GROUP BY 1, 2),
        |z AS (SELECT event_type, MIN(x0) AS xmin FROM daily GROUP BY 1),
        |pts AS (SELECT d.event_type, d.x0 - z.xmin AS x, d.y FROM daily d JOIN z ON d.event_type = z.event_type),
        |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx FROM pts GROUP BY 1),
        |d AS (SELECT event_type, n,
        |CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd FROM s)
        |SELECT event_type, n,
        |CASE WHEN nd * sxxd - sxd * sxd <> 0.0
        |THEN (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) END AS slope_cents_per_bucket,
        |CASE WHEN nd * sxxd - sxd * sxd <> 0.0
        |THEN (sxxd * syd - sxd * sxyd) / (nd * sxxd - sxd * sxd) END AS intercept_cents
        |FROM d""".stripMargin,
    // association rules: the same distinct-basket counts + long ppm
    "q_assoc_rules" ->
      """WITH ui AS (SELECT DISTINCT user_id AS k, event_type AS i FROM events WHERE event_type IS NOT NULL),
        |tot AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_baskets FROM ui),
        |ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_item FROM ui GROUP BY i),
        |p AS (SELECT a.i AS a, b.i AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |FROM ui a JOIN ui b ON a.k = b.k AND a.i < b.i GROUP BY 1, 2)
        |SELECT p.a, p.b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
        |(p.n_ab * 1000000) // tot.n_baskets AS support_ppm,
        |(p.n_ab * 1000000) // ia.n_item AS conf_a_to_b_ppm,
        |(p.n_ab * 1000000) // ib.n_item AS conf_b_to_a_ppm,
        |CAST(floor(CAST(p.n_ab AS DOUBLE) * 1000000.0 * CAST(tot.n_baskets AS DOUBLE) / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE))) AS BIGINT) AS lift_ppm
        |FROM p JOIN ic ia ON p.a = ia.i JOIN ic ib ON p.b = ib.i, tot""".stripMargin,
    // interval join: the direct overlap theta-join — fine in a
    // single-node engine, the banded form's correctness bar
    "q_interval_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |epoch_us(ts) + 300000000 AS en FROM events)
        |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |least(a.en, b.en) - greatest(a.s, b.s) AS overlap_us
        |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
        |AND a.s < b.en AND b.s < a.en""".stripMargin,
    // scd2: the same lead() over the pinned change order
    "q_scd2_history" ->
      """SELECT user_id, event_id, event_type,
        |CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |epoch_us(ts) AS valid_from_us,
        |LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS valid_to_us,
        |LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL AS is_current
        |FROM events""".stripMargin,
    // homoglyph scrub: from/to strings interpolated from the SAME
    // Scala constants the Spark expression reads — single source
    "q_homoglyph_scrub" -> {
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
    },
    // unicode fold: the fixture-subset replay — lower(text) plus the
    // UnicodeFoldSpec-pinned folded literal per variant; lengths via
    // the same concat
    "q_unicode_fold" ->
      """WITH p AS (SELECT doc_id, text,
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
        |FROM f""".stripMargin,
    // half-life decay: integer half-life count clamped to [0,62],
    // weight denominator is an exact BIGINT shift, per-event tick =
    // floor(1e6·value / 2^k) — two IEEE double ops, then long sums
    "q_time_decay" ->
      """WITH e AS (SELECT user_id, value,
        |least(CAST(62 AS BIGINT), greatest(CAST(0 AS BIGINT),
        |  (1706745600000000 - epoch_us(ts)) // 86400000000)) AS k
        |FROM events)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |CAST(SUM(CAST(floor(1000000.0 * value / CAST(CAST(1 AS BIGINT) << CAST(k AS INT) AS DOUBLE)) AS BIGINT)) AS BIGINT) AS decayed_ticks,
        |CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS raw_sum
        |FROM e GROUP BY user_id""".stripMargin,
    // k-anonymity: one grouped pass; class sizes and sensitive
    // diversity are plain integer aggregates
    "q_k_anonymity" ->
      """SELECT c_mktsegment, c_nationkey, CAST(c_custkey % 20 AS BIGINT) AS zip,
        |CAST(COUNT(*) AS BIGINT) AS class_size,
        |CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
        |COUNT(*) < 10 AS at_risk_k,
        |COUNT(DISTINCT c_acctbal) < 2 AS at_risk_l
        |FROM customer GROUP BY 1, 2, 3""".stripMargin,
    // fk audit: orphan membership is NOT IN over the (non-null)
    // parent key set; ppm is long floor-division
    "q_fk_audit" ->
      """WITH p1 AS (SELECT DISTINCT c_custkey AS pk FROM customer WHERE c_custkey % 3 <> 0),
        |t1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child, CAST(COUNT(o_custkey) AS BIGINT) AS n_fk FROM orders),
        |o1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_orphan_keys
        |FROM orders WHERE o_custkey IS NOT NULL AND o_custkey NOT IN (SELECT pk FROM p1)),
        |p2 AS (SELECT DISTINCT o_orderkey AS pk FROM orders),
        |t2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child, CAST(COUNT(l_orderkey) AS BIGINT) AS n_fk FROM lineitem),
        |o2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orphan_keys
        |FROM lineitem WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN (SELECT pk FROM p2))
        |SELECT 'orders->customer' AS relation, n_child, n_child - n_fk AS n_null_fk,
        |n_orphans, n_orphan_keys,
        |CASE WHEN n_fk > 0 THEN (n_orphans * 1000000) // n_fk ELSE CAST(0 AS BIGINT) END AS orphan_ppm
        |FROM t1, o1
        |UNION ALL
        |SELECT 'lineitem->orders', n_child, n_child - n_fk, n_orphans, n_orphan_keys,
        |CASE WHEN n_fk > 0 THEN (n_orphans * 1000000) // n_fk ELSE CAST(0 AS BIGINT) END
        |FROM t2, o2""".stripMargin,
    // gap fill: grid + left join + IGNORE NULLS carry-forward
    "q_gap_fill" ->
      """WITH hc AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, MIN(hour) AS b0, MAX(hour) AS b1 FROM hc GROUP BY 1),
        |g AS (SELECT event_type, unnest(generate_series(b0, b1)) AS hour FROM r),
        |j AS (SELECT g.event_type, g.hour, hc.cents FROM g LEFT JOIN hc ON g.event_type = hc.event_type AND g.hour = hc.hour)
        |SELECT event_type, hour, cents,
        |last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_filled,
        |cents IS NULL AS cents_gap
        |FROM j""".stripMargin,
    // transcripts: the q_sessionize flag/sum replay + per-session
    // MIN join + ordered string_agg with the same cents tree
    "q_dialogue_assemble" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |f AS (SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |THEN 1 ELSE 0 END AS flag FROM e),
        |s AS (SELECT *, SUM(flag) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM f),
        |t0 AS (SELECT user_id, sess, MIN(us) AS m0 FROM s GROUP BY 1, 2)
        |SELECT s.user_id, CAST(s.sess AS BIGINT) AS session_idx,
        |CAST(COUNT(*) AS BIGINT) AS n_turns,
        |string_agg(CAST((s.us - t0.m0) // 1000000 AS VARCHAR) || 's ' || s.event_type || ' ' || CAST(s.cents AS VARCHAR), chr(10) ORDER BY s.us, s.event_id) AS transcript
        |FROM s JOIN t0 ON s.user_id = t0.user_id AND s.sess = t0.sess
        |GROUP BY s.user_id, s.sess""".stripMargin,
    // DPO pairs: the q_dialogue_assemble sessionize/transcript CTE,
    // then per-prompt argmax (rating DESC, id ASC) vs argmin
    // (rating ASC, id DESC), then the q_leakage_safe_split md5 replay
    "q_dpo_pairs" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |f AS (SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |THEN 1 ELSE 0 END AS flag FROM e),
        |s AS (SELECT *, SUM(flag) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM f),
        |t0 AS (SELECT user_id, sess, MIN(us) AS m0 FROM s GROUP BY 1, 2),
        |tr AS (SELECT s.user_id, CAST(s.sess AS BIGINT) AS session_idx,
        |CAST(COUNT(*) AS BIGINT) AS n_turns,
        |string_agg(CAST((s.us - t0.m0) // 1000000 AS VARCHAR) || 's ' || s.event_type || ' ' || CAST(s.cents AS VARCHAR), chr(10) ORDER BY s.us, s.event_id) AS transcript
        |FROM s JOIN t0 ON s.user_id = t0.user_id AND s.sess = t0.sess
        |GROUP BY s.user_id, s.sess),
        |p AS (SELECT string_split(string_split(transcript, chr(10))[1], ' ')[2]
        | || '#' || CAST(user_id % 97 AS VARCHAR) AS prompt,
        |transcript AS resp, CAST(n_turns AS DOUBLE) AS rating,
        |user_id * 100000 + session_idx AS id FROM tr),
        |ranked AS (SELECT *,
        |ROW_NUMBER() OVER (PARTITION BY prompt ORDER BY rating DESC, id ASC) AS rc,
        |ROW_NUMBER() OVER (PARTITION BY prompt ORDER BY rating ASC, id DESC) AS rr,
        |COUNT(*) OVER (PARTITION BY prompt) AS nc FROM p),
        |c AS (SELECT prompt, CAST(nc AS BIGINT) AS n_candidates, resp AS chosen,
        |rating AS chosen_rating, id AS chosen_id FROM ranked WHERE rc = 1),
        |rj AS (SELECT prompt, resp AS rejected, rating AS rejected_rating,
        |id AS rejected_id FROM ranked WHERE rr = 1),
        |pair AS (SELECT c.prompt, c.n_candidates, c.chosen, rj.rejected,
        |c.chosen_rating, rj.rejected_rating, c.chosen_id, rj.rejected_id,
        |c.chosen_rating - rj.rejected_rating AS margin
        |FROM c JOIN rj USING (prompt) WHERE c.n_candidates >= 2),
        |n2 AS (SELECT *, md5(prompt) AS gk FROM pair),
        |r2 AS (SELECT gk, MIN(chosen_id) AS rep_id FROM n2 GROUP BY gk)
        |SELECT n2.prompt, n2.n_candidates, n2.chosen, n2.rejected,
        |n2.chosen_rating, n2.rejected_rating, n2.chosen_id, n2.rejected_id,
        |n2.margin, r2.rep_id,
        |CAST('0x' || substr(md5(CAST(r2.rep_id AS VARCHAR)), 1, 2) AS BIGINT) AS bucket,
        |CASE WHEN CAST('0x' || substr(md5(CAST(r2.rep_id AS VARCHAR)), 1, 2) AS BIGINT) < 205 THEN 'train'
        |WHEN CAST('0x' || substr(md5(CAST(r2.rep_id AS VARCHAR)), 1, 2) AS BIGINT) < 230 THEN 'val'
        |ELSE 'test' END AS split
        |FROM n2 JOIN r2 USING (gk)""".stripMargin,
    "q_range_join_contacts" ->
      """WITH pts AS (SELECT l_suppkey, l_orderkey * 10 + l_linenumber AS id,
        |l_quantity AS x, l_extendedprice / 100 AS y, l_discount * 100 AS z
        |FROM lineitem)
        |SELECT a.l_suppkey, a.id AS a_id, b.id AS b_id,
        |(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS dist2
        |FROM pts a JOIN pts b ON a.l_suppkey = b.l_suppkey AND a.id < b.id
        |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) <= 4.0""".stripMargin,
    "q_quantiles" ->
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50,
        |quantile_cont(l_extendedprice, 0.95) AS p95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // winsorize: exact [p05, p95] clamp per group, clip evidence
    "q_winsorize" ->
      """WITH b AS (SELECT l_returnflag AS g,
        |quantile_cont(l_extendedprice, 0.05) AS lo,
        |quantile_cont(l_extendedprice, 0.95) AS hi
        |FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
        |least(greatest(l_extendedprice, lo), hi) AS l_extendedprice_w,
        |(l_extendedprice < lo OR l_extendedprice > hi) AS clipped
        |FROM lineitem JOIN b ON l_returnflag = b.g""".stripMargin,
    // streaming PII gate: the batch replay of the per-file transform
    // — planted runs, scrub regexes, and the Luhn walk in one pass
    "q_stream_pii" ->
      """WITH p AS (SELECT doc_id,
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
        |FROM c""".stripMargin,
    // Luhn PII: same planted runs, same substring checksum walk
    "q_pii_luhn" ->
      """WITH p AS (SELECT doc_id,
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
        |FROM c""".stripMargin,
    // robust outliers: quantile_cont medians (bit-matching the exact
    // percentile machinery, the B7 bridge), strict 5*MAD flag, ppm
    // in long floor-division
    "q_robust_outliers" ->
      """WITH m AS (SELECT l_returnflag AS g, quantile_cont(l_extendedprice, 0.5) AS med
        |FROM lineitem GROUP BY 1),
        |d AS (SELECT l_returnflag AS g, l_extendedprice AS v, med,
        |abs(l_extendedprice - med) AS dev FROM lineitem JOIN m ON l_returnflag = m.g),
        |md AS (SELECT g, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY g),
        |s AS (SELECT d.g, CAST(COUNT(*) AS BIGINT) AS n, MIN(d.med) AS med, MIN(md.mad) AS mad,
        |CAST(SUM(CASE WHEN dev > 5.0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md ON d.g = md.g GROUP BY d.g)
        |SELECT g AS l_returnflag, n, med, mad, n_outliers,
        |(n_outliers * 1000000) // n AS out_ppm FROM s""".stripMargin,
    // forward: rank the >= candidates per click, keep rank 1; a
    // LEFT join back restores clicks with no later error
    "q_asof_forward" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |errors AS (SELECT user_id AS e_user, ts_us AS e_ts, event_id AS err_id, value AS err_value FROM ev WHERE event_type = 'error'),
        |j AS (SELECT c.event_id, e.err_id, e.err_value,
        |ROW_NUMBER() OVER (PARTITION BY c.event_id ORDER BY e.e_ts ASC, e.err_id ASC) AS rn
        |FROM clicks c JOIN errors e ON c.user_id = e.e_user AND e.e_ts >= c.ts_us)
        |SELECT c.event_id, c.user_id, c.ts_us, j.err_id, j.err_value
        |FROM clicks c LEFT JOIN j ON c.event_id = j.event_id AND j.rn = 1""".stripMargin,
    // nearest: rank by |Δts| with the backward-wins tie flag
    "q_asof_nearest" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |errors AS (SELECT user_id AS e_user, ts_us AS e_ts, event_id AS err_id, value AS err_value FROM ev WHERE event_type = 'error'),
        |j AS (SELECT c.event_id, e.err_id, e.err_value,
        |ROW_NUMBER() OVER (PARTITION BY c.event_id
        |ORDER BY abs(e.e_ts - c.ts_us) ASC, CASE WHEN e.e_ts <= c.ts_us THEN 0 ELSE 1 END ASC, e.err_id ASC) AS rn
        |FROM clicks c JOIN errors e ON c.user_id = e.e_user)
        |SELECT c.event_id, c.user_id, c.ts_us, j.err_id, j.err_value
        |FROM clicks c LEFT JOIN j ON c.event_id = j.event_id AND j.rn = 1""".stripMargin,
    // backward: explicit ROW_NUMBER replay rather than DuckDB's
    // native ASOF JOIN — native ASOF leaves equal-ts right-row ties
    // unspecified; the replay pins them by err_id ASC, matching the
    // operator's rightTieBreak contract
    "q_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click'),
        |errors AS (SELECT user_id AS e_user, ts_us AS e_ts, event_id AS err_id, value AS err_value FROM ev WHERE event_type = 'error'),
        |j AS (SELECT c.event_id, e.err_id, e.err_value,
        |ROW_NUMBER() OVER (PARTITION BY c.event_id ORDER BY e.e_ts DESC, e.err_id ASC) AS rn
        |FROM clicks c JOIN errors e ON c.user_id = e.e_user AND e.e_ts <= c.ts_us)
        |SELECT c.event_id, c.user_id, c.ts_us, j.err_id, j.err_value
        |FROM clicks c LEFT JOIN j ON c.event_id = j.event_id AND j.rn = 1""".stripMargin,
    "q_knn_contacts" ->
      """WITH pts AS (SELECT l_suppkey, l_orderkey * 10 + l_linenumber AS id,
        |l_quantity AS x, l_extendedprice / 100 AS y, l_discount * 100 AS z
        |FROM lineitem),
        |pairs AS (SELECT a.l_suppkey, a.id, b.id AS neighbor_id,
        |(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) AS dist2
        |FROM pts a JOIN pts b ON a.l_suppkey = b.l_suppkey AND a.id <> b.id
        |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) <= 4.0)
        |SELECT l_suppkey, id, CAST(rank AS INT) AS rank, neighbor_id, dist2 FROM (
        |SELECT *, row_number() OVER (PARTITION BY l_suppkey, id ORDER BY dist2, neighbor_id) AS rank
        |FROM pairs) WHERE rank <= 3""".stripMargin,
    "q_stream_join" ->
      """SELECT c.event_id AS click_id, c.user_id, epoch_us(c.ts) AS click_ts_us,
        |e.event_id AS err_id, epoch_us(e.ts) AS err_ts_us
        |FROM events c JOIN events e ON c.event_type = 'click'
        |AND e.event_type = 'error' AND c.user_id = e.user_id
        |AND epoch_us(e.ts) <= epoch_us(c.ts)
        |AND epoch_us(e.ts) >= epoch_us(c.ts) - 600000000""".stripMargin,
    "q_stream_left_join" ->
      """WITH ev AS (SELECT *, epoch_us(ts) AS us FROM events),
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
        |WHERE err_id IS NOT NULL OR click_ts_us < (SELECT w FROM wm)""".stripMargin,
    "q_window_agg_time" ->
      """SELECT (epoch_us(ts) // 900000000) * 900000000 AS window_start_us,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_stream_to_files" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |wm AS (SELECT (MAX(us) // 1000) * 1000 - 3600000000 AS w FROM e)
        |SELECT (us // 900000000) * 900000000 AS window_start_us,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY 1, 2
        |HAVING (us // 900000000) * 900000000 + 900000000 <= (SELECT w FROM wm)""".stripMargin,
    "q_xml_roundtrip" ->
      """SELECT CAST(p_partkey AS BIGINT) AS id, p_brand AS brand,
        |CAST(p_size AS BIGINT) AS size FROM part""".stripMargin,
    "q_uniprot_variants" ->
      """SELECT p_partkey,
        |'disease_' || CAST(p_partkey % 7 AS VARCHAR) AS disease,
        |'A>V' AS transition,
        |'VAR_' || CAST(p_partkey AS VARCHAR) AS ids
        |FROM part""".stripMargin,
    "q_annotation_label" ->
      """WITH src AS (
        |SELECT p_partkey, p_brand,
        |CASE WHEN p_size % 3 = 0 THEN p_type END AS note,
        |CASE WHEN p_size % 2 = 0 THEN CAST(p_partkey AS VARCHAR) END AS id
        |FROM part)
        |SELECT p_partkey,
        |CASE WHEN (id IS NULL OR id = '') AND (note IS NULL OR note = '') THEN p_brand
        |WHEN (id IS NULL OR id = '') THEN p_brand || ': ' || note
        |WHEN (note IS NULL OR note = '') THEN p_brand || ' (' || id || ')'
        |ELSE p_brand || ': ' || note || ' (' || id || ')' END AS label
        |FROM src""".stripMargin,
    "q_sifts_dbs" ->
      """SELECT n_name AS "dbSource", 'UniProt' AS "dbCoordSys",
        |CAST(n_nationkey AS VARCHAR) || '.0' AS "dbVersion"
        |FROM nation WHERE n_name NOT IN ('FRANCE', 'KENYA')""".stripMargin,
    // re-derives the rendered region map relationally (two segments per
    // nation => counter ordered by (seg, nk)), then replays the
    // last-match-wins interval lookup with max/arg_max over the
    // matching regions per residue
    "q_sifts_regions" ->
      """WITH nat AS (
        |SELECT r_name AS entity, n_nationkey AS nk,
        |'SRC' || CAST(n_nationkey % 3 AS VARCHAR) AS src,
        |'AC' || CAST(n_nationkey AS VARCHAR) AS acc
        |FROM nation JOIN region ON n_regionkey = r_regionkey),
        |regions AS (
        |SELECT entity, src, acc,
        |nk * 10 + (seg - 1) * 5 AS rstart,
        |nk * 10 + (seg - 1) * 5 + 9 AS rend,
        |CAST(ROW_NUMBER() OVER (PARTITION BY entity, src ORDER BY seg, nk) AS BIGINT) AS region_id
        |FROM nat CROSS JOIN (SELECT unnest([1, 2]) AS seg) s
        |WHERE src <> 'SRC2'),
        |res AS (
        |SELECT c_custkey, r_name AS entity,
        |'SRC' || CAST(n_nationkey % 3 AS VARCHAR) AS src,
        |'AC' || CAST(n_nationkey AS VARCHAR) AS acc,
        |n_nationkey * 10 + (c_custkey % 20) - 2 AS resnum
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey)
        |SELECT res.c_custkey, res.entity AS "entityId", res.src AS "_dbSource",
        |res.acc AS "_dbAccessionId", res.resnum,
        |max(reg.region_id) AS "regionId",
        |arg_max(reg.rstart, reg.region_id) AS "regionStart",
        |arg_max(reg.rend, reg.region_id) AS "regionEnd",
        |CASE WHEN max(reg.region_id) IS NOT NULL THEN res.resnum END AS "regionResNum"
        |FROM res LEFT JOIN regions reg
        |ON res.entity = reg.entity AND res.src = reg.src AND res.acc = reg.acc
        |AND res.resnum BETWEEN reg.rstart AND reg.rend
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin,
    // re-derives the full residue-annotation long table: the two
    // crossRefDb legs per residue (SRC leg excluded when SRC2, fields
    // nulled; UniProt leg keeps fields), the region argmax per
    // (entity, source, accession, resnum-in-range), and the listDB
    // version map; grouping by the hidden ck key preserves row
    // multiplicity across customers sharing a residue shape
    "q_sifts_residues" ->
      """WITH nat AS (
        |SELECT r_name AS entity, n_nationkey AS nk,
        |'SRC' || CAST(n_nationkey % 3 AS VARCHAR) AS src,
        |'AC' || CAST(n_nationkey AS VARCHAR) AS acc
        |FROM nation JOIN region ON n_regionkey = r_regionkey),
        |regions AS (
        |SELECT entity, src, acc,
        |nk * 10 + (seg - 1) * 5 AS rstart,
        |nk * 10 + (seg - 1) * 5 + 9 AS rend,
        |CAST(ROW_NUMBER() OVER (PARTITION BY entity, src ORDER BY seg, nk) AS BIGINT) AS region_id
        |FROM nat CROSS JOIN (SELECT unnest([1, 2]) AS seg) s
        |WHERE src <> 'SRC2'),
        |res AS (
        |SELECT c_custkey AS ck, r_name AS entity, n_nationkey AS nk,
        |n_nationkey * 10 + (c_custkey % 20) - 2 AS rn
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey),
        |ann AS (
        |SELECT ck, entity, rn, 'ALA' AS resName,
        |'SRC' || CAST(nk % 3 AS VARCHAR) AS dbSource,
        |'AC' || CAST(nk AS VARCHAR) AS acc2,
        |CAST(NULL AS VARCHAR) AS dbResNum,
        |CAST(NULL AS VARCHAR) AS dbResName,
        |CAST(NULL AS VARCHAR) AS dbChainId
        |FROM res WHERE nk % 3 <> 2
        |UNION ALL
        |SELECT ck, entity, rn, 'ALA', 'UniProt', 'P' || CAST(nk AS VARCHAR),
        |CAST(rn + 100 AS VARCHAR), 'V', CAST(NULL AS VARCHAR)
        |FROM res)
        |SELECT ann.entity AS "entityId", ann.rn AS resnum,
        |ann.resName AS "resName",
        |CAST(NULL AS VARCHAR) AS "ssCode",
        |CAST(NULL AS VARCHAR) AS "ssName",
        |CAST(NULL AS VARCHAR) AS "detailAnnotation",
        |ann.dbSource AS "dbSource",
        |ann.acc2 AS "dbAccessionId", ann.dbResNum AS "dbResNum",
        |ann.dbResName AS "dbResName", ann.dbChainId AS "dbChainId",
        |max(reg.region_id) AS "regionId",
        |arg_max(reg.rstart, reg.region_id) AS "regionStart",
        |arg_max(reg.rend, reg.region_id) AS "regionEnd",
        |CASE WHEN max(reg.region_id) IS NOT NULL THEN ann.rn END AS "regionResNum",
        |CASE ann.dbSource WHEN 'SRC0' THEN 'v0' WHEN 'SRC1' THEN 'v1'
        |WHEN 'UniProt' THEN 'u1' END AS "dbVersion"
        |FROM ann LEFT JOIN regions reg
        |ON ann.entity = reg.entity AND ann.dbSource = reg.src
        |AND ann.acc2 = reg.acc AND ann.rn BETWEEN reg.rstart AND reg.rend
        |GROUP BY ann.ck, ann.entity, ann.rn, ann.resName, ann.dbSource,
        |ann.acc2, ann.dbResNum, ann.dbResName, ann.dbChainId""".stripMargin,
    "q_validation_roundtrip" ->
      """WITH src AS (
        |SELECT p_partkey, substr(p_brand, 8, 1) AS chain,
        |CAST(p_partkey % 100 AS VARCHAR) AS resnum,
        |CASE WHEN p_partkey % 4 = 2 THEN 'A' ELSE '?' END AS icode,
        |CASE WHEN p_partkey % 3 = 2 THEN 'B' ELSE '.' END AS altcode,
        |upper(substr(p_type, 1, 3)) AS resname,
        |CAST(p_size AS BIGINT) AS natoms,
        |CAST(p_retailprice AS DOUBLE) AS rsr,
        |CAST((p_partkey % 360) - 180 AS DOUBLE) AS phi
        |FROM part)
        |SELECT CAST(1 AS BIGINT) AS validation_model,
        |chain AS validation_chain,
        |CAST(p_partkey AS VARCHAR) AS validation_seq,
        |resnum AS validation_resnum,
        |resname AS validation_resname,
        |natoms AS "validation_NatomsEDS",
        |rsr AS validation_rsr,
        |phi AS validation_phi,
        |icode AS validation_icode,
        |altcode AS validation_altcode,
        |resnum || CASE WHEN icode = 'A' THEN 'A' ELSE '' END AS validation_resnum_full
        |FROM src WHERE chain IN ('1', '3', '5')""".stripMargin,
    "q_mmcif_fields" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name,
        |CAST(n_regionkey AS BIGINT) AS region_key,
        |n_name || ' ' || CAST(n_nationkey AS VARCHAR) AS tag,
        |'nation' AS src_table,
        |(SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_rows,
        |'tpch testdata' AS source
        |FROM nation""".stripMargin,
    "q_mmcif_oper" ->
      """SELECT CAST(n_nationkey + 1 AS BIGINT) AS id,
        |'op ' || n_name AS op,
        |'ax_' || CAST(n_regionkey AS VARCHAR) AS axis,
        |'t' || CAST(n_nationkey AS VARCHAR) AS note
        |FROM nation""".stripMargin,
    "q_stream_dedup" ->
      """SELECT user_id, CAST(1 AS BIGINT) AS n_rows FROM events GROUP BY user_id""",
    "q_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS text_hash, MIN(doc_id) AS keeper_doc_id,
        |COUNT(*) AS n_copies FROM documents GROUP BY 1""".stripMargin,
    "q_dedup_simhash" -> {
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
    },
    // replays the full LSH pipeline with the same md5 hash family:
    // sketch (15-hex-char md5 ints, 32 per-seed minima), band
    // membership via exact slice equality (the Spark side equi-joins
    // on xxhash64(slice), equality-preserving), the 24-of-32
    // signature prefilter, and the exact merge-walk jaccard verify
    "q_dedup_minhash_lsh" ->
      """WITH mtoks AS (
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
        |(len(a_sh) + len(b_sh) - len(list_intersect(a_sh, b_sh))) >= 0.9""".stripMargin,
    // the incremental probe: same md5 family, but the band join is
    // ASYMMETRIC — batch (doc_id % 5 = 4) against corpus (the rest)
    "q_dedup_incremental" ->
      """WITH mtoks AS (
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
        |(len(a_sh) + len(b_sh) - len(list_intersect(a_sh, b_sh))) >= 0.9""".stripMargin,
    // fuzzy decontamination: the incremental-probe replay pointed at
    // the dropped-last-token eval clones, finished with the per-doc
    // argmax (jaccard DESC, bench_id ASC) and the every-doc left join
    // span evidence: the same bench clone, window hashes, and the
    // F15 lag/gap sweep emitting merged intervals
    "q_decontaminate_spans" ->
      """WITH bsrc AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents WHERE doc_id % 17 = 0),
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
        |FROM g GROUP BY doc_id, bench_id, grp""".stripMargin,
    "q_decontaminate_fuzzy" ->
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
        |FROM cnz LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON cnz.doc_id = b.cid""".stripMargin,
    // normalized dedup: the exact normalization chain (explicit char
    // classes — RE2 \s excludes \x0B, Java's includes it, so neither
    // side uses \s), then the same hash-groupBy as exact dedup
    "q_dedup_normalized" ->
      """WITH n AS (SELECT doc_id, text,
        |trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \n\t\r]', ' ', 'g'), '[ \n\t\r]+', ' ', 'g')) AS norm
        |FROM documents)
        |SELECT md5(norm) AS norm_hash, min(doc_id) AS keeper_doc_id,
        |CAST(COUNT(*) AS BIGINT) AS n_copies,
        |CAST(COUNT(DISTINCT text) AS BIGINT) AS n_variants
        |FROM n GROUP BY md5(norm)""".stripMargin,
    // Gopher rules: every count is an exact integer, every ratio ONE
    // IEEE division; '...' counting via non-overlapping replace
    "q_gopher_rules" -> gopherRulesOracle,
    // host policy: the gopher verdict chain as a nested CTE, the
    // closed-form %13 host, one grouped rollup with the same fixed
    // IEEE keep_rate division
    "q_host_policy" ->
      (s"""WITH g AS ($gopherRulesOracle),
        |h AS (SELECT doc_id, 'h' || CAST(doc_id % 13 AS VARCHAR) || '.example.org' AS host FROM documents)
        |SELECT h.host, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS keep_rate,
        |CAST(SUM(CASE WHEN g.keep THEN g.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
        |(COUNT(*) >= 20 AND CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) <= 0.5) AS blocklist_candidate
        |FROM g JOIN h USING (doc_id) GROUP BY h.host""").stripMargin,
    // stratified sample: integer largest-remainder apportionment over
    // the strata table, then the per-stratum md5-order prefix
    "q_stratified_sample" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |g AS (SELECT lang, n, CAST(SUM(n) OVER () AS BIGINT) AS nn FROM c),
        |a AS (SELECT lang, n, (100 * n) // nn AS base, (100 * n) % nn AS rem,
        |CAST(100 - SUM((100 * n) // nn) OVER () AS BIGINT) AS extra FROM g),
        |r AS (SELECT lang, base, extra, ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rk FROM a),
        |al AS (SELECT lang, base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS alloc FROM r),
        |p AS (SELECT d.doc_id, d.lang, d.source,
        |ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk,
        |al.alloc FROM documents d JOIN al USING (lang))
        |SELECT doc_id, lang, source FROM p WHERE rk <= alloc""".stripMargin,
    // bitext mining: the full margin chain replayed — shared cosine
    // tree, 1e-9 tick floors, exact long neighborhood sums, ONE
    // integer division, per-x argmax, threshold
    "q_bitext_mine" ->
      """WITH v AS (SELECT vec_id, embedding,
        |sqrt(list_sum(list_transform(embedding, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)))) AS nrm
        |FROM embeddings),
        |x AS (SELECT * FROM v WHERE vec_id % 2 = 0), y AS (SELECT * FROM v WHERE vec_id % 2 = 1),
        |sc AS (SELECT x.vec_id AS x_id, y.vec_id AS y_id,
        |CASE WHEN x.nrm * y.nrm = 0 THEN 0.0 ELSE
        |list_sum(list_transform(list_zip(x.embedding, y.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (x.nrm * y.nrm) END AS cos
        |FROM x CROSS JOIN y),
        |cf AS (SELECT x_id, y_id, cos, CAST(floor(cos * 1000000000.0) AS BIGINT) AS cos_fp FROM sc),
        |fw AS (SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY cos DESC, y_id) AS rk FROM cf),
        |bw AS (SELECT *, row_number() OVER (PARTITION BY y_id ORDER BY cos DESC, x_id) AS rk FROM cf),
        |sx AS (SELECT x_id, CAST(SUM(cos_fp) AS BIGINT) AS s FROM fw WHERE rk <= 4 GROUP BY x_id),
        |sy AS (SELECT y_id, CAST(SUM(cos_fp) AS BIGINT) AS s FROM bw WHERE rk <= 4 GROUP BY y_id),
        |cand AS (SELECT x_id, y_id, cos, cos_fp FROM fw WHERE rk <= 4 UNION SELECT x_id, y_id, cos, cos_fp FROM bw WHERE rk <= 4),
        |m AS (SELECT c.x_id, c.y_id, c.cos, (c.cos_fp * 8 * 1000000) // (sx.s + sy.s) AS margin_fp
        |FROM cand c JOIN sx ON c.x_id = sx.x_id JOIN sy ON c.y_id = sy.y_id
        |WHERE c.cos_fp > 0 AND sx.s + sy.s > 0),
        |best AS (SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY margin_fp DESC, y_id) AS brk FROM m)
        |SELECT x_id, y_id, cos, margin_fp FROM best
        |WHERE brk = 1 AND margin_fp >= 1100000""".stripMargin,
    // z-order layout: the grid scale, the top-3-bit de-interleave
    // and the tile id replayed with the same integer arithmetic
    // (tile = interleave of the two 3-bit grid prefixes — provably
    // what Spark's full-16-bit z >> 26 produces)
    "q_zorder_layout" ->
      """WITH mm AS (SELECT CAST(MIN(l_orderkey) AS BIGINT) AS xmin, CAST(MAX(l_orderkey) AS BIGINT) AS xmax,
        |CAST(MIN(l_partkey) AS BIGINT) AS ymin, CAST(MAX(l_partkey) AS BIGINT) AS ymax FROM lineitem),
        |g AS (SELECT l_orderkey AS x, l_partkey AS y,
        |(((CAST(l_orderkey AS BIGINT) - xmin) * 65536) // (xmax - xmin + 1)) >> 13 AS gx,
        |(((CAST(l_partkey AS BIGINT) - ymin) * 65536) // (ymax - ymin + 1)) >> 13 AS gy
        |FROM lineitem, mm),
        |t AS (SELECT x, y, gx, gy,
        |((gx & 1) << 0) + (((gx >> 1) & 1) << 2) + (((gx >> 2) & 1) << 4) +
        |((gy & 1) << 1) + (((gy >> 1) & 1) << 3) + (((gy >> 2) & 1) << 5) AS tile_id FROM g)
        |SELECT tile_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
        |CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y,
        |gx, gy FROM t GROUP BY tile_id, gx, gy""".stripMargin,
    // heavy hitters: the confirm pass IS plain SQL — token counts
    // with the integer cnt*k > N bar (the MG sketch only proposes
    // candidates; the output is exact by construction)
    "q_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM c)
        |SELECT c.tok AS token, c.cnt, t.n_total,
        |CAST(c.cnt AS DOUBLE) / t.n_total AS freq
        |FROM c, t WHERE c.cnt * 40 > t.n_total""".stripMargin,
    // leakage-safe split: the normalization + md5 group, min-id rep,
    // and the 256-bucket thresholds (0.9/0.05/0.05 → 230/243)
    "q_leakage_safe_split" ->
      """WITH n AS (SELECT doc_id,
        |md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \n\t\r]', ' ', 'g'), '[ \n\t\r]+', ' ', 'g'))) AS gk
        |FROM documents),
        |r AS (SELECT gk, MIN(doc_id) AS rep_id FROM n GROUP BY gk),
        |b AS (SELECT n.doc_id, r.rep_id,
        |CAST('0x' || substr(md5(CAST(r.rep_id AS VARCHAR)), 1, 2) AS BIGINT) AS bucket
        |FROM n JOIN r USING (gk))
        |SELECT doc_id, rep_id, bucket,
        |CASE WHEN bucket < 230 THEN 'train' WHEN bucket < 243 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin,
    // distribution matching: the same fixed IEEE tree (cast-divide,
    // multiply, floor, 1-bucket floor) and the md5Bucket16 threshold
    "q_match_distribution" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |t(g, t) AS (VALUES ('en', 0.4), ('es', 0.3), ('zh', 0.2), ('fr', 0.1)),
        |q AS (SELECT g, t, n, CAST(n AS DOUBLE) / t AS q FROM c JOIN t ON lang = g),
        |s AS (SELECT MIN(q) AS s FROM q),
        |th AS (SELECT g, GREATEST(CAST(1 AS BIGINT), CAST(floor(s.s * q.t / CAST(q.n AS DOUBLE) * 65536) AS BIGINT)) AS thresh FROM q, s)
        |SELECT d.doc_id, d.lang, d.source FROM documents d JOIN th ON d.lang = th.g
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT) < th.thresh""".stripMargin,
    // per-group weighted sample: same draws, 13-nibble (52-bit,
    // double-exact) key, per-lang row_number
    "q_weighted_sample_group" ->
      """WITH w AS (SELECT doc_id, lang, source, n_chars, CAST(n_chars AS BIGINT) AS wt FROM documents WHERE n_chars >= 1),
        |d AS (SELECT doc_id, unnest(generate_series(1, wt)) AS j FROM w),
        |kx AS (SELECT doc_id, MAX(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))) AS hx FROM d GROUP BY doc_id),
        |kn AS (SELECT doc_id, CAST('0x' || substr(hx, 1, 13) AS BIGINT) AS es_key FROM kx),
        |r AS (SELECT w.doc_id, w.lang, w.source, w.n_chars, kn.es_key,
        |ROW_NUMBER() OVER (PARTITION BY w.lang ORDER BY kn.es_key DESC, w.doc_id ASC) AS rk
        |FROM w JOIN kn USING (doc_id))
        |SELECT doc_id, lang, source, n_chars, es_key FROM r WHERE rk <= 12""".stripMargin,
    // weighted sample: the A-ES key replayed draw-for-draw — max of
    // w md5 hex draws per doc (generate_series unnest), first 15
    // nibbles as the 60-bit key, row_number over (key desc, id asc)
    "q_weighted_sample" ->
      """WITH w AS (SELECT doc_id, lang, source, n_chars, CAST(n_chars AS BIGINT) AS wt FROM documents WHERE n_chars >= 1),
        |d AS (SELECT doc_id, unnest(generate_series(1, wt)) AS j FROM w),
        |kx AS (SELECT doc_id, MAX(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))) AS hx FROM d GROUP BY doc_id),
        |kn AS (SELECT doc_id, CAST('0x' || substr(hx, 1, 15) AS BIGINT) AS es_key FROM kx),
        |r AS (SELECT doc_id, es_key, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id ASC) AS rk FROM kn)
        |SELECT w.doc_id, w.lang, w.source, w.n_chars, r.es_key
        |FROM w JOIN r USING (doc_id) WHERE r.rk <= 64""".stripMargin,
    // BM25: the per-term double expression tree is written token-for-
    // token as the Spark side (IEEE ops are individually correctly
    // rounded, so identical trees give identical bits), floored to
    // 1e-6 ticks; tick longs sum exactly in any order
    "q_bm25_topk" ->
      """WITH q(query_id, query_text) AS (VALUES
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
        |SELECT query_id, rank, doc_id, score_fp FROM rk WHERE rank <= 10""".stripMargin,
    // duplicated 8-token spans: window hash occurrence counts, then a
    // per-doc sorted interval union (all spans share length 8, so the
    // union is least(8, start - prev_start) after an ORDER BY start)
    "q_dedup_substring" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
        |w AS (SELECT doc_id, toks, unnest(generate_series(0, n_tokens - 8)) AS start FROM b WHERE n_tokens >= 8),
        |h AS (SELECT doc_id, start, md5(array_to_string(toks[start + 1 : start + 8], ' ')) AS wh FROM w),
        |o AS (SELECT doc_id, start, COUNT(*) OVER (PARTITION BY wh) AS occ FROM h),
        |d AS (SELECT doc_id, start, lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev FROM o WHERE occ >= 2),
        |c AS (SELECT doc_id, CAST(SUM(CASE WHEN prev IS NULL THEN 8 ELSE least(8, start - prev) END) AS BIGINT) AS dup FROM d GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, CAST(COALESCE(c.dup, 0) AS BIGINT) AS dup_span_tokens,
        |CASE WHEN b.n_tokens = 0 THEN 0.0 ELSE CAST(COALESCE(c.dup, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE) END AS dup_span_frac
        |FROM b LEFT JOIN c USING (doc_id)""".stripMargin,
    // unigram-LM scoring: every aggregate stays an exact integer;
    // the two output scores are each ONE IEEE division, so Spark and
    // DuckDB produce bit-identical doubles
    "q_lm_score" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnt),
        |pdt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, tok)
        |SELECT p.doc_id, CAST(SUM(p.tf) AS BIGINT) AS n_tokens,
        |CAST(CAST(SUM(p.tf * c.cnt) AS BIGINT) AS DOUBLE) / CAST(CAST(SUM(p.tf) AS BIGINT) * t.total AS DOUBLE) AS avg_tok_p,
        |CAST(CAST(SUM(CASE WHEN c.cnt = 1 THEN p.tf ELSE 0 END) AS BIGINT) AS DOUBLE) / CAST(CAST(SUM(p.tf) AS BIGINT) AS DOUBLE) AS hapax_frac
        |FROM pdt p JOIN cnt c USING (tok) CROSS JOIN tot t
        |GROUP BY p.doc_id, t.total""".stripMargin,
    // bigram LM: replay the fit (even-id slice unigram/bigram counts)
    // and the per-pair tick tree — seen pairs floor(1e6·cnt12/cnt1),
    // unseen floor(4e5·cnt2/total), OOV 0 — with the identical
    // double expression tree so sums hash-match
    "q_bigram_lm_score" ->
      """WITH ft AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS l
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
        |GROUP BY sb.doc_id""".stripMargin,
    // interpolated KN trigram LM: replay the fit (even-id trigram
    // TYPE table + the four derived continuation-count tables) and
    // the three per-order double trees CTE-for-CTE — D = 0.75 is
    // exact in binary, each level's nesting matches the Spark
    // column tree token-for-token, floored to 1e-9 ticks
    "q_trigram_lm_score" -> trigramLmOracle,
    // trigram-scored CCNet buckets: the full KN replay as a
    // subquery, then the q_ccnet_buckets_boundary rank recovery over
    // avg_trigram_p per language (same tie contract: boundary-score
    // ties take the higher bucket)
    "q_ccnet_buckets_trigram" ->
      s"""WITH base AS ($trigramLmOracle),
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
         |FROM j JOIN bd USING (lang)""".stripMargin,
    // export sharding: the md5Bucket16 nibble replay (q_corpus_mix
    // pattern) mod nShards, rank by (md5 hex, id) within the shard
    "q_export_shards" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hex FROM documents),
        |s AS (SELECT doc_id, hex,
        |CAST(((strpos('0123456789abcdef', substring(hex, 1, 1)) - 1) * 4096
        |+ (strpos('0123456789abcdef', substring(hex, 2, 1)) - 1) * 256
        |+ (strpos('0123456789abcdef', substring(hex, 3, 1)) - 1) * 16
        |+ (strpos('0123456789abcdef', substring(hex, 4, 1)) - 1)) % 8 AS INTEGER) AS shard
        |FROM h)
        |SELECT doc_id, shard,
        |CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hex, doc_id) AS BIGINT) AS shard_rank
        |FROM s""".stripMargin,
    // manifest: the same shard/rank replay, aggregated; checksum =
    // sum of each id's first 8 md5 hex digits (nibble arithmetic)
    "q_export_manifest" -> {
      val nibbleSum = (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', substring(hex, $i, 1)) - 1) * " +
          (1L << (4 * (8 - i)))).mkString(" + ")
      s"""WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hex,
         |CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens FROM documents),
         |s AS (SELECT doc_id, hex, n_tokens,
         |CAST(((strpos('0123456789abcdef', substring(hex, 1, 1)) - 1) * 4096
         |+ (strpos('0123456789abcdef', substring(hex, 2, 1)) - 1) * 256
         |+ (strpos('0123456789abcdef', substring(hex, 3, 1)) - 1) * 16
         |+ (strpos('0123456789abcdef', substring(hex, 4, 1)) - 1)) % 8 AS INTEGER) AS shard,
         |CAST($nibbleSum AS BIGINT) AS cksum
         |FROM h),
         |r AS (SELECT shard, n_tokens, cksum,
         |ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hex, doc_id) AS shard_rank FROM s)
         |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |(COUNT(DISTINCT shard_rank) = COUNT(*) AND MAX(shard_rank) = COUNT(*)) AS ranks_dense,
         |CAST(SUM(cksum) AS BIGINT) AS id_checksum
         |FROM r GROUP BY shard""".stripMargin
    },
    // token-budget mix: running token sum BEFORE each doc in
    // (md5 hex, id) order per source; keep while it starts < budget
    "q_token_budget_mix" ->
      """WITH d AS (SELECT doc_id, source, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |FROM d)
        |SELECT doc_id, source, n_tokens FROM c WHERE cum_before < 800""".stripMargin,
    // quality classifier: the smoothed class-odds double tree is
    // written token-for-token as the Spark side (each factor cast to
    // double BEFORE the multiply), floored to 1e-6 ticks; tick longs
    // sum exactly in any order
    "q_quality_classifier" -> qualityClassifierOracle,
    // DSIR: md5-nibble bucket replay (q_export_shards idiom) mod 256,
    // smoothed target/raw likelihood ratio in the same fixed tree
    "q_dsir_weights" ->
      """WITH t AS (SELECT doc_id, (lang = 'en') AS is_t, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
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
        |(ROW_NUMBER() OVER (ORDER BY weight_fp DESC, doc_id ASC)) <= 200 AS selected FROM wgt""".stripMargin,
    // CCNet terciles: the q_lm_score exact-rational score + lang join
    // + ntile(3) over the engine-identical (avg_tok_p desc, id) order
    "q_ccnet_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
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
        |CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket FROM tl""".stripMargin,
    // CCNet boundary form: same score table; tercile boundary scores
    // recovered per language as order statistics (the value at ranks
    // ceil(n/3) and ceil(2n/3) of the score-desc order), buckets by
    // >= comparison so boundary ties take the higher bucket
    "q_ccnet_buckets_boundary" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
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
        |FROM j JOIN bd USING (lang)""".stripMargin,
    // blocklist: replay host extraction (authority → strip userinfo,
    // port, www., lower) and pick the longest list entry that equals
    // the host or is a '.'-boundary suffix of it
    "q_blocklist_filter" ->
      """WITH bl(domain) AS (VALUES ('tracker.net'), ('example.com'), ('shop.example.com')),
        |d AS (SELECT doc_id, CASE CAST(doc_id % 6 AS INTEGER)
        |WHEN 0 THEN 'https://Ads.Tracker.NET/banner?x=1'
        |WHEN 1 THEN 'https://www.example.com/a'
        |WHEN 2 THEN 'http://user:pw@sub.shop.example.com:8080/x'
        |WHEN 3 THEN 'https://good-site.org/page#frag'
        |WHEN 4 THEN 'mailto:someone@nowhere'
        |ELSE 'https://nottracker.net/x' END AS url FROM documents),
        |h AS (SELECT doc_id,
        |nullif(regexp_replace(regexp_replace(regexp_replace(lower(regexp_replace(
        |regexp_extract(string_split(url, '//')[2], '^[^/?#]*'),
        |'^[^@]*@', '')), '(\])?:[0-9]*$', '\1'), '^www\.', ''), '^\[([^\]]*)\]$', '\1'), '') AS host FROM d)
        |SELECT doc_id, host,
        |(SELECT b.domain FROM bl b
        |WHERE h.host = b.domain OR h.host LIKE '%.' || b.domain
        |ORDER BY length(b.domain) DESC, b.domain LIMIT 1) AS blocked_by,
        |(SELECT b.domain FROM bl b
        |WHERE h.host = b.domain OR h.host LIKE '%.' || b.domain
        |ORDER BY length(b.domain) DESC, b.domain LIMIT 1) IS NULL AS keep
        |FROM h""".stripMargin,
    // html extraction: the identical RE2 chain replayed with 'g'
    // flags (DuckDB regexp_replace is first-match by default where
    // Spark's is global) over the same synthesized shell
    "q_html_extract" ->
      """WITH h AS (SELECT doc_id,
        |'<html><head><title>t</title><style type="text/css">body {color:#fff}</style><script>if (1 < 2) { alert("x&y"); }</script></head><body><!-- nav --><h1>Doc &amp; entity &lt;demo&gt;</h1><p>'
        | || text || '</p><div>footer&nbsp;menu</div></body></html>' AS html FROM documents),
        |e AS (SELECT doc_id,
        |trim(regexp_replace(regexp_replace(regexp_replace(
        |replace(replace(replace(replace(replace(replace(
        |regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |'(?is)<script[^>]*>.*?</script>', '', 'g'),
        |'(?is)<style[^>]*>.*?</style>', '', 'g'),
        |'(?s)<!--.*?-->', '', 'g'),
        |'(?i)(</(p|div|li|h[1-6]|tr)>|<br\s*/?>)', chr(10), 'g'),
        |'<[^>]+>', '', 'g'),
        |'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |'&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
        |'[ ' || chr(9) || ']+', ' ', 'g'),
        |' ?' || chr(10) || ' ?', chr(10), 'g'),
        |chr(10) || '{2,}', chr(10), 'g'),
        |' ' || chr(10)) AS extracted FROM h)
        |SELECT doc_id, extracted,
        |CAST(length(extracted) AS BIGINT) AS n_chars_out FROM e""".stripMargin,
    // block-scored extraction: clean → segment at block tags →
    // per-block visible text + anchor-text chars + stopword tokens →
    // the keep conjunction → ordered reassembly, all replayed
    "q_html_extract_blocks" ->
      ("""WITH h AS (SELECT doc_id,
        |'<html><head><title>t</title><script>if (1 < 2) { alert("x&y"); }</script><style>.nav{display:none}</style></head><body><div class="nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div><h1>Tiny title</h1><p>'
        | || text ||
        |'</p><div><a href="/r1">Related article one</a> <a href="/r2">Related article two</a> more</div><div>Copyright 2024 ExampleCorp All rights reserved</div><!-- footer --></body></html>'
        | AS html FROM documents),
        |c AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |'(?is)<script[^>]*>.*?</script>', '', 'g'),
        |'(?is)<style[^>]*>.*?</style>', '', 'g'),
        |'(?is)<title[^>]*>.*?</title>', '', 'g'),
        |'(?s)<!--.*?-->', '', 'g') AS clean FROM h),
        |seg AS (SELECT doc_id, string_split(regexp_replace(clean,
        |'(?i)(</?(p|div|li|ul|ol|h[1-6]|tr|table|td|th|blockquote|article|section|header|footer|nav|aside|main|form|pre)(\s[^>]*)?>|<br\s*/?>)',
        |chr(1), 'g'), chr(1)) AS frags FROM c),
        |x AS (SELECT doc_id, unnest(generate_series(1, len(frags))) AS i, frags FROM seg),
        |rw AS (SELECT doc_id, CAST(i AS BIGINT) AS block_idx, frags[i] AS raw FROM x),
        |tb AS (SELECT doc_id, block_idx, raw,
        |trim(regexp_replace(replace(replace(replace(replace(replace(replace(
        |regexp_replace(raw, '<[^>]+>', '', 'g'),
        |'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
        |'[ ' || chr(9) || chr(10) || chr(13) || ']+', ' ', 'g')) AS text FROM rw),
        |lk AS (SELECT doc_id, block_idx, text, CAST(length(text) AS BIGINT) AS text_len,
        |coalesce(list_sum(list_transform(regexp_extract_all(raw, '(?is)<a(\s[^>]*)?>(.*?)</a>', 2),
        |a -> CAST(length(trim(regexp_replace(replace(replace(replace(replace(replace(replace(
        |regexp_replace(a, '<[^>]+>', '', 'g'),
        |'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
        |'[ ' || chr(9) || chr(10) || chr(13) || ']+', ' ', 'g'))) AS BIGINT))), 0) AS link_chars FROM tb),
        |sc AS (SELECT doc_id, block_idx, text, text_len, link_chars,
        |len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
        |len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','an','of','and','in','to','is','for','on'], lower(t)))) AS n_stop FROM lk),
        |kp AS (SELECT doc_id, block_idx, text, text_len,
        |(text_len >= 25 AND CAST(link_chars AS DOUBLE) / greatest(text_len, 1) <= 0.35
        |AND (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) >= 0.05 OR text_len >= 200)) AS keep FROM sc),
        |g AS (SELECT doc_id,
        |CAST(SUM(CASE WHEN text_len > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
        |CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |coalesce(string_agg(CASE WHEN keep THEN text END, chr(10) ORDER BY block_idx), '') AS extracted
        |FROM kp GROUP BY doc_id)
        |SELECT doc_id, n_blocks, n_kept, extracted,
        |CAST(length(extracted) AS BIGINT) AS n_chars_out FROM g""").stripMargin,
    // the full crawl front as ONE CTE chain: pseudo-lines, the %7
    // blocked-domain URL override, host-suffix blocklist, the html
    // extraction chain, then the four q_crawl_prepare stages over
    // the extracted text (survivor set reflects the blocking)
    "q_crawl_prepare_full" ->
      """WITH t0 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t0 WHERE len(toks) >= 1),
        |g0 AS (SELECT doc_id, unnest(generate_series(0, CAST(ceil(n / 10.0) AS BIGINT) - 1)) AS pos, toks FROM b),
        |ld AS (SELECT doc_id, pos, array_to_string(toks[pos*10+1 : pos*10+10], ' ') AS line FROM g0),
        |d AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM ld GROUP BY doc_id),
        |du AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |THEN 'https://ads.tracker.net/item-' || CAST(doc_id AS VARCHAR)
        |ELSE CASE CAST(doc_id % 4 AS INTEGER)
        |WHEN 0 THEN 'https://Example.COM/articles/item-' || CAST(doc_id // 4 AS VARCHAR)
        |WHEN 1 THEN 'https://www.example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '/'
        |WHEN 2 THEN 'https://example.com:443/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
        |ELSE 'http://example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1#section' END END AS url FROM d),
        |hst AS (SELECT doc_id, url,
        |nullif(regexp_replace(regexp_replace(regexp_replace(lower(regexp_replace(
        |regexp_extract(string_split(url, '//')[2], '^[^/?#]*'),
        |'^[^@]*@', '')), '(\])?:[0-9]*$', '\1'), '^www\.', ''), '^\[([^\]]*)\]$', '\1'), '') AS host FROM du),
        |sv AS (SELECT doc_id, url FROM hst WHERE host IS NULL OR NOT EXISTS (
        |SELECT 1 FROM (VALUES ('tracker.net')) bl(domain)
        |WHERE hst.host = bl.domain OR hst.host LIKE '%.' || bl.domain)),
        |hx AS (SELECT doc_id,
        |'<html><head><title>t</title><style type="text/css">body {color:#fff}</style><script>if (1 < 2) { alert("x&y"); }</script></head><body><!-- nav --><h1>Doc &amp; entity &lt;demo&gt;</h1><p>'
        | || text || '</p><div>footer&nbsp;menu</div></body></html>' AS html FROM d),
        |ex AS (SELECT doc_id,
        |trim(regexp_replace(regexp_replace(regexp_replace(
        |replace(replace(replace(replace(replace(replace(
        |regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |'(?is)<script[^>]*>.*?</script>', '', 'g'),
        |'(?is)<style[^>]*>.*?</style>', '', 'g'),
        |'(?s)<!--.*?-->', '', 'g'),
        |'(?i)(</(p|div|li|h[1-6]|tr)>|<br\s*/?>)', chr(10), 'g'),
        |'<[^>]+>', '', 'g'),
        |'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |'&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
        |'[ ' || chr(9) || ']+', ' ', 'g'),
        |' ?' || chr(10) || ' ?', chr(10), 'g'),
        |chr(10) || '{2,}', chr(10), 'g'),
        |' ' || chr(10)) AS text FROM hx),
        |nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM sv),
        |bq AS (SELECT doc_id, split_part(u, '?', 1) AS base,
        |CASE WHEN contains(u, '?') THEN substring(u, len(split_part(u, '?', 1)) + 2) ELSE '' END AS query FROM nf),
        |pr AS (SELECT doc_id, base,
        |COALESCE(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref=') OR starts_with(p, 'fbclid=') OR p = ''))), '&'), '') AS cq FROM bq),
        |hp AS (SELECT doc_id, cq, split_part(base, '//', 1) AS scheme,
        |substring(base, len(split_part(base, '//', 1)) + 3) AS hostpath FROM pr),
        |h2 AS (SELECT doc_id, cq, scheme, split_part(hostpath, '/', 1) AS host0,
        |substring(hostpath, len(split_part(hostpath, '/', 1)) + 1) AS path FROM hp),
        |h3 AS (SELECT doc_id, cq, scheme, path, regexp_replace(lower(host0), '^www\.', '') AS hw FROM h2),
        |cn AS (SELECT doc_id,
        |lower(scheme) || '//' ||
        |CASE WHEN lower(scheme) = 'http:' THEN regexp_replace(hw, ':80$', '')
        |WHEN lower(scheme) = 'https:' THEN regexp_replace(hw, ':443$', '')
        |ELSE hw END ||
        |regexp_replace(path, '/$', '') ||
        |CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url FROM h3),
        |uk AS (SELECT MIN(doc_id) AS doc_id FROM cn GROUP BY canonical_url),
        |s1 AS (SELECT ex.doc_id, ex.text FROM ex JOIN uk USING (doc_id)),
        |nn AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \n\t\r]', ' ', 'g'), '[ \n\t\r]+', ' ', 'g'))) AS nh FROM s1),
        |nk AS (SELECT MIN(doc_id) AS doc_id FROM nn GROUP BY nh),
        |s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN nk USING (doc_id)),
        |l1 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM s2),
        |l2 AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls FROM l1),
        |lr AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ls[i] AS line FROM l2),
        |df2 AS (SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS line_df FROM lr GROUP BY line),
        |lj AS (SELECT lr.doc_id, lr.pos, lr.line, df2.line_df FROM lr JOIN df2 USING (line)),
        |lined AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |CAST(SUM(CASE WHEN line_df >= 2 AND line <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE line_df < 2 OR line = ''), '') AS kept_text
        |FROM lj GROUP BY doc_id),
        |gt AS (SELECT doc_id, n_lines, n_removed, kept_text AS text,
        |list_filter(string_split_regex(kept_text, '[ \n]'), x -> x <> '') AS toks,
        |list_filter(string_split(kept_text, chr(10)), x -> x <> '') AS lines FROM lined),
        |gc AS (SELECT doc_id, n_lines, n_removed,
        |CAST(len(toks) AS BIGINT) AS n_tok,
        |CAST(len(lines) AS BIGINT) AS g_lines,
        |CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS char_sum,
        |CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
        |CAST(len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT) AS n_bullet,
        |CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS n_ell_end,
        |CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |CAST(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))), ['the','be','to','of','and','that','have','with','a','is'])) AS BIGINT) AS stop_hits
        |FROM gt)
        |SELECT doc_id, n_lines, n_removed, n_tok AS n_tokens,
        |(n_tok >= 20 AND n_tok <= 100000
        |AND CAST(char_sum AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) >= CAST(3.0 AS DOUBLE)
        |AND CAST(char_sum AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) <= CAST(10.0 AS DOUBLE)
        |AND CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) < CAST(0.1 AS DOUBLE)
        |AND CAST(n_bullet AS DOUBLE) / CAST(greatest(g_lines, 1) AS DOUBLE) < CAST(0.9 AS DOUBLE)
        |AND CAST(n_ell_end AS DOUBLE) / CAST(greatest(g_lines, 1) AS DOUBLE) < CAST(0.3 AS DOUBLE)
        |AND CAST(n_alpha AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) > CAST(0.8 AS DOUBLE)
        |AND stop_hits >= 2) AS keep
        |FROM gc""".stripMargin,
    // crawl front + CCNet tail: the q_crawl_prepare_full chain with
    // the keep verdict folded into a CTE, then langid (marker-argmax
    // replay) and the unigram-LM tercile replay with the boundary
    // tie contract (>= comparisons, ties take the higher bucket) —
    // all over the kept text with newlines folded to spaces
    // The L16 crawl-front + CCNet-tail replay, parameterized on the
    // language-assignment relation — ONE builder so the marker and
    // model forms cannot drift: the marker form passes ("", "lg");
    // the model form appends the H29 fit/argmax CTEs (fit labels =
    // the marker predictions over the kept text — the bootstrap
    // self-training shape, exactly what the Spark facade does) and
    // buckets on model predictions with marker fallback ("lgm").
    "q_crawl_prepare_scored" -> crawlScoredOracle("", "lg"),
    "q_crawl_prepare_model" -> crawlScoredOracle(
      crawlScoredModelCtes, "lgm"),
    // crawl-prepare: the four stages chained as one CTE pipeline —
    // pseudo-line + URL synthesis, canonical-URL keepers, normalized
    // keepers, line df + reassembly, Gopher battery on the rewritten
    // text (minTokens=20)
    "q_crawl_prepare" ->
      """WITH t0 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t0 WHERE len(toks) >= 1),
        |g0 AS (SELECT doc_id, unnest(generate_series(0, CAST(ceil(n / 10.0) AS BIGINT) - 1)) AS pos, toks FROM b),
        |ld AS (SELECT doc_id, pos, array_to_string(toks[pos*10+1 : pos*10+10], ' ') AS line FROM g0),
        |d AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text FROM ld GROUP BY doc_id),
        |du AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
        |WHEN 0 THEN 'https://Example.COM/articles/item-' || CAST(doc_id // 4 AS VARCHAR)
        |WHEN 1 THEN 'https://www.example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '/'
        |WHEN 2 THEN 'https://example.com:443/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
        |ELSE 'http://example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1#section' END AS url FROM d),
        |nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM du),
        |bq AS (SELECT doc_id, split_part(u, '?', 1) AS base,
        |CASE WHEN contains(u, '?') THEN substring(u, len(split_part(u, '?', 1)) + 2) ELSE '' END AS query FROM nf),
        |pr AS (SELECT doc_id, base,
        |COALESCE(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref=') OR starts_with(p, 'fbclid=') OR p = ''))), '&'), '') AS cq FROM bq),
        |hp AS (SELECT doc_id, cq, split_part(base, '//', 1) AS scheme,
        |substring(base, len(split_part(base, '//', 1)) + 3) AS hostpath FROM pr),
        |h2 AS (SELECT doc_id, cq, scheme, split_part(hostpath, '/', 1) AS host0,
        |substring(hostpath, len(split_part(hostpath, '/', 1)) + 1) AS path FROM hp),
        |h3 AS (SELECT doc_id, cq, scheme, path, regexp_replace(lower(host0), '^www\.', '') AS hw FROM h2),
        |cn AS (SELECT doc_id,
        |lower(scheme) || '//' ||
        |CASE WHEN lower(scheme) = 'http:' THEN regexp_replace(hw, ':80$', '')
        |WHEN lower(scheme) = 'https:' THEN regexp_replace(hw, ':443$', '')
        |ELSE hw END ||
        |regexp_replace(path, '/$', '') ||
        |CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url FROM h3),
        |uk AS (SELECT MIN(doc_id) AS doc_id FROM cn GROUP BY canonical_url),
        |s1 AS (SELECT d.doc_id, d.text FROM d JOIN uk USING (doc_id)),
        |nn AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \n\t\r]', ' ', 'g'), '[ \n\t\r]+', ' ', 'g'))) AS nh FROM s1),
        |nk AS (SELECT MIN(doc_id) AS doc_id FROM nn GROUP BY nh),
        |s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN nk USING (doc_id)),
        |l1 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM s2),
        |l2 AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls FROM l1),
        |lr AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ls[i] AS line FROM l2),
        |df2 AS (SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS line_df FROM lr GROUP BY line),
        |lj AS (SELECT lr.doc_id, lr.pos, lr.line, df2.line_df FROM lr JOIN df2 USING (line)),
        |lined AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |CAST(SUM(CASE WHEN line_df >= 2 AND line <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE line_df < 2 OR line = ''), '') AS kept_text
        |FROM lj GROUP BY doc_id),
        |gt AS (SELECT doc_id, n_lines, n_removed, kept_text AS text,
        |list_filter(string_split_regex(kept_text, '[ \n]'), x -> x <> '') AS toks,
        |list_filter(string_split(kept_text, chr(10)), x -> x <> '') AS lines FROM lined),
        |gc AS (SELECT doc_id, n_lines, n_removed,
        |CAST(len(toks) AS BIGINT) AS n_tok,
        |CAST(len(lines) AS BIGINT) AS g_lines,
        |CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS char_sum,
        |CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
        |CAST(len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT) AS n_bullet,
        |CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS n_ell_end,
        |CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |CAST(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))), ['the','be','to','of','and','that','have','with','a','is'])) AS BIGINT) AS stop_hits
        |FROM gt)
        |SELECT doc_id, n_lines, n_removed, n_tok AS n_tokens,
        |(n_tok >= 20 AND n_tok <= 100000
        |AND CAST(char_sum AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) >= CAST(3.0 AS DOUBLE)
        |AND CAST(char_sum AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) <= CAST(10.0 AS DOUBLE)
        |AND CAST(n_hash + n_ellipsis AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) < CAST(0.1 AS DOUBLE)
        |AND CAST(n_bullet AS DOUBLE) / CAST(greatest(g_lines, 1) AS DOUBLE) < CAST(0.9 AS DOUBLE)
        |AND CAST(n_ell_end AS DOUBLE) / CAST(greatest(g_lines, 1) AS DOUBLE) < CAST(0.3 AS DOUBLE)
        |AND CAST(n_alpha AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) > CAST(0.8 AS DOUBLE)
        |AND stop_hits >= 2) AS keep
        |FROM gc""".stripMargin,
    // BPE round-1 pair counts: distinct-word freqs, per-position
    // char pairs via correlated generate_series, weighted sum, and
    // the deterministic top-20
    "q_bpe_pair_counts" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents),
        |wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word),
        |px AS (SELECT word, freq, unnest(generate_series(1, len(word) - 1)) AS i FROM wf WHERE len(word) >= 2),
        |c AS (SELECT substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM px GROUP BY 1, 2)
        |SELECT rank, a, b, cnt FROM (
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS INT) AS rank, a, b, cnt FROM c)
        |WHERE rank <= 20""".stripMargin,
    // BPE production encode: the greedy longest-match scan replayed
    // as a recursive CTE — per (doc, word) the cursor advances by the
    // longest vocab entry matching at pos (single char when none),
    // so every split decision the trie expression makes is re-derived
    // and the corpus token frequencies hash-compare
    "q_bpe_encode" -> {
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
    },
    // byte-level pair counts: distinct-word freqs -> the hex byte
    // remap (the q_bpe_encode_bytes chain, over DISTINCT WORDS so the
    // remap cost is vocabulary-sized) -> adjacent remapped-char pairs
    // weighted by freq, full table
    "q_bpe_pair_counts_bytes" -> {
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
    },
    // byte-level encode: the SAME greedy cursor, preceded by the
    // byte remap — hex(encode(word)) gives the UTF-8 bytes as hex
    // pairs (the md5-bucket strpos-parse precedent), each byte joins
    // the 256-entry chr() table (generated from the ONE Scala
    // ByteRemap.byteToChar array), string_agg in byte order rebuilds
    // the remapped word the trie expression walks
    "q_bpe_encode_bytes" -> {
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
    },
    // fertility: the same greedy cursor, carrying only the subword
    // COUNT through the recursion; lang recovered by (doc, word-idx)
    // join, one IEEE division for the ratio
    "q_encode_stats" -> {
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
    },
    // unigram seed: replay the substring enumeration (1..4 per start
    // position, frequency-weighted) + the (total desc, piece asc)
    // top-200 — the exact row_number definition selectTopN reproduces
    "q_unigram_seed" ->
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT unnest(toks) AS word FROM t),
        |wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt FROM w GROUP BY word),
        |subs AS (SELECT wcnt, unnest(flatten(list_transform(range(1, len(word) + 1), i ->
        |list_transform(range(1, least(4, len(word) - i + 1) + 1), l ->
        |substring(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece FROM wf),
        |agg AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS total FROM subs GROUP BY piece),
        |rk AS (SELECT piece, total, ROW_NUMBER() OVER (ORDER BY total DESC, piece ASC) AS rn FROM agg)
        |SELECT piece, total FROM rk WHERE rn <= 200""".stripMargin,
    // unigram Viterbi decode: forward DP as a recursive CTE carrying
    // the best-score and backpointer lists (ties -> smallest start),
    // then a backtrack recursion reassembling each word's pieces;
    // single chars outside the model take the OOV weight
    "q_unigram_segment" -> {
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
    },
    // line-level boilerplate dedup: replay the 10-token pseudo-line
    // synthesis, count DISTINCT docs per line, remove df>=2 lines,
    // reassemble with string_agg ordered by line position
    "q_dedup_lines" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) >= 1),
        |g AS (SELECT doc_id, unnest(generate_series(0, CAST(ceil(n / 10.0) AS BIGINT) - 1)) AS pos, toks FROM b),
        |ln AS (SELECT doc_id, pos, array_to_string(toks[pos*10+1 : pos*10+10], ' ') AS line FROM g),
        |df AS (SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS line_df FROM ln GROUP BY line),
        |j AS (SELECT ln.doc_id, ln.pos, ln.line, df.line_df FROM ln JOIN df USING (line))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |CAST(SUM(CASE WHEN line_df >= 2 AND line <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE line_df < 2 OR line = ''), '') AS kept_text
        |FROM j GROUP BY doc_id""".stripMargin,
    // substring cut: rank-over-partition picks the global first
    // occurrence per window hash; its tokens are PROTECTED; other
    // occurrences' tokens are cut unless protected; ordered
    // string_agg reassembles
    "q_dedup_substring_cut" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
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
        |FROM b LEFT JOIN agg USING (doc_id)""".stripMargin,
    // intra-doc line dedup: rank per (doc, line) by position, keep
    // rank 1, reassemble ordered
    "q_dedup_lines_within" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) >= 1),
        |g AS (SELECT doc_id, unnest(generate_series(0, CAST(ceil(n / 10.0) AS BIGINT) - 1)) AS pos, toks FROM b),
        |ln AS (SELECT doc_id, pos, array_to_string(toks[pos*10+1 : pos*10+10], ' ') AS line FROM g),
        |r AS (SELECT doc_id, pos, line,
        |ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn FROM ln)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |CAST(SUM(CASE WHEN rn > 1 AND line <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE rn = 1 OR line = ''), '') AS kept_text
        |FROM r GROUP BY doc_id""".stripMargin,
    // winnowing: the string-key trick replays exactly — md5 hex ‖
    // zero-padded descending position makes "min hash, rightmost
    // tie" a plain MIN over a frame window in any engine
    "q_winnow_fingerprints" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
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
        |FROM s WHERE cnt = 5""".stripMargin,
    // winnowing pairs: the fingerprint CTE + df cap + self join
    "q_winnow_pairs" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
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
        |GROUP BY a.doc_id, c.doc_id""".stripMargin,
    // bloom semi join: the oracle is the EXACT semi join — the bloom
    // prefilter must be invisible in the result
    "q_bloom_join" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows, SUM(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_orderkey IN
        |(SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin,
    // URL dedup: replay the synthesis + every canonicalization rule
    // (fragment, tracking params, sorted query, scheme/host case,
    // www, default ports, trailing slash) with engine-portable
    // string ops, then the keep-min-id groupBy
    "q_dedup_url" ->
      """WITH docs AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
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
        |FROM cn GROUP BY canonical_url""".stripMargin,
    // SemDeDup: seeds = the 8 lowest vec_ids (cell = seed rank),
    // ordered-fold squared-L2 assignment with (d2, cell) tie-break,
    // within-cell cosine pairs, keep = no smaller-id near neighbor
    "q_semdedup" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
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
        |FROM v LEFT JOIN drp USING (vec_id)""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      """WITH toks AS (
        |SELECT doc_id, source, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
        |FROM documents),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |pairs AS (
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        |FROM toks a JOIN toks b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        |GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.9""".stripMargin,
    // sweep: pair CTE once (no threshold), per-bar filtered aggregates
    "q_dedup_sweep" ->
      """WITH toks AS (
        |SELECT doc_id, source, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
        |FROM documents),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |pr AS (
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        |FROM toks a JOIN toks b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        |GROUP BY 1, 2),
        |j AS (SELECT a_id, b_id, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jac
        |FROM pr JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id),
        |tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
        |s AS (
        |SELECT CAST(0.7 AS DOUBLE) AS threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_dup_docs FROM j WHERE jac >= 0.7
        |UNION ALL SELECT CAST(0.8 AS DOUBLE), CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT b_id) AS BIGINT) FROM j WHERE jac >= 0.8
        |UNION ALL SELECT CAST(0.9 AS DOUBLE), CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT b_id) AS BIGINT) FROM j WHERE jac >= 0.9
        |UNION ALL SELECT CAST(0.95 AS DOUBLE), CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT b_id) AS BIGINT) FROM j WHERE jac >= 0.95)
        |SELECT threshold, n_pairs, n_dup_docs, tot.n - n_dup_docs AS n_survivors FROM s, tot""".stripMargin,
    "q_dedup_cluster" ->
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
        |SELECT src AS doc_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src""".stripMargin,
    "q_dedup_keep" ->
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
        |SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |cc AS (SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY src)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |JOIN cc ON d.doc_id = cc.doc_id AND cc.doc_id = cc.rep""".stripMargin,
    "q_dedup_embed_cos" ->
      """WITH v AS (SELECT vec_id, label, embedding,
        |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |FROM embeddings),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |CASE WHEN a.nrm * b.nrm = 0 THEN 0.0 ELSE
        |list_sum(list_transform(list_zip(a.embedding, b.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (a.nrm * b.nrm) END AS cos
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT a_id, b_id, cos FROM p WHERE cos >= 0.35""".stripMargin,
    "q_dedup_semantic" ->
      """WITH RECURSIVE v AS (SELECT vec_id, label, embedding,
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
        |SELECT src AS vec_id, MIN(dst) AS cluster_rep FROM reach GROUP BY src""".stripMargin,
    "q_ann_brute_topk" ->
      """WITH v AS (SELECT vec_id, embedding,
        |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |FROM embeddings),
        |p AS (SELECT * FROM v WHERE vec_id < 8),
        |scored AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |CASE WHEN p.nrm * c.nrm = 0 THEN 0.0 ELSE
        |list_sum(list_transform(list_zip(p.embedding, c.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (p.nrm * c.nrm) END AS cos
        |FROM p JOIN v c ON p.vec_id <> c.vec_id)
        |SELECT probe_id, CAST(rnk AS INT) AS rank, neighbor_id, cos FROM (
        |SELECT probe_id, neighbor_id, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
        |FROM scored) WHERE rnk <= 5""".stripMargin,
    // re-derives the md5 hyperplane family (weight(t,j,i) = md5 hex
    // parse mod 1000, scaled), recomputes every vector's 4-bit code
    // per table in element order, then replays candidate join,
    // cosine and top-k — the full lshTopK pipeline
    "q_ann_lsh" ->
      """WITH v AS (SELECT vec_id, embedding,
        |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |FROM embeddings),
        |codes AS (
        |SELECT vec_id, t.t,
        |list_sum(list_transform(range(0, 4), j -> CASE WHEN
        |list_sum(list_transform(range(1, 65), i ->
        |CAST(embedding[i] AS DOUBLE) *
        |((CAST('0x' || substr(md5('hp_' || CAST(t.t AS VARCHAR) || '_' || CAST(j AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)), 1, 15) AS BIGINT) % 1000) / 1000.0 - 0.5)
        |)) >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS code
        |FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS t) t),
        |cands AS (
        |SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
        |FROM codes p JOIN codes c ON p.t = c.t AND p.code = c.code
        |WHERE p.vec_id < 8 AND p.vec_id <> c.vec_id),
        |scored AS (
        |SELECT cd.probe_id, cd.neighbor_id,
        |CASE WHEN p.nrm * c.nrm = 0 THEN 0.0 ELSE
        |list_sum(list_transform(list_zip(p.embedding, c.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (p.nrm * c.nrm) END AS cos
        |FROM cands cd JOIN v p ON cd.probe_id = p.vec_id
        |JOIN v c ON cd.neighbor_id = c.vec_id)
        |SELECT probe_id, CAST(rnk AS INT) AS rank, neighbor_id, cos FROM (
        |SELECT probe_id, neighbor_id, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
        |FROM scored) WHERE rnk <= 5""".stripMargin,
    // replays IVF TRAINING and search: md5-hash-ordered seed pick,
    // two Lloyd rounds (ordered-fold squared-L2 argmin tie-broken by
    // cell, exact decimal(28,9) means), empty cells keep the prior
    // centroid, then inverted-file search (corpus -> 1 cell, probe ->
    // 3 cells), cosine, top-5
    "q_ann_ivf" -> (ivfTrainCtes +
      """pc AS (
        |SELECT vec_id AS probe_id, cell FROM (
        |SELECT d.vec_id, s.cell,
        |ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
        |list_sum(list_transform(range(1, 65), i -> (d.v[i] - s.c[i]) * (d.v[i] - s.c[i]))), s.cell) AS rn
        |FROM dv d CROSS JOIN c2 s WHERE d.vec_id < 8) WHERE rn <= 3),
        |scored AS (
        |SELECT pc.probe_id, cc.vec_id AS neighbor_id,
        |CASE WHEN p.nrm * c.nrm = 0 THEN 0.0 ELSE
        |list_sum(list_transform(list_zip(p.embedding, c.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (p.nrm * c.nrm) END AS cos
        |FROM pc JOIN cc ON pc.cell = cc.cell AND pc.probe_id <> cc.vec_id
        |JOIN dv p ON pc.probe_id = p.vec_id
        |JOIN dv c ON cc.vec_id = c.vec_id)
        |SELECT probe_id, CAST(rnk AS INT) AS rank, neighbor_id, cos FROM (
        |SELECT probe_id, neighbor_id, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
        |FROM scored) WHERE rnk <= 5""".stripMargin),
    "q_tfidf_top_terms" ->
      """WITH tf AS (
        |SELECT doc_id, tok, COUNT(*) AS tf FROM (
        |SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |FROM documents) GROUP BY doc_id, tok),
        |dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
        |SELECT doc_id, CAST(rnk AS INT) AS rank, tok, tf, df FROM (
        |SELECT tf.doc_id, tf.tok, tf.tf, dfc.df,
        |row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, dfc.df ASC, tf.tok ASC) AS rnk
        |FROM tf JOIN dfc ON tf.tok = dfc.tok) WHERE rnk <= 3""".stripMargin,
    // ROUGE: clipped multiset n-gram overlap — per-(id, gram) counts
    // joined, Σ least; guarded tick ratios share the Spark tree
    "q_rouge_score" ->
      """WITH t AS (SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS ct FROM documents),
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
        |FROM dd""".stripMargin,
    // gini: same ascending rank + pinned final tree
    "q_gini_vocab" ->
      """WITH f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents) GROUP BY tok),
        |r AS (SELECT f, CAST(ROW_NUMBER() OVER (ORDER BY f ASC, tok ASC) AS BIGINT) AS i FROM f),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab, CAST(SUM(f) AS BIGINT) AS n_tokens,
        |CAST(SUM(i * f) AS BIGINT) AS s_if FROM r)
        |SELECT n_vocab, n_tokens,
        |CAST(floor(1000000.0 * ((2.0 * CAST(s_if AS DOUBLE)) / (CAST(n_vocab AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        |- (CAST(n_vocab AS DOUBLE) + 1.0) / CAST(n_vocab AS DOUBLE))) AS BIGINT) AS gini_ticks
        |FROM s""".stripMargin,
    // distinct-n: two-level exact distinct, guarded tick ratio
    "q_distinct_ngrams" ->
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ct FROM documents),
        |g1 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM (SELECT unnest(ct) AS g FROM t) GROUP BY g),
        |g2 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |SELECT unnest(list_transform(generate_series(1, len(ct) - 1), i -> ct[i] || ' ' || ct[i + 1])) AS g FROM t) GROUP BY g),
        |r1 AS (SELECT CAST(1 AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(SUM(c) AS BIGINT) AS n_total FROM g1),
        |r2 AS (SELECT CAST(2 AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(SUM(c) AS BIGINT) AS n_total FROM g2),
        |q AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |SELECT n, n_distinct, n_total,
        |CASE WHEN n_total > 0 THEN CAST(floor(1000000.0 * (CAST(n_distinct AS DOUBLE) / CAST(n_total AS DOUBLE))) AS BIGINT)
        |ELSE CAST(0 AS BIGINT) END AS distinct_ticks
        |FROM q""".stripMargin,
    // BLEU kernel: corpus-sums of the same clipped machinery for
    // n=1..4; linear brevity; pinned-association product ticks
    "q_bleu_corpus" ->
      """WITH t AS (SELECT doc_id AS id, list_filter(string_split(text, ' '), x -> x <> '') AS ct FROM documents),
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
        |FROM dd""".stripMargin,
    "q_bigram_counts" ->
      """WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS l FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])) AS bigram
        |FROM t WHERE len(l) >= 2)
        |SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram""".stripMargin,
    "q_pii_scrub" ->
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
        |CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_longnums,
        |regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin,
    "q_decontaminate" -> decontaminateOracle,
    // identical output by contract — the bloom prefilter has no
    // false negatives and the exact join clears false positives
    "q_decontaminate_bloom" -> decontaminateOracle,
    "q_train_split" ->
      """WITH b AS (SELECT doc_id, lang,
        |(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |+ (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
        |FROM documents)
        |SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket,
        |CASE WHEN bucket < 230 THEN 'train' WHEN bucket < 243 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents)
        |SELECT doc_id, n_tokens,
        |CAST(floor((SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512) AS BIGINT) AS bin_id
        |FROM t""".stripMargin,
    // tokenize-pack: the H21 greedy cursor (recursive CTE) feeds a
    // vocab-index lookup (OOV -> -1), per-doc ordered id string, then
    // the pack running sum for bin_id and a per-bin running sum for
    // bin_offset — the full training-ready last mile replayed
    "q_tokenize_pack" ->
      s"""WITH RECURSIVE ${tokenizePackCtes("documents", 512L)}
         |SELECT doc_id, n_tokens, token_ids, bin_id, bin_offset FROM pk""".stripMargin,
    // the full last mile: the corpus-prepare chain (to `tokd`), the
    // train split as the tokenize source, the tokenize/pack chain
    // (to `pk`), then the export shard/rank replay — three
    // stage-oracles CHAINED, byte-shared with their standalone
    // queries via the two CTE builders
    "q_training_export" ->
      s"""WITH RECURSIVE $corpusPrepareCtes,
         |trainsrc AS (SELECT doc_id, text FROM tokd WHERE split = 'train'),
         |${tokenizePackCtes("trainsrc", 512L)},
         |hsh AS (SELECT pk.*, md5(CAST(doc_id AS VARCHAR)) AS hex FROM pk),
         |sh AS (SELECT *,
         |CAST(((strpos('0123456789abcdef', substring(hex, 1, 1)) - 1) * 4096
         |+ (strpos('0123456789abcdef', substring(hex, 2, 1)) - 1) * 256
         |+ (strpos('0123456789abcdef', substring(hex, 3, 1)) - 1) * 16
         |+ (strpos('0123456789abcdef', substring(hex, 4, 1)) - 1)) % 8 AS INTEGER) AS shard
         |FROM hsh)
         |SELECT doc_id, n_tokens, token_ids, bin_id, bin_offset, shard,
         |CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hex, doc_id) AS BIGINT) AS shard_rank
         |FROM sh""".stripMargin,
    "q_cap_per_group" ->
      """SELECT doc_id, lang, source FROM (
        |SELECT doc_id, lang, source,
        |row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |FROM documents) WHERE rn <= 10""".stripMargin,
    "q_sample_uniform" ->
      """SELECT doc_id, lang FROM (
        |SELECT doc_id, lang,
        |row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |FROM documents) WHERE rn <= 20""".stripMargin,
    "q_skew_join" ->
      """SELECT s_name, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin,
    "q_partitioned_roundtrip" ->
      """SELECT doc_id, source, n_chars, lang FROM documents
        |WHERE lang = 'en'""".stripMargin,
    "q_vec_norms" ->
      """SELECT vec_id, label,
        |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2,
        |list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq
        |FROM embeddings""".stripMargin,
    "q_tokcount" ->
      """SELECT doc_id,
        |CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_ws,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id,
        |(CAST(length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g')) AS DOUBLE) / length(text)) * 0.5
        |+ (CAST(len(list_filter(list_filter(string_split(text, ' '), t -> t <> ''), t -> list_contains(['the','a','an','of','and','in','to','is','for','on'], t))) AS DOUBLE)
        |   / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1)) * 0.3
        |+ least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.2 AS quality,
        |1.0 - CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
        |  / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1) AS dup_tok_ratio
        |FROM documents""".stripMargin,
    "q_langid" ->
      """WITH t AS (SELECT doc_id, lang,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)
        |SELECT doc_id, lang, list_sort([
        |  {'h': len(list_filter(toks, x -> list_contains(['the','and','of','is','fast','slow'], x))), 'l': 'en'},
        |  {'h': len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))), 'l': 'es'},
        |  {'h': len(list_filter(toks, x -> list_contains(['der','die','und','ist'], x))), 'l': 'de'},
        |  {'h': len(list_filter(toks, x -> list_contains(['le','la','et','est'], x))), 'l': 'fr'},
        |  {'h': len(list_filter(toks, x -> list_contains(['spark','query','data'], x))), 'l': 'zh'}
        |], 'DESC')[1].l AS lang_pred FROM t""".stripMargin,
    // byte-level roundtrip: identity — losslessness of the whole
    // encode→ids→decode chain IS the claim under hash check
    "q_tokenize_roundtrip_bytes" ->
      "SELECT doc_id, text FROM documents",
    // WordPiece encode: the greedy cursor replayed with a
    // (body, cont) vocabulary — a row matches only when its
    // continuation flag equals (pos > 1), a NULL longest-match means
    // whole-word [UNK] (out is REPLACED, discarding matched pieces)
    // and the cursor jumps past the end; >12-char words [UNK] in the
    // anchor row without scanning
    "q_wordpiece_encode" -> {
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
    },
    // WordPiece round-1 statistics: ##-marked symbol enumeration per
    // distinct word (first char plain), weighted pair counts, symbol
    // marginals joined back — exact integers end to end
    "q_wordpiece_pair_scores" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents),
        |wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word),
        |sy AS (SELECT word, freq, unnest(generate_series(1, CAST(len(word) AS BIGINT))) AS i FROM wf),
        |sym AS (SELECT freq, CASE WHEN i = 1 THEN substring(word, CAST(i AS INT), 1) ELSE '##' || substring(word, CAST(i AS INT), 1) END AS s FROM sy),
        |mg AS (SELECT s AS sym, CAST(SUM(freq) AS BIGINT) AS cnt FROM sym GROUP BY s),
        |px AS (SELECT word, freq, unnest(generate_series(1, CAST(len(word) - 1 AS BIGINT))) AS i FROM wf WHERE len(word) >= 2),
        |pc AS (SELECT CASE WHEN i = 1 THEN substring(word, CAST(i AS INT), 1) ELSE '##' || substring(word, CAST(i AS INT), 1) END AS a,
        |'##' || substring(word, CAST(i + 1 AS INT), 1) AS b,
        |CAST(SUM(freq) AS BIGINT) AS cnt_pair FROM px GROUP BY 1, 2)
        |SELECT pc.a, pc.b, pc.cnt_pair, ma.cnt AS cnt_a, mb.cnt AS cnt_b
        |FROM pc JOIN mg ma ON pc.a = ma.sym JOIN mg mb ON pc.b = mb.sym""".stripMargin,
    // model langid: fit (lang, bucket) char-bigram counts, densify
    // langs × observed buckets (zero cells still smooth), window the
    // totals onto the bounded model, probe every instance against
    // every class, argmax (score desc, class desc) per doc
    "q_langid_model" -> langIdModelOracle,
    "q_stream_langid" -> langIdModelOracle,
    "q_quality_gate" -> qualityGateOracle,
    "q_stream_quality_gate" -> qualityGateOracle,
    // FIM: the md5-nibble draw replay (q_export_shards idiom) for the
    // gate and both split points, then the same substring arithmetic
    "q_fim_transform" -> {
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
    },
    // sft: the same template assembly + prefix-length arithmetic
    "q_sft_format" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |p AS (SELECT doc_id,
        |array_to_string(tk[1:3], ' ') AS prompt,
        |array_to_string(tk[4:len(tk)], ' ') AS response FROM t),
        |r AS (SELECT doc_id,
        |'<|system|>' || chr(10) || 'You are a helpful assistant.' || chr(10) || '<|user|>' || chr(10) || prompt
        ||| chr(10) || '<|assistant|>' || chr(10) AS pre, response FROM p)
        |SELECT doc_id, pre || response || '<|end|>' AS sft_text,
        |CAST(len(pre) AS BIGINT) AS loss_start,
        |CAST(len(pre) + len(response) AS BIGINT) AS loss_end
        |FROM r""".stripMargin,
    // span corruption: the same md5-nibble replay for both span
    // starts, then identical 1-based list slicing — integer division
    // replays Spark's floor(n·k/S) exactly for non-negative n
    "q_span_corrupt" -> {
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
    },
    // wat outlinks: the envelope JSON is synthesized from pure
    // arithmetic in doc_id, so the oracle replays the two links per
    // doc directly (the WARC/WAT container layer is lossless)
    "q_wat_outlinks" ->
      """SELECT 'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS src_url,
        |'https://corpus.example/doc/' || CAST((doc_id * 31 + 7) % 97 AS VARCHAR) AS dst_url
        |FROM documents
        |UNION ALL
        |SELECT 'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR),
        |'https://other.example/p/' || CAST(doc_id % 13 AS VARCHAR)
        |FROM documents""".stripMargin,
    // anchor text: replay the synthesis (2-word anchor, host from
    // doc_id % 7, the doc_id % 3 text-less second link) + tokenize +
    // the two-level exact-distinct aggregation
    "q_anchor_text" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
        |an AS (SELECT doc_id, array_to_string(t[1:2], ' ') AS anchor FROM toks),
        |links AS (
        |SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS src_host,
        |'https://corpus.example/doc/' || CAST((doc_id * 31 + 7) % 97 AS VARCHAR) AS dst_url,
        |anchor FROM an
        |UNION ALL
        |SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org',
        |'https://other.example/p/' || CAST(doc_id % 13 AS VARCHAR),
        |anchor FROM an WHERE doc_id % 3 = 0),
        |tm AS (SELECT dst_url, src_host,
        |unnest(list_filter(string_split(lower(anchor), ' '), x -> x <> '')) AS term FROM links),
        |hh AS (SELECT dst_url, term, src_host, CAST(COUNT(*) AS BIGINT) AS n FROM tm GROUP BY 1, 2, 3)
        |SELECT dst_url, term, CAST(SUM(n) AS BIGINT) AS n_links, CAST(COUNT(*) AS BIGINT) AS n_hosts
        |FROM hh GROUP BY 1, 2""".stripMargin,
    // pagerank: the same tick iteration as a recursive CTE — the
    // working table is one iteration's rank rows; contribs aggregate
    // over it, the dangling mass folds in as a scalar subquery
    "q_pagerank" -> pageRankOracle(
      """edges AS (
        |SELECT CAST(doc_id % 97 AS BIGINT) AS src, CAST((doc_id * 31 + 7) % 97 AS BIGINT) AS dst
        |FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97)""".stripMargin),
    // component sizes: transitive-closure reach + min label (the CC
    // replay), then the two-level size histogram
    "q_component_sizes" ->
      """WITH RECURSIVE b AS (SELECT DISTINCT CAST(doc_id % 97 AS BIGINT) AS a, CAST((doc_id * 31 + 7) % 97 AS BIGINT) AS c
        |FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97),
        |n AS (SELECT DISTINCT a AS id FROM b UNION SELECT c FROM b),
        |sym AS (SELECT a AS src, c AS dst FROM b UNION SELECT c, a FROM b),
        |reach AS (SELECT id AS src, id AS dst FROM n
        |UNION SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |lab AS (SELECT src AS id, MIN(dst) AS comp FROM reach GROUP BY src),
        |cs AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS size FROM lab GROUP BY comp)
        |SELECT size, CAST(COUNT(*) AS BIGINT) AS n_components FROM cs GROUP BY size""".stripMargin,
    // triangle census: same forward orientation — each triangle is
    // exactly one apex wedge whose closing oriented edge exists
    "q_triangle_stats" ->
      """WITH b AS (SELECT CAST(doc_id % 97 AS BIGINT) AS s, CAST((doc_id // 97) % 97 AS BIGINT) AS d
        |FROM documents WHERE doc_id % 97 <> (doc_id // 97) % 97),
        |e1 AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b2 FROM b),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS dg FROM
        |(SELECT a AS n FROM e1 UNION ALL SELECT b2 AS n FROM e1) GROUP BY n),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e1),
        |eo AS (SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e1.a < e1.b2) THEN e1.a ELSE e1.b2 END AS u,
        |CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e1.a < e1.b2) THEN e1.b2 ELSE e1.a END AS v
        |FROM e1 JOIN deg da ON e1.a = da.n JOIN deg db ON e1.b2 = db.n),
        |tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM eo x JOIN eo y ON x.u = y.u AND x.v <> y.v JOIN eo z ON z.u = x.v AND z.v = y.v)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |CASE WHEN n_wedges > 0 THEN (3000000 * n_triangles) // n_wedges ELSE CAST(0 AS BIGINT) END AS global_cc_ppm
        |FROM nn, ne, tr""".stripMargin,
    // char diversity: the SAME alphabet constant drives both engines
    // — per-char counts by length-of-removal, pure integer collision
    "q_char_diversity" -> {
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
    },
    // label propagation: the 3 ticks unrolled — per tick, neighbor
    // votes counted and the (count DESC, lab ASC) argmax kept
    "q_label_propagation" -> {
      val step = (i: Int) =>
        s"""l$i AS (SELECT dst AS node, lab FROM (
           |SELECT e.dst, l.lab, COUNT(*) AS c,
           |ROW_NUMBER() OVER (PARTITION BY e.dst ORDER BY COUNT(*) DESC, l.lab ASC) AS rn
           |FROM l${i - 1} l JOIN e ON e.src = l.node GROUP BY e.dst, l.lab) WHERE rn = 1)""".stripMargin
      s"""WITH b AS (SELECT CAST(doc_id % 97 AS BIGINT) AS s, CAST((doc_id * 31 + 7) % 97 AS BIGINT) AS d
         |FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97),
         |e AS (SELECT s AS src, d AS dst FROM b UNION SELECT d, s FROM b),
         |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT node, lab FROM l3""".stripMargin
    },
    // seeded form: same graph, seeds = every 5th node, |seeds|
    // denominators and seed-gated teleport/dangling terms
    "q_pagerank_seeded" -> pageRankSeededOracle(
      """edges AS (
        |SELECT CAST(doc_id % 97 AS BIGINT) AS src, CAST((doc_id * 31 + 7) % 97 AS BIGINT) AS dst
        |FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97)""".stripMargin,
      "node % 5 = 0"),
    // host rank: synthesize per-doc URLs across 17 hosts, extract
    // registered hosts with the L13 regex replay, dedup to a simple
    // host graph, then the identical tick iteration
    "q_host_rank" -> pageRankOracle(
      """u AS (SELECT 'https://h' || CAST(doc_id % 17 AS VARCHAR) || '.example.org/d/' || CAST(doc_id AS VARCHAR) AS su,
        |'https://h' || CAST((doc_id * 5 + 3) % 17 AS VARCHAR) || '.example.org/d/x' AS du FROM documents),
        |he AS (SELECT
        |nullif(regexp_replace(regexp_replace(regexp_replace(lower(regexp_replace(
        |regexp_extract(string_split(su, '//')[2], '^[^/?#]*'),
        |'^[^@]*@', '')), '(\])?:[0-9]*$', '\1'), '^www\.', ''), '^\[([^\]]*)\]$', '\1'), '') AS src,
        |nullif(regexp_replace(regexp_replace(regexp_replace(lower(regexp_replace(
        |regexp_extract(string_split(du, '//')[2], '^[^/?#]*'),
        |'^[^@]*@', '')), '(\])?:[0-9]*$', '\1'), '^www\.', ''), '^\[([^\]]*)\]$', '\1'), '') AS dst
        |FROM u),
        |edges AS (SELECT DISTINCT src, dst FROM he
        |WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)""".stripMargin),
    // NFC: the suffix table is generated from the SAME Scala literal
    // as the Spark side (chr(codepoint) concatenation — SQL literals
    // don't process \u escapes); nfc_normalize is DuckDB's UAX #15
    "q_normalize_text" -> {
      val sfx = nfcSuffixes.map(sqlChrLit).mkString(", ")
      val ks = nfcSuffixes.indices.mkString(", ")
      s"""WITH sfx AS (SELECT unnest([$sfx]) AS s, unnest([$ks]) AS k),
         |r AS (SELECT d.doc_id, d.text || f.s AS raw
         |FROM documents d JOIN sfx f ON f.k = d.doc_id % 6)
         |SELECT doc_id, nfc_normalize(raw) AS text_nfc,
         |raw <> nfc_normalize(raw) AS changed FROM r""".stripMargin
    },
    "q_vocab_df" ->
      """SELECT tok, COUNT(*) AS df FROM (
        |SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
        |FROM documents) GROUP BY tok""".stripMargin,
    // boolean search: the direct form — per-doc distinct query terms
    "q_boolean_search" ->
      """WITH dt AS (SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS tok
        |FROM documents)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit, COUNT(*) = 3 AS and_match
        |FROM dt WHERE tok IN ('spark', 'merge', 'vector') GROUP BY doc_id""".stripMargin,
    // compaction is contents-identity — the whole claim
    "q_compact_layout" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // keyed merge: the same three batches replayed relationally —
    // each batch's survivors are the anti-join on the delta's keys,
    // plus its non-delete rows
    "q_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |b2 AS (
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.0 AS o_totalprice
        |FROM base WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus, o_totalprice
        |FROM base WHERE o_orderkey % 97 = 0),
        |a2 AS (
        |SELECT b.* FROM base b LEFT JOIN b2 ON b.o_orderkey = b2.o_orderkey
        |WHERE b2.o_orderkey IS NULL
        |UNION ALL SELECT * FROM b2),
        |del3 AS (SELECT o_orderkey FROM base WHERE o_orderkey % 7 = 0),
        |up3 AS (SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus, o_totalprice
        |FROM base WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0)
        |SELECT a.* FROM a2 a
        |LEFT JOIN del3 ON a.o_orderkey = del3.o_orderkey
        |LEFT JOIN up3 u ON a.o_orderkey = u.o_orderkey
        |WHERE del3.o_orderkey IS NULL AND u.o_orderkey IS NULL
        |UNION ALL SELECT * FROM up3""".stripMargin,
    // badwords: per-pattern replace-length occurrence counts (exact
    // for borderless patterns — overlap impossible), summed + hit
    // flags per doc
    "q_badwords_profile" ->
      """WITH c AS (SELECT doc_id,
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
        |FROM c""".stripMargin,
    // sitemap frontier: the robots decision table + the priority
    // digit, all from the same doc_id arithmetic
    // frontier schedule: the gate decision table filtered to allowed,
    // delay = 3 s (star) or the 1 s default (exact graftbot group,
    // k%3=0), row_number slots in (priority DESC, path) order
    "q_frontier_schedule" ->
      """WITH u AS (SELECT
        |'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
        |CASE CAST(doc_id % 3 AS INT)
        |WHEN 0 THEN '/d/' || CAST(doc_id AS VARCHAR)
        |WHEN 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
        |ELSE '/tmp/' || CAST(doc_id AS VARCHAR) END AS path,
        |'0.' || CAST(doc_id % 10 AS VARCHAR) AS priority,
        |CAST(doc_id % 7 AS INT) AS k, CAST(doc_id % 3 AS INT) AS m
        |FROM documents),
        |a AS (SELECT host, path, priority, k FROM u
        |WHERE CASE WHEN k % 3 = 0 THEN (m = 1)
        |ELSE NOT (m = 1 AND k % 2 = 1) END),
        |sc AS (SELECT host, path, priority,
        |CAST(CASE WHEN k % 3 = 0 THEN 1000000 ELSE 3000000 END AS BIGINT) AS delay_us,
        |CAST(ROW_NUMBER() OVER (PARTITION BY host
        |ORDER BY CAST(priority AS DOUBLE) DESC, path ASC) - 1 AS BIGINT) AS slot
        |FROM a)
        |SELECT host, path, priority, delay_us, slot,
        |CAST(slot * delay_us AS BIGINT) AS fetch_at_us FROM sc""".stripMargin,
    // sitemap index: the synthesis arithmetic decides every output
    // column — the index/child/urlset XML hops must reproduce it
    "q_sitemap_index" ->
      """SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
        |CASE CAST(doc_id % 3 AS INT)
        |WHEN 0 THEN '/d/' || CAST(doc_id AS VARCHAR)
        |WHEN 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
        |ELSE '/tmp/' || CAST(doc_id AS VARCHAR) END AS path,
        |'0.' || CAST(doc_id % 10 AS VARCHAR) AS priority,
        |'/sitemaps/s' || CAST(doc_id % 3 AS VARCHAR) || '.xml' AS sitemap_path,
        |'2024-01-0' || CAST(doc_id % 3 + 1 AS VARCHAR) AS sitemap_lastmod
        |FROM documents""".stripMargin,
    "q_sitemap_frontier" ->
      """WITH u AS (SELECT DISTINCT
        |'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
        |CASE CAST(doc_id % 3 AS INT)
        |WHEN 0 THEN '/d/' || CAST(doc_id AS VARCHAR)
        |WHEN 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
        |ELSE '/tmp/' || CAST(doc_id AS VARCHAR) END AS path,
        |'0.' || CAST(doc_id % 10 AS VARCHAR) AS priority,
        |CAST(doc_id % 7 AS INT) AS k, CAST(doc_id % 3 AS INT) AS m
        |FROM documents)
        |SELECT host, path, priority,
        |CASE WHEN k % 3 = 0 THEN (m = 1)
        |ELSE NOT (m = 1 AND k % 2 = 1) END AS allowed
        |FROM u""".stripMargin,
    // robots gate: the synthesis arithmetic decides — k%3=0 hosts
    // have the exact graftbot group (star VOID: /d/, /tmp/ denied,
    // /private/ untouched), the rest run the star group where the
    // longer Allow /private/p overrides on even k
    "q_robots_gate" ->
      """WITH u AS (SELECT DISTINCT
        |'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
        |CASE CAST(doc_id % 3 AS INT)
        |WHEN 0 THEN '/d/' || CAST(doc_id AS VARCHAR)
        |WHEN 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
        |ELSE '/tmp/' || CAST(doc_id AS VARCHAR) END AS path,
        |CAST(doc_id % 7 AS INT) AS k, CAST(doc_id % 3 AS INT) AS m
        |FROM documents)
        |SELECT host, path,
        |CASE WHEN k % 3 = 0 THEN (m = 1)
        |ELSE NOT (m = 1 AND k % 2 = 1) END AS allowed,
        |CASE WHEN k % 3 = 0 AND m = 0 THEN '/d/'
        |WHEN k % 3 = 0 AND m = 2 THEN '/tmp/'
        |WHEN k % 3 <> 0 AND m = 1 AND k % 2 = 0 THEN '/private/p'
        |WHEN k % 3 <> 0 AND m = 1 AND k % 2 = 1 THEN '/private/'
        |ELSE NULL END AS rule_path
        |FROM u""".stripMargin,
    // collocations: the same pair/unigram counts, the identical
    // fixed multiply tree, row_number top-30
    "q_collocations" ->
      """WITH tt AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
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
        |SELECT a, b, cnt_pair, cnt_a, cnt_b, pmi_fp FROM rk WHERE rn <= 30""".stripMargin,
    // corpus drift: per-side counts, full-outer vocab join, the same
    // fixed floor(1e9·cnt/N) tree, |Δticks|, row_number top-20
    "q_corpus_drift" ->
      """WITH ca AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM (
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
        |SELECT term, cnt_a, cnt_b, p_a_fp, p_b_fp, drift_fp FROM rk WHERE rn <= 20""".stripMargin,
    // divergence summary: the same drift table aggregated over the
    // FULL vocabulary — integer masses first, fixed trees last
    "q_corpus_divergence" ->
      """WITH ca AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM (
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
        |FROM g""".stripMargin,
    // streamed drift: ONE AvailableNow batch = all documents vs the
    // persisted en reference — the identical divergence chain with
    // side A unfiltered, plus the batch stamp
    "q_stream_drift" ->
      """WITH ca AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM (
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
        |FROM g""".stripMargin,
    // replays the polynomial fold token-by-token: same md5, same
    // 7-hex-char hash domain, same modular step — list_prepend(0)
    // supplies the fold's init value (list_reduce has no init arg)
    "q_fingerprint" ->
      """SELECT doc_id,
        |list_reduce(
        |list_prepend(CAST(0 AS BIGINT),
        |list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
        |t -> CAST('0x' || substr(md5(t), 1, 7) AS BIGINT))),
        |(a, h) -> (a * 31 + h) % 2147483647) AS fp
        |FROM documents""".stripMargin,
    "q_length_profile" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS total_tokens,
        |CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE) / COUNT(*) AS mean_tokens
        |FROM documents GROUP BY lang, source""".stripMargin,
    "q_vec_quantize" ->
      """SELECT vec_id,
        |CAST(list_sum(list_transform(embedding, x -> greatest(-127, least(127, CAST(floor(CAST(x AS DOUBLE) * 127.0 / 1.0 + 0.5) AS INT))))) AS BIGINT) AS q_sum,
        |CAST(list_min(list_transform(embedding, x -> greatest(-127, least(127, CAST(floor(CAST(x AS DOUBLE) * 127.0 / 1.0 + 0.5) AS INT))))) AS INT) AS q_min,
        |CAST(list_max(list_transform(embedding, x -> greatest(-127, least(127, CAST(floor(CAST(x AS DOUBLE) * 127.0 / 1.0 + 0.5) AS INT))))) AS INT) AS q_max
        |FROM embeddings""".stripMargin,
    "q_binary_meta" ->
      """SELECT doc_id, 'text/plain' AS media_type,
        |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |sha256(text) AS sha
        |FROM documents""".stripMargin,
    // media features: PNG decode is lossless, so the decoded
    // per-channel sums ARE the synthesis arithmetic — re-derive them
    // with generate_series over the same (w, h, pixel-formula) space
    "q_media_features" ->
      """WITH dims AS (SELECT doc_id,
        |CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |CAST(3 + doc_id % 4 AS INTEGER) AS h FROM documents),
        |gx AS (SELECT doc_id, w, h, unnest(generate_series(0, CAST(w AS BIGINT) - 1)) AS x FROM dims),
        |gxy AS (SELECT doc_id, w, h, x, unnest(generate_series(0, CAST(h AS BIGINT) - 1)) AS y FROM gx)
        |SELECT doc_id, w AS feat_width, h AS feat_height,
        |CAST(3 AS INTEGER) AS feat_channels,
        |CAST(SUM((doc_id + 3 * x + 7 * y) % 256) AS BIGINT) AS feat_sum_r,
        |CAST(SUM((2 * doc_id + 5 * x + 11 * y) % 256) AS BIGINT) AS feat_sum_g,
        |CAST(SUM((3 * doc_id + x + 13 * y) % 256) AS BIGINT) AS feat_sum_b
        |FROM gxy GROUP BY doc_id, w, h""".stripMargin,
    // audio features: WAV PCM is lossless, so the decoded per-channel
    // sums ARE the synthesis arithmetic — re-derive them with
    // generate_series over the same (channels, frames, sample-formula)
    "q_audio_features" ->
      """WITH dims AS (SELECT doc_id,
        |CAST(1 + doc_id % 2 AS INTEGER) AS ch,
        |CAST(50 + doc_id % 32 AS BIGINT) AS n FROM documents),
        |gi AS (SELECT doc_id, ch, n, unnest(generate_series(0, n - 1)) AS i FROM dims)
        |SELECT doc_id, CAST(8000 AS INTEGER) AS feat_rate,
        |ch AS feat_audio_channels, n AS feat_frames,
        |CAST(SUM((7 * doc_id + 31 * i) % 65536 - 32768) AS BIGINT) AS feat_sum_ch0,
        |CASE WHEN ch = 2 THEN CAST(SUM((7 * doc_id + 31 * i + 17) % 65536 - 32768) AS BIGINT) END AS feat_sum_ch1
        |FROM gi GROUP BY doc_id, ch, n""".stripMargin,
    // audio fingerprint: WAV PCM is lossless and the 64 windows are
    // index arithmetic, so per-window |sample| energies, the mean
    // threshold, and the signed 64-bit code all re-derive in SQL
    // (the HUGEINT wrap trick, as q_image_phash)
    "q_audio_fingerprint" ->
      """WITH dims AS (SELECT doc_id, doc_id // 2 AS base,
        |CAST(256 + (doc_id // 2) % 64 AS BIGINT) AS n FROM documents),
        |gk AS (SELECT doc_id, base, n, unnest(generate_series(0, 63)) AS k FROM dims),
        |gi AS (SELECT doc_id, base, k, unnest(generate_series(k * n // 64, (k + 1) * n // 64 - 1)) AS i FROM gk),
        |en AS (SELECT doc_id, k,
        |SUM(ABS(CASE WHEN doc_id % 2 = 1 AND i = 0
        |THEN ((7 * base + 31 * i) % 65536 + 16384) % 65536 - 32768
        |ELSE (7 * base + 31 * i) % 65536 - 32768 END)) AS e
        |FROM gi GROUP BY doc_id, k),
        |m AS (SELECT doc_id, SUM(e) // 64 AS mean FROM en GROUP BY doc_id),
        |s AS (SELECT en.doc_id,
        |COALESCE(SUM(CASE WHEN en.e > m.mean THEN CAST(1 AS HUGEINT) << CAST(en.k AS INTEGER) END), CAST(0 AS HUGEINT)) AS uh
        |FROM en JOIN m USING (doc_id) GROUP BY en.doc_id)
        |SELECT doc_id, CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
        |THEN uh - (CAST(1 AS HUGEINT) << 64) ELSE uh END AS BIGINT) AS fingerprint
        |FROM s""".stripMargin,
    // perceptual hash: PNG is lossless and the 8x8 downsample is
    // pure index math, so the full 64-bit signed code re-derives in
    // SQL — HUGEINT accumulates the unsigned bits, then wraps to the
    // signed BIGINT exactly as a Java long would
    "q_image_phash" ->
      """WITH dims AS (SELECT doc_id, doc_id // 2 AS base,
        |CAST(8 + (doc_id // 2) % 5 AS BIGINT) AS w,
        |CAST(8 + (doc_id // 2) % 4 AS BIGINT) AS h FROM documents),
        |gi AS (SELECT doc_id, base, w, h, unnest(generate_series(0, 7)) AS i FROM dims),
        |gij AS (SELECT doc_id, base, w, h, i, unnest(generate_series(0, 7)) AS j FROM gi),
        |cel AS (SELECT doc_id, base, i, j, (i * w) // 8 AS x, (j * h) // 8 AS y FROM gij),
        |g AS (SELECT doc_id, i, j,
        |CASE WHEN doc_id % 2 = 1 AND x = 0 AND y = 0
        |THEN ((3 * base + 7 * x + 11 * y) % 256 + 128) % 256
        |ELSE (3 * base + 7 * x + 11 * y) % 256 END AS gray FROM cel),
        |m AS (SELECT doc_id, SUM(gray) // 64 AS mean FROM g GROUP BY doc_id),
        |s AS (SELECT g.doc_id,
        |COALESCE(SUM(CASE WHEN g.gray > m.mean THEN CAST(1 AS HUGEINT) << CAST(8 * g.j + g.i AS INTEGER) END), CAST(0 AS HUGEINT)) AS uh
        |FROM g JOIN m USING (doc_id) GROUP BY g.doc_id)
        |SELECT doc_id, CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
        |THEN uh - (CAST(1 AS HUGEINT) << 64) ELSE uh END AS BIGINT) AS ahash
        |FROM s""".stripMargin,
    // phash pairs: identical-pipeline replay — same hash derivation,
    // same 4x16-bit band equi-join over the unsigned HUGEINT codes,
    // same hamming cutoff
    "q_image_phash_pairs" ->
      """WITH dims AS (SELECT doc_id, doc_id // 2 AS base,
        |CAST(8 + (doc_id // 2) % 5 AS BIGINT) AS w,
        |CAST(8 + (doc_id // 2) % 4 AS BIGINT) AS h FROM documents),
        |gi AS (SELECT doc_id, base, w, h, unnest(generate_series(0, 7)) AS i FROM dims),
        |gij AS (SELECT doc_id, base, w, h, i, unnest(generate_series(0, 7)) AS j FROM gi),
        |cel AS (SELECT doc_id, base, i, j, (i * w) // 8 AS x, (j * h) // 8 AS y FROM gij),
        |g AS (SELECT doc_id, i, j,
        |CASE WHEN doc_id % 2 = 1 AND x = 0 AND y = 0
        |THEN ((3 * base + 7 * x + 11 * y) % 256 + 128) % 256
        |ELSE (3 * base + 7 * x + 11 * y) % 256 END AS gray FROM cel),
        |m AS (SELECT doc_id, SUM(gray) // 64 AS mean FROM g GROUP BY doc_id),
        |ph AS (SELECT g.doc_id,
        |COALESCE(SUM(CASE WHEN g.gray > m.mean THEN CAST(1 AS HUGEINT) << CAST(8 * g.j + g.i AS INTEGER) END), CAST(0 AS HUGEINT)) AS uh
        |FROM g JOIN m USING (doc_id) GROUP BY g.doc_id),
        |bd AS (SELECT doc_id, uh, unnest(generate_series(0, 3)) AS b FROM ph),
        |bk AS (SELECT doc_id, uh, b, CAST((uh >> CAST(16 * b AS INTEGER)) & 65535 AS BIGINT) AS key FROM bd),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id, x.uh AS a_uh, y.uh AS b_uh
        |FROM bk x JOIN bk y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)
        |SELECT a_id, b_id, CAST(bit_count(xor(a_uh, b_uh)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(a_uh, b_uh)) <= 3""".stripMargin,
    // frame sampling: the indexed-palette GIF write is lossless, so
    // each sampled frame's gray sum replays from the pixel formula
    "q_frame_sample" ->
      """WITH dims AS (SELECT doc_id,
        |CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |CAST(3 + doc_id % 4 AS INTEGER) AS h,
        |CAST(2 + doc_id % 4 AS BIGINT) AS nf FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(generate_series(0, nf - 1, 2)) AS f FROM dims),
        |gx AS (SELECT doc_id, w, h, f, unnest(generate_series(0, CAST(w AS BIGINT) - 1)) AS x FROM fr),
        |gxy AS (SELECT doc_id, w, h, f, x, unnest(generate_series(0, CAST(h AS BIGINT) - 1)) AS y FROM gx)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |w AS frame_width, h AS frame_height,
        |CAST(SUM((doc_id + 5 * x + 3 * y + 11 * f) % 256) AS BIGINT) AS frame_gray_sum
        |FROM gxy GROUP BY doc_id, f, w, h""".stripMargin,
    "q_json_flatten" ->
      """SELECT event_id, event_type,
        |CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |FROM events""".stripMargin,
    "q_nested_flatten" ->
      """SELECT l_orderkey, l_partkey AS ps_l_partkey, l_suppkey AS ps_l_suppkey,
        |l_quantity AS m_l_quantity, l_extendedprice AS m_price_l_extendedprice,
        |l_discount AS m_price_l_discount
        |FROM lineitem""".stripMargin,
    "q_fixedwidth_roundtrip" ->
      "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem",
    "q_tokenrecords_roundtrip" ->
      "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem",
    "q_warc_roundtrip" ->
      """SELECT doc_id, 'response' AS warc_type,
        |'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |text FROM documents""".stripMargin,
    // warc ingest: batch = which trigger's wave the doc landed in
    "q_warc_ingest" ->
      """SELECT doc_id,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS batch,
        |CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |text FROM documents""".stripMargin,
    "q_gff_roundtrip" ->
      """SELECT p_brand AS seqid, 'graft' AS source, p_type AS type,
        |CAST(p_partkey AS BIGINT) AS start, CAST(p_partkey + p_size AS BIGINT) AS "end",
        |CAST(p_partkey AS BIGINT) AS id_attr, CAST(p_size AS BIGINT) AS size_attr
        |FROM part""".stripMargin,
    "q_stockholm_roundtrip" ->
      """SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS acc, CAST(1 AS BIGINT) AS seq_start,
        |CAST(length(regexp_replace(text, '[. -]', '', 'g')) AS BIGINT) AS seq_end,
        |CAST(length(regexp_replace(text, '[. -]', '', 'g')) AS BIGINT) AS seq_len
        |FROM documents WHERE length(regexp_replace(text, '[. -]', '', 'g')) > 0""".stripMargin,
    "q_fasta_roundtrip" ->
      """SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS acc, CAST(1 AS BIGINT) AS seq_start,
        |CAST(length(replace(text, ' ', '')) AS BIGINT) AS seq_end,
        |CAST(length(replace(text, ' ', '')) AS BIGINT) AS seq_len
        |FROM documents""".stripMargin,
    "q_histogram" ->
      """SELECT l_returnflag,
        |CAST(least(9, greatest(0, floor((l_quantity - 0.0) / 5.0))) AS BIGINT) AS bin,
        |COUNT(*) AS n,
        |0.0 + CAST(least(9, greatest(0, floor((l_quantity - 0.0) / 5.0))) AS BIGINT) * 5.0 AS bin_lo
        |FROM lineitem GROUP BY 1, 2, 4""".stripMargin,
    "q_table_diff" ->
      """WITH newsnap AS (
        |SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |lang, source, n_chars FROM documents WHERE doc_id % 10 <> 0
        |UNION ALL
        |SELECT doc_id + 1000000, text, lang, source, n_chars FROM documents WHERE doc_id % 13 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |CASE WHEN o.doc_id IS NULL THEN 'added'
        |WHEN n.doc_id IS NULL THEN 'removed'
        |WHEN o.text IS DISTINCT FROM n.text OR o.lang IS DISTINCT FROM n.lang
        |  OR o.source IS DISTINCT FROM n.source OR o.n_chars IS DISTINCT FROM n.n_chars THEN 'changed'
        |ELSE 'unchanged' END AS change
        |FROM documents o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
        |WHERE NOT (o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
        |  AND o.text IS NOT DISTINCT FROM n.text AND o.lang IS NOT DISTINCT FROM n.lang
        |  AND o.source IS NOT DISTINCT FROM n.source AND o.n_chars IS NOT DISTINCT FROM n.n_chars)""".stripMargin,
    "q_seq_mismatch" ->
      """SELECT l_orderkey,
        |string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag, l_linestatus) AS seq_a,
        |string_agg(l_linestatus, '' ORDER BY l_linenumber, l_returnflag, l_linestatus) AS seq_b,
        |CAST(SUM(CASE WHEN l_returnflag <> l_linestatus THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |SUM(CASE WHEN l_returnflag <> l_linestatus THEN 1 ELSE 0 END) <= 2 AS seqs_match
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q_csv_roundtrip" ->
      "SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer",
    "q_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_stream_upsert" ->
      """SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us,
        |value AS last_value FROM (
        |SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |FROM events) WHERE rn = 1""".stripMargin,
    "q_schema_evolution" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |COUNT(CASE WHEN l_orderkey % 2 = 1 THEN 1 END) AS n_with_price,
        |CAST(SUM(CASE WHEN l_orderkey % 2 = 1 THEN CAST(l_extendedprice AS DECIMAL(28,2)) END) AS DOUBLE) AS sum_price_new_gen
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_dedup_containment" ->
      """WITH toks AS (SELECT doc_id, source, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok FROM documents),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        |FROM toks a JOIN toks b ON a.tok = b.tok AND a.source = b.source AND a.doc_id <> b.doc_id
        |GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(inter AS DOUBLE) / sa.sz AS containment
        |FROM cand JOIN sizes sa ON a_id = sa.doc_id
        |WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.9""".stripMargin,
    "q_repetition_profile" ->
      """WITH per_row AS (SELECT doc_id,
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
        |FROM per_row p LEFT JOIN topb t USING (doc_id)""".stripMargin,
    "q_chunk_tokens" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n, unnest(generate_series(0, n - 1, 16)) AS start FROM s)
        |SELECT doc_id, CAST(start // 16 AS BIGINT) AS chunk_idx,
        |CAST(least(32, n - start) AS BIGINT) AS chunk_len,
        |array_to_string(toks[start + 1 : least(n, start + 32)], ' ') AS chunk_text
        |FROM c""".stripMargin,
    "q_corpus_mix" ->
      """WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |t AS (SELECT source,
        |greatest(1, CAST(floor(sqrt(CAST((SELECT MIN(n) FROM counts) AS DOUBLE) / n) * 65536) AS BIGINT)) AS thresh
        |FROM counts)
        |SELECT d.source, d.doc_id FROM documents d JOIN t ON d.source IS NOT DISTINCT FROM t.source
        |WHERE (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |+ (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |+ (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |+ (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) < thresh""".stripMargin,
    "q_window_sliding" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |k AS (SELECT unnest(generate_series(0, 1)) AS k)
        |SELECT ((us // 900000000) - k.k) * 900000000 AS window_start_us, event_type,
        |COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM e, k GROUP BY 1, 2""".stripMargin,
    "q_stream_static_join" ->
      """SELECT (epoch_us(e.ts) // 900000000) * 900000000 AS window_start_us,
        |COALESCE(c.c_mktsegment, 'unknown') AS segment, COUNT(*) AS n,
        |CAST(SUM(CAST(e.value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,
    "q_attr_render_roundtrip" ->
      "SELECT c_custkey, c_acctbal FROM customer",
    "q_jsonl_roundtrip" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |CAST(SUM(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY lang, source""".stripMargin)
}
