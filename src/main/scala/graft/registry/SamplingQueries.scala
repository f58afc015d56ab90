package graft
package registry

import graft.operators._
import graft.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Fixtures._

/** SURVEY.md §2 L: sampling, splits and the training-data facades. */
private[graft] object SamplingQueries extends Family {

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

  /** q_crawl_prepare_full's oracle, which q_crawl_prepare_blocks and
    * q_warc_to_corpus derive from. */
  private def crawlPrepareFullOracle: String =
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
      |FROM gc""".stripMargin

  /** The q_warc_to_corpus oracle. The WARC leg is a lossless
    * identity, so it is the L15 crawl-front CTE chain with ONLY the
    * url-synthesis CTE swapped for the doc_id-recoverable fixture —
    * derived programmatically so the chains stay in lockstep.
    * q_wet_to_corpus derives from it in turn. */
  private def warcToCorpusOracle: String = crawlPrepareFullOracle.replace(
    """ELSE CASE CAST(doc_id % 4 AS INTEGER)
      |WHEN 0 THEN 'https://Example.COM/articles/item-' || CAST(doc_id // 4 AS VARCHAR)
      |WHEN 1 THEN 'https://www.example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '/'
      |WHEN 2 THEN 'https://example.com:443/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?utm_source=feed&utm_campaign=x'
      |ELSE 'http://example.com/articles/item-' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1#section' END END AS url""".stripMargin,
    "ELSE 'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) END AS url")

  /** q_cap_per_group's oracle, shared by its BoundedTopK form
    * q_cap_per_group_topk. */
  private def capPerGroupOracle: String =
    """SELECT doc_id, lang, source FROM (
      |SELECT doc_id, lang, source,
      |row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      |FROM documents) WHERE rn <= 10""".stripMargin

  def queries: Seq[Query] = Seq(
    // dataset versioning: diff two corpus snapshots (v2 derived
    // deterministically: drop %10 ids, mutate %7 texts, add %13 ids
    // under new keys) → added/removed/changed rows
    Query("q_table_diff", (s, d) => {
      val docs = T(s, d, "documents")
      val v2 = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000))
      RowOps.snapshotDiff(docs, v2, Seq("doc_id"),
        Seq("text", "lang", "source", "n_chars"))
    },
      Some("""WITH newsnap AS (
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
        |  AND o.source IS NOT DISTINCT FROM n.source AND o.n_chars IS NOT DISTINCT FROM n.n_chars)""".stripMargin)),
    // session transcripts: interaction logs as conversation-style
    // documents — sessionize + in-aggregation ordering + integer
    // cents; every line of every transcript hash-checked
    Query("q_dialogue_assemble", (s, d) =>
      WindowOps.sessionTranscripts(T(s, d, "events")),
      // transcripts: the q_sessionize flag/sum replay + per-session
      // MIN join + ordered string_agg with the same cents tree
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
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
        |GROUP BY s.user_id, s.sess""".stripMargin)),
    // DPO preference pairs over the L29 transcripts: sessions play
    // rated candidate responses (rating = n_turns), prompt families
    // key on (opening event type, user cohort); deterministic
    // max-vs-min pairing with id-broken ties, then the L25
    // leakage-safe split on the prompt family so a family never
    // straddles train/test
    Query("q_dpo_pairs", (s, d) => {
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
    },
      // DPO pairs: the q_dialogue_assemble sessionize/transcript CTE,
      // then per-prompt argmax (rating DESC, id ASC) vs argmin
      // (rating ASC, id DESC), then the q_leakage_safe_split md5 replay
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
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
        |FROM n2 JOIN r2 USING (gk)""".stripMargin)),
    // exact stratified sample: largest-remainder allocation of 100
    // rows over languages, per-stratum content-hash-order prefix from
    // the range-partitioned running count (PrefixSum)
    Query("q_stratified_sample", aliases = Seq("q_stratified_sample_range"),
      build = (s, d) =>
      Sampling.stratifiedSample(
          T(s, d, "documents"), "lang", "doc_id", 100L, nBuckets = 16)
        .select(col("doc_id"), col("lang"), col("source")),
      // stratified sample: integer largest-remainder apportionment over
      // the strata table, then the per-stratum md5-order prefix
      oracle = Some("""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |g AS (SELECT lang, n, CAST(SUM(n) OVER () AS BIGINT) AS nn FROM c),
        |a AS (SELECT lang, n, (100 * n) // nn AS base, (100 * n) % nn AS rem,
        |CAST(100 - SUM((100 * n) // nn) OVER () AS BIGINT) AS extra FROM g),
        |r AS (SELECT lang, base, extra, ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rk FROM a),
        |al AS (SELECT lang, base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS alloc FROM r),
        |p AS (SELECT d.doc_id, d.lang, d.source,
        |ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk,
        |al.alloc FROM documents d JOIN al USING (lang))
        |SELECT doc_id, lang, source FROM p WHERE rk <= alloc""".stripMargin)),
    // leakage-safe split: train/val/test keyed on the normalized-
    // text duplicate group's min doc_id — a dup cluster can never
    // straddle train and test
    Query("q_leakage_safe_split", (s, d) =>
      Sampling.groupAwareSplit(
          T(s, d, "documents").withColumn("gk",
            md5(graft.functions.TextFunctions.normalizeText(col("text"))
              .cast("binary"))),
          "gk", "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("rep_id"), col("bucket"), col("split")),
      // leakage-safe split: the normalization + md5 group, min-id rep,
      // and the 256-bucket thresholds (0.9/0.05/0.05 → 230/243)
      Some("""WITH n AS (SELECT doc_id,
        |md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \n\t\r]', ' ', 'g'), '[ \n\t\r]+', ' ', 'g'))) AS gk
        |FROM documents),
        |r AS (SELECT gk, MIN(doc_id) AS rep_id FROM n GROUP BY gk),
        |b AS (SELECT n.doc_id, r.rep_id,
        |CAST('0x' || substr(md5(CAST(r.rep_id AS VARCHAR)), 1, 2) AS BIGINT) AS bucket
        |FROM n JOIN r USING (gk))
        |SELECT doc_id, rep_id, bucket,
        |CASE WHEN bucket < 230 THEN 'train' WHEN bucket < 243 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin)),
    // distribution matching: down-sample to the target lang mix
    // (en .4 / es .3 / zh .2 / fr .1; de dropped) — binding group
    // keeps ~100%, md5-bucket thresholds, corpus never shuffles
    Query("q_match_distribution", (s, d) =>
      Sampling.matchDistribution(T(s, d, "documents"), "lang", "doc_id",
          Seq("en" -> 0.4, "es" -> 0.3, "zh" -> 0.2, "fr" -> 0.1))
        .select(col("doc_id"), col("lang"), col("source")),
      // distribution matching: the same fixed IEEE tree (cast-divide,
      // multiply, floor, 1-bucket floor) and the md5Bucket16 threshold
      Some("""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |t(g, t) AS (VALUES ('en', 0.4), ('es', 0.3), ('zh', 0.2), ('fr', 0.1)),
        |q AS (SELECT g, t, n, CAST(n AS DOUBLE) / t AS q FROM c JOIN t ON lang = g),
        |s AS (SELECT MIN(q) AS s FROM q),
        |th AS (SELECT g, GREATEST(CAST(1 AS BIGINT), CAST(floor(s.s * q.t / CAST(q.n AS DOUBLE) * 65536) AS BIGINT)) AS thresh FROM q, s)
        |SELECT d.doc_id, d.lang, d.source FROM documents d JOIN th ON d.lang = th.g
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT) < th.thresh""".stripMargin)),
    // weighted sample without replacement (Efraimidis–Spirakis):
    // inclusion odds proportional to n_chars via the exact
    // max-of-w-uniforms key (md5 draws, zero floats), top-64 through
    // the selectTopN narrowing — the key itself is hash-checked
    Query("q_weighted_sample", (s, d) =>
      Sampling.weightedSample(T(s, d, "documents"), "doc_id", "n_chars", 64L)
        .filter(col("selected"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("es_key")),
      // weighted sample: the A-ES key replayed draw-for-draw — max of
      // w md5 hex draws per doc (generate_series unnest), first 15
      // nibbles as the 60-bit key, row_number over (key desc, id asc)
      Some("""WITH w AS (SELECT doc_id, lang, source, n_chars, CAST(n_chars AS BIGINT) AS wt FROM documents WHERE n_chars >= 1),
        |d AS (SELECT doc_id, unnest(generate_series(1, wt)) AS j FROM w),
        |kx AS (SELECT doc_id, MAX(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))) AS hx FROM d GROUP BY doc_id),
        |kn AS (SELECT doc_id, CAST('0x' || substr(hx, 1, 15) AS BIGINT) AS es_key FROM kx),
        |r AS (SELECT doc_id, es_key, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id ASC) AS rk FROM kn)
        |SELECT w.doc_id, w.lang, w.source, w.n_chars, r.es_key
        |FROM w JOIN r USING (doc_id) WHERE r.rk <= 64""".stripMargin)),
    // the per-group form: 12 weighted draws from EVERY language via
    // the batched selectTopNByGroup narrowing (52-bit key; no
    // per-group window sort anywhere)
    Query("q_weighted_sample_group", (s, d) =>
      Sampling.weightedSamplePerGroup(
          T(s, d, "documents"), "lang", "doc_id", "n_chars", 12L)
        .filter(col("selected"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("es_key")),
      // per-group weighted sample: same draws, 13-nibble (52-bit,
      // double-exact) key, per-lang row_number
      Some("""WITH w AS (SELECT doc_id, lang, source, n_chars, CAST(n_chars AS BIGINT) AS wt FROM documents WHERE n_chars >= 1),
        |d AS (SELECT doc_id, unnest(generate_series(1, wt)) AS j FROM w),
        |kx AS (SELECT doc_id, MAX(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))) AS hx FROM d GROUP BY doc_id),
        |kn AS (SELECT doc_id, CAST('0x' || substr(hx, 1, 13) AS BIGINT) AS es_key FROM kx),
        |r AS (SELECT w.doc_id, w.lang, w.source, w.n_chars, kn.es_key,
        |ROW_NUMBER() OVER (PARTITION BY w.lang ORDER BY kn.es_key DESC, w.doc_id ASC) AS rk
        |FROM w JOIN kn USING (doc_id))
        |SELECT doc_id, lang, source, n_chars, es_key FROM r WHERE rk <= 12""".stripMargin)),
    // Z-order layout: per-tile file-skipping stats over the Morton
    // interleave of (l_orderkey, l_partkey) — exact integer grid
    // normalization, 64 rectangle tiles, every bound hash-checked
    Query("q_zorder_layout", (s, d) =>
      Layout.zorderStats(T(s, d, "lineitem"), "l_orderkey", "l_partkey",
        bits = 16, tileBits = 3),
      // z-order layout: the grid scale, the top-3-bit de-interleave
      // and the tile id replayed with the same integer arithmetic
      // (tile = interleave of the two 3-bit grid prefixes — provably
      // what Spark's full-16-bit z >> 26 produces)
      Some("""WITH mm AS (SELECT CAST(MIN(l_orderkey) AS BIGINT) AS xmin, CAST(MAX(l_orderkey) AS BIGINT) AS xmax,
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
        |gx, gy FROM t GROUP BY tile_id, gx, gy""".stripMargin)),
    // deterministic training-export sharding: md5 shard assignment +
    // in-shard content-hash rank (the no-rand() global shuffle)
    Query("q_export_shards", (s, d) =>
      Sampling.exportShards(
        T(s, d, "documents").select("doc_id"), "doc_id", nShards = 8),
      // export sharding: the md5Bucket16 nibble replay (q_corpus_mix
      // pattern) mod nShards, rank by (md5 hex, id) within the shard
      Some("""WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hex FROM documents),
        |s AS (SELECT doc_id, hex,
        |CAST(((strpos('0123456789abcdef', substring(hex, 1, 1)) - 1) * 4096
        |+ (strpos('0123456789abcdef', substring(hex, 2, 1)) - 1) * 256
        |+ (strpos('0123456789abcdef', substring(hex, 3, 1)) - 1) * 16
        |+ (strpos('0123456789abcdef', substring(hex, 4, 1)) - 1)) % 8 AS INTEGER) AS shard
        |FROM h)
        |SELECT doc_id, shard,
        |CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hex, doc_id) AS BIGINT) AS shard_rank
        |FROM s""".stripMargin)),
    // the dataloader-facing shard manifest: per shard, row count,
    // token total, dense-rank integrity and an order-free hex-sum id
    // checksum — all engine-replayable arithmetic
    Query("q_export_manifest", (s, d) =>
      Sampling.exportManifest(
        T(s, d, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        "doc_id", nShards = 8, nTokensCol = Some("n_tokens")),
      // manifest: the same shard/rank replay, aggregated; checksum =
      // sum of each id's first 8 md5 hex digits (nibble arithmetic)
      Some {
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
      }),
    // token-budget mixture sampling: per source keep the hash-order
    // prefix of docs whose running token total starts under budget
    // (training mixes are token splits, not doc splits)
    Query("q_token_budget_mix", aliases = Seq("q_token_budget_mix_range"),
      build = (s, d) =>
      Sampling.tokenBudgetSample(
        T(s, d, "documents").select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        "source", "doc_id", "n_tokens", budget = 800L, nBuckets = 16),
      // token-budget mix: running token sum BEFORE each doc in
      // (md5 hex, id) order per source; keep while it starts < budget
      oracle = Some("""WITH d AS (SELECT doc_id, source, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |FROM d)
        |SELECT doc_id, source, n_tokens FROM c WHERE cum_before < 800""".stripMargin)),
    // FIM transform (code-model infilling data prep): a deterministic
    // half of the docs rewritten to <PRE>/<SUF>/<MID> sentinel order,
    // split points md5-drawn over the char length — scan-stage, zero
    // shuffles, every byte hash-checked by the substring replay
    // SFT chat-template rendering: prompt = first 3 tokens,
    // response = the rest; the rendered row carries the exact
    // character span of the response (the masked-loss contract) —
    // both hash-checked against the same assembly arithmetic
    Query("q_sft_format", (s, d) => {
      val toks = TextFunctions.tokens(col("text"))
      val pairs = T(s, d, "documents").select(col("doc_id"),
        array_join(slice(toks, 1, 3), " ").as("prompt"),
        array_join(slice(toks, lit(4), greatest(size(toks) - 3, lit(0))),
          " ").as("response"))
      Corpus.sftRender(pairs, "You are a helpful assistant.")
    },
      // sft: the same template assembly + prefix-length arithmetic
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |p AS (SELECT doc_id,
        |array_to_string(tk[1:3], ' ') AS prompt,
        |array_to_string(tk[4:len(tk)], ' ') AS response FROM t),
        |r AS (SELECT doc_id,
        |'<|system|>' || chr(10) || 'You are a helpful assistant.' || chr(10) || '<|user|>' || chr(10) || prompt
        ||| chr(10) || '<|assistant|>' || chr(10) AS pre, response FROM p)
        |SELECT doc_id, pre || response || '<|end|>' AS sft_text,
        |CAST(len(pre) AS BIGINT) AS loss_start,
        |CAST(len(pre) + len(response) AS BIGINT) AS loss_end
        |FROM r""".stripMargin)),
    // crawl-prepare facade capstone: URL dedup → normalized-exact
    // dedup → line boilerplate removal → Gopher gate on the
    // REWRITTEN text, over the same synthesized URL variants and
    // pseudo-lines as q_dedup_url / q_dedup_lines — every stage
    // individually oracle-green, here chained and replayed end-to-end
    Query("q_crawl_prepare", (s, d) =>
      CorpusPipeline.crawlPrepare(
        linedDocuments(s, d)
          .select(col("doc_id"), synthUrl.as("url"), col("text")),
        minTokens = 20),
      // crawl-prepare: the four stages chained as one CTE pipeline —
      // pseudo-line + URL synthesis, canonical-URL keepers, normalized
      // keepers, line df + reassembly, Gopher battery on the rewritten
      // text (minTokens=20)
      Some("""WITH t0 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
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
        |FROM gc""".stripMargin)),
    // UT1-style domain blocklist (the RefinedWeb/CCNet stage-0 URL
    // filter): a blocked domain bans itself + every subdomain;
    // blocked_by = the most specific matching entry. The fixture
    // exercises suffix vs substring ("nottracker.net" survives),
    // specificity ("shop.example.com" beats "example.com"),
    // userinfo/port stripping, and unparseable-URL passthrough
    Query("q_blocklist_filter", (s, d) => {
      import s.implicits._
      val blocklist = Seq("tracker.net", "example.com",
        "shop.example.com").toDF("domain")
      CorpusPipeline.blocklistFilter(
        T(s, d, "documents").select(col("doc_id"),
          synthBlockUrl.as("url")),
        blocklist)
        .select("doc_id", "host", "blocked_by", "keep")
    },
      // blocklist: replay host extraction (authority → strip userinfo,
      // port, www., lower) and pick the longest list entry that equals
      // the host or is a '.'-boundary suffix of it
      Some("""WITH bl(domain) AS (VALUES ('tracker.net'), ('example.com'), ('shop.example.com')),
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
        |FROM h""".stripMargin)),
    // HTML main-text extraction (the trafilatura stage between the
    // URL gate and line dedup): wrap each doc's text in a noisy HTML
    // shell — script/style/comment blocks, block tags, the six
    // entities — and extract; the whole chain is RE2-portable
    // regexp/replace steps, so DuckDB replays it byte-for-byte
    Query("q_html_extract", (s, d) =>
      T(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.htmlExtract(htmlShell(col("text"))).as("extracted"))
        .withColumn("n_chars_out",
          length(col("extracted")).cast("long")),
      // html extraction: the identical RE2 chain replayed with 'g'
      // flags (DuckDB regexp_replace is first-match by default where
      // Spark's is global) over the same synthesized shell
      Some("""WITH h AS (SELECT doc_id,
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
        |CAST(length(extracted) AS BIGINT) AS n_chars_out FROM e""".stripMargin)),
    // block-scored main-content extraction (the jusText rung): each
    // doc wrapped in nav/heading/link-farm/copyright boilerplate plus
    // its content paragraph; the scorer must keep exactly the content
    // (when it is stopword-fluent) and drop the rest — every score
    // and verdict replayed relationally in the oracle
    Query("q_html_extract_blocks", (s, d) =>
      Boilerplate.htmlExtractBlocks(
        T(s, d, "documents").select(col("doc_id"),
          concat(lit(blockShellPre), col("text"),
            lit(blockShellPost)).as("html")))
        .withColumn("n_chars_out", length(col("extracted")).cast("long")),
      // block-scored extraction: clean → segment at block tags →
      // per-block visible text + anchor-text chars + stopword tokens →
      // the keep conjunction → ordered reassembly, all replayed
      Some(("""WITH h AS (SELECT doc_id,
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
        |CAST(length(extracted) AS BIGINT) AS n_chars_out FROM g""").stripMargin)),
    // the COMPLETE crawl front (RefinedWeb §3 order): blocklist on
    // URLs only (1 in 7 docs lands on a blocked domain) → HTML
    // main-text extraction (the shared shell's header/footer become
    // corpus-wide boilerplate lines) → URL dedup → normalized dedup
    // → line dedup (which removes said boilerplate from every doc)
    // → Gopher gate. One facade call; the oracle replays all six
    // stages as a single CTE chain
    Query("q_crawl_prepare_full", (s, d) => {
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
    },
      // the full crawl front as ONE CTE chain: pseudo-lines, the %7
      // blocked-domain URL override, host-suffix blocklist, the html
      // extraction chain, then the four q_crawl_prepare stages over
      // the extracted text (survivor set reflects the blocking)
      Some(crawlPrepareFullOracle)),
    // the crawl front with the BLOCK-SCORED extraction stage opted
    // in (blockScored=true): every pseudo-line rides its own <p>
    // block through the jusText scorer — per-doc boilerplate
    // (nav/link-farm/copyright) dies on block evidence BEFORE the
    // corpus-wide line-dedup stage; the oracle is the L15 chain with
    // the extraction CTEs swapped for the block-scoring replay
    Query("q_crawl_prepare_blocks", (s, d) => {
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
    },
      // blocks leg: the same derived chain, with the flat extraction
      // CTEs (hx/ex) swapped for the q_html_extract_blocks scoring
      // replay over the per-line <p> body — derived programmatically
      // so the block keep-rule and the crawl chain cannot drift
      Some {
        val base = crawlPrepareFullOracle
        val start = base.indexOf("hx AS (")
        val end = base.indexOf("nf AS (")
        require(start >= 0 && end > start,
          "crawl oracle drifted: hx/ex extraction markers missing")
        base.substring(0, start) + crawlBlocksCtes + base.substring(end)
      }),
    // LANDING ZONE to gated corpus: two WARC waves drain through the
    // exactly-once ingest trigger (wave 1 ingested directly; the
    // facade's own trigger picks up ONLY wave 2), then the six-stage
    // crawl front runs over the cumulative record table — the
    // production loop end to end. The url fixture keeps the blocked
    // domain (1 in 7) but uses doc_id-recoverable URIs; the oracle
    // is the L15 CTE chain with only the url-synthesis CTE swapped
    Query("q_warc_to_corpus", (s, d) => {
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
    },
      Some(warcToCorpusOracle)),
    // WET leg: conversion-type records carry PRE-EXTRACTED text (the
    // Common Crawl WET shape most LLM pipelines actually consume) —
    // same ingest loop, the extraction stage skipped; oracle = the
    // L15 chain with the extraction CTEs collapsed to identity
    Query("q_wet_to_corpus", (s, d) => {
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
    },
      // WET leg: the same derived chain, with the HTML-synthesis +
      // extraction CTEs collapsed to identity — conversion payloads
      // ARE the extracted text (derived programmatically from the
      // q_warc_to_corpus oracle so the three chains stay in lockstep)
      Some {
        val base = warcToCorpusOracle
        val start = base.indexOf("hx AS (")
        val end = base.indexOf("nf AS (")
        require(start >= 0 && end > start,
          "crawl oracle drifted: hx/ex extraction markers missing")
        base.substring(0, start) +
          "ex AS (SELECT doc_id, text FROM d),\n" + base.substring(end)
      }),
    // the crawl front + the CCNet scoring tail: the six gate stages,
    // then language-ID and per-language perplexity terciles on the
    // kept (rewritten) text — langid and the LM fit both run on
    // exactly what survived the gate, the production order. Buckets
    // via the boundary form (no per-language sort task); the oracle
    // replays the whole chain plus the boundary tie contract
    Query("q_crawl_prepare_scored", (s, d) => {
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
    },
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
      Some(crawlScoredOracle("", "lg"))),
    // L16 with the H29 MODEL language ID (bootstrapped on the marker
    // heuristic — crawl text has no labels): same crawl front, the
    // char-bigram model fits on marker-labeled kept text, re-predicts
    // every doc (marker fallback), terciles bucket on the model's
    // predictions. The oracle shares ONE builder with
    // q_crawl_prepare_scored plus the H29 fit/argmax CTEs.
    Query("q_crawl_prepare_model", (s, d) => {
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
    },
      Some(crawlScoredOracle(
      crawlScoredModelCtes, "lgm"))),
    // small-file COMPACTION is semantics-free: scatter documents
    // into 32 tiny files, compact to one, read the compacted table
    // back — the identity oracle hash-checks that no row was lost,
    // duplicated or altered (the q_layout_prune discipline); the
    // file-count and partition-preservation claims are spec-measured
    Query("q_compact_layout", (s, d) => {
      val base = roundtripDir("compact")
      T(s, d, "documents").repartition(32)
        .write.mode("overwrite").parquet(s"$base/src")
      Layout.compactTable(s, s"$base/src", s"$base/dst",
        targetBytes = 1L << 30)
      s.read.parquet(s"$base/dst")
    },
      // compaction is contents-identity — the whole claim
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents")),
    // keyed MERGE into the bucket-partitioned manifest table
    // (snapshot-isolated upsert/delete — the "apply this day's delta
    // to the corpus table" operator): three batches — full load,
    // upsert (price bump on even keys) + insert (shifted keys),
    // upsert (status recode) + delete — applied through the commit
    // path; the final snapshot must equal the relational replay of
    // the same three batches. Crash-window, pointer-carry-over,
    // compaction and vacuum claims are spec-proven.
    Query("q_merge_upsert", (s, d) => {
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
    },
      // keyed merge: the same three batches replayed relationally —
      // each batch's survivors are the anti-join on the delta's keys,
      // plus its non-delete rows
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
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
        |UNION ALL SELECT * FROM up3""".stripMargin)),
    Query("q_train_split", (s, d) =>
      Sampling.deterministicSplit(
        T(s, d, "documents").select("doc_id", "lang"), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)),
      Some("""WITH b AS (SELECT doc_id, lang,
        |(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |+ (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
        |FROM documents)
        |SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket,
        |CASE WHEN bucket < 230 THEN 'train' WHEN bucket < 243 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin)),
    Query("q_cap_per_group", (s, d) =>
      Sampling.capPerGroup(
        T(s, d, "documents").select("doc_id", "lang", "source"),
        Seq("lang", "source"), Seq(col("doc_id").asc), 10),
      Some(capPerGroupOracle)),
    // the 100 TB form of the same cap: k-capped BoundedTopK partial
    // state (<= n pairs per group per task) + id semi join — no
    // per-group window sort; same oracle
    Query("q_cap_per_group_topk", (s, d) =>
      Sampling.capPerGroupTopK(
        T(s, d, "documents").select("doc_id", "lang", "source"),
        Seq("lang", "source"), col("doc_id"), "doc_id", 10),
      Some(capPerGroupOracle)),
    // uniform (not first-k) per-group sample: order by a content hash
    // instead of the id — deterministic, unbiased within each group
    Query("q_sample_uniform", (s, d) =>
      Sampling.capPerGroup(
        T(s, d, "documents").select("doc_id", "lang"),
        Seq("lang"),
        Seq(md5(col("doc_id").cast("string")).asc, col("doc_id").asc), 20),
      Some("""SELECT doc_id, lang FROM (
        |SELECT doc_id, lang,
        |row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |FROM documents) WHERE rn <= 20""".stripMargin)),
    // context-window packing: documents → fixed token-budget bins,
    // the (length desc, id) running sum from PrefixSum's range
    // buckets + driver-walked offsets (no global single-reducer sort)
    Query("q_pack_sequences", aliases = Seq("q_pack_sequences_range"),
      build = (s, d) =>
      Sampling.packSequences(
        T(s, d, "documents").select(col("doc_id"),
          functions.TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        "n_tokens", "doc_id", budget = 512L, nBuckets = 16),
      oracle = Some("""WITH t AS (SELECT doc_id,
        |CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents)
        |SELECT doc_id, n_tokens,
        |CAST(floor((SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512) AS BIGINT) AS bin_id
        |FROM t""".stripMargin)),
    // the training-ready LAST MILE: real longest-match BPE encode →
    // vocab-id mapping (OOV → -1) → token-budget bin + in-bin offset.
    // The oracle composes the H21 recursive greedy cursor with the
    // pack running-sum windows, so every split decision, id, bin and
    // offset is hash-checked end-to-end
    Query("q_tokenize_pack", (s, d) =>
      CorpusPipeline.tokenizePack(
        T(s, d, "documents").select(col("doc_id"), col("text")),
        bpeEncodeVocab, budget = 512L, nBuckets = 16),
      // tokenize-pack: the H21 greedy cursor (recursive CTE) feeds a
      // vocab-index lookup (OOV -> -1), per-doc ordered id string, then
      // the pack running sum for bin_id and a per-bin running sum for
      // bin_offset — the full training-ready last mile replayed
      Some(s"""WITH RECURSIVE ${tokenizePackCtes("documents", 512L)}
         |SELECT doc_id, n_tokens, token_ids, bin_id, bin_offset FROM pk""".stripMargin)),
    // context-window chunking: 32-token chunks every 16 tokens
    // (stride < size → overlapping training contexts), zero shuffles
    Query("q_chunk_tokens", (s, d) =>
      Corpus.chunkTokens(T(s, d, "documents"), size = 32, stride = 16),
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n, unnest(generate_series(0, n - 1, 16)) AS start FROM s)
        |SELECT doc_id, CAST(start // 16 AS BIGINT) AS chunk_idx,
        |CAST(least(32, n - start) AS BIGINT) AS chunk_len,
        |array_to_string(toks[start + 1 : least(n, start + 32)], ' ') AS chunk_text
        |FROM c""".stripMargin)),
    // temperature-weighted source mixing (alpha = 0.5): dominant
    // sources square-root-damped via deterministic md5 thresholds
    Query("q_corpus_mix", (s, d) =>
      Sampling.temperatureSample(
        T(s, d, "documents").select("doc_id", "source"),
        "source", "doc_id"),
      Some("""WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |t AS (SELECT source,
        |greatest(1, CAST(floor(sqrt(CAST((SELECT MIN(n) FROM counts) AS DOUBLE) / n) * 65536) AS BIGINT)) AS thresh
        |FROM counts)
        |SELECT d.source, d.doc_id FROM documents d JOIN t ON d.source IS NOT DISTINCT FROM t.source
        |WHERE (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |+ (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |+ (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |+ (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) < thresh""".stripMargin)),
    // the WHOLE training-data pipeline in one call: scrub -> jaccard
    // dedup -> benchmark decontamination -> deterministic split ->
    // context packing, hash-matched end-to-end against a composite
    // DuckDB oracle assembled from the per-stage oracles
    Query("q_corpus_prepare", (s, d) => {
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
    },
      Some(s"""WITH RECURSIVE $corpusPrepareCtes
         |SELECT doc_id, lang, source, bucket, split, n_tokens,
         |CAST(floor((SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512) AS BIGINT) AS bin_id
         |FROM tokd""".stripMargin)),
    // the COMPLETE production last mile, one call: prepare (scrub →
    // dedup → decontaminate → split) → train slice → real encode →
    // subword-budget bins + offsets → content-hash shards + ranks.
    // Oracle = the three stage chains composed via shared CTE
    // builders, hash-checked end-to-end
    Query("q_training_export", (s, d) => {
      val docs = T(s, d, "documents")
      CorpusPipeline.prepareTrainingExport(
        docs.filter(col("doc_id") >= 25),
        CorpusPipeline.Config(
          dedupMethod = "jaccard", dedupThreshold = 0.9,
          dedupBlockingKeys = Seq("source"),
          decontaminateAgainst = Some(docs.filter(col("doc_id") < 25)
            .select("doc_id", "text"))),
        bpeEncodeVocab, budget = 512L, nShards = 8, nBuckets = 16)
    },
      // the full last mile: the corpus-prepare chain (to `tokd`), the
      // train split as the tokenize source, the tokenize/pack chain
      // (to `pk`), then the export shard/rank replay — three
      // stage-oracles CHAINED, byte-shared with their standalone
      // queries via the two CTE builders
      Some(s"""WITH RECURSIVE $corpusPrepareCtes,
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
         |FROM sh""".stripMargin)))
}
