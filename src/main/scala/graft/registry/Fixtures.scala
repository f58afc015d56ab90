package graft
package registry

import graft.operators._
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixtures and oracle fragments that more than one query family
  * uses. A synthesized column or CTE chain lives here once, so the
  * queries that chain it and the oracles that replay it cannot
  * drift apart. */
private[graft] object Fixtures {

  def T(s: SparkSession, dir: String, name: String): DataFrame =
    sources.Tables.load(s, dir, name)

  /** Shared synthesis fixtures — q_dedup_url, q_dedup_lines, and the
    * q_crawl_prepare facade must derive the SAME URL variants and
    * pseudo-line segmentation, or the facade query silently diverges
    * from the stage queries it chains (each oracle replays these). */
  def synthUrl: Column = {
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

  /** The md5-portable minhash sketch family (15-hex-nibble token
    * hashes, 32 per-seed min signatures) shared by the fuzzy
    * decontamination queries and their streaming gate — the form
    * DuckDB replays bit-exactly. Input must carry (id, text). */
  def md5Sketch(df: DataFrame): DataFrame = {
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
  def evalCloneBench(docs: DataFrame): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    docs.filter(pmod(col("doc_id"), lit(17)) === 0)
      .filter(size(toks) >= 2)
      .select(col("doc_id").as("id"),
        array_join(slice(toks, lit(1), size(toks) - 1), " ").as("text"))
  }

  /** Fixed literal vocab for q_bpe_encode — shared verbatim by the
    * Spark query and the DuckDB oracle so every greedy-longest-match
    * split decision is replayed bit-exactly on both sides. */
  lazy val bpeEncodeVocab: Seq[String] = Seq(
    "the", "th", "he", "in", "er", "an", "re", "on", "at", "en",
    "ing", "and", "ion", "tion", "es", "or", "te", "ed", "is", "it",
    "al", "ar", "st", "to", "nt", "ng", "se", "ha", "as", "ou")

  /** The H29 fit + densify + probe + argmax replay — shared by
    * q_langid_model and its streaming twin q_stream_langid (the
    * streamed transform is batch-equivalent by construction). */
  lazy val langIdModelOracle: String =
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
  lazy val gopherRulesOracle: String =
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
  lazy val qualityClassifierOracle: String =
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

  def synthPseudoLines(toks: Column): Column =
    array_join(
      transform(
        sequence(lit(0), ceil(size(toks) / lit(10.0)).cast("int") - 1),
        g => array_join(slice(toks, g * 10 + 1, lit(10)), " ")),
      "\n")

  /** The pseudo-lined documents fixture all three line-shaped queries
    * share (q_dedup_lines, q_dedup_lines_within, q_crawl_prepare):
    * docs with >= 1 token, text rebuilt as 10-token lines. */
  def linedDocuments(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    T(s, d, "documents")
      .filter(size(toks) >= 1)
      .select(col("doc_id"), synthPseudoLines(toks).as("text"))
  }

  def roundtripDir(name: String) = s"/tmp/graft_roundtrip/$name"
}
