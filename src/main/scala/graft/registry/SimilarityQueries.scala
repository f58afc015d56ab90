package graft
package registry

import graft.operators._
import graft.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Fixtures._

/** SURVEY.md §2 G: similarity search, over the embeddings table. */
private[graft] object SimilarityQueries extends Family {

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

  def queries: Seq[Query] = Seq(
    // threshold sweep: one pair pass at 0.7, four cheap aggregates —
    // the tuning curve read before committing to a jaccard bar
    Query("q_dedup_sweep", (s, d) =>
      Dedup.thresholdSweep(T(s, d, "documents"), Seq("source"),
        Seq(0.7, 0.8, 0.9, 0.95)),
      // sweep: pair CTE once (no threshold), per-bar filtered aggregates
      Some("""WITH toks AS (
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
        |SELECT threshold, n_pairs, n_dup_docs, tot.n - n_dup_docs AS n_survivors FROM s, tot""".stripMargin)),
    // host-level crawl-policy mining: gopher verdicts rolled up to
    // the host grain (13 synthesized hosts), low-yield hosts flagged
    // as frontier blocklist candidates
    Query("q_host_policy", (s, d) => {
      val docs = T(s, d, "documents")
      Corpus.hostPolicyStats(
        Corpus.gopherRules(docs, minTokens = 30),
        docs.select(col("doc_id"),
          concat(lit("https://h"), col("doc_id") % 13,
            lit(".example.org/item-"), col("doc_id")).as("url")),
        minDocs = 20, maxKeepRate = 0.5)
    },
      // host policy: the gopher verdict chain as a nested CTE, the
      // closed-form %13 host, one grouped rollup with the same fixed
      // IEEE keep_rate division
      Some((s"""WITH g AS ($gopherRulesOracle),
        |h AS (SELECT doc_id, 'h' || CAST(doc_id % 13 AS VARCHAR) || '.example.org' AS host FROM documents)
        |SELECT h.host, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS keep_rate,
        |CAST(SUM(CASE WHEN g.keep THEN g.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
        |(COUNT(*) >= 20 AND CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) <= 0.5) AS blocklist_candidate
        |FROM g JOIN h USING (doc_id) GROUP BY h.host""").stripMargin)),
    // bitext mining (Artetxe-Schwenk margin): parallel pairs across
    // the vec_id parity split — fwd/bwd top-4 candidates, exact-tick
    // neighborhood sums, one integer division, per-x argmax over
    // margin >= 1.10
    Query("q_bitext_mine", (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.bitextMine(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        k = 4, marginFpMin = 1100000L)
    },
      // bitext mining: the full margin chain replayed — shared cosine
      // tree, 1e-9 tick floors, exact long neighborhood sums, ONE
      // integer division, per-x argmax, threshold
      Some("""WITH v AS (SELECT vec_id, embedding,
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
        |WHERE brk = 1 AND margin_fp >= 1100000""".stripMargin)),
    Query("q_ann_brute_topk", (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 5)
    },
      Some("""WITH v AS (SELECT vec_id, embedding,
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
        |FROM scored) WHERE rnk <= 5""".stripMargin)),
    // 4-bit × 8-table operating point: this corpus's true neighbours
    // sit at cos ≈ 0.3 (near-random), where 6-bit codes collide too
    // rarely — recall math in Similarity.lshTopK scaladoc. Runs the
    // REAL lshTopK pipeline with the md5 hyperplane family
    // (plan-identical to the murmur default — weights are plan-time
    // constants either way) so DuckDB re-derives the hyperplanes and
    // replays codes → candidate join → cosine → top-k exactly.
    // Promoted rows-only -> oracle-green r9.
    Query("q_ann_lsh", (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8), 5, dim = 64,
        nBits = 4, weight = VectorFunctions.md5Weight)
    },
      // re-derives the md5 hyperplane family (weight(t,j,i) = md5 hex
      // parse mod 1000, scaled), recomputes every vector's 4-bit code
      // per table in element order, then replays candidate join,
      // cosine and top-k — the full lshTopK pipeline
      Some("""WITH v AS (SELECT vec_id, embedding,
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
        |FROM scored) WHERE rnk <= 5""".stripMargin)),
    // the REAL IVF train+search pipeline with an md5 seed hash so
    // DuckDB can replay training end-to-end: hash-ordered seed pick,
    // two Lloyd rounds (ordered-fold squared-L2 argmin + exact
    // decimal(28,9) means — double->decimal can never hit a rounding
    // tie, so the centroids are bit-identical across engines), then
    // inverted-file search, cosine, top-k. xxhash64 stays the
    // production seed default. Promoted rows-only -> oracle-green r9.
    Query("q_ann_ivf", (s, d) => {
      val emb = T(s, d, "embeddings")
      // tick means (floor(v·10⁶) longs) in BOTH engines: the former
      // decimal-cast mean rounds at an engine-specific point (the
      // divergence PQ actually hit at sf0.1 — SURVEY §6 r12)
      Ivf.ivfTopK(emb, emb.filter(col("vec_id") < 8), 5,
        nCells = 8, nProbe = 3,
        seedHash = c => conv(substring(md5(c.cast("string")), 1, 15),
          16, 10).cast("long"),
        tickScale = Some(1000000L))
    },
      // replays IVF TRAINING and search: md5-hash-ordered seed pick,
      // two Lloyd rounds (ordered-fold squared-L2 argmin tie-broken by
      // cell, exact decimal(28,9) means), empty cells keep the prior
      // centroid, then inverted-file search (corpus -> 1 cell, probe ->
      // 3 cells), cosine, top-5
      Some((ivfTrainCtes +
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
        |FROM scored) WHERE rnk <= 5""".stripMargin))),
    // k-means cluster profile: the SAME md5-seeded tick-mean Lloyd
    // fit as q_ann_ivf, read as topic clusters — per cell size,
    // majority label, exact-ppm purity (oracle derived from the
    // q_ann_ivf training replay so the fits cannot drift)
    Query("q_kmeans_profile", (s, d) =>
      Ivf.clusterProfile(T(s, d, "embeddings"), nCells = 8,
        lloydIters = 2,
        seedHash = c => conv(substring(md5(c.cast("string")), 1, 15),
          16, 10).cast("long"),
        tickScale = Some(1000000L)),
      // k-means profile: composes the SAME named ivfTrainCtes constant
      // as the q_ann_ivf oracle (dv → seed → two Lloyd rounds → cc) so
      // the two fits stay in lockstep by construction — with the
      // search tail swapped for the per-cell label rollup
      Some {
        ivfTrainCtes +
          """kp AS (SELECT cc.cell, e.label, CAST(COUNT(*) AS BIGINT) AS c
            |FROM cc JOIN embeddings e ON cc.vec_id = e.vec_id GROUP BY 1, 2),
            |t AS (SELECT cell, CAST(SUM(c) AS BIGINT) AS n_vecs FROM kp GROUP BY cell),
            |r AS (SELECT cell, label, c, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY c DESC, label ASC) AS rn FROM kp)
            |SELECT t.cell, t.n_vecs, CAST(r.label AS BIGINT) AS top_label,
            |r.c AS top_label_n, (1000000 * r.c) // t.n_vecs AS purity_ppm
            |FROM t JOIN r ON t.cell = r.cell AND r.rn = 1""".stripMargin
      }),
    // PQ-ADC search (the FAISS memory-compression path): m=4
    // per-subspace codebooks trained with the replayable md5 seed of
    // q_ann_ivf + fixed-point tick Lloyd means; routing = label (the
    // coarse cell a production IVF-PQ derives via Ivf.nearestCell);
    // scoring = the fixed-order ADC sum over the 4 codes — the
    // oracle replays training, encoding, and scoring bit-exactly
    Query("q_ann_pq", (s, d) => {
      val emb = T(s, d, "embeddings")
      val cb = Pq.trainCodebooks(emb, m = 4, k = 8, lloydIters = 1,
        seedHash = c => conv(substring(md5(c.cast("string")), 1, 15),
          16, 10).cast("long"))
      Pq.pqTopK(emb, emb.filter(col("vec_id") < 4), 5, cb, "label")
    },
      Some(annPqOracle)),
    // PQ + exact re-rank (the FAISS IndexRefineFlat composition):
    // the q_ann_pq ADC chain fetched wide (kAdc = 10 = 2×k), then
    // the true vectors of just the shortlist re-scored with the
    // brute-force cosine tree and cut to top-5
    Query("q_ann_pq_refine", (s, d) => {
      val emb = T(s, d, "embeddings")
      val cb = Pq.trainCodebooks(emb, m = 4, k = 8, lloydIters = 1,
        seedHash = c => conv(substring(md5(c.cast("string")), 1, 15),
          16, 10).cast("long"))
      val probes = emb.filter(col("vec_id") < 4)
      Pq.refineTopK(Pq.pqTopK(emb, probes, 10, cb, "label"),
        emb, probes, 5)
    },
      Some(annPqRefineOracle)),
    // hard-negative mining (contrastive-training negatives): per
    // probe the top-5 most-similar vectors with a DIFFERENT label —
    // the similar-but-wrong band the loss needs
    Query("q_hard_negatives", (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 8), 5)
    },
      // hard negatives: the brute-force cosine replay + the
      // different-label predicate on the candidate join
      Some("""WITH v AS (SELECT vec_id, label, embedding,
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
        |FROM scored) WHERE rnk <= 5""".stripMargin)),
    // ANN quality harness: recall@5 of the LSH and IVF indexes vs
    // the brute-force exact result, per probe (approximate indexes →
    // rows-only; the recall VALUE is the deliverable)
    Query("q_ann_recall", (s, d) => {
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
    }, None),
    Query("q_vec_norms", (s, d) =>
      T(s, d, "embeddings").select(col("vec_id"), col("label"),
        VectorFunctions.norm(col("embedding")).as("l2"),
        VectorFunctions.normSq(col("embedding")).as("sq")),
      Some("""SELECT vec_id, label,
        |sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2,
        |list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq
        |FROM embeddings""".stripMargin)),
    // PageRank over a synthesized link graph in EXACT tick
    // arithmetic (damping 17/20, one floor per term) — deterministic
    // across engines, so DuckDB replays all three iterations by
    // recursive CTE and hash-checks every rank
    Query("q_pagerank", (s, d) =>
      Graph.pageRankTicks(
        T(s, d, "documents").select(
          (col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + 7) % 97).as("dst"))
          .filter(col("src") =!= col("dst")),
        iters = 3),
      // pagerank: the same tick iteration as a recursive CTE — the
      // working table is one iteration's rank rows; contribs aggregate
      // over it, the dangling mass folds in as a scalar subquery
      Some(pageRankOracle(
      """edges AS (
        |SELECT CAST(doc_id % 97 AS BIGINT) AS src, CAST((doc_id * 31 + 7) % 97 AS BIGINT) AS dst
        |FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97)""".stripMargin))),
    // deterministic label propagation on the same 97-node graph:
    // 3 synchronous ticks, most-frequent-neighbor label, ties to the
    // smallest — integer state, replayed tick-for-tick in SQL
    Query("q_label_propagation", (s, d) =>
      Graph.labelPropagation(
        T(s, d, "documents").select(
          (col("doc_id") % 97).as("src"),
          ((col("doc_id") * 31 + 7) % 97).as("dst"))
          .filter(col("src") =!= col("dst")),
        iters = 3),
      // label propagation: the 3 ticks unrolled — per tick, neighbor
      // votes counted and the (count DESC, lab ASC) argmax kept
      Some {
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
      }),
    // component-size histogram over the 97-node graph — the dedup
    // cluster-health audit (giant-component share, singleton mass)
    Query("q_component_sizes", (s, d) => {
      val e = T(s, d, "documents").select(
        (col("doc_id") % 97).as("a_id"),
        ((col("doc_id") * 31 + 7) % 97).as("b_id"))
        .filter(col("a_id") =!= col("b_id"))
      val nodes = e.select(col("a_id").as("id"))
        .unionByName(e.select(col("b_id").as("id"))).distinct()
      Graph.componentSizes(nodes, e)
    },
      // component sizes: transitive-closure reach + min label (the CC
      // replay), then the two-level size histogram
      Some("""WITH RECURSIVE b AS (SELECT DISTINCT CAST(doc_id % 97 AS BIGINT) AS a, CAST((doc_id * 31 + 7) % 97 AS BIGINT) AS c
        |FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97),
        |n AS (SELECT DISTINCT a AS id FROM b UNION SELECT c FROM b),
        |sym AS (SELECT a AS src, c AS dst FROM b UNION SELECT c, a FROM b),
        |reach AS (SELECT id AS src, id AS dst FROM n
        |UNION SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |lab AS (SELECT src AS id, MIN(dst) AS comp FROM reach GROUP BY src),
        |cs AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS size FROM lab GROUP BY comp)
        |SELECT size, CAST(COUNT(*) AS BIGINT) AS n_components FROM cs GROUP BY size""".stripMargin)),
    // exact triangle census on a richer 97-node graph (dst from the
    // doc_id HIGH digits so edges vary): forward algorithm, pure
    // long arithmetic end to end
    Query("q_triangle_stats", (s, d) =>
      Graph.triangleStats(
        T(s, d, "documents").select(
          (col("doc_id") % 97).as("src"),
          (call_function("div", col("doc_id"), lit(97L)) % 97).as("dst"))
          .filter(col("src") =!= col("dst"))),
      // triangle census: same forward orientation — each triangle is
      // exactly one apex wedge whose closing oriented edge exists
      Some("""WITH b AS (SELECT CAST(doc_id % 97 AS BIGINT) AS s, CAST((doc_id // 97) % 97 AS BIGINT) AS d
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
        |FROM nn, ne, tr""".stripMargin)),
    // SEEDED PageRank (TrustRank, Gyöngyi et al. 2004): teleport +
    // dangling mass return only to the trusted seed set (every 5th
    // node here), so authority flows outward from seeds and far-away
    // clusters starve — the crawl-pipeline spam-demotion signal.
    // Same exact-tick discipline; the oracle replays the seeded
    // iteration with |seeds| denominators
    Query("q_pagerank_seeded", (s, d) => {
      val edges = T(s, d, "documents").select(
        (col("doc_id") % 97).as("src"),
        ((col("doc_id") * 31 + 7) % 97).as("dst"))
        .filter(col("src") =!= col("dst"))
      val seedIds = T(s, d, "documents")
        .select((col("doc_id") % 97).as("node"))
        .filter(col("node") % 5 === 0).distinct()
      Graph.pageRankTicksSeeded(edges, seedIds, iters = 3)
    },
      // seeded form: same graph, seeds = every 5th node, |seeds|
      // denominators and seed-gated teleport/dangling terms
      Some(pageRankSeededOracle(
      """edges AS (
        |SELECT CAST(doc_id % 97 AS BIGINT) AS src, CAST((doc_id * 31 + 7) % 97 AS BIGINT) AS dst
        |FROM documents WHERE doc_id % 97 <> (doc_id * 31 + 7) % 97)""".stripMargin,
      "node % 5 = 0"))),
    // HOST-level rank (Common Crawl publishes exactly this table):
    // per-doc URLs across 17 hosts → urlHost extraction → simple
    // host graph (distinct, the documented pre-distinct for
    // simple-graph semantics) → the same tick iteration
    Query("q_host_rank", (s, d) => {
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
    },
      // host rank: synthesize per-doc URLs across 17 hosts, extract
      // registered hosts with the L13 regex replay, dedup to a simple
      // host graph, then the identical tick iteration
      Some(pageRankOracle(
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
        |WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)""".stripMargin))),
    // sitemap → frontier: synthesize one urlset per host (same
    // path/robots arithmetic as q_robots_gate, plus a priority
    // hint), parse with from_xml, robots-gate for GraftBot, and
    // join the priority back — frontier assembly end to end. The
    // oracle replays the synthesis + the same gate decision table
    Query("q_sitemap_frontier", (s, d) => {
      val (cand, hosts) = frontierFixture(s, d)
      Robots.gateUrls(cand.select("host", "path"),
          Robots.robotsRules(hosts), "GraftBot")
        .join(cand.select("host", "path", "priority"),
          Seq("host", "path"))
        .select("host", "path", "priority", "allowed")
    },
      Some("""WITH u AS (SELECT DISTINCT
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
        |FROM u""".stripMargin)),
    // frontier politeness scheduling: the gated F26 frontier paced
    // per host — Crawl-delay 3 s where the star group applies,
    // the 1 s crawler default where the exact graftbot group exists
    // but declares no delay (the most-specific-group contract); slot
    // order pinned (priority DESC, path), all-long micros timeline
    Query("q_frontier_schedule", (s, d) => {
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
    },
      // sitemap frontier: the robots decision table + the priority
      // digit, all from the same doc_id arithmetic
      // frontier schedule: the gate decision table filtered to allowed,
      // delay = 3 s (star) or the 1 s default (exact graftbot group,
      // k%3=0), row_number slots in (priority DESC, path) order
      Some("""WITH u AS (SELECT
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
        |CAST(slot * delay_us AS BIGINT) AS fetch_at_us FROM sc""".stripMargin)),
    // sitemap-index fan-out on its own: per-host indexes declare 3
    // child sitemaps (one per doc_id%3 family, each with a lastmod);
    // index parse → (host, path) join to the fetched children →
    // urlset parse, with the child's identity and freshness carried
    // through to every emitted URL — the provenance a frontier
    // scheduler ranks on
    Query("q_sitemap_index", (s, d) => {
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
    },
      // sitemap index: the synthesis arithmetic decides every output
      // column — the index/child/urlset XML hops must reproduce it
      Some("""SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
        |CASE CAST(doc_id % 3 AS INT)
        |WHEN 0 THEN '/d/' || CAST(doc_id AS VARCHAR)
        |WHEN 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
        |ELSE '/tmp/' || CAST(doc_id AS VARCHAR) END AS path,
        |'0.' || CAST(doc_id % 10 AS VARCHAR) AS priority,
        |'/sitemaps/s' || CAST(doc_id % 3 AS VARCHAR) || '.xml' AS sitemap_path,
        |'2024-01-0' || CAST(doc_id % 3 + 1 AS VARCHAR) AS sitemap_lastmod
        |FROM documents""".stripMargin)),
    // robots.txt gate (RFC 9309): synthesize per-host robots files
    // with comments, blank lines, mixed-case directives, an ignored
    // Crawl-delay, an empty Disallow, a longer-Allow override, and a
    // graftbot-specific group on every third host (exact beats *);
    // parse RELATIONALLY and gate the synthesized frontier for
    // 'GraftBot'. The oracle replays the synthesis arithmetic — if
    // the parser misreads any line, decisions hash-mismatch
    Query("q_robots_gate", (s, d) => {
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
    },
      // robots gate: the synthesis arithmetic decides — k%3=0 hosts
      // have the exact graftbot group (star VOID: /d/, /tmp/ denied,
      // /private/ untouched), the rest run the star group where the
      // longer Allow /private/p overrides on even k
      Some("""WITH u AS (SELECT DISTINCT
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
        |FROM u""".stripMargin)),
    Query("q_vec_quantize", (s, d) => {
      val q = VectorFunctions.quantizeInt8(col("embedding"), lit(1.0))
      T(s, d, "embeddings").select(col("vec_id"),
        aggregate(q, lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(q).cast("int").as("q_min"),
        array_max(q).cast("int").as("q_max"))
    },
      Some("""SELECT vec_id,
        |CAST(list_sum(list_transform(embedding, x -> greatest(-127, least(127, CAST(floor(CAST(x AS DOUBLE) * 127.0 / 1.0 + 0.5) AS INT))))) AS BIGINT) AS q_sum,
        |CAST(list_min(list_transform(embedding, x -> greatest(-127, least(127, CAST(floor(CAST(x AS DOUBLE) * 127.0 / 1.0 + 0.5) AS INT))))) AS INT) AS q_min,
        |CAST(list_max(list_transform(embedding, x -> greatest(-127, least(127, CAST(floor(CAST(x AS DOUBLE) * 127.0 / 1.0 + 0.5) AS INT))))) AS INT) AS q_max
        |FROM embeddings""".stripMargin)))
}
