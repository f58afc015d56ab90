package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {
  import sqlImplicits._

  test("tfIdfTopTerms ranks by tf desc then rarity then token") {
    val df = Seq(
      (1L, "x x x y z"), // tf: x=3, y=1, z=1
      (2L, "y y z w w w w")) // tf: w=4, y=2, z=1
      .toDF("doc_id", "text")
    val out = Corpus.tfIdfTopTerms(df, 2)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    // df: x=1 y=2 z=2 w=1; doc1 top2 = x(3), then y/z tie tf=1 df=2 → y
    // doc2 top2 = w(4), y(2)
    assert(out == Set(
      (1L, 1, "x", 3L, 1L), (1L, 2, "y", 1L, 2L),
      (2L, 1, "w", 4L, 1L), (2L, 2, "y", 2L, 2L)))
  }

  test("bigramCounts counts adjacent pairs, short docs drop out") {
    val df = Seq("a b a b", "a b", "solo").toDF("text")
    val out = Corpus.bigramCounts(df).as[(String, Long)].collect().toMap
    assert(out == Map("a b" -> 3L, "b a" -> 1L))
  }

  test("repetitionProfile flags repeated bigrams and duplicate lines") {
    val df = Seq(
      (1L, "spam spam spam spam"),      // top bigram 'spam spam' = 3/3
      (2L, "a fresh doc with plenty of distinct words"), // 7 distinct bigrams
      (3L, "x"))                        // <2 tokens → no bigrams
      .toDF("doc_id", "text")
    val out = Corpus.repetitionProfile(df)
      .select("doc_id", "top_bigram_frac", "repetitive")
      .as[(Long, Double, Boolean)].collect()
      .map { case (k, f, r) => k -> ((f, r)) }.toMap
    assert(out(1L) == ((1.0, true)))
    assert(out(2L)._1 == 1.0 / 7 && !out(2L)._2)
    assert(out(3L) == ((0.0, false)))
  }

  test("chunkTokens: overlap, tail clamp, empty docs dropped") {
    val df = Seq((1L, "t0 t1 t2 t3 t4"), (2L, "")).toDF("doc_id", "text")
    val out = Corpus.chunkTokens(df, size = 4, stride = 2)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == Set(
      (1L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 1L, 3L, "t2 t3 t4"),
      (1L, 2L, 1L, "t4")))
  }

  test("lmScore: exact mean token probability and hapax rate") {
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // counts: a=3, b=1, c=1; total=5
    val out = Corpus.lmScore(docs)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: p_num = 2*3 + 1*1 = 7 → 7/(3*5); hapax = 1 (the b) / 3
    assert(out(1L) == ((3L, 7.0 / 15, 1.0 / 3)))
    // doc 2: p_num = 3 + 1 = 4 → 4/(2*5); hapax = 1 (the c) / 2
    assert(out(2L) == ((2L, 4.0 / 10, 1.0 / 2)))
  }

  test("lmScore equals an exact-rational reference on random corpora") {
    val rnd = new scala.util.Random(59)
    for (trial <- 1 to 5) {
      val vocab = Vector("w1", "w2", "w3", "w4", "w5", "w6")
      val docs = (0 until 20).map { i =>
        val n = 1 + rnd.nextInt(12)
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(6))).mkString(" "))
      }
      val toks = docs.map { case (id, t) => id -> t.split(" ").toVector }
      val cnt = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val total = cnt.values.sum
      val expect = toks.map { case (id, ts) =>
        val n = ts.length.toLong
        val pNum = ts.map(cnt).sum
        val hapax = ts.count(t => cnt(t) == 1L).toLong
        id -> ((n, pNum.toDouble / (n * total).toDouble,
          hapax.toDouble / n.toDouble))
      }.toMap
      val got = Corpus.lmScore(docs.toDF("doc_id", "text"))
        .as[(Long, Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("lmScore broadcastModel=false matches the broadcast plan") {
    val docs = Seq((1L, "u v u w"), (2L, "v v z"), (3L, "u z z q"))
      .toDF("doc_id", "text")
    val a = Corpus.lmScore(docs).as[(Long, Long, Double, Double)]
      .collect().sortBy(_._1)
    val b = Corpus.lmScore(docs, broadcastModel = false)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("bigramLmScore: seen / backoff / OOV tick paths, short docs dropped") {
    // fit: a=2 b=2 c=1, total=5; bigrams "a b"x2, "b a"x1, "b c"x1
    val fit = Seq((10L, "a b a b c")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b c"), // "a b": 1e6*2/2; "b c": 1e6*1/2 — both seen
      (2L, "a x"),   // "a x" unseen, x OOV → 0 ticks, 1 backoff
      (5L, "x c"),   // "x c" unseen, c seen → floor(4e5*1/5) = 80000
      (4L, "a"))     // < 2 tokens → no pairs, not emitted
      .toDF("doc_id", "text")
    val out = Corpus.bigramLmScore(fit, score)
      .select("doc_id", "n_bigrams", "score_fp", "n_backoff", "avg_bigram_p")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out.keySet == Set(1L, 2L, 5L))
    assert(out(1L) == ((2L, 1500000L, 0L, 750000.0)))
    assert(out(2L) == ((1L, 0L, 1L, 0.0)))
    assert(out(5L) == ((1L, 80000L, 1L, 80000.0)))
  }

  test("bigramLmScore equals a sequential reference on random corpora") {
    val rnd = new scala.util.Random(61)
    for (trial <- 1 to 5) {
      val vocab = Vector("w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8")
      val docs = (0 until 24).map { i =>
        val n = 1 + rnd.nextInt(10)
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(8))).mkString(" "))
      }
      val fitToks = docs.filter(_._1 % 2 == 0)
        .map(_._2.split(" ").toVector)
      val cnt = fitToks.flatten.groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val total = cnt.values.sum
      val bg = fitToks.flatMap(ts => ts.sliding(2).filter(_.size == 2))
        .map(_.mkString(" ")).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val expect = docs.flatMap { case (id, t) =>
        val ts = t.split(" ").toVector
        val pairs = ts.sliding(2).filter(_.size == 2).toVector
        if (pairs.isEmpty) None
        else {
          val ticks = pairs.map { p =>
            val key = p.mkString(" ")
            bg.get(key) match {
              case Some(c12) =>
                math.floor(1000000.0 * c12 / cnt(p(0))).toLong
              case None => cnt.get(p(1)) match {
                case Some(c2) => math.floor(400000.0 * c2 / total).toLong
                case None => 0L
              }
            }
          }
          val nb = pairs.count(p => !bg.contains(p.mkString(" "))).toLong
          Some(id -> ((pairs.size.toLong, ticks.sum, nb,
            ticks.sum.toDouble / pairs.size.toDouble)))
        }
      }.toMap
      val df = docs.toDF("doc_id", "text")
      val got = Corpus.bigramLmScore(df.where($"doc_id" % 2 === 0), df)
        .select("doc_id", "n_bigrams", "score_fp", "n_backoff",
          "avg_bigram_p")
        .as[(Long, Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("trigramLmScore: seen / interpolated / backoff / OOV paths") {
    // fit "a b c a b d": trigram types (a b c)(b c a)(c a b)(a b d)
    // each cnt 1; ctx "a b" c2=2 n3f=2; mid b ccmid=2 n2f=2;
    // cc3 all 1; uni cc1 all 1; bg_types=4. All dyadic rationals.
    val fit = Seq((10L, "a b c a b d")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b c"), // seen: .25/2 + .75*(2/2)*(.25/2 + .75*(2/2)*.25)
      (2L, "x y z"), // ctx+mid+uni all unseen -> 0, backoff+oov
      (3L, "z a b"), // ctx unseen, mid a seen: .25 + .75*.25
      (4L, "a b"))   // < 3 tokens -> not emitted
      .toDF("doc_id", "text")
    val out = Corpus.trigramLmScore(fit, score)
      .select("doc_id", "n_trigrams", "score_fp", "n_ctx_backoff",
        "n_oov", "avg_trigram_p")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((1L, 359375000L, 0L, 0L, 359375000.0)))
    assert(out(2L) == ((1L, 0L, 1L, 1L, 0.0)))
    assert(out(3L) == ((1L, 437500000L, 1L, 0L, 437500000.0)))
  }

  test("trigramLmScore equals a sequential KN reference on random corpora") {
    val rnd = new scala.util.Random(151)
    val D = 0.75
    for (trial <- 1 to 5) {
      val vocab = Vector("w1", "w2", "w3", "w4", "w5", "w6")
      val docs = (0 until 24).map { i =>
        val n = 2 + rnd.nextInt(10)
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(6))).mkString(" "))
      }
      val fitTris = docs.filter(_._1 % 2 == 0)
        .flatMap(_._2.split(" ").toVector.sliding(3).filter(_.size == 3))
        .map(_.toVector)
      val triCnt = fitTris.groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val types = triCnt.keySet
      val ctxC2 = triCnt.groupBy { case (t, _) => (t(0), t(1)) }
        .view.mapValues(_.values.sum).toMap
      val ctxN3f = types.groupBy(t => (t(0), t(1)))
        .view.mapValues(_.size.toLong).toMap
      val cc3 = types.groupBy(t => (t(1), t(2)))
        .view.mapValues(_.size.toLong).toMap
      val ccmid = types.groupBy(_(1)).view.mapValues(_.size.toLong).toMap
      val n2f = types.groupBy(_(1))
        .view.mapValues(_.map(_(2)).toSet.size.toLong).toMap
      val cc1 = cc3.keySet.groupBy(_._2)
        .view.mapValues(_.size.toLong).toMap
      val bgTypes = cc3.size.toLong
      val expect = docs.flatMap { case (id, t) =>
        val ts = t.split(" ").toVector
        val tris = ts.sliding(3).filter(_.size == 3).map(_.toVector).toVector
        if (tris.isEmpty) None
        else {
          var nCtxB = 0L; var nOov = 0L
          val ticks = tris.map { tr =>
            val p1 = cc1.get(tr(2)) match {
              case Some(c) => c.toDouble / bgTypes.toDouble
              case None => nOov += 1; 0.0
            }
            val p2 = ccmid.get(tr(1)) match {
              case Some(cm) =>
                val num = cc3.get((tr(1), tr(2)))
                  .map(c => math.max(c.toDouble - D, 0.0)).getOrElse(0.0)
                num / cm.toDouble +
                  ((D * n2f(tr(1)).toDouble) / cm.toDouble) * p1
              case None => p1
            }
            val p3 = ctxC2.get((tr(0), tr(1))) match {
              case Some(c2v) =>
                val num = triCnt.get(tr)
                  .map(c => math.max(c.toDouble - D, 0.0)).getOrElse(0.0)
                num / c2v.toDouble +
                  ((D * ctxN3f((tr(0), tr(1))).toDouble) / c2v.toDouble) * p2
              case None => nCtxB += 1; p2
            }
            math.floor(1000000000.0 * p3).toLong
          }
          Some(id -> ((tris.size.toLong, ticks.sum, nCtxB, nOov)))
        }
      }.toMap
      val df = docs.toDF("doc_id", "text")
      val got = Corpus.trigramLmScore(df.where($"doc_id" % 2 === 0), df)
        .select("doc_id", "n_trigrams", "score_fp", "n_ctx_backoff", "n_oov")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("trigramLmScore broadcastModel=false matches the broadcast plan") {
    val docs = Seq((0L, "u v u w v u v"), (1L, "v v z u w"),
      (2L, "u z z q v u"), (3L, "w u v")).toDF("doc_id", "text")
    val a = Corpus.trigramLmScore(docs.where($"doc_id" % 2 === 0), docs)
      .select("doc_id", "n_trigrams", "score_fp", "n_ctx_backoff", "n_oov")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val b = Corpus.trigramLmScore(docs.where($"doc_id" % 2 === 0), docs,
        broadcastModel = false)
      .select("doc_id", "n_trigrams", "score_fp", "n_ctx_backoff", "n_oov")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("bigramLmScore broadcastModel=false matches the broadcast plan") {
    val docs = Seq((0L, "u v u w v"), (1L, "v v z u"), (2L, "u z z q"))
      .toDF("doc_id", "text")
    val a = Corpus.bigramLmScore(docs.where($"doc_id" % 2 === 0), docs)
      .select("doc_id", "n_bigrams", "score_fp", "n_backoff")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val b = Corpus.bigramLmScore(docs.where($"doc_id" % 2 === 0), docs,
        broadcastModel = false)
      .select("doc_id", "n_bigrams", "score_fp", "n_backoff")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("partitioned write + filtered read prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = Seq((1L, "en"), (2L, "de"), (3L, "en")).toDF("id", "lang")
    df.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val back = spark.read.parquet(dir).filter(col("lang") === "en")
    assert(back.count() == 2)
    // partition pruning happens at planning: the scan's partition
    // filters carry the lang predicate, no data filter needed
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
  }

  test("gopherRules: each rule trips on its crafted offender") {
    val good = ("the data table is fast and the query is small with " +
      "good rows ") * 5                                   // passes all
    val short = "the data is small"                       // < minTokens
    val symbols = ("### ### " + "the data is ok with " * 10).trim // symbol ratio
    val bullets = (1 to 10).map(i => s"- item $i the of and").mkString("\n")
    val ellipsis = (1 to 10).map(i => s"line $i the of and...").mkString("\n")
    val numeric = ("1 2 3 4 5 6 7 8 9 0 " * 5).trim       // alpha frac 0
    val noStop = ("data table query scan row " * 10).trim  // no stopwords
    val docs = Seq((1L, good), (2L, short), (3L, symbols), (4L, bullets),
      (5L, ellipsis), (6L, numeric), (7L, noStop)).toDF("doc_id", "text")
    val out = Corpus.gopherRules(docs, minTokens = 20)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L), "good doc must pass")
    assert(!out(2L), "short doc must fail the token bound")
    assert(!out(3L), "symbol-heavy doc must fail the symbol ratio")
    assert(!out(4L), "bullet lines must fail the bullet fraction")
    assert(!out(5L), "ellipsis-ended lines must fail that fraction")
    assert(!out(6L), "numeric doc must fail the alpha fraction")
    assert(!out(7L), "stopword-free doc must fail the stopword rule")
  }

  test("gopherRules columns carry the expected exact ratios") {
    val docs = Seq((1L, "aa bb cc dd")).toDF("doc_id", "text")
    val r = Corpus.gopherRules(docs).select("n_tokens", "mean_tok_len",
      "symbol_ratio", "alpha_tok_frac", "n_stop_hits")
      .as[(Long, Double, Double, Double, Long)].head()
    assert(r == ((4L, 2.0, 0.0, 1.0, 0L)))
  }

  test("bm25TopK ranks rarer and denser term matches higher") {
    // d1 has the rare term twice, d2 once, d3 only the common term,
    // d4 nothing relevant; filler keeps df(common) high
    val docs = Seq(
      (1L, "rare rare common filler1"),
      (2L, "rare common filler2 filler2"),
      (3L, "common filler3 filler3 filler3"),
      (4L, "filler4 filler4 filler4 filler4"),
      (5L, "common filler5 x y"),
      (6L, "common filler6 x y")).toDF("doc_id", "text")
    val queries = Seq((1, "rare common")).toDF("query_id", "query_text")
    val out = Corpus.bm25TopK(docs, queries, k = 3)
      .orderBy("rank").as[(Int, Long, Long, Long)].collect()
    assert(out.length == 3)
    // ranks are 1..3, scores non-increasing, rare-term docs lead
    assert(out.map(_._2).sameElements(Array(1L, 2L, 3L)))
    assert(out.sliding(2).forall(p => p(0)._4 >= p(1)._4))
    assert(out(0)._3 == 1L && out(1)._3 == 2L)
    // doc 4 (no query term) scores nowhere
    val all = Corpus.bm25TopK(docs, queries, k = 10)
      .select("doc_id").as[Long].collect()
    assert(!all.contains(4L))
  }

  test("bm25TopK is deterministic and caps at k per query") {
    val docs = (1 to 30).map(i => (i.toLong,
      s"term${i % 3} shared text body")).toDF("doc_id", "text")
    val queries = Seq((1, "term0 shared"), (2, "term1")).toDF(
      "query_id", "query_text")
    val a = Corpus.bm25TopK(docs, queries, k = 5)
      .as[(Int, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val b = Corpus.bm25TopK(docs, queries, k = 5)
      .as[(Int, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(a.sameElements(b))
    assert(a.count(_._1 == 1) == 5 && a.count(_._1 == 2) == 5)
  }

  test("qualityClassifier: hand-computed smoothed class-odds ticks") {
    val docs = Seq(
      (1L, "hi", "a a b"), // positive class
      (2L, "lo", "c c b")) // negative class
      .toDF("doc_id", "src", "text")
    val out = Corpus.qualityClassifier(docs, col("src") === "hi")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // model: a(2,0) b(1,1) c(0,2); tot_pos=tot_neg=3, V=3
    // odds a = (3*6)/(1*6)=3 → 3_000_000; b = 1 → 1_000_000;
    // c = (1*6)/(3*6)=1/3 → 333_333
    assert(out(1L) == ((3L, 2 * 3000000L + 1000000L, true)))
    assert(out(2L) == ((3L, 2 * 333333L + 1000000L, false)))
  }

  test("qualityClassifier: null posExpr is negative; empty docs drop") {
    val docs = Seq(
      (1L, Some("hi"), "w w"), (2L, None: Option[String], "w z"),
      (3L, Some("lo"), ""))
      .toDF("doc_id", "src", "text")
    val out = Corpus.qualityClassifier(docs, col("src") === "hi")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L)) // empty doc not emitted
    // w: cnt_pos=2 cnt_neg=1; z: 0,1; tot_pos=2 tot_neg=2 V=2
    // odds w = (3*4)/(2*4) = 1.5 → doc1 keep (mean 1.5 >= 1)
    assert(out(1L)._4)
  }

  test("langIdScores + langIdPredictFromScores equal applyLangIdModel's " +
      "lang_pred, null under 2 chars") {
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "de", "der schnelle braune fuchs springt gerne hoch"),
      (3L, "en", "the lazy dog sleeps all day long"),
      (4L, "de", "der hund schlaeft den ganzen tag lang"),
      (5L, "en", "x"))
      .toDF("doc_id", "lang", "text")
    val m = Corpus.fitLangIdModel(docs)
    val viaApply = Corpus.applyLangIdModel(docs, m)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    val viaCol = docs
      .withColumn("__sc", Corpus.langIdScores(col("text"), m))
      .select(col("doc_id"),
        Corpus.langIdPredictFromScores(col("__sc"), col("text"), m)
          .as("p"))
      .as[(Long, Option[String])].collect().toMap
    // the apply form filters <2-char docs; the column is total (null)
    assert(viaCol(5L).isEmpty && !viaApply.contains(5L))
    for ((id, p) <- viaApply) assert(viaCol(id).contains(p), s"doc $id")
  }

  test("applyQualityModel(fitQualityModel) equals qualityClassifier " +
      "bit-for-bit on random corpora") {
    val rnd = new scala.util.Random(73)
    val vocab = Vector("w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8")
    for (trial <- 1 to 3) {
      val docs = (0 until 20).map { i =>
        val n = 1 + rnd.nextInt(12)
        (i.toLong, s"src${rnd.nextInt(4)}",
          (0 until n).map(_ => vocab(rnd.nextInt(8))).mkString(" "))
      }.toDF("doc_id", "src", "text")
      val pos = col("src").isin("src0", "src1")
      val direct = Corpus.qualityClassifier(docs, pos)
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
      val split = Corpus.applyQualityModel(docs,
          Corpus.fitQualityModel(docs, pos))
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
      assert(direct.sameElements(split), s"trial $trial")
    }
  }

  test("quality model save/load round-trips; duplicate tokens rejected") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_qm").toString
    val docs = Seq((1L, "hi", "a a b"), (2L, "lo", "c c b"))
      .toDF("doc_id", "src", "text")
    val m = Corpus.fitQualityModel(docs, col("src") === "hi")
    Corpus.saveQualityModel(m, s"$tmp/m")
    val loaded = Corpus.loadQualityModel(spark, s"$tmp/m")
    assert(loaded.as[(String, Long)].collect().sortBy(_._1).toSeq
      == m.as[(String, Long)].collect().sortBy(_._1).toSeq)
    // scoring through the loaded model = scoring through the fit
    val a = Corpus.applyQualityModel(docs, m)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    val b = Corpus.applyQualityModel(docs, loaded)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(a.sameElements(b))
    // an append-mode double write must fail loud on load
    m.write.mode("append").parquet(s"$tmp/m")
    val err = intercept[IllegalArgumentException] {
      Corpus.loadQualityModel(spark, s"$tmp/m")
    }
    assert(err.getMessage.contains("duplicate"))
  }

  test("perplexityBucketsTrigram: terciles over the KN score, tie " +
      "contract, short docs dropped") {
    val rnd = new scala.util.Random(97)
    // 30 docs across two langs, lengths 3..12 so every doc scores
    val docs = (0 until 30).map { i =>
      val v = if (i % 2 == 0) Vector("a", "b", "c") else Vector("x", "y")
      (i.toLong, if (i % 3 == 0) "en" else "de",
        (0 until 3 + rnd.nextInt(10)).map(_ => v(rnd.nextInt(v.size)))
          .mkString(" "))
    } :+ ((99L, "en", "one two")) // < 3 tokens -> dropped
    val df = docs.toDF("doc_id", "lang", "text")
    val out = Corpus.perplexityBucketsTrigram(
        df.where($"doc_id" % 2 === 0), df)
      .select("doc_id", "lang", "avg_trigram_p", "bucket")
      .as[(Long, String, Double, String)].collect()
    assert(!out.exists(_._1 == 99L))
    assert(out.length == 30)
    // replay terciles per lang from the scores themselves
    for ((lang, rows) <- out.groupBy(_._2)) {
      val scores = rows.map(_._3).sorted(Ordering[Double].reverse)
      val n = scores.length
      val b1 = scores(((n + 2) / 3 - 1).toInt)
      val b2 = scores(((2 * n + 2) / 3 - 1).toInt)
      for ((_, _, p, b) <- rows) {
        val want = if (p >= b1) "head" else if (p >= b2) "middle" else "tail"
        assert(b == want, s"$lang $p: $b != $want")
      }
    }
    // buckets genuinely split somewhere (ties may legally empty
    // "tail" in a group — boundary ties take the higher bucket)
    assert(out.map(_._4).toSet.size >= 2)
  }

  test("fimTransform: lossless PSM reassembly, deterministic, rate gate") {
    val rnd = new scala.util.Random(41)
    val docs = (0 until 200).map { i =>
      val n = rnd.nextInt(30)
      (i.toLong, (0 until n).map(_ =>
        "abcé世 ".charAt(rnd.nextInt(6))).mkString)
    }.toDF("doc_id", "text")
    val out = Corpus.fimTransform(docs, rate = 0.5)
      .as[(Long, Boolean, String)].collect()
    val texts = docs.as[(Long, String)].collect().toMap
    val re = "(?s)^<PRE>(.*)<SUF>(.*)<MID>(.*)$".r
    var applied = 0
    for ((id, fim, t) <- out) {
      if (!fim) assert(t == texts(id))
      else {
        applied += 1
        t match {
          // prefix + middle + suffix reassembles the original
          case re(p, s, m) => assert(p + m + s == texts(id), s"doc $id")
          case _ => fail(s"doc $id: sentinel structure missing: $t")
        }
      }
    }
    // the md5 gate holds the rate loosely at n=200
    assert(applied > 60 && applied < 140, s"applied=$applied")
    // deterministic: a second run is bit-identical
    val again = Corpus.fimTransform(docs, rate = 0.5)
      .as[(Long, Boolean, String)].collect()
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // rate 0 passes everything through; rate 1 transforms everything
    assert(Corpus.fimTransform(docs, rate = 0.0)
      .filter(col("fim_applied")).count() == 0)
    assert(Corpus.fimTransform(docs, rate = 1.0)
      .filter(!col("fim_applied")).count() == 0)
  }

  test("dsirWeights: same-content docs tie, disjoint content ranks below") {
    val docs = Seq(
      (1L, true, "x y x y x"),  // the target slice
      (2L, false, "x y x y x"), // raw doc, identical profile
      (3L, false, "p q p q p")) // raw doc, disjoint profile
      .toDF("doc_id", "is_t", "text")
    val out = Corpus.dsirWeights(docs, col("is_t"), selectN = 2L,
        nBuckets = 256)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out.values.forall(_._1 == 4L)) // 4 bigrams each
    assert(out(1L)._2 == out(2L)._2, "identical content must tie")
    assert(out(3L)._2 < out(1L)._2, "disjoint content must rank below")
    assert(out(1L)._3 && out(2L)._3 && !out(3L)._3) // top-2 selected
  }

  test("dsirWeights: short docs have no bigrams and are not emitted") {
    val docs = Seq((1L, true, "a b c"), (2L, false, "solo"))
      .toDF("doc_id", "is_t", "text")
    val ids = Corpus.dsirWeights(docs, col("is_t"), selectN = 5L)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L))
  }

  test("perplexityBuckets: terciles follow the lmScore order per language") {
    // 6 en docs + 1 fr doc; en scores ordered by construction is not
    // assumed — buckets are checked against the operator's own score
    // order, which pins the ntile wiring + group join
    val docs = Seq(
      (1L, "en", "a a a a"), (2L, "en", "a a a b"), (3L, "en", "a a b b"),
      (4L, "en", "a b b c"), (5L, "en", "b c c d"), (6L, "en", "d e f g"),
      (7L, "fr", "a a"))
      .toDF("doc_id", "lang", "text")
    val out = Corpus.perplexityBuckets(docs)
      .select("doc_id", "lang", "avg_tok_p", "bucket")
      .as[(Long, String, Double, String)].collect()
    val en = out.filter(_._2 == "en").sortBy(r => (-r._3, r._1))
    assert(en.map(_._4).sameElements(
      Array("head", "head", "middle", "middle", "tail", "tail")))
    // a 1-row language is its own head
    assert(out.find(_._2 == "fr").get._4 == "head")
  }

  test("dsirWeights: cutoff selection is bit-identical to the global sort") {
    // three identical high-weight docs put the selection boundary
    // INSIDE a tie group — the cutoff path must admit exactly the
    // lowest-id ties, matching the (weight desc, id asc) row_number
    val docs = Seq(
      (1L, true, "u v u v u"), (2L, false, "u v u v u"),
      (3L, false, "u v u v u"), (4L, false, "m n m n"),
      (5L, false, "m n m n"), (6L, false, "z q z"))
      .toDF("doc_id", "is_t", "text")
    def run(exact: Boolean) =
      Corpus.dsirWeights(docs, col("is_t"), selectN = 2L, nBuckets = 64,
          globalSortSelect = exact)
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val cutoff = run(exact = false)
    val baseline = run(exact = true)
    assert(cutoff == baseline)
    assert(cutoff.filter(_._4).map(_._1) == Seq(1L, 2L),
      "boundary ties must admit the lowest ids")
  }

  test("perplexityBucketsByBoundary agrees with exact terciles (no ties)") {
    val docs = Seq(
      (1L, "en", "a a a a"), (2L, "en", "a a a b"), (3L, "en", "a a b b"),
      (4L, "en", "a b b c"), (5L, "en", "b c c d"), (6L, "en", "d e f g"),
      (7L, "fr", "a a"))
      .toDF("doc_id", "lang", "text")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang", "n_tokens", "avg_tok_p", "bucket")
        .as[(Long, String, Long, Double, String)].collect().sortBy(_._1).toSeq
    val exact = collect(Corpus.perplexityBuckets(docs))
    val bdry = collect(Corpus.perplexityBucketsByBoundary(docs))
    // this corpus has no score ties, so the two forms must coincide
    val scores = exact.filter(_._2 == "en").map(_._4)
    assert(scores.distinct.size == scores.size, "fixture grew a tie")
    assert(bdry == exact)
  }

  test("perplexityBucketsByBoundary: boundary ties take the higher bucket") {
    // six identical docs → one score → everything is head (the exact
    // ntile form would split 2/2/2 by id; the boundary contract does
    // not — that asymmetry is the documented delta)
    val docs = (1L to 6L).map(i => (i, "en", "x y"))
      .toDF("doc_id", "lang", "text")
    val buckets = Corpus.perplexityBucketsByBoundary(docs)
      .select("bucket").as[String].collect()
    assert(buckets.length == 6 && buckets.forall(_ == "head"))
  }

  test("urlHost: authority extraction edge cases") {
    val cases = Seq(
      "https://Ads.Tracker.NET/banner?x=1" -> Some("ads.tracker.net"),
      "https://www.example.com/a" -> Some("example.com"),
      "http://user:pw@sub.shop.example.com:8080/x" ->
        Some("sub.shop.example.com"),
      "https://good-site.org#frag" -> Some("good-site.org"),
      "https://host.io?q=1" -> Some("host.io"),
      "mailto:someone@nowhere" -> None,
      "relative/path" -> None,
      "https://" -> None,
      // bracketed IPv6 authorities: port strips outside the bracket,
      // brackets drop — the key matches registered-name semantics
      "https://[::1]:8080/x" -> Some("::1"),
      "https://[::1]/y" -> Some("::1"),
      "https://[2001:db8::1]/z" -> Some("2001:db8::1"),
      "https://u@[2001:DB8::a]:443?q" -> Some("2001:db8::a"))
    val got = cases.map(_._1).toDF("url")
      .select(col("url"),
        graft.functions.TextFunctions.urlHost(col("url")).as("h"))
      .as[(String, Option[String])].collect().toMap
    for ((url, expect) <- cases) assert(got(url) == expect, url)
  }

  test("blocklistFilter: suffix semantics, specificity, passthrough") {
    val docs = Seq(
      (0L, "https://Ads.Tracker.NET/banner?x=1"),   // → tracker.net
      (1L, "https://www.example.com/a"),            // → example.com
      (2L, "http://u:p@sub.shop.example.com:8080/x"), // most specific
      (3L, "https://good-site.org/page#frag"),      // keep
      (4L, "mailto:someone@nowhere"),               // no host → keep
      (5L, "https://nottracker.net/x"))             // not a suffix
      .toDF("doc_id", "url")
    val bl = Seq("tracker.net", "example.com", "shop.example.com")
      .toDF("domain")
    val out = CorpusPipeline.blocklistFilter(docs, bl)
      .select("doc_id", "blocked_by", "keep")
      .as[(Long, Option[String], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L) == ((Some("tracker.net"), false)))
    assert(out(1L) == ((Some("example.com"), false)))
    assert(out(2L) == ((Some("shop.example.com"), false))) // longest wins
    assert(out(3L) == ((None, true)))
    assert(out(4L) == ((None, true)))
    assert(out(5L) == ((None, true)))
    // row count never inflates even with multi-entry matches
    assert(CorpusPipeline.blocklistFilter(docs, bl).count() == 6)
  }

  test("blocklistFilter broadcastList=false matches the broadcast plan") {
    val docs = Seq((0L, "https://a.b.c.d.example.com/x"),
      (1L, "https://keep.me/y")).toDF("doc_id", "url")
    val bl = Seq("example.com", "d.example.com").toDF("domain")
    val a = CorpusPipeline.blocklistFilter(docs, bl)
      .select("doc_id", "blocked_by", "keep")
      .as[(Long, Option[String], Boolean)].collect().sortBy(_._1)
    val b = CorpusPipeline.blocklistFilter(docs, bl,
        broadcastList = false)
      .select("doc_id", "blocked_by", "keep")
      .as[(Long, Option[String], Boolean)].collect().sortBy(_._1)
    assert(a.sameElements(b))
    assert(a(0)._2.contains("d.example.com"))
  }

  test("crawlPrepareFull: blocked absent, chrome lines become boilerplate") {
    def shell(body: String): String =
      "<html><head><script>x()</script></head><body>" +
        "<h1>Site Chrome</h1><p>" + body + "</p>" +
        "<div>footer nav</div></body></html>"
    val docs = Seq(
      (1L, "https://keep.org/a",
        shell("the unique alpha text of one mind is here")),
      (2L, "https://ads.bad.net/b", shell("blocked body")),
      (3L, "https://keep.org/c",
        shell("the unique gamma text of another kind is here")))
      .toDF("doc_id", "url", "html")
    val bl = Seq("bad.net").toDF("domain")
    val out = CorpusPipeline.crawlPrepareFull(docs, bl, minTokens = 2)
      .select("doc_id", "n_lines", "n_removed", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 2 is blocked: never extracted, never scored, absent
    assert(out.keySet == Set(1L, 3L))
    // each survivor has 3 lines (chrome header, body, chrome footer);
    // the two chrome lines appear in BOTH survivors -> boilerplate,
    // removed; the unique body line survives the gate
    assert(out(1L) == ((3L, 2L, true)))
    assert(out(3L) == ((3L, 2L, true)))
  }

  test("crawlPrepare: stage interlock — df counts survivors only") {
    // docs 1 and 2 share a canonical URL → 2 dropped at stage 1.
    // The BANNER line appears in docs 1, 2, 3 — but after URL dedup
    // only 1 and 3 survive, and the line is STILL boilerplate
    // (df=2 over survivors). Doc 4's banner-free text passes
    // through; doc 5 duplicates doc 4's normalized text (case
    // shift) → dropped at stage 2, and its copy of "solo line x"
    // must NOT make that line boilerplate for doc 4.
    val docs = Seq(
      (1L, "https://A.com/p", "BANNER L\nbody one two"),
      (2L, "https://a.com/p/", "BANNER L\nother body"),
      (3L, "https://a.com/q", "BANNER L\nbody three"),
      (4L, "https://a.com/r", "solo line x\nbody four"),
      (5L, "https://a.com/s", "SOLO LINE X\nBODY FOUR"))
      .toDF("doc_id", "url", "text")
    val out = CorpusPipeline.crawlPrepare(docs, minTokens = 1)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // survivors: 1 (url keeper), 3, 4 (5's normalized dup drops it)
    assert(out.keySet == Set(1L, 3L, 4L))
    assert(out(1L) == ((2L, 1L))) // banner removed (df=2 over 1,3)
    assert(out(3L) == ((2L, 1L)))
    assert(out(4L) == ((2L, 0L))) // "solo line x" df=1: kept
  }

  test("crawlPrepare: null text is GATED, null url is not deduped") {
    val docs = Seq(
      (1L, "https://a.com/1", null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String], "real body text one"),
      (3L, null.asInstanceOf[String], "real body text two"))
      .toDF("doc_id", "url", "text")
    val out = CorpusPipeline.crawlPrepare(docs, minTokens = 1)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._5).toMap
    // doc 1's null text must surface as a keep=false row, not
    // vanish; docs 2 and 3 share "no URL" but are NOT URL-duplicates
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(!out(1L))
  }

  test("crawlPrepareScored: gate interlock, langid, tercile tail") {
    def shell(body: String): String =
      "<html><head><script>x()</script></head><body>" +
        "<h1>Site Chrome</h1><p>" + body + "</p>" +
        "<div>footer nav</div></body></html>"
    val docs = Seq(
      (0L, "https://ads.bad.net/b", shell("blocked body text")),
      (1L, "https://keep.org/1",
        shell("the quality of the corpus is good and the text is fine")),
      (2L, "https://keep.org/2",
        shell("the quality of the corpus is good and zebra xylophone waltz")),
      (3L, "https://keep.org/3",
        shell("the quality of borogoves is mimsy and frumious vorpal here")),
      (4L, "https://keep.org/4",
        shell("el campo la casa de que y bueno the grande of mundo")),
      (5L, "https://keep.org/5", shell("1234 5678 999999 11111 22222")))
      .toDF("doc_id", "url", "html")
    val bl = Seq("bad.net").toDF("domain")
    val out = CorpusPipeline.crawlPrepareScored(docs, bl, minTokens = 2)
      .as[(Long, String, Long, Double, String)].collect()
    // 0 blocked (never scored), 5 gate-failed (all-digit: alpha
    // ratio 0) — only survivors get LM passes
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    val byDoc = out.map(r => r._1 -> r._2).toMap
    // langid on the REWRITTEN text: es markers outnumber en in doc 4
    assert(byDoc(4L) == "es")
    assert(Seq(1L, 2L, 3L).forall(byDoc(_) == "en"))
    // three en docs cut head/middle/tail in avg_tok_p-desc order
    val en = out.filter(_._2 == "en")
      .sortBy(r => (-r._4, r._1)).map(_._5).toSeq
    assert(en == Seq("head", "middle", "tail"))
    // a single-doc language is its own head
    assert(out.find(_._1 == 4L).get._5 == "head")
  }

  test("warcToCorpus: landing to verdict, URI ids, non-response dropped") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_wtc").toString
    def shell(body: String): String =
      "<html><body><h1>Chrome</h1><p>" + body + "</p></body></html>"
    val wave = Seq(
      ("https://keep.org/a",
        shell("the quality of the corpus is good and the text is fine here")),
      ("https://keep.org/b",
        shell("the quality of borogoves is mimsy and the frumious waltz")),
      ("https://ads.bad.net/x", shell("blocked body text")))
      .toDF("uri", "html")
      .select(col("uri"), lit("2026-01-01T00:00:00Z").as("date"),
        col("html").cast("binary").as("payload"))
    graft.sources.Warc.write(wave.repartition(1), s"$tmp/landing/w")
    // a non-response record (e.g. warcinfo) must not become a doc
    graft.sources.Warc.write(
      Seq(("meta:info", "2026-01-01T00:00:00Z",
        "software: graft".getBytes("UTF-8")))
        .toDF("uri", "date", "payload").repartition(1),
      s"$tmp/landing/info", warcType = "warcinfo")
    val out = CorpusPipeline.warcToCorpus(spark, s"$tmp/landing",
        s"$tmp/ingest", Seq("bad.net").toDF("domain"), minTokens = 2)
      .select("doc_id", "keep").as[(String, Boolean)].collect().toMap
    // default docId: the target URI itself is the key; the blocked
    // doc never reaches extraction, the warcinfo record is filtered
    assert(out.keySet == Set("https://keep.org/a", "https://keep.org/b"))
    assert(out.values.forall(identity))
  }

  test("warcToCorpus WET leg: conversion payloads skip extraction") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_wet").toString
    // a WET payload is ALREADY extracted text; an html tag in it must
    // survive verbatim (no extraction stage), unlike the response leg
    val wave = Seq(
      ("https://keep.org/a",
        "the quality of the corpus is <b>good</b> and the text is fine"),
      ("https://ads.bad.net/x", "blocked body text"))
      .toDF("uri", "text")
      .select(col("uri"), lit("2026-01-01T00:00:00Z").as("date"),
        col("text").cast("binary").as("payload"))
    graft.sources.Warc.write(wave.repartition(1), s"$tmp/landing/w",
      warcType = "conversion")
    val out = CorpusPipeline.warcToCorpus(spark, s"$tmp/landing",
        s"$tmp/ingest", Seq("bad.net").toDF("domain"), minTokens = 2,
        recordType = "conversion")
      .select("doc_id", "keep").as[(String, Boolean)].collect().toMap
    assert(out.keySet == Set("https://keep.org/a"))
    assert(out.values.forall(identity))
    // the response leg ignores conversion records entirely
    val resp = CorpusPipeline.warcToCorpus(spark, s"$tmp/landing",
      s"$tmp/ingest2", Seq("bad.net").toDF("domain"), minTokens = 2)
    assert(resp.count() == 0)
    // crawlPrepareText passes the payload through UNEXTRACTED: an
    // html tag in a WET payload survives into the kept text, where
    // the response leg's extraction would have stripped it
    val direct = CorpusPipeline.crawlPrepareText(
      Seq(("https://keep.org/a",
        "the quality is <b>good</b> and the text is fine", 1L),
        ("https://keep.org/b",
          "the quality is <b>good</b> and the text is thin", 2L))
        .toDF("url", "text", "doc_id"),
      Seq("bad.net").toDF("domain"), minTokens = 2, keepText = true)
    assert(direct.filter(col("kept_text").contains("<b>good</b>"))
      .count() >= 1, "WET text must pass through unextracted")
  }

  test("langIdModel: learns label-separable char distributions") {
    // two 'languages' with near-disjoint character inventories; one
    // mislabeled doc (id 99) whose TEXT is pure qq-class — the model
    // must predict from the text, not echo the label
    val qq = Seq((10L, "qq", "qqq qqkk kqqk"), (11L, "qq", "kkqq qqq"),
      (12L, "qq", "qkqk qqkk"), (13L, "qq", "kkk qqq"))
    val aa = Seq((20L, "aa", "aaa aab bba"), (21L, "aa", "bab aab"),
      (22L, "aa", "abba baab"), (23L, "aa", "aaa bbb"))
    val odd = Seq((99L, "aa", "qqqq kkqq qqkq"), (50L, "aa", "x"))
    val docs = (qq ++ aa ++ odd).toDF("doc_id", "lang", "text")
    val out = Corpus.langIdModel(docs)
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // 1-char doc has no bigrams and is not emitted
    assert(!out.contains(50L) && out.size == 9)
    // held-in docs classify to their own label
    for (id <- (10L to 13L)) assert(out(id) == ("qq", "qq"), s"doc $id")
    for (id <- (20L to 23L)) assert(out(id) == ("aa", "aa"), s"doc $id")
    // the mislabeled doc is predicted by its characters
    assert(out(99L) == ("aa", "qq"))
    // determinism: a second run is bit-identical
    val again = Corpus.langIdModel(docs)
      .as[(Long, String, String, Long)].collect().toSet
    val first = Corpus.langIdModel(docs)
      .as[(Long, String, String, Long)].collect().toSet
    assert(again == first)
  }

  test("langIdModel: densified smoothing and deterministic ties") {
    // self-trained fit: doc 3's zz-bigrams are counted under its own
    // bb label, so bb wins them; cc (which never saw a z) must still
    // receive a finite smoothed score for every bucket rather than
    // being dropped by the probe join (the densify contract)
    val docs = Seq((1L, "bb", "bb bb"), (2L, "cc", "cc cc"),
      (3L, "bb", "zz zz")).toDF("doc_id", "lang", "text")
    val out = Corpus.langIdModel(docs)
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(out.size == 3)
    assert(out(1L) == "bb" && out(2L) == "cc" && out(3L) == "bb")
    // exact symmetric distributions -> every per-class score ties ->
    // the argmax breaks to the GREATEST lang code for every doc
    val tied = Seq((1L, "bb", "xy xy"), (2L, "cc", "xy xy"))
      .toDF("doc_id", "lang", "text")
    val tout = Corpus.langIdModel(tied)
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(tout(1L) == "cc" && tout(2L) == "cc")
  }
  test("langid model persists and round-trips; corrupted tables rejected") {
    val docs = Seq((10L, "qq", "qqq qqkk kqqk"), (11L, "qq", "kkqq qqq"),
      (20L, "aa", "aaa aab bba"), (21L, "aa", "bab aab"))
      .toDF("doc_id", "lang", "text")
    val m = Corpus.fitLangIdModel(docs)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_langid_model").toString + "/m"
    Corpus.saveLangIdModel(spark, m, dir)
    val loaded = Corpus.loadLangIdModel(spark, dir)
    assert(loaded == m) // langs + every tick bit-exact
    // predictions through the loaded model equal the inline fit
    val a = Corpus.applyLangIdModel(docs, loaded)
      .as[(Long, String, String, Long)].collect().toSet
    val b = Corpus.langIdModel(docs)
      .as[(Long, String, String, Long)].collect().toSet
    assert(a == b)
    // a lost bucket row makes the table non-dense -> rejected
    spark.read.parquet(dir).filter(col("bucket") =!= 7)
      .write.mode("overwrite").parquet(dir + "2")
    val e = intercept[IllegalArgumentException](
      Corpus.loadLangIdModel(spark, dir + "2"))
    assert(e.getMessage.contains("dense") || e.getMessage.contains("ragged"))
    // a doubled cell is rejected, never silently averaged
    val orig = spark.read.parquet(dir)
    orig.unionAll(orig.limit(1)).write.mode("overwrite").parquet(dir + "3")
    val e2 = intercept[IllegalArgumentException](
      Corpus.loadLangIdModel(spark, dir + "3"))
    assert(e2.getMessage.contains("duplicate"))
  }

  // ---- heavyHitters (Misra–Gries candidates + exact confirm) ----

  /** Plain exact reference: token counts over whitespace tokens,
    * keep cnt·k > N. */
  private def hhReference(texts: Seq[String], k: Int)
  : Set[(String, Long, Long, Double)] = {
    val toks = texts.flatMap(_.split(" ").filter(_.nonEmpty))
    val n = toks.size.toLong
    toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .collect { case (t, c) if c * k > n => (t, c, n, c.toDouble / n) }
      .toSet
  }

  test("heavyHitters equals the exact groupBy reference on skewed text") {
    // one token at ~40%, one at ~15%, a long tail of singletons —
    // vocab (1000+) far exceeds the 19 MG counters, so the decrement
    // path fires constantly and false candidates must be cleared
    val rnd = new scala.util.Random(41)
    val texts = (1 to 200).map { i =>
      val words = (1 to 20).map { j =>
        val r = rnd.nextInt(100)
        if (r < 40) "hot" else if (r < 55) "warm" else s"tail_${i}_$j"
      }
      words.mkString(" ")
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Corpus.heavyHitters(df, k = 5)
      .as[(String, Long, Long, Double)].collect().toSet
    val expect = hhReference(texts, 5)
    assert(got == expect)
    assert(got.map(_._1).contains("hot"))
  }

  test("heavyHitters output is partition-layout independent") {
    val rnd = new scala.util.Random(59)
    val texts = (1 to 120).map(_ => (1 to 30).map { _ =>
      val r = rnd.nextInt(20)
      if (r < 8) "a" else if (r < 12) "b" else s"t${rnd.nextInt(500)}"
    }.mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val one = Corpus.heavyHitters(df.repartition(1), k = 8)
      .as[(String, Long, Long, Double)].collect().toSet
    val many = Corpus.heavyHitters(df.repartition(11), k = 8)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(one == many && one == hhReference(texts, 8))
  }

  test("mgCandidates: superset of heavy hitters, bounded size") {
    val rnd = new scala.util.Random(73)
    (1 to 20).foreach { trial =>
      val k = rnd.nextInt(8) + 2
      val stream = (1 to rnd.nextInt(2000) + 100).map { _ =>
        if (rnd.nextInt(10) < 4) s"h${rnd.nextInt(3)}"
        else s"t${rnd.nextInt(300)}"
      }
      val cands = Corpus.mgCandidates(k)(stream.iterator).toSet
      assert(cands.size <= k - 1, s"trial $trial: ${cands.size} > ${k - 1}")
      val n = stream.size.toLong
      val heavy = stream.groupBy(identity).collect {
        case (t, xs) if xs.size.toLong * k > n => t
      }.toSet
      assert(heavy.subsetOf(cands),
        s"trial $trial k=$k: missing ${heavy -- cands}")
    }
  }

  test("heavyHitters edges: k=2 majority-only, empty corpus, null text") {
    val df = Seq((1L, "m m m m m x y z"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // N = 8, majority bar: cnt·2 > 8 → m (5) qualifies, nothing else
    val got = Corpus.heavyHitters(df, k = 2)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got == Set(("m", 5L, 8L, 5.0 / 8.0)))
    assert(Corpus.heavyHitters(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), k = 4).count() == 0)
    intercept[IllegalArgumentException](Corpus.heavyHitters(df, k = 1))
  }

  test("collocations: PMI ranks rare-but-together over frequent pairs") {
    // (c,d) occurs only together: lowest raw count of the survivors
    // but highest PMI; (a,a)/(b,b) are frequent-but-expected; the
    // hapax pair (e,f) would MAX the ratio — minCount excludes it
    val docs = (Seq.fill(5)("a b") ++ Seq.fill(5)("c d") ++
      Seq("a a a a a a a a a a b b b b b b b b b b", "e f"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Corpus.collocations(docs, minCount = 5L, k = 10)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(!got.exists(_._1 == "e"))
    assert(got.map(r => (r._1, r._2))
      == Seq(("c", "d"), ("a", "a"), ("b", "b"), ("a", "b")))
    // ticks through the same fixed tree (N_uni = 42, N_bi = 30)
    val nu = 42.0; val nb = 30.0
    def tk(cp: Long, ca: Long, cb: Long): Long =
      math.floor((((1.0e6 * cp) * nu) * nu) / ((nb * ca) * cb)).toLong
    assert(got.head == (("c", "d", 5L, 5L, 5L, tk(5, 5, 5))))
    assert(got.find(r => r._1 == "a" && r._2 == "b").get
      == (("a", "b", 6L, 15L, 15L, tk(6, 15, 15))))
    assert(got.find(r => r._1 == "a" && r._2 == "a").get._6
      == tk(9, 15, 15))
  }

  test("sftRender: the loss span is exactly the response, unicode too") {
    val pairs = Seq(
      (1L, "what is spark", "a distributed engine"),
      (2L, "translate 🙂", "naïve café 日本語"),
      (3L, "empty response", "")).toDF("doc_id", "prompt", "response")
    val out = Corpus.sftRender(pairs, "sys")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val byId = pairs.as[(Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    for ((id, (_, text, s, e)) <- out) {
      val (_, prompt, response) = byId(id)
      // offsets are CODE POINTS: slice via offsetByCodePoints so the
      // emoji row checks the contract, not UTF-16 accounting
      val from = text.offsetByCodePoints(0, s.toInt)
      val to = text.offsetByCodePoints(0, e.toInt)
      assert(text.substring(from, to) == response, s"doc $id")
      assert(text.startsWith(s"<|system|>\nsys\n<|user|>\n$prompt"))
      assert(text.endsWith("<|end|>"))
    }
    assert(out(3L)._3 == out(3L)._4) // empty response: empty span
  }

  test("spanCorrupt: sentinel reassembly restores the original text") {
    val rnd = new scala.util.Random(23)
    val docs = (1L to 120L).map { i =>
      (i, (1 to (rnd.nextInt(12) + 1)).map(_ =>
        "tok" + rnd.nextInt(9)).mkString(" "))
    }.toDF("doc_id", "text")
    val out = Corpus.spanCorrupt(docs, nSpans = 2, spanLen = 2)
      .as[(Long, Boolean, String, Option[String])].collect()
    val byId = docs.as[(Long, String)].collect().toMap
    for ((id, corrupted, input, target) <- out) {
      val text = byId(id)
      val n = text.split(" ").count(_.nonEmpty)
      assert(corrupted == (n / 2 >= 2), s"doc $id eligibility")
      if (!corrupted) {
        assert(input == text && target.isEmpty)
      } else {
        // parse the T5 target grammar and splice spans back in
        val spans = target.get.split("<extra_id_\\d+>").map(_.trim)
          .filter(_.nonEmpty)
        assert(spans.length == 2, s"doc $id target: ${target.get}")
        assert(target.get.endsWith("<extra_id_2>"))
        var restored = input
        spans.zipWithIndex.foreach { case (sp, k) =>
          restored = restored.replace(s"<extra_id_$k>", sp)
        }
        assert(restored == text, s"doc $id: '$restored' != '$text'")
        // each span is exactly spanLen tokens, spans are disjoint
        assert(spans.forall(_.split(" ").length == 2))
      }
    }
    // bit-identical re-run (no rand() anywhere)
    val again = Corpus.spanCorrupt(docs, nSpans = 2, spanLen = 2)
      .as[(Long, Boolean, String, Option[String])].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("spanCorrupt: spans stay inside their segments; nSpans=1 works") {
    // 8 tokens, 2 spans of 2: span 0 inside tokens 1-4, span 1
    // inside 5-8 — whatever the draws, the sentinel positions in the
    // input respect the segment split
    val docs = Seq((7L, "a b c d e f g h")).toDF("doc_id", "text")
    val (_, c, input, _) = Corpus.spanCorrupt(docs)
      .as[(Long, Boolean, String, Option[String])].head()
    assert(c)
    val toks = input.split(" ")
    val i0 = toks.indexOf("<extra_id_0>")
    val i1 = toks.indexOf("<extra_id_1>")
    assert(i0 >= 0 && i0 <= 2, input)  // span from first 4 tokens
    assert(i1 > i0, input)
    val one = Corpus.spanCorrupt(docs, nSpans = 1, spanLen = 3)
      .as[(Long, Boolean, String, Option[String])].head()
    assert(one._2 && one._3.contains("<extra_id_0>")
      && one._4.get.endsWith("<extra_id_1>"))
    intercept[IllegalArgumentException](Corpus.spanCorrupt(docs, nSpans = 0))
  }

  test("corpusDriftTerms: full-outer vocab, exact tick drift") {
    // A: x x y (n=3); B: x z (n=2)
    val a = Seq((1L, "x x y")).toDF("doc_id", "text")
    val b = Seq((2L, "x z")).toDF("doc_id", "text")
    val got = Corpus.corpusDriftTerms(a, b)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // ticks through the same fixed tree the operator uses
    def tk(c: Long, n: Long) = math.floor(1.0e9 * c.toDouble / n.toDouble).toLong
    assert(got("x") == ((2L, 1L, tk(2, 3), tk(1, 2), tk(2, 3) - tk(1, 2))))
    // one-sided terms survive the full outer join with count 0
    assert(got("y") == ((1L, 0L, tk(1, 3), 0L, tk(1, 3))))
    assert(got("z") == ((0L, 1L, 0L, tk(1, 2), tk(1, 2))))
    assert(got.size == 3)
  }

  test("corpusDivergence: one-row summary, OOV mass both directions") {
    val a = Seq((1L, "x x y")).toDF("doc_id", "text")
    val b = Seq((2L, "x z")).toDF("doc_id", "text")
    val r = Corpus.corpusDivergence(a, b)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    val (nA, nB, vA, vB, vS, tv, oovA, oovB) = r
    assert((nA, nB, vA, vB, vS) == ((3L, 2L, 2L, 2L, 1L)))
    assert(tv == 166666666L + 333333333L + 500000000L)
    assert(oovA == 333333333L) // y's mass: floor(1e9 * 1/3)
    assert(oovB == 500000000L) // z's mass: floor(1e9 * 1/2)
    // identical corpora: zero drift, zero OOV, full overlap
    val same = Corpus.corpusDivergence(a, a)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(same == ((3L, 3L, 2L, 2L, 2L, 0L, 0L, 0L)))
  }

  test("hostPolicyStats: per-host rollup, evidence floor, hostless " +
      "docs dropped") {
    val verdicts = Seq(
      (1L, 100L, true), (2L, 50L, false), (3L, 80L, true),   // spam.io: 2/3... wait
      (4L, 10L, false), (5L, 20L, false), (6L, 300L, true),  // mixed
      (7L, 40L, true))
      .toDF("doc_id", "n_tokens", "keep")
    val urls = Seq(
      (1L, "https://good.org/a"), (2L, "https://good.org/b"),
      (3L, "https://good.org/c"),
      (4L, "https://spam.io/x"), (5L, "https://spam.io/y"),
      (6L, "https://good.org/d"),
      (7L, "not a url")) // no host -> no domain evidence
      .toDF("doc_id", "url")
    val got = Corpus.hostPolicyStats(verdicts, urls,
        minDocs = 2, maxKeepRate = 0.5)
      .as[(String, Long, Long, Double, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set("good.org", "spam.io")) // doc 7 dropped
    assert(got("good.org") ==
      (("good.org", 4L, 3L, 0.75, 480L, false)))
    assert(got("spam.io") ==
      (("spam.io", 2L, 0L, 0.0, 0L, true)))
    // evidence floor: the same spam host with minDocs above its
    // count is NOT a candidate however bad its rate
    val floor = Corpus.hostPolicyStats(verdicts, urls,
        minDocs = 3, maxKeepRate = 0.5)
      .filter(col("host") === "spam.io")
      .select("blocklist_candidate").as[Boolean].head()
    assert(!floor)
  }

  test("invertedIndex + searchIndex roundtrip with sorted postings") {
    import sqlImplicits._
    val docs = Seq((3L, "b a b"), (1L, "a c"), (2L, "c d")).toDF("doc_id", "text")
    val idx = Corpus.invertedIndex(docs)
    val a = idx.filter($"tok" === "a").select("df", "postings")
      .as[(Long, Seq[Long])].head()
    assert(a == ((2L, Seq(1L, 3L))))  // sorted despite 3 arriving first
    val hits = Corpus.searchIndex(idx, Seq("a", "c"))
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(hits == Seq((1L, 2L, true), (2L, 1L, false), (3L, 1L, false)))
  }

  test("invertedIndex maxDf drops stop-token posting rows") {
    import sqlImplicits._
    val docs = Seq((1L, "the a"), (2L, "the b"), (3L, "the c"))
      .toDF("doc_id", "text")
    val idx = Corpus.invertedIndex(docs, maxDf = 2)
    assert(idx.filter($"tok" === "the").count() == 0)
    assert(idx.filter($"tok" === "a").count() == 1)
  }

  test("searchIndex refuses duplicate query terms") {
    import sqlImplicits._
    val idx = Corpus.invertedIndex(Seq((1L, "a")).toDF("doc_id", "text"))
    val e = intercept[IllegalArgumentException](
      Corpus.searchIndex(idx, Seq("a", "a")))
    assert(e.getMessage.contains("duplicate"))
  }

  test("fuzzyMatch: length banding is complete for prefix/suffix edits") {
    import sqlImplicits._
    val vocab = Seq("spark", "spar", "sparks", "park", "merge", "xyz")
      .toDF("tok")
    val out = Corpus.fuzzyMatch(vocab, Seq("spark"), maxDist = 1)
      .orderBy("tok").select("tok", "dist")
      .as[(String, Long)].collect().toSeq
    // deletions, insertions AND the 2-edit 'park' boundary all judged
    assert(out == Seq(("park", 1L), ("spar", 1L), ("spark", 0L),
      ("sparks", 1L)))
  }

  test("fuzzyMatch: maxDist 0 reduces to exact membership") {
    import sqlImplicits._
    val vocab = Seq("a", "ab").toDF("tok")
    val out = Corpus.fuzzyMatch(vocab, Seq("ab", "zz"), maxDist = 0)
      .select("query", "tok", "dist")
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("ab", "ab", 0L)))
  }

  test("associationRules: hand-checked support, confidence, lift") {
    import sqlImplicits._
    // baskets: u1={x,y}, u2={x,y}, u3={x}, u4={y,z} -> N=4
    val df = Seq(("u1", "x"), ("u1", "y"), ("u1", "y"), // dup collapses
      ("u2", "x"), ("u2", "y"), ("u3", "x"), ("u4", "y"), ("u4", "z"))
      .toDF("k", "item")
    val out = Corpus.associationRules(df, "k", "item")
      .orderBy("a", "b")
      .select("a", "b", "n_ab", "n_a", "n_b", "support_ppm",
        "conf_a_to_b_ppm", "conf_b_to_a_ppm", "lift_ppm")
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // xy: n_ab=2, n_x=3, n_y=3 -> support 500000, conf 666666 both,
    // lift = 2*4/(3*3) = 888888; yz: n_ab=1, n_y=3, n_z=1 ->
    // support 250000, conf y->z 333333, z->y 1000000, lift 4/3
    assert(out == Seq(
      ("x", "y", 2L, 3L, 3L, 500000L, 666666L, 666666L, 888888L),
      ("y", "z", 1L, 3L, 1L, 250000L, 333333L, 1000000L, 1333333L)))
  }

  test("giniConcentration: uniform = 0-ish, one-token dominance high") {
    import sqlImplicits._
    // 4 tokens once each: perfectly equal -> G = 2*(1+2+3+4)/(4*4)
    // - 5/4 = 1.25 - 1.25 = 0
    val uniform = Seq("a b c d").toDF("text")
    val u = Corpus.giniConcentration(uniform)
      .select("n_vocab", "n_tokens", "gini_ticks")
      .as[(Long, Long, Long)].head()
    assert(u == ((4L, 4L, 0L)))
    // 'z' 9 times + 'a' once: G = 2*(1*1+2*9)/(2*10) - 3/2 = 0.4 —
    // but 1.9 is inexact in binary, so the IEEE tree lands a hair
    // under and the tick FLOORS to 399999: the claim is determinism
    // (both engines, any partitioning), not decimal prettiness
    val skew = Seq(("a " + Seq.fill(9)("z").mkString(" "))).toDF("text")
    val s = Corpus.giniConcentration(skew)
      .select("gini_ticks").as[Long].head()
    assert(s == 399999L, s.toString)
  }
}
