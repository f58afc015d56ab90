package graft

// Dev profiling harness — NOT part of the library surface or the
// driver contract. Modes (env vars):
//   PROF_EXACT=1        stage-time the exact-dedup primitives
//   PROF_EXPLAIN_NEW=1  print formatted plans for the r3 queries
//   PROF_USE_OP=1       time Dedup.minhashPairs end-to-end
//   (default)           stage-by-stage minhash pipeline breakdown,
//                       PROF_PERSIST=1 toggles the sketch cache,
//                       PROF_FINAL_ONLY=1 skips intermediate actions
// Used with SPARK_GRAFT_SF_DIR to pick the scale factor.
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions, TextFunctions}

object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s = $r"); r
    }
    val finalOnly = sys.env.get("PROF_FINAL_ONLY").contains("1")
    def stage[T](name: String)(f: => T): Unit =
      if (!finalOnly) time(name)(f)
    val docs = sources.Tables.load(spark, sfDir, "documents")
    val numHashes = 32; val bands = 2; val shingleN = 1; val threshold = 0.9

    if (sys.env.get("PROF_EXACT").contains("1")) {
      val t = time("load.count")(docs.count())
      time("md5.agg.count")(operators.Dedup.exact(docs).count())
      time("md5.agg.count.2")(operators.Dedup.exact(docs).count())
      time("plain.groupBy.count")(
        docs.groupBy("source").count().count())
      spark.stop(); return
    }
    if (sys.env.get("PROF_EXPLAIN_NEW").contains("1")) {
      // PROF_EXPLAIN_QS=q_a,q_b overrides the default list
      val qs = sys.env.get("PROF_EXPLAIN_QS").map(_.split(",").toSeq)
        .getOrElse(Seq("q_tfidf_top_terms", "q_train_split",
          "q_partitioned_roundtrip", "q_decontaminate", "q_skew_join"))
      for (q <- qs) {
        println(s"===== $q =====")
        SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      }
      spark.stop(); return
    }
    // PROF_COMPACT=1 — L27 scale probe: PROF_COMPACT_PARTS partitions
    // × PROF_COMPACT_FILES files each of tiny parquet, then time
    // compactTable end-to-end (listing + per-partition jobs) and the
    // full-table read before/after. The axis that matters at 100 TB
    // is PARTITION count (one job each) and FILE count (listing +
    // footer opens) — not bytes.
    if (sys.env.get("PROF_COMPACT").contains("1")) {
      val parts = sys.env.getOrElse("PROF_COMPACT_PARTS", "40").toInt
      val filesPer = sys.env.getOrElse("PROF_COMPACT_FILES", "50").toInt
      val base = java.nio.file.Files
        .createTempDirectory("graft_prof_compact").toString
      time(s"scatter ${parts}x$filesPer") {
        docs.limit(parts * filesPer)
          .withColumn("pk", col("doc_id") % parts)
          .repartition(filesPer, col("doc_id"))
          .write.partitionBy("pk").mode("overwrite")
          .parquet(s"$base/src")
      }
      val n0 = time("count BEFORE (small files)")(
        spark.read.parquet(s"$base/src").count())
      val rep = time(s"compactTable $parts parts")(
        operators.Layout.compactTable(spark, s"$base/src",
          s"$base/dst", targetBytes = 1L << 30).collect())
      println(s"[prof] partitions=${rep.length} filesBefore=" +
        s"${rep.map(_.getLong(1)).sum} filesAfter=${rep.map(_.getLong(3)).sum}")
      val n1 = time("count AFTER (compacted)")(
        spark.read.parquet(s"$base/dst").count())
      require(n0 == n1, s"row loss: $n0 != $n1")
      spark.stop(); return
    }
    // PROF_HOSTRANK=1 — stage breakdown of q_host_rank: edges
    // derivation (urlHost regex chain + distinct) vs the tick
    // iteration itself, to attribute the bench delta vs q_pagerank.
    // PROF_TRIANGLES=1 — stage breakdown of q_triangle_stats
    if (sys.env.get("PROF_TRIANGLES").contains("1")) {
      val edges = docs.select((col("doc_id") % 97).as("src"),
        (call_function("div", col("doc_id"), lit(97L)) % 97).as("dst"))
        .filter(col("src") =!= col("dst"))
      val base = edges.select(col("src").cast("long").as("s"),
        col("dst").cast("long").as("d"))
      val e1 = base.select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b")).distinct()
      time("e1 distinct count")(e1.count())
      val e1m = e1.localCheckpoint(true)
      val deg = e1m.select(col("a").as("n"))
        .unionByName(e1m.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      time("deg count")(deg.count())
      val degm = deg.localCheckpoint(true)
      val withDeg = e1m
        .join(degm.select(col("n").as("a"), col("deg").as("da")), "a")
        .join(degm.select(col("n").as("b"), col("deg").as("db")), "b")
      val lowerFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val eo = withDeg.select(
        when(lowerFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowerFirst, col("b")).otherwise(col("a")).as("v"))
      time("eo count")(eo.count())
      val eom = eo.localCheckpoint(true)
      val wedges = eom.as("x").join(eom.as("y"),
          col("x.u") === col("y.u") && col("x.v") =!= col("y.v"))
        .select(col("x.v").as("cu"), col("y.v").as("cv"))
      time("wedges count")(wedges.count())
      val tri = wedges.join(eom,
        col("cu") === col("u") && col("cv") === col("v"))
      time("triangles count")(tri.count())
      for (r <- 1 to 2)
        time(s"full triangleStats (run $r)")(
          operators.Graph.triangleStats(edges).collect().toSeq)
      spark.stop(); return
    }
    if (sys.env.get("PROF_HOSTRANK").contains("1")) {
      val srcU = concat(lit("https://h"),
        (col("doc_id") % 17).cast("string"),
        lit(".example.org/d/"), col("doc_id").cast("string"))
      val dstU = concat(lit("https://h"),
        ((col("doc_id") * 5 + 3) % 17).cast("string"),
        lit(".example.org/d/x"))
      def edges = docs.select(
        TextFunctions.urlHost(srcU).as("src"),
        TextFunctions.urlHost(dstU).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct()
      time("edges.count (derive)")(edges.count())
      val mat = edges.localCheckpoint(true)
      for (r <- 1 to 3)
        time(s"pageRankTicks mat edges (run $r)")(
          operators.Graph.pageRankTicks(mat, iters = 3).count())
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      for (r <- 1 to 2)
        time(s"pageRankTicks mat edges AQE-off (run $r)")(
          operators.Graph.pageRankTicks(mat, iters = 3).count())
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      for (r <- 1 to 2)
        time(s"pageRankTicks 1 iter (run $r)")(
          operators.Graph.pageRankTicks(mat, iters = 1).count())
      time("full query (warm)")(
        operators.Graph.pageRankTicks(edges, iters = 3).count())
      spark.stop(); return
    }
    // PROF_BPE_BYTES=1 — byte-level vs char-level fertility row for
    // BASELINE.md: train the same merge budget in both modes on
    // sf0.01, encode the sf0.1 corpus through the same trie kernel,
    // report words/subwords/fertility per mode.
    if (sys.env.get("PROF_BPE_BYTES").contains("1")) {
      val fitDocs = sources.Tables.load(spark,
        "/root/testdata/sf0.01", "documents")
      val nM = sys.env.getOrElse("PROF_BPE_MERGES", "96").toInt
      val charMerges = time(s"train char-level ($nM merges)")(
        operators.Bpe.trainMerges(fitDocs, nM))
      val byteMerges = time(s"train byte-level ($nM merges)")(
        operators.Bpe.trainMerges(fitDocs, nM, byteLevel = true))
      val words = docs.select(explode(TextFunctions.tokens(col("text")))
        .as("w"))
      def fert(name: String, enc: org.apache.spark.sql.Column): Unit = {
        val r = time(s"encode $name")(
          docs.select(explode(enc).as("t"))
            .agg(count(lit(1))).head.getLong(0))
        val nW = words.count()
        println(f"[prof] $name: words=$nW subwords=$r " +
          f"fertility=${r.toDouble / nW}%.4f")
      }
      fert("char-level", operators.Bpe.encodeLongestMatch(col("text"),
        operators.Bpe.vocabFromMerges(charMerges)))
      fert("byte-level", operators.Bpe.encodeBytesLongestMatch(col("text"),
        operators.Bpe.vocabFromMerges(byteMerges).map(identity)))
      spark.stop(); return
    }
    // PROF_LANGID=1 — stage breakdown of q_langid_model
    if (sys.env.get("PROF_LANGID").contains("1")) {
      val text = col("text")
      val grams = transform(sequence(lit(1), length(text) - 1),
        i => text.substr(i, lit(2)))
      val inst = docs.filter(length(text) >= 2)
        .select(col("doc_id"), col("lang"), explode(grams).as("gram"))
        .select(col("doc_id"), col("lang"),
          (operators.Sampling.md5Bucket16(col("gram")) % 256).as("bucket"))
      time("explode+md5 only")(inst.count())
      time("explode+md5 again")(inst.count())
      // variant B: int-sequence explode + single conv-based bucket
      val instB = docs.filter(length(text) >= 2)
        .select(col("doc_id"), col("lang"), col("text"),
          explode(sequence(lit(1), length(text) - 1)).as("i"))
        .select(col("doc_id"), col("lang"),
          pmod(conv(substring(md5(col("text").substr(col("i"), lit(2))),
            1, 4), 16, 10).cast("long"), lit(256L)).as("bucket"))
      time("variantB int-explode + conv")(instB.count())
      time("variantB again")(instB.count())
      // sanity: identical buckets
      val diff = inst.groupBy("doc_id", "lang", "bucket").count()
        .except(instB.groupBy("doc_id", "lang", "bucket").count()).count()
      println(s"[prof] variantB bucket diff rows = $diff")
      for (r <- 1 to 3)
        time(s"langIdModel full (run $r)")(
          operators.Corpus.langIdModel(docs).count())
      for (r <- 1 to 3)
        time(s"langIdModel noop write (run $r)")(
          operators.Corpus.langIdModel(docs)
            .write.mode("overwrite").format("noop").save())
      val fitOnly = instB.groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).cast("long").as("cnt_cb"))
      for (r <- 1 to 2)
        time(s"fit collect only (run $r)")(fitOnly.collect().length)
      time("instB noop (md5 forced)")(
        instB.write.mode("overwrite").format("noop").save())
      val gramsOnly = docs.filter(length(text) >= 2)
        .select(col("doc_id"), col("lang"), col("text").as("__t"),
          explode(sequence(lit(1), length(text) - 1)).as("__i"))
        .select(col("doc_id"), col("lang"),
          col("__t").substr(col("__i"), lit(2)).as("gram"))
      time("grams noop (no md5)")(
        gramsOnly.write.mode("overwrite").format("noop").save())
      time("xxhash variant noop")(
        gramsOnly.select(col("doc_id"), col("lang"),
          pmod(xxhash64(col("gram")), lit(256L)).as("bucket"))
          .write.mode("overwrite").format("noop").save())
      // fine-grained: replicate the operator's stages
      val inst2 = instB.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts2 = time("counts checkpoint")(
        inst2.groupBy(col("lang").as("c"), col("bucket"))
          .agg(count(lit(1)).cast("long").as("cnt_cb"))
          .localCheckpoint(true))
      val dense2 = counts2.select("c").distinct()
        .crossJoin(counts2.select("bucket").distinct())
        .join(counts2, Seq("c", "bucket"), "left")
        .select(col("c"), col("bucket"),
          coalesce(col("cnt_cb"), lit(0L)).as("cnt_cb"))
      import org.apache.spark.sql.expressions.Window
      val totalAll2 = dense2.agg(sum("cnt_cb").cast("long").as("tot_all"))
      val model2 = broadcast(dense2
        .withColumn("tot_c", sum("cnt_cb").over(Window.partitionBy("c")).cast("long"))
        .withColumn("bg_b", sum("cnt_cb").over(Window.partitionBy("bucket")).cast("long"))
        .crossJoin(broadcast(totalAll2)))
      time("model materialize")(model2.count())
      val ratio2 = ((col("cnt_cb") + lit(1L)).cast("double") *
          (col("tot_all") + lit(256L)).cast("double")) /
        ((col("bg_b") + lit(1L)).cast("double") *
          (col("tot_c") + lit(256L)).cast("double"))
      val tick2 = floor(lit(1000000.0) * ratio2).cast("long")
      val perClass2 = inst2.join(model2, "bucket")
        .groupBy(col("doc_id"), col("lang"), col("c"))
        .agg(sum(tick2).cast("long").as("score_fp"))
      time("probe + perClass agg")(perClass2.count())
      time("argmax")(perClass2.groupBy(col("doc_id"), col("lang"))
        .agg(max(struct(col("score_fp"), col("c"))).as("best")).count())
      spark.stop(); return
    }
    // PROF_SPANS=1 — the duplicatedSpanProfile design experiment:
    // occurrence counting via count-over-partition(window hash) vs
    // the naive self-join on the window hash, on a synthetic corpus
    // where 5% of docs share one 16-token boilerplate block (the
    // hot-window shape real web corpora have). The self-join's
    // candidate volume is Σ occ² per window — quadratic in the
    // duplication degree — while the window plan shuffles each
    // window exactly once. Feeds the SURVEY §6 r12 note.
    if (sys.env.get("PROF_SPANS").contains("1")) {
      val nDocs = sys.env.getOrElse("PROF_SPANS_DOCS", "100000").toInt
      val k = 8
      val boiler = (0 until 16).map(i => s"bp$i").mkString(" ")
      def rndTok(j: Int) =
        concat(lit("w"), pmod(xxhash64(col("doc_id") * 53 + lit(j * 7919)),
          lit(50000)))
      val text = concat_ws(" ",
        ((0 until 24).map(rndTok) :+
          when(pmod(col("doc_id"), lit(20)) === 0, lit(boiler))
            .otherwise(concat_ws(" ", (24 until 40).map(rndTok): _*))) ++
          (40 until 64).map(rndTok): _*)
      val docsS = spark.range(nDocs).select(col("id").as("doc_id"))
        .withColumn("text", text)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("synth.count")(docsS.count())
      val wins = docsS.select(col("doc_id"),
          posexplode(TextFunctions.shingles(
            TextFunctions.tokens(col("text")), k)))
        .select(col("doc_id"), col("pos").as("start"), md5(col("col")).as("wh"))
      time("windows.count")(wins.count())
      // shipped: one shuffle, each window carried once. Force the
      // coverage column — a bare count() lets the distinct-keys
      // optimizer eliminate the (unique-keyed) coverage join and
      // would time only the base scan.
      time("shipped.countOverPartition")(
        operators.Dedup.duplicatedSpanProfile(docsS, k)
          .agg(sum("dup_span_tokens")).collect()(0).getLong(0))
      time("shipped.again")(
        operators.Dedup.duplicatedSpanProfile(docsS, k)
          .agg(sum("dup_span_tokens")).collect()(0).getLong(0))
      // naive: candidate pairs via self-join on the window hash
      time("naive.selfJoin.pairs")(
        wins.select(col("doc_id").as("a_id"), col("start").as("a_s"),
            col("wh"))
          .join(wins.select(col("doc_id").as("b_id"),
            col("start").as("b_s"), col("wh")), "wh")
          .filter(col("a_id") < col("b_id") ||
            (col("a_id") === col("b_id") && col("a_s") < col("b_s")))
          .count())
      docsS.unpersist()
      spark.stop(); return
    }
    // PROF_BPE=1 — encode-kernel experiment for BASELINE.md: train a
    // real merge list once (small SF), then time the two apply
    // kernels on the bench corpus at two vocab sizes. applyMerges
    // replays merges in training order (O(nMerges) expression depth —
    // cost grows with the vocab); LongestMatchEncode walks a trie
    // (O(word) per row — cost flat in the vocab). PROF_BPE_REPLICATE
    // scales the corpus (default 20x sf0.1 documents).
    if (sys.env.get("PROF_BPE").contains("1")) {
      val rep = sys.env.getOrElse("PROF_BPE_REPLICATE", "20").toInt
      val train = sources.Tables.load(spark, "/root/testdata/sf0.01",
        "documents")
      val merges = time("train.96merges")(
        operators.Bpe.trainMerges(train, nMerges = 96, minCount = 2L))
      val corpus = (1 to rep).map(i =>
          docs.select(col("text"))).reduce(_ union _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val inToks = time("corpus.count.tokens")(
        corpus.select(sum(size(TextFunctions.tokens(col("text")))))
          .collect()(0).getLong(0))
      println(s"[prof] corpus: $inToks input word-tokens, " +
        s"${merges.length} merges trained")
      for (n <- Seq(24, 96)) {
        val m = merges.take(n)
        val v = operators.Bpe.vocabFromMerges(m)
        time(s"applyMerges.$n")(
          corpus.select(sum(size(flatten(
            operators.Bpe.applyMerges(col("text"), m)))))
            .collect()(0).getLong(0))
        time(s"encodeLongestMatch.$n")(
          corpus.select(sum(size(
            operators.Bpe.encodeLongestMatch(col("text"), v))))
            .collect()(0).getLong(0))
      }
      corpus.unpersist()
      spark.stop(); return
    }
    // PROF_INGEST=1 — the WarcIngest O(delta) trigger experiment for
    // BASELINE.md: land N WARC files, pay the full first trigger,
    // then add ONE file and show the next trigger costs the DELTA
    // (one file's parse + the metadata listing + manifest diff), not
    // the corpus — the claim SURVEY J41 makes about the loop.
    // PROF_INGEST_FILES sizes the landing zone (default 60).
    if (sys.env.get("PROF_INGEST").contains("1")) {
      val nFiles = sys.env.getOrElse("PROF_INGEST_FILES", "60").toInt
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_prof_ingest").toString
      val landing = s"$tmp/landing"
      val out = s"$tmp/ingest"
      val wave = docs.select(
        concat(lit("https://corpus.example/doc/"), col("doc_id")).as("uri"),
        lit("2026-01-01T00:00:00Z").as("date"),
        col("text").cast("binary").as("payload"))
      time(s"land.$nFiles.files")(
        sources.Warc.write(wave.repartition(nFiles), s"$landing/w1"))
      time(s"trigger1.full.$nFiles.files")(
        streaming.WarcIngest.ingestOnce(spark, landing, out).count())
      time("land.1.file")(
        sources.Warc.write(wave.limit(200).repartition(1),
          s"$landing/w2"))
      time("trigger2.delta.1.file")(
        streaming.WarcIngest.ingestOnce(spark, landing, out).count())
      time("trigger3.noop")(
        streaming.WarcIngest.ingestOnce(spark, landing, out).count())
      println("[prof] records total: " +
        streaming.WarcIngest.records(spark, out).count())
      spark.stop(); return
    }

    // PROF_INGEST_SCALE=1 — the manifest-diff scale probe: synthesize
    // N tiny 1-record WARCs (the cost under test is listing + diff,
    // not parse), pay the full first trigger, then show the delta and
    // no-op triggers stay sub-linear in FILE COUNT (the driver-side
    // manifest map claim at ~1e4-1e5 files).
    if (sys.env.get("PROF_INGEST_SCALE").contains("1")) {
      val n = sys.env.getOrElse("PROF_INGEST_SCALE_FILES", "10000").toInt
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_prof_ingest_scale").toString
      val landing = s"$tmp/landing"; val out = s"$tmp/ingest"
      new java.io.File(landing).mkdirs()
      val rec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: https://x/1\r\nWARC-Date: d\r\n" +
        "Content-Length: 2\r\n\r\nok\r\n\r\n").getBytes("UTF-8")
      time(s"land.$n.files (driver loop)") {
        var i = 0
        while (i < n) {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(landing, f"f$i%06d.warc"), rec)
          i += 1
        }
      }
      time(s"trigger1.full.$n")(
        streaming.WarcIngest.ingestOnce(spark, landing, out).count())
      java.nio.file.Files.write(
        java.nio.file.Paths.get(landing, "zz_extra.warc"), rec)
      time(s"trigger2.delta.1.of.${n + 1}")(
        streaming.WarcIngest.ingestOnce(spark, landing, out).count())
      time(s"trigger3.noop.$n")(
        streaming.WarcIngest.ingestOnce(spark, landing, out).count())
      time(s"trigger4.noop.$n")(
        streaming.WarcIngest.ingestOnce(spark, landing, out).count())
      spark.stop(); return
    }

    // PROF_DEDUP_SCALE=1 — the headline dedup chain at 20x/100x the
    // sf0.1 corpus (PROF_DEDUP_DOCS docs, default 2e6): synthesize a
    // web-shaped corpus (10% of docs are near-copies in 2-doc
    // clusters: 46 of 48 tokens shared → shingle jaccard ≈ 0.92 over
    // the 0.9 bar; the other 90% globally-unique token streams), then
    // time each stage of sketch → banded pairs → connected components
    // → survivors, with per-stage SHUFFLE read/write deltas from a
    // stage listener — the evidence that banded pair volume and
    // shuffle bytes scale near-linearly in corpus size (BASELINE.md
    // table; any super-linear term gets adjudicated in-round).
    if (sys.env.get("PROF_DEDUP_SCALE").contains("1")) {
      val n = sys.env.getOrElse("PROF_DEDUP_DOCS", "2000000").toLong
      val shuffleW = new java.util.concurrent.atomic.AtomicLong
      val shuffleR = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
            shuffleW.addAndGet(
              sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
            shuffleR.addAndGet(
              sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
          }
        })
      def shuffleStage[T](name: String)(f: => T): T = {
        Thread.sleep(1500) // drain async listener events
        val (w0, r0) = (shuffleW.get, shuffleR.get)
        val r = time(name)(f)
        Thread.sleep(1500)
        println(f"[prof] $name.shuffle: " +
          f"write ${(shuffleW.get - w0) / 1e6}%.1f MB, " +
          f"read ${(shuffleR.get - r0) / 1e6}%.1f MB")
        r
      }
      def baseTok(j: Int) = concat(lit("w"), pmod(xxhash64(
        call_function("div", col("doc_id"), lit(20L)) * 131 +
          lit(j * 7919L)), lit(200000L)))
      def uniqTok(j: Int) = concat(lit("u"), pmod(xxhash64(
        col("doc_id") * 53L + lit(j * 104729L)), lit(4000000000L)))
      val isDup = pmod(col("doc_id"), lit(20L)) < 2L
      val text = when(isDup,
        concat_ws(" ", (0 until 46).map(baseTok) ++
          (0 until 2).map(uniqTok): _*))
        .otherwise(concat_ws(" ", (0 until 48).map(uniqTok): _*))
      val docsS = spark.range(n).select(col("id").as("doc_id"))
        .withColumn("text", text)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"synth.$n.count")(docsS.count())
      val sketch = operators.Dedup.minhashSketch(docsS)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      shuffleStage("sketch.count")(sketch.count())
      // minhashPairsFromSketch and connectedComponents both run
      // their actions at CONSTRUCTION (materializeAndRelease / the
      // iteration loop) — time the constructors, not a later count
      val pairs = shuffleStage("pairs.band+verify")(
        operators.Dedup.minhashPairsFromSketch(sketch, threshold = 0.9,
          numHashes = 16, bands = 4))
      println(s"[prof] pairs.n = ${pairs.count()}")
      val cc = shuffleStage("cc.iterate")(
        operators.Graph.connectedComponents(
          docsS.select(col("doc_id")), pairs.select("a_id", "b_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      println(s"[prof] cc.components = " +
        s"${cc.filter(col("id") === col("comp")).count()}")
      shuffleStage("survivors.count")(
        docsS.join(cc.filter(col("id") === col("comp"))
          .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
          .count())
      spark.stop(); return
    }

    // PROF_STATE_SCALE=1 — the E7 state-backend probe: streaming
    // state at 10-100x the default fixture, HEAP (the default
    // HDFS-backed provider, every key in executor heap) vs ROCKSDB
    // (executor-local disk + block cache). PROF_STATE_MODE=
    // heap|rocksdb picks ONE provider per JVM (fair cold runs);
    // PROF_STATE_ROWS sizes the synthesized stream (default 2e6
    // events, every key distinct — dedup's worst case: state = one
    // row per key ever seen); PROF_STATE_BATCHES (default 4) lands
    // that many files so maxFilesPerTrigger=1 forces state to be
    // LOADED AND COMMITTED across micro-batches — the store's real
    // read/write path, not one in-batch dedup. Two legs: exact
    // dedup (dropDuplicatesWithinWatermark) and flatMapGroupsWithState
    // sessionization. Reports wall time + the final progress's
    // state-operator metrics (rows, memory/native usage).
    if (sys.env.get("PROF_STATE_SCALE").contains("1")) {
      val nRows = sys.env.getOrElse("PROF_STATE_ROWS", "2000000").toLong
      val mode = sys.env.getOrElse("PROF_STATE_MODE", "heap")
      val nBatches = sys.env.getOrElse("PROF_STATE_BATCHES", "4").toInt
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_prof_state").toString
      val evDir = s"$tmp/events"
      new java.io.File(evDir).mkdirs()
      val per = nRows / nBatches
      time(s"land.$nBatches.files.x.$per") {
        for (b <- 0 until nBatches) {
          val part = s"$evDir/b$b.parquet.tmpdir"
          spark.range(b * per, (b + 1) * per)
            .select(col("id").as("user_id"),
              timestamp_micros(lit(1700000000000000L) +
                (col("id") % 86400L) * 1000000L).as("ts"),
              (col("id") % 100L).cast("double").as("value"))
            .coalesce(1).write.parquet(part)
          val f = new java.io.File(part).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(f.toPath,
            new java.io.File(s"$evDir/b$b.parquet").toPath)
          org.apache.commons.io.FileUtils
            .deleteDirectory(new java.io.File(part))
        }
      }
      def withProvider[T](f: => T): T =
        if (mode == "rocksdb") streaming.EventStreams.withRocksDbState(spark)(f)
        else f
      def reportState(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
        q.recentProgress.lastOption
          .flatMap(p => p.stateOperators.headOption).foreach { s =>
            println(f"[prof] state.$mode: rows=${s.numRowsTotal} " +
              f"mem=${s.memoryUsedBytes / 1048576.0}%.1f MiB " +
              s.customMetrics.entrySet().toArray.map(_.toString)
                .filter(m => m.contains("Memory") || m.contains("SstFile") ||
                  m.contains("loadedMap"))
                .mkString(" "))
          }
      val schema = spark.read.parquet(s"$evDir/b0.parquet").schema
      def stream() = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1").parquet(evDir)
      // leg 1: exact streaming dedup — state holds every key seen
      withProvider {
        streaming.EventStreams.withStatefulShuffle(spark) {
          time(s"dedup.$mode.$nRows") {
            val q = stream()
              .withWatermark("ts", "48 hours")
              .dropDuplicatesWithinWatermark(Seq("user_id"))
              .writeStream.format("noop")
              .option("checkpointLocation", s"$tmp/ckpt_dedup")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination(); reportState(q); q.recentProgress.length
          }
        }
      }
      // leg 2: flatMapGroupsWithState sessionization — one open
      // session per user carried across batches
      withProvider {
        streaming.EventStreams.withStatefulShuffle(spark) {
          time(s"sessions.$mode.$nRows") {
            import spark.implicits._
            val q = stream()
              .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
              .as[streaming.StatefulSessions.Event]
              .groupByKey(_.user_id)
              .flatMapGroupsWithState(
                org.apache.spark.sql.streaming.OutputMode.Update,
                org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
                streaming.StatefulSessions.step(1800L * 1000000L))
              .writeStream.format("noop")
              .option("checkpointLocation", s"$tmp/ckpt_sess")
              .outputMode("update")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination(); reportState(q); q.recentProgress.length
          }
        }
      }
      spark.stop(); return
    }

    // PROF_BLOOM=1 — the bloomSemiJoin design experiment: on a
    // probe >> build semi join where the build side cannot broadcast
    // (autoBroadcastJoinThreshold=-1 stands in for "too big"),
    // measure probe-side shuffle volume and wall time, plain vs
    // bloom-prefiltered. PROF_BLOOM_MODE=plain|bloom picks ONE
    // variant per JVM (fair cold runs); PROF_BLOOM_ROWS sizes the
    // probe (default 20M), selectivity is fixed at 1/97.
    if (sys.env.get("PROF_BLOOM").contains("1")) {
      import java.util.concurrent.atomic.AtomicLong
      val nRows = sys.env.getOrElse("PROF_BLOOM_ROWS", "20000000").toLong
      val mode = sys.env.getOrElse("PROF_BLOOM_MODE", "plain")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffleBytes = new AtomicLong; val shuffleRecs = new AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = t.taskMetrics
            if (m != null) {
              shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
              shuffleRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
            }
          }
        })
      val probe = spark.range(nRows).select(col("id").as("k"),
        md5(col("id").cast("string")).as("payload"))
      val build = spark.range(0L, nRows, 97L).select(col("id").as("bk"))
      val out = mode match {
        case "bloom" => operators.Joins.bloomSemiJoin(
          probe, build, Seq("k" -> "bk"), expectedItems = nRows / 97 + 1)
        case _ => operators.Joins.semiJoin(probe, build, Seq("k" -> "bk"))
      }
      time(s"bloom.$mode.write")(
        out.write.mode("overwrite").format("noop").save())
      Thread.sleep(2000) // drain the listener bus
      println(s"[prof] bloom.$mode rows=$nRows " +
        s"shuffleBytes=${shuffleBytes.get} shuffleRecords=${shuffleRecs.get}")
      spark.stop(); return
    }

    // PROF_SKEW=1 — plain vs salted join wall-time on a synthetic
    // hot-key table (1% of keys = 50% of rows), broadcast disabled so
    // the shuffle path is exercised. Feeds the BASELINE.md skew note.
    if (sys.env.get("PROF_SKEW").contains("1")) {
      val n = 20000000L
      val big = spark.range(n).select(
        when(col("id") < n / 2, lit(0L))
          .otherwise(pmod(col("id"), lit(999L)) + 1L).as("k"),
        col("id").as("v"))
      val small = spark.range(1000).select(col("id").as("sk"),
        md5(col("id").cast("string")).as("payload"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // PROF_SKEW_MODE=plain|salted, PROF_SKEW_AQE=true|false pick ONE
      // config per JVM (in-JVM interleaving cross-contaminates by
      // several x: GC + shuffle-file churn); round 1 is JIT warmup
      val mode = sys.env.getOrElse("PROF_SKEW_MODE", "plain")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
        sys.env.getOrElse("PROF_SKEW_AQE", "true"))
      val joined =
        if (mode == "plain") big.join(small, big("k") === small("sk"))
        else operators.Skew.saltedJoin(big, small, Seq("k" -> "sk"), 16)
      for (round <- 1 to 3)
        time(s"r$round.$mode")(
          joined.agg(count(lit(1)), max(length(col("payload")))).count())
      spark.stop(); return
    }
    // PROF_DOT=1 — HOF aggregate(zip_with) vs codegen'd ArrayDot on
    // a brute-force scoring shape (the DotProductRewrite payoff)
    if (sys.env.get("PROF_DOT").contains("1")) {
      val emb = sources.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val nProbes = sys.env.getOrElse("PROF_DOT_PROBES", "512").toInt
      val probes = emb.filter(col("vec_id") < nProbes)
        .select(col("vec_id").as("pid"), col("embedding").as("p"))
      val pairs = emb.crossJoin(broadcast(probes))
      def hofDot = aggregate(
        zip_with(col("embedding"), col("p"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (s, v) => s + v)
      def nativeDot = graft.expressions.ArrayDot.dot(col("embedding"), col("p"))
      // head().getDouble forces the sum: a count() here lets the
      // optimizer prune the unused dot entirely (measured 0.2 s for
      // BOTH spellings — of nothing)
      for (round <- 1 to 2) {
        time(s"r$round.hof.dot")(
          pairs.select(sum(hofDot).as("s")).head().getDouble(0).isNaN)
        time(s"r$round.native.dot")(
          pairs.select(sum(nativeDot).as("s")).head().getDouble(0).isNaN)
      }
      spark.stop(); return
    }
    // PROF_REGIONS=1 — withRegions' packed-array broadcast probe vs
    // the naive broadcast range join + per-row dedup (the shape the
    // packed design replaces): 5M residues against a 6k-interval
    // metadata table, overlapping intervals so last-match-wins does
    // real work. Feeds the BASELINE.md r9 note.
    if (sys.env.get("PROF_REGIONS").contains("1")) {
      val nRes = 5000000L
      val residues = spark.range(nRes).select(
        col("id").as("rid"),
        lit("E").as("entityId"),
        concat(lit("S"), pmod(col("id"), lit(3))).as("_dbSource"),
        concat(lit("A"), pmod(col("id"), lit(1000))).as("_dbAccessionId"),
        pmod(col("id"), lit(5000)).cast("int").as("resnum"))
      val regions = spark.range(6000).select(
        lit("E").as("entityId"),
        concat(lit("S"), pmod(col("id"), lit(3))).as("dbSource"),
        concat(lit("A"), pmod(col("id"), lit(1000))).as("dbAccessionId"),
        (col("id") + 1).as("regionId"),
        (pmod(col("id"), lit(40)) * 100).cast("int").as("start"),
        (pmod(col("id"), lit(40)) * 100 + 150).cast("int").as("end"))
      def naive(): Long = {
        val reg = broadcast(regions.select(
          col("entityId").as("__e"), col("dbSource").as("__s"),
          col("dbAccessionId").as("__a"), col("regionId"),
          col("start").as("regionStart"), col("end").as("regionEnd")))
        val joined = residues.join(reg,
          residues("entityId") === col("__e") &&
            residues("_dbSource") === col("__s") &&
            residues("_dbAccessionId") === col("__a") &&
            residues("resnum").between(col("regionStart"),
              col("regionEnd")), "left")
        joined.groupBy(residues.columns.map(residues(_)): _*)
          .agg(max(struct(col("regionId"), col("regionStart"),
            col("regionEnd"))).as("r"))
          .select(col("r.regionId")).filter(col("regionId").isNotNull)
          .count()
      }
      def packed(): Long =
        sources.Xml.withRegions(residues, regions)
          .filter(col("regionId").isNotNull).count()
      // one variant per JVM (PROF_REGIONS_MODE=naive|packed) — the
      // documented in-JVM interleaving cross-contamination applies
      val mode = sys.env.getOrElse("PROF_REGIONS_MODE", "packed")
      for (round <- 1 to 3)
        if (mode == "naive") time(s"r$round.naive.join+dedup")(naive())
        else time(s"r$round.packed.broadcast-probe")(packed())
      spark.stop(); return
    }
    // PROF_DUMP=q_a,q_b — run queries, parquet to /tmp/graft_dump/<q>
    // (targeted oracle comparison without the full Verify sweep)
    if (sys.env.contains("PROF_DUMP")) {
      for (q <- sys.env("PROF_DUMP").split(",").map(_.trim)
          .filter(_.nonEmpty)) {
        time(s"dump.$q")(SparkEntry.queries(q)(spark, sfDir)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"/tmp/graft_dump/$q"))
      }
      spark.stop(); return
    }
    // PROF_ANN=1 — the G6 recall harness swept over the IVF-PQ
    // operating grid (m subspaces × k codewords × kAdc shortlist
    // width), recall@10 vs the within-label exact baseline, ADC and
    // refined — the curve BASELINE.md's operating-point table quotes.
    // PROF_ANN_PROBES widens the probe sample (default 32).
    if (sys.env.get("PROF_ANN").contains("1")) {
      import operators.{Pq, Similarity}
      val emb = sources.Tables.load(spark, sfDir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nProbes = sys.env.getOrElse("PROF_ANN_PROBES", "32").toInt
      val probes = emb.filter(col("vec_id") < nProbes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val kFinal = 10
      val labelPairs = emb
        .select(col("label"), col("vec_id").as("neighbor_id"))
        .join(probes.select(col("label"), col("vec_id").as("probe_id")),
          Seq("label"))
        .filter(col("probe_id") =!= col("neighbor_id"))
      val exact = Pq.refineTopK(labelPairs, emb, probes, kFinal)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      exact.count()
      val universe = labelPairs.groupBy("probe_id").count()
        .agg(avg("count")).head.getDouble(0)
      println(f"[prof] ann grid: probes=$nProbes k=$kFinal " +
        f"within-label universe ~${universe}%.0f candidates/probe")
      def rec(df: org.apache.spark.sql.DataFrame): Double =
        Similarity.recallAtK(df, exact, kFinal)
          .agg(avg("recall")).head.getDouble(0)
      for (m <- Seq(4, 8, 16); kc <- Seq(8, 16)) {
        val cb = time(s"train m=$m k=$kc")(
          Pq.trainCodebooks(emb, m = m, k = kc, lloydIters = 1))
        for (kAdc <- Seq(20, 50, 100)) {
          val short = Pq.pqTopK(emb, probes, kAdc, cb, "label")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          short.count()
          val rAdc = rec(short)
          val rRef = rec(Pq.refineTopK(short, emb, probes, kFinal))
          println(f"[prof] ann m=$m kcode=$kc kAdc=$kAdc: " +
            f"recall@10 adc=$rAdc%.3f refined=$rRef%.3f")
          short.unpersist()
        }
      }
      spark.stop(); return
    }
    // PROF_BLOCKS=1 — block-extraction throughput at a scaled corpus
    // (default 20x sf0.1 documents wrapped in the boilerplate shell):
    // the L30 jusText scorer vs the flat L14 chain, wall seconds and
    // MB/s of input HTML — the linearity row for BASELINE.md.
    if (sys.env.get("PROF_BLOCKS").contains("1")) {
      val rep = sys.env.getOrElse("PROF_BLOCKS_REPLICATE", "20").toInt
      val shellPre = "<html><head><title>t</title>" +
        "<script>if (1 < 2) { alert(\"x&y\"); }</script>" +
        "<style>.nav{display:none}</style></head><body>" +
        "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a>" +
        " <a href=\"/c\">Contact</a></div><h1>Tiny title</h1><p>"
      val shellPost = "</p><div><a href=\"/r1\">Related article one</a> " +
        "<a href=\"/r2\">Related article two</a> more</div>" +
        "<div>Copyright 2024 ExampleCorp All rights reserved</div>" +
        "<!-- footer --></body></html>"
      val corpus = (1 to rep).map(i => docs.select(
          (col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
          concat(lit(shellPre), col("text"), lit(shellPost)).as("html")))
        .reduce(_ union _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = corpus.agg(count(lit(1)), sum(length(col("html"))))
        .head
      val (nDocs, htmlBytes) = (stats.getLong(0), stats.getLong(1))
      println(s"[prof] blocks corpus: $nDocs docs, $htmlBytes html chars")
      for (_ <- 1 to 2) { // second rep = warm JIT, quote that one
        val t0 = System.nanoTime()
        val kept = operators.Boilerplate.htmlExtractBlocks(corpus)
          .agg(sum(col("n_kept")), sum(length(col("extracted"))))
          .head
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[prof] htmlExtractBlocks: $dt%.2f s = " +
          f"${nDocs / dt}%.0f docs/s, ${htmlBytes / dt / 1e6}%.1f MB/s; " +
          s"kept_blocks=${kept.getLong(0)} out_chars=${kept.getLong(1)}")
        val t1 = System.nanoTime()
        val flat = corpus.select(sum(length(
          TextFunctions.htmlExtract(col("html"))))).head.getLong(0)
        val dtF = (System.nanoTime() - t1) / 1e9
        println(f"[prof] htmlExtract (flat): $dtF%.2f s = " +
          f"${htmlBytes / dtF / 1e6}%.1f MB/s; out_chars=$flat")
      }
      spark.stop(); return
    }
    // PROF_CRAWL=1 — stage-by-stage wall time of the crawl front
    // (the r18 target family): the q_crawl_prepare_full fixture run
    // leg by leg in production order, each leg noop-sunk so its own
    // computation is what is timed. Feeds the OPTIMIZATION_r18.md
    // attribution for q_crawl_prepare_{full,blocks,scored,model} and
    // the warc/wet ingest pair.
    if (sys.env.get("PROF_CRAWL").contains("1")) {
      import operators.{CorpusPipeline, Corpus, Dedup}
      import spark.implicits._
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      val toks = TextFunctions.tokens(col("text"))
      val synthPseudo = array_join(
        transform(
          sequence(lit(0), ceil(size(toks) / lit(10.0)).cast("int") - 1),
          g => array_join(slice(toks, g * 10 + 1, lit(10)), " ")),
        "\n")
      val item = concat(lit("/articles/item-"),
        floor(col("doc_id") / 4).cast("long").cast("string"))
      val v = col("doc_id") % 4
      val synthU = when(v === 0, concat(lit("https://Example.COM"), item))
        .when(v === 1, concat(lit("https://www.example.com"), item, lit("/")))
        .when(v === 2, concat(lit("https://example.com:443"), item,
          lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(concat(lit("http://example.com"), item,
          lit("?b=2&a=1#section")))
      val shellPre = "<html><head><title>t</title>" +
        "<style type=\"text/css\">body {color:#fff}</style>" +
        "<script>if (1 < 2) { alert(\"x&y\"); }</script></head>" +
        "<body><!-- nav --><h1>Doc &amp; entity &lt;demo&gt;</h1><p>"
      val shellPost = "</p><div>footer&nbsp;menu</div></body></html>"
      val blockedUrl = concat(lit("https://ads.tracker.net/item-"),
        col("doc_id"))
      val fixture = docs.filter(size(toks) >= 1)
        .select(col("doc_id"), synthPseudo.as("text"))
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, blockedUrl)
            .otherwise(synthU).as("url"),
          concat(lit(shellPre), col("text"), lit(shellPost)).as("html"))
      val blocklist = Seq("tracker.net").toDF("domain")
      for (r <- 1 to 2) {
        val gated = CorpusPipeline.blocklistFilter(fixture, blocklist)
          .filter(col("keep")).drop("host", "blocked_by", "keep")
        time(s"r$r.blocklist.gate")(noop(gated))
        val extracted = gated.select(col("doc_id"), col("url"),
          TextFunctions.htmlExtract(col("html")).as("__crawl_text"))
        time(s"r$r.htmlExtract.scan")(noop(extracted))
        val d = extracted.withColumn("__crawl_text",
          coalesce(col("__crawl_text"), lit("")))
        val hasUrl = col("url").isNotNull && col("url") =!= ""
        val urlKeepers = Dedup.urlDedup(d.filter(hasUrl), "url", "doc_id")
          .select(col("keeper_doc_id").as("doc_id"))
        time(s"r$r.urlDedup.keepers")(noop(urlKeepers))
        val s1 = d.filter(hasUrl).join(urlKeepers, Seq("doc_id"), "left_semi")
          .unionByName(d.filter(!hasUrl))
        val normKeepers = Dedup.normalizedExact(s1, "doc_id", "__crawl_text")
          .select(col("keeper_doc_id").as("doc_id"))
        time(s"r$r.normExact.keepers")(noop(normKeepers))
        val s2 = s1.join(normKeepers, Seq("doc_id"), "left_semi")
        val lined = time(s"r$r.dedupLines.build")(
          Dedup.dedupLines(s2, 2, "doc_id", "__crawl_text"))
        val gatedG = Corpus.gopherRules(
          lined.select(col("doc_id"), col("kept_text").as("text")),
          "doc_id", "text", minTokens = 20)
        time(s"r$r.gopher.gate")(noop(gatedG))
        time(s"r$r.final.join")(noop(lined.join(
          gatedG.select(col("doc_id"), col("n_tokens"), col("keep")),
          Seq("doc_id"))))
        lined.unpersist()
        spark.catalog.clearCache()
        time(s"r$r.crawlPrepareFull.end2end")(noop(
          CorpusPipeline.crawlPrepareFull(fixture, blocklist,
            minTokens = 20)))
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }
    // PROF_PREP=1 — leg-by-leg wall time of the q_corpus_prepare
    // facade (scrub → jaccard dedup CC → decontaminate → split →
    // pack), each leg in execution order (r18 target attribution).
    if (sys.env.get("PROF_PREP").contains("1")) {
      import operators.{CorpusPipeline, Corpus, Dedup, Graph, Sampling, PrefixSum}
      val bench = docs.filter(col("doc_id") < 25).select("doc_id", "text")
      var t = docs.filter(col("doc_id") >= 25)
      t = t.withColumn("text", TextFunctions.scrubPii(col("text")))
      for (r <- 1 to 2) {
        val pairs = time(s"r$r.jaccardPairs")(
          Dedup.ngramJaccardPairs(t, Seq("source"), 0.9))
        val clusters = time(s"r$r.cc")(Graph.connectedComponents(
          t.select(col("doc_id")), pairs.select("a_id", "b_id")))
        val t1 = t.join(clusters.filter(col("id") === col("comp"))
          .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi")
        val verdict = time(s"r$r.decontaminate")(
          Corpus.decontaminate(t1, bench, shingleN = 3, tau = 0.5))
        val t2 = t1.join(verdict.filter(!col("contaminated"))
          .select("doc_id"), Seq("doc_id"), "left_semi")
        val t3 = Sampling.deterministicSplit(t2, "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        val ckpt = time(s"r$r.split+tokcount+ckpt")(
          t3.withColumn("n_tokens",
            TextFunctions.tokenCount(col("text")).cast("long"))
            .localCheckpoint(true))
        time(s"r$r.pack")(
          Sampling.packSequences(ckpt, "n_tokens", "doc_id",
            budget = 512L)
            .write.mode("overwrite").format("noop").save())
        spark.catalog.clearCache()
        time(s"r$r.end2end")(
          CorpusPipeline.prepare(docs.filter(col("doc_id") >= 25),
            CorpusPipeline.Config(
              dedupMethod = "jaccard", dedupThreshold = 0.9,
              dedupBlockingKeys = Seq("source"),
              decontaminateAgainst = Some(bench),
              packBudget = Some(512L)))
            .select("doc_id", "lang", "source", "bucket", "split",
              "n_tokens", "bin_id")
            .write.mode("overwrite").format("noop").save())
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }
    // PROF_JOBS=q_a,q_b — noise-free structural cost of a query:
    // jobs, stages, tasks, shuffle bytes for one full execution
    // (construction actions + the noop sink), counted by listener.
    // Wall time on this host swings 2-5x with co-tenant bursts; these
    // counts do not.
    if (sys.env.contains("PROF_JOBS")) {
      val jobs = new java.util.concurrent.atomic.AtomicLong
      val stages = new java.util.concurrent.atomic.AtomicLong
      val tasks = new java.util.concurrent.atomic.AtomicLong
      val shuffleW = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
            stages.incrementAndGet()
            tasks.addAndGet(sc.stageInfo.numTasks)
            shuffleW.addAndGet(
              sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          }
        })
      for (q <- sys.env("PROF_JOBS").split(",").map(_.trim)
          .filter(_.nonEmpty)) {
        spark.catalog.clearCache()
        Thread.sleep(1000)
        val (j0, s0, t0, w0) =
          (jobs.get, stages.get, tasks.get, shuffleW.get)
        val tt0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - tt0) / 1e9
        Thread.sleep(1500) // drain listener bus
        println(f"[prof] $q: ${dt}%.2f s jobs=${jobs.get - j0} " +
          s"stages=${stages.get - s0} tasks=${tasks.get - t0} " +
          f"shuffleMB=${(shuffleW.get - w0) / 1e6}%.1f")
      }
      spark.stop(); return
    }
    // PROF_EXPLAIN=q_a,q_b — formatted plan of any SparkEntry query
    if (sys.env.contains("PROF_EXPLAIN")) {
      for (q <- sys.env("PROF_EXPLAIN").split(",").map(_.trim)
          .filter(_.nonEmpty)) {
        println(s"===== $q =====")
        SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      }
      spark.stop(); return
    }
    // PROF_ANNR=1 — leg-by-leg wall time of the q_ann_recall harness
    // (the r17 optimization target list): each action the query body
    // runs, timed in its execution order.
    if (sys.env.get("PROF_ANNR").contains("1")) {
      import operators.{Ivf, Pq, Similarity}
      val emb = sources.Tables.load(spark, sfDir, "embeddings")
      val probes = emb.filter(col("vec_id") < 8)
      val exact = time("exact.brute5")(
        operators.CacheOps.materializeAndRelease(
          Similarity.bruteForceTopK(emb, probes, 5)))
      time("lsh.leg")(Similarity.recallAtK(
        Similarity.lshTopK(emb, probes, 5, dim = 64, nBits = 4),
        exact, 5).count())
      time("ivf.leg")(Similarity.recallAtK(
        Ivf.ivfTopK(emb, probes, 5, nCells = 8, nProbe = 3), exact, 5)
        .count())
      val cb = time("train.m4k8")(
        Pq.trainCodebooks(emb, m = 4, k = 8, lloydIters = 1))
      val short10 = time("short10")(
        operators.CacheOps.materializeAndRelease(
          Pq.pqTopK(emb, probes, 10, cb, "label")))
      val labelPairs = emb
        .select(col("label"), col("vec_id").as("neighbor_id"))
        .join(probes.select(col("label"), col("vec_id").as("probe_id")),
          Seq("label"))
        .filter(col("probe_id") =!= col("neighbor_id"))
      val exactPq10 = time("exactPq10.refine")(
        operators.CacheOps.materializeAndRelease(
          Pq.refineTopK(labelPairs, emb, probes, 10)))
      time("pq.adc+refine.legs")(
        Similarity.recallAtK(short10, exactPq10, 5).unionByName(
          Similarity.recallAtK(
            Pq.refineTopK(short10, emb, probes, 5), exactPq10, 5)).count())
      val cbOp = time("train.m16k16")(
        Pq.trainCodebooks(emb, m = 16, k = 16, lloydIters = 1))
      val shortOp = time("shortOp.k50")(
        operators.CacheOps.materializeAndRelease(
          Pq.pqTopK(emb, probes, 50, cbOp, "label")))
      time("pqOp.legs")(
        Similarity.recallAtK(shortOp, exactPq10, 10).unionByName(
          Similarity.recallAtK(
            Pq.refineTopK(shortOp, emb, probes, 10), exactPq10, 10))
          .count())
      val shifted = emb.select(col("vec_id"), col("label"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") +
            (pmod(xxhash64(col("label") * 64 + i), lit(2))
              .cast("double") * 2.0 - 1.0) * 60.0).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val coarse = time("shifted.coarse")(shifted
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c"))
        .orderBy("label").collect()
        .map(r => r.getSeq[Double](1).toIndexedSeq).toIndexedSeq)
      val probesS = shifted.filter(col("vec_id") < 8)
      val exactS = time("exactS.brute10")(
        operators.CacheOps.materializeAndRelease(
          Similarity.bruteForceTopK(shifted, probesS, 10)))
      val cbRawS = time("train.raw.m16k16")(
        Pq.trainCodebooks(shifted, m = 16, k = 16, lloydIters = 1))
      time("ivfpq.raw.leg")(Similarity.recallAtK(
        Pq.ivfPqTopK(shifted, probesS, 10, coarse, cbRawS, nProbe = 1),
        exactS, 10).count())
      val cbResS = time("train.res.m16k16")(
        Pq.trainCodebooks(shifted, m = 16, k = 16, lloydIters = 1,
          coarse = Some(coarse)))
      time("ivfpq.res.leg")(Similarity.recallAtK(
        Pq.ivfPqTopK(shifted, probesS, 10, coarse, cbResS, nProbe = 1,
          residual = true), exactS, 10).count())
      spark.stop(); return
    }
    if (sys.env.get("PROF_USE_OP").contains("1")) {
      time("op.minhashPairs.count")(
        operators.Dedup.minhashPairs(docs, threshold = 0.9,
          numHashes = 32, bands = 2, shingleN = 1).count())
      spark.stop(); return
    }
    val usePersist = sys.env.get("PROF_PERSIST").contains("1")
    var sketch = docs.select(col("doc_id").as("id"),
      array_distinct(transform(TextFunctions.shingles(
        TextFunctions.tokens(col("text")), shingleN),
        s => xxhash64(s))).as("sh"))
      .withColumn("sig", HashFunctions.minhashSignature(col("sh"), numHashes))
    if (usePersist) sketch = sketch.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    stage("sketch.count")(sketch.count())
    val base = sketch.select(col("id"), col("sh"))
    val sigs = sketch.select(col("id"), col("sig"))
    val banded = sigs.select(col("id"),
      explode(HashFunctions.bandKeys(col("sig"), bands,
        numHashes / bands)).as("bk"))
    stage("banded.count")(banded.count())
    val cands = banded.alias("x").join(banded.alias("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
    stage("cands.count")(cands.count())
    val minAgree = math.max(0, math.ceil((threshold - 0.15) * numHashes)).toInt
    val agree = size(filter(
      zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
      m => m))
    val prefiltered = cands
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .filter(agree >= minAgree)
      .select(col("a_id"), col("b_id"))
    stage("prefiltered.count")(prefiltered.count())
    val fin = prefiltered
      .join(base.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(base.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    time("final.count")(fin.count())
    if (sys.env.get("PROF_EXPLAIN").contains("1")) fin.explain("formatted")
    spark.stop()
  }
}
