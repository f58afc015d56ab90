package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import sqlImplicits._

  test("deterministicSplit: buckets in [0,256), stable, fractions sane") {
    val df = (1 to 2000).map(_.toLong).toDF("id")
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val out = Sampling.deterministicSplit(df, "id", splits)
    val rows = out.select("id", "bucket", "split")
      .as[(Long, Long, String)].collect()
    assert(rows.forall { case (_, b, _) => b >= 0 && b < 256 })
    // identical on re-run (content hash, no rand())
    val again = Sampling.deterministicSplit(df, "id", splits)
      .select("id", "bucket", "split").as[(Long, Long, String)].collect()
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)))
    val frac = rows.groupBy(_._3).view.mapValues(_.length / 2000.0).toMap
    assert(math.abs(frac("train") - 0.9) < 0.05)
    assert(frac.keySet == Set("train", "val", "test"))
  }

  test("deterministicSplit boundaries follow bucket thresholds") {
    val df = (1 to 500).map(_.toLong).toDF("id")
    val out = Sampling.deterministicSplit(df, "id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val bad = out.filter(
      (col("bucket") < 230 && col("split") =!= "train") ||
        (col("bucket") >= 230 && col("bucket") < 243 && col("split") =!= "val") ||
        (col("bucket") >= 243 && col("split") =!= "test")).count()
    assert(bad == 0)
  }

  test("packSequences fills budget bins greedily by length desc") {
    val df = Seq((1L, 300L), (2L, 300L), (3L, 200L), (4L, 100L), (5L, 700L))
      .toDF("id", "n")
    val out = Sampling.packSequences(df, "n", "id", budget = 512L)
      .select("id", "bin_id").as[(Long, Long)].collect().toMap
    // order: 5(700) 1(300) 2(300) 3(200) 4(100); running-own: 0,700,1000,1300,1500
    assert(out == Map(5L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
  }

  test("packSequences matches a local greedy reference on random input") {
    val rnd = new scala.util.Random(97)
    (1 to 10).foreach { trial =>
      val budget = rnd.nextInt(400) + 100L
      val items = (1 to rnd.nextInt(80) + 5)
        .map(i => (i.toLong, rnd.nextInt(300) + 1L))
      val df = items.toDF("id", "n")
      val got = Sampling.packSequences(df, "n", "id", budget)
        .select("id", "bin_id").as[(Long, Long)].collect().toMap
      // local reference: sort (len desc, id), running sum, floor
      var running = 0L
      val expected = items.sortBy { case (id, n) => (-n, id) }.map {
        case (id, n) =>
          val bin = (running / budget, running += n)._1
          id -> bin
      }.toMap
      assert(got == expected, s"trial $trial budget=$budget")
    }
  }

  test("packSequences rejects a budget below 1") {
    // 0 would fail mid-job on the bin division, and a negative
    // budget would give negative bin ids
    val df = Seq((1L, 3L), (2L, 5L)).toDF("id", "n")
    for (budget <- Seq(0L, -5L)) {
      val e = intercept[IllegalArgumentException](
        Sampling.packSequences(df, "n", "id", budget))
      assert(e.getMessage.contains(s"got $budget"))
    }
  }

  test("temperatureSample: min group kept whole, big groups sqrt-damped") {
    val df = ((1 to 1600).map(i => (i.toLong, "big")) ++
      (2001 to 2100).map(i => (i.toLong, "small")))
      .toDF("id", "grp")
    val out = Sampling.temperatureSample(df, "grp", "id")
    val kept = out.groupBy("grp").count()
      .as[(String, Long)].collect().toMap
    // smallest group: threshold 65536 → every row survives
    assert(kept("small") == 100L)
    // big group: keep rate sqrt(100/1600) = 1/4 → E=400, md5 buckets
    // are near-uniform so allow a generous band
    assert(kept("big") > 300L && kept("big") < 500L)
    // deterministic: identical on re-run
    val again = Sampling.temperatureSample(df, "grp", "id")
      .select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
  }

  test("temperatureSample keeps null-group rows (null-safe join)") {
    val df = ((1 to 50).map(i => (i.toLong, Option("a"))) ++
      (101 to 150).map(i => (i.toLong, Option.empty[String])))
      .toDF("id", "grp")
    val out = Sampling.temperatureSample(df, "grp", "id")
    // both groups have equal size → threshold 65536 → nothing dropped,
    // including the rows whose group key is NULL
    assert(out.count() == 100L)
    assert(out.filter(col("grp").isNull).count() == 50L)
  }

  test("capPerGroup keeps first n per group in order") {
    val df = Seq(
      ("a", 3), ("a", 1), ("a", 2), ("a", 4),
      ("b", 7), ("b", 5)).toDF("g", "v")
    val out = Sampling.capPerGroup(df, Seq("g"), Seq(col("v").asc), 2)
      .as[(String, Int)].collect().toSet
    assert(out == Set(("a", 1), ("a", 2), ("b", 5), ("b", 7)))
  }

  test("tokenBudgetSample keeps the hash-order prefix per group") {
    val df = (1 to 60).map(i =>
      (i.toLong, s"g${i % 3}", 10L + (i % 7))).toDF("id", "g", "n")
    val out = Sampling.tokenBudgetSample(df, "g", "id", "n", budget = 50L)
      .as[(Long, String, Long)].collect()
    // reference: per group, sort by (md5 hex of id, id), keep while
    // the running total BEFORE the doc is < budget
    def hex(id: Long) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val expect = (1 to 60).map(i => (i.toLong, s"g${i % 3}", 10L + (i % 7)))
      .groupBy(_._2).values.flatMap { rows =>
        val sorted = rows.sortBy(r => (hex(r._1), r._1))
        val cum = sorted.scanLeft(0L)(_ + _._3)
        sorted.zip(cum).collect { case (r, before) if before < 50L => r }
      }.toSet
    assert(out.toSet == expect)
    // every group keeps at least one doc and stays under budget + max doc
    val perGroup = out.groupBy(_._2).view.mapValues(_.map(_._3).sum)
    assert(perGroup.keySet == Set("g0", "g1", "g2"))
    assert(perGroup.values.forall(t => t < 50L + 16L))
  }

  test("tokenBudgetSample: a first doc larger than budget is still kept") {
    val df = Seq((1L, "g", 100L), (2L, "g", 5L)).toDF("id", "g", "n")
    val out = Sampling.tokenBudgetSample(df, "g", "id", "n", budget = 10L)
      .as[(Long, String, Long)].collect().map(_._1).toSet
    // md5("1") = c4ca… < md5("2") = c81e… → doc 1 leads the order:
    // kept (starts at 0 < 10) and fills the budget; doc 2 starts at
    // 100 ≥ 10 and is dropped
    assert(out == Set(1L))
  }

  test("exportShards: uniform-ish shards, dense deterministic ranks") {
    val df = (1 to 1000).map(_.toLong).toDF("id")
    val out = Sampling.exportShards(df, "id", nShards = 8)
      .select("id", "shard", "shard_rank")
      .as[(Long, Int, Long)].collect()
    assert(out.forall { case (_, s, _) => s >= 0 && s < 8 })
    // ranks are dense 1..count within each shard
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length))
    }
    // content-hash assignment: identical on re-run
    val again = Sampling.exportShards(df, "id", nShards = 8)
      .select("id", "shard", "shard_rank")
      .as[(Long, Int, Long)].collect()
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
    // no shard starved at this size
    assert(out.groupBy(_._2).size == 8)
  }

  test("exportManifest: totals, dense ranks, checksum catches a drop") {
    val df = (1 to 500).map(i => (i.toLong, (i % 7 + 1).toLong))
      .toDF("id", "n_tokens")
    val man = Sampling.exportManifest(df, "id", nShards = 4,
      nTokensCol = Some("n_tokens"))
      .as[(Int, Long, Long, Boolean, Long)].collect()
    assert(man.length == 4)
    assert(man.map(_._2).sum == 500L)
    assert(man.map(_._3).sum ==
      (1 to 500).map(i => (i % 7 + 1).toLong).sum)
    assert(man.forall(_._4), "a shard lost rank density")
    // the order-free checksum moves when a row is dropped
    val man2 = Sampling.exportManifest(df.filter(col("id") =!= 250L),
      "id", nShards = 4, nTokensCol = Some("n_tokens"))
      .as[(Int, Long, Long, Boolean, Long)].collect()
    val diff = man.map(r => r._1 -> r._5).toMap.toSet diff
      man2.map(r => r._1 -> r._5).toMap.toSet
    assert(diff.size == 1, "dropping one id must change exactly one shard's checksum")
    // no-token form: n_tokens null, everything else intact
    val noTok = Sampling.exportManifest(df.select("id"), "id", 4)
    assert(noTok.filter(col("n_tokens").isNotNull).count() == 0)
    assert(noTok.agg(sum("n_rows")).as[Long].head() == 500L)
  }

  test("writeShards: per-shard dirs, bounded files, faithful roundtrip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val df = (1 to 400).map(i => (i.toLong, s"payload_$i")).toDF("id", "txt")
    Sampling.writeShards(df, "id", nShards = 4, path = dir,
      maxRecordsPerFile = 25L)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == 4)
    // every data file respects the record bound
    for (sd <- shardDirs;
         pf <- sd.listFiles().filter(_.getName.endsWith(".parquet"))) {
      val n = spark.read.parquet(pf.getAbsolutePath).count()
      assert(n <= 25L, s"${pf.getName}: $n rows > maxRecordsPerFile")
    }
    val back = spark.read.parquet(dir)
      .select("id", "txt", "shard", "shard_rank")
      .as[(Long, String, Int, Long)].collect().sortBy(_._1)
    val expect = Sampling.exportShards(df, "id", 4)
      .select("id", "txt", "shard", "shard_rank")
      .as[(Long, String, Int, Long)].collect().sortBy(_._1)
    assert(back.sameElements(expect))
  }

  test("stratifiedSample: exact totalN, largest-remainder allocation") {
    // strata 60/25/15 of 100 rows; totalN=7 → quotas 4.2/1.75/1.05,
    // bases 4/1/1, one leftover seat → largest remainder (b: .75)
    val df = ((1 to 60).map((_, "a")) ++ (61 to 85).map((_, "b")) ++
      (86 to 100).map((_, "c"))).map { case (i, g) => (i.toLong, g) }
      .toDF("id", "g")
    val out = Sampling.stratifiedSample(df, "g", "id", 7L)
      .select("id", "g").as[(Long, String)].collect()
    assert(out.length == 7)
    val per = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(per == Map("a" -> 4, "b" -> 2, "c" -> 1))
    // deterministic: the same prefix on re-run
    val again = Sampling.stratifiedSample(df, "g", "id", 7L)
      .select("id", "g").as[(Long, String)].collect()
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("stratifiedSample edge cases: totalN = N keeps all, 0 keeps none") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "g")
    assert(Sampling.stratifiedSample(df, "g", "id", 3L).count() == 3)
    assert(Sampling.stratifiedSample(df, "g", "id", 0L).count() == 0)
    // reserved internal names are rejected loudly
    val clash = Seq((1L, "x", 9L)).toDF("id", "g", "__alloc")
    val e = intercept[IllegalArgumentException](
      Sampling.stratifiedSample(clash, "g", "id", 1L))
    assert(e.getMessage.contains("__alloc"))
  }

  test("stratifiedSample allocation never exceeds a stratum size") {
    // heavy skew: 97/2/1 split, totalN=50 → a gets 48.5 → 48+seat,
    // b 1, c 0|1; no stratum may be asked for more rows than it has
    val df = ((1 to 97).map((_, "a")) ++ Seq((98, "b"), (99, "b"),
      (100, "c"))).map { case (i, g) => (i.toLong, g) }.toDF("id", "g")
    val out = Sampling.stratifiedSample(df, "g", "id", 50L)
      .select("g").as[String].collect()
    assert(out.length == 50)
    val per = out.groupBy(identity).view.mapValues(_.length).toMap
    assert(per.getOrElse("b", 0) <= 2 && per.getOrElse("c", 0) <= 1)
  }

  test("capPerGroupTopK == capPerGroup (under/over quota, score ties)") {
    val rnd = new scala.util.Random(23)
    // group sizes straddle n=7; scores collide heavily so the
    // (score, id) tie-break is exercised
    val df = (1L to 300L).map { i =>
      (i, s"g${rnd.nextInt(6)}", rnd.nextInt(4).toLong)
    }.toDF("id", "g", "score")
    val expect = Sampling.capPerGroup(df, Seq("g"),
        Seq(col("score").asc, col("id").asc), 7)
      .select("id").as[Long].collect().sorted.toSeq
    val got = Sampling.capPerGroupTopK(df, Seq("g"), col("score"), "id", 7)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == expect)
    // all original columns survive the semi join
    assert(Sampling.capPerGroupTopK(df, Seq("g"), col("score"), "id", 7)
      .columns.toSeq == Seq("id", "g", "score"))
  }

  test("capPerGroupTopK plan: no window sort, bounded agg + semi join") {
    val df = (1L to 50L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    val p = Sampling.capPerGroupTopK(df, Seq("g"), col("id"), "id", 5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"cap degenerated to a window sort:\n$p")
    assert(p.contains("partial_bounded_top_k"),
      s"k-capped aggregate not map-side partial:\n$p")
    assert(p.contains("LeftSemi"), s"keeper join not a semi join:\n$p")
  }

  // ---- groupAwareSplit (leakage-safe splits) ----

  test("groupAwareSplit: a duplicate cluster never straddles splits") {
    // 400 clusters of 1-4 copies; cluster key = payload hash stand-in
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).flatMap { c =>
      (0 until rnd.nextInt(4) + 1).map(j => (c * 10L + j, s"cluster_$c"))
    }
    val df = rows.toDF("id", "gk")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.groupAwareSplit(df, "gk", "id", splits)
      .select("id", "gk", "rep_id", "split")
      .as[(Long, String, Long, String)].collect()
    assert(out.length == rows.length)
    // one split per group, rep = min id
    out.groupBy(_._2).foreach { case (gk, members) =>
      assert(members.map(_._4).distinct.length == 1, s"$gk straddles")
      assert(members.forall(_._3 == members.map(_._1).min), s"$gk rep")
    }
    // the naive per-row split DOES straddle some multi-member group —
    // the leakage this operator exists to close
    val naive = Sampling.deterministicSplit(df, "id", splits)
      .select("id", "gk", "split").as[(Long, String, String)].collect()
    val straddled = naive.groupBy(_._2).values
      .count(ms => ms.map(_._3).distinct.length > 1)
    assert(straddled > 0, "fixture too weak: naive split never straddled")
    // and the split is keyed on rep_id exactly like deterministicSplit
    val repSplit = Sampling.deterministicSplit(
      out.map(r => r._3 -> 0).toSeq.toDF("rep", "x"), "rep", splits)
      .select("rep", "split").as[(Long, String)].collect().toMap
    assert(out.forall(r => repSplit(r._3) == r._4))
  }

  // ---- matchDistribution (target-mix down-sampling) ----

  private def bucket16(id: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 4), 16)
  }

  test("matchDistribution matches the sequential threshold reference") {
    val rnd = new scala.util.Random(113)
    val rows = (1 to 1200).map(i =>
      (i.toLong, s"g${rnd.nextInt(5)}")) // 5 groups, one untargeted
    val targets = Seq("g0" -> 0.5, "g1" -> 0.25, "g2" -> 0.15, "g3" -> 0.1)
    val got = Sampling.matchDistribution(
      rows.toDF("id", "g"), "g", "id", targets)
      .select("id", "g").as[(Long, String)].collect().toSet
    // reference: same double tree, same md5 buckets
    val n = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val q = targets.map { case (g, t) => g -> n(g).toDouble / t }.toMap
    val s = q.values.min
    val thresh = targets.map { case (g, t) =>
      g -> math.max(1L, math.floor(s * t / n(g).toDouble * 65536).toLong)
    }.toMap
    val expect = rows.filter { case (id, g) =>
      thresh.contains(g) && bucket16(id) < thresh(g)
    }.toSet
    assert(got == expect)
    // the untargeted group is gone entirely
    assert(!got.exists(_._2 == "g4"))
    // kept mix tracks the target within md5-bucket noise
    val kept = got.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val tot = kept.values.sum
    targets.foreach { case (g, t) =>
      assert(math.abs(kept(g) / tot - t) < 0.08, s"$g off-target")
    }
  }

  test("matchDistribution: binding group kept (nearly) whole; guards") {
    val rows = (1 to 100).map(i => (i.toLong, "small")) ++
      (1000 to 1899).map(i => (i.toLong, "big"))
    // small/0.5 binds (q=200 vs big 1125): small keeps ~100%
    val out = Sampling.matchDistribution(
      rows.toDF("id", "g"), "g", "id", Seq("small" -> 0.5, "big" -> 0.5))
      .select("id", "g").as[(Long, String)].collect()
    val kept = out.groupBy(_._2).view.mapValues(_.size).toMap
    assert(kept("small") >= 98) // ≤ 1/65536 float-floor distortion
    assert(math.abs(kept("big") - 100) < 30) // ~rate 100/900
    intercept[IllegalArgumentException](Sampling.matchDistribution(
      rows.toDF("id", "g"), "g", "id", Seq("a" -> 0.5, "b" -> 0.6)))
    intercept[IllegalArgumentException](Sampling.matchDistribution(
      rows.toDF("id", "g"), "g", "id", Seq("a" -> 1.0, "a" -> 0.0)))
  }

  // ---- weightedSample (Efraimidis–Spirakis, exact max-of-w-uniforms) ----

  private def md5hexOf(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The sequential A-ES reference: key = first 15 hex nibbles of
    * max_{j=1..w} md5(id:j), selection = row_number over
    * (key desc, id asc) <= k — the exact contract weightedSample
    * distributes. */
  private def esReference(rows: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val keyed = rows.collect { case (id, w) if w >= 1 =>
      val hx = (1L to w).map(j => md5hexOf(s"$id:$j")).max
      id -> java.lang.Long.parseLong(hx.substring(0, 15), 16)
    }
    keyed.sortBy { case (id, key) => (-key, id) }.take(k).toMap
  }

  test("weightedSample matches the sequential A-ES reference bit-for-bit") {
    val rnd = new scala.util.Random(151)
    (1 to 5).foreach { trial =>
      val rows = (1 to rnd.nextInt(120) + 30)
        .map(i => (i.toLong, rnd.nextInt(50) + 1L))
      val k = rnd.nextInt(15) + 3
      val got = Sampling.weightedSample(rows.toDF("id", "w"), "id", "w", k)
        .filter(col("selected"))
        .select("id", "es_key").as[(Long, Long)].collect().toMap
      assert(got == esReference(rows, k), s"trial $trial k=$k")
    }
  }

  test("weightedSample: exact size k, partition-layout independent") {
    val df = (1 to 300).map(i => (i.toLong, (i % 17) + 1L)).toDF("id", "w")
    val a = Sampling.weightedSample(df.repartition(1), "id", "w", 25L)
      .filter(col("selected")).select("id").as[Long].collect().toSet
    val b = Sampling.weightedSample(df.repartition(13), "id", "w", 25L)
      .filter(col("selected")).select("id").as[Long].collect().toSet
    assert(a.size == 25 && a == b)
  }

  test("weightedSample: null / sub-1 weights never sampled; w=1 is one draw") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(0L)), (4L, Some(-3L)),
      (5L, Some(1L))).toDF("id", "w")
    val out = Sampling.weightedSample(df, "id", "w", 10L)
      .select("id", "es_key", "selected").as[(Long, Option[Long], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(Seq(2L, 3L, 4L).forall(id => out(id)._2.isEmpty && !out(id)._3))
    assert(out(1L)._3 && out(5L)._3)
    // w = 1 degenerates to the unweighted single content-hash draw
    val expected1 = java.lang.Long.parseLong(
      md5hexOf("5:1").substring(0, 15), 16)
    assert(out(5L)._2.contains(expected1))
  }

  test("weightedSample: a dominant weight is (content-)deterministically in") {
    // one row carries weight 5000 vs 199 weight-1 rows: its key is the
    // max of 5000 uniforms — with these concrete ids the draw is fixed
    val rows = (1 to 200).map(i => (i.toLong, if (i == 7) 5000L else 1L))
    val got = Sampling.weightedSample(rows.toDF("id", "w"), "id", "w", 20L)
      .filter(col("selected")).select("id").as[Long].collect().toSet
    assert(got.contains(7L))
    assert(got == esReference(rows, 20).keySet)
  }

  test("weightedSamplePerGroup matches the per-group A-ES reference") {
    val rnd = new scala.util.Random(211)
    val rows = (1 to 150).map(i =>
      (i.toLong, s"g${i % 3}", rnd.nextInt(40) + 1L))
    val got = Sampling.weightedSamplePerGroup(
      rows.toDF("id", "g", "w"), "g", "id", "w", k = 7L)
      .filter(col("selected"))
      .select("id", "g", "es_key").as[(Long, String, Long)].collect()
    // reference: 52-bit key, per-group (key desc, id asc) take 7
    val keyed = rows.map { case (id, g, w) =>
      val hx = (1L to w).map(j => md5hexOf(s"$id:$j")).max
      (id, g, java.lang.Long.parseLong(hx.substring(0, 13), 16))
    }
    val expect = keyed.groupBy(_._2).values.flatMap { ms =>
      ms.sortBy { case (id, _, key) => (-key, id) }.take(7)
    }.toSet
    assert(got.toSet == expect)
    // exactly 7 per group (every group has >= 7 eligible rows)
    assert(got.groupBy(_._2).values.forall(_.length == 7))
  }

  test("weightedSample: weight above maxDraws fails loudly") {
    val df = Seq((1L, 10L), (2L, 999L)).toDF("id", "w")
    val e = intercept[Exception] {
      Sampling.weightedSample(df, "id", "w", 1L, maxDraws = 100L)
        .filter(col("selected")).collect()
    }
    assert(e.getMessage != null)
    // and the reserved-name guard trips before any job runs
    intercept[IllegalArgumentException] {
      Sampling.weightedSample(
        Seq((1L, 1L)).toDF("id", "es_key"), "id", "es_key", 1L)
    }
  }
}
