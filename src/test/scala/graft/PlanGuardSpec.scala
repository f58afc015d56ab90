package graft

/** Plan-shape guards over the REAL driver queries: the scale claims
  * in SURVEY §6 (pushdown, pruning, narrow scans) are asserted here
  * against the executed plans, so an optimizer-defeating refactor
  * fails tests instead of silently shipping a full-scan plan.
  */
class PlanGuardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("q_filter_eq pushes the equality predicate into the parquet scan") {
    val p = plan("q_filter_eq")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(l_returnflag,R)"),
      s"predicate not pushed:\n$p")
  }

  test("q_multiway_merge prunes lineitem to the referenced columns") {
    val p = plan("q_multiway_merge")
    // the 16-col lineitem scan must read only join key + measure
    assert(p.contains("l_orderkey") && p.contains("l_extendedprice"))
    assert(!p.contains("l_comment") && !p.contains("l_shipmode"),
      s"unreferenced lineitem columns not pruned:\n$p")
  }

  test("q_tfidf_top_terms keeps the map-side rank-limit (WindowGroupLimit)") {
    val p = plan("q_tfidf_top_terms")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k no longer pruned before the window exchange:\n$p")
  }

  test("q_join_broadcast_dims broadcasts both dimension tables") {
    val p = plan("q_join_broadcast_dims")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"dimension joins not broadcast:\n$p")
  }

  test("q_chunk_tokens runs shuffle-free inside the scan stage") {
    val p = plan("q_chunk_tokens")
    assert(!p.contains("Exchange"),
      s"chunker grew a shuffle — it must stay a scan-stage generator:\n$p")
    assert(p.contains("Generate"), s"explode generator missing:\n$p")
  }

  test("q_bpe_encode_bytes: scan-stage encode, one aggregation exchange") {
    val p = plan("q_bpe_encode_bytes")
    assert(p.contains("longest_match_encode") || p.contains("Generate"),
      s"trie encode generator missing:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"byte encode must be scan + ONE count exchange:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q_wordpiece_encode: scan-stage encode, one aggregation exchange") {
    val p = plan("q_wordpiece_encode")
    assert(p.contains("wordpiece_encode") || p.contains("Generate"),
      s"wordpiece encode generator missing:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"wordpiece encode must be scan + ONE count exchange:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q_wordpiece_pair_scores: marginals join back as broadcasts") {
    val p = plan("q_wordpiece_pair_scores")
    // the symbol-marginal table is alphabet-sized — both join-backs
    // must broadcast; a sort-merge join here would shuffle the
    // pair table twice for a table of a few hundred rows
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"marginal joins not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"SMJ crept into alphabet-sized joins:\n$p")
  }

  test("asof directions: one key exchange, no range join anywhere") {
    for (q <- Seq("q_asof_forward", "q_asof_nearest")) {
      val p = plan(q)
      assert(!p.contains("Join"),
        s"$q grew a join — the union-window form must not:\n$p")
      // the union's two scans may each exchange into the window key;
      // what must NOT appear is a per-pair range explosion or a
      // second window partitioning
      assert("hashpartitioning\\(__k".r.findAllIn(p).toSeq.nonEmpty,
        s"$q lost the single window key partitioning:\n$p")
    }
  }

  test("q_span_corrupt is one codegen'd projection, zero exchanges") {
    val p = plan("q_span_corrupt")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"span corruption must run at scan throughput:\n$p")
  }

  test("q_badwords_profile: one automaton pass in the scan stage") {
    val p = plan("q_badwords_profile")
    assert(p.contains("multi_pattern_count"),
      s"AC expression missing — fell back to per-pattern scans?\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"content filter must be a pure scan projection:\n$p")
  }

  test("q_corpus_drift: top-20 via TakeOrdered, totals broadcast") {
    val p = plan("q_corpus_drift")
    // the top-k must be per-partition heaps, never a global sort of
    // the vocab table; the 1-row totals attach as broadcasts
    assert(p.contains("TakeOrderedAndProject"),
      s"drift top-k fell back to a global sort:\n$p")
    assert("BroadcastNestedLoopJoin|BroadcastExchange".r
      .findAllIn(p).nonEmpty, s"totals not broadcast:\n$p")
  }

  test("q_tokenize_roundtrip_bytes: pure scan stage, zero exchanges") {
    val p = plan("q_tokenize_roundtrip_bytes")
    assert(!p.contains("Exchange"),
      s"the roundtrip is per-row column work — a shuffle appeared:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q_langid_model transform: one per-doc aggregation, no model join") {
    val p = plan("q_langid_model")
    // the fit collects driver-side before this plan exists; the
    // TRANSFORM is a pure scan-stage projection — the literal tick
    // table + per-row fold mean no model join, no per-class row
    // blowup, and no aggregation at all (one output row per doc)
    assert(!p.contains("Join"), s"a model join crept back in:\n$p")
    assert(!p.contains("Exchange"),
      s"transform must be shuffle-free (per-row fold + argmax):\n$p")
    assert(p.contains("char_bigram_buckets"),
      s"one-walk bigram expression missing:\n$p")
  }

  test("q_corpus_mix never shuffles the corpus side") {
    val p = plan("q_corpus_mix")
    // thresholds reach the corpus scan via broadcast joins; the only
    // exchanges allowed are on the tiny per-group count/min tables
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1,
      s"threshold table not broadcast back onto the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join appeared:\n$p")
  }

  test("q_dedup_embed_cos joins on (block, tile, tile), never the block key alone") {
    val p = plan("q_dedup_embed_cos")
    // the exact cosine self-join must carry the triangle-tile columns
    // in its EQUALITY keys — a join keyed on blk alone funnels each
    // block into one task, the (n/|blocks|)² straggler at 100 TB
    assert("""Join \[[^\[\]]*t#\d+, u#\d+\]""".r.findFirstIn(p).isDefined,
      s"tile columns missing from the self-join keys:\n$p")
  }

  test("q_variants_flatten: explode + merge-down in one exchange, no joins") {
    val p = plan("q_variants_flatten")
    assert(!p.contains("Join"),
      s"payload flatten must stay a generate+aggregate plan:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"more exchanges than the single merge-down agg needs:\n$p")
  }

  test("q_window_sliding is one aggregation exchange, no self-join") {
    val p = plan("q_window_sliding")
    assert(!p.contains("Join"), s"hopping windows must not self-join:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"more exchanges than the single agg needs:\n$p")
  }

  test("q_dssp_full_chain: all four windows ride ONE file partition exchange") {
    // lag/lead, the reset-group running sum and the in-group counter
    // all partition by file (or a prefix-compatible refinement), so
    // the whole recode must plan as windows over a single exchange —
    // a second exchange means a window stopped reusing the file
    // partitioning and the per-file scan became a multi-shuffle job
    val p = plan("q_dssp_full_chain")
    assert(!p.contains("Join"), s"the recode must not join:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"windows stopped sharing the file_id partitioning:\n$p")
  }

  test("q_dedup_simhash: candidate join keyed on the band slice, never all-pairs") {
    val p = plan("q_dedup_simhash")
    assert("""Join \[bk#\d+\], \[bk#\d+\]""".r.findFirstIn(p).isDefined,
      s"band key missing from the join's equality keys:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"hamming join degenerated to all-pairs:\n$p")
  }

  test("q_dedup_incremental: asymmetric probe keyed on the band key, never all-pairs") {
    val p = plan("q_dedup_incremental")
    assert("""Join \[bk#\d+\], \[bk#\d+\]""".r.findFirstIn(p).isDefined,
      s"band key missing from the probe join's equality keys:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"incremental probe degenerated to all-pairs:\n$p")
  }

  test("q_sifts_residues: both enrichments broadcast, residue side never shuffles for them") {
    val p = plan("q_sifts_residues")
    // addRegions (packed interval array) and addDbs (listDB versions)
    // both join broadcast; a SortMergeJoin on either key would move
    // the residue fact side for metadata-sized tables
    // the parse-side plan's only joins ARE the two enrichments
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"expected both enrichment joins broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"an enrichment join shuffled the residue side:\n$p")
  }

  test("q_sifts_regions: region enrichment is a broadcast equi-join") {
    val p = plan("q_sifts_regions")
    // the packed interval table joins broadcast on the accession key;
    // a shuffle (or range-join) here would move the residue fact side
    // for metadata-sized regions
    val accLines = p.linesIterator.filter(_.contains("__r_acc")).toSeq
    assert(accLines.exists(_.contains("BroadcastHashJoin")),
      s"packed regions not broadcast:\n$p")
    assert(!accLines.exists(_.contains("SortMergeJoin")),
      s"region join shuffled the residue side:\n$p")
  }

  test("q_annotation_agg: one explode + one aggregation exchange, no joins") {
    val p = plan("q_annotation_agg")
    // the reference's driver-side per-residue row loop must stay a
    // Generate (explode of sequence()) feeding ONE hash aggregation;
    // a second exchange or any join means the expansion stopped
    // being a single distributed pass
    assert(p.contains("Generate"), s"sequence explode missing:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"annotation aggregation must be exactly one shuffle:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("q_sifts_wide: the source pivot is ONE aggregation exchange") {
    val p = plan("q_sifts_wide")
    // conditional-max pivot: however many sources widen, the plan
    // must stay a single aggregation over (entityId, resnum) with
    // map-side partials — exactly one shuffle exchange (var-length
    // string maxes put Spark on SortAggregate; the partial/final
    // split is what matters). The synthesis cross-join with the
    // 6-row resnum dim must broadcast, never shuffle.
    assert(p.contains("Aggregate"), s"no aggregation:\n$p")
    assert(p.contains("partial_max"), s"map-side combine missing:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"wide pivot must be exactly one shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"synthesis join shuffled:\n$p")
  }

  test("q_table_merger: dimension legs broadcast; only the fact stitch may shuffle") {
    val p = plan("q_table_merger")
    // dssp/validation/annotation/variants are per-residue dimension
    // sides → all four must be BroadcastHashJoins. The final
    // mmcif ⋈ sifts stitch is fact ⋈ fact: a shuffle pair there is
    // the correct conservative static plan (AQE demotes it to
    // broadcast at runtime when the sifts side is small), so allow
    // exactly that one SortMergeJoin and its two exchanges.
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"dimension merge legs not broadcast:\n$p")
    assert("SortMergeJoin".r.findAllIn(p).length <= 1,
      s"a dimension leg shuffled the fact side:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"more shuffles than the single fact stitch:\n$p")
  }

  test("q_gopher_rules runs shuffle-free in the scan stage") {
    val p = plan("q_gopher_rules")
    assert(!p.contains("Exchange"),
      s"the rule gate must stay a pure scan-stage column block:\n$p")
  }

  test("q_match_distribution: thresholds broadcast; the corpus never shuffles") {
    val p = plan("q_match_distribution")
    assert(p.contains("BroadcastHashJoin"),
      s"threshold table not broadcast onto the corpus:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-side shuffle join appeared:\n$p")
  }

  test("q_bitext_mine: candidate top-k map-side bounded; no shuffle joins anywhere") {
    val p = plan("q_bitext_mine")
    assert(p.contains("partial_bounded_top_k"),
      s"candidate generation lost the k-capped aggregate:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"margin attach degenerated to a shuffle join:\n$p")
    assert(!p.contains("Window"), s"a window sort crept in:\n$p")
  }

  test("q_zorder_layout: 1-row bounds broadcast; the fact side shuffles only for the tile agg") {
    val p = plan("q_zorder_layout")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"min/max bounds not broadcast back onto the scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"fact-side shuffle join appeared:\n$p")
    // the z-value fold and tile id are scan-stage: the only fact-side
    // exchange is the <= 4^tileBits-key aggregation
    assert(p.contains("HashAggregate"), s"tile stats not hash-agg:\n$p")
  }

  test("q_heavy_hitters: candidates broadcast-semi onto the stream, no vocab shuffle join") {
    val p = plan("q_heavy_hitters")
    // the confirm pass probes the broadcast candidate set; the token
    // stream must never shuffle-join, and the only exchanges are the
    // candidate distinct + the bounded confirm aggregation (plus the
    // two 1-row broadcasts)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate set not a broadcast semi join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"vocabulary-wide shuffle join appeared:\n$p")
  }

  test("q_dedup_normalized: the distinct-agg pair of exchanges, no joins") {
    val p = plan("q_dedup_normalized")
    // count_distinct(text) plans as the standard two-phase distinct
    // aggregate: partial agg on (hash, text) → exchange → merge →
    // final agg on hash → exchange. Both phases are map-side
    // combined; the second exchange carries one row per distinct
    // (hash, text) — that pair IS the aggregation, so 2 exchanges is
    // the floor, not a regression.
    assert("Exchange".r.findAllIn(p).length == 2,
      s"normalized dedup grew beyond the distinct-agg exchange pair:\n$p")
    assert(!p.contains("Join"), s"no join belongs here:\n$p")
  }

  test("q_bm25_topk broadcasts the query-term probe onto the tf index") {
    val p = plan("q_bm25_topk")
    // the (query term x df) table broadcasts; the corpus never
    // shuffle-joins against the query side
    assert(p.contains("BroadcastHashJoin"),
      s"query-term probe not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k must prune map-side before the per-query window:\n$p")
  }

  test("q_stratified_sample broadcasts the allocation; corpus shuffles once on the stratum key") {
    val p = plan("q_stratified_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"allocation table not broadcast back onto the corpus:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-side shuffle join appeared:\n$p")
  }

  test("q_quality_classifier broadcasts the class-odds model onto the tf table") {
    val p = plan("q_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      s"model probe not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must never shuffle-join against the model:\n$p")
  }

  test("q_dsir_weights broadcasts the bucket model; no corpus-side shuffle join") {
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket model not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must never shuffle-join against the model:\n$p")
  }

  test("q_ccnet_buckets: lm model broadcasts; the lang join keys on doc id") {
    val p = plan("q_ccnet_buckets")
    // lmScore's count-table probe broadcasts; only the doc-keyed
    // lang-recovery join and the tercile window may shuffle. ONE
    // BroadcastNestedLoopJoin is expected since r13: the one-row
    // totals aggregate rides onto the vocab rows as a broadcast
    // cross join (the de-windowed total attach) — anything beyond
    // that single 1-row attach is an unkeyed join regression
    assert(p.contains("BroadcastHashJoin"),
      s"lm count-table probe not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unkeyed join appeared:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"more than the one-row totals attach:\n$p")
  }

  // walk the FINAL physical plan only (through adaptive stages and
  // cached relations) — the treeString would double-count joins via
  // AQE's "Initial Plan" sections
  private def finalNodes(p: org.apache.spark.sql.execution.SparkPlan)
  : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val children: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case other => other.children
    }
    p +: children.flatMap(finalNodes)
  }

  test("q_bigram_lm_score: both models broadcast; one 1-row totals attach") {
    val nodes = finalNodes(SparkEntry.queries("q_bigram_lm_score")(spark, sf)
      .queryExecution.executedPlan).map(_.nodeName)
    // bigram + backoff-unigram probes are broadcast equi-joins; the
    // only unkeyed join allowed is the single one-row totals cross
    assert(nodes.count(_ == "BroadcastHashJoin") >= 2,
      s"bigram/unigram model probes not broadcast:\n${nodes.mkString(",")}")
    assert(!nodes.exists(n => n == "SortMergeJoin" || n == "ShuffledHashJoin"),
      s"the corpus must never shuffle-join against the model:\n${nodes.mkString(",")}")
    assert(nodes.count(_ == "BroadcastNestedLoopJoin") <= 1 &&
      !nodes.contains("CartesianProduct"),
      s"more than the one-row totals attach:\n${nodes.mkString(",")}")
  }

  test("q_blocklist_filter: zero corpus shuffles, suffix joins broadcast") {
    val exec = SparkEntry.queries("q_blocklist_filter")(spark, sf)
      .queryExecution.executedPlan
    val nodes = finalNodes(exec)
    val names = nodes.map(_.nodeName)
    // the whole filter is fixed-depth broadcast left joins on the
    // host's label suffixes — no explode, no re-aggregation by doc,
    // no shuffle of the corpus (the only exchanges are the tiny
    // blocklist's own distinct aggregations inside broadcast builds)
    assert(names.count(_ == "BroadcastHashJoin") ==
      graft.operators.CorpusPipeline.blocklistMaxLabels,
      s"expected one broadcast join per suffix depth:\n${names.mkString(",")}")
    assert(!names.exists(n => n == "SortMergeJoin" || n == "ShuffledHashJoin"),
      s"corpus-side shuffle join appeared:\n${names.mkString(",")}")
    assert(!names.contains("Generate"),
      s"suffix probe degenerated to an explode:\n${names.mkString(",")}")
    assert(!nodes.exists(n => n.nodeName == "HashAggregate" &&
      n.toString.contains("keys=[doc_id")),
      s"a per-doc re-aggregation appeared:\n$exec")
  }

  test("q_semdedup: candidates equi-join on the cell id, never all-pairs") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cluster-scoped dedup degenerated to all-pairs:\n$p")
    assert(p.contains("cell"), s"cell key missing from the plan:\n$p")
  }

  test("dsir + ccnet boundary: no un-partitioned rank window anywhere") {
    // the r12 scale findings: top-N / tercile selection must never be
    // a single-partition row_number/ntile sort. Walk the physical
    // plan INCLUDING cached relations and adaptive stages — these
    // operators materialize internally, so the window would hide
    // inside an InMemoryRelation
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def globalRankWindows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          Seq("row_number", "ntile", "rank")
            .exists(w.windowExpression.mkString(",").contains) => Seq(w)
        case _ => Seq.empty
      }
      val children: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other => other.children
      }
      self ++ children.flatMap(globalRankWindows)
    }
    for (q <- Seq("q_dsir_weights", "q_ccnet_buckets_boundary")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val bad = globalRankWindows(df.queryExecution.executedPlan)
      assert(bad.isEmpty,
        s"$q grew a single-partition rank window:\n${bad.mkString("\n")}")
    }
  }

  test("range prefix-sum queries: no corpus-wide or per-group-hot window") {
    // the r13 fold-in of the remaining running-sum windows: the
    // sampling queries (and their *_range aliases) must never sort a
    // whole group (or the whole corpus) in one window task. Every WindowExec over corpus
    // rows must include the __bkt range key in its partitionSpec; the
    // only windows WITHOUT it are (a) the per-group offsets window
    // over the <= nBuckets-rows-per-group totals table and (b) the
    // strata allocation windows over the counts table — both bounded
    // by construction, both detectable by their inputs/expressions
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val children: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other => other.children
      }
      p +: children.flatMap(walk)
    }
    for (q <- Seq("q_pack_sequences", "q_token_budget_mix",
        "q_stratified_sample", "q_pack_sequences_range",
        "q_token_budget_mix_range", "q_stratified_sample_range")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // finalize adaptive stages
      val windows = walk(df.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q lost its windows entirely")
      val bad = windows.filterNot { w =>
        val spec = w.partitionSpec.mkString(",")
        val expr = w.windowExpression.mkString(",")
        spec.contains("__bkt") || // bucketed local running sum
          expr.contains("__off") || expr.contains("__ocnt") || // offsets
          expr.contains("__tot") || expr.contains("__base") || // strata
          w.orderSpec.mkString(",").contains("__rem") // strata seats
      }
      assert(bad.isEmpty,
        s"$q window not range-bucketed or bounded-table scoped:\n" +
          bad.mkString("\n"))
    }
  }

  test("q_tokenize_pack: every window range-bucketed or bin-scoped") {
    // the last-mile facade must inherit packSequences' scale
    // shape: the running sum runs per __bkt range bucket (plus the
    // bounded offsets window), and the only new window is the per-bin
    // offset sum — a bin holds at most `budget` docs by construction
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val children: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other => other.children
      }
      p +: children.flatMap(walk)
    }
    val df = SparkEntry.queries("q_tokenize_pack")(spark, sf)
    df.collect()
    val windows = walk(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "q_tokenize_pack lost its windows entirely")
    val bad = windows.filterNot { w =>
      val spec = w.partitionSpec.mkString(",")
      w.partitionSpec.nonEmpty &&
        (spec.contains("__bkt") || spec.contains("bin_id")) ||
        w.windowExpression.mkString(",")
          .matches("(?s).*(__off|__ocnt).*")
    }
    assert(bad.isEmpty,
      s"q_tokenize_pack grew an unbounded window:\n${bad.mkString("\n")}")
  }

  test("q_training_export: every window bucketed, bin- or shard-scoped") {
    // the composed facade must inherit every stage's scale shape:
    // pack runs per __bkt range bucket (+ the bounded offsets
    // window), offsets per bin_id (<= budget docs), ranks per shard
    // (~|rows|/nShards) — nothing global, nothing per-hot-group
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val children: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other => other.children
      }
      p +: children.flatMap(walk)
    }
    val df = SparkEntry.queries("q_training_export")(spark, sf)
    df.collect()
    val windows = walk(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "q_training_export lost its windows")
    val bad = windows.filterNot { w =>
      val spec = w.partitionSpec.mkString(",")
      w.partitionSpec.nonEmpty && (spec.contains("__bkt") ||
        spec.contains("bin_id") || spec.contains("shard")) ||
        w.windowExpression.mkString(",").matches("(?s).*(__off|__ocnt).*")
    }
    assert(bad.isEmpty,
      s"q_training_export grew an unbounded window:\n${bad.mkString("\n")}")
  }

  test("lmScore/qualityClassifier: totals ride a reused exchange, no global window") {
    // the r13 de-windowing: vocab is unbounded on web text, so the
    // totals must NOT come from Window.partitionBy() over the count
    // table — they ride a one-row broadcast cross join whose input
    // exchange is REUSED (tokenize still runs once)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val children: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other => other.children
      }
      p +: children.flatMap(walk)
    }
    for (q <- Seq("q_lm_score", "q_quality_classifier")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // run so adaptive stages finalize (incl. reuse)
      val nodes = walk(df.queryExecution.executedPlan)
      val globalWindows = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty,
        s"$q still carries an un-partitioned window:\n" +
          globalWindows.mkString("\n"))
      val planStr = nodes.mkString("\n")
      assert(planStr.contains("ReusedExchange") ||
        planStr.contains("TableCacheQueryStage") ||
        planStr.contains("InMemoryTableScan"),
        s"$q: vocab exchange not reused — tokenize would run twice:\n" +
          planStr.take(4000))
    }
  }

  test("q_fim_transform is one codegen'd projection: zero exchanges, " +
      "zero joins") {
    val p = plan("q_fim_transform")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"FIM grew a shuffle/join — it must stay scan-stage:\n$p")
  }

  test("q_html_extract_blocks: scan-stage scoring, ONE shuffle (the " +
      "doc rollup), no join") {
    val p = plan("q_html_extract_blocks")
    assert(!p.contains("Join"), s"block extraction grew a join:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"block extraction must shuffle once (doc rollup):\n$p")
    assert(p.contains("Generate"), s"block explode missing:\n$p")
  }

  test("q_decontaminate_fuzzy: bench side broadcasts everywhere — the " +
      "corpus is never shuffle-joined") {
    // AQE toString appends the pre-conversion initial plan (where the
    // report join still reads SortMergeJoin) — judge the FINAL only
    val p = plan("q_decontaminate_fuzzy")
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"bench band/verify joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-side sort-merge join crept in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dpo_pairs: pairing is one aggregation — no window before " +
      "the split join, no cartesian") {
    val p = plan("q_dpo_pairs")
    // sessionTranscripts carries its own sessionize windows; the
    // PAIRING itself must not add a per-prompt rank window
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("max(c") || p.contains("max(struct") ||
      p.contains("boundedtopk") || p.contains("Aggregate"),
      s"struct-extrema aggregation missing:\n$p")
  }

  test("q_frontier_schedule: the slot window partitions by host — " +
      "never a global (empty-partition) window") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def globalWindows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case _ => Seq.empty
      }
      val children: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other => other.children
      }
      self ++ children.flatMap(globalWindows)
    }
    val df = SparkEntry.queries("q_frontier_schedule")(spark, sf)
    val bad = globalWindows(df.queryExecution.executedPlan)
    assert(bad.isEmpty,
      s"un-partitioned window in the schedule plan:\n${bad.mkString("\n")}")
    assert(!df.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
  }

  test("q_quality_gate: langid rides the gopher projection — at most " +
      "three joins (verdict SMJ + classifier probe + fit totals)") {
    // the regression this pins: joining the langid APPLY output
    // against the gopher projection (two scans of the same table
    // stitched by a 4th join) instead of riding the prediction as a
    // staged column on one scan
    val df = SparkEntry.queries("q_quality_gate")(spark, sf)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    // AQE's toString appends the initial plan — count the final only
    val p = full.split("== Initial Plan ==").head
    val joins = "Join \\[".r.findAllIn(p).length +
      "NestedLoopJoin".r.findAllIn(p).length
    assert(joins <= 3, s"quality gate grew a join (found $joins):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_rouge_score: zero-shuffle scan stage — overlap is the " +
      "codegen'd sorted-merge walk, never an explode+agg+join") {
    val p = plan("q_rouge_score")
    assert(!p.contains("Exchange"),
      s"rouge grew a shuffle — the clip must stay scan-fused:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
    assert(p.contains("sorted_multiset_overlap"),
      s"clipped-overlap expression missing from the plan:\n$p")
  }

  test("q_bleu_corpus: scan stage + exactly one single-row aggregation") {
    val p = plan("q_bleu_corpus")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"bleu must be scan + ONE corpus-agg exchange:\n$p")
    assert(p.contains("SinglePartition"),
      s"the one exchange must be the single-row aggregate:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q_fk_audit: each edge is ONE membership join + ONE aggregate — " +
      "no anti-join + scalar crossJoin cascade") {
    val p = plan("q_fk_audit")
    assert(!p.contains("CartesianProduct"), p)
    // two edges, each: one membership join; the left-anti draft
    // carried 4 aggregations and a crossJoin per edge
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(p).length <= 2,
      s"fk audit grew joins beyond the two membership probes:\n$p")
  }

  test("q_k_anonymity: single grouped pass, no Expand multiplication") {
    val p = plan("q_k_anonymity")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
    // the single within-group distinct plans as two-stage aggregate —
    // never the multi-distinct Expand that multiplies every row
    assert(!p.contains("Expand"), s"Expand crept into the plan:\n$p")
  }

  test("q_time_decay: decay arithmetic fuses into the scan — one " +
      "aggregation exchange only") {
    val p = plan("q_time_decay")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"decay must be scan + ONE keyed agg exchange:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this plan:\n$p")
  }

  test("q_triangle_stats: no cartesian anywhere in the census") {
    val p = plan("q_triangle_stats")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_char_diversity and q_pii_luhn stay shuffle-free scan stages") {
    for (q <- Seq("q_char_diversity", "q_pii_luhn")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q grew a shuffle:\n$p")
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
    }
  }

  test("q_winsorize: percentile bounds broadcast back — never a " +
      "shuffled bounds join or a window") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      s"bounds join not broadcast:\n$p")
    assert(!p.contains("Window"), s"no window belongs here:\n$p")
  }
}
