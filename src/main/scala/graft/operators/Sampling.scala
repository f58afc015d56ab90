package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Everything keys off a CONTENT hash of a stable id — never rand()
  * — so assignments are reproducible across runs, clusters, task
  * retries and engines (md5 is identical everywhere; Spark's rand()
  * is partition-layout dependent and breaks on replay). Pure
  * per-row column expressions: no shuffle, no state.
  */
object Sampling {

  /** Bucket 0..255 from the first two hex chars of md5(id) —
    * engine-portable (md5 + substring + strpos exist everywhere with
    * identical semantics; no engine-specific hash involved). */
  def md5Bucket(idCol: Column): Column =
    // r17: the codegen'd digest-prefix expression — value
    // bit-identical to conv(substring(md5(·),1,2),16,10) (which the
    // oracles keep replaying), no hex string / conv parse per call
    // (Md5MinHashSpec pins the equality)
    graft.expressions.Md5MinHashSig.prefix(idCol.cast("string"), 2)

  /** Bucket 0..65535 from the first four hex chars of md5(id) — the
    * finer-grained variant for per-group sampling RATES, where 256
    * buckets would quantize a keep rate by up to 1/256 of the corpus
    * and floor sub-1/256 rates to zero (dropping a dominant group
    * entirely). */
  def md5Bucket16(idCol: Column): Column =
    graft.expressions.Md5MinHashSig.prefix(idCol.cast("string"), 4)

  /** Deterministic named split by cumulative fractions over the 256
    * md5 buckets, e.g. Seq("train" -> 0.9, "val" -> 0.05,
    * "test" -> 0.05). Adds `bucket` and `split`. */
  def deterministicSplit(df: DataFrame, idCol: String,
                         splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val bucket = md5Bucket(col(idCol))
    val bounds = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }
      .tail.map(f => math.round(f * 256).toInt)
    val assign = splits.map(_._1).zip(bounds)
      .foldRight(lit(splits.last._1)) { case ((name, bound), other) =>
        when(bucket < bound, lit(name)).otherwise(other)
      }
    df.withColumn("bucket", bucket).withColumn("split", assign)
  }

  /** LEAKAGE-SAFE split: assign train/val/test by the GROUP's
    * representative (min id), not the row's own id — every row of a
    * group lands in ONE split. The failure this closes: a per-doc
    * content-hash split scatters a duplicate cluster's members
    * across train AND test, and the model is then evaluated on
    * (near-)copies of training documents. Key the group by whatever
    * duplication signal the pipeline trusts — the normalized-text
    * hash, a minhash cluster id, the canonical URL — and the split
    * inherits exactly that notion of "same document"; residual
    * leakage is precisely what the grouping missed, nothing more.
    * Adds `rep_id` plus [[deterministicSplit]]'s `bucket`/`split`
    * (hashed on rep_id, so the split stays reproducible across
    * runs/engines AND stable under re-ingestion of more copies —
    * min(id) only moves if an earlier id arrives).
    *
    * Plan: one map-side-combined min per group + one equi-join back
    * on the group key (both shuffle on the group key — co-partitioned,
    * exchange-reused) + the pure column split assignment. */
  def groupAwareSplit(df: DataFrame, groupCol: String, idCol: String,
                      splits: Seq[(String, Double)]): DataFrame = {
    val reserved = df.columns.toSet
      .intersect(Set("rep_id", "bucket", "split"))
    require(reserved.isEmpty,
      s"groupAwareSplit reserves column name(s) ${reserved.mkString(", ")}")
    val reps = df.groupBy(col(groupCol)).agg(min(col(idCol)).as("rep_id"))
    deterministicSplit(df.join(reps, Seq(groupCol)), "rep_id", splits)
  }

  /** Sequence packing: assign documents to fixed token-budget bins
    * (context-window packing for training batches). Deterministic
    * greedy scheme: order by (length desc, id), take the running
    * token sum, bin = floor((running − own) / budget) — documents
    * fill bin 0 until the budget spills, then bin 1, and so on. A
    * doc longer than the budget gets its own bin (still one row).
    *
    * The running sum comes from [[PrefixSum.withRunningSum]]
    * (quantile-bucketed ranges of the (length desc) order, per-bucket
    * local windows, offset add) — the bins of the single global
    * window, and no task ever sorts more than ~1/nBuckets of the
    * corpus. The sort proxy is the negated length (monotone in the
    * descending order); id ties spread across at most one boundary
    * bucket. */
  def packSequences(df: DataFrame, lenCol: String, idCol: String,
                    budget: Long, nBuckets: Int = 64): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    PrefixSum.withRunningSum(df, Seq.empty,
        Seq(col(lenCol).desc, col(idCol).asc),
        -col(lenCol).cast("double"), col(lenCol), "__running", nBuckets)
      .withColumn("bin_id",
        floor((col("__running") - col(lenCol)) / budget).cast("long"))
      .drop("__running")
  }

  /** Temperature-weighted corpus mixing (the multi-source sampling
    * rule behind multilingual / multi-domain training mixes):
    * down-sample each group so kept counts follow n_g^alpha with
    * alpha = 0.5 — rare sources keep everything, dominant sources
    * are square-root-damped. The keep rate for group g is
    * sqrt(n_min / n_g) (the smallest group keeps 100%), applied as a
    * deterministic md5-bucket threshold so the sample is stable
    * across runs, retries and engines — floor(65536·sqrt(ratio))
    * involves only IEEE-exact ops (integer→double division, sqrt,
    * scale, floor), so any engine computes the same threshold. The
    * threshold is floored at 1 bucket (≈1/65536): a group so
    * dominant that its target rate rounds to zero is still sampled,
    * never silently dropped.
    *
    * Plan shape at 100 TB: one map-side-combined count per group, a
    * broadcast of the (tiny) per-group threshold table back onto the
    * corpus scan, and a pure column-expression filter — no shuffle
    * of the corpus itself. */
  def temperatureSample(df: DataFrame, groupCol: String, idCol: String)
  : DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // loud failure beats an ambiguous-column error mid-plan: the
    // internal names below are reserved against the input schema
    val reserved = df.columns.toSet
      .intersect(Set("__g", "__n", "__n_min", "__thresh"))
    require(reserved.isEmpty,
      s"temperatureSample reserves column name(s) ${reserved.mkString(", ")}")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min(col("__n")).as("__n_min"))
    val thresholds = counts.crossJoin(broadcast(nMin))
      .select(col(groupCol),
        greatest(lit(1L),
          floor(sqrt(col("__n_min").cast("double") / col("__n")) * 65536)
            .cast("long")).as("__thresh"))
    val t = thresholds.withColumnRenamed(groupCol, "__g")
    df.join(broadcast(t), col(groupCol) <=> col("__g"))
      .filter(md5Bucket16(col(idCol)) < col("__thresh"))
      .drop("__g", "__thresh")
  }

  /** DISTRIBUTION MATCHING — down-sample each group so the kept
    * corpus follows a TARGET mix (the Pile/Dolma-style "30% web,
    * 20% code, …" contract), keeping as much data as the target
    * allows: the binding group is the one with the least headroom,
    * scale S = min_g(n_g / t_g), and group g keeps at rate
    * S·t_g / n_g (the binding group keeps 100%). Groups absent from
    * `targets` are DROPPED — matching a distribution means nothing
    * outside it. Rates apply as deterministic md5-bucket thresholds
    * (the [[temperatureSample]] discipline): floor(rate·65536) over
    * [[md5Bucket16]], floored at 1 bucket so a pathologically small
    * positive target under-samples rather than silently vanishing
    * (documented distortion ≤ 1/65536 of the group). Every
    * threshold is the same fixed IEEE tree on both engines (casted
    * division, multiply, floor — no libm), so the kept set is
    * engine-exact.
    *
    * Plan shape at 100 TB: one map-side-combined count per group,
    * the |targets|-row threshold table broadcast back, a pure
    * column-expression filter — the corpus itself never shuffles. */
  def matchDistribution(df: DataFrame, groupCol: String, idCol: String,
                        targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(targets.forall(_._2 > 0), "every target share must be > 0")
    require(math.abs(targets.map(_._2).sum - 1.0) < 1e-9,
      "target shares must sum to 1")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate group in targets")
    val reserved = df.columns.toSet
      .intersect(Set("__g", "__n", "__t", "__q", "__s", "__thresh"))
    require(reserved.isEmpty,
      s"matchDistribution reserves column name(s) ${reserved.mkString(", ")}")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = broadcast(targets.toDF("__g", "__t"))
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      // inner join: absent-from-targets groups fall out here, and a
      // target naming a group with no rows simply cannot bind
      .join(tgt, col(groupCol) === col("__g"))
      .withColumn("__q", col("__n").cast("double") / col("__t"))
    val s = counts.agg(min(col("__q")).as("__s"))
    val thresholds = counts.crossJoin(broadcast(s))
      .select(col("__g"),
        greatest(lit(1L),
          floor(col("__s") * col("__t") / col("__n").cast("double") * 65536)
            .cast("long")).as("__thresh"))
    df.join(broadcast(thresholds), col(groupCol) === col("__g"))
      .filter(md5Bucket16(col(idCol)) < col("__thresh"))
      .drop("__g", "__thresh")
  }

  /** Token-budget mixture sampling: per group (training-mix source),
    * keep documents in content-hash order until the group's TOKEN
    * budget is exhausted — the budget a training mixture is actually
    * specified in (a 30%-web / 20%-code mix is a token split, not a
    * doc split; capPerGroup counts docs, temperatureSample sets
    * rates — neither hits a token target). A document is kept iff
    * the running token total BEFORE it is < budget, so selection is
    * a prefix of the deterministic hash order: stable across runs,
    * engines, and retries, and each group keeps at least one
    * document when its budget is > 0.
    *
    * The per-source running sum comes from
    * [[PrefixSum.withRunningSum]], so a source at single-task scale
    * is range-split into nBuckets local windows instead of one hot
    * sort. The sort proxy is the md5-hex prefix
    * ([[PrefixSum.md5PrefixKey]]), uniform within every group by
    * construction. */
  def tokenBudgetSample(df: DataFrame, groupCol: String, idCol: String,
                        nTokensCol: String, budget: Long,
                        nBuckets: Int = 64): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    PrefixSum.withRunningSum(df, Seq(groupCol),
        Seq(md5(col(idCol).cast("string")), col(idCol)),
        PrefixSum.md5PrefixKey(col(idCol)), col(nTokensCol),
        "__cum_incl", nBuckets)
      // exclusive = inclusive − own (window sums skip nulls, so a
      // null token count subtracts 0); null inclusive ⇒ empty prefix
      .withColumn("__cum_before",
        coalesce(col("__cum_incl") -
          coalesce(col(nTokensCol), lit(0L)), lit(0L)))
      .filter(col("__cum_before") < budget)
      .drop("__cum_incl", "__cum_before")
  }

  /** Deterministic training-export sharding — the "global shuffle"
    * a training run wants from its corpus, without rand(). Each row
    * gets shard = md5Bucket16(id) % nShards (uniform, stable across
    * runs/retries/engines) and a dense in-shard rank ordered by
    * (md5 hex of id, id): within a shard the read order is a content
    * hash, i.e. shuffled with respect to any source ordering, and
    * ties are impossible for a unique id. One window shuffle on the
    * shard key — nShards partitions of ~|rows|/nShards each; the
    * row_number is the only per-shard sequential state. Pair with
    * writeShards for the on-disk layout. */
  def exportShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("shard",
        (md5Bucket16(col(idCol)) % nShards).cast("int"))
      .withColumn("shard_rank", row_number().over(w).cast("long"))
  }

  /** Write the sharded export: one directory per shard
    * (partitionBy), rows laid down in shard_rank order, file sizes
    * bounded by maxRecordsPerFile so a reader can stream fixed-size
    * pieces. repartition on the shard column co-locates each shard
    * into one task before the partitioned write — without it every
    * task writes a sliver of every shard (tasks × shards small
    * files). */
  def writeShards(df: DataFrame, idCol: String, nShards: Int,
                  path: String, maxRecordsPerFile: Long = 1000000L): Unit =
    exportShards(df, idCol, nShards)
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "shard_rank")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .parquet(path)

  /** Per-shard MANIFEST for a sharded training export — the summary
    * table a dataloader (or a resumed export job) reads before
    * opening any shard file: row count, token total, dense-rank
    * integrity (count(distinct shard_rank) == n AND max == n ⇔ the
    * ranks are exactly {1..n}: n distinct values, each ≥ 1 by
    * row_number and ≤ n by the max bound — max==count alone passed a
    * dup+drop pair like {1,1,3}, and even sum==n(n+1)/2 plus max
    * passes {1,1,4,4}),
    * and an order-free id checksum so a re-export can be
    * diffed against the manifest without re-reading data. The
    * checksum is the sum of each id's first 8 md5 hex digits as a
    * long — order-free (sum), ≤ 2^32 per row so a 64-bit sum cannot
    * overflow at any realistic shard size, and engine-replayable
    * (pure hex arithmetic, no platform hash).
    *
    * One aggregation keyed on the shard (map-side combined); the
    * only window is [[exportShards]]' per-shard rank, already
    * bounded by ~|rows|/nShards per task. */
  def exportManifest(df: DataFrame, idCol: String, nShards: Int,
                     nTokensCol: Option[String] = None): DataFrame = {
    val checksum = conv(
      substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    exportShards(df, idCol, nShards)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_rows"),
        nTokensCol.map(c => sum(col(c)))
          .getOrElse(lit(null).cast("long")).as("n_tokens"),
        ((countDistinct(col("shard_rank")) === count(lit(1))) &&
          (max(col("shard_rank")) === count(lit(1)))).as("ranks_dense"),
        sum(checksum).as("id_checksum"))
  }

  /** Exact stratified sample: allocate `totalN` rows across strata
    * proportionally to stratum size by the largest-remainder
    * (Hamilton) method, then keep each stratum's content-hash-order
    * prefix of its allocation. Unlike rate-based sampling
    * (temperatureSample) the OUTPUT SIZE is exact — Σ alloc_g =
    * totalN always — which is what an eval-set or annotation-budget
    * draw needs. All integer arithmetic: base_g = ⌊totalN·n_g/N⌋,
    * remainder_g = (totalN·n_g) mod N; the (totalN − Σ base) leftover
    * seats go to the largest remainders (stratum-key tie-break), so
    * any engine reproduces the allocation bit-exactly — no float
    * quotas. totalN ≤ N guarantees alloc_g ≤ n_g.
    *
    * Plan shape: one map-side-combined count per stratum; the
    * allocation runs as windows over the STRATA table (|strata| rows
    * — a single-reducer global window over a table that is tiny by
    * construction) and broadcasts back onto the corpus. The
    * per-stratum hash-order prefix rank is a running count of 1s
    * from [[PrefixSum.withRunningSum]] (= row_number), so the
    * dominant stratum is range-split into nBuckets local windows
    * instead of one hot sort. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       totalN: Long, nBuckets: Int = 64): DataFrame = {
    val alloc = hamiltonAlloc(df, stratumCol, totalN)
    PrefixSum.withRunningSum(df, Seq(stratumCol),
        Seq(md5(col(idCol).cast("string")), col(idCol)),
        PrefixSum.md5PrefixKey(col(idCol)), lit(1L), "__rk", nBuckets)
      .join(broadcast(alloc), col(stratumCol) <=> col("__g"))
      .filter(col("__rk") <= col("__alloc"))
      .drop("__g", "__alloc", "__rk")
  }

  /** Largest-remainder (Hamilton) apportionment of totalN seats over
    * the strata of `stratumCol`, as a (__g, __alloc) table. */
  private def hamiltonAlloc(df: DataFrame, stratumCol: String,
                            totalN: Long): DataFrame = {
    require(totalN >= 0, s"totalN must be >= 0, got $totalN")
    val reserved = df.columns.toSet.intersect(Set(
      "__g", "__n", "__tot", "__base", "__rem", "__extra", "__alloc", "__rk"))
    require(reserved.isEmpty,
      s"stratifiedSample reserves column name(s) ${reserved.mkString(", ")}")
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val global = org.apache.spark.sql.expressions.Window.partitionBy()
    val remW = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col(stratumCol).asc)
    counts
      // "__tot", not "__N": withColumn resolves case-insensitively
      // by default, so "__N" would silently REPLACE "__n"
      .withColumn("__tot", sum(col("__n")).over(global))
      // `div` (not `/`): Column./ on longs is a DOUBLE divide, and
      // floor(double) misrounds once totalN·n_g exceeds 2^53
      .withColumn("__base",
        call_function("div", lit(totalN) * col("__n"), col("__tot")))
      .withColumn("__rem", (lit(totalN) * col("__n")) % col("__tot"))
      .withColumn("__extra", lit(totalN) - sum(col("__base")).over(global))
      // guarded (r18): the global frame here holds ONE ROW PER
      // STRATUM by construction (post-groupBy) — assert it, so a
      // caller passing a near-unique stratum column fails loudly with
      // the count instead of silently single-partitioning the corpus
      .withColumn("__alloc", WindowOps.guardedGlobalFrame(
        col("__base") + when(row_number().over(remW) <= col("__extra"), 1L)
          .otherwise(0L),
        "hamiltonAlloc's per-stratum table", 1L << 22))
      .select(col(stratumCol).as("__g"), col("__alloc"))
  }

  /** WEIGHTED sample WITHOUT replacement, k rows with inclusion odds
    * proportional to an integer weight (token/char counts — the draw
    * a quality-weighted or length-weighted eval slice needs), in the
    * Efraimidis–Spirakis A-ES scheme (Efraimidis & Spirakis 2006):
    * rank every row by a key distributed as u^(1/w) and keep the
    * global top k. The float form (pow/ln of a uniform) is
    * libm-dependent — different engines round pow differently — so
    * the key here is the EXACT integer equivalent: u^(1/w) is
    * distributed as the MAX OF w IID UNIFORMS (both have CDF x^w),
    * and each uniform is content-derived, md5(id‖":"‖j) for
    * j = 1..w — a per-row `aggregate` fold over `sequence(1, w)`
    * (no array of draws materializes beyond the sequence itself),
    * lexicographic max of fixed-length hex = numeric max, first 15
    * nibbles parsed to a 60-bit long key. Same distribution, zero
    * floats, reproducible across runs, retries, partitionings and
    * engines.
    *
    * Selection is [[OrderStats.selectTopN]] on (key desc, id asc) —
    * the quantile-narrowed exact cutoff, no global sort. Rows with a
    * null id or a weight that is null or < 1 are never sampled
    * (selected = false). A weight above `maxDraws` fails the job
    * loudly (raise_error) rather than silently quantizing the
    * distribution — the fold is O(w) per row, so the cap is the
    * contract that keeps the scan linear in Σw; token-count weights
    * sit orders of magnitude below it.
    *
    * Plan shape at 100 TB: the key is ONE scan-stage column (Σw md5
    * calls total, embarrassingly parallel), computed over the
    * corpus exactly twice — once into a persisted COMPACT (id, key)
    * table that selectTopN's narrowing probes re-read (without the
    * persist, every narrowing round would re-fold Σw md5 calls —
    * measured 3x on the sf0.1 pairing), once in the output
    * projection; the ≤ k winners broadcast back as a left join.
    * selectTopN itself never global-sorts; output is the input +
    * (`es_key`, `selected`). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Long, maxDraws: Long = 65536L): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(maxDraws >= 1, s"maxDraws must be >= 1, got $maxDraws")
    val reserved = df.columns.toSet
      .intersect(Set("es_key", "selected", "__win_id", "__win"))
    require(reserved.isEmpty,
      s"weightedSample reserves column name(s) ${reserved.mkString(", ")}")
    val idStr = col(idCol).cast("string")
    val w = col(weightCol).cast("long")
    // the cap check rides INSIDE the eligible branch, before
    // sequence(1, w) would materialize w elements
    val wGuarded = when(w > lit(maxDraws), raise_error(concat(
        lit(s"weightedSample: weight exceeds maxDraws=$maxDraws at id="),
        idStr))).otherwise(w)
    val maxHex = aggregate(sequence(lit(1L), wGuarded), lit(""),
      (acc, j) => greatest(acc, md5(concat(idStr, lit(":"), j.cast("string")))))
    val keyExpr = when(col(idCol).isNotNull && w.isNotNull && w >= 1,
      conv(substring(maxHex, 1, 15), 16, 10).cast("long"))
    val keys = df.select(col(idCol), keyExpr.as("es_key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val winners = broadcast(
      OrderStats.selectTopN(keys, k, "es_key", idCol)
        .filter(col("selected"))
        .select(col(idCol).as("__win_id"), lit(true).as("__win")))
    df.withColumn("es_key", keyExpr)
      .join(winners, col(idCol) === col("__win_id"), "left_outer")
      .withColumn("selected", coalesce(col("__win"), lit(false)))
      .drop("__win_id", "__win")
  }

  /** [[weightedSample]] PER GROUP — k weighted draws from EACH group
    * (the per-source form a training-mix construction actually runs:
    * "give me 10k length-weighted docs from every source"). Same
    * exact A-ES key (max of w md5-derived uniforms — see
    * [[weightedSample]]), except the key keeps 13 hex nibbles
    * (52 bits) so it is exactly double-representable: the per-group
    * selection runs through [[OrderStats.selectTopNByGroup]], whose
    * batched boundary narrowing compares doubles (the global form's
    * 60-bit key would silently collide past 2^53 there). Selection is
    * bit-identical to the per-group (key desc, id asc) row_number —
    * with NO per-group window sort: one batched narrowing for every
    * group's boundary at once, ties broken by id on the
    * (group, key)-partitioned boundary rows only.
    *
    * Output: the input plus (`es_key`, `selected`). The compact
    * (group, id, key) table persists through the narrowing (the
    * [[weightedSample]] lesson); winners join back by id from the
    * flagged compact table — broadcast-sized at |groups|·k. */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String,
                             idCol: String, weightCol: String, k: Long,
                             maxDraws: Long = 65536L): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(maxDraws >= 1, s"maxDraws must be >= 1, got $maxDraws")
    val reserved = df.columns.toSet
      .intersect(Set("es_key", "selected", "__win_id", "__win"))
    require(reserved.isEmpty,
      s"weightedSamplePerGroup reserves column name(s) " +
        reserved.mkString(", "))
    val idStr = col(idCol).cast("string")
    val w = col(weightCol).cast("long")
    val wGuarded = when(w > lit(maxDraws), raise_error(concat(
        lit(s"weightedSamplePerGroup: weight exceeds maxDraws=$maxDraws" +
          " at id="), idStr))).otherwise(w)
    val maxHex = aggregate(sequence(lit(1L), wGuarded), lit(""),
      (acc, j) => greatest(acc, md5(concat(idStr, lit(":"), j.cast("string")))))
    val keyExpr = when(col(idCol).isNotNull && w.isNotNull && w >= 1,
      conv(substring(maxHex, 1, 13), 16, 10).cast("long"))
    val keys = df.select(col(groupCol), col(idCol), keyExpr.as("es_key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val winners = broadcast(
      OrderStats.selectTopNByGroup(keys, k, "es_key", idCol, groupCol)
        .filter(col("selected"))
        .select(col(idCol).as("__win_id"), lit(true).as("__win")))
    df.withColumn("es_key", keyExpr)
      .join(winners, col(idCol) === col("__win_id"), "left_outer")
      .withColumn("selected", coalesce(col("__win"), lit(false)))
      .drop("__win_id", "__win")
  }

  /** Per-group quota: keep the first `n` rows of each group in
    * `orderCols` order (domain caps / source balancing). Single
    * window shuffle — one group sorts per task, so this is the
    * small-to-medium-group form; [[capPerGroupTopK]] is the same cap
    * with map-side-bounded state for corpus-scale groups. */
  def capPerGroup(df: DataFrame, groupCols: Seq[String],
                  orderCols: Seq[Column], n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** [[capPerGroup]] at 100 TB: keep each group's first `n` rows
    * under (scoreCol asc, idCol asc) via the k-capped
    * [[graft.expressions.BoundedTopK]] aggregate — partial state is
    * at most n (score, id) pairs per group per task, so the shuffle
    * carries |groups|·n·|tasks| worst-case and a corpus-scale group
    * never funnels through one window sort; the winners come back as
    * a semi join on the unique id. Constraints vs the window form:
    * the order is a numeric score + the long-id tie-break (ids must
    * be unique; rows with a null score or id are never kept), and
    * the score rides as a double — exact for any monotone per-row
    * key up to 2^53, and safe even beyond when the id itself breaks
    * rounding collisions (doubles round monotonically, so only
    * equal-rounded neighbours reorder, and the id tie-break restores
    * them). */
  def capPerGroupTopK(df: DataFrame, groupCols: Seq[String],
                      scoreCol: Column, idCol: String, n: Int)
  : DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(!df.columns.contains("__keep_id"),
      "capPerGroupTopK reserves column name __keep_id")
    // BoundedTopK keeps top by (score DESC, id ASC): negate for the
    // ascending cap; ties at a score fall to the smallest ids
    val keep = df
      .groupBy(groupCols.map(col): _*)
      .agg(graft.expressions.BoundedTopK.boundedTopK(
        -scoreCol.cast("double"), col(idCol).cast("long"), n).as("__top"))
      .select(explode(col("__top.id")).as("__keep_id"))
    df.join(keep, col(idCol).cast("long") === col("__keep_id"),
      "left_semi")
  }
}
