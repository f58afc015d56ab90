package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Range-partitioned running sums: the scale-safe form of
  * `sum(v) OVER (PARTITION BY g ORDER BY k ROWS UNBOUNDED PRECEDING)`.
  *
  * The window form sorts ONE GROUP PER TASK — fine when every group
  * is small, a single hot task once any group approaches corpus
  * scale (the same failure mode [[OrderStats]] removed from top-N
  * selection). The form here never materializes a whole group in one
  * task: rows are bucketed by a quantile-derived range of a numeric
  * sort proxy, each (group, bucket) computes its LOCAL running sum
  * (a window over ~1/nBuckets of the group), per-bucket totals are
  * prefix-summed into offsets on a table of at most nBuckets rows
  * per group, and offset + local = the exact global running sum.
  *
  * Output is BIT-IDENTICAL to the window form for ANY boundary set:
  * bucketing is a pure function of the sort proxy (boundary ties
  * share a bucket), the order within and across buckets is the same
  * total order, and long/decimal sums reassociate exactly. The
  * approxQuantile pass only balances load — a bad sketch can make
  * buckets uneven, never wrong.
  *
  * The input is scanned three times (quantile probe, bucket totals,
  * final plan) — persist `df` first unless its lineage is trivial,
  * the [[OrderStats.selectTopN]] discipline.
  */
object PrefixSum {

  /** Add `out` = the exact inclusive running sum of `valueCol` within
    * `partCols` under the total order `orderCols`, computed with no
    * per-group single-task sort.
    *
    * `coarseKey` must be a non-decreasing numeric proxy of
    * `orderCols` (rows ordered earlier never have a larger proxy):
    * the ordering column itself when it is numeric ascending, its
    * negation for descending, [[md5PrefixKey]] for md5-hex order.
    * Rows with a null proxy land in the first bucket, matching
    * Spark's default NULLS FIRST ascending sort — a proxy whose
    * order puts nulls elsewhere must encode that itself.
    *
    * Null `valueCol` rows contribute nothing, and `out` is null
    * until the first non-null value in the prefix — exactly the SQL
    * window-sum semantics, preserved via a parallel non-null count.
    *
    * With empty `partCols` the offsets come from a driver walk of
    * the (at most nBuckets-row) totals table — bounded metadata, the
    * IVF-centroid discipline. With partition columns the offsets are
    * a window PARTITIONED BY the group over the totals table (at
    * most nBuckets rows per group, however many groups exist) and a
    * broadcast join back onto the corpus.
    */
  def withRunningSum(df: DataFrame, partCols: Seq[String],
                     orderCols: Seq[Column], coarseKey: Column,
                     valueCol: Column, out: String, nBuckets: Int = 64,
                     relErr: Double = 1e-3): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    // the offsets table's copies of the group keys (grouped path)
    val pk = partCols.indices.map(i => s"__pk$i")
    val reserved = df.columns.toSet.intersect(Set(
      "__ck", "__bkt", "__loc", "__lcnt", "__btot", "__bcnt",
      "__off", "__ocnt", "__obkt", out) ++ pk)
    require(reserved.isEmpty,
      s"withRunningSum reserves column name(s) ${reserved.mkString(", ")}")

    val withCk = df.withColumn("__ck", coarseKey.cast("double"))
    val boundaries: Array[Double] =
      if (nBuckets == 1) Array.empty
      else {
        val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
        // approxQuantile ignores nulls and returns empty on an empty
        // input; duplicate boundaries just leave some buckets empty
        withCk.stat.approxQuantile("__ck", probs, relErr)
          .filterNot(_.isNaN)
      }
    // bucket = #boundaries strictly below the proxy, as a FLAT
    // expression (a when-chain fold is nBuckets deep and overflows
    // Catalyst's converter at high bucket counts). Strict >: boundary
    // ties stay in the lower bucket; a null proxy fails every
    // comparison -> bucket 0 (matching nulls-first ascending order)
    val bkt =
      if (boundaries.isEmpty) lit(0)
      else size(filter(array(boundaries.map(lit(_)): _*),
        b => col("__ck") > b))
    val bucketed = withCk.withColumn("__bkt", bkt)

    val localW = Window
      .partitionBy((partCols.map(col) :+ col("__bkt")): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed
      .withColumn("__loc", sum(valueCol).over(localW))
      .withColumn("__lcnt", count(valueCol).over(localW))

    val totals = bucketed
      .groupBy((partCols.map(col) :+ col("__bkt")): _*)
      .agg(sum(valueCol).as("__btot"), count(valueCol).as("__bcnt"))

    val joined =
      if (partCols.isEmpty) {
        // no group: the totals table is <= nBuckets rows by
        // construction — walk it on the driver, emit a literal
        // when-chain (no join, no window)
        val byBkt = totals.collect()
          .map(r => r.getInt(0) -> (r.get(1), r.getLong(2))).toMap
        val sumType = totals.schema("__btot").dataType
        var accSum: Any = null
        var accCnt = 0L
        // dense exclusive prefixes for buckets 0..nBoundaries, looked
        // up by a flat element_at over array literals (a when-chain
        // would nest nBuckets deep)
        val offs = (0 to boundaries.length).map { b =>
          val o = (accSum, accCnt)
          byBkt.get(b).foreach { case (s, c) =>
            if (s != null) accSum =
              if (accSum == null) s
              else (accSum, s) match {
                case (a: Long, v: Long) => a + v
                case (a: Double, v: Double) => a + v
                case (a: java.math.BigDecimal, v: java.math.BigDecimal) =>
                  a.add(v)
                case (a, v) => sys.error(
                  s"unsupported running-sum type ${a.getClass}/${v.getClass}")
              }
            accCnt += c
          }
          o
        }
        val offArr = array(offs.map { case (s, _) =>
          lit(s).cast(sumType) }: _*)
        val cntArr = array(offs.map { case (_, c) => lit(c) }: _*)
        local
          .withColumn("__off", element_at(offArr, col("__bkt") + 1))
          .withColumn("__ocnt", element_at(cntArr, col("__bkt") + 1))
      } else {
        // grouped: exclusive prefix over the per-group totals — a
        // window PARTITIONED by the group over <= nBuckets rows per
        // group, then a broadcast join back on (group, bucket). The
        // group keys join null-safe: the window form treats a null
        // key as one more group, so its rows must not fall out here
        val offW = Window.partitionBy(partCols.map(col): _*)
          .orderBy(col("__bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = totals
          .select(partCols.zip(pk).map { case (c, k) => col(c).as(k) } ++
            Seq(col("__bkt").as("__obkt"),
              sum(col("__btot")).over(offW).as("__off"),
              coalesce(sum(col("__bcnt")).over(offW), lit(0L)).as("__ocnt"))
            : _*)
        val on = partCols.zip(pk).map { case (c, k) => col(c) <=> col(k) }
          .reduce(_ && _) && col("__bkt") === col("__obkt")
        local.join(broadcast(offsets), on).drop(("__obkt" +: pk): _*)
      }

    joined
      .withColumn(out,
        // null until the first non-null value in the global prefix,
        // like the window sum; otherwise offset + local (either side
        // may be null when its span holds no non-null values)
        when(col("__lcnt") + col("__ocnt") === 0L,
          lit(null).cast(totals.schema("__btot").dataType))
          .otherwise(coalesce(col("__loc"), lit(0L)) +
            coalesce(col("__off"), lit(0L))))
      .drop("__ck", "__bkt", "__loc", "__lcnt", "__off", "__ocnt")
  }

  /** Numeric sort proxy for md5-hex content-hash order: the first 12
    * nibbles of md5(id) as a long (< 2^48, double-exact). All md5
    * hex digests are 32 lowercase chars over an ASCII-ascending
    * alphabet, so the prefix value is non-decreasing in the hex
    * string's lexicographic order — the order the hash-prefix
    * samplers sort by. */
  def md5PrefixKey(idCol: Column): Column =
    // r17: the codegen'd digest-prefix expression — bit-identical to
    // the former per-nibble instr chain (first 48 digest bits,
    // big-endian; Md5MinHashSpec pins the family's equality), one
    // call instead of 12 substring+instr nodes per row
    graft.expressions.Md5MinHashSig.prefix(idCol.cast("string"), 12)
}
