package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucketed range self-join ("contacts").
  *
  * ProteoFAV finds residue contacts with a cKDTree over all atom
  * coordinates on one node (proteofav/structures.py:366,382). That
  * cannot scale; the Spark-first equivalent is grid bucketing: hash
  * each row to a cell of width `eps`, replicate one side into its
  * three neighbouring cells, equi-join on the cell id, then apply the
  * exact distance predicate. Candidate generation is a plain shuffle
  * equi-join — never a theta/cross join — so it scales linearly in
  * rows × local density. Each qualifying pair is produced exactly
  * once (the left row matches the right row's cell exactly once).
  */
object RangeJoin {

  /** 3-D euclidean contact self-join: unordered pairs with the same
    * partition key and euclidean distance <= eps — the
    * `_add_mmcif_contacts` semantics (structures.py:366,382) without
    * the single-node cKDTree.
    *
    * Each row hashes to its (⌊x/eps⌋, ⌊y/eps⌋, ⌊z/eps⌋) cell. Side A
    * replicates into only the HALF-neighbourhood: its own cell plus
    * the 13 lexicographically-positive offsets (not all 27). A
    * qualifying pair in different cells differs by <= 1 per axis, so
    * exactly one of the two directions is a positive offset — found
    * once, no dedup needed; same-cell pairs are ordered by id. This
    * halves both the replication shuffle and the candidate count vs
    * the naive 27-cell scheme. Output ids are (least, greatest) so
    * the result is the canonical unordered pair set. Shuffle volume:
    * 14×|projected rows| — linear, never quadratic. Output: pk,
    * a_id, b_id, dist2 (squared distance, exact IEEE double). */
  def contacts3D(df: DataFrame, partitionKey: String, idCol: String,
                 xCol: String, yCol: String, zCol: String,
                 eps: Double): DataFrame = {
    def cell(c: Column) = floor(c / eps).cast("long")
    // own cell + the 13 offsets that are lexicographically > (0,0,0)
    val halfOffsets = (for { dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1 }
      yield (dx, dy, dz)).filter { case (dx, dy, dz) =>
        (dx, dy, dz) == ((0, 0, 0)) ||
          dx > 0 || (dx == 0 && dy > 0) || (dx == 0 && dy == 0 && dz > 0)
      }
    val offsets = halfOffsets.map { case (dx, dy, dz) =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"),
        lit(dz.toLong).as("dz"),
        lit(dx == 0 && dy == 0 && dz == 0).as("own"))
    }
    val a = df.select(col(partitionKey).as("pk"), col(idCol).as("a_id"),
        col(xCol).as("ax"), col(yCol).as("ay"), col(zCol).as("az"),
        explode(array(offsets: _*)).as("o"))
      .select(col("pk"), col("a_id"), col("ax"), col("ay"), col("az"),
        col("o.own").as("own"),
        struct((cell(col("ax")) + col("o.dx")).as("cx"),
          (cell(col("ay")) + col("o.dy")).as("cy"),
          (cell(col("az")) + col("o.dz")).as("cz")).as("cell"))
    // SHUFFLE_HASH hint: Catalyst's size estimate of the exploded side
    // is 14× too low and it happily BROADCASTS millions of replica
    // rows. Neither side of a contacts self-join is broadcastable at
    // scale — force the shuffled hash join on (pk, cell) that a
    // cluster needs (each grid cell lands on one task; build side is
    // the unreplicated exact-cell rows).
    val b = df.select(col(partitionKey).as("pk2"), col(idCol).as("b_id"),
      col(xCol).as("bx"), col(yCol).as("by"), col(zCol).as("bz"),
      struct(cell(col(xCol)).as("cx"), cell(col(yCol)).as("cy"),
        cell(col(zCol)).as("cz")).as("cell2"))
      .hint("shuffle_hash")
    val dx = col("ax") - col("bx")
    val dy = col("ay") - col("by")
    val dz = col("az") - col("bz")
    val dist2 = dx * dx + dy * dy + dz * dz
    a.join(b, col("cell") === col("cell2") && col("pk") === col("pk2") &&
        // same cell: order by id; positive-offset cell: take all (the
        // reverse direction is never generated)
        (!col("own") || col("a_id") < col("b_id")) &&
        col("a_id") =!= col("b_id"))
      .withColumn("dist2", dist2)
      .filter(col("dist2") <= eps * eps)
      .select(col("pk").as(partitionKey),
        least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        col("dist2"))
  }

  /** k-nearest contacts: for each point, its k nearest neighbours
    * within eps (same partition key) — contacts3D candidates ranked
    * by the k-capped BoundedTopK aggregate, so ranking shuffles at
    * most k rows per point regardless of local density. The
    * nearest-residue lookup pattern (structures.py:382 cKDTree query)
    * at linear cost. A lazy plan: building it runs no job and
    * persists nothing. Output: pk, id, rank, neighbor_id, dist2. */
  def knnContacts(df: DataFrame, partitionKey: String, idCol: String,
                  xCol: String, yCol: String, zCol: String,
                  eps: Double, k: Int): DataFrame =
    // contacts are unordered (a<b); each pair serves both endpoints.
    // One explode mirrors it inside the join's stage, so the grid
    // join runs once without a cache (a two-branch union of the pair
    // set would run it twice)
    contacts3D(df, partitionKey, idCol, xCol, yCol, zCol, eps)
      .select(col(partitionKey), col("dist2"), explode(array(
        struct(col("a_id").as("id"), col("b_id").as("neighbor_id")),
        struct(col("b_id").as("id"), col("a_id").as("neighbor_id")))).as("e"))
      .groupBy(col(partitionKey), col("e.id").as("id"))
      .agg(graft.expressions.BoundedTopK.boundedTopK(
        -col("dist2"), col("e.neighbor_id"), k).as("top"))
      .select(col(partitionKey), col("id"), posexplode(col("top")))
      .select(col(partitionKey), col("id"), (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"), (-col("col.score")).as("dist2"))

  /** Pairs (a, b) with a.partition == b.partition, |a.v − b.v| <= eps
    * and a.id < b.id. Output columns: partition key, a_id, b_id,
    * a_v, b_v. */
  def selfRangeJoin(df: DataFrame, partitionKey: String, idCol: String,
                    valueCol: String, eps: Double): DataFrame = {
    val cell = floor(col(valueCol) / eps).cast("long")
    val a = df.select(
      col(partitionKey).as("pk"), col(idCol).as("a_id"),
      col(valueCol).as("a_v"),
      explode(array(cell - 1, cell, cell + 1)).as("cell"))
    val b = df.select(
      col(partitionKey).as("pk2"), col(idCol).as("b_id"),
      col(valueCol).as("b_v"), cell.as("cell2"))
    a.join(b,
        a("cell") === b("cell2") && a("pk") === b("pk2") &&
          a("a_id") < b("b_id") &&
          abs(a("a_v") - b("b_v")) <= eps)
      .select(col("pk").as(partitionKey), col("a_id"), col("b_id"),
        col("a_v"), col("b_v"))
  }

  /** `_add_mmcif_contacts` (structures.py:382): a `contact_indexes`
    * column holding the comma-joined ids of every atom within `dist`
    * Å — including the atom itself, as cKDTree.query_ball_point
    * does. The kd-tree becomes the [[contacts3D]] grid self-join;
    * pairs are mirrored to both endpoints, the self-contact unions
    * in, and one aggregation packs the per-atom list. Ids are sorted
    * numerically (the reference joins the tree's arbitrary bucket
    * order — no deterministic distributed analog). The reference's
    * positional indexes correspond to `idCol` when atom ids were
    * reset upstream (filter_structures' reset_atom_id). */
  def withContactIndexes(df: DataFrame, partitionKey: String,
                         idCol: String = "id",
                         dist: Double = 5.0): DataFrame = {
    val pairs = contacts3D(df, partitionKey, idCol,
      "Cartn_x", "Cartn_y", "Cartn_z", dist)
    val directed = pairs
      .select(col(partitionKey), col("a_id").cast("long").as("src"),
        col("b_id").cast("long").as("dst"))
      .unionByName(pairs.select(col(partitionKey),
        col("b_id").cast("long").as("src"),
        col("a_id").cast("long").as("dst")))
      .unionByName(df.select(col(partitionKey),
        col(idCol).cast("long").as("src"),
        col(idCol).cast("long").as("dst")))
    val lists = directed
      .groupBy(col(partitionKey).as("__ci_pk"), col("src"))
      .agg(array_join(transform(array_sort(collect_list(col("dst"))),
        _.cast("string")), ",").as("contact_indexes"))
    df.join(lists, df(partitionKey) === col("__ci_pk") &&
        df(idCol).cast("long") === col("src"), "left")
      .drop("__ci_pk", "src")
  }

  /** BANDED INTERVAL-OVERLAP SELF-JOIN — the log-correlation /
    * genomics staple ([start, end) pairs per key that overlap in
    * time), with the candidate stage COMPLETE by construction: two
    * overlapping intervals share at least one fixed-width time
    * bucket, so exploding each interval into the buckets it touches
    * and equi-joining on (key, bucket) loses no true pair — the
    * banded form of the D4 grid join, 1-D edition. The quadratic
    * per-key theta-join a naive `a.s < b.e AND b.s < a.e` plans
    * (one key's whole history through one task) never appears; work
    * is Σ per-(key, bucket) occupancy², which the bucket width
    * tunes against interval length. Duplicate candidates from
    * multi-bucket overlaps collapse with one distinct; the exact
    * overlap predicate then keeps true pairs only.
    *
    * @param bucketMicros band width — pick ≈ the typical interval
    *        length (too small: more duplicate candidates; too
    *        large: denser buckets)
    * @return (key, a_id, b_id, overlap_us) with a_id < b_id and
    *         overlap_us = min(ends) − max(starts) > 0 */
  def intervalSelfJoin(df: DataFrame, keyCol: String, idCol: String,
                       startUsCol: String, endUsCol: String,
                       bucketMicros: Long): DataFrame = {
    require(bucketMicros >= 1L, "bucketMicros must be >= 1")
    def fdiv(c: Column) = call_function("div",
      c - pmod(c, lit(bucketMicros)), lit(bucketMicros))
    val banded = df.select(col(keyCol).as("__k"),
        col(idCol).as("__id"),
        col(startUsCol).cast("long").as("__s"),
        col(endUsCol).cast("long").as("__e"))
      .filter(col("__e") > col("__s"))
      .withColumn("__b",
        explode(sequence(fdiv(col("__s")), fdiv(col("__e") - 1))))
    val a = banded.toDF("k", "a_id", "a_s", "a_e", "b")
    val b = banded.toDF("k", "b_id", "b_s", "b_e", "b")
    a.join(b, Seq("k", "b"))
      .filter(col("a_id") < col("b_id"))
      .select(col("k").as(keyCol), col("a_id"), col("b_id"),
        col("a_s"), col("a_e"), col("b_s"), col("b_e"))
      .distinct()
      .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .select(col(keyCol), col("a_id"), col("b_id"),
        (least(col("a_e"), col("b_e")) -
          greatest(col("a_s"), col("b_s"))).as("overlap_us"))
  }
}
