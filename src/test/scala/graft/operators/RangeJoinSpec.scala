package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RangeJoinSpec extends SparkSpec {
  import sqlImplicits._

  test("selfRangeJoin finds 1-D pairs within eps, once each") {
    val df = Seq(("p", 1L, 0.0), ("p", 2L, 0.5), ("p", 3L, 2.0), ("q", 4L, 0.6))
      .toDF("pk", "id", "v")
    val out = RangeJoin.selfRangeJoin(df, "pk", "id", "v", eps = 1.0)
    val pairs = out.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // |0-2|=2 > 1; cross-partition excluded
  }

  test("knnContacts ranks nearest neighbours within eps") {
    val pts = Seq(
      ("p", 1L, 0.0, 0.0, 0.0),
      ("p", 2L, 1.0, 0.0, 0.0),   // dist2 to 1: 1
      ("p", 3L, 0.0, 2.0, 0.0),   // dist2 to 1: 4
      ("p", 4L, 50.0, 50.0, 50.0) // out of range
    ).toDF("pk", "id", "x", "y", "z")
    val out = RangeJoin.knnContacts(pts, "pk", "id", "x", "y", "z",
        eps = 3.0, k = 2)
      .filter(col("id") === 1L).orderBy("rank")
      .select("rank", "neighbor_id", "dist2")
      .as[(Int, Long, Double)].collect().toSeq
    assert(out == Seq((1, 2L, 1.0), (2, 3L, 4.0)))
  }

  // 3x3x3 unit cubes: in "p" eps 1.8 reaches the face (dist2 1), edge
  // (2) and corner (3) neighbours; "q" is scaled by 1.5, so only its
  // face neighbours (2.25) are in reach. Ranks tie everywhere, and
  // k = 2 cuts the ties
  private def tiedGrid = {
    import sqlImplicits._
    val cube = for { dx <- -1 to 1; dy <- -1 to 1; dz <- -1 to 1 }
      yield (dx.toDouble, dy.toDouble, dz.toDouble)
    (cube.zipWithIndex.map { case ((x, y, z), i) => ("p", i.toLong + 1, x, y, z) } ++
      cube.zipWithIndex.map { case ((x, y, z), i) =>
        ("q", i.toLong + 100, 1.5 * x, 1.5 * y, 1.5 * z) })
      .toDF("pk", "id", "x", "y", "z")
  }

  test("knnContacts == the two-branch unionByName top-k (tied dist2, k < ties)") {
    val pts = tiedGrid
    val (eps, k) = (1.8, 2)
    val got = RangeJoin.knnContacts(pts, "pk", "id", "x", "y", "z", eps, k)
    // reference: each unordered pair mirrored by a union of two scans
    val pairs = RangeJoin.contacts3D(pts, "pk", "id", "x", "y", "z", eps)
    val want = pairs.select(col("pk"), col("a_id").as("id"),
        col("b_id").as("neighbor_id"), col("dist2"))
      .unionByName(pairs.select(col("pk"), col("b_id").as("id"),
        col("a_id").as("neighbor_id"), col("dist2")))
      .groupBy(col("pk"), col("id"))
      .agg(graft.expressions.BoundedTopK.boundedTopK(
        -col("dist2"), col("neighbor_id"), k).as("top"))
      .select(col("pk"), col("id"), posexplode(col("top")))
      .select(col("pk"), col("id"), (col("pos") + 1).as("rank"),
        col("col.id").as("neighbor_id"), (-col("col.score")).as("dist2"))
    assert(got.columns.toSeq == want.columns.toSeq)
    val rows = got.collect().toSeq
    assert(rows.sortBy(_.toString) == want.collect().toSeq.sortBy(_.toString))
    // the centre of each cube has six neighbours tied at the nearest
    // distance; the lowest two ids win
    val centre = rows.filter(r => r.getLong(1) == 14L).sortBy(_.getInt(2))
    assert(centre.map(r => (r.getLong(3), r.getDouble(4))) ==
      Seq((5L, 1.0), (11L, 1.0)))
    assert(rows.groupBy(r => (r.getString(0), r.getLong(1))).values
      .forall(_.length == k))
  }

  test("knnContacts builds a lazy plan: no job to build, nothing persisted") {
    val pts = tiedGrid
    spark.catalog.clearCache()
    val before = persistedRdds
    val (knn, jobs) = countJobs(
      RangeJoin.knnContacts(pts, "pk", "id", "x", "y", "z", 1.8, 2))
    assert(jobs == 0, s"building knnContacts ran $jobs job(s)")
    assert(knn.collect().nonEmpty)
    assert(persistedRdds == before)
    assert(noCachedPlans)
  }

  test("contacts3D matches brute force exactly") {
    val rnd = new scala.util.Random(7)
    val pts = (1 to 120).map { i =>
      ("blk", i.toLong, rnd.nextDouble() * 10, rnd.nextDouble() * 10,
        rnd.nextDouble() * 10)
    }
    val df = pts.toDF("pk", "id", "x", "y", "z")
    val eps = 1.5
    val got = RangeJoin.contacts3D(df, "pk", "id", "x", "y", "z", eps)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val want = (for {
      a <- pts; b <- pts
      if a._2 < b._2
      d2 = (a._3 - b._3) * (a._3 - b._3) + (a._4 - b._4) * (a._4 - b._4) +
        (a._5 - b._5) * (a._5 - b._5)
      if d2 <= eps * eps
    } yield (a._2, b._2)).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("intervalSelfJoin: banded candidates equal the exact theta join") {
    import sqlImplicits._
    // overlap, touch (end exclusive - no pair), contain, cross-key
    val df = Seq(
      ("u", 1L, 0L, 100L), ("u", 2L, 50L, 150L),   // overlap 50
      ("u", 3L, 150L, 200L),                        // touches 2: no
      ("u", 4L, 10L, 20L),                          // inside 1: 10
      ("v", 5L, 0L, 100L))                          // other key
      .toDF("k", "id", "s", "e")
    // tiny bucket (7) forces multi-bucket spans + duplicate collapse
    val out = RangeJoin.intervalSelfJoin(df, "k", "id", "s", "e",
        bucketMicros = 7L)
      .orderBy("a_id", "b_id")
      .select("k", "a_id", "b_id", "overlap_us")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("u", 1L, 2L, 50L), ("u", 1L, 4L, 10L)))
    // same answer with a huge bucket (single band per interval)
    val out2 = RangeJoin.intervalSelfJoin(df, "k", "id", "s", "e",
        bucketMicros = 1000L)
      .orderBy("a_id", "b_id")
      .select("k", "a_id", "b_id", "overlap_us")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out2 == out)
  }
}
