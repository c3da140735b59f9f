package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Coreset

/** Greedy k-center selection pinned against a sequential brute-force
  * traversal (same quantization, same lowest-id seed, same
  * farthest-point/lowest-id rule).
  */
class CoresetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // deterministic "embedding" cloud: dim 4, values on the 1/1000 grid
  // so quantization is exact
  private def cloud(n: Int): Seq[(Long, Array[Double])] =
    (0 until n).map { i =>
      val b = ((i * 37) % 101).toLong
      (i.toLong, Array(
        ((b * 7) % 53 - 26) / 50.0,
        ((b * 11) % 47 - 23) / 50.0,
        ((b * 13) % 41 - 20) / 50.0,
        ((b * 17) % 37 - 18) / 50.0))
    }

  private def quant(x: Array[Double]): Array[Long] =
    x.map(v => math.floor(v * 1000 + 0.5).toLong)

  private def sq(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Sequential reference: Gonzalez traversal with ties to lowest id. */
  private def brute(pts: Seq[(Long, Array[Long])],
      k: Int): Seq[(Long, Long, Option[Long])] = {
    val seed = pts.minBy(_._1)
    var sel = List(seed)
    val out = scala.collection.mutable.ArrayBuffer(
      (1L, seed._1, Option.empty[Long]))
    while (out.size < k && out.size < pts.size) {
      val cand = pts.filterNot(p => sel.exists(_._1 == p._1))
        .map(p => (p, sel.map(c => sq(p._2, c._2)).min))
      val (w, d) = cand.minBy { case (p, dd) => (-dd, p._1) }
      out += ((out.size + 1L, w._1, Some(d)))
      sel = w :: sel
    }
    out.toSeq
  }

  test("kCenter matches the sequential Gonzalez traversal") {
    val pts = cloud(40)
    val df = pts.toDF("vec_id", "embedding")
    val got = Coreset.kCenter(df, col("vec_id"), col("embedding"), k = 6)
      .orderBy("sel_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq
    assert(got === brute(pts.map { case (i, x) => (i, quant(x)) }, 6))
  }

  test("kCenter coverage radii are non-increasing") {
    val df = cloud(60).toDF("vec_id", "embedding")
    val d = Coreset.kCenter(df, col("vec_id"), col("embedding"), k = 8)
      .orderBy("sel_rank").collect().drop(1).map(_.getLong(2))
    assert(d.zip(d.tail).forall { case (a, b) => a >= b })
  }

  test("kCenter is invariant under partitioning") {
    val pts = cloud(50)
    val a = Coreset.kCenter(pts.toDF("vec_id", "embedding")
        .repartition(1), col("vec_id"), col("embedding"), k = 5)
      .orderBy("sel_rank").collect().map(_.getLong(1)).toSeq
    val b = Coreset.kCenter(pts.toDF("vec_id", "embedding")
        .repartition(13), col("vec_id"), col("embedding"), k = 5)
      .orderBy("sel_rank").collect().map(_.getLong(1)).toSeq
    assert(a === b)
  }

  test("n < k returns all n points, never repeats an id") {
    val df = cloud(3).toDF("vec_id", "embedding")
    val rows = Coreset.kCenter(df, col("vec_id"), col("embedding"),
      k = 8).collect()
    assert(rows.length === 3)
    assert(rows.map(_.getLong(1)).distinct.length === 3)
  }

  test("kCenterAssign: every point goes to its true nearest center, " +
      "ties to the lowest center id; radii bound the assignment") {
    val pts = cloud(40)
    val df = pts.toDF("vec_id", "embedding")
    val centers = brute(pts.map { case (i, x) => (i, quant(x)) }, 6)
      .map(_._2).toSet
    val qs = pts.map { case (i, x) => (i, quant(x)) }.toMap
    val got = Coreset.kCenterAssign(df, col("vec_id"), col("embedding"),
      k = 6).orderBy("id").collect()
    got.foreach { r =>
      val (id, cid, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val best = centers.map(c => (sq(qs(id), qs(c)), c)).min
      assert((d, cid) === best)
    }
    // the k-center objective: max assignment distance never exceeds
    // the last selection radius (the next pick would have been the
    // farthest point)
    val lastRadius = Coreset.kCenter(df, col("vec_id"),
        col("embedding"), k = 7).orderBy("sel_rank").collect()
      .last.getLong(2)
    assert(got.map(_.getLong(2)).max === lastRadius)
  }

  test("duplicate vectors are picked at distance 0, selected ids " +
      "never repeat") {
    val v = Array(0.5, 0.5, 0.5, 0.5)
    val pts = Seq((0L, v), (1L, v), (2L, Array(-0.5, -0.5, -0.5, -0.5)))
    val rows = Coreset.kCenter(pts.toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), k = 3)
      .orderBy("sel_rank").collect()
    assert(rows.map(_.getLong(1)).toSeq === Seq(0L, 2L, 1L))
    assert(rows(2).getLong(2) === 0L) // the duplicate's radius
  }

  private def kCenterRows(pts: Seq[(Long, Array[Double])], k: Int) =
    TestSpark.jobsDuring(Coreset.kCenter(pts.toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), k = k))
      match { case (df, jobs) =>
        (df.orderBy("sel_rank").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2))))
          .toSeq, jobs) }

  private def ref(pts: Seq[(Long, Array[Double])], k: Int) =
    brute(pts.map { case (i, x) => (i, quant(x)) }, k)

  // The build's jobs are the greedy's pool scans: quantizing a local
  // relation and returning the k rows run none.

  test("lazy greedy: kept rows serve later rounds without a scan") {
    val pts = cloud(60)
    val (got, scans) = kCenterRows(pts, 6)
    assert(got === ref(pts, 6))
    assert(scans === 4) // 2 of the 6 rounds pick from kept rows
  }

  test("lazy greedy: a tie at the (M+1)-th score rescans") {
    // 5 vectors, 9 copies each: every scan's (M+1)-th row is a copy of
    // a kept row, so no kept row beats it strictly, and each round
    // after the seed scans again
    val base = cloud(5).map(_._2)
    val pts = (0 until 45).map(i => (i.toLong, base(i % 5)))
    val (got, scans) = kCenterRows(pts, 4)
    assert(got === ref(pts, 4))
    assert(scans === 4)
  }

  test("lazy greedy: n <= M scans once; n < k and k = 1 match the reference") {
    val few = cloud(7)
    assert(kCenterRows(few, 2) === ((ref(few, 2), 1)))   // n = 7 <= M = 8
    assert(kCenterRows(few, 10) === ((ref(few, 10), 1))) // n < k
    val pts = cloud(40)
    assert(kCenterRows(pts, 1) === ((ref(pts, 1), 1)))
  }

  test("q_kcenter's build runs the pinned number of jobs on sf0.01") {
    val build = () => SparkEntry.queries("q_kcenter")(spark, "/root/testdata/sf0.01")
    build() // infers and memoises the fixture's schema
    assert(TestSpark.jobsDuring(build())._2 === 4)
  }

  test("q_kcenter's execution runs one job on sf0.01") {
    val df = SparkEntry.queries("q_kcenter")(spark, "/root/testdata/sf0.01")
    // the k rows arrive as one partition declared sorted by sel_rank:
    // the orderBy needs no range sample, shuffle or sort
    assert(TestSpark.jobsDuring(df.collect())._2 === 1)
  }
}
