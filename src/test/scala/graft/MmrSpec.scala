package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Mmr

/** MMR diverse top-k pinned against a sequential greedy reference on
  * quantized integers (the exactness contract: same quantization, same
  * λ=1/2 integer objective, ties to the lowest id).
  */
class MmrSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // deterministic small corpus: 30 vectors, dim 8, values in [-1, 1]
  private val dim = 8
  private val vecs: Seq[(Long, Seq[Float])] = (0L until 30L).map { i =>
    (i, (0 until dim).map { j =>
      (((i * 31 + j * 17) % 200) - 100) / 100.0f
    })
  }

  private def quant(v: Seq[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray

  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => x * y }.sum

  /** Sequential greedy MMR reference. */
  private def ref(queryId: Long, k: Int,
      vs: Seq[(Long, Seq[Float])] = vecs): Seq[(Long, Long, Long, Long)] = {
    val q = vs.map { case (i, v) => (i, quant(v)) }.toMap
    val qv = q(queryId)
    val pool = vs.map(_._1).filter(_ != queryId)
    var selected = List.empty[Array[Long]]
    var selIds = Set.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    for (t <- 1 to (k min pool.size)) {
      val cands = pool.filterNot(selIds)
      val scored = cands.map { i =>
        val rel = dot(qv, q(i))
        val red = if (selected.isEmpty) 0L
          else selected.map(c => dot(c, q(i))).max
        (i, rel, red)
      }
      val (wi, wrel, wred) = scored.minBy { case (i, rel, red) =>
        (-(rel - red), i) }
      out += ((t.toLong, wi, wrel, wred))
      selected = q(wi) :: selected
      selIds += wi
    }
    out.toSeq
  }

  test("diverseTopK matches the sequential greedy reference") {
    val df = vecs.toDF("vec_id", "embedding")
    val got = Mmr.diverseTopK(df, col("vec_id"), col("embedding"),
        queryId = 0L, k = 8)
      .orderBy("sel_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === ref(0L, 8))
  }

  test("rank 1 is the pure-relevance argmax with red = 0; mmr " +
      "column is rel - red") {
    val df = vecs.toDF("vec_id", "embedding")
    val rows = Mmr.diverseTopK(df, col("vec_id"), col("embedding"),
        queryId = 3L, k = 5)
      .orderBy("sel_rank").collect()
    assert(rows.head.getAs[Long]("red") === 0L)
    rows.foreach { r =>
      assert(r.getAs[Long]("mmr") ===
        r.getAs[Long]("rel") - r.getAs[Long]("red"))
    }
    // selected ids are distinct and never the query
    val ids = rows.map(_.getAs[Long]("id"))
    assert(ids.distinct.length === ids.length)
    assert(!ids.contains(3L))
  }

  test("diverseTopK is invariant under partitioning and returns the " +
      "whole pool when k exceeds it") {
    val small = vecs.take(5).toDF("vec_id", "embedding")
    val a = Mmr.diverseTopK(small.repartition(1), col("vec_id"),
      col("embedding"), 0L, 10).collect().map(_.toSeq).toSeq
    val b = Mmr.diverseTopK(small.repartition(7), col("vec_id"),
      col("embedding"), 0L, 10).collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.length === 4) // pool of 5 minus the query vector
  }

  private def run(vs: Seq[(Long, Seq[Float])], queryId: Long, k: Int) =
    TestSpark.jobsDuring(Mmr.diverseTopK(vs.toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), queryId, k))
      match { case (df, jobs) =>
        (df.orderBy("sel_rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSeq, jobs) }

  // The build's jobs are the query-vector lookup plus the greedy's pool
  // scans: quantizing a local relation and returning the k rows run none.

  test("lazy greedy: kept rows serve later rounds without a scan") {
    val (got, jobs) = run(vecs, 0L, 3)
    assert(got === ref(0L, 3))
    assert(jobs === 1 + 2) // the first round's scan bounds nothing
  }

  test("lazy greedy: a tie at the (M+1)-th score rescans") {
    // every pool vector is the same, so every score ties
    val same = vecs.map { case (i, v) => (i, if (i == 0L) v else vecs(1)._2) }
    val (got, jobs) = run(same, 0L, 3)
    assert(got === ref(0L, 3, same))
    assert(got.map(_._2) === Seq(1L, 2L, 3L))
    assert(jobs === 1 + 3)
  }

  test("lazy greedy: n <= M scans once; n < k and k = 1 match the reference") {
    assert(run(vecs, 0L, 8) === ((ref(0L, 8), 1 + 1))) // pool 29 <= M = 32
    val small = vecs.take(5)                            // pool 4 < k
    assert(run(small, 0L, 10) === ((ref(0L, 10, small), 1 + 1)))
    assert(run(vecs, 0L, 1) === ((ref(0L, 1), 1 + 1)))
  }

  test("q_mmr's build runs the pinned number of jobs on sf0.01") {
    val build = () => SparkEntry.queries("q_mmr")(spark, "/root/testdata/sf0.01")
    build() // infers and memoises the fixture's schema
    assert(TestSpark.jobsDuring(build())._2 === 5)
  }

  test("q_mmr's execution runs one job on sf0.01") {
    val df = SparkEntry.queries("q_mmr")(spark, "/root/testdata/sf0.01")
    // the k rows arrive as one partition declared sorted by sel_rank:
    // the orderBy needs no range sample, shuffle or sort
    assert(TestSpark.jobsDuring(df.collect())._2 === 1)
  }
}
