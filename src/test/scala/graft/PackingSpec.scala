package graft

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Packing}

/** Goldens for the LLM-pipeline packing (distributed prefix sum,
  * concatenate-then-chunk) and benchmark-decontamination operators.
  */
class PackingSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** The shape of a prefix scan over a shuffle-free input: the executed
    * (AQE-final) plan holds no window and no exchange of any kind, the
    * rows' lineage exactly one shuffle, over more than one partition
    * (no single-task pass over the data), and the result declares range
    * partitioning and ascending order on `key` — a declaration
    * ScanLayoutSpec checks is true.
    */
  private def assertOneRangeShuffle(df: DataFrame, key: String): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), plan.toString)
    assert(!nodes.exists(_.isInstanceOf[Exchange]), plan.toString)
    def shuffles(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
      rdd.dependencies.flatMap {
        case s: ShuffleDependency[_, _, _] => s +: shuffles(s.rdd)
        case d => shuffles(d.rdd)
      }
    val deps = shuffles(df.queryExecution.toRdd)
    assert(deps.size === 1, df.queryExecution.toRdd.toDebugString)
    assert(deps.head.partitioner.numPartitions > 1)
    // AQE may coalesce a small scan's ranges into one partition
    val Seq(o) = plan.outputOrdering
    assert(o.child.asInstanceOf[Attribute].name === key && o.direction === Ascending)
    plan.outputPartitioning match {
      case RangePartitioning(Seq(r), _) => assert(r.semanticEquals(o))
      case SinglePartition => ()
      case other => fail(s"declared $other, not range partitioning on $key")
    }
  }

  test("globalCumsum equals the sequential scan under any partitioning") {
    val n = 1000
    val vals = (0 until n).map(i => (i.toLong, ((i * 37) % 91 + 1).toLong))
    val expected = vals.scanLeft(0L)(_ + _._2).init // exclusive prefix
    for (parts <- Seq(1, 3, 8)) {
      val got = Packing.withGlobalCumsum(
          vals.toDF("id", "v").repartition(parts), col("id"), col("v"), "cum")
        .select("id", "cum").as[(Long, Long)].collect()
        .sortBy(_._1).map(_._2).toSeq
      assert(got === expected, s"parts=$parts")
    }
  }

  test("a multi-value cumsum equals one single-value call per value, the " +
      "sequential scan and, in each _total, the column sum") {
    val rows = (0 until 500).map(i =>
      (i.toLong, ((i * 37) % 91 + 1).toLong, ((i * 53) % 17 - 8).toLong))
    val (as, bs) = (rows.map(_._2), rows.map(_._3))
    for (parts <- Seq(1, 19)) {
      val df = rows.toDF("id", "a", "b").repartition(parts)
      val multi = Packing.withGlobalCumsum(df, col("id"),
          Seq(col("a") -> "ca", col("b") -> "cb"))
        .select("id", "ca", "cb", "ca_total", "cb_total")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      val single = Packing.withGlobalCumsum(
          Packing.withGlobalCumsum(df, col("id"), col("a"), "ca"),
          col("id"), col("b"), "cb")
        .select("id", "ca", "cb").as[(Long, Long, Long)].collect()
        .sortBy(_._1).toSeq
      assert(multi.map(r => (r._1, r._2, r._3)) === single, s"parts=$parts")
      assert(multi.map(_._2) === as.scanLeft(0L)(_ + _).init, s"parts=$parts")
      assert(multi.map(_._3) === bs.scanLeft(0L)(_ + _).init, s"parts=$parts")
      assert(multi.forall(r => r._4 == as.sum && r._5 == bs.sum), s"parts=$parts")
    }
  }

  test("a multi-value cumsum of an empty input is empty") {
    val df = Seq.empty[(Long, Long, Long)].toDF("id", "a", "b")
    val out = Packing.withGlobalCumsum(df, col("id"),
      Seq(col("a") -> "ca", col("b") -> "cb"))
    assert(out.columns.toSeq === Seq("id", "a", "b", "ca", "ca_total", "cb", "cb_total"))
    assert(out.collect().isEmpty)
  }

  test("a multi-value scan plans no window and no exchange; one range shuffle") {
    val df = Packing.withGlobalCumsum(
      (0 until 100).map(i => (i.toLong, i.toLong, 1L)).toDF("id", "a", "b"),
      col("id"), Seq(col("a") -> "ca", col("b") -> "cb"))
    assertOneRangeShuffle(df, "id")
  }

  test("packChunks: exact chunk ids and offsets at a tiny budget") {
    // tokens 3,4,5,6 with budget 8: cum_before 0,3,7,12 →
    // chunks 0,0,0,1 and offsets 0,3,7,4
    val df = Seq((0L, "a b c"), (1L, "a b c d"), (2L, "a b c d e"),
      (3L, "a b c d e f")).toDF("doc_id", "text")
    val out = Packing.packChunks(
        df.select(col("doc_id"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tokens")),
        col("doc_id"), col("n_tokens"), chunkTokens = 8)
      .select("doc_id", "cum_before", "chunk_id", "chunk_off")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq((0L, 0L, 0L, 0L), (1L, 3L, 0L, 3L),
      (2L, 7L, 0L, 7L), (3L, 12L, 1L, 4L)))
  }

  test("scans over documents run no single-task window or exchange") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    assertOneRangeShuffle(Packing.withGlobalCumsum(
      docs.select(col("doc_id"), lit(1L).as("v")), col("doc_id"), col("v"),
      "cum"), "doc_id")
    assertOneRangeShuffle(Packing.withGlobalPrefixMax(
      docs.select(col("doc_id"), length(col("text")).as("v")), col("doc_id"),
      col("v"), "pm"), "doc_id")
  }

  test("slidingChunks: window/stride coverage, last chunk clamped") {
    // n=5,w=4,s=2: k=ceil(1/2)+1=2 -> [0,4),[2,5)
    // n=4: k=1 -> [0,4)
    // n=9,w=4,s=2: k=ceil(5/2)+1=4 -> starts 0,2,4,6; ends 4,6,8,9
    val df = Seq((0L, 5L), (1L, 4L), (2L, 9L), (3L, 1L)).toDF("id", "nt")
    val out = Packing.slidingChunks(df, col("id"), col("nt"), 4, 2)
      .select("doc_id", "chunk_idx", "tok_start", "tok_end")
      .as[(Long, Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(
      (0L, 0L, 0L, 4L), (0L, 1L, 2L, 5L),
      (1L, 0L, 0L, 4L),
      (2L, 0L, 0L, 4L), (2L, 1L, 2L, 6L), (2L, 2L, 4L, 8L), (2L, 3L, 6L, 9L),
      (3L, 0L, 0L, 1L)))
    // every token position < n is covered by some chunk
    val covered = out.filter(_._1 == 2L)
      .flatMap { case (_, _, s0, e0) => s0 until e0 }.toSet
    assert(covered === (0L until 9L).toSet)
  }

  test("contaminated flags exactly the docs sharing >= minShared grams") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // shares 5 trigrams of the benchmark doc (same 7-word prefix)
      (0L, "alpha beta gamma delta epsilon zeta eta something else entirely"),
      // shares 2 trigrams only — below the threshold of 3
      (1L, "alpha beta gamma delta unrelated words here"),
      (2L, "no overlap with anything at all whatsoever"),
    ).toDF("doc_id", "text")
    val out = Dedup.contaminated(corpus, bench, col("doc_id"), col("text"),
        n = 3, minShared = 3)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(out === Seq((0L, 5L)))
  }
}
