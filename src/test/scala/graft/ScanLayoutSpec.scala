package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Packing

/** The layout a prefix scan declares is the layout its rows have.
  * `Packing`'s scans return a relation declared range partitioned and
  * ascending on the order column, so the planner drops the Exchange and
  * Sort an `orderBy` would add. A false declaration would return
  * misordered rows, not fail, so each claim is checked on the rows:
  * every partition sorted on the key, partition key ranges increasing,
  * and `orderBy(key)` planning neither an Exchange nor a Sort while
  * returning exactly the sequential reference. Input partitioning,
  * shuffle partitions and AQE all vary.
  */
class ScanLayoutSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  import spark.implicits._

  // unique keys in scrambled order; every fifth value NULL
  private val rows = (0 until 600).map { i =>
    (((i * 7919L) % 1000) - 300, Option.when(i % 5 != 0)((i * 37L) % 91 - 40))
  }
  private val byKey = rows.sortBy(_._1)
  private val nonNull = byKey.flatMap(_._2)

  private def withConf[T](shufflePartitions: Int, aqe: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val old = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set(keys(0), shufflePartitions.toLong)
    spark.conf.set(keys(1), aqe)
    try body finally old.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Checks `out`'s layout on column `k` (its first column) and returns
    * its rows in `orderBy("k")` order.
    */
  private def checkLayout(out: DataFrame, what: String): Array[org.apache.spark.sql.Row] = {
    val parts = out.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toArray)).collect()
    parts.foreach(p => assert(p.toSeq === p.sorted.toSeq, s"$what: a partition is unsorted"))
    val bounds = parts.filter(_.nonEmpty).map(p => (p.head, p.last))
    bounds.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, s"$what: key ranges overlap")
      case _ => ()
    }
    val ordered = out.orderBy("k")
    val got = ordered.collect()
    val nodes = collectWithSubqueries(ordered.queryExecution.executedPlan) { case p => p }
    assert(!nodes.exists(n => n.isInstanceOf[Exchange] || n.isInstanceOf[SortExec]),
      s"$what: orderBy(k) plans an exchange or a sort:\n${ordered.queryExecution.executedPlan}")
    assert(got.map(_.getLong(0)).toSeq === byKey.map(_._1), what)
    got
  }

  for (inParts <- Seq(1, 7, 64); shufflePartitions <- Seq(1, 64); aqe <- Seq(true, false)) {
    val what = s"input $inParts, shuffle $shufflePartitions, AQE $aqe"

    test(s"withGlobalCumsum declares a true layout ($what)") {
      withConf(shufflePartitions, aqe) {
        val in = rows.toDF("k", "v").repartition(inParts)
        val got = checkLayout(
          Packing.withGlobalCumsum(in, col("k"), Seq(col("v") -> "cum")), what)
          .map(r => (r.getAs[Long]("cum"), Option(r.getAs[java.lang.Long]("cum_total"))))
        val expected = byKey.scanLeft(0L)(_ + _._2.getOrElse(0L)).init
        assert(got.map(_._1).toSeq === expected)
        assert(got.forall(_._2.contains(nonNull.sum)))
      }
    }

    test(s"withGlobalPrefixMax declares a true layout ($what)") {
      withConf(shufflePartitions, aqe) {
        val in = rows.toDF("k", "v").withColumn("v", col("v").cast("double"))
          .repartition(inParts)
        val got = checkLayout(
          Packing.withGlobalPrefixMax(in, col("k"), col("v"), "pm"), what)
          .map(r => Option(r.getAs[java.lang.Double]("pm")).map(_.doubleValue))
        val expected = byKey.scanLeft(Option.empty[Double]) { case (m, (_, v)) =>
          (m ++ v.map(_.toDouble)).maxOption
        }.init
        assert(got.toSeq === expected)
      }
    }
  }
}
