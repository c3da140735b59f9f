package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Parse, StreamingPipeline}

/** Pins that a repeated job reuses its generated code. The reference is
  * a recurring DAG: every run executes the same plans again, so after one
  * cycle every whole-stage class must come from Spark's codegen cache,
  * which [[Sessions]] sizes to hold the engine's working set. With
  * Spark's default of 100 entries, each cycle below evicts its own
  * classes before it reuses them and compiles all of them again; with
  * the codegen stage id in class names, `q_gate_tradeoff`'s second run
  * numbers four stages differently and compiles them again.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  /** Driver-loop queries and single-pass scan, kernel and join queries. */
  private val queries =
    Seq("q_kcenter", "q_gate_tradeoff", "q_ind_full", "q_hash_classifier", "q_join_star")

  /** One micro-batch of history documents, as one DAG run delivers it. */
  private val batch: DataFrame = {
    val days = (1 to 30).map(i => f"2024-01-$i%02d")
    Seq("AAA", "BBB", "CCC").zipWithIndex.map { case (symbol, s) =>
      val hist = days.zipWithIndex.map { case (time, i) =>
        val close = 10.0 + s + math.sin(i + s)
        s"""{"time":"$time","open":${close - 0.5},"high":${close + 1.0},""" +
          s""""low":${close - 1.0},"close":$close,"volume":${1000 + i}.0}"""
      }.mkString("[", ",", "]")
      s"""{"symbol":"$symbol","current_price":${10.5 + s},"historical_data":$hist}"""
    }.toDF("value")
  }

  private def cycle(): Unit = {
    queries.foreach(q =>
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save())
    StreamingPipeline.toKafkaRecords(StreamingPipeline.enrichBatch(Parse.parse(batch)))
      .write.format("noop").mode("overwrite").save()
  }

  /** Classes compiled so far in this JVM. */
  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session's codegen cache size is the Sessions constant") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Sessions.CodegenCacheEntries.toString)
  }

  test("a repeated cycle of queries and a micro-batch compiles no new classes") {
    cycle()
    val before = compiled()
    cycle()
    assert(compiled() - before === 0L)
  }
}
