package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fixture drift contract: the driver regenerates the parquet
  * fixtures between rounds and has shipped the same logical column
  * under different physical types (events.ts: TIMESTAMP(NANOS) in
  * rounds ≤6, TIMESTAMP(MICROS) in round 7). Tables must (a) accept
  * every encoding that has actually shipped, normalizing to the one
  * canonical unit, and (b) refuse anything else AT LOAD with a clear
  * message — not three stages later as an opaque hash mismatch.
  */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("tables_spec").toString

  // epoch-µs instants; ns = ×1000 — one hour of per-minute points
  private val baseUs: Long = 1700000000000000L
  private val rows: Seq[(Long, Long, Long, String, Double, String)] =
    (0 until 60).map { i =>
      (i.toLong, baseUs + i * 60000000L, (i % 3).toLong,
        s"type_${i % 4}", i * 1.5, s"""{"i":$i}""")
    }

  /** The same events table twice: ts as int64 epoch-ns (what
    * TIMESTAMP(NANOS) resolves to under nanosAsLong) and ts as a real
    * µs timestamp (the round-7 regeneration). */
  private def writeNs(dir: String): Unit =
    rows.map { case (id, us, u, t, v, p) => (id, us * 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")

  private def writeUs(dir: String): Unit =
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")

  test("ns- and µs-typed events fixtures load to identical output") {
    val (dNs, dUs) = (tmpDir(), tmpDir())
    writeNs(dNs); writeUs(dUs)
    assert(spark.read.parquet(s"$dUs/events.parquet")
      .schema("ts").dataType.typeName.startsWith("timestamp"))
    def run(d: String) = Tables.events(spark, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("lo"),
        max(col("ts")).as("hi"), sum(col("value")).as("sv"))
      .orderBy("event_type").collect().toSeq
    val (a, b) = (run(dNs), run(dUs))
    assert(a === b)
    // and the canonical unit really is epoch-ns
    assert(Tables.events(spark, dNs).schema("ts").dataType.typeName === "long")
    assert(a.head.getLong(2) === baseUs * 1000L)
  }

  test("unknown ts drift fails at load with a clear message") {
    val d = tmpDir()
    rows.map { case (id, us, u, t, v, p) => (id, us.toString, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$d/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, d))
    assert(e.getMessage.contains("fixture drift"))
    assert(e.getMessage.contains("events.ts"))
  }

  test("missing column fails at load naming the column") {
    val d = tmpDir()
    rows.map { case (id, us, u, t, v, _) => (id, us, u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$d/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, d))
    assert(e.getMessage.contains("fixture drift"))
    assert(e.getMessage.contains("'props'"))
  }

  test("real fixtures pass every table contract") {
    val d = "/root/testdata/sf0.001"
    Tables.names.foreach { n =>
      // load + schema resolution is where the contract fires
      Tables.table(spark, d, n).schema
    }
    // events normalization yields the ns contract on the live fixture
    assert(Tables.events(spark, d).schema("ts").dataType.typeName === "long")
  }

  test("a table's schema is inferred once per version of its file") {
    val d = tmpDir()
    writeNs(d)
    Tables.events(spark, d)
    assert(TestSpark.jobsDuring(Tables.events(spark, d))._2 === 0)
    // rewritten at the same path with ts as a string: inferred again, and
    // the drift contract still refuses it
    rows.map { case (id, us, u, t, v, p) => (id, us.toString, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val (e, jobs) = TestSpark.jobsDuring(
      intercept[IllegalStateException](Tables.events(spark, d)))
    assert(jobs > 0)
    assert(e.getMessage.startsWith("fixture drift: events.ts is string, expected instant"))
  }
}
