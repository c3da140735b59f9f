package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Bar, StatefulIndicators}

/** The continuous streaming mode must produce EXACTLY the rows the
  * oracle-verified batch pipeline produces, regardless of how the
  * stream was chunked into micro-batches (the property the reference
  * lacks — quirk Q7).
  */
class StatefulIndicatorsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private val bars = (for {
    sym <- Seq("AAA", "BBB")
    i <- 0 until 60
  } yield Bar(sym, i.toLong, 100.0 + rnd.nextGaussian() * 4.0)).toList

  private def batchReference: Seq[Seq[Any]] = {
    val df = bars.toDF()
    graft.operators.Indicators
      .enrich(df, col("symbol"), Seq(col("ts")), col("close"))
      .orderBy("symbol", "ts")
      .select("symbol", "ts", "close", "ma5", "ma20", "rsi",
        "macd_line", "macd_signal", "macd_histogram", "suggestion", "reason")
      .collect().map(_.toSeq).toSeq
  }

  private def normalize(rows: Seq[graft.streaming.EnrichedBar]): Seq[Seq[Any]] =
    rows.sortBy(r => (r.symbol, r.ts)).map(r => Seq(r.symbol, r.ts, r.close,
      r.ma5.orNull, r.ma20.orNull, r.rsi.orNull,
      r.macd_line, r.macd_signal, r.macd_histogram, r.suggestion, r.reason))

  test("batch-mode equivalence: stateful enrich == window-pipeline enrich") {
    val out = StatefulIndicators.enrich(bars.toDS()).collect().toSeq
    assert(normalize(out) === batchReference)
  }

  test("streaming: indicators are continuous across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Bar]
    val query = StatefulIndicators.enrich(stream.toDS())
      .writeStream.format("memory").queryName("stateful_out")
      .outputMode("append").start()
    try {
      // chunk the same bars into 4 uneven micro-batches
      val chunks = Seq(bars.take(7), bars.slice(7, 30),
        bars.slice(30, 31), bars.drop(31))
      chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
    } finally query.stop()
    val out = spark.table("stateful_out").as[graft.streaming.EnrichedBar]
      .collect().toSeq
    assert(normalize(out) === batchReference)
  }

  test("enrichSortedScan == enrich (zero-buffer scan path, multi-symbol)") {
    val scan = StatefulIndicators.enrichSortedScan(bars.toDS()).collect().toSeq
    assert(normalize(scan) === batchReference)
  }

  test("enrichSortedScan streams one 50k-bar monster symbol without buffering") {
    // one symbol's entire history through the lazy per-partition state
    // machine: O(1) state, no per-group Seq — and bar-for-bar equal to
    // the driver-side step() fold
    val r = new scala.util.Random(7)
    val monster = (0 until 50000).map(i =>
      Bar("MONSTER", i.toLong, 100.0 + r.nextGaussian() * 4.0))
    val out = StatefulIndicators.enrichSortedScan(monster.toDS())
      .collect().toSeq.sortBy(_.ts)
    val expected = monster.foldLeft(
      (graft.streaming.IndicatorState(Nil, Nil, Nil, None, None, None, None),
        List.newBuilder[graft.streaming.EnrichedBar])) {
      case ((st, acc), bar) =>
        val (next, row) = StatefulIndicators.step(st, bar)
        acc += row
        (next, acc)
    }._2.result()
    assert(out.size === 50000)
    assert(out === expected)
  }

  test("checkpoint RESTART: indicator state survives a stop/restart — " +
      "post-restart bars continue the SAME MA/EMA chains") {
    // round-15 (r14 verdict #4): the retiring-HLL and novelty shapes
    // got real stop/restart pins in r14; this extends the pattern to
    // the indicator twin. Split the corpus across a restart — the
    // second half's MA20/EMA values depend on first-half state, so
    // equality with the one-shot batch reference proves the keyed
    // state round-tripped through the checkpoint (with lost state
    // every post-restart EMA chain would restart from its seed).
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ind-ckpt").toString
    val stream = MemoryStream[Bar]
    val buf = java.util.Collections.synchronizedList(
      new java.util.ArrayList[graft.streaming.EnrichedBar]())
    def startQ() = StatefulIndicators.enrich(stream.toDS())
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[graft.streaming.EnrichedBar],
            _: Long) =>
          buf.addAll(java.util.Arrays.asList(ds.collect(): _*)); ()
      }
      .start()
    val q1 = startQ()
    try { stream.addData(bars.take(70)); q1.processAllAvailable() }
    finally q1.stop()
    val afterRun1 = buf.size()
    assert(afterRun1 === 70, "first run must emit one row per bar")
    val q2 = startQ()
    try {
      // a restart with no new data must re-emit nothing (the last
      // batch committed before the stop)
      q2.processAllAvailable()
      assert(buf.size() === afterRun1,
        "restart replayed a committed batch")
      stream.addData(bars.drop(70)); q2.processAllAvailable()
    } finally q2.stop()
    import scala.jdk.CollectionConverters._
    assert(normalize(buf.asScala.toSeq) === batchReference,
      "rows across the restart must equal the one-shot batch pipeline")
  }

  test("chunking invariance: any split of the stream gives identical rows") {
    val whole = StatefulIndicators.enrich(bars.toDS()).collect().toSeq
    // simulate per-batch state carry by folding step() over chunks
    val bySym = bars.groupBy(_.symbol)
    val replay = bySym.values.flatMap { symBars =>
      symBars.sortBy(_.ts)
        .foldLeft((graft.streaming.IndicatorState(Nil, Nil, Nil, None, None, None, None),
          List.empty[graft.streaming.EnrichedBar])) {
          case ((st, acc), bar) =>
            val (next, row) = StatefulIndicators.step(st, bar)
            (next, acc :+ row)
        }._2
    }.toSeq
    assert(normalize(whole) === normalize(replay))
  }

  test("cross-batch ordering violation is DETECTABLE — the query fails " +
      "with the contract error, never silently-wrong indicators") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Bar]
    val query = StatefulIndicators.enrich(stream.toDS())
      .writeStream.format("memory").queryName("stateful_late")
      .outputMode("append").start()
    try {
      stream.addData(Seq(Bar("ZZZ", 5000L, 10.0), Bar("ZZZ", 6000L, 11.0)))
      query.processAllAvailable()
      // a bar OLDER than ZZZ's last stepped ts arrives later
      stream.addData(Seq(Bar("ZZZ", 4000L, 12.0)))
      val e = intercept[Exception] { query.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("out-of-order bar")),
        s"expected the contract error, got: ${messages(e)}")
    } finally query.stop()
  }
}
