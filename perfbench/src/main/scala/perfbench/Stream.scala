package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{Parse, StreamingPipeline}

/** The reference's production path, MemoryStream[String] → `Parse.parse`
  * → `dedupStream` → `StreamingPipeline.start` (foreachBatch: enrichBatch
  * → toKafkaRecords) → a sink owned by the benchmark, which collects the
  * records to the driver in place of the Kafka producer (the Kafka
  * connector is not part of the build).
  *
  * A trigger is one DAG run: the client adds that trigger's documents from
  * `<work>/stream/` and waits in `processAllAvailable`. Trigger 0 carries
  * every symbol's initial history. [[check]] compares every replayed
  * trigger's records with the batch path, toKafkaRecords(enrichBatch(parse(
  * survivors))), applied to the bars the generator says survive it.
  */
final class Replay(spark: SparkSession, run: Main.Run, ledger: Option[Ledger]) {
  import Main._

  val docs: IndexedSeq[Array[String]] = docsOf("docs.jsonl")
  private val counts = json.readTree(new java.io.File(s"${run.work}/stream/counts.json"))
  val barsIn: IndexedSeq[Long] = docs.indices.map(t => counts.get("bars").get(t).asLong)

  private val records = mutable.Map[Int, mutable.ArrayBuffer[(String, String)]]()
  private val batchTrigger = mutable.TreeMap[Long, Int]()
  @volatile private var current = 0
  @volatile private var triggerSpan: Span = null
  private val triggerSpans = mutable.ArrayBuffer[Span]()
  /** Triggers replayed so far; the next trigger is `replayed`. */
  var replayed = 0

  private val stream = MemoryStream[String](spark, run.cores)(Encoders.STRING)
  private val query = StreamingPipeline.start(
      StreamingPipeline.dedupStream(Parse.parse(stream.toDF())),
      s"${run.work}/checkpoint", Trigger.ProcessingTime(0L), "perfbench-replay") {
    (batch: DataFrame, batchId: Long) =>
      val t = current
      batchTrigger.synchronized(batchTrigger(batchId) = t)
      span(ledger, "sink", triggerSpan) { _ =>
        val rows = batch.collect().map(r => (r.getString(0), r.getString(1)))
        records.synchronized(records.getOrElseUpdate(t, mutable.ArrayBuffer()) ++= rows)
      }
  }

  def hasNext: Boolean = replayed < docs.size

  /** Replays the next trigger under `parent`; returns its span (null
    * untraced) and its milliseconds from `addData` until
    * `processAllAvailable` returned.
    */
  def next(parent: Span, out: Outcome): (Span, Double) = {
    val t = replayed
    replayed += 1
    current = t
    span(ledger, s"trigger $t", parent) { ts =>
      triggerSpan = ts
      if (ts != null) triggerSpans += ts
      out.attempted += 1
      val t0 = System.nanoTime()
      try {
        stream.addData(docs(t).toIndexedSeq)
        query.processAllAvailable()
      } catch { case e: Exception => out.fail(s"trigger $t", e) }
      val ms = (System.nanoTime() - t0) / 1e6
      run.log(f"trigger $t: $ms%.0f ms")
      (ts, ms)
    }
  }

  def stop(): Unit = query.stop()

  /** The trigger span that owns micro-batch `batchId`, for [[Ledger.attribute]]. */
  def batchOwner(batchId: Long): Option[Span] =
    batchTrigger.synchronized(batchTrigger.maxBefore(batchId + 1)).map(_._2)
      .flatMap(tr => triggerSpans.find(_.name == s"trigger $tr"))

  /** Samples every `streaming.*` and `state.*` metric of one trigger; call
    * after [[Ledger.attribute]].
    */
  def sampleTrigger(l: Ledger, ts: Span, out: Outcome): Unit = {
    val t = ts.name.stripPrefix("trigger ").toInt
    val recs = records.get(t).map(_.size).getOrElse(0).toDouble
    val derived = Map("streaming.bars_in" -> barsIn(t).toDouble,
      "streaming.records_out" -> recs, "streaming.useful_frac" -> recs / barsIn(t),
      "streaming.sink_ms" -> l.children(ts, "sink").map(_.seconds * 1e3).sum)
    TriggerLayerNames.foreach(k =>
      out.sample(k, derived.getOrElse(k, ts.counts.getOrElse(k, 0.0))))
  }

  /** One array of JSON documents per trigger, from a schedule file. */
  private def docsOf(file: String): IndexedSeq[Array[String]] =
    lines(s"${run.work}/stream/$file").map(json.readValue(_, classOf[Array[String]])).toIndexedSeq

  /** Compares each replayed trigger's records with the batch path over the
    * trigger's surviving bars; a trigger that differs counts as failed.
    * All triggers go through one batch query: each survivor document's
    * symbol is prefixed with its trigger, which keeps enrichBatch's
    * per-symbol windows scoped to one trigger, and the prefix is removed
    * from the records afterwards.
    */
  def check(out: Outcome): Unit = {
    import spark.implicits._
    val survivors = docsOf("survivors.jsonl").take(replayed)
    val tagged = survivors.zipWithIndex.flatMap { case (ds, t) =>
      ds.map(_.replaceFirst("^\\{\"symbol\": \"", s"""{"symbol": "$t~"""))
    }
    val expected = StreamingPipeline.toKafkaRecords(
        StreamingPipeline.enrichBatch(Parse.parse(tagged.toDF("value"))))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy { case (k, _) => k.takeWhile(_ != '~').toInt }
      .map { case (t, rs) => t -> rs.map { case (k, v) =>
        (k.dropWhile(_ != '~').drop(1), v.replaceFirst("\"symbol\":\"[0-9]+~", "\"symbol\":\""))
      }.sorted.toSeq }
    var mismatched = 0
    for (t <- 0 until replayed) {
      val got = records.get(t).map(_.sorted.toSeq).getOrElse(Nil)
      val want = expected.getOrElse(t, Nil)
      if (got != want) {
        mismatched += 1
        if (mismatched <= 3) out.errors +=
          s"trigger $t: ${got.size} records, expected ${want.size}; first differing: " +
            got.diff(want).headOption.orElse(want.diff(got).headOption).getOrElse("")
      }
    }
    out.failed += mismatched
    out.info ++= Seq("triggers" -> replayed,
      "records_out" -> records.valuesIterator.map(_.size).sum,
      "records_expected" -> expected.valuesIterator.map(_.size).sum,
      "triggers_mismatched" -> mismatched)
  }
}

/** `stream_replay` (not in BENCHMARK.json; NOTES.md says why): the replay
  * alone, in a closed loop. The first `Warmup` triggers are set-up; timed
  * passes of `PassTriggers` triggers follow until `seconds` have passed,
  * at least two.
  */
object Stream {
  import Main._

  val Warmup = 8
  val PassTriggers = 6

  def run(spark: SparkSession, run: Run, ledger: Option[Ledger]): Outcome = {
    val out = new Outcome
    val replay = new Replay(spark, run, ledger)
    val root = ledger.map(_.open(run.workload, null)).orNull
    val warm = ledger.map(_.open("warmup", root)).orNull
    (0 until Warmup).foreach(_ => replay.next(warm, out))
    ledger.foreach(_.close(warm))
    out.firstTimedMs = System.currentTimeMillis()
    val timed0 = System.nanoTime()
    val passes = mutable.ArrayBuffer[(Span, Seq[Span], Range)]()
    while (replay.replayed + PassTriggers <= replay.docs.size &&
        (passes.size < 2 || (System.nanoTime() - timed0) / 1e9 < run.seconds)) {
      val range = replay.replayed until replay.replayed + PassTriggers
      span(ledger, s"pass ${passes.size}", root) { pass =>
        val t0 = System.nanoTime()
        val cpu0 = processCpuS()
        val triggers = range.map(_ => replay.next(pass, out))
        out.opMs ++= triggers.map(_._2)
        out.passCpuS += processCpuS() - cpu0
        out.passWallS += (System.nanoTime() - t0) / 1e9
        passes += ((pass, triggers.map(_._1), range))
      }
    }
    out.heapRetainedMb = heapRetainedMb()
    replay.stop()
    ledger.foreach(_.close(root))

    val timed = passes.flatMap(_._3)
    val secsTimed = out.passWallS.sum
    out.info ++= Seq("symbols" -> replay.docs.head.length,
      "bars_per_s" -> timed.map(replay.barsIn).sum / secsTimed,
      "docs_per_s" -> timed.map(replay.docs(_).length).sum / secsTimed)
    replay.check(out)

    ledger.foreach { l =>
      l.finish()
      l.attribute(replay.batchOwner)
      for ((pass, triggers, _) <- passes) {
        passLayers(l, pass, triggers, run.cores, out)
        triggers.foreach(replay.sampleTrigger(l, _, out))
      }
      completeLayers(out)
      l.write(s"${run.work}/ledger.json", Map("workload" -> run.workload, "seed" -> run.seed))
    }
    out
  }
}
