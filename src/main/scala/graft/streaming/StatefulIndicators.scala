package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Indicators

/** One input bar for the stateful pipeline. */
case class Bar(symbol: String, ts: Long, close: Double)

/** One enriched output row (matches the batch pipeline's columns). */
case class EnrichedBar(symbol: String, ts: Long, close: Double,
    ma5: Option[Double], ma20: Option[Double], rsi: Option[Double],
    macd_line: Double, macd_signal: Double, macd_histogram: Double,
    suggestion: String, reason: String)

/** Per-symbol running state: exactly the O(1)-per-key memory the
  * indicator recursions need — last 19 closes (MA20 needs 20 incl.
  * current), last 13 gains/losses (RSI-14), the previous close, the
  * three EMA accumulators, and the last stepped bar's ts (the
  * ordering guard in [[StatefulIndicators.enrich]]).
  *
  * STATE-SCHEMA COMPATIBILITY: `lastTs` was added after the initial
  * release. flatMapGroupsWithState serializes this case class into
  * the checkpoint, so a query restarted from a checkpoint written by
  * the seven-field schema will fail to decode its state — upgrading
  * across this change requires a FRESH checkpoint directory (or an
  * offline state rewrite), the same cost as [[CusumChartState]]'s
  * `lastTs`.
  */
case class IndicatorState(recentCloses: List[Double],
    recentGains: List[Double], recentLosses: List[Double],
    prevClose: Option[Double],
    ema12: Option[Double], ema26: Option[Double], sig: Option[Double],
    lastTs: Long = Long.MinValue)

/** CONTINUOUS streaming indicators: unlike the reference — whose
  * rolling windows silently restart at every micro-batch boundary
  * (quirk Q7, stock_analysis.py:89-168) — this mode carries per-symbol
  * state across batches with `flatMapGroupsWithState`, so a bar's
  * indicators are identical no matter how the stream was chunked into
  * triggers. Semantics (incl. quirks Q1-Q6) mirror
  * [[graft.operators.Indicators]] exactly; `StatefulIndicatorsSpec`
  * proves bar-for-bar equality with the oracle-verified batch
  * pipeline under multiple batch splits.
  *
  * Scale: state is O(1) per symbol (≈35 doubles); the shuffle key is
  * the symbol, identical to the batch pipeline's partitioning. Bars
  * must arrive in ts order per symbol ACROSS batches (true for the
  * reference's per-run history resends after [[StreamingPipeline
  * .dedupStream]]); within a batch they are sorted here. A bar older
  * than its symbol's last stepped bar fails the task with a contract
  * error — the same contract as [[StreamingCusum.chart]] and
  * [[StreamingSessionize]] (detectable, never silently-wrong
  * indicators).
  */
object StatefulIndicators {

  implicit val barEnc: Encoder[Bar] = Encoders.product[Bar]
  implicit val enrichedEnc: Encoder[EnrichedBar] = Encoders.product[EnrichedBar]
  implicit val stateEnc: Encoder[IndicatorState] = Encoders.product[IndicatorState]
  implicit val stringEnc: Encoder[String] = Encoders.STRING

  private val alpha12 = 2.0 / 13.0
  private val alpha26 = 2.0 / 27.0
  private val alpha9 = 2.0 / 10.0

  private val empty = IndicatorState(Nil, Nil, Nil, None, None, None, None)

  /** Left-associated mean matching [[Indicators.rollingMean]]'s FP
    * order: values are oldest-first, sum = ((v1+v2)+...)+vn.
    */
  private def lagChainMean(oldestFirst: Seq[Double], n: Int): Option[Double] =
    if (oldestFirst.length < n) None
    else Some(oldestFirst.takeRight(n).reduceLeft(_ + _) / n.toDouble)

  /** Advance the state by one bar, emitting the enriched row. */
  private[graft] def step(st: IndicatorState, bar: Bar): (IndicatorState, EnrichedBar) = {
    val closes = (st.recentCloses :+ bar.close).takeRight(20)
    val delta = st.prevClose.map(bar.close - _).getOrElse(0.0) // Q3
    val gain = if (delta > 0.0) delta else 0.0
    val loss = if (delta < 0.0) -delta else 0.0
    val gains = (st.recentGains :+ gain).takeRight(14)
    val losses = (st.recentLosses :+ loss).takeRight(14)

    val ma5 = lagChainMean(closes, 5)
    val ma20 = lagChainMean(closes, 20)
    val rsi = for {
      ag <- lagChainMean(gains, 14)
      al <- lagChainMean(losses, 14)
    } yield {
      val rs = if (al == 0.0) 0.0 else ag / al // Q1
      100.0 - (100.0 / (1.0 + rs))
    }

    def ema(prev: Option[Double], a: Double, x: Double): Double =
      prev match { case Some(e) => a * x + (1.0 - a) * e; case None => x } // Q4
    val e12 = ema(st.ema12, alpha12, bar.close)
    val e26 = ema(st.ema26, alpha26, bar.close)
    val line = e12 - e26
    val sig = ema(st.sig, alpha9, line)
    val hist = line - sig

    // Q5/Q6: null-indicator comparisons are false → default HOLD
    val (sug, reason) = (ma5, ma20, rsi) match {
      case (Some(m5), Some(m20), Some(r)) =>
        if (m5 > m20 && r < 70.0 && line > sig) ("BUY", Indicators.ReasonBuy)
        else if (m5 > m20 && r >= 70.0) ("HOLD/SELL", Indicators.ReasonHoldSell)
        else if (m5 < m20 && r <= 30.0 && line > sig) ("WATCH/BUY", Indicators.ReasonWatchBuy)
        else if (m5 < m20 && line <= sig) ("SELL/AVOID", Indicators.ReasonSellAvoid)
        else ("HOLD", Indicators.ReasonHold)
      case _ => ("HOLD", Indicators.ReasonHold)
    }

    val next = IndicatorState(closes.takeRight(19).toList,
      gains.takeRight(13).toList, losses.takeRight(13).toList,
      Some(bar.close), Some(e12), Some(e26), Some(sig), bar.ts)
    (next, EnrichedBar(bar.symbol, bar.ts, bar.close, ma5, ma20, rsi,
      line, sig, hist, sug, reason))
  }

  /** MEMORY BOUND: materializes one group to sort it by ts (arrival
    * order within a micro-batch is arbitrary). In streaming this is
    * bounded by the micro-batch slice of one symbol (cap with
    * maxOffsetsPerTrigger); for FULL-HISTORY batch reprocessing use
    * [[enrichSortedScan]], which buffers nothing.
    */
  private def processGroup(symbol: String, rows: Iterator[Bar],
      state: GroupState[IndicatorState]): Iterator[EnrichedBar] = {
    var st = state.getOption.getOrElse(empty)
    val out = rows.toSeq.sortBy(_.ts).map { bar =>
      if (bar.ts < st.lastTs)
        throw new IllegalStateException(
          s"out-of-order bar for symbol $symbol: ts=${bar.ts} < " +
            s"last=${st.lastTs} — StatefulIndicators requires per-symbol " +
            "ts-ordered arrival across micro-batches")
      val (next, enriched) = step(st, bar)
      st = next
      enriched
    }
    state.update(st)
    out.iterator
  }

  /** Apply to a (streaming or batch) Dataset[Bar]. Append output mode:
    * each bar's enriched row is final once emitted.
    */
  def enrich(bars: Dataset[Bar]): Dataset[EnrichedBar] =
    bars.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        processGroup _)

  /** Batch-mode enrichment with NO per-group materialization: one
    * shuffle on symbol, a secondary sort (symbol, ts) WITHIN
    * partitions (Spark's external sort — spills, never OOMs), then the
    * same [[step]] state machine streamed lazily over each partition's
    * iterator, resetting at symbol boundaries. A monster symbol whose
    * full history would not fit on-heap as a Seq streams through in
    * O(1) state (~35 doubles) — this is the 100 TB reprocessing path;
    * [[enrich]] remains the streaming path (its per-group buffer is
    * bounded by the micro-batch).
    *
    * Output is bar-for-bar FP-identical to [[enrich]] and to the batch
    * window pipeline (same `step`, same order) — q_ind_scan puts this
    * path under the same DuckDB oracle as q_ind_full.
    */
  def enrichSortedScan(bars: Dataset[Bar]): Dataset[EnrichedBar] = {
    import org.apache.spark.sql.functions.col
    bars
      .repartition(col("symbol"))
      .sortWithinPartitions(col("symbol"), col("ts"))
      .mapPartitions { it =>
        var cur: String = null
        var st = empty
        it.map { bar =>
          if (cur == null || bar.symbol != cur) { cur = bar.symbol; st = empty }
          val (next, enriched) = step(st, bar)
          st = next
          enriched
        }
      }(enrichedEnc)
  }
}
