package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Indicators
import graft.streaming.{Bar, EnrichedBar, StatefulIndicators}

/** One catalogue record: how to build the query's result on
  * (session, sfDir), and how the driver checks it.
  */
final case class Query(build: (SparkSession, String) => DataFrame,
    check: Check)

/** A query's check. There is no default: a record must declare one. */
sealed trait Check

/** Equivalent DuckDB SQL over the same parquet tables; the driver
  * hash-compares its result with the query's.
  */
final case class Oracle(sql: String) extends Check

/** No exact oracle exists, for `reason`; the driver checks only that
  * the query returns rows.
  */
final case class NoOracle(reason: String) extends Check

/** Driver contract (SURVEY.md §7).
  *
  * Each [[SparkEntry.catalogue]] record is one operator from SURVEY.md
  * §2 (or an LLM-pipeline extension), expressed Spark-first, with its
  * check written next to its build. An [[Oracle]] is the equivalent
  * ANSI SQL the driver runs in DuckDB over the same parquet tables.
  * Column names and FP operation order are kept identical on both
  * sides (see OracleGen) so the driver's hash compare is exact. The
  * driver reads two views derived from the catalogue: `queries` (every
  * build) and `oracleSql` (every Oracle's SQL).
  */
object SparkEntry {

  /** events as a per-symbol price series (the reference's OHLCV stream
    * stand-in, FIXTURES.md role mapping): symbol=user_id, ts=epoch-µs,
    * close=value. (symbol, ts) is unique in the fixtures.
    *
    * ts: Spark reads the parquet TIMESTAMP(NANOS) column as an int64 of
    * nanoseconds (Tables.events); DuckDB's parquet reader only keeps µs
    * precision, so both sides truncate to epoch-microseconds
    * (`ts DIV 1000` here, `epoch_us(ts)` in the oracle) for an exact
    * integer match.
    */
  private[graft] def bars(s: SparkSession, dir: String): DataFrame = {
    // The driver invokes entry/queries with ITS session, so the UTC
    // session timezone (which makes the events loader's NTZ→LTZ cast
    // the identity) can't be assumed from the builder — pin it here,
    // at the entry boundary (not inside Tables loaders).
    s.conf.set("spark.sql.session.timeZone", "UTC")
    Tables.events(s, dir)
      .select(col("user_id").as("symbol"),
        expr("ts DIV 1000").as("ts"), col("value").as("close"))
  }

  /** [[bars]] plus the props.k integer as a volume stand-in — the tick
    * shape the OHLCV resample and VWAP queries consume (FIXTURES.md:
    * props carries one integer key `k`).
    */
  private def ticks(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.session.timeZone", "UTC")
    Tables.events(s, dir)
      .select(col("user_id").as("symbol"),
        expr("ts DIV 1000").as("tsu"), col("value").as("close"),
        get_json_object(col("props"), "$.k").cast("long").as("vol"))
  }

  private def enriched(s: SparkSession, dir: String): DataFrame =
    Indicators.enrich(bars(s, dir), col("symbol"), Seq(col("ts")), col("close"))

  private def rsiOnly(s: SparkSession, dir: String): DataFrame =
    Indicators.addRsi(bars(s, dir), col("symbol"), Seq(col("ts")), col("close"))

  private def macdOnly(s: SparkSession, dir: String): DataFrame =
    Indicators.addMacd(bars(s, dir), col("symbol"), Seq(col("ts")), col("close"))

  /** [[bars]] through the stateful streaming engine run in batch mode
    * (`enrich` is its flatMapGroupsWithState fold or its sorted-scan
    * path), projected onto q_ind_full's columns.
    */
  private def statefulIndicators(s: SparkSession, dir: String,
      enrich: Dataset[Bar] => Dataset[EnrichedBar]): DataFrame = {
    val ds = bars(s, dir)
      .select(col("symbol").cast("string").as("symbol"), col("ts"),
        col("close"))
      .as[Bar](StatefulIndicators.barEnc)
    enrich(ds).toDF()
      .select(col("symbol").cast("long").as("symbol"), col("ts"),
        col("close"), col("ma5"), col("ma20"), col("rsi"),
        col("macd_line"), col("macd_signal"), col("macd_histogram"),
        col("suggestion"), col("reason"))
      .orderBy("symbol", "ts")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's whole analytical surface in one statement:
    * per-symbol ordered MA5/MA20, RSI-14, MACD(12,26,9), suggestion.
    */
  def entry(spark: SparkSession): DataFrame =
    enriched(spark, "/root/testdata/sf0.001")

  /** Every query with its check: the flagship indicator records below,
    * then [[BatchQueries]], [[LlmQueries]] and [[EvalQueries]].
    */
  val catalogue: Seq[(String, Query)] = assemble(Seq(
    // --- flagship indicator pipeline (SURVEY §2.4-2.5, A4-A6, W1-W4) ---
    "q_ind_ma" -> Query((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("symbol")).orderBy(col("ts"))
      bars(s, dir)
        .withColumn("ma5", Indicators.rollingMean(col("close"), 5, w))
        .withColumn("ma20", Indicators.rollingMean(col("close"), 20, w))
        .orderBy("symbol", "ts")
    },
      Oracle(OracleGen.qIndMa)),
    "q_ind_rsi" -> Query((s, dir) =>
      rsiOnly(s, dir).select("symbol", "ts", "close", "rsi")
        .orderBy("symbol", "ts"),
      Oracle(OracleGen.qIndRsi)),
    "q_ind_macd" -> Query((s, dir) =>
      macdOnly(s, dir)
        .select("symbol", "ts", "macd_line", "macd_signal", "macd_histogram")
        .orderBy("symbol", "ts"),
      Oracle(OracleGen.qIndMacd)),
    "q_ind_full" -> Query((s, dir) =>
      enriched(s, dir)
        .select("symbol", "ts", "close", "ma5", "ma20", "rsi",
          "macd_line", "macd_signal", "macd_histogram", "suggestion", "reason")
        .orderBy("symbol", "ts"),
      Oracle(OracleGen.qIndFull)),

    // Bollinger bands BB(20, 2): the rolling stddev is the explicit
    // left-associated squared-deviation chain (see Indicators.
    // addBollinger's exactness contract), so the band columns are
    // hash-gateable doubles, not approximately-equal ones.
    "q_ind_bbands" -> Query((s, dir) =>
      Indicators.addBollinger(bars(s, dir), col("symbol"), Seq(col("ts")),
          col("close"))
        .select("symbol", "ts", "close", "bb_mid", "bb_sd", "bb_upper",
          "bb_lower", "pct_b")
        .orderBy("symbol", "ts"),
      Oracle(OracleGen.qIndBbands)),

    // Stochastic oscillator %K(14)/%D(3), close-only variant —
    // comparison-only frame min/max plus one fixed arithmetic
    // expression; min_periods via the frame-count gate.
    "q_ind_stoch" -> Query((s, dir) =>
      Indicators.addStochastic(bars(s, dir), col("symbol"), Seq(col("ts")),
          col("close"))
        .select("symbol", "ts", "close", "stoch_k", "stoch_d")
        .orderBy("symbol", "ts"),
      Oracle(OracleGen.qIndStoch)),

    // Per-symbol maximum drawdown: running peak is comparison-only,
    // the dip ratio one fixed expression — fully hash-gateable.
    "q_drawdown" -> Query((s, dir) =>
      graft.operators.Finance.drawdownProfile(bars(s, dir), col("symbol"),
          col("ts"), col("close"))
        .withColumnRenamed("_sym", "symbol")
        .orderBy("symbol"),
      Oracle(OracleGen.qDrawdown)),

    // Interval-weighted TWAP with decimal-exact accumulation — see
    // Finance.twap's exactness contract.
    "q_twap" -> Query((s, dir) =>
      graft.operators.Finance.twap(bars(s, dir), col("symbol"),
          col("ts"), col("close"))
        .withColumnRenamed("_sym", "symbol")
        .orderBy("symbol"),
      Oracle(OracleGen.qTwap)),

    // Tick→bar downsampling: hourly OHLCV per symbol. Prices are
    // comparison-selected (min_by/max_by/min/max on the exact integer
    // µs key), volume an exact BIGINT sum — see Finance.ohlcResample.
    "q_resample_ohlc" -> Query((s, dir) =>
      graft.operators.Finance.ohlcResample(ticks(s, dir), col("symbol"),
          col("tsu"), col("close"), col("vol"), 3600000000L)
        .withColumnRenamed("_sym", "symbol")
        .orderBy("symbol", "bucket_ts"),
      Oracle(OracleGen.qResampleOhlc)),

    // Daily volume-weighted average price — TWAP's sibling with the
    // props.k volume as the weight; DECIMAL-accumulated fixed-point
    // units, one trailing double division (Finance.vwap).
    "q_vwap" -> Query((s, dir) =>
      graft.operators.Finance.vwap(ticks(s, dir), col("symbol"),
          col("tsu"), col("close"), col("vol"), 86400000000L)
        .withColumnRenamed("_sym", "symbol")
        .orderBy("symbol", "bucket_ts"),
      Oracle(OracleGen.qVwap)),

    // Two-sided CUSUM mean-drift chart (Page 1954) against each
    // symbol's own exact fixed-point mean; the clamped recursion runs
    // in the same AggregateWindowFunction machinery as EMA — see
    // Finance.cusumChart / functions.Cusum.
    "q_cusum" -> Query((s, dir) =>
      graft.operators.Finance.cusumChart(bars(s, dir), col("symbol"),
          col("ts"), col("close"), h = 100.0)
        .withColumnRenamed("_sym", "symbol")
        .withColumnRenamed("_ts", "ts")
        .orderBy("symbol", "ts"),
      Oracle(OracleGen.qCusum)),

    // Day-of-week seasonality profile — pure integer calendar
    // arithmetic + fixed-point means, see Finance.seasonalProfile.
    "q_seasonal" -> Query((s, dir) =>
      graft.operators.Finance.seasonalProfile(bars(s, dir), col("symbol"),
          col("ts"), col("close"))
        .withColumnRenamed("_sym", "symbol")
        .orderBy("symbol", "dow"),
      Oracle(OracleGen.qSeasonal)),

    // The stateful streaming engine run in batch mode — MUST match the
    // same oracle as q_ind_full (the flatMapGroupsWithState fold and
    // the window pipeline are FP-bit-equal by construction), which
    // puts the streaming state machine under the DuckDB gate too.
    "q_ind_stateful" -> Query(
      (s, dir) => statefulIndicators(s, dir, StatefulIndicators.enrich),
      Oracle(OracleGen.qIndFull)),

    // The zero-buffering full-history scan path (secondary sort +
    // lazy per-partition state machine) under the same oracle — see
    // StatefulIndicators.enrichSortedScan.
    "q_ind_scan" -> Query(
      (s, dir) => statefulIndicators(s, dir, StatefulIndicators.enrichSortedScan),
      Oracle(OracleGen.qIndFull)),

    // The dashboard's composed read path as ONE query (app.py:89-131
    // poll→group→sort-by-date, 363-428 latest-row suggestion panel):
    // latest bar per symbol, null-defaulted suggestion/reason (the
    // dashboard's .get fallbacks), suggestion color bucket, RSI zone
    // label, MACD delta + delta color, and the previous four closes
    // for the chart tail. One window rank + one hash aggregation on
    // symbol — the rank-desc sort reuses the enrichment's symbol
    // exchange, and the rk <= 5 filter prunes before the aggregation,
    // so the serving query adds no shuffle beyond the pipeline's own.
    "q_dashboard_feed" -> Query((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // round-17 A/B note: deriving the rank inside the pipeline's own
      // (symbol, ts ASC) sort as count(*) over symbol − row_number + 1
      // showed NO reproducible win (rewrite 2.70/2.76 s vs original
      // 1.93–2.96 s scatter at sf0.1, interleaved child benches — the
      // unbounded-frame count buffers whole partitions in a second
      // WindowExec, offsetting the ts DESC re-sort it saves), so the
      // simpler descending row_number stays.
      val w = Window.partitionBy(col("symbol")).orderBy(col("ts").desc)
      def at(i: Int, c: String) = max(when(col("rk") === i, col(c)))
      val last = enriched(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .groupBy("symbol")
        .agg(at(1, "ts").as("last_ts"),
          at(1, "close").as("current_price"),
          at(1, "ma5").as("ma5"),
          at(1, "ma20").as("ma20"),
          at(1, "rsi").as("rsi"),
          at(1, "macd_line").as("macd_line"),
          at(1, "macd_signal").as("macd_signal"),
          at(1, "macd_histogram").as("macd_histogram"),
          at(1, "suggestion").as("suggestion_raw"),
          at(1, "reason").as("reason_raw"),
          at(2, "close").as("close_t1"),
          at(3, "close").as("close_t2"),
          at(4, "close").as("close_t3"),
          at(5, "close").as("close_t4"))
      last.select(col("symbol"), col("last_ts"), col("current_price"),
        col("ma5"), col("ma20"), col("rsi"),
        col("macd_line"), col("macd_signal"), col("macd_histogram"),
        coalesce(col("suggestion_raw"), lit("KHÔNG CÓ ĐỀ XUẤT"))
          .as("suggestion"),
        coalesce(col("reason_raw"), lit("Không có đủ dữ liệu"))
          .as("reason"),
        when(col("suggestion_raw").contains("BUY"), lit("green"))
          .when(col("suggestion_raw").contains("SELL"), lit("red"))
          .otherwise(lit("orange")).as("suggestion_color"),
        when(col("rsi").isNull, lit("RSI"))
          .when(col("rsi") > lit(70.0), lit("RSI (Quá mua > 70)"))
          .when(col("rsi") < lit(30.0), lit("RSI (Quá bán < 30)"))
          .otherwise(lit("RSI")).as("rsi_label"),
        (col("macd_line") - col("macd_signal")).as("macd_diff"),
        when(col("macd_line").isNull || col("macd_signal").isNull,
            lit("off"))
          .when(col("macd_line") - col("macd_signal") > lit(0.0),
            lit("normal"))
          .otherwise(lit("inverse")).as("macd_delta_color"),
        col("close_t1"), col("close_t2"), col("close_t3"), col("close_t4"))
        .orderBy("symbol")
    },
      Oracle(OracleGen.qDashboardFeed)),
  ), BatchQueries.catalogue, LlmQueries.catalogue, EvalQueries.catalogue)

  /** The catalogue parts in order; a name declared twice fails here,
    * where a map would silently keep one of the builds.
    */
  private[graft] def assemble(parts: Seq[(String, Query)]*): Seq[(String, Query)] = {
    val all = parts.flatten
    val twice = all.groupBy(_._1).collect { case (n, rs) if rs.size > 1 => n }
    require(twice.isEmpty,
      s"query names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  /** The driver's view of [[catalogue]]: every query's build. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogue.map { case (name, q) => name -> q.build }.toMap

  /** The driver's view of [[catalogue]]: the DuckDB SQL of every
    * [[Oracle]]-checked query, run over the same parquet tables.
    */
  val oracleSql: Map[String, String] =
    catalogue.collect { case (name, Query(_, Oracle(sql))) => name -> sql }.toMap
}
