package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch relational operator sweep — one query + DuckDB oracle per
  * cheap operator from SURVEY.md §2 that round 1 left uncovered
  * (count, distinct, last-per-group, union, limit+sort, filters,
  * group-agg, date functions, ranking, broadcast joins).
  *
  * Scale notes (100 TB):
  *  - Doubles are never SUM'd directly: both engines accumulate in
  *    DECIMAL(38,10) (exact, order-independent — safe under any
  *    partial-aggregation schedule) and cast the final value once.
  *    At cluster scale the same trick makes results independent of
  *    partitioning/AQE decisions.
  *  - Dimension joins are `broadcast()` — customer/nation/region are
  *    O(SF) or constant-size; the fact side never shuffles for them.
  *  - All ORDER BY are output-determinism only (the driver hash needs a
  *    total order); they sit above the aggregation so the range shuffle
  *    moves only the final rows.
  */
object BatchQueries {

  /** Events with the UTC session timezone pinned at the entry boundary
    * (the driver calls queries with its own session — see
    * SparkEntry.bars; the loader's timestamp→ns-long conversion is
    * only the identity instant under UTC).
    */
  private def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.session.timeZone", "UTC")
    Tables.events(s, d)
  }

  /** Pin the UTC session timezone at a query's entry boundary. Any
    * query whose plan contains an NTZ→LTZ cast (`o_orderdate.cast(
    * "timestamp")` feeding unix_micros) depends on
    * spark.sql.session.timeZone at execution; the driver calls queries
    * with ITS session, so UTC can't be assumed from our builder
    * (round-7 ADVICE — same contract as [[events]]/SparkEntry.bars).
    */
  private def utc(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  /** q_rolling_wau's spine dataflow over a distinct (day, user_id)
    * frame. Day-GAP semantics (round-13 adversarial-sweep target,
    * pinned by WauSpineSpec because the continuous fixtures can't
    * exercise it): the spine is the OBSERVED-day set and the final
    * join is inner, so a day with zero events vanishes from BOTH dau
    * and wau — exactly the oracle's `spine JOIN ... JOIN` shape. The
    * ×7 replication is semi-filtered to observed days BEFORE the
    * distinct, so gap days cost nothing.
    */
  private[graft] def rollingWauFrom(ud: DataFrame): DataFrame = {
    val spine = ud.select(col("day")).distinct()
    val contrib = ud.select(col("user_id"),
        explode(sequence(col("day"), col("day") + lit(6L))).as("t_day"))
      .join(spine.withColumnRenamed("day", "t_day"),
        Seq("t_day"), "left_semi")
      .distinct()
    ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      .join(contrib.groupBy(col("t_day").as("day"))
        .agg(count(lit(1)).as("wau")), Seq("day"))
      .orderBy("day")
  }

  val catalogue: Seq[(String, Query)] = Seq(
    // A1 count — whole-table count, one row out.
    "q_count" -> Query((s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("cnt")),
      Oracle("SELECT count(*) AS cnt FROM lineitem")),

    // A2/A8 distinct — distinct symbol list (stock_analysis.py:113).
    "q_distinct" -> Query((s, d) =>
      SparkEntry.bars(s, d).select("symbol").distinct().orderBy("symbol"),
      Oracle("SELECT DISTINCT user_id AS symbol FROM events ORDER BY symbol")),

    // A7 last-per-group — latest close per symbol via max_by
    // (app.py:127-128, 364-365): one hash aggregation, no window sort.
    "q_last_per_group" -> Query((s, d) =>
      SparkEntry.bars(s, d).groupBy("symbol")
        .agg(max_by(col("close"), col("ts")).as("last_close"),
          max("ts").as("last_ts"))
        .orderBy("symbol"),
      Oracle("""SELECT user_id AS symbol,
        |  max_by(value, epoch_us(ts)) AS last_close,
        |  max(epoch_us(ts)) AS last_ts
        |FROM events GROUP BY user_id ORDER BY symbol""".stripMargin)),

    // U1 union — pd.concat equivalent (stock_analysis.py:230-231).
    "q_union" -> Query((s, d) =>
      Tables.customer(s, d).select(col("c_name").as("name"))
        .unionByName(Tables.supplier(s, d).select(col("s_name").as("name")))
        .orderBy("name"),
      Oracle("""SELECT c_name AS name FROM customer
        |UNION ALL SELECT s_name AS name FROM supplier
        |ORDER BY name""".stripMargin)),

    // O2/O3 limit + global sort with a unique tiebreaker — Spark plans
    // TakeOrderedAndProject (per-partition top-K + driver merge, no full
    // global sort materialization).
    "q_limit_sort" -> Query((s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
        .limit(100),
      Oracle("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin)),

    // P11/F11 isNotNull + contains filter (app.py:373-376) — both
    // predicates push to the parquet scan.
    "q_filter_contains" -> Query((s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").isNotNull && col("p_name").contains("small"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey"),
      Oracle("""SELECT p_partkey, p_name FROM part
        |WHERE p_name IS NOT NULL AND contains(p_name, 'small')
        |ORDER BY p_partkey""".stripMargin)),

    // P8 equality filter with column pruning — reads 3 of 6 columns.
    "q_filter_eq" -> Query((s, d) =>
      events(s, d).filter(col("event_type") === "error")
        .select("event_id", "user_id")
        .orderBy("event_id"),
      Oracle("""SELECT event_id, user_id FROM events
        |WHERE event_type = 'error' ORDER BY event_id""".stripMargin)),

    // A3/A4-adjacent grouped aggregation (TPC-H Q1 shape): exact
    // DECIMAL accumulation, final double cast (see object doc).
    // sum_price accumulates exact integer cents: a double→DECIMAL cast
    // rounds differently between engines for ~5e4-sized prices, but
    // round(x*100) is unambiguous for 2-decimal money values, the BIGINT
    // sum is exact/order-independent, and the single final division is
    // one deterministic FP op. (At extreme scale the running sum would
    // move to DECIMAL cents to dodge int64 overflow.)
    "q_agg_group" -> Query((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(38,10)")).cast("double")
            .as("sum_qty"),
          (sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("double") / lit(100.0)).as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Oracle("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // P5/F4/F5 date functions — to_timestamp/date_format derivations
    // (stock_analysis.py:82-84).
    "q_date_fns" -> Query((s, d) =>
      events(s, d).select(col("event_id"),
          date_format(timestamp_micros(expr("ts DIV 1000")), "yyyy-MM-dd")
            .as("date_str"),
          date_format(timestamp_micros(expr("ts DIV 1000")), "HH:mm:ss")
            .as("time_str"))
        .orderBy("event_id"),
      Oracle("""SELECT event_id,
        |  strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d') AS date_str,
        |  strftime(make_timestamp(epoch_us(ts)), '%H:%M:%S') AS time_str
        |FROM events ORDER BY event_id""".stripMargin)),

    // Ranking window (beyond-reference coverage): top-3 closes per
    // symbol — row_number over the same per-symbol sort the indicator
    // pipeline uses, filtered early (rank pushes no extra shuffle).
    "q_topk_group" -> Query((s, d) => {
      val w = Window.partitionBy(col("symbol"))
        .orderBy(col("close").desc, col("ts"))
      SparkEntry.bars(s, d)
        // cast: Spark row_number is int32, DuckDB's is int64 — keep the
        // dumped schema identical for the driver's hash compare
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("symbol", "ts", "close", "rn")
        .orderBy("symbol", "rn")
    },
      Oracle("""WITH b AS (
        |  SELECT user_id AS symbol, epoch_us(ts) AS ts, value AS close
        |  FROM events
        |)
        |SELECT symbol, ts, close, rn FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY symbol ORDER BY close DESC, ts) AS rn
        |  FROM b
        |) WHERE rn <= 3 ORDER BY symbol, rn""".stripMargin)),

    // Broadcast equi-join fact→dim (SURVEY §2.3 normalized alternative):
    // customer is the small side, no shuffle of orders.
    "q_join_bcast" -> Query((s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_name")
        .orderBy("o_orderkey"),
      Oracle("""SELECT o_orderkey, o_totalprice, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    // F1-F3/P2-P4 JSON round trip: serialize per-symbol bar docs with
    // to_json, decode with CAST→from_json→explode→field projection (the
    // streaming parse shape), land exactly back on the source rows —
    // oracle is the identity query. Doubles survive exactly (Jackson
    // shortest-round-trip in both directions).
    "q_parse_roundtrip" -> Query((s, d) => {
      import org.apache.spark.sql.types._
      val docSchema = StructType(Seq(
        StructField("symbol", LongType),
        StructField("bars", ArrayType(StructType(Seq(
          StructField("ts", LongType),
          StructField("close", DoubleType)))))))
      val docs = SparkEntry.bars(s, d)
        .groupBy("symbol")
        .agg(sort_array(collect_list(struct(col("ts"), col("close"))))
          .as("bars"))
        .select(to_json(struct(col("symbol"), col("bars"))).as("value"))
      docs
        .select(from_json(col("value").cast("string"), docSchema).as("data"))
        .select(col("data.symbol").as("symbol"),
          explode(col("data.bars")).as("bar"))
        .select(col("symbol"), col("bar.ts").as("ts"),
          col("bar.close").as("close"))
        .orderBy("symbol", "ts")
    },
      Oracle("""SELECT user_id AS symbol, epoch_us(ts) AS ts, value AS close
        |FROM events ORDER BY symbol, ts""".stripMargin)),

    // Price-snapshot topic shape (fetch_to_kafka_dag.py:34-40,50 — the
    // reference's one remaining declared-optional row): the producer
    // sends ONE flat JSON map {"time": t, "<SYMBOL>": price|null, ...}
    // to stock-topic. Here the payload is built byte-faithfully (null
    // for the reference's failed-fetch symbols — symbol%7==0 stands in
    // for the vnstock exception path), parsed back as
    // MAP<STRING,STRING> (the heterogeneous flat map's only lossless
    // schema), the time key extracted, the rest PIVOTED to
    // (symbol, current_price) rows, and BROADCAST-joined onto the
    // latest bar per symbol — the normalized alternative SURVEY §2.3
    // names. The snapshot "live feed" is the even-event_id tick subset
    // so snapshot and history genuinely differ. Oracle replays the
    // relational semantics directly (the serialize→parse leg is
    // identity: double→string→double via Java shortest round-trip,
    // same contract as q_parse_roundtrip). The one collect_list is
    // symbol-directory-sized (a dim, never the corpus) — exactly the
    // payload the reference's producer materializes in memory too.
    "q_snapshot_enrich" -> Query((s, d) => {
      import org.apache.spark.sql.types._
      val b = events(s, d)
        .select(col("user_id").as("symbol"),
          expr("ts DIV 1000").as("tsu"), col("value").as("close"),
          col("event_id"))
      val live = b.filter(col("event_id") % 2 === 0)
        .groupBy("symbol")
        .agg(max_by(col("close"), col("tsu")).as("price"),
          max(col("tsu")).as("ts_seen"))
        .select(col("symbol"),
          when(col("symbol") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("price")).as("price"),
          col("ts_seen"))
      val payload = live
        .agg(concat(lit("{\"time\":\""),
            max(col("ts_seen")).cast("string"), lit("\","),
            concat_ws(",", sort_array(collect_list(concat(
              lit("\""), col("symbol").cast("string"), lit("\":"),
              coalesce(col("price").cast("string"), lit("null")))))),
            lit("}")).as("value"))
      val parsed = payload
        .select(from_json(col("value").cast("string"),
          MapType(StringType, StringType)).as("m"))
      // snap_ts is a property of the snapshot MESSAGE, not of a symbol:
      // cross-join the 1-row time onto every output row so a symbol
      // with no live ticks still carries the global snapshot time —
      // the same shape as the oracle's CROSS JOIN st.
      val snapTs = parsed
        .select(element_at(col("m"), "time").cast("long").as("snap_ts"))
      val snap = parsed
        .select(explode(map_filter(col("m"), (k, _) => k =!= "time")))
        .select(col("key").cast("long").as("symbol"),
          col("value").cast("double").as("current_price"))
      val latest = b.groupBy("symbol")
        .agg(max(col("tsu")).as("ts_last"),
          max_by(col("close"), col("tsu")).as("last_close"))
      latest.join(broadcast(snap), Seq("symbol"), "left")
        .crossJoin(broadcast(snapTs))
        .select(col("symbol"), col("ts_last"), col("last_close"),
          col("snap_ts"), col("current_price"),
          (col("current_price") - col("last_close")).as("gap"),
          ((col("current_price") - col("last_close")) /
            col("last_close")).as("gap_pct"))
        .orderBy("symbol")
    },
      // q_snapshot_enrich: the serialize→parse leg is identity (shortest
      // round-trip doubles), so the oracle replays the relational
      // semantics: live-subset snapshot price with the %7 null path,
      // latest bar per symbol, left join + the global snapshot time.
      Oracle("""WITH b AS (
        |  SELECT user_id AS symbol, epoch_us(ts) AS ts, value AS close,
        |    event_id
        |  FROM events
        |),
        |live AS (
        |  SELECT symbol, arg_max(close, ts) AS price,
        |    max(ts) AS ts_seen
        |  FROM b WHERE event_id % 2 = 0 GROUP BY symbol
        |),
        |snap AS (
        |  SELECT symbol,
        |    CASE WHEN symbol % 7 = 0 THEN NULL ELSE price END
        |      AS current_price
        |  FROM live
        |),
        |st AS (SELECT max(ts_seen) AS snap_ts FROM live),
        |latest AS (
        |  SELECT symbol, max(ts) AS ts_last,
        |    arg_max(close, ts) AS last_close
        |  FROM b GROUP BY symbol
        |)
        |SELECT l.symbol, l.ts_last, l.last_close, st.snap_ts,
        |  s.current_price,
        |  s.current_price - l.last_close AS gap,
        |  (s.current_price - l.last_close) / l.last_close AS gap_pct
        |FROM latest l
        |LEFT JOIN snap s USING (symbol)
        |CROSS JOIN st
        |ORDER BY l.symbol""".stripMargin)),

    // E5 skew handling: two-phase salted aggregation — result must be
    // EXACTLY the plain group-by (the oracle is the unsalted SQL), so
    // this checks algebraic-decomposition correctness, not plausibility.
    "q_skew_agg" -> Query((s, d) =>
      graft.operators.Skew.saltedCountSum(
          events(s, d), col("user_id"), col("value"))
        .select(col("_key").as("symbol"), col("cnt"), col("sum_cents"))
        .orderBy("symbol"),
      // CAST(SUM(...) AS BIGINT): DuckDB's SUM(BIGINT) returns HUGEINT
      // (int128), which lands as float64 in the driver's compare frame and
      // fails the dtype-sensitive hash despite cell-identical values.
      Oracle("""SELECT user_id AS symbol, count(*) AS cnt,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY symbol""".stripMargin)),

    // U2 randomSplit (stock_analysis.py:126-134): seeded 5-way split
    // (the rebuild deliberately does NOT use this for correctness-bearing
    // work — see SURVEY Q7).
    "q_random_split" -> Query((s, d) => {
      val splits = SparkEntry.bars(s, d)
        .randomSplit(Array.fill(5)(0.2), seed = 42L)
      splits.zipWithIndex.map { case (part, i) =>
        part.agg(count(lit(1)).as("cnt")).select(lit(i.toLong).as("split_id"), col("cnt"))
      }.reduce(_ unionByName _).orderBy("split_id")
    },
      NoOracle("split sizes depend on the input partitioning")),

    // ROLLUP grouping sets (beyond-reference completeness): subtotal
    // rows carry NULL group keys in both engines; NULLS FIRST ordering
    // stated explicitly (Spark defaults NULLS FIRST for ASC, DuckDB
    // NULLS LAST — the oracle says NULLS FIRST too).
    "q_rollup" -> Query((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      // CAST(SUM(...) AS BIGINT): same HUGEINT dtype artifact as q_skew_agg.
      Oracle("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // RANGE window frame (value-based, not row-based): events in the
    // trailing hour per row — integer count, exact on both engines.
    "q_range_frame" -> Query((s, d) => {
      val w = Window.partitionBy(col("symbol")).orderBy(col("ts"))
        .rangeBetween(-3600000000L, 0L) // 1h in µs
      SparkEntry.bars(s, d)
        .withColumn("cnt_1h", count(lit(1)).over(w).cast("long"))
        .select("symbol", "ts", "cnt_1h")
        .orderBy("symbol", "ts")
    },
      Oracle("""SELECT user_id AS symbol, epoch_us(ts) AS ts,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS cnt_1h
        |FROM events ORDER BY symbol, ts""".stripMargin)),

    // first_value/last_value analytics with explicit full-partition
    // frames (the defaults differ subtly per engine; the frame is
    // stated on both sides).
    "q_first_last" -> Query((s, d) => {
      val wFull = Window.partitionBy(col("symbol")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      SparkEntry.bars(s, d)
        .withColumn("first_close", first(col("close")).over(wFull))
        .withColumn("last_close", last(col("close")).over(wFull))
        .select("symbol", "ts", "close", "first_close", "last_close")
        .orderBy("symbol", "ts")
    },
      Oracle("""SELECT user_id AS symbol, epoch_us(ts) AS ts, value AS close,
        |  first_value(value) OVER w AS first_close,
        |  last_value(value) OVER w AS last_close
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY symbol, ts""".stripMargin)),

    // Ranking family: rank / dense_rank / ntile over per-symbol close
    // ordering (ts tiebreaker makes every rank deterministic).
    "q_rank_fns" -> Query((s, d) => {
      val w = Window.partitionBy(col("symbol"))
        .orderBy(col("close").desc, col("ts"))
      SparkEntry.bars(s, d)
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .select("symbol", "ts", "rnk", "drnk", "quartile")
        .orderBy("symbol", "ts")
    },
      Oracle("""WITH b AS (
        |  SELECT user_id AS symbol, epoch_us(ts) AS ts, value AS close
        |  FROM events
        |)
        |SELECT symbol, ts,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile
        |FROM b WINDOW w AS (PARTITION BY symbol ORDER BY close DESC, ts)
        |ORDER BY symbol, ts""".stripMargin)),

    // Distribution-position window functions: percent_rank =
    // (rank-1)/(n-1) and cume_dist = rank_of_last_peer/n per symbol.
    // Value-based (tie-stable), so deterministic under any partition
    // layout; both engines compute the same two integer operands and
    // one IEEE division, so the doubles gate exactly.
    "q_dist_fns" -> Query((s, d) => {
      val w = Window.partitionBy(col("symbol")).orderBy(col("close"))
      SparkEntry.bars(s, d)
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .select("symbol", "ts", "pct_rank", "cume")
        .orderBy("symbol", "ts")
    },
      Oracle("""WITH b AS (
        |  SELECT user_id AS symbol, epoch_us(ts) AS ts, value AS close
        |  FROM events
        |)
        |SELECT symbol, ts,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM b WINDOW w AS (PARTITION BY symbol ORDER BY close)
        |ORDER BY symbol, ts""".stripMargin)),

    // As-of join (beyond-reference: the operator the reference's
    // produce-time current_price denormalization sidesteps, SURVEY
    // §2.3): for each click, the latest error value of the same user
    // at or before it. Union+window implementation — one shuffle, no
    // range join; the oracle is DuckDB's native ASOF LEFT JOIN, a
    // genuinely independent formulation.
    "q_asof_join" -> Query((s, d) => {
      val ev = events(s, d).withColumn("ts", expr("ts DIV 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("err_value"))
      graft.operators.AsOfJoin
        .asof(clicks, errors, "user_id", "ts", "err_value", "last_err_value")
        .orderBy("event_id")
    },
      // independent formulation: DuckDB's native ASOF LEFT JOIN vs the
      // engine's union+window implementation
      Oracle("""WITH r AS (
        |  SELECT user_id, epoch_us(ts) AS ts,
        |    max_by(value, event_id) AS err_value
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2
        |),
        |l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT l.event_id, l.user_id, l.ts, r.err_value AS last_err_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin)),

    // Left-semi join: orders having at least one lineitem — no
    // lineitem columns materialize, the join only filters.
    "q_join_semi" -> Query((s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Oracle("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // Left-anti join: customers with no big-ticket order (the price
    // predicate keeps the result non-empty at every fixture scale —
    // every customer has SOME order).
    "q_join_anti" -> Query((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Oracle("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin)),

    // INTERSECT / EXCEPT (distinct set semantics on both engines).
    "q_intersect" -> Query((s, d) => {
      val ev = events(s, d)
      ev.filter(col("event_type") === "click").select("user_id")
        .intersect(ev.filter(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    },
      Oracle("""SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin)),
    // (the value predicate keeps EXCEPT non-empty: with no filter
    // every user has every event type in the fixtures)
    "q_except" -> Query((s, d) => {
      val ev = events(s, d)
      ev.filter(col("event_type") === "click" && col("value") > 95)
        .select("user_id")
        .except(ev.filter(col("event_type") === "error" && col("value") > 95)
          .select("user_id"))
        .orderBy("user_id")
    },
      Oracle("""SELECT user_id FROM events WHERE event_type = 'click' AND value > 95
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 95
        |ORDER BY user_id""".stripMargin)),

    // INTERSECT ALL / EXCEPT ALL — the multiset variants (bag
    // semantics: a user clicking twice and erroring once intersects
    // once, excepts once). Spark plans both as the generate-and-
    // aggregate rewrite (count per value on each side, replicate
    // min/m−n times) — one shuffle per side, no row-id tricks.
    "q_intersect_all" -> Query((s, d) => {
      val ev = events(s, d)
      ev.filter(col("event_type") === "click").select("user_id")
        .intersectAll(ev.filter(col("event_type") === "error")
          .select("user_id"))
        .orderBy("user_id")
    },
      Oracle("""SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT ALL
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin)),
    "q_except_all" -> Query((s, d) => {
      val ev = events(s, d)
      ev.filter(col("event_type") === "click").select("user_id")
        .exceptAll(ev.filter(col("event_type") === "error")
          .select("user_id"))
        .orderBy("user_id")
    },
      Oracle("""SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT ALL
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin)),

    // Rolling 7-day distinct users (WAU) next to per-day DAU — the
    // standard engagement rollup, and a hard op at scale because
    // "distinct over a sliding window" does not decompose. The
    // scale-right shape used here: collapse events to DISTINCT
    // (user, day) first (map-side combine kills the event-count
    // factor), then REPLICATE each user-day to the ≤7 window days it
    // serves (explode(sequence) — a bounded 7× expansion, every join
    // an equi-join, no range join, no per-day re-scan of 7 days of
    // raw events), semi-filter to observed days, distinct, count.
    // Day index is exact integer epoch-division on both engines.
    "q_rolling_wau" -> Query((s, d) =>
      rollingWauFrom(events(s, d)
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
        .distinct()),
      Oracle("""WITH ud AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |    user_id FROM events),
        |spine AS (SELECT DISTINCT day FROM ud),
        |contrib AS (SELECT DISTINCT ud.user_id, s.day AS day
        |  FROM ud JOIN spine s ON s.day BETWEEN ud.day AND ud.day + 6),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |  FROM ud GROUP BY day),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
        |  FROM contrib GROUP BY day)
        |SELECT d.day, d.dau, w.wau
        |FROM dau d JOIN wau w USING (day)
        |ORDER BY day""".stripMargin)),

    // (rollingWauFrom is defined above the queries map — WauSpineSpec
    // pins the day-GAP semantics the sf fixtures can't exercise: a day
    // with zero events vanishes from BOTH dau and wau, identically to
    // the oracle's observed-day spine + inner join.)

    // Sketch-based rolling WAU — the shape q_rolling_wau actually
    // takes at 100 TB: per-day 7-day-window HLL registers instead of
    // exact per-window distinct (whose replicated user-day relation
    // grows with users×windows). Registers absorb the ×7 replication
    // for free (max is duplicate-absorbing, so no distinct pass on
    // the replicated relation at all), state per day is ≤ m rows of
    // exact integers, and yesterday's windows never recompute. The
    // user key hashes via its DECIMAL STRING form (md5 of a BIGINT's
    // bytes is not portable; md5 of its string is). Exact WAU rides
    // along as the audit column; the estimate is the HLL family's
    // fixed-shape double over exact BIGINTs. The streaming twin
    // (grouped registers in flatMapGroupsWithState) is spec-pinned
    // bit-equal in StreamingHllSpec.
    "q_hll_wau" -> Query((s, d) => {
      val mBits = 6
      val m = 1L << mBits
      val top = 1L << (60 - mBits + 1)
      val ud = events(s, d)
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
        .distinct()
      val spine = ud.select(col("day")).distinct()
      val contrib = ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + lit(6L))).as("t_day"))
        .join(spine.withColumnRenamed("day", "t_day"),
          Seq("t_day"), "left_semi")
      val regs = graft.operators.CardSketch.hllRegistersBy(
        contrib, col("t_day"), col("user_id").cast("string"), mBits)
      val den = graft.operators.CardSketch
        .hllDenominatorBy(regs, col("_grp"), mBits)
      den.join(contrib.groupBy(col("t_day"))
            .agg(countDistinct(col("user_id")).as("wau_exact")),
          den("_grp") === col("t_day"))
        .select(col("t_day").as("day"), col("n_used"), col("s_scaled"),
          (lit(graft.operators.CardSketch.alpha(mBits)) *
            lit((m * m).toDouble) *
            (lit(top.toDouble) / col("s_scaled").cast("double")))
            .as("estimate"),
          col("wau_exact"))
        .orderBy("day")
    },
      Oracle("""WITH ud AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |    user_id FROM events),
        |spine AS (SELECT DISTINCT day FROM ud),
        |contrib AS (SELECT ud.user_id, s.day AS t_day
        |  FROM ud JOIN spine s ON s.day BETWEEN ud.day AND ud.day + 6),
        |h AS (SELECT t_day,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM contrib),
        |parts AS (SELECT t_day, h // 18014398509481984 AS bucket,
        |                 h % 18014398509481984 AS v FROM h),
        |regs AS (SELECT t_day, bucket,
        |    max(CASE WHEN v = 0 THEN 55
        |             ELSE 55 - length(bin(v)) END) AS max_rho
        |  FROM parts GROUP BY t_day, bucket),
        |den AS (SELECT t_day, CAST(count(*) AS BIGINT) AS n_used,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INT))
        |      AS BIGINT)
        |    + (64 - CAST(count(*) AS BIGINT))
        |      * CAST(36028797018963968 AS BIGINT) AS s_scaled
        |  FROM regs GROUP BY t_day),
        |x AS (SELECT t_day, CAST(count(DISTINCT user_id) AS BIGINT)
        |    AS wau_exact FROM contrib GROUP BY t_day)
        |SELECT den.t_day AS day, n_used, s_scaled,
        |  CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
        |    * (CAST(36028797018963968.0 AS DOUBLE)
        |       / CAST(s_scaled AS DOUBLE)) AS estimate,
        |  wau_exact
        |FROM den JOIN x ON den.t_day = x.t_day
        |ORDER BY day""".stripMargin)),

    // Distinct aggregate: exact per-group count(DISTINCT) — Spark
    // plans the two-phase expand+aggregate, still one logical pass.
    "q_count_distinct" -> Query((s, d) =>
      events(s, d).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("uniq_users"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type"),
      Oracle("""SELECT event_type, count(DISTINCT user_id) AS uniq_users,
        |  count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // CUBE grouping sets (complements q_rollup): all four grouping
    // combinations, NULL subtotal keys, exact integer-cents sum.
    "q_cube" -> Query((s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Oracle("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // Approximate sketches (HLL count-distinct + quantile digest); the
    // exact companions are q_count_distinct and the oracle-gated
    // aggregations.
    "q_approx_stats" -> Query((s, d) =>
      events(s, d).groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(10000))
            .as("approx_median"))
        .orderBy("event_type"),
      NoOracle("Spark and DuckDB use different sketches by design")),

    // Event-time tumbling window aggregation (the batch form of the
    // Structured Streaming windowed agg — same window() operator):
    // 1-hour epoch-aligned buckets per event type. The oracle computes
    // the bucket with integer arithmetic, independent of either
    // engine's bucketing implementation.
    "q_window_tumbling" -> Query((s, d) =>
      events(s, d)
        .withColumn("tsm", timestamp_micros(expr("ts DIV 1000")))
        .groupBy(window(col("tsm"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .select(unix_micros(col("w.start")).as("bucket_us"),
          col("event_type"), col("cnt"), col("sum_cents"))
        .orderBy("bucket_us", "event_type"),
      Oracle("""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
        |  event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY bucket_us, event_type""".stripMargin)),

    // Event-time session window (gap-based): sessions close when the
    // next event is MORE than 1 day after the previous one (Spark's
    // merge is inclusive — diff == gap still merges, pinned in
    // EventWindowSpec — so the oracle's gaps-and-islands break uses
    // strict >). Oracle is an independent formulation: lag-diff →
    // running break-sum → group.
    "q_window_session" -> Query((s, d) =>
      events(s, d)
        .withColumn("tsm", timestamp_micros(expr("ts DIV 1000")))
        .groupBy(session_window(col("tsm"), "1 day").as("w"), col("user_id"))
        .agg(count(lit(1)).as("cnt"),
          max(expr("ts DIV 1000")).as("last_ts"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start"),
          col("cnt"), col("last_ts"))
        .orderBy("user_id", "session_start"),
      Oracle("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |         > 86400000000 THEN 1 ELSE 0 END AS brk
        |  FROM e
        |),
        |s AS (
        |  SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m
        |)
        |SELECT user_id, min(ts) AS session_start, count(*) AS cnt,
        |  max(ts) AS last_ts
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // Gap-based sessionization in the composable lag+running-sum form:
    // the session ordinal stays on the ROW (unlike session_window's
    // aggregate), so (user, session) is a joinable/groupable key.
    // Same 24h gap as q_window_session; per-session bounds out.
    "q_sessionize" -> Query((s, d) =>
      graft.operators.Sessionize.sessionStats(
          events(s, d).select(col("user_id"), expr("ts DIV 1000").as("ts")),
          col("user_id"), col("ts"), gapUs = 86400000000L)
        .orderBy("user_id", "session_seq"),
      Oracle("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |         > 86400000000 THEN 1 ELSE 0 END AS brk
        |  FROM e
        |),
        |s AS (
        |  SELECT user_id, ts, CAST(SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS session_seq
        |  FROM m
        |)
        |SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts) AS t_start, max(ts) AS t_end
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin)),

    // Interval containment join via bin replication: probes equi-join
    // replicated intervals on a 24h time bin (a probe's bin is unique,
    // so each qualifying pair meets exactly once — no dedup), then the
    // exact BETWEEN applies. For every event: how many heavy sessions
    // (>= 20 events, any user) were active at its timestamp. The
    // oracle is the naive inequality join DuckDB runs as an IEJoin.
    "q_interval_join" -> Query((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), expr("ts DIV 1000").as("ts"))
      val heavy = graft.operators.Sessionize.sessionStats(
          events(s, d).select(col("user_id"), expr("ts DIV 1000").as("ts")),
          col("user_id"), col("ts"), gapUs = 86400000000L)
        .filter(col("n_events") >= 20)
      graft.operators.Sessionize.countContaining(
          ev, col("event_id"), col("ts"),
          heavy, col("t_start"), col("t_end"), binUs = 86400000000L)
        .select(col("probe_id").as("event_id"), col("n_active"))
        .orderBy("event_id")
    },
      Oracle("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |         > 86400000000 THEN 1 ELSE 0 END AS brk
        |  FROM e
        |),
        |s AS (
        |  SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m
        |),
        |g AS (SELECT user_id, sid, count(*) AS n, min(ts) AS a, max(ts) AS b
        |      FROM s GROUP BY 1, 2),
        |h AS (SELECT a, b FROM g WHERE n >= 20),
        |ev AS (SELECT event_id, epoch_us(ts) AS ts FROM events)
        |SELECT ev.event_id, CAST(count(h.a) AS BIGINT) AS n_active
        |FROM ev LEFT JOIN h ON ev.ts BETWEEN h.a AND h.b
        |GROUP BY ev.event_id ORDER BY ev.event_id""".stripMargin)),

    // Event-time SLIDING window aggregation (width 2h, slide 1h): each
    // event lands in exactly width/slide = 2 epoch-aligned buckets —
    // Spark's window() explodes the assignment; the oracle reproduces
    // it with integer bucket arithmetic over an unnested {0,1} offset.
    "q_window_sliding" -> Query((s, d) =>
      events(s, d)
        .withColumn("tsm", timestamp_micros(expr("ts DIV 1000")))
        .groupBy(window(col("tsm"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .select(unix_micros(col("w.start")).as("bucket_us"),
          col("event_type"), col("cnt"), col("sum_cents"))
        .orderBy("bucket_us", "event_type"),
      Oracle("""SELECT ((epoch_us(ts) // 3600000000) - k) * 3600000000 AS bucket_us,
        |  event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) offs
        |GROUP BY 1, 2 ORDER BY bucket_us, event_type""".stripMargin)),

    // GROUPING SETS — the general grouping-set form (ROLLUP/CUBE are
    // covered separately), exercised through the SQL text interface
    // (spark.sql over a temp view; the reference never calls spark.sql,
    // SURVEY §2.10 — engine-completeness coverage).
    "q_grouping_sets" -> Query((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(1) AS cnt,
          |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_cents
          |FROM graft_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY l_returnflag ASC NULLS FIRST,
          |  l_linestatus ASC NULLS FIRST""".stripMargin)
    },
      Oracle("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // PIVOT — the wide snapshot-row shape (SURVEY §1.1's price
    // snapshot): per-user event counts pivoted to one column per event
    // type. The value list is EXPLICIT (no pre-scan collect — at scale
    // the distinct-values inference pass is the anti-pattern);
    // missing combinations are pinned to 0 on both sides.
    "q_pivot" -> Query((s, d) =>
      events(s, d).groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("user_id"),
      Oracle("""SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // FULL OUTER join of two disjoint-support aggregates — unmatched
    // sides surface null counts (the one outer-join flavor the
    // semi/anti/broadcast family doesn't cover).
    "q_join_outer" -> Query((s, d) => {
      val ev = events(s, d)
      val clicks = ev
        .filter(col("event_type") === "click" && col("value") > 95)
        .groupBy("user_id").agg(count(lit(1)).as("clicks"))
      val purchases = ev
        .filter(col("event_type") === "purchase" && col("value") > 95)
        .groupBy("user_id").agg(count(lit(1)).as("purchases"))
      clicks.join(purchases, Seq("user_id"), "full_outer")
        .orderBy("user_id")
    },
      Oracle("""WITH c AS (
        |  SELECT user_id, count(*) AS clicks FROM events
        |  WHERE event_type = 'click' AND value > 95 GROUP BY user_id
        |),
        |p AS (
        |  SELECT user_id, count(*) AS purchases FROM events
        |  WHERE event_type = 'purchase' AND value > 95 GROUP BY user_id
        |)
        |SELECT COALESCE(c.user_id, p.user_id) AS user_id, clicks, purchases
        |FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
        |ORDER BY user_id""".stripMargin)),

    // Correlated scalar subquery through the SQL interface — Catalyst
    // decorrelates it to an aggregate + left outer join (no per-row
    // re-execution; the naive interpretation would be O(n·m)).
    "q_scalar_subquery" -> Query((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders")
      Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT o_orderkey, o_totalprice,
          |  (SELECT count(1) FROM graft_lineitem l
          |   WHERE l.l_orderkey = o.o_orderkey) AS n_items
          |FROM graft_orders o ORDER BY o_orderkey""".stripMargin)
    },
      Oracle("""SELECT o_orderkey, o_totalprice,
        |  (SELECT count(*) FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey) AS n_items
        |FROM orders o ORDER BY o_orderkey""".stripMargin)),

    // String function family (rich string ops are absent from the
    // reference, SURVEY §2.10 — engine completeness): case mapping,
    // substring, length, regex replace/extract, trim, concat_ws. All
    // codegen'd narrow projections, zero shuffles.
    "q_string_fns" -> Query((s, d) =>
      Tables.part(s, d).select(col("p_partkey"),
          upper(col("p_name")).as("upper_name"),
          substring(col("p_name"), 1, 5).as("first5"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("vowelless"),
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
          trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey"),
      Oracle("""SELECT p_partkey,
        |  upper(p_name) AS upper_name,
        |  substr(p_name, 1, 5) AS first5,
        |  length(p_name) AS name_len,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS vowelless,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  trim('  ' || p_name || '  ') AS trimmed,
        |  concat_ws('-', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // Null-handling functions: nullif / coalesce / IS NULL.
    // Order note (round-18; r17 verdict #2): (l_orderkey, l_linenumber)
    // is NON-unique in the fixture, so the sort carries rf_filled (never
    // null, and it determines every other output column) as a total
    // tie-break — without it the tied rows' order leaned on parquet
    // physical row order and broke under any repartition of the input.
    "q_null_fns" -> Query((s, d) =>
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          nullif(col("l_returnflag"), lit("N")).as("rf_or_null"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("?"))
            .as("rf_filled"),
          nullif(col("l_returnflag"), lit("N")).isNull.as("rf_is_null"))
        .orderBy("l_orderkey", "l_linenumber", "rf_filled"),
      Oracle("""SELECT l_orderkey, l_linenumber,
        |  nullif(l_returnflag, 'N') AS rf_or_null,
        |  COALESCE(nullif(l_returnflag, 'N'), '?') AS rf_filled,
        |  nullif(l_returnflag, 'N') IS NULL AS rf_is_null
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, rf_filled""".stripMargin)),

    // Per-group median imputation — the feature-cleaning pass every
    // training pipeline runs on untrusted measurements: values from
    // 'error' events are treated as missing and replaced by the
    // user's own lower median of trusted values (exact, via
    // Quantiles.weightedMedian at unit weight), with a was_imputed
    // flag so downstream consumers can weight or drop filled rows. A
    // user with ONLY error events keeps NULL (nothing to impute from).
    // The per-user median relation is tiny → broadcast back; the scan
    // side stays narrow.
    "q_impute_median" -> Query((s, d) => {
      val ev = Tables.events(utc(s), d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val med = graft.operators.Quantiles.weightedMedian(
          ev.filter(col("event_type") =!= "error"),
          col("user_id"), col("value"), lit(1L))
        .select(col("_g").as("user_id"), col("weighted_median"))
      ev.join(broadcast(med), Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"), col("value"),
          when(col("event_type") === "error", col("weighted_median"))
            .otherwise(col("value")).as("imputed_value"),
          (col("event_type") === "error").as("was_imputed"))
        .orderBy("event_id")
    },
      Oracle("""WITH c AS (
        |  SELECT user_id AS g, value AS v, CAST(count(*) AS BIGINT) AS w
        |  FROM events WHERE event_type <> 'error' AND value IS NOT NULL
        |  GROUP BY 1, 2
        |),
        |r AS (SELECT *,
        |  CAST(sum(w) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum,
        |  CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS tot
        |  FROM c),
        |m AS (SELECT g AS user_id,
        |  min(CASE WHEN cum * 2 >= tot THEN v END) AS med
        |  FROM r GROUP BY 1)
        |SELECT e.event_id, e.user_id, e.value,
        |  CASE WHEN e.event_type = 'error' THEN m.med
        |       ELSE e.value END AS imputed_value,
        |  e.event_type = 'error' AS was_imputed
        |FROM events e LEFT JOIN m USING (user_id)
        |ORDER BY event_id""".stripMargin)),

    // Math function family — restricted to the exact-on-both-engines
    // set: abs/sign/floor/ceil/greatest/least are integer-exact, sqrt
    // is IEEE-754 correctly rounded everywhere. (log/pow are NOT in
    // the contract: libm vs StrictMath differ in final-ulp rounding.)
    "q_math_fns" -> Query((s, d) =>
      events(s, d).select(col("event_id"),
          abs(col("value") - 50).as("abs_dev"),
          signum(col("value") - 50).cast("long").as("sgn"),
          floor(col("value")).as("floor_v"),
          ceil(col("value")).as("ceil_v"),
          sqrt(col("value")).as("sqrt_v"),
          greatest(col("value"), lit(50.0)).as("hi50"),
          least(col("value"), lit(50.0)).as("lo50"))
        .orderBy("event_id"),
      Oracle("""SELECT event_id,
        |  abs(value - 50) AS abs_dev,
        |  CAST(sign(value - 50) AS BIGINT) AS sgn,
        |  CAST(floor(value) AS BIGINT) AS floor_v,
        |  CAST(ceil(value) AS BIGINT) AS ceil_v,
        |  sqrt(value) AS sqrt_v,
        |  greatest(value, 50.0) AS hi50,
        |  least(value, 50.0) AS lo50
        |FROM events ORDER BY event_id""".stripMargin)),

    // Array function family over exact integer cents (collect → sort →
    // size/element_at/contains/slice+fold/distinct): one shuffle on the
    // group key, everything else narrow. The left-fold sum5 order is
    // pinned by the sorted array on both engines.
    "q_array_fns" -> Query((s, d) =>
      events(s, d)
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("cents"))).as("cl"))
        .select(col("user_id"),
          size(col("cl")).cast("long").as("n"),
          element_at(col("cl"), 1).as("lo"),
          element_at(col("cl"), -1).as("hi"),
          array_contains(col("cl"), lit(5000L)).as("has50"),
          aggregate(slice(col("cl"), 1, 5), lit(0L), (acc, x) => acc + x)
            .as("sum5"),
          size(array_distinct(col("cl"))).cast("long").as("n_uniq"))
        .orderBy("user_id"),
      Oracle("""WITH a AS (
        |  SELECT user_id,
        |    list_sort(list(CAST(round(value * 100) AS BIGINT))) AS cl
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, len(cl) AS n, cl[1] AS lo, cl[-1] AS hi,
        |  list_contains(cl, 5000) AS has50,
        |  CAST(list_sum(cl[1:5]) AS BIGINT) AS sum5,
        |  len(list_distinct(cl)) AS n_uniq
        |FROM a ORDER BY user_id""".stripMargin)),

    // Map function family: construct (map_from_entries over sorted
    // entries → deterministic key order), size, key lookup, key list.
    // Scalar outputs only — map columns themselves don't hash-compare
    // across engines.
    "q_map_fns" -> Query((s, d) =>
      events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("event_type"), col("cnt"))))).as("m"))
        .select(col("user_id"),
          size(col("m")).cast("long").as("n_types"),
          element_at(col("m"), "click").as("click_cnt"),
          element_at(col("m"), "error").as("error_cnt"),
          array_join(map_keys(col("m")), ",").as("types"))
        .orderBy("user_id"),
      Oracle("""WITH c AS (
        |  SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, count(*) AS n_types,
        |  max(cnt) FILTER (WHERE event_type = 'click') AS click_cnt,
        |  max(cnt) FILTER (WHERE event_type = 'error') AS error_cnt,
        |  string_agg(event_type, ',' ORDER BY event_type) AS types
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // explode_outer: generator null-row semantics — users with an
    // empty qualifying set keep one row with a null event_id (plain
    // explode would drop them). Oracle is the equivalent left join.
    "q_explode_outer" -> Query((s, d) => {
      val ev = events(s, d)
      val users = ev.select("user_id").distinct()
      val big = ev
        .filter(col("value") > 99.8 && col("event_type") === "click")
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("event_id"))).as("ids"))
      users.join(big, Seq("user_id"), "left")
        .select(col("user_id"), explode_outer(col("ids")).as("event_id"))
        .orderBy("user_id", "event_id")
    },
      Oracle("""WITH u AS (SELECT DISTINCT user_id FROM events),
        |b AS (
        |  SELECT user_id, event_id FROM events
        |  WHERE value > 99.8 AND event_type = 'click'
        |)
        |SELECT u.user_id, b.event_id
        |FROM u LEFT JOIN b USING (user_id)
        |ORDER BY user_id, event_id""".stripMargin)),

    // Star-schema rollup through two broadcast joins + exact agg.
    "q_join_star" -> Query((s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast("decimal(38,10)")).cast("double")
            .as("sum_bal"))
        .orderBy("r_name"),
      Oracle("""SELECT r_name, count(*) AS cnt,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // Ordered funnel (view → click → purchase): each stage's timestamp
    // must follow the previous stage's. Three chained filtered
    // aggregates on the user key — never a per-user event list
    // (collect_list on a hot user is the OOM at scale); every pass is
    // a map-side-combinable min.
    "q_funnel" -> Query((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), expr("ts DIV 1000").as("tsu"),
          col("event_type"))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("tsu")).as("t1"))
      val t2 = ev.filter(col("event_type") === "click")
        .join(t1, "user_id").filter(col("tsu") > col("t1"))
        .groupBy("user_id").agg(min(col("tsu")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2, "user_id").filter(col("tsu") > col("t2"))
        .groupBy("user_id").agg(min(col("tsu")).as("t3"))
      ev.select("user_id").distinct()
        .join(t1, Seq("user_id"), "left")
        .join(t2.select("user_id", "t2"), Seq("user_id"), "left")
        .join(t3.select("user_id", "t3"), Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("t3").isNotNull, 3)
            .when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1)
            .otherwise(0).cast("long").as("funnel_stage"))
        .orderBy("user_id")
    },
      Oracle("""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_type
        |            FROM events),
        |t1 AS (SELECT user_id, min(tsu) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT ev.user_id, min(tsu) AS t2 FROM ev
        |       JOIN t1 ON ev.user_id = t1.user_id
        |       WHERE event_type = 'click' AND tsu > t1.t1
        |       GROUP BY ev.user_id),
        |t3 AS (SELECT ev.user_id, min(tsu) AS t3 FROM ev
        |       JOIN t2 ON ev.user_id = t2.user_id
        |       WHERE event_type = 'purchase' AND tsu > t2.t2
        |       GROUP BY ev.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
        |            WHEN t2.t2 IS NOT NULL THEN 2
        |            WHEN t1.t1 IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS funnel_stage
        |FROM (SELECT DISTINCT user_id FROM ev) u
        |LEFT JOIN t1 ON u.user_id = t1.user_id
        |LEFT JOIN t2 ON u.user_id = t2.user_id
        |LEFT JOIN t3 ON u.user_id = t3.user_id
        |ORDER BY u.user_id""".stripMargin)),

    // Regular-grid resampling with forward fill: hourly buckets per
    // user from first to last observation, gaps carry the latest
    // value forward — the gap-fill every bar pipeline runs before
    // rolling-window math.
    "q_resample_ffill" -> Query((s, d) =>
      graft.operators.Resample.gridFill(
          events(s, d).select(col("user_id"), expr("ts DIV 1000").as("tsu"),
            col("value")),
          col("user_id"), col("tsu"), col("value"),
          stepUs = 3600L * 1000000L)
        .select(col("key").as("user_id"), col("bucket"), col("value"))
        .orderBy("user_id", "bucket"),
      Oracle("""WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hb,
        |    value, epoch_us(ts) AS tsu FROM events),
        |obs AS (SELECT user_id, hb, max_by(value, tsu) AS v
        |        FROM ev GROUP BY user_id, hb),
        |b AS (SELECT user_id, min(hb) AS mn, max(hb) AS mx
        |      FROM ev GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(range(mn, mx + 1)) AS hb FROM b),
        |j AS (SELECT g.user_id, g.hb, o.v
        |      FROM grid g LEFT JOIN obs o
        |        ON g.user_id = o.user_id AND g.hb = o.hb)
        |SELECT user_id, hb AS bucket,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY hb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value
        |FROM j ORDER BY user_id, bucket""".stripMargin)),

    // Same grid, the other gap policy: linear interpolation between
    // the surrounding observed buckets (one fixed-shape double
    // expression per row — deterministic, hash-gateable despite the
    // division; see Resample.gridInterp).
    "q_resample_interp" -> Query((s, d) =>
      graft.operators.Resample.gridInterp(
          events(s, d).select(col("user_id"), expr("ts DIV 1000").as("tsu"),
            col("value")),
          col("user_id"), col("tsu"), col("value"),
          stepUs = 3600L * 1000000L)
        .select(col("key").as("user_id"), col("bucket"), col("value"),
          col("is_observed"))
        .orderBy("user_id", "bucket"),
      // same CTE chain as ffill; the interpolation expression mirrors
      // Resample.gridInterp's shape term-for-term (same association
      // order → bit-equal doubles)
      Oracle("""WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hb,
        |    value, epoch_us(ts) AS tsu FROM events),
        |obs AS (SELECT user_id, hb, max_by(value, tsu) AS v
        |        FROM ev GROUP BY user_id, hb),
        |b AS (SELECT user_id, min(hb) AS mn, max(hb) AS mx
        |      FROM ev GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(range(mn, mx + 1)) AS hb FROM b),
        |j AS (SELECT g.user_id, g.hb, o.v
        |      FROM grid g LEFT JOIN obs o
        |        ON g.user_id = o.user_id AND g.hb = o.hb),
        |f AS (SELECT user_id, hb, v,
        |  last_value(v IGNORE NULLS) OVER wp AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN hb END IGNORE NULLS)
        |    OVER wp AS pb,
        |  first_value(v IGNORE NULLS) OVER wn AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN hb END IGNORE NULLS)
        |    OVER wn AS nb
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY hb
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY user_id ORDER BY hb
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, hb AS bucket,
        |  CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |       ELSE CAST(pv AS DOUBLE)
        |         + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
        |         * (CAST(hb - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
        |  END AS value,
        |  v IS NOT NULL AS is_observed
        |FROM f ORDER BY user_id, bucket""".stripMargin)),

    // Quantile discretization (feature binning): per-group quartile
    // edges from the histogram quantiles, broadcast back; each row's
    // bin = 1 + (v > p25) + (v > p50) + (v > p75) — edge semantics
    // explicit and integer-exact, unlike ntile's tie handling.
    "q_quartile_assign" -> Query((s, d) => {
      val edges = graft.operators.Quantiles.exactQuantilesHist(
          Tables.lineitem(s, d), col("l_returnflag"), col("l_quantity"),
          Seq(0.25, 0.5, 0.75))
        .select(col("_g").as("l_returnflag"), col("p25_disc"),
          col("p50_disc"), col("p75_disc"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"))
        .join(broadcast(edges), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"),
          (lit(1L) + when(col("l_quantity") > col("p25_disc"), 1L).otherwise(0L)
            + when(col("l_quantity") > col("p50_disc"), 1L).otherwise(0L)
            + when(col("l_quantity") > col("p75_disc"), 1L).otherwise(0L))
            .as("quartile"))
        // quartile tie-breaks the NON-unique (l_orderkey, l_linenumber)
        // key (round-18; r17 verdict #2 — see q_null_fns)
        .orderBy("l_orderkey", "l_linenumber", "quartile")
    },
      // quartile edges via the same p*(n-1) disc rule as q_quantiles
      Oracle("""WITH r AS (SELECT l_returnflag AS g,
        |    CAST(l_quantity AS DOUBLE) AS v FROM lineitem),
        |rk AS (SELECT g, v,
        |  row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM r),
        |e AS (SELECT g,
        |  max(CASE WHEN rn = CAST(floor(0.25 * (n-1)) AS BIGINT) + 1 THEN v END) AS p25,
        |  max(CASE WHEN rn = CAST(floor(0.5  * (n-1)) AS BIGINT) + 1 THEN v END) AS p50,
        |  max(CASE WHEN rn = CAST(floor(0.75 * (n-1)) AS BIGINT) + 1 THEN v END) AS p75
        |  FROM rk GROUP BY g)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(1 + (CASE WHEN l_quantity > p25 THEN 1 ELSE 0 END)
        |         + (CASE WHEN l_quantity > p50 THEN 1 ELSE 0 END)
        |         + (CASE WHEN l_quantity > p75 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS quartile
        |FROM lineitem JOIN e ON l_returnflag = e.g
        |ORDER BY l_orderkey, l_linenumber, quartile""".stripMargin)),

    // Per-group z-score normalization: mean/std from the DECIMAL
    // moment sums (order-independent), broadcast back to the rows —
    // the standard feature-scaling pass, exact in both engines.
    "q_zscore" -> Query((s, d) => {
      val stats = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("l_quantity").cast("decimal(38,10)")).cast("double")
            .as("sx"),
          sum((col("l_quantity") * col("l_quantity"))
            .cast("decimal(38,10)")).cast("double").as("sxx"))
        .select(col("l_returnflag"), (col("sx") / col("n")).as("mu"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
            .as("sigma"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"))
        .join(broadcast(stats), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"),
          ((col("l_quantity") - col("mu")) / col("sigma")).as("z"))
        // z tie-breaks the NON-unique (l_orderkey, l_linenumber) key
        // (round-18; r17 verdict #2 — see q_null_fns)
        .orderBy("l_orderkey", "l_linenumber", "z")
    },
      Oracle("""WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10)))
        |      AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag),
        |st AS (SELECT l_returnflag, (sx / n) AS mu,
        |  sqrt((sxx - sx * sx / n) / n) AS sigma FROM s)
        |SELECT l_orderkey, l_linenumber,
        |  ((CAST(l_quantity AS DOUBLE) - mu) / sigma) AS z
        |FROM lineitem JOIN st USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber, z""".stripMargin)),

    // Incremental aggregation: per-(user, day) partials merged to
    // per-user totals — the answer must be bit-equal to aggregating
    // the raw events directly (the oracle does exactly that), proving
    // the warm-start merge path is exact.
    "q_incremental_agg" -> Query((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        expr("ts DIV 1000 DIV 86400000000").as("day"), col("value"))
      graft.operators.Incremental.merge(
          graft.operators.Incremental.partials(ev, col("user_id"),
            col("day"), col("value")))
        .select(col("_k").as("user_id"), col("n"), col("vmin"),
          col("vmax"), col("vsum"), col("vavg"))
        .orderBy("user_id")
    },
      // the DIRECT aggregation over raw rows — the merge path must
      // reproduce it bit-for-bit
      Oracle("""SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(value) AS vmin, max(value) AS vmax,
        |  CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS vsum,
        |  CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS vavg
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Column profiling (the data-quality monitor's table scan): null
    // count + exact distinct count per column, one row per column.
    // All profiled columns aggregate in ONE pass over the table
    // (Catalyst plans the multi-distinct with an Expand), then the
    // single profile row unpivots via stack — no per-column re-scan.
    "q_profile" -> Query((s, d) => {
      val cols = Seq("l_quantity", "l_discount", "l_returnflag",
        "l_linestatus")
      val aggs = cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          countDistinct(col(c)).as(s"${c}_distinct"))
      }
      val stackExpr = cols.map(c =>
        s"'$c', ${c}_nulls, ${c}_distinct").mkString(", ")
      Tables.lineitem(s, d)
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${cols.size}, $stackExpr) " +
          "AS (column_name, n_nulls, n_distinct)")
        .orderBy("column_name")
    },
      Oracle {
        val cols = Seq("l_quantity", "l_discount", "l_returnflag",
          "l_linestatus")
        cols.map { c =>
          s"""SELECT '$c' AS column_name,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct
             |FROM lineitem""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    // Cohort retention: users bucketed by first-seen week; for each
    // (cohort week, week offset) the count of distinct cohort members
    // active that week. Integer epoch-week arithmetic; first-seen via
    // one min-aggregate, activity via distinct (user, week) — both
    // map-side combinable, joined on the user key.
    "q_cohort_retention" -> Query((s, d) => {
      val weekUs = 7L * 86400L * 1000000L
      val ev = events(s, d)
        .select(col("user_id"), expr(s"ts DIV 1000 DIV ${weekUs}L").as("wk"))
      val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      ev.distinct()
        .join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_off"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "wk_off")
    },
      Oracle("""WITH ev AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id)
        |SELECT c.cohort_wk, ev.wk - c.cohort_wk AS wk_off,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM ev JOIN c ON ev.user_id = c.user_id
        |GROUP BY c.cohort_wk, wk_off
        |ORDER BY cohort_wk, wk_off""".stripMargin)),

    // Snapshot reconciliation: classify every key across two table
    // versions as added / removed / changed / unchanged — the
    // validation pass after any CDC apply. One full-outer equi-join.
    "q_table_diff" -> Query((s, d) => {
      val v1 = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"))
      val v2 = Tables.customer(s, d)
        .filter(col("c_custkey") % 7 =!= 3) // deletes
        .select(col("c_custkey"),
          (col("c_acctbal") +
            when(col("c_custkey") % 5 === 0, lit(100.0)).otherwise(lit(0.0)))
            .as("c_acctbal")) // updates on %5==0
      v1.as("a").join(v2.as("b"), Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          when(col("a.c_acctbal").isNull, "added")
            .when(col("b.c_acctbal").isNull, "removed")
            .when(col("a.c_acctbal") =!= col("b.c_acctbal"), "changed")
            .otherwise("unchanged").as("status"))
        .filter(col("status") =!= "unchanged")
        .orderBy("c_custkey")
    },
      Oracle("""WITH v1 AS (SELECT c_custkey, c_acctbal FROM customer),
        |v2 AS (SELECT c_custkey,
        |    c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 100.0
        |                     ELSE 0.0 END AS c_acctbal
        |  FROM customer WHERE c_custkey % 7 <> 3)
        |SELECT coalesce(v1.c_custkey, v2.c_custkey) AS c_custkey,
        |  CASE WHEN v1.c_acctbal IS NULL THEN 'added'
        |       WHEN v2.c_acctbal IS NULL THEN 'removed'
        |       WHEN v1.c_acctbal <> v2.c_acctbal THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey
        |WHERE (CASE WHEN v1.c_acctbal IS NULL THEN 'added'
        |       WHEN v2.c_acctbal IS NULL THEN 'removed'
        |       WHEN v1.c_acctbal <> v2.c_acctbal THEN 'changed'
        |       ELSE 'unchanged' END) <> 'unchanged'
        |ORDER BY c_custkey""".stripMargin)),

    // TPC-H Q3-shaped composite: segment-filtered customer dim
    // (broadcast) × date-filtered orders × lineitem, DECIMAL-exact
    // revenue roll-up, top-10 via TakeOrdered. The end-to-end
    // "shipping priority" query shape — every piece individually
    // audited elsewhere, composed here.
    "q_revenue_topk" -> Query((s0, d) => {
      val s = utc(s0)
      val cutoff = lit("1998-06-01 00:00:00").cast("timestamp_ntz")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") > cutoff)
        .join(Tables.orders(s, d).filter(col("o_orderdate") < cutoff),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
            .filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,10)")).cast("double").as("revenue"))
        .select(col("o_orderkey"),
          // NTZ wall-clock → µs; session tz is UTC so the cast is the
          // identity the oracle's epoch_us applies to the naive value
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"),
          col("o_orderpriority"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
      Oracle("""SELECT o_orderkey, epoch_us(o_orderdate) AS o_date_us,
        |  o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,10))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate > TIMESTAMP '1998-06-01'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),

    // TPC-H Q8-shaped national market share: the DEEP warehouse join —
    // 7 tables, two independent dimension chains hanging off lineitem
    // (part; supplier→nation) plus the customer→nation→region market
    // filter — with a conditional two-level DECIMAL rollup per order
    // year. Plan shape under AQE: every dim chain broadcasts (part,
    // supplier, both nation roles, region), the ONLY shuffle joins are
    // lineitem⋈orders⋈customer on their keys — at 100 TB that is the
    // plan you want: fact-to-fact shuffles on join keys, dims never
    // shuffled. share = target/total is one correctly-rounded double
    // division of two exact DECIMAL sums.
    "q_market_share" -> Query((s0, d) => {
      val s = utc(s0)
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(38,10)")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_type") === "PROMO")
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))),
          col("c_nationkey") === col("cn_key"))
        .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("sn_key"),
              col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0).cast("decimal(38,10)"))).as("_num"),
          sum(vol).as("_den"))
        .select(col("o_year"),
          col("_num").cast("double").as("target_volume"),
          col("_den").cast("double").as("total_volume"),
          when(col("_den") === 0, lit(null))
            .otherwise(col("_num").cast("double") /
              col("_den").cast("double"))
            .cast("double").as("mkt_share"))
        .orderBy("o_year")
    },
      Oracle("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount)
        |        AS DECIMAL(38,10))
        |      ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE)
        |    AS target_volume,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,10))) AS DOUBLE) AS total_volume,
        |  CASE WHEN SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(38,10))) = 0 THEN NULL
        |    ELSE CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
        |        THEN CAST(l_extendedprice * (1.0 - l_discount)
        |          AS DECIMAL(38,10))
        |        ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE)
        |      / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |        AS DECIMAL(38,10))) AS DOUBLE) END AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY o_year""".stripMargin)),

    // TPC-H Q21-shaped "suppliers who kept orders waiting" (lateness
    // adapted to this schema: shipped > 60 days after the order date;
    // the reference Q21 uses receipt > commit, columns this data model
    // lacks). The textbook form is TWO lineitem self-joins (EXISTS
    // another supplier / NOT EXISTS another late supplier); here both
    // collapse into per-order aggregates — late-supplier-set size 1
    // AND supplier-set size > 1 — so the plan is ONE shuffle of
    // lineitem⋈orders on the order key plus a tiny second aggregate,
    // instead of three passes over the fact table. At 100 TB that is
    // the difference between one fact shuffle and three.
    "q_late_suppliers" -> Query((s, d) => {
      val lo = Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
      // stage 1: (order, supplier) grain with an any-late flag —
      // map-side combinable; stage 2: order grain, tiny
      val perSupp = lo.groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(col("late"), 1L).otherwise(0L)).as("is_late"))
      val perOrder = perSupp.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"),
          sum(col("is_late")).as("n_late"),
          min(when(col("is_late") === 1L, col("l_suppkey"))).as("late_supp"))
        .filter(col("n_supp") > 1L && col("n_late") === 1L)
      perOrder.groupBy(col("late_supp").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.supplier(s, d)
            .join(broadcast(Tables.nation(s, d)),
              col("s_nationkey") === col("n_nationkey"))
            .select("s_suppkey", "s_name", "n_name")),
          Seq("s_suppkey"))
        .select(col("s_name"), col("n_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    },
      // same per-order-aggregate collapse of Q21's two EXISTS self-joins
      Oracle("""WITH lo AS (
        |  SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |             THEN 1 ELSE 0 END) AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1, 2),
        |po AS (
        |  SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late,
        |    min(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
        |  FROM lo GROUP BY 1),
        |nw AS (
        |  SELECT late_supp AS s_suppkey, CAST(count(*) AS BIGINT)
        |    AS numwait
        |  FROM po WHERE n_supp > 1 AND n_late = 1 GROUP BY 1)
        |SELECT s_name, n_name, numwait
        |FROM nw JOIN supplier USING (s_suppkey)
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    // TPC-H Q13 shape: customer distribution by order count INCLUDING
    // zero-order customers — the left-outer-join-then-double-aggregate
    // pattern (count of a nullable join key, then a histogram of the
    // counts). The one real shuffle is customer ⋈ orders on custkey
    // (both sides large — a shuffle join is correct; no broadcast);
    // the count histogram is a ~|distinct counts|-row rollup. The
    // priority filter applies to the JOIN'S RIGHT SIDE only, so it
    // pushes below the join as a plain scan filter (an outer-join
    // ON-clause filter against the preserved side would NOT).
    "q_order_dist" -> Query((s, d) => {
      val co = Tables.customer(s, d).select(col("c_custkey"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderpriority") =!= "1-URGENT")
            .select("o_custkey", "o_orderkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      co.groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      Oracle("""WITH co AS (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC"""
        .stripMargin)),

    // TPC-H Q2 shape: for each part, the region-local suppliers whose
    // observed unit cost achieves the per-part minimum — the
    // correlated-min pattern, expressed as a partitioned window min +
    // equality filter (what Catalyst rewrites Q2's correlated
    // subquery into). Costs come from lineitem (min extendedprice per
    // part+supplier) since the fixture set has no partsupp. Exactness:
    // min over raw doubles involves no arithmetic, so the equality
    // filter and the hash gate are bit-exact. Shape: one lineitem
    // rollup (map-side combinable), dims broadcast, the window
    // partitioned by partkey (millions of small partitions at scale —
    // no single-partition window), TakeOrdered for the limit.
    "q_min_cost_supplier" -> Query((s, d) => {
      val cost = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("supp_cost"))
      val rs = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      cost.join(broadcast(rs), col("l_suppkey") === col("s_suppkey"))
        .withColumn("min_cost",
          min(col("supp_cost")).over(Window.partitionBy("l_partkey")))
        .filter(col("supp_cost") === col("min_cost"))
        .join(Tables.part(s, d).filter(col("p_size") >= 30)
            .select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"), col("supp_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
      Oracle("""WITH cost AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supp_cost
        |  FROM lineitem GROUP BY 1, 2),
        |rs AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |rc AS (
        |  SELECT c.l_partkey, c.l_suppkey, c.supp_cost,
        |    min(c.supp_cost) OVER (PARTITION BY c.l_partkey) AS min_cost
        |  FROM cost c JOIN rs ON c.l_suppkey = rs.s_suppkey)
        |SELECT rs.s_acctbal, rs.s_name, rs.n_name, p.p_partkey,
        |  p.p_brand, rc.supp_cost
        |FROM rc JOIN rs ON rc.l_suppkey = rs.s_suppkey
        |JOIN part p ON rc.l_partkey = p.p_partkey
        |WHERE rc.supp_cost = rc.min_cost AND p.p_size >= 30
        |ORDER BY rs.s_acctbal DESC, rs.n_name, rs.s_name, p.p_partkey
        |LIMIT 100""".stripMargin)),

    // TPC-H Q11 shape: parts whose corpus-wide revenue exceeds a
    // multiple of the MEAN part revenue — the HAVING-vs-global-scalar
    // pattern. The threshold is 4/3 × mean (value·n_parts·3 >
    // total·4), so it scales with the part count and selects a
    // non-empty head at every fixture scale (a fixed share of the
    // total selects every part at sf0.001 and none from sf0.01 up).
    // Money is quantized to exact integer basis points at the source
    // (round of an IEEE double product is bit-identical across
    // engines), so the sums, the 1-row global total and part count
    // (broadcast cross join), and the comparison (multiplication
    // instead of a rounding division) are all exact BIGINT. Overflow
    // headroom: value·n_parts·3 ≈ 3·total < 2⁶³ holds to ~3·10¹⁸
    // basis points ≈ $10¹⁴ corpus revenue; beyond that swap the bp
    // column to DECIMAL(38,10) (the q_market_share pattern) at ~2×
    // agg cost.
    "q_important_parts" -> Query((s, d) => {
      val bp = round(
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))) *
          lit(10000)).cast("long")
      val pv = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(bp).as("value_bp"))
      val tot = pv.agg(sum(col("value_bp")).as("_total"),
        count(lit(1)).as("_n"))
      pv.crossJoin(broadcast(tot))
        .filter(col("value_bp") * col("_n") * 3L > col("_total") * 4L)
        .select(col("p_partkey"), col("value_bp"))
        .orderBy(col("value_bp").desc, col("p_partkey"))
    },
      // CAST(SUM(...) AS BIGINT): same HUGEINT dtype artifact as q_skew_agg.
      Oracle("""WITH pv AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(SUM(CAST(round((l_extendedprice * (1.0 - l_discount))
        |      * 10000) AS BIGINT)) AS BIGINT) AS value_bp
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT SUM(value_bp) AS total, count(*) AS n_parts
        |  FROM pv)
        |SELECT p_partkey, value_bp FROM pv, tot
        |WHERE value_bp * n_parts * 3 > total * 4
        |ORDER BY value_bp DESC, p_partkey""".stripMargin)),

    // TPC-H Q20 shape: suppliers holding a dominant share (> 20%) of
    // some part's shipped quantity — the correlated-aggregate-
    // threshold semi-join. Quantities quantize to exact BIGINT at the
    // source; the share test is qty·5 > total (multiplication, not a
    // rounding division). Both rollups are map-side combinable; the
    // per-part total joins back on partkey and the supplier dims
    // broadcast. At scale the pq→tot pair is the canonical two-level
    // rollup: the second level's input is already |parts×suppliers|
    // -bounded, far below the fact table.
    "q_dominant_suppliers" -> Query((s, d) => {
      val pq = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("qty"))
      val tot = pq.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("total"))
      pq.join(tot, "l_partkey")
        .filter(col("qty") * 5L > col("total"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_dom_parts"))
        .join(broadcast(Tables.supplier(s, d)
            .join(broadcast(Tables.nation(s, d)),
              col("s_nationkey") === col("n_nationkey"))
            .select("s_suppkey", "s_name", "n_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"),
          col("n_dom_parts"))
        .orderBy("s_suppkey")
    },
      Oracle("""WITH pq AS (SELECT l_partkey, l_suppkey,
        |    SUM(CAST(round(l_quantity) AS BIGINT)) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, SUM(qty) AS total FROM pq GROUP BY 1),
        |dom AS (SELECT pq.l_suppkey, CAST(count(*) AS BIGINT)
        |          AS n_dom_parts
        |  FROM pq JOIN tot USING (l_partkey)
        |  WHERE pq.qty * 5 > tot.total GROUP BY 1)
        |SELECT s_suppkey, s_name, n_name, n_dom_parts
        |FROM dom JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q22 shape: above-average-balance customers in target
    // segments with no urgent orders — global-scalar threshold + anti
    // join. Money quantizes to exact BIGINT cents at the source
    // (round of an identical IEEE double product), and the
    // above-average test is cents·n > total (multiplication, no
    // rounding division); the threshold is a 1-row broadcast. The
    // anti join pushes its priority predicate into the orders scan
    // (filter-then-anti-join ≡ NOT EXISTS with the predicate), so the
    // fact side is pre-shrunk before the one shuffle.
    "q_idle_capital" -> Query((s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select(col("c_custkey"), col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long").as("_cents"))
      val thr = cust.filter(col("_cents") > 0L)
        .agg(count(lit(1)).as("_n"), sum(col("_cents")).as("_tot"))
      cust.crossJoin(broadcast(thr))
        .filter(col("_cents") * col("_n") > col("_tot"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          sum(col("_cents")).as("totacctbal_cents"))
        .orderBy("c_nationkey")
    },
      Oracle("""WITH cust AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
        |thr AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(cents) AS tot
        |        FROM cust WHERE cents > 0),
        |rich AS (SELECT c.* FROM cust c, thr
        |         WHERE c.cents * thr.n > thr.tot),
        |idle AS (SELECT r.* FROM rich r WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
        |   AND o.o_orderpriority = '1-URGENT'))
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(cents) AS BIGINT) AS totacctbal_cents
        |FROM idle GROUP BY 1 ORDER BY c_nationkey""".stripMargin)),

    // TPC-H Q17 shape — small-lot revenue: lineitems of a selective
    // part class whose quantity is under 0.2× that part's average,
    // with the threshold as exact-integer cross-multiplication
    // (5·q·n < Σq — no rounding division, the q_dominant_suppliers
    // rule) and money in integer cents. The per-part stats relation
    // is dim-bounded, so BOTH the dim filter and the stats broadcast;
    // lineitem is scanned twice by necessity (the query correlates a
    // row against its own group's aggregate), but only the dim-pruned
    // slice ever shuffles (the stats rollup; AQE reuses the pruned
    // scan for the probe side — ReusedExchange in PLANS.md).
    // avg_yearly is the single trailing division (exact BIGINT cents
    // → double, ÷ 700.0 = ÷100 cents ÷7 years), deterministic in any
    // engine. Ref: the same correlated-aggregate filter as
    // q_scalar_subquery, pushed to a 7-figure-row fact side.
    "q_small_lots" -> Query((s, d) => {
      val dim = Tables.part(s, d).filter(col("p_size") <= 5)
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
        .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"),
          round(col("l_quantity")).cast("long").as("_q"),
          round(col("l_extendedprice") * 100).cast("long").as("_pc"))
      val stats = li.groupBy("l_partkey")
        .agg(count(lit(1)).as("_n"), sum(col("_q")).as("_sq"))
      li.join(broadcast(stats), Seq("l_partkey"))
        .filter(col("_q") * lit(5L) * col("_n") < col("_sq"))
        .agg(count(lit(1)).as("n_lots"),
          sum(col("_pc")).as("revenue_cents"))
        .select(col("n_lots"), col("revenue_cents"),
          (col("revenue_cents").cast("double") / lit(700.0))
            .as("avg_yearly"))
    },
      Oracle("""WITH dim AS (SELECT p_partkey FROM part WHERE p_size <= 5),
        |li AS (SELECT l_partkey,
        |    CAST(round(l_quantity) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem JOIN dim ON l_partkey = p_partkey),
        |st AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq
        |  FROM li GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_lots,
        |  CAST(sum(pc) AS BIGINT) AS revenue_cents,
        |  CAST(CAST(sum(pc) AS BIGINT) AS DOUBLE) /
        |    CAST(700.0 AS DOUBLE) AS avg_yearly
        |FROM li JOIN st USING (l_partkey)
        |WHERE q * 5 * n < sq""".stripMargin)),

    // TPC-H Q18 shape — large-volume orders: the HAVING-rollup semi
    // filter (orders whose total quantity tops 150) joined back to
    // orders and customers, top-100 by volume. The lineitem rollup is
    // ONE map-side-combinable aggregate; both joins are equi-joins on
    // the rollup's (already-shuffled) key; the final top-100 is
    // TakeOrdered — no global sort, nothing about the shape changes
    // when orders/customer stop fitting a broadcast at 100 TB.
    "q_big_orders" -> Query((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 150L)
      big.join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long")
            .as("totalprice_cents"),
          col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey")).limit(100)
    },
      Oracle("""WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 150)
        |SELECT c_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
        |  sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 100""".stripMargin)),

    // TPC-H Q19 shape — disjunctive-predicate revenue: an OR of three
    // (brand, size-range, quantity-range) conjuncts over the
    // lineitem⋈part join. The disjunction can't become a join key,
    // but its PART-ONLY half pushes below the join: the dim is
    // pre-filtered to rows satisfying ANY (brand, size) clause before
    // broadcasting, so the join probes a dim a fraction of the size
    // and only the mixed (quantity) conjuncts evaluate post-join —
    // the manual form of the pushdown Q19 exists to test. DECIMAL
    // revenue, exact count.
    "q_discount_revenue" -> Query((s, d) => {
      def clause(brand: String, szLo: Int, szHi: Int) =
        col("p_brand") === brand &&
          col("p_size").between(szLo, szHi)
      val dim = Tables.part(s, d)
        .filter(clause("Brand#13", 1, 10) || clause("Brand#19", 11, 25) ||
          clause("Brand#5", 26, 50))
        .select("p_partkey", "p_brand", "p_size")
      def full(brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =
        clause(brand, szLo, szHi) &&
          col("l_quantity").between(qLo.toDouble, qHi.toDouble)
      Tables.lineitem(s, d)
        .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
        .filter(full("Brand#13", 1, 10, 1, 15) ||
          full("Brand#19", 11, 25, 10, 30) ||
          full("Brand#5", 26, 50, 20, 50))
        .agg(count(lit(1)).as("n_lots"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,10)")).as("_rev"))
        .select(col("n_lots"), col("_rev").cast("double").as("revenue"))
    },
      Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_lots,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,10))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 11 AND 25
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 26 AND 50
        |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin)),

    // TPC-H Q14 shape — promotion revenue share: conditional-ratio
    // aggregate over the lineitem⋈part join inside one ship-month.
    // Revenue follows the q_revenue_topk exactness rule (DECIMAL 38,10
    // accumulation — order-independent — with double casts only at
    // the surface); the share is two trailing IEEE ops mirrored
    // verbatim in the oracle. One combinable aggregate after the
    // join; the month filter pushes to the lineitem scan.
    "q_promo_share" -> Query((s0, d) => {
      val s = utc(s0)
      val lo = lit("1998-03-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1998-04-01 00:00:00").cast("timestamp_ntz")
      def rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(38,10)")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(38,10)"))).as("_pr"),
          sum(rev).as("_tr"))
        .select(col("_pr").cast("double").as("promo_revenue"),
          col("_tr").cast("double").as("total_revenue"),
          (lit(100.0) * col("_pr").cast("double") /
            col("_tr").cast("double")).as("promo_share_pct"))
    },
      Oracle("""WITH j AS (
        |  SELECT CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(38,10)) AS rev, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1998-03-01'
        |    AND l_shipdate < TIMESTAMP '1998-04-01'),
        |a AS (SELECT
        |  SUM(CASE WHEN p_type = 'PROMO' THEN rev
        |      ELSE CAST(0 AS DECIMAL(38,10)) END) AS pr,
        |  SUM(rev) AS tr FROM j)
        |SELECT CAST(pr AS DOUBLE) AS promo_revenue,
        |  CAST(tr AS DOUBLE) AS total_revenue,
        |  CAST(100.0 AS DOUBLE) * CAST(pr AS DOUBLE) / CAST(tr AS DOUBLE)
        |    AS promo_share_pct
        |FROM a""".stripMargin)),

    // TPC-H Q5 shape — local supplier volume: revenue where the
    // customer and supplier share a nation, one region, one order
    // year. The defining wrinkle is c_nationkey = s_nationkey as a
    // JOIN predicate (not a post-filter): it rides the customer join
    // condition so mismatched pairs never reach the aggregate. Shape:
    // ONE fact-fact shuffle (orders⋈lineitem on orderkey), supplier +
    // nation⋈region broadcast; customer is deliberately UNHINTED —
    // it is the largest dimension, at 100 TB it shuffle-joins on
    // custkey while stats/AQE may still broadcast it at small SF
    // (either is correct; what must not happen is a cartesian).
    "q_local_volume" -> Query((s0, d) => {
      val s = utc(s0)
      val lo = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      val nat = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(38,10)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      Oracle("""SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,10))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // TPC-H Q7 shape — volume shipping between two nations, split by
    // ship year: both nation dims are PRE-FILTERED to the two-nation
    // set before broadcasting (the Q19 part-side rule applied to Q7),
    // so the only post-join predicate is the pair disjunction the
    // join keys can't express. One fact-fact shuffle + the customer
    // equi-join; year(l_shipdate) is cast to BIGINT on both sides
    // (Spark year() is INT, DuckDB's BIGINT — the dtype-sensitive
    // hash rule).
    "q_nation_volume" -> Query((s0, d) => {
      val s = utc(s0)
      val lo = lit("1996-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      val pair = Seq("NATION_10", "NATION_12")
      val n1 = Tables.nation(s, d)
        .filter(col("n_name").isInCollection(pair))
        .select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .filter(col("n_name").isInCollection(pair))
        .select(col("n_nationkey").as("c_nk"),
          col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_10" &&
            col("cust_nation") === "NATION_12") ||
          (col("supp_nation") === "NATION_12" &&
            col("cust_nation") === "NATION_10"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(38,10)")).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      Oracle("""SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(CAST(volume AS DECIMAL(38,10))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND ((n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12')
        |      OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10'))
        |)
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // TPC-H Q4 shape — order priority checking: orders in one quarter
    // with at least one LATE line (shipped ≥90 days after the order —
    // the fixture has no commit/receipt dates, so lateness is the
    // ship-vs-order gap), counted by priority. The EXISTS is a LEFT
    // SEMI join whose condition carries both the orderkey equi-key
    // AND the cross-table lateness comparison — the non-equi conjunct
    // rides the hash join (never a nested loop) because the equi half
    // anchors it; the quarter filter pushes to the orders scan so the
    // semi probe only ever sees one quarter of orders.
    "q_priority_orders" -> Query((s0, d) => {
      val s = utc(s0)
      val lo = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1997-04-01 00:00:00").cast("timestamp_ntz")
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") +
              expr("INTERVAL '90' DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      Oracle("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate >= o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q6 shape — forecast revenue change: the pure-pushdown
    // showcase. All three predicates (ship-year range, discount band,
    // quantity cap) reach the parquet scan as PushedFilters; the plan
    // is scan → partial agg → 1-row final agg, zero joins, one
    // single-row exchange. At 100 TB this reads only row groups whose
    // min/max straddle the band — the I/O-bound lower bound for any
    // scan-agg engine. Sum in DECIMAL(38,10), one trailing double.
    "q_forecast_revenue" -> Query((s0, d) => {
      val s = utc(s0)
      val lo = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(38,10)")).cast("double").as("revenue"))
    },
      Oracle("""SELECT CAST(SUM(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(38,10))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q9 shape — product type profit: profit per supplier
    // nation per order year over a name-token part slice. The fixture
    // has no partsupp, so supply cost is the deterministic proxy
    // 0.1 × p_retailprice × l_quantity (the oracle replays the same
    // expression). Join order is the scale decision: the selective
    // part dim (~10% of parts) joins lineitem FIRST, shrinking the
    // fact ~10× before the only fact-fact shuffle (orders on
    // orderkey); supplier and nation broadcast. Profit rows sum in
    // DECIMAL(38,10); year cast to BIGINT for oracle dtype parity.
    "q_product_profit" -> Query((s0, d) => {
      val s = utc(s0)
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_name").contains("gear"))
            .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            - col("p_retailprice") * col("l_quantity") * lit(0.1))
          .cast("decimal(38,10)")).cast("double").as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      Oracle("""SELECT n_name AS nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    - p_retailprice * l_quantity * 0.1
        |    AS DECIMAL(38,10))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |  AND p_name LIKE '%gear%'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)
        |ORDER BY nation, o_year DESC""".stripMargin)),

    // TPC-H Q10 shape — returned-item reporting: top 20 customers by
    // revenue lost to returns in one quarter. The returnflag filter
    // pushes to the lineitem scan and the quarter filter to the
    // orders scan BEFORE their orderkey shuffle; customer joins on
    // custkey, nation broadcasts. Ranking happens on the EXACT
    // DECIMAL revenue (ties broken by custkey, so the limit-20
    // boundary is deterministic on both engines) and plans as
    // TakeOrderedAndProject — no global sort.
    "q_returned_customers" -> Query((s0, d) => {
      val s = utc(s0)
      val lo = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1997-04-01 00:00:00").cast("timestamp_ntz")
      Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(38,10)")).as("_rev"))
        .orderBy(col("_rev").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"),
          col("_rev").cast("double").as("revenue"),
          col("c_acctbal"), col("n_name"))
    },
      Oracle("""WITH r AS (
        |  SELECT c_custkey, c_name, c_acctbal, n_name,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(38,10))) AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-04-01'
        |  GROUP BY c_custkey, c_name, c_acctbal, n_name
        |  ORDER BY rev DESC, c_custkey
        |  LIMIT 20)
        |SELECT c_custkey, c_name, CAST(rev AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM r""".stripMargin)),

    // TPC-H Q12 shape — shipping priority split: for each line status
    // (the fixture's stand-in for ship mode), how many lines shipped
    // in-year-and-after-order belong to high- vs low-priority orders.
    // The defining feature is the two complementary conditional SUMs
    // over one pass — no second join, no pivot; the cross-table
    // l_shipdate ≥ o_orderdate ordering predicate rides the orderkey
    // join condition. Counts stay BIGINT end to end.
    "q_ship_priority" -> Query((s0, d) => {
      val s = utc(s0)
      val lo = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    },
      Oracle("""SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate >= o_orderdate
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)),

    // TPC-H Q16 shape — parts/supplier relationship: distinct supplier
    // counts per (brand, type, size) slice, excluding flagged
    // suppliers. The fixture has no partsupp, so the part↔supplier
    // relation is the DISTINCT (l_partkey, l_suppkey) pairs observed
    // in the fact table (the heavy op, and the right one: map-side
    // combine collapses repeats before the pair shuffle); "customer
    // complaints" is the negative-balance supplier set, a 6-row
    // broadcast ANTI join (NOT IN with provably non-null keys). Part
    // slice filters push to the part scan before its broadcast.
    "q_part_supp_counts" -> Query((s0, d) => {
      val s = utc(s0)
      val pairs = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val flagged = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      pairs
        .join(broadcast(flagged),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_brand") =!= "Brand#5" &&
              col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 4, 7, 10, 15, 23, 38, 45))
            .select(col("p_partkey"), col("p_brand"), col("p_type"),
              col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"),
          col("p_type"), col("p_size"))
    },
      Oracle("""WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 15, 23, 38, 45)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q15 shape — top supplier(s) by quarterly revenue: per-
    // supplier DECIMAL rollup, the max as a 1-row broadcast, and the
    // tie-exact equality filter (DECIMAL == DECIMAL — no double
    // compare, so ties surface ALL top suppliers, Q15's defining
    // wrinkle). Rollup is one combinable aggregate; nothing sorts
    // globally except the supplier-count-bounded output.
    "q_top_supplier" -> Query((s0, d) => {
      val s = utc(s0)
      val lo = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1998-04-01 00:00:00").cast("timestamp_ntz")
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(38,10)")).as("_rev"))
      val mx = rev.agg(max(col("_rev")).as("_mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("_rev") === col("_mx"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("_rev").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },
      Oracle("""WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(38,10))) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-04-01'
        |  GROUP BY l_suppkey),
        |mx AS (SELECT max(r) AS m FROM rev)
        |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
        |FROM rev CROSS JOIN mx
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE r = m ORDER BY s_suppkey""".stripMargin)),

    // Bloom-filter semi-join reduction: build m=16384-bit / k=3 bits
    // over a selective dim subset (parts with p_size >= 40), broadcast
    // them, probe the fact side's distinct keys — the pre-shuffle
    // fact-filter pattern (what Spark's runtime bloom pushdown does
    // natively; the relational form is auditable). Output carries the
    // exact membership alongside, so false positives are visible
    // per key and false negatives are provably absent (spec-pinned).
    "q_bloom_probe" -> Query((s, d) => {
      val m = 16384
      val k = 3
      val dim = Tables.part(s, d).filter(col("p_size") >= 40)
      val bits = graft.operators.Sketch
        .bloomBits(dim, col("p_partkey"), m, k)
      graft.operators.Sketch
        .bloomProbe(bits, Tables.lineitem(s, d), col("l_partkey"), m, k)
        .join(broadcast(dim.select(col("p_partkey").as("key"),
          lit(true).as("_act"))), Seq("key"), "left")
        .select(col("key").as("partkey"), col("bloom_hit"),
          coalesce(col("_act"), lit(false)).as("actual"))
        .orderBy("partkey")
    },
      Oracle("""WITH bits AS (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(r AS VARCHAR)
        |      || ':' || CAST(p_partkey AS VARCHAR)), 1, 15)) AS BIGINT)
        |    % 16384 AS bit
        |  FROM part, range(3) t(r) WHERE p_size >= 40),
        |probe AS (SELECT DISTINCT l_partkey AS key FROM lineitem),
        |pb AS (
        |  SELECT p.key, CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR)
        |      || ':' || CAST(p.key AS VARCHAR)), 1, 15)) AS BIGINT)
        |    % 16384 AS bit
        |  FROM probe p, range(3) t(r)),
        |hits AS (SELECT key, count(b.bit) AS nb
        |  FROM pb LEFT JOIN bits b USING (bit) GROUP BY key),
        |act AS (SELECT p_partkey AS key, TRUE AS actual FROM part
        |        WHERE p_size >= 40)
        |SELECT h.key AS partkey, (nb = 3) AS bloom_hit,
        |  COALESCE(actual, FALSE) AS actual
        |FROM hits h LEFT JOIN act USING (key)
        |ORDER BY partkey""".stripMargin)),

    // Frontier BFS: hop distances from one customer over the
    // symmetrized customer↔part purchase graph (see operators/Bfs for
    // the level-synchronous shape). Distances are exact integers, so
    // an iterative distributed traversal hash-matches a bounded
    // recursive CTE replay.
    "q_bfs_dist" -> Query((s, d) => {
      // no pre-distinct (round-18; guide §2.4): Bfs.distances makes its
      // edge relation distinct internally, and the forward (even→odd)
      // and reversed (odd→even) branches are disjoint by parity — the
      // old distinct here was a second full exchange of the same rows
      val e0 = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
      val e = e0.union(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Bfs.distances(e, col("src"), col("dst"), 2L, 3)
        .orderBy("dist", "node")
    },
      Oracle("""WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |walk(node, d) AS (
        |  SELECT CAST(2 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT e.dst, walk.d + 1 FROM walk JOIN e ON e.src = walk.node
        |  WHERE walk.d < 3)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY node ORDER BY dist, node""".stripMargin)),

    // HyperBall: per-vertex 2-hop audience size via HLL register
    // diffusion (see operators/Neighborhood) — per-node sketch state
    // where the exact count would need a quadratic self-join. The
    // registers and harmonic denominators are exact integers, so the
    // whole diffusion replays in unrolled oracle SQL; estimate
    // accuracy is spec-pinned instead (running exact at corpus scale
    // would defeat the operator).
    "q_ball_sketch" -> Query((s, d) => {
      // no pre-distinct (round-18; guide §2.4): ballDenominators makes
      // its edge relation distinct internally, and the forward and
      // reversed branches are disjoint by parity — see q_bfs_dist
      val e0 = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
      val e = e0.union(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Neighborhood
        .ballDenominators(e, col("src"), col("dst"), rounds = 2,
          mBits = 4)
        .orderBy("node")
    },
      Oracle("""WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |hops AS (SELECT src, dst FROM e
        |         UNION ALL SELECT node, node FROM n),
        |h AS (SELECT node, CAST(('0x' ||
        |    substr(md5(CAST(node AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM n),
        |r0 AS (SELECT node, h // 72057594037927936 AS bucket,
        |    CASE WHEN h % 72057594037927936 = 0 THEN 57
        |         ELSE 57 - length(bin(h % 72057594037927936)) END
        |      AS max_rho
        |  FROM h),
        |r1 AS (SELECT t.src AS node, r.bucket, max(r.max_rho) AS max_rho
        |  FROM hops t JOIN r0 r ON r.node = t.dst GROUP BY 1, 2),
        |r2 AS (SELECT t.src AS node, r.bucket, max(r.max_rho) AS max_rho
        |  FROM hops t JOIN r1 r ON r.node = t.dst GROUP BY 1, 2),
        |s AS (SELECT node, CAST(count(*) AS BIGINT) AS n_used,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(57 - max_rho AS INT))
        |      AS BIGINT) AS s_used
        |  FROM r2 GROUP BY node)
        |SELECT node, n_used,
        |  s_used + (16 - n_used) * CAST(144115188075855872 AS BIGINT)
        |    AS s_scaled
        |FROM s ORDER BY node""".stripMargin)),

    // Iterative graph analytics beyond connected components: 3 rounds
    // of exact integer-scaled PageRank over the symmetrized
    // customer↔part purchase graph (orders ⋈ lineitem, bipartite ids
    // disambiguated by parity). The integer formulation (17/20
    // damping, div floors, integer Σ) is what makes an iterative
    // fixpoint hash-gateable at all — the classic double variant's
    // contribution sum is shuffle-merge-order-dependent. See
    // operators/PageRank for the overflow contract and scale shape.
    "q_pagerank" -> Query((s, d) => {
      val base = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
      val edges = base.union(
        base.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.PageRank.ranks(edges, col("src"), col("dst"), 3)
        .withColumnRenamed("rank", "pr")
        .orderBy("node")
    },
      Oracle("""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
        |              l_partkey * 2 + 1 AS dst
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0
        |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS pr FROM n),
        |r1 AS (SELECT n.node, CAST(150000000000 +
        |         (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN
        |         (SELECT e.dst AS node, sum(r0.pr // dg.deg) AS c
        |          FROM e JOIN dg USING (src) JOIN r0 ON r0.node = e.src
        |          GROUP BY 1) s ON n.node = s.node),
        |r2 AS (SELECT n.node, CAST(150000000000 +
        |         (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN
        |         (SELECT e.dst AS node, sum(r1.pr // dg.deg) AS c
        |          FROM e JOIN dg USING (src) JOIN r1 ON r1.node = e.src
        |          GROUP BY 1) s ON n.node = s.node),
        |r3 AS (SELECT n.node, CAST(150000000000 +
        |         (17 * COALESCE(s.c, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN
        |         (SELECT e.dst AS node, sum(r2.pr // dg.deg) AS c
        |          FROM e JOIN dg USING (src) JOIN r2 ON r2.node = e.src
        |          GROUP BY 1) s ON n.node = s.node)
        |SELECT node, pr FROM r3 ORDER BY node""".stripMargin)),

    // SCD type-2 versioning of the orders change log: each customer's
    // order history becomes interval-versioned rows (valid_from/
    // valid_to/version/is_current) — the warehouse history-tracking
    // companion to the SCD-1 upsert.
    "q_scd2" -> Query((s, d) =>
      graft.operators.Merge.scd2(
          events(s, d).select(col("user_id"), expr("ts DIV 1000").as("tsu"),
            col("value")),
          col("user_id"), col("tsu"))
        .select("user_id", "tsu", "value", "valid_from", "valid_to",
          "version", "is_current")
        .orderBy("user_id", "version"),
      Oracle("""SELECT user_id, tsu, value, valid_from, valid_to, version,
        |  (valid_to IS NULL) AS is_current
        |FROM (
        |  SELECT user_id, epoch_us(ts) AS tsu, value,
        |    epoch_us(ts) AS valid_from,
        |    lead(epoch_us(ts)) OVER w - 1 AS valid_to,
        |    CAST(row_number() OVER w AS BIGINT) AS version
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)))
        |ORDER BY user_id, version""".stripMargin)),

    // JSON extraction family over the props column: ONE schema-projected
    // from_json supplies the string path, both typed casts, and the
    // missing-path null semantics — props is parsed exactly once per row
    // (the struct alias is multi-referenced, so CollapseProject keeps the
    // parse in its own projection instead of duplicating it). STRING in
    // the schema (not INT) so quoted/oversized numerics survive to the
    // cast exactly like the oracle's json_extract_string → CAST(BIGINT).
    // The generator-based json_tuple API is covered by q_json_tuple on a
    // skinny slice — a Generate between scan and sort breaks whole-stage
    // codegen and is the wrong shape for a full-table pass.
    "q_json_fns" -> Query((s, d) =>
      events(s, d)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType
              .fromDDL("k STRING, missing STRING")).as("p"))
        .select(col("event_id"),
          col("p.k").as("k_str"),
          col("p.k").cast("long").as("k_int"),
          col("p.k").cast("long").as("k_parsed"),
          col("p.missing").as("k_missing"))
        .orderBy("event_id"),
      Oracle("""SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_parsed,
        |  json_extract_string(props, '$.missing') AS k_missing
        |FROM events ORDER BY event_id""".stripMargin)),

    // json_tuple generator API coverage (one parse for several paths —
    // get_json_object would re-parse per call) on a filtered slice: the
    // Generate node is exercised without paying its codegen break on the
    // whole table.
    "q_json_tuple" -> Query((s, d) =>
      events(s, d)
        .filter(col("event_id") % 41 === 0)
        .select(col("event_id"), json_tuple(col("props"), "k", "missing"))
        .toDF("event_id", "k_str", "k_missing")
        .orderBy("event_id"),
      Oracle("""SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  json_extract_string(props, '$.missing') AS k_missing
        |FROM events WHERE event_id % 41 = 0 ORDER BY event_id""".stripMargin)),

    // Exact-arithmetic covariance/correlation per group: built-in
    // corr/covar accumulate running doubles (merge order changes the
    // bits under AQE/partitioning — ungateable); here the five sums
    // accumulate in DECIMAL(38,10) (order-independent), and the
    // moment formulas combine them in one fixed double expression
    // mirrored by the oracle.
    "q_corr_group" -> Query((s, d) => {
      val x = col("l_quantity")
      val y = col("l_discount")
      def dsum(c: org.apache.spark.sql.Column, n: String) =
        sum(c.cast("decimal(38,10)")).cast("double").as(n)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          dsum(x, "sx"), dsum(y, "sy"),
          dsum(x * y, "sxy"), dsum(x * x, "sxx"), dsum(y * y, "syy"))
        .select(col("l_returnflag"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"))
            .as("cov_pop"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) /
            (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
             sqrt(col("syy") - col("sy") * col("sy") / col("n"))))
            .as("corr"))
        .orderBy("l_returnflag")
    },
      Oracle("""WITH a AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,10))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  ((sxy - sx * sy / n) / n) AS cov_pop,
        |  ((sxy - sx * sy / n) /
        |   (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))) AS corr
        |FROM a ORDER BY l_returnflag""".stripMargin)),

    // Group-wise OLS simple regression (slope/intercept/R²) from the
    // same exact DECIMAL power sums as q_corr_group — the per-segment
    // trend-fit a feature pipeline derives at scale; one aggregation,
    // one fixed double expression tree mirrored by the oracle.
    "q_ols_group" -> Query((s, d) => {
      val x = col("l_quantity")
      val y = col("l_discount")
      def dsum(c: org.apache.spark.sql.Column, n: String) =
        sum(c.cast("decimal(38,10)")).cast("double").as(n)
      val covN = col("n") * col("sxy") - col("sx") * col("sy")
      val varN = col("n") * col("sxx") - col("sx") * col("sx")
      val varYN = col("n") * col("syy") - col("sy") * col("sy")
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          dsum(x, "sx"), dsum(y, "sy"),
          dsum(x * y, "sxy"), dsum(x * x, "sxx"), dsum(y * y, "syy"))
        .select(col("l_returnflag"),
          (covN / varN).as("slope"),
          ((col("sy") - covN / varN * col("sx")) / col("n"))
            .as("intercept"),
          (covN * covN / (varN * varYN)).as("r2"))
        .orderBy("l_returnflag")
    },
      Oracle("""WITH a AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,10))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  ((n * sxy - sx * sy) / (n * sxx - sx * sx)) AS slope,
        |  ((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)
        |    AS intercept,
        |  (((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
        |   ((n * sxx - sx * sx) * (n * syy - sy * sy))) AS r2
        |FROM a ORDER BY l_returnflag""".stripMargin)),

    // Exact higher central moments per group (variance/skewness/excess
    // kurtosis) — the distribution-shape profile of a column at scale.
    // Same DECIMAL(38,10) power-sum trick as q_corr_group: the four
    // power sums accumulate exactly (order-independent under any
    // partial-agg schedule), and the moment formulas combine them in
    // ONE fixed double expression tree mirrored token-for-token by the
    // oracle (sqrt instead of pow(x,1.5): pow is libm-dependent,
    // sqrt is IEEE correctly-rounded in both engines).
    "q_moments" -> Query((s, d) => {
      val x = col("l_quantity")
      def dsum(c: org.apache.spark.sql.Column, n: String) =
        sum(c.cast("decimal(38,10)")).cast("double").as(n)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          dsum(x, "s1"), dsum(x * x, "s2"),
          dsum(x * x * x, "s3"), dsum(x * x * x * x, "s4"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("m2",
          col("s2") / col("n") - col("mean") * col("mean"))
        .withColumn("m3",
          col("s3") / col("n") -
            lit(3.0) * col("mean") * (col("s2") / col("n")) +
            lit(2.0) * col("mean") * col("mean") * col("mean"))
        .withColumn("m4",
          col("s4") / col("n") -
            lit(4.0) * col("mean") * (col("s3") / col("n")) +
            lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n")) -
            lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
        .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
          col("mean"), col("m2").as("variance"),
          (col("m3") / (col("m2") * sqrt(col("m2")))).as("skewness"),
          (col("m4") / (col("m2") * col("m2")) - lit(3.0)).as("kurtosis"))
        .orderBy("l_returnflag")
    },
      Oracle("""WITH a AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10)))
        |      AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
        |      AS DECIMAL(38,10))) AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity
        |      AS DECIMAL(38,10))) AS DOUBLE) AS s4
        |  FROM lineitem GROUP BY l_returnflag),
        |b AS (SELECT l_returnflag, n, s1 / n AS mean, s2, s3, s4 FROM a),
        |c AS (SELECT l_returnflag, n, mean,
        |  s2 / n - mean * mean AS m2,
        |  s3 / n - 3.0 * mean * (s2 / n) +
        |    2.0 * mean * mean * mean AS m3,
        |  s4 / n - 4.0 * mean * (s3 / n) +
        |    6.0 * mean * mean * (s2 / n) -
        |    3.0 * mean * mean * mean * mean AS m4
        |  FROM b)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows, mean,
        |  m2 AS variance,
        |  m3 / (m2 * sqrt(m2)) AS skewness,
        |  m4 / (m2 * m2) - 3.0 AS kurtosis
        |FROM c ORDER BY l_returnflag""".stripMargin)),

    // Fixed-width value histogram per group — integer bin arithmetic.
    "q_histogram" -> Query((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") / lit(10000.0)).as("bin"))
        .groupBy("l_returnflag", "bin")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "bin"),
      Oracle("""SELECT l_returnflag,
        |  CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY l_returnflag, bin
        |ORDER BY l_returnflag, bin""".stripMargin)),

    // Deterministic per-group MODE: most frequent event_type per user,
    // ties to the lexicographically smaller value (engines' built-in
    // mode() picks an arbitrary element — unusable under an exactness
    // gate; count + rank window is deterministic and two-phase
    // aggregates under AQE).
    "q_mode_per_group" -> Query((s, d) =>
      events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("cnt").desc, col("event_type"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"),
          col("cnt"))
        .orderBy("user_id"),
      Oracle("""SELECT user_id, event_type AS mode_type, cnt FROM (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY count(*) DESC, event_type) AS rn
        |  FROM events GROUP BY user_id, event_type)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Exact distributed per-group quantiles (disc + cont): rank window
    // + roll-up instead of a group-buffering percentile UDAF — the
    // shape that spills instead of OOMing on a skewed 100 TB group.
    // The interpolation expression tree is mirrored literally in the
    // oracle, so the doubles are bit-exact.
    "q_quantiles" -> Query((s, d) =>
      graft.operators.Quantiles.exactQuantilesHist(
          Tables.lineitem(s, d), col("l_returnflag"), col("l_quantity"),
          Seq(0.25, 0.5, 0.9))
        .withColumnRenamed("_g", "l_returnflag")
        .orderBy("l_returnflag"),
      // mirrors Quantiles.exactQuantiles' expression tree literally:
      // zero-based index i = p*(n-1); disc = element at floor(i); cont =
      // lo + (hi - lo) * (i - floor(i))
      Oracle {
        val ps = Seq(25 -> "0.25", 50 -> "0.5", 90 -> "0.9")
        // CAST(p AS DOUBLE): see q_winsorize — a bare literal is DECIMAL
        // in DuckDB and the index/fraction arithmetic silently diverges
        // from Spark's double path (masked here only when quantile ranks
        // land inside duplicate-value runs).
        val aggs = ps.map { case (pp, p) =>
          val i = s"CAST($p AS DOUBLE) * (n - 1)"
          s"""  max(CASE WHEN rn = CAST(floor($i) AS BIGINT) + 1 THEN v END) AS p${pp}_lo,
             |  max(CASE WHEN rn = CAST(ceil($i) AS BIGINT) + 1 THEN v END) AS p${pp}_hi,
             |  max($i - floor($i)) AS f$pp""".stripMargin
        }.mkString(",\n")
        val outs = ps.map { case (pp, _) =>
          s"""  p${pp}_lo AS p${pp}_disc,
             |  p${pp}_lo + (p${pp}_hi - p${pp}_lo) * f$pp AS p${pp}_cont""".stripMargin
        }.mkString(",\n")
        s"""WITH r AS (SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS v FROM lineitem),
           |rk AS (SELECT g, v,
           |  row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
           |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
           |  FROM r),
           |a AS (SELECT g,
           |$aggs
           |  FROM rk GROUP BY g)
           |SELECT g AS l_returnflag,
           |$outs
           |FROM a ORDER BY l_returnflag""".stripMargin
      }),

    // Exact triangle counting + clustering coefficient over the
    // support-thresholded co-purchase graph (parts adjacent when they
    // repeatedly share an order), via degree-oriented wedge closing —
    // the √m-bounded formulation that survives power-law graphs (see
    // operators/Triangles). The oracle recounts with the naive
    // ordered three-way self-join.
    "q_triangles" -> Query((s, d) =>
      graft.operators.Triangles.nodeProfile(
          graft.operators.Triangles.coPurchaseEdges(
            Tables.lineitem(s, d), "l_orderkey", "l_partkey",
            minSupport = 2))
        .orderBy("node"),
      Oracle("""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT l.p AS a, r.p AS b
        |      FROM li l JOIN li r ON l.o = r.o AND l.p < r.p
        |      GROUP BY l.p, r.p HAVING count(*) >= 2),
        |d AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |      FROM e e1 JOIN e e2 ON e2.a = e1.b
        |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
        |  SELECT x AS node FROM t UNION ALL SELECT y FROM t
        |  UNION ALL SELECT z FROM t) GROUP BY node)
        |SELECT d.node, d.deg,
        |  COALESCE(tc.t, 0) AS triangles,
        |  CASE WHEN d.deg >= 2
        |       THEN CAST(COALESCE(tc.t, 0) * 2 AS DOUBLE)
        |            / CAST(d.deg * (d.deg - 1) AS DOUBLE)
        |       ELSE 0.0 END AS clustering
        |FROM d LEFT JOIN tc USING (node) ORDER BY node""".stripMargin)),

    // Bounded-round k-core peel of the co-purchase graph: 4 rounds of
    // deleting degree-<3 nodes, emitting the surviving degree table —
    // the dense-core extractor (see operators/KCore for why a FIXED
    // round count is what makes iterative deletion hash-gateable).
    "q_kcore" -> Query((s, d) =>
      graft.operators.KCore.peel(
          graft.operators.Triangles.coPurchaseEdges(
            Tables.lineitem(s, d), "l_orderkey", "l_partkey",
            minSupport = 2),
          // k=2 (the cycle core): the co-purchase graph thins as SF
          // grows (fixed parts, spread orders), and k=3 peels sf0.1
          // to empty — k=2 keeps a nonzero core at every test scale.
          k = 2, rounds = 4)
        .orderBy("node"),
      Oracle {
        // Unrolled 4-round peel mirroring KCore.peel's loop exactly;
        // MATERIALIZED pins each round's edge set (the default inlining
        // re-derives e0 once per downstream reference — quadratic).
        val rounds = 4
        val k = 2
        val head =
          """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
            |    l_partkey AS p FROM lineitem),
            |e0 AS MATERIALIZED (SELECT l.p AS a, r.p AS b
            |  FROM li l JOIN li r ON l.o = r.o AND l.p < r.p
            |  GROUP BY l.p, r.p HAVING count(*) >= 2)""".stripMargin
        val peels = (0 until rounds).map { r =>
          s"""d$r AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
             |  SELECT a AS node FROM e$r UNION ALL SELECT b FROM e$r)
             |  GROUP BY node),
             |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k),
             |e${r + 1} AS MATERIALIZED (SELECT a, b FROM e$r
             |  WHERE a IN (SELECT node FROM k$r)
             |  AND b IN (SELECT node FROM k$r))""".stripMargin
        }.mkString(",\n")
        s"""$head,
           |$peels
           |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
           |  SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
           |GROUP BY node ORDER BY node""".stripMargin
      }),

    // Community detection on the same co-purchase graph: 2 rounds of
    // deterministic synchronous label propagation (smallest-label
    // tie-break) — see operators/LabelProp for the BSP fixed-round
    // contract.
    "q_community" -> Query((s, d) =>
      graft.operators.LabelProp.propagate(
          graft.operators.Triangles.coPurchaseEdges(
            Tables.lineitem(s, d), "l_orderkey", "l_partkey",
            minSupport = 2),
          rounds = 2)
        .orderBy("node"),
      Oracle {
        // Unrolled 2-round synchronous LPA mirroring LabelProp.propagate:
        // directed edge doubling, neighbor-label vote counts, and the
        // identical (cnt DESC, label ASC) row_number tie-break per round.
        val rounds = 2
        val head =
          """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
            |    l_partkey AS p FROM lineitem),
            |eu AS MATERIALIZED (SELECT l.p AS a, r.p AS b
            |  FROM li l JOIN li r ON l.o = r.o AND l.p < r.p
            |  GROUP BY l.p, r.p HAVING count(*) >= 2),
            |e AS MATERIALIZED (SELECT a, b FROM eu
            |  UNION ALL SELECT b AS a, a AS b FROM eu),
            |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label
            |  FROM e)""".stripMargin
        val steps = (0 until rounds).map { r =>
          s"""v${r + 1} AS MATERIALIZED (SELECT e.a AS node, l.label,
             |  count(*) AS cnt FROM e JOIN l$r l ON e.b = l.node
             |  GROUP BY e.a, l.label),
             |l${r + 1} AS MATERIALIZED (SELECT node, label FROM (
             |  SELECT node, label, row_number() OVER (PARTITION BY node
             |    ORDER BY cnt DESC, label ASC) AS rn FROM v${r + 1})
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""$head,
           |$steps
           |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
      }),

    // Blocked fuzzy (Levenshtein) self-join on part names: equi-join
    // blocking on (brand, size-decile) through the salted BucketPairs
    // cells, then one codegen'd edit-distance verify per candidate —
    // the record-linkage primitive (see operators/FuzzyJoin for the
    // blocking-recall contract). The size DIV 10 bucket keeps blocks
    // populated at every fixture scale (brand×exact-size blocks are
    // singletons at sf0.001) while holding the candidate count ~25×
    // below brand-only blocking.
    "q_fuzzy_join" -> Query((s, d) =>
      graft.operators.FuzzyJoin.selfJoin(
          Tables.part(s, d), col("p_partkey"), col("p_name"),
          Seq("brand" -> col("p_brand"),
            "szb" -> expr("p_size DIV 10")),
          maxDist = 4)
        .orderBy("id_a", "id_b"),
      Oracle("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size // 10 = b.p_size // 10
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY id_a, id_b""".stripMargin)),

    // Z-order layout profile: Morton-interleave the 12-bit
    // range-reduced (l_partkey, l_suppkey) coordinates, group by the
    // aligned 3-bit-pair key prefix ("the file") and emit per-bucket
    // min/max of both dimensions — the relational proof that the
    // clustered layout bounds every file's span in BOTH dimensions
    // (< 2⁹ out of a 2¹² domain; what a parquet min-max pruner
    // exploits — see operators/ZOrder and ZOrderSpec). The % 4096
    // range reduction fixes the coordinate domain at every fixture
    // scale; both engines' % agree on non-negative keys.
    "q_zorder" -> Query((s, d) =>
      graft.operators.ZOrder.bucketProfile(
          Tables.lineitem(s, d),
          pmod(col("l_partkey"), lit(4096L)),
          pmod(col("l_suppkey"), lit(4096L)),
          bits = 12, prefixBits = 3)
        .orderBy("bucket"),
      Oracle(s"""WITH c AS (SELECT l_partkey % 4096 AS x, l_suppkey % 4096 AS y
         |  FROM lineitem),
         |z AS (SELECT x, y,
         |  ${graft.operators.ZOrder.zkey2Sql("x", "y", 12)} AS z FROM c)
         |SELECT z >> 18 AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Winsorization at the exact per-group [p05, p95] continuous
    // quantiles: bounded-influence clipping with a clipped flag —
    // the feature-scaling companion to q_mad_outlier's row gate.
    "q_winsorize" -> Query((s, d) =>
      graft.operators.Robust.winsorize(
          events(s, d).select(col("event_id"), col("event_type"),
            col("value")),
          col("event_type"), col("value"), lo = 0.05, hi = 0.95)
        .orderBy("event_id"),
      Oracle {
        // CAST(p AS DOUBLE): a bare 0.05 literal is DECIMAL in DuckDB,
        // and decimal×BIGINT index arithmetic is exact where Spark's
        // double path is not — the interpolated bound then differs in
        // the last ulps. Forcing DOUBLE makes both engines perform the
        // identical IEEE sequence.
        def cont(p: String, tag: String) = {
          val i = s"CAST($p AS DOUBLE) * (n - 1)"
          s"""max(CASE WHEN rn = CAST(floor($i) AS BIGINT) + 1 THEN v END) AS lo_$tag,
             |  max(CASE WHEN rn = CAST(ceil($i) AS BIGINT) + 1 THEN v END) AS hi_$tag,
             |  max($i - floor($i)) AS f_$tag""".stripMargin
        }
        s"""WITH r AS (SELECT event_id, event_type AS g, CAST(value AS DOUBLE) AS v
           |  FROM events WHERE value IS NOT NULL),
           |rk AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
           |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM r),
           |b AS (SELECT g,
           |  ${cont("0.05", "l")},
           |  ${cont("0.95", "h")}
           |  FROM rk GROUP BY g),
           |bb AS (SELECT g, lo_l + (hi_l - lo_l) * f_l AS plo,
           |               lo_h + (hi_h - lo_h) * f_h AS phi FROM b)
           |SELECT r.event_id, r.g AS event_type, r.v AS value,
           |  least(greatest(r.v, plo), phi) AS winsorized,
           |  (r.v < plo OR r.v > phi) AS clipped
           |FROM r JOIN bb USING (g) ORDER BY r.event_id""".stripMargin
      }),

    // Robust outlier profile per event_type: exact median, exact MAD,
    // and the |v − med| > 3·MAD outlier count — the heavy-tail-safe
    // z-score gate (see operators/Robust). Exercises two chained
    // exact-median passes through the histogram quantile machinery.
    "q_mad_outlier" -> Query((s, d) =>
      graft.operators.Robust.madProfile(
          events(s, d), col("event_type"), col("value"), k = 3.0)
        .withColumnRenamed("_g", "event_type")
        .orderBy("event_type"),
      Oracle {
        // p50_cont twice (value, then |v − med|), rank formulation —
        // same interpolation expression as the Spark side's hist path.
        // CAST(0.5 AS DOUBLE): see q_winsorize's DECIMAL-literal note
        // (0.5 happens to be exact in both types; cast anyway so the
        // helper survives a different quantile).
        def p50(src: String, vcol: String, out: String) = {
          val i = "CAST(0.5 AS DOUBLE) * (n - 1)"
          s"""rk_$out AS (SELECT g, $vcol AS v,
             |  row_number() OVER (PARTITION BY g ORDER BY $vcol) AS rn,
             |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
             |  FROM $src),
             |agg_$out AS (SELECT g,
             |  max(CASE WHEN rn = CAST(floor($i) AS BIGINT) + 1 THEN v END) AS lo,
             |  max(CASE WHEN rn = CAST(ceil($i) AS BIGINT) + 1 THEN v END) AS hi,
             |  max($i - floor($i)) AS f
             |  FROM rk_$out GROUP BY g),
             |$out AS (SELECT g, lo + (hi - lo) * f AS $out FROM agg_$out)""".stripMargin
        }
        s"""WITH r AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
           |  FROM events WHERE value IS NOT NULL),
           |${p50("r", "v", "med")},
           |a AS (SELECT r.g, r.v, abs(r.v - med.med) AS ad, med.med AS med
           |      FROM r JOIN med ON r.g = med.g),
           |${p50("a", "ad", "mad")}
           |SELECT a.g AS event_type, max(a.med) AS med, max(mad.mad) AS mad,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN a.ad > 3.0 * mad.mad THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_outliers
           |FROM a JOIN mad ON a.g = mad.g
           |GROUP BY a.g ORDER BY event_type""".stripMargin
      }),

    // Rolling robust anomaly band per user series: trailing-15-row
    // discrete median + discrete MAD and the |v − med| > 3·MAD flag —
    // the fat-tail-safe rolling outlier detector (see
    // operators/Robust.rollingRobust for the ranked-element contract
    // that makes a rolling median hash-gateable at all).
    "q_rolling_robust" -> Query((s, d) =>
      graft.operators.Robust.rollingRobust(
          events(s, d).select(col("user_id"),
            expr("ts DIV 1000").as("ts"), col("value")),
          col("user_id"), col("ts"), col("value"), frame = 15, k = 3.0)
        .select(col("user_id"), col("ts"), col("value"),
          col("roll_med"), col("roll_mad"), col("is_anomaly"))
        .orderBy("user_id", "ts"),
      Oracle(// Discrete (ranked-element) rolling median/MAD: the frame list is
      // materialized per row with list() — membership matches Spark's
      // collect_list because ts is unique per user and NULL values are
      // filtered on both sides (list() keeps NULLs, collect_list drops
      // them). Rank ⌈n/2⌉ is element selection, no interpolation.
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts,
        |    CAST(value AS DOUBLE) AS value FROM events
        |  WHERE value IS NOT NULL),
        |f AS (SELECT user_id, ts, value,
        |  list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)) AS fr
        |  FROM e),
        |m AS (SELECT user_id, ts, value, fr,
        |  fr[CAST(ceil(len(fr) / 2.0) AS INT)] AS roll_med FROM f),
        |d AS (SELECT user_id, ts, value, roll_med,
        |  list_sort(list_transform(fr, x -> abs(x - roll_med))) AS dfr
        |  FROM m)
        |SELECT user_id, ts, value, roll_med,
        |  dfr[CAST(ceil(len(dfr) / 2.0) AS INT)] AS roll_mad,
        |  abs(value - roll_med)
        |    > 3.0 * dfr[CAST(ceil(len(dfr) / 2.0) AS INT)] AS is_anomaly
        |FROM d ORDER BY user_id, ts""".stripMargin)),

    // Relational MERGE/upsert (SCD-1 CDC apply): changes = max order
    // price per customer, base = customers outside one residue class
    // (so the insert path fires); matched rows take the change value,
    // unmatched changes insert with null attributes. One full-outer
    // equi-join; the oracle is the same join spelled in SQL.
    "q_upsert" -> Query((s, d) => {
      val base = Tables.customer(s, d).filter(col("c_custkey") % 7 =!= 3)
      val changes = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(max(col("o_totalprice")).as("c_acctbal"))
      graft.operators.Merge.upsert(base, changes, "c_custkey",
          Seq("c_acctbal"))
        .orderBy("c_custkey")
    },
      Oracle("""WITH base AS (SELECT * FROM customer WHERE c_custkey % 7 <> 3),
        |ch AS (SELECT o_custkey AS c_custkey, max(o_totalprice) AS new_bal
        |       FROM orders GROUP BY o_custkey)
        |SELECT coalesce(b.c_custkey, ch.c_custkey) AS c_custkey,
        |  b.c_name, b.c_nationkey,
        |  coalesce(ch.new_bal, b.c_acctbal) AS c_acctbal,
        |  b.c_mktsegment
        |FROM base b FULL OUTER JOIN ch ON b.c_custkey = ch.c_custkey
        |ORDER BY c_custkey""".stripMargin)),

    // PII-style scrubbing: redact long digit runs (ids, phone-like
    // tokens) and count the hits — a pure narrow codegen'd projection,
    // the shape any corpus-scrubbing pass takes at 100 TB. RE2/Java
    // regex dialects agree on this pattern class.
    "q_pii_redact" -> Query((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          regexp_replace(col("c_name"), "[0-9]{4,}", "[ID]").as("redacted"),
          size(regexp_extract_all(col("c_name"), lit("[0-9]{4,}"), lit(0)))
            .cast("long").as("n_hits"))
        .orderBy("c_custkey"),
      Oracle("""SELECT c_custkey,
        |  regexp_replace(c_name, '[0-9]{4,}', '[ID]', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(c_name, '[0-9]{4,}')) AS BIGINT) AS n_hits
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // k-anonymity audit — the re-identification-risk companion to
    // q_pii_redact (Sweeney, "k-Anonymity: A Model for Protecting
    // Privacy", 2002): group by the quasi-identifier tuple
    // (nation, segment, coarsened balance band) and flag equivalence
    // classes smaller than k=5, whose members a linker could single
    // out. One map-side-combinable aggregation; the band floor keeps
    // the QI space coarse enough to be meaningful at any scale.
    "q_kanon" -> Query((s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"),
          col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", col("n") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band"),
      Oracle("""SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS n,
        |  count(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // l-diversity audit — k-anonymity's standard companion (Machanavajjhala
    // et al., "l-Diversity: Privacy Beyond k-Anonymity", ICDE'06): a
    // quasi-identifier class can be large yet still leak the sensitive
    // attribute if every member shares it. Group by the QI tuple
    // (nation, balance band), count DISTINCT sensitive values
    // (mktsegment as the stand-in), flag classes with < l = 3. Same
    // single map-side-combinable aggregation shape as q_kanon — the
    // distinct count is a partial-aggregatable grouping, not a window.
    "q_ldiversity" -> Query((s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_mktsegment")).as("n_sensitive"))
        .withColumn("at_risk", col("n_sensitive") < 3)
        .orderBy("c_nationkey", "bal_band"),
      Oracle("""SELECT c_nationkey,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
        |  count(DISTINCT c_mktsegment) < 3 AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Exact per-group weighted median — quantity-weighted price per
    // return flag; see Quantiles.weightedMedian for the exactness and
    // histogram-shape contract (distinct-value pre-aggregation, then
    // one integer-comparison crossing test per group).
    "q_weighted_median" -> Query((s, d) =>
      graft.operators.Quantiles.weightedMedian(Tables.lineitem(s, d),
          col("l_returnflag"), col("l_extendedprice").cast("double"),
          col("l_quantity"), bucketScale = 0.001) // ~1000-unit price bins
        .withColumnRenamed("_g", "l_returnflag")
        .orderBy("l_returnflag"),
      Oracle("""WITH c AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(sum(w) AS BIGINT) AS w
        |  FROM (SELECT l_returnflag, l_extendedprice,
        |          CAST(l_quantity AS BIGINT) AS w FROM lineitem)
        |  WHERE v IS NOT NULL AND w > 0
        |  GROUP BY 1, 2
        |),
        |r AS (SELECT *,
        |  CAST(sum(w) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum,
        |  CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS tot
        |  FROM c)
        |SELECT g AS l_returnflag,
        |  min(CASE WHEN cum * 2 >= tot THEN v END) AS weighted_median,
        |  CAST(max(tot) AS BIGINT) AS total_weight,
        |  CAST(count(*) AS BIGINT) AS n_distinct
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // 2-D Pareto skyline over part: the cheapest-price-for-its-size
    // frontier (minimize retail price, maximize size) via the
    // sort + prefix-max collapse — see operators/Skyline for why this
    // is NOT the O(n²) NOT-EXISTS self-join.
    "q_skyline" -> Query((s, d) =>
      graft.operators.Skyline
        .frontier2(Tables.part(s, d), col("p_retailprice"), col("p_size"))
        .select(col("x").as("price"),
          col("y").cast("long").as("best_size"))
        .orderBy("price"),
      Oracle("""WITH g AS (SELECT p_retailprice AS price, max(p_size) AS best_size
        |           FROM part
        |           WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
        |           GROUP BY 1),
        |w AS (SELECT price, best_size,
        |  max(best_size) OVER (ORDER BY price
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
        |  FROM g)
        |SELECT price, CAST(best_size AS BIGINT) AS best_size FROM w
        |WHERE best IS NULL OR best_size > best
        |ORDER BY price""".stripMargin)),

    // RFM segmentation — the classic customer-scoring warehouse query:
    // per-customer recency/frequency/monetary roll-up (DECIMAL-exact
    // money sum, order-free), then quintile scores with a custkey
    // tie-break so every assignment is deterministic. The scores are
    // NOT global ntile windows (a single-partition sort of the whole
    // customer relation — the one shape this engine bans): each comes
    // from Quantiles.withGlobalNtile's two-phase ranked scan, whose
    // closed form reproduces ntile(5) bit-for-bit (the oracle still
    // says ntile). Descending metrics enter negated (exact for longs
    // and IEEE doubles), custkey breaks ties.
    "q_rfm" -> Query((s0, d) => {
      val base = Tables.orders(utc(s0), d)
        .groupBy(col("o_custkey"))
        .agg(
          max(unix_micros(col("o_orderdate").cast("timestamp")))
            .as("last_us"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast("decimal(38,10)")).cast("double")
            .as("monetary"))
      val scored = Seq(
        ("r_score", struct((-col("last_us")).as("m"), col("o_custkey").as("t"))),
        ("f_score", struct((-col("freq")).as("m"), col("o_custkey").as("t"))),
        ("m_score", struct((-col("monetary")).as("m"), col("o_custkey").as("t")))
      ).foldLeft(base) { case (acc, (name, ord)) =>
        graft.operators.Quantiles.withGlobalNtile(acc, ord, 5, name)
      }
      scored
        .withColumn("segment",
          concat(col("r_score").cast("string"),
            col("f_score").cast("string"),
            col("m_score").cast("string")))
        .orderBy("o_custkey")
    },
      Oracle("""WITH b AS (SELECT o_custkey,
        |    max(epoch_us(o_orderdate)) AS last_us,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE)
        |      AS monetary
        |  FROM orders GROUP BY 1),
        |sc AS (SELECT o_custkey, last_us, freq, monetary,
        |  CAST(ntile(5) OVER (ORDER BY last_us DESC, o_custkey)
        |    AS BIGINT) AS r_score,
        |  CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey)
        |    AS BIGINT) AS f_score,
        |  CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey)
        |    AS BIGINT) AS m_score
        |  FROM b)
        |SELECT o_custkey, last_us, freq, monetary,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |    || CAST(m_score AS VARCHAR) AS segment
        |FROM sc ORDER BY o_custkey""".stripMargin)),

    // First-order Markov transition counts over each user's event
    // sequence — the path/flow analytics primitive (Sankey feeds,
    // next-action models): lag within the per-user (ts, event_id)
    // total order, then (prev, next) counts and the row-conditional
    // probability in exact ppm integers. One key shuffle for the lag,
    // two map-side-combinable aggregations.
    "q_transition" -> Query((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
      val cnt = ev.groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy("prev").agg(sum("cnt").as("tot"))
      cnt.join(tot, "prev")
        .select(col("prev"), col("next"), col("cnt"),
          expr("cnt * 1000000L DIV tot").as("p_ppm"))
        .orderBy("prev", "next")
    },
      Oracle("""WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |    event_type FROM events),
        |lg AS (SELECT event_type AS next,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY tsu, event_id) AS prev FROM ev),
        |c AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS cnt
        |      FROM lg WHERE prev IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS tot
        |      FROM c GROUP BY 1)
        |SELECT c.prev, c.next, c.cnt,
        |  c.cnt * 1000000 // t.tot AS p_ppm
        |FROM c JOIN t USING (prev) ORDER BY prev, next""".stripMargin)),

    // Association rules on order baskets: the A-Priori pair step with
    // exact integer confidence/lift — see operators/MarketBasket.
    "q_basket_rules" -> Query((s, d) =>
      graft.operators.MarketBasket.pairRules(
          Tables.lineitem(s, d), col("l_orderkey"), col("l_partkey"),
          minSupport = 2)
        .orderBy("a", "b"),
      Oracle("""WITH bi AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
        |  FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS nb FROM bi),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS supp
        |       FROM bi GROUP BY 1),
        |p AS (SELECT l.i AS a, r.i AS b,
        |    CAST(count(*) AS BIGINT) AS supp_ab
        |  FROM bi l JOIN bi r ON l.o = r.o AND l.i < r.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.a, p.b, p.supp_ab,
        |  ia.supp AS supp_a, ib.supp AS supp_b,
        |  p.supp_ab * 1000000 // ia.supp AS conf_ab_ppm,
        |  p.supp_ab * 1000000 // ib.supp AS conf_ba_ppm,
        |  p.supp_ab * nb * 1000000 // (ia.supp * ib.supp) AS lift_ppm
        |FROM p JOIN ic ia ON p.a = ia.i JOIN ic ib ON p.b = ib.i
        |CROSS JOIN n ORDER BY a, b""".stripMargin)),
  )
}
