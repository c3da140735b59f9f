package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization and the binned interval join built on it.
  *
  * `sessionize` is the composable lag+running-sum formulation (each row
  * gets a per-user session ordinal) — unlike the built-in
  * `session_window` aggregate (q_window_session), the assignment stays
  * on the ROW, so downstream operators can group, join, or window by
  * (user, session) — one shuffle on the user key, identical to every
  * other per-user window in the engine.
  *
  * `countContaining` is the classic scale rewrite of an interval
  * containment join: replicate each interval to the fixed-width time
  * bins it covers, equi-join probes to intervals ON THE BIN, then apply
  * the exact containment predicate. A probe's bin is unique, so every
  * qualifying (probe, interval) pair meets in exactly one bin — no
  * dedup stage — and the O(n·m) inequality join a naive planner would
  * nested-loop becomes a hash join whose work scales with TRUE overlap
  * density plus interval span / bin width. Pick the bin near the median
  * interval span: wider bins replicate less but co-locate more.
  */
object Sessionize {

  /** Assign per-user gap-based session ordinals (1-based): a new
    * session starts at the first event and whenever the gap since the
    * previous event exceeds `gapUs`. Adds `session_seq`.
    */
  def sessionize(ev: DataFrame, user: Column, tsUs: Column,
      gapUs: Long): DataFrame = {
    val w = Window.partitionBy(user).orderBy(tsUs)
    ev.withColumn("_prev", lag(tsUs, 1).over(w))
      .withColumn("_brk",
        when(col("_prev").isNull || tsUs - col("_prev") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("_brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_prev", "_brk")
  }

  /** Per-session bounds/size: (user, session_seq, n_events, t_start,
    * t_end). The groupBy key extends the sessionize shuffle key, so no
    * second exchange is needed (partial aggregation handles the rest).
    */
  def sessionStats(ev: DataFrame, user: Column, tsUs: Column,
      gapUs: Long): DataFrame =
    sessionize(ev, user, tsUs, gapUs)
      .groupBy(user.as("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(tsUs).as("t_start"), max(tsUs).as("t_end"))

  /** For every probe row, the number of intervals whose
    * [start, end] contains its timestamp — zero-match probes kept with
    * count 0 (left join on the bin).
    *
    * @param probe     rows to enrich
    * @param id        unique probe id column
    * @param tsUs      probe timestamp (µs)
    * @param intervals interval relation
    * @param startUs   interval start (µs, inclusive)
    * @param endUs     interval end (µs, inclusive)
    * @param binUs     bin width (µs); each interval is replicated to
    *                  span/binUs + 1 bins
    * @return (probe_id, n_active)
    */
  def countContaining(probe: DataFrame, id: Column, tsUs: Column,
      intervals: DataFrame, startUs: Column, endUs: Column,
      binUs: Long): DataFrame = {
    require(binUs >= 1, "bin width must be positive")
    val p = probe.select(id.as("_probe"), tsUs.as("_pts"))
      .withColumn("_pbin", expr(s"_pts DIV ${binUs}L"))
    val iv = intervals.select(startUs.as("_s"), endUs.as("_e"))
      .filter(col("_s") <= col("_e"))
      .withColumn("_ibin",
        explode(sequence(expr(s"_s DIV ${binUs}L"), expr(s"_e DIV ${binUs}L"))))
    p.join(iv, col("_pbin") === col("_ibin") &&
        col("_pts").between(col("_s"), col("_e")), "left")
      .groupBy(col("_probe"))
      .agg(count(col("_s")).as("n_active"))
      .select(col("_probe").as("probe_id"), col("n_active"))
  }
}
