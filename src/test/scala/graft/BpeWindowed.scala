package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.operators.TextStats

/** The relational window form of BPE encoding: a per-character symbol
  * relation and one window pass per merge, the run-parity rule (within
  * each maximal run of consecutive match positions, merge the even
  * offsets) written in the same three window functions the DuckDB
  * oracle uses. It is the executable reference BpeSpec pins the
  * codegen'd [[graft.operators.Bpe.encode]] kernel and the sequential
  * scan against; the declared queries never run it.
  */
object BpeWindowed {

  /** The per-(doc, word) character-symbol relation BPE starts from:
    * (doc_id, widx, pos, tok) — lowercased, whitespace-split
    * (TextStats.WsRegex), empty words dropped.
    */
  def charSymbols(df: DataFrame, id: Column, text: Column): DataFrame = {
    val words = df.select(id.as("doc_id"),
        posexplode(filter(split(lower(text), TextStats.WsRegex),
          w => length(w) > 0)))
      .withColumnRenamed("pos", "widx")
      .withColumnRenamed("col", "w")
    words.select(col("doc_id"), col("widx"),
        posexplode(Bridge.column(graft.functions.CodePoints(
          Bridge.expression(col("w"))))))
      .withColumnRenamed("col", "tok")
  }

  /** The greedy run-parity merge decision, computed entirely inside
    * ONE window ordering (round-17, guide §2.4 "remove shuffles/sorts
    * outright"): the previous formulation derived the run-relative
    * offset with a second window PARTITIONED on (doc, word, run, m) —
    * a different partition key, so every merge application paid an
    * extra full sort of the symbol relation (and the trailing
    * `_consumed` lag a third, to restore pos order). All three facts
    * are expressible over the SAME (doc, word) × pos ordering:
    *
    *   _m      = tok == l && next == r              (match position)
    *   _mi     = running count of matches           (frame sum)
    *   _rsmi   = _mi at the current run's start     (last non-null of
    *             `_mi where _m && !lag(_m)` — a run is CONSECUTIVE
    *             match rows, so the most recent run-start at or before
    *             a match row is its own run's first row)
    *   _merge  = _m && (_mi − _rsmi) even           (greedy = every
    *             second occurrence along the chain, from the start)
    *
    * which Catalyst stacks as window nodes over one sort. Equivalence
    * to the two-window form: for a match row, min(_mi) over its
    * (doc, word, run, m) group IS the run-start's _mi — BpeSpec pins
    * the window form against the sequential scan either way.
    * Appends `_merge` (this row absorbs its right neighbor) and
    * `_consumed` (this row was absorbed) to `marked`'s columns.
    */
  private def withMergeFlags(marked: DataFrame,
      wOrd: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    marked
      .withColumn("_pm",
        coalesce(lag(col("_m"), 1).over(wOrd), lit(false)))
      .withColumn("_mi", sum(when(col("_m"), 1L).otherwise(0L))
        .over(wCum))
      .withColumn("_rsmi",
        last(when(col("_m") && !col("_pm"), col("_mi")),
          ignoreNulls = true).over(wCum))
      .withColumn("_merge", col("_m") &&
        pmod(col("_mi") - col("_rsmi"), lit(2L)) === 0L)
      .withColumn("_consumed",
        coalesce(lag(col("_merge"), 1).over(wOrd), lit(false)))
  }

  /** One greedy merge of (l, r) → l+r applied everywhere, via the
    * run-parity rule. `syms` must have (doc_id, widx, pos, tok);
    * output has the same shape (pos values stay sparse — only their
    * ORDER matters, which every consumer respects). Single-sort: see
    * [[withMergeFlags]].
    */
  def applyMerge(syms: DataFrame, l: String,
      r: String): DataFrame = {
    val wOrd = Window.partitionBy("doc_id", "widx").orderBy("pos")
    val marked = syms
      .withColumn("_nx", lead(col("tok"), 1).over(wOrd))
      .withColumn("_m", col("tok") === lit(l) && col("_nx") === lit(r))
    withMergeFlags(marked, wOrd).filter(!col("_consumed"))
      .select(col("doc_id"), col("widx"), col("pos"),
        when(col("_merge"), concat(col("tok"), col("_nx")))
          .otherwise(col("tok")).as("tok"))
  }

  /** The relational window-form encoder — [[applyMerge]] folded over
    * the per-character symbol relation. `pos` stays sparse here.
    */
  def encode(df: DataFrame, id: Column,
      text: Column, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(charSymbols(df, id, text)) {
      case (s, (l, r)) => applyMerge(s, l, r)
    }
}
