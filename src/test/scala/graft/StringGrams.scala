package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TermStats

/** The string-key reference source of the n-gram family's gram
  * relation: the `ngrams` higher-order-function chain the DuckDB
  * oracles mirror, with `_k` the space-joined gram STRING instead of
  * its xxhash64. Same shapes as [[TermStats.gramKeys]] and
  * [[TermStats.gramPositions]], so the specs feed both sources into
  * the same consumer and pin hashed == string on the fixtures; the
  * declared queries never run it.
  */
object StringGrams {

  // the words array is bound to a column before the gram lambdas
  // read it (see TermStats.ngrams: an unbound split re-runs per element)
  private def words(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("_id"), TermStats.cleanWords(text).as("_ws"))

  /** (_id, _k) — per-doc distinct with `distinct`, every occurrence
    * without.
    */
  def keys(df: DataFrame, id: Column, text: Column, n: Int,
      distinct: Boolean): DataFrame = {
    val gs = TermStats.ngrams(col("_ws"), n)
    words(df, id, text).select(col("_id"),
      explode(if (distinct) array_distinct(gs) else gs).as("_k"))
  }

  /** (_id, pos, _k) — one row per gram start, pos a 0-based BIGINT. */
  def positions(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame =
    words(df, id, text)
      .select(col("_id"),
        posexplode(TermStats.ngrams(col("_ws"), n)).as(Seq("pos", "_k")))
      .select(col("_id"), col("pos").cast("long").as("pos"), col("_k"))
}
