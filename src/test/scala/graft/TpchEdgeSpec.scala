package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Q14/Q19 DECIMAL edge semantics (round-12 sweep target): what the
  * gated shapes return on degenerate slices, pinned to the DuckDB
  * aggregate semantics the oracles rely on —
  *  - SUM over ZERO rows is NULL (not 0) in both engines, and an
  *    ungrouped aggregate still returns exactly ONE row;
  *  - NULL propagates through the share arithmetic (NULL/NULL, 100·
  *    NULL), so an empty month slice yields a NULL share, never 0/0
  *    → NaN and never a crash;
  *  - a month WITH rows but NO promo rows sums the explicit
  *    `otherwise(0 as decimal)` arm to exact 0E-10, so the share is a
  *    real 0.0 — the 0-vs-NULL distinction is semantic (no data vs no
  *    promos) and must never be collapsed by an na.fill.
  * If a rewrite of q_promo_share / q_discount_revenue ever changes
  * these (e.g. coalescing sums to 0), the oracle hash would break on
  * exactly the slice nobody tests locally — this spec fails first.
  */
class TpchEdgeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    .cast("decimal(38,10)")

  test("Q14 shape on an EMPTY month slice: one row, NULL revenues, " +
      "NULL share") {
    val s = SparkEntry.queries("q_promo_share") // shape sanity only
    assert(s != null)
    val empty = Tables.lineitem(spark, dir).filter(lit(false))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(38,10)"))).as("_pr"),
        sum(rev).as("_tr"))
      .select(col("_pr").cast("double").as("promo_revenue"),
        col("_tr").cast("double").as("total_revenue"),
        (lit(100.0) * col("_pr").cast("double") /
          col("_tr").cast("double")).as("promo_share_pct"))
      .collect()
    assert(empty.length === 1, "ungrouped agg must return one row")
    assert(empty.head.isNullAt(0) && empty.head.isNullAt(1) &&
      empty.head.isNullAt(2),
      s"empty slice must be NULL/NULL/NULL, got ${empty.head}")
  }

  test("Q14 shape with rows but ZERO promo rows: promo revenue is " +
      "exact decimal zero, share is real 0.0 (not NULL, not NaN)") {
    val row = Tables.lineitem(spark, dir).limit(50)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "NEVER-A-TYPE", rev)
          .otherwise(lit(0).cast("decimal(38,10)"))).as("_pr"),
        sum(rev).as("_tr"))
      .select(col("_pr").cast("double").as("promo_revenue"),
        (lit(100.0) * col("_pr").cast("double") /
          col("_tr").cast("double")).as("promo_share_pct"))
      .head()
    assert(row.getDouble(0) === 0.0)
    assert(row.getDouble(1) === 0.0)
    assert(!row.getDouble(1).isNaN)
  }

  test("Q19 shape with a predicate matching NOTHING: count 0, " +
      "revenue NULL — a failure-shaped slice stays one honest row") {
    val row = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") === "Brand#NONE")
      .agg(count(lit(1)).as("n_lots"), sum(rev).as("_rev"))
      .select(col("n_lots"), col("_rev").cast("double").as("revenue"))
      .head()
    assert(row.getLong(0) === 0L)
    assert(row.isNullAt(1),
      "SUM over zero rows must stay NULL (DuckDB parity), not 0")
  }
}
