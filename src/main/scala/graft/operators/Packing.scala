package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training data: documents' token streams
  * are concatenated in a deterministic order and sliced into
  * fixed-size context-window chunks — the standard "concatenate then
  * chunk" packing policy. The core primitive is a DISTRIBUTED global
  * prefix sum: the naive formulation (`sum().over(Window.orderBy(...))`
  * with no partition spec) collapses the whole dataset onto ONE task,
  * which is exactly the plan that dies at 100 TB.
  *
  * Distributed scan shape (classic two-phase):
  *  1. range-partition by the order key (global order across
  *     partitions, local order within);
  *  2. per-partition exclusive running sum via a window PARTITIONED on
  *     `spark_partition_id()` — parallel, no cross-partition traffic;
  *  3. per-partition totals (one row per partition) get their own
  *     exclusive prefix sum — the only single-partition window, over
  *     ~numPartitions rows of index metadata — and join back as
  *     offsets via a broadcast. The same window, over the whole frame,
  *     also yields each value's grand total.
  * The partition-id stamp rides on a [[org.apache.spark.sql.graft
  * .Bridge.persistRows]]-materialized relation so both consumers (rows
  * and totals) read the SAME physical rows — partition assignment can
  * never diverge between them. Several values share one scan: one
  * persisted relation, one range partitioning, one offsets window.
  */
object Packing {

  /** Adds `out` = exclusive prefix sum of `value` in `orderCol` order
    * (0 for the first row). `orderCol` must be unique for a
    * deterministic result.
    */
  def withGlobalCumsum(df: DataFrame, orderCol: Column, value: Column,
      out: String): DataFrame =
    withGlobalCumsum(df, orderCol, Seq(value -> out)).drop(s"${out}_total")

  /** For each `(value, out)` pair, adds `out` = exclusive prefix sum of
    * `value` in `orderCol` order (0 for the first row) and
    * `out_total` = the sum of `value` over all rows, from ONE two-phase
    * scan. `orderCol` must be unique for a deterministic result.
    */
  def withGlobalCumsum(df: DataFrame, orderCol: Column,
      sums: Seq[(Column, String)]): DataFrame = {
    require(sums.nonEmpty, "need at least one (value, out) pair")
    val vs = sums.indices.map(i => s"_psv$i")
    val ranged = org.apache.spark.sql.graft.Bridge.persistRows(
      df.select(col("*") +: sums.zip(vs).map { case ((value, _), v) =>
          value.cast("long").as(v) }: _*)
        .repartitionByRange(orderCol)
        .withColumn("_pid", spark_partition_id()))
    val wLocal = Window.partitionBy("_pid").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged.select(col("*") +: vs.map(v =>
      coalesce(sum(col(v)).over(wLocal), lit(0L)).as(s"${v}_before")): _*)
    // one Window operator: both frames share its order on _pid
    val wOff = Window.orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = ranged.groupBy("_pid")
      .agg(sum(col(vs.head)).as(s"${vs.head}_p"),
        vs.tail.map(v => sum(col(v)).as(s"${v}_p")): _*)
      .select(col("_pid") +: vs.flatMap(v => Seq(
        coalesce(sum(col(s"${v}_p")).over(wOff), lit(0L)).as(s"${v}_off"),
        sum(col(s"${v}_p")).over(wAll).as(s"${v}_tot"))): _*)
    sums.zip(vs).foldLeft(local.join(broadcast(offsets), "_pid")) {
      case (d, ((_, out), v)) => d
        .withColumn(out, col(s"${v}_off") + col(s"${v}_before"))
        .withColumn(s"${out}_total", col(s"${v}_tot"))
    }.drop("_pid" +: vs.flatMap(v =>
      Seq(v, s"${v}_before", s"${v}_off", s"${v}_tot")): _*)
  }

  /** Adds `out` = EXCLUSIVE prefix max of `value` in `orderCol` order
    * (NULL for the globally first row) — the scan primitive behind
    * [[Skyline]]'s frontier test, in the same two-phase shape as
    * [[withGlobalCumsum]]: range-partition on the order key, local
    * running max per partition, per-partition maxima rolled into
    * broadcast offsets (the only single-task window runs over
    * |partitions| rows). `orderCol` must be unique. `greatest` merges
    * the partition offset with the local prefix (it skips NULLs, so
    * partition-first and global-first rows fall out naturally).
    */
  def withGlobalPrefixMax(df: DataFrame, orderCol: Column, value: Column,
      out: String): DataFrame = {
    // No cast: max is type-preserving, so the scan works for any
    // orderable value type (int sizes, double prices, timestamps) —
    // unlike the cumsum, which needs the widening to long.
    val ranged = org.apache.spark.sql.graft.Bridge.persistRows(
      df.withColumn("_pmv", value)
        .repartitionByRange(orderCol)
        .withColumn("_pid", spark_partition_id()))
    val wLocal = Window.partitionBy("_pid").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged.withColumn("_local_before",
      max(col("_pmv")).over(wLocal))
    val wOff = Window.orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("_pid")
      .agg(max(col("_pmv")).as("_pmax"))
      .withColumn("_off", max(col("_pmax")).over(wOff))
      .select("_pid", "_off")
    local.join(broadcast(offsets), "_pid")
      .withColumn(out, greatest(col("_off"), col("_local_before")))
      .drop("_pid", "_pmv", "_local_before", "_off")
  }

  /** Per-document sliding-window chunking (the retrieval-pipeline
    * chunker): overlapping token windows of `window` tokens every
    * `stride` tokens, last window clamped to the document end. A doc
    * with n ≤ window tokens yields one chunk; otherwise
    * ⌈(n − window) / stride⌉ + 1, so the final window always reaches
    * the last token. One generator explode per doc — narrow, no
    * shuffle; all arithmetic integer-exact.
    */
  def slidingChunks(df: DataFrame, id: Column, nTokens: Column,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "need 1 <= stride <= window")
    val n = nTokens.cast("long")
    // ⌈(n−window)/stride⌉ via floor-div (Column `/` is double division;
    // operands stay far below 2^53 so the floor is exact)
    val k = when(n <= window, lit(1L))
      .otherwise(floor((n - window + stride - 1) / stride) + 1L)
    df.select(id.as("doc_id"), n.as("n_tokens"), k.as("_k"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("_k") - 1)))
      .withColumn("tok_start", col("chunk_idx") * stride)
      .withColumn("tok_end",
        least(col("n_tokens"), col("tok_start") + window))
      .drop("_k")
  }

  /** Chunk assignment under concatenate-then-chunk packing: each
    * document reports the context-window chunk holding its first token
    * (`chunk_id`) and the token offset inside that chunk
    * (`chunk_off`). Exact integer arithmetic end to end.
    */
  def packChunks(df: DataFrame, orderCol: Column, tokens: Column,
      chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    withGlobalCumsum(df, orderCol, tokens, "cum_before")
      .withColumn("chunk_id", floor(col("cum_before") / lit(chunkTokens)))
      .withColumn("chunk_off", col("cum_before") % lit(chunkTokens.toLong))
  }
}
