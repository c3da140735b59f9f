package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference,
  GenericInternalRow, JoinedRow, NullsFirst, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequence packing for LLM training data: documents' token streams
  * are concatenated in a deterministic order and sliced into
  * fixed-size context-window chunks — the standard "concatenate then
  * chunk" packing policy. The core primitive is a DISTRIBUTED global
  * prefix scan: the naive formulation (`sum().over(Window.orderBy(...))`
  * with no partition spec) collapses the whole dataset onto ONE task,
  * which is exactly the plan that dies at 100 TB.
  *
  * Distributed scan shape (classic two-phase, one shuffle):
  *  1. range-partition by the order key and sort within partitions
  *     (global order across partitions, local order within), persisted
  *     once;
  *  2. one job folds each partition's values into one summary per
  *     value (its sum or max) and returns those ~numPartitions values
  *     to the driver, which turns them into exclusive per-partition
  *     offsets and the grand totals;
  *  3. one narrow pass over the persisted partitions appends offset +
  *     running value (and the totals) to each row.
  * No window, no broadcast and no exchange follow the range
  * partitioning. The result declares that layout
  * ([[org.apache.spark.sql.graft.Bridge.sortedRelation]]) when the
  * order key is a column, so an `orderBy` on it, or an aggregate keyed
  * on it, plans no further exchange. Several values share one scan:
  * one persisted relation, one range partitioning, one summary job.
  * Steps 1–2 run when the scan is built; the appended columns are lazy.
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
    * `value` in `orderCol` order (0 for the first row, NULL values
    * skipped) and `out_total` = the sum of `value` over all rows (NULL
    * when no value is non-NULL), from ONE two-phase scan. A sum past
    * the long range fails, as ANSI `sum` does. `orderCol` must be unique
    * for a deterministic result.
    */
  def withGlobalCumsum(df: DataFrame, orderCol: Column,
      sums: Seq[(Column, String)]): DataFrame = {
    require(sums.nonEmpty, "need at least one (value, out) pair")
    val vs = sums.indices.map(i => s"_psv$i")
    scan(df.select(col("*") +: sums.zip(vs).map { case ((value, _), v) =>
        value.cast("long").as(v) }: _*), orderCol, vs,
      sums.flatMap { case (_, out) => Seq(StructField(out, LongType, false),
        StructField(s"${out}_total", LongType, true)) },
      (a, b) => Math.addExact(a.asInstanceOf[Long], b.asInstanceOf[Long])) {
      (before, totals) => before.indices.flatMap(j =>
        Seq(if (before(j) == null) 0L else before(j), totals(j)))
    }
  }

  /** Adds `out` = EXCLUSIVE prefix max of `value` in `orderCol` order
    * (NULL for the globally first row, and while no non-NULL value
    * precedes) — the scan primitive behind [[Skyline]]'s frontier test,
    * in the same two-phase shape as [[withGlobalCumsum]]. `orderCol`
    * must be unique. No cast: max is type-preserving, so the scan works
    * for any orderable value type (int sizes, double prices,
    * timestamps) — unlike the cumsum, which needs the widening to long.
    * Ties keep the earlier value, as `greatest` does.
    */
  def withGlobalPrefixMax(df: DataFrame, orderCol: Column, value: Column,
      out: String): DataFrame = {
    val withV = df.withColumn("_pmv", value)
    val t = withV.schema("_pmv").dataType
    val ord = TypeUtils.getInterpretedOrdering(t)
    scan(withV, orderCol, Seq("_pmv"), Seq(StructField(out, t, true)),
      (a, b) => if (ord.gt(b, a)) b else a)((before, _) => before.toSeq)
  }

  /** The scan both prefix operators share. Each of `values` (columns of
    * `df`) is folded in `orderCol` order with `plus`, an associative
    * merge of two non-NULL values; NULLs are skipped. `emit(before, totals)` gives the appended `out` columns of
    * one row from the exclusive prefix of every value (NULL while
    * nothing non-NULL precedes) and the grand totals (NULL when every
    * value is NULL). The `values` columns are dropped from the result.
    */
  private def scan(df: DataFrame, orderCol: Column, values: Seq[String],
      out: Seq[StructField], plus: (Any, Any) => Any)(
      emit: (Array[Any], Array[Any]) => Seq[Any]): DataFrame = {
    val sorted = df.repartitionByRange(orderCol).sortWithinPartitions(orderCol)
    val schema = df.schema
    val idx = values.map(schema.fieldIndex)
    val types = values.map(schema(_).dataType)
    def merge(a: Any, b: Any): Any =
      if (a == null) b else if (b == null) a else plus(a, b)
    // one partition's running fold: adds `row` to `acc` and returns the
    // exclusive prefix before it
    def fold(acc: Array[Any], row: InternalRow): Array[Any] = {
      val before = acc.clone()
      idx.indices.foreach { j =>
        if (!row.isNullAt(idx(j)))
          acc(j) = merge(acc(j), InternalRow.copyValue(row.get(idx(j), types(j))))
      }
      before
    }
    val rows = Bridge.persistedRows(sorted)
    val k = values.size
    val parts = rows.mapPartitions { it =>
      val acc = new Array[Any](k)
      it.foreach(fold(acc, _))
      Iterator.single(acc)
    }.collect()
    val offsets = parts.scanLeft(new Array[Any](k))((a, p) =>
      Array.tabulate(k)(j => merge(a(j), p(j))))
    val totals = offsets.last
    val scanned = rows.mapPartitionsWithIndex { (i, it) =>
      val acc = offsets(i).clone()
      it.map[InternalRow](row => new JoinedRow(row,
        new GenericInternalRow(emit(fold(acc, row), totals).toArray)))
    }
    Bridge.sortedRelation(df.sparkSession, scanned,
      StructType(schema.fields ++ out), keyColumn(sorted))
      .drop(values: _*)
  }

  /** The column `sorted` (a sort within partitions over a range
    * repartitioning) is ordered on, when its key is a bare column in
    * ascending NULLs-first order; else None.
    */
  private def keyColumn(sorted: DataFrame): Option[String] =
    sorted.queryExecution.analyzed match {
      case Sort(Seq(SortOrder(a: AttributeReference, Ascending, NullsFirst, _)),
          false, _, _) => Some(a.name)
      case _ => None
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
