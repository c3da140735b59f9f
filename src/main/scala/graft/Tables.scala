package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * One parquet file per table under `\$dir/` — TPC-H-ish star schema plus
  * `events` (time-series stand-in for the reference's OHLCV stream),
  * `documents` and `embeddings` (LLM-pipeline operator fixtures).
  *
  * A `spark.read.parquet` scan keeps the load fully Catalyst-managed:
  * column pruning and predicate pushdown reach the parquet reader, and
  * partition sizing follows `spark.sql.files.maxPartitionBytes`.
  * Inferring a parquet schema runs a Spark job, so each file's schema
  * is inferred once and memoised, keyed by the path, length and
  * modification time of every file under the table's path plus the
  * session's parquet settings; later loads read with `.schema(memo)`.
  * A rewritten file has a new key and is inferred again.
  *
  * DRIFT CONTRACT (round-8, after the round-7 events.ts ns→µs
  * regeneration cost most of a day): the driver regenerates fixtures
  * between rounds and has shipped the same logical column under
  * different parquet physical types. Every load is therefore checked
  * against a per-table schema contract:
  *   - instant columns (`events.ts`, `o_orderdate`, `l_shipdate`)
  *     accept any of TIMESTAMP(NANOS)-as-int64 / TIMESTAMP(µs,
  *     NTZ or LTZ) / DATE, and `events.ts` is NORMALIZED to the
  *     engine-wide canonical unit (int64 epoch-nanoseconds — exact,
  *     total-ordered, reproducible in DuckDB as `epoch_us(ts)*1000`);
  *   - every other column must carry its expected type CLASS exactly
  *     (integral / fractional / string / binary / float-array) —
  *     NO silent normalization, because the DuckDB oracle reads the
  *     same parquet natively and a quiet cast here (say decimal →
  *     double) would shift Spark's arithmetic away from the oracle's
  *     and surface as an opaque hash mismatch three stages later;
  *   - any other drift fails AT LOAD with a message naming the table,
  *     column, found type, and accepted types — one clear error
  *     instead of a day of query debugging.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Type classes a fixture column may legally carry. Instants list
    * every physical encoding the driver has shipped (or plausibly
    * ships next) for a date/time column; the rest are exact classes.
    */
  private sealed trait Accept { def ok(t: DataType): Boolean; def show: String }
  private case object Integral extends Accept {
    def ok(t: DataType): Boolean = t match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
      case _ => false
    }
    def show = "integral (int8/16/32/64)"
  }
  private case object Fractional extends Accept {
    def ok(t: DataType): Boolean = t match {
      case _: FloatType | _: DoubleType => true
      case _ => false
    }
    def show = "fractional (float/double)"
  }
  private case object Str extends Accept {
    def ok(t: DataType): Boolean = t.isInstanceOf[StringType]
    def show = "string"
  }
  private case object Instant extends Accept {
    def ok(t: DataType): Boolean = t match {
      case _: LongType | _: TimestampType | _: TimestampNTZType |
           _: DateType => true
      case _ => false
    }
    def show = "instant (int64-ns / timestamp / timestamp_ntz / date)"
  }
  private case object FloatArray extends Accept {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(_: FloatType | _: DoubleType, _) => true
      case _ => false
    }
    def show = "array<float|double>"
  }

  /** Required columns and their accepted type classes, per table.
    * Extra columns are tolerated (additive drift is harmless); a
    * missing column or a class change fails fast.
    */
  private val contracts: Map[String, Seq[(String, Accept)]] = Map(
    "region" -> Seq("r_regionkey" -> Integral, "r_name" -> Str),
    "nation" -> Seq("n_nationkey" -> Integral, "n_name" -> Str,
      "n_regionkey" -> Integral),
    "customer" -> Seq("c_custkey" -> Integral, "c_name" -> Str,
      "c_nationkey" -> Integral, "c_acctbal" -> Fractional,
      "c_mktsegment" -> Str),
    "supplier" -> Seq("s_suppkey" -> Integral, "s_name" -> Str,
      "s_nationkey" -> Integral),
    "part" -> Seq("p_partkey" -> Integral, "p_name" -> Str,
      "p_retailprice" -> Fractional, "p_size" -> Integral),
    "orders" -> Seq("o_orderkey" -> Integral, "o_custkey" -> Integral,
      "o_orderstatus" -> Str, "o_totalprice" -> Fractional,
      "o_orderdate" -> Instant, "o_orderpriority" -> Str),
    "lineitem" -> Seq("l_orderkey" -> Integral, "l_partkey" -> Integral,
      "l_suppkey" -> Integral, "l_linenumber" -> Integral,
      "l_quantity" -> Fractional, "l_extendedprice" -> Fractional,
      "l_discount" -> Fractional, "l_tax" -> Fractional,
      "l_returnflag" -> Str, "l_linestatus" -> Str,
      "l_shipdate" -> Instant),
    "events" -> Seq("event_id" -> Integral, "ts" -> Instant,
      "user_id" -> Integral, "event_type" -> Str,
      "value" -> Fractional, "props" -> Str),
    "documents" -> Seq("doc_id" -> Integral, "text" -> Str,
      "lang" -> Str, "source" -> Str, "n_chars" -> Integral),
    "embeddings" -> Seq("vec_id" -> Integral,
      "embedding" -> FloatArray, "label" -> Integral))

  private def assertContract(name: String, df: DataFrame): DataFrame = {
    contracts.get(name).foreach { cols =>
      val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
      cols.foreach { case (c, accept) =>
        have.get(c) match {
          case None => throw new IllegalStateException(
            s"fixture drift: $name.parquet has no column '$c' " +
              s"(present: ${df.schema.fieldNames.mkString(", ")}) — " +
              "the driver regenerated the fixture with a new shape; " +
              "update Tables.contracts and the queries that read it")
          case Some(t) if !accept.ok(t) => throw new IllegalStateException(
            s"fixture drift: $name.$c is ${t.simpleString}, expected " +
              s"${accept.show} — the driver regenerated the fixture " +
              "with a new physical type; teach Tables the conversion " +
              "(see Tables.events' ts normalization) or adjust the " +
              "contract if the oracle agrees natively")
          case _ => ()
        }
      }
    }
    df
  }

  /** Every file under a table's path as (path, length, modification
    * time), and the session's parquet settings.
    */
  private type Version = (Seq[(String, Long, Long)], Map[String, String])
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[Version, StructType]()

  /** A reader of `path` with its memoised schema, inferred on the first
    * load of this version of its files. A missing path gets a plain
    * reader, so the load fails as Spark reports it.
    */
  private def reader(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read
    else {
      val files = Iterator.unfold(fs.listFiles(p, true))(it =>
        Option.when(it.hasNext)(it.next()).map(f => (f, it)))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSeq.sorted
      val key = (files, spark.conf.getAll.filter(_._1.contains("parquet")))
      spark.read.schema(
        schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema))
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    assertContract(name, reader(spark, path).parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** `events.ts` normalized to the engine-wide contract: an int64 of
    * epoch-NANOSECONDS — exact, total-ordered, and reproducible in the
    * DuckDB oracle as `epoch_us(ts) * 1000` / `epoch_us(ts)` after the
    * downstream `DIV 1000`. The fixture has shipped both parquet
    * physical types across rounds — TIMESTAMP(NANOS) (reads as int64
    * under `spark.sql.legacy.parquet.nanosAsLong`) and
    * TIMESTAMP(MICROS) (reads as a timestamp) — so the loader
    * dispatches on the resolved type instead of assuming one:
    * timestamps (and a hypothetical date regeneration) convert via
    * `unix_micros` (µs-exact, then ×1000; the NTZ→LTZ cast is the
    * identity under the UTC session timezone the entry boundary pins),
    * int64 passes through, anything else fails the [[contracts]]
    * check at load. Callers needing a real timestamp can
    * `(ts / 1000).cast("timestamp")`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case TimestampNTZType | TimestampType | DateType =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df // int64 epoch-ns (TIMESTAMP(NANOS) under nanosAsLong)
    }
  }

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
