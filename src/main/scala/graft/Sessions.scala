package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for the harness mains and tests.
  *
  * All engine-relevant confs live here, at session construction — no
  * loader or operator mutates session state:
  *  - shuffle partitions sized to the local core count (not the 200
  *    default) so sf-scale local runs don't fragment; on a real cluster
  *    this would be AQE-advised / `spark.sql.shuffle.partitions` tuned
  *    to executor count;
  *  - UTC session timezone (all reference date math is naive
  *    `yyyy-MM-dd`);
  *  - `nanosAsLong` kept for fixture-schema robustness: some rounds
  *    ship `events.ts` as TIMESTAMP(NANOS), which only reads (as exact
  *    int64 nanoseconds) under this conf; current fixtures are
  *    TIMESTAMP(MICROS), where the conf is a no-op and [[Tables.events]]
  *    normalizes the timestamp back to the ns-long contract;
  *  - Spark's generated-class cache sized to [[CodegenCacheEntries]].
  *    The cache is JVM-wide and LRU, and holds 100 classes by default,
  *    split into four segments of 25. A repeated job that cycles
  *    through more distinct classes than that evicts each one before
  *    its next use, so every execution compiled its code again with
  *    Janino, and the JIT then compiled the fresh classes again too.
  *    The generated source is stable across executions, so a cache that
  *    holds the working set turns those compiles into hits. Distinct
  *    classes one `perfbench` JVM compiles in all (sf0.01, set-up
  *    included): 101 for `batch_iterative`, 263 for `batch_scan`, 205
  *    for `stream_replay` (20 triggers), so about 570 if one JVM ran
  *    all three;
  *  - whole-stage class names without the codegen stage id
  *    (`useIdInClassName` off). The id is the only part of a
  *    whole-stage source that names the stage, and adaptive execution
  *    numbers stages in the order they are re-planned, which can differ
  *    between two executions of one plan; with the id in the class name
  *    such an execution missed the cache. The id stays in the source's
  *    `codegenStageId` comment and in `explain` output.
  *
  * One class is still compiled per streaming trigger that advances the
  * watermark: Spark's state-eviction predicate inlines the watermark as
  * a literal (`timestamp <= <watermark µs>`), so each new watermark is
  * new source. That is Spark's, not a value graft builds.
  *
  * `configure` adds confs on top of these, for a session that needs
  * more (a Hive catalog, say); it must not override the ones above.
  */
object Sessions {
  /** `spark.sql.codegen.cache.maxEntries`: about 7× the ~570-class
    * working set above, so that no LRU segment overflows and a
    * long-lived JVM that runs other catalogue queries between two runs
    * of a job still keeps the job's classes. A class retains about
    * 14 KiB of heap (`batch_scan`: +2.3 MiB for ~160 more cached
    * classes), so a full cache holds about 55 MiB. A static conf that
    * Spark reads once, when the JVM first generates code: it takes
    * effect only when [[local]] creates the JVM's first session.
    */
  val CodegenCacheEntries = 4000

  def local(cpus: String,
      configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Harness-main session: `SPARK_GRAFT_CPUS` override, else the
    * contract runtime (local[32]) capped by the actual core count —
    * a bare `runMain graft.Bench` must bench at full parallelism, not
    * a conservative default.
    */
  def fromEnv(): SparkSession =
    local(sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString))
}
