package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against inputs that run.py
  * generated, and writes the raw samples to `<work>/result.json` (and, in a
  * traced run, the span ledger to `<work>/ledger.json`).
  *
  * Usage: Main <workload> <work dir> <seconds> <trace 0|1> <cores> <seed>
  *
  * The program is called only through its public entry points:
  * `Sessions.local`, `SparkEntry.queries`/`oracleSql`, `Parse.parse` and
  * `StreamingPipeline.dedupStream`/`start`/`enrichBatch`/`toKafkaRecords`.
  */
object Main {
  final case class Run(workload: String, work: String, seconds: Double, trace: Boolean,
      cores: Int, seed: Long) {
    val t0: Long = System.nanoTime()
    /** Progress line on stderr, which run.py keeps in the run's jvm.log. */
    def log(msg: String): Unit =
      System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")
  }

  /** What a workload hands back; `layers` holds per-layer samples (one per
    * pass or per trigger, as each metric defines) and is empty untraced.
    */
  final class Outcome {
    var firstTimedMs = 0L
    val opMs = mutable.ArrayBuffer[Double]()
    val passWallS = mutable.ArrayBuffer[Double]()
    val passCpuS = mutable.ArrayBuffer[Double]()
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()
    var heapRetainedMb = 0.0
    val layers = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val info = mutable.LinkedHashMap[String, Any]()
    def sample(k: String, v: Double): Unit = layers.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
  }

  def main(args: Array[String]): Unit = {
    val run = Run(args(0), args(1), args(2).toDouble, args(3) == "1", args(4).toInt,
      args(5).toLong)
    val spark = graft.Sessions.local(run.cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    run.log(s"session local[${run.cores}] ready")
    val ledger = if (run.trace) Some(new Ledger(spark, s"${run.workload}-${run.seed}")) else None
    val out = run.workload match {
      case "batch_iterative" => Batch.run(spark, run, ledger, withStream = false)
      case "batch_scan" => Batch.run(spark, run, ledger, withStream = true)
      case "stream_replay" => Stream.run(spark, run, ledger)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val record = Map(
      "first_timed_ms" -> out.firstTimedMs,
      "op_ms" -> out.opMs, "pass_wall_s" -> out.passWallS, "pass_cpu_s" -> out.passCpuS,
      "heap_retained_mb" -> out.heapRetainedMb,
      "attempted" -> out.attempted, "failed" -> out.failed, "errors" -> out.errors,
      "layers" -> out.layers, "info" -> out.info)
    writeJson(s"${run.work}/result.json", record)
    spark.stop()
  }

  /** JSON reader and writer for the run's input and output files. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Writes `value` (maps, sequences, numbers, strings) as JSON to `path`. */
  def writeJson(path: String, value: Any): Unit = {
    val pw = new PrintWriter(new File(path), "UTF-8")
    try pw.write(json.writeValueAsString(value)) finally pw.close()
  }

  /** Driver heap in use after a full collection, in MiB: the least of five
    * collections, as garbage that survives one only inflates the reading.
    */
  def heapRetainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(50)
      mem.getHeapMemoryUsage.getUsed / Ledger.MB
    }.min
  }

  /** CPU seconds the whole JVM has used so far: driver, task threads,
    * JIT, garbage collector and listeners.
    */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty)

  /** Runs `body` inside a ledger span when tracing, tagging the calling
    * thread's jobs with it; codegen counters are recorded on close.
    */
  def span[T](ledger: Option[Ledger], name: String, parent: Span)(body: Span => T): T =
    ledger match {
      case None => body(null)
      case Some(l) =>
        val s = l.open(name, parent)
        l.tag(s)
        val (c0, k0) = l.codegenMark()
        try body(s)
        finally {
          val (c1, k1) = l.codegenMark()
          l.close(s)
          s.counts("codegen.compile_ms") = (c1 - c0) / 1e6
          s.counts("codegen.classes") = (k1 - k0).toDouble
          if (parent != null) l.tag(parent)
        }
    }

  /** Layer metrics sampled once per timed pass, in BENCHMARK.json order. */
  val PassLayerNames: Seq[String] = Seq(
    "entry.build_s", "entry.build_jobs",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.driver_only_s",
    "scheduler.task_failures",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.global_windows",
    "codegen.compile_ms", "codegen.classes",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.deser_s", "executor.util",
    "io.input_mb", "io.shuffle_read_mb", "io.shuffle_write_mb", "io.spill_mb",
    "memory.persisted_rdds", "trace.pass_wall_s")

  /** Layer metrics sampled once per stream trigger, in BENCHMARK.json order. */
  val TriggerLayerNames: Seq[String] =
    Ledger.PhaseNames.map(ph => s"streaming.${ph}_ms") ++
      Seq("streaming.sink_ms", "streaming.bars_in", "streaming.records_out",
        "streaming.useful_frac") ++ Ledger.StateNames

  /** Samples every pass-level layer metric of one pass: the counts the
    * ledger summed onto the pass span (codegen and persisted RDDs are
    * recorded on it directly), plus the ones derived from its units.
    */
  def passLayers(l: Ledger, pass: Span, units: Seq[Span], cores: Int, out: Outcome): Unit = {
    val c = pass.counts
    val derived = Map(
      "entry.build_s" -> units.flatMap(u => l.children(u, "build")).map(_.seconds).sum,
      "scheduler.driver_only_s" -> units.map(l.driverOnlySeconds).sum,
      "executor.util" -> c.getOrElse("executor.run_s", 0.0) / (pass.seconds * cores),
      "trace.pass_wall_s" -> pass.seconds)
    PassLayerNames.foreach(k => out.sample(k, derived.getOrElse(k, c.getOrElse(k, 0.0))))
  }

  /** Fills every layer metric a workload did not sample with 0, so each
    * traced run reports the same names.
    */
  def completeLayers(out: Outcome): Unit =
    (PassLayerNames ++ TriggerLayerNames).foreach(k =>
      if (!out.layers.contains(k)) out.sample(k, 0.0))
}
