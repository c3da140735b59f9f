package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `parent` is the span that caused it (-1 for the
  * root); every span of a run carries the run's id when written out.
  * Times are wall-clock milliseconds, as Spark's listener events give them.
  */
final class Span(val id: Int, val parent: Int, val name: String, val startMs: Long) {
  var endMs: Long = startMs
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def seconds: Double = (endMs - startMs) / 1e3
}

/** The traced run's recorder. The benchmark opens spans around its calls
  * into the program (workload, pass, query, build, execute, trigger, sink);
  * Spark's listener, query-execution listener and streaming-query listener
  * add job and stage spans under them and the counts of each layer.
  * Everything stays in memory until [[write]].
  *
  * Jobs are tied to the benchmark span through a local property set on the
  * calling thread, or, for micro-batches, through the batch id Spark sets.
  * A query execution belongs to the innermost benchmark span open when its
  * analysis started (the client is one thread, so these spans never overlap
  * except by nesting).
  */
final class Ledger(spark: SparkSession, val runId: String) {
  import Ledger._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val byId = mutable.HashMap[Int, Span]()

  def open(name: String, parent: Span): Span =
    record(name, parent, System.currentTimeMillis(), -1L)

  private def record(name: String, parent: Span, startMs: Long, endMs: Long): Span =
    synchronized {
      val s = new Span(spans.size, if (parent == null) -1 else parent.id, name, startMs)
      s.endMs = endMs
      spans += s
      byId(s.id) = s
      s
    }

  def close(s: Span): Unit = s.endMs = System.currentTimeMillis()

  /** Jobs submitted from the calling thread from now on belong to `s`. */
  def tag(s: Span): Unit = sc.setLocalProperty(SpanKey, s.id.toString)

  /** Codegen counters, JVM-wide: compile nanoseconds and classes compiled. */
  def codegenMark(): (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  // ---- listener side (listener-bus thread) -------------------------------

  private final class Job(val id: Int, val startMs: Long, val span: Option[Int],
      val batchId: Option[Long]) {
    var endMs: Long = -1L
    var stages = 0
    val m = new Metrics
  }
  private final class Stage(val id: Int, val job: Job, val submittedMs: Long) {
    var completedMs: Long = -1L
  }
  /** Task-level sums, in the units the layer metrics report. */
  private final class Metrics {
    var tasks, failures = 0L
    var runMs, cpuNs, gcMs, deserMs, inBytes, shufRead, shufWrite, spill = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val qes = mutable.ArrayBuffer[Qe]()
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def prop(p: Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Ledger.this.synchronized {
      val j = new Job(e.jobId, e.time, prop(e.properties, SpanKey).map(_.toInt),
        prop(e.properties, BatchIdKey).map(_.toLong))
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Ledger.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      lastEventMs = System.currentTimeMillis()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Ledger.this.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach { j =>
        j.stages += 1
        stages += new Stage(e.stageInfo.stageId, j,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Ledger.this.synchronized {
      stages.reverseIterator.find(_.id == e.stageInfo.stageId)
        .foreach(_.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Ledger.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val m = j.m
        m.tasks += 1
        if (e.reason != org.apache.spark.Success) m.failures += 1
        val t = e.taskMetrics
        if (t != null) {
          m.runMs += t.executorRunTime
          m.cpuNs += t.executorCpuTime
          m.gcMs += t.jvmGCTime
          m.deserMs += t.executorDeserializeTime
          m.inBytes += t.inputMetrics.bytesRead
          m.shufRead += t.shuffleReadMetrics.totalBytesRead
          m.shufWrite += t.shuffleWriteMetrics.bytesWritten
          m.spill += t.diskBytesSpilled
        }
      }
      lastEventMs = System.currentTimeMillis()
    }
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQe(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordQe(qe)
    private def recordQe(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val windows = scala.util.Try(planHelper.collect(qe.executedPlan) {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.size).getOrElse(0)
      // "size of files read" of every file scan: the bytes of the files
      // the plan's scans selected, as the scan node reports them.
      val scanBytes = scala.util.Try(planHelper.collect(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }.sum).getOrElse(0L)
      Ledger.this.synchronized {
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
        qes += Qe(start, ms("analysis"), ms("optimization"), ms("planning"), windows, scanBytes)
        lastEventMs = System.currentTimeMillis()
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Ledger.this.synchronized { progress += e.progress; lastEventMs = System.currentTimeMillis() }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Waits until the listeners have seen every started job end and no event
    * has arrived for a moment, then detaches them.
    */
  def finish(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    def quiet = synchronized {
      jobs.valuesIterator.forall(_.endMs >= 0) &&
        System.currentTimeMillis() - lastEventMs > 500
    }
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(100)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- aggregation ---------------------------------------------------------

  /** Span that owns a job: the tagged span, or the trigger of its batch. */
  private def owner(j: Job, batchOwner: Long => Option[Span]): Option[Span] =
    j.batchId.flatMap(batchOwner).orElse(j.span.flatMap(byId.get))

  private def ancestors(s: Span): Iterator[Span] =
    Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent))).takeWhile(_.isDefined).map(_.get)

  /** Adds job and stage spans under their owners, streaming phase spans
    * under their triggers, and each layer's counts to every span on the
    * path to the root. Call once, after [[finish]].
    */
  def attribute(batchOwner: Long => Option[Span]): Unit = synchronized {
    val opened = spans.toList
    // The innermost benchmark span open at wall-clock time t.
    def spanAt(t: Long): Option[Span] =
      opened.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startMs)
    val jobSpan = mutable.HashMap[Int, Span]()
    for (j <- jobs.valuesIterator; o <- owner(j, batchOwner)) {
      val js = record(s"job ${j.id}", o, j.startMs, j.endMs)
      jobSpan(j.id) = js
      val m = j.m
      val c = Seq("scheduler.jobs" -> 1.0, "scheduler.stages" -> j.stages.toDouble,
        "scheduler.tasks" -> m.tasks.toDouble, "scheduler.task_failures" -> m.failures.toDouble,
        "executor.run_s" -> m.runMs / 1e3, "executor.cpu_s" -> m.cpuNs / 1e9,
        "executor.gc_s" -> m.gcMs / 1e3, "executor.deser_s" -> m.deserMs / 1e3,
        "io.task_read_mb" -> m.inBytes / MB, "io.shuffle_read_mb" -> m.shufRead / MB,
        "io.shuffle_write_mb" -> m.shufWrite / MB, "io.spill_mb" -> m.spill / MB)
      ancestors(js).foreach(a => add(a, c))
      if (o.name == "build") ancestors(o).foreach(a => add(a, Seq("entry.build_jobs" -> 1.0)))
    }
    for (st <- stages; o <- jobSpan.get(st.job.id))
      record(s"stage ${st.id}", o, st.submittedMs, st.completedMs)
    for (q <- qes; o <- spanAt(q.startMs)) {
      ancestors(o).foreach(a => add(a, Seq("catalyst.analysis_ms" -> q.analysisMs.toDouble,
        "catalyst.optimization_ms" -> q.optimizationMs.toDouble,
        "catalyst.planning_ms" -> q.planningMs.toDouble,
        "catalyst.global_windows" -> q.globalWindows.toDouble,
        "io.input_mb" -> q.scanBytes / MB,
        "catalyst.executions" -> 1.0)))
    }
    for (p <- progress; o <- batchOwner(p.batchId)) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      var at = start
      for (phase <- PhaseNames; d <- Option(p.durationMs.get(phase)).map(_.longValue)) {
        record(s"phase $phase", o, at, at + d)
        at += d
        add(o, Seq(s"streaming.${phase}_ms" -> d.toDouble))
      }
      p.stateOperators.headOption.foreach { st =>
        add(o, StateNames.zip(Seq(st.numRowsTotal.toDouble, st.memoryUsedBytes / MB,
          st.numRowsUpdated.toDouble, st.numRowsRemoved.toDouble,
          st.numRowsDroppedByWatermark.toDouble, st.commitTimeMs.toDouble,
          st.allUpdatesTimeMs.toDouble, st.allRemovalsTimeMs.toDouble)),
          replace = Set("state.rows_total", "state.mem_mb"))
      }
    }
  }

  private def add(s: Span, kv: Seq[(String, Double)], replace: Set[String] = Set.empty): Unit =
    kv.foreach { case (k, v) =>
      s.counts(k) = if (replace(k)) v else s.counts.getOrElse(k, 0.0) + v
    }

  /** Milliseconds of [start, end] covered by the union of `iv`. */
  private def coveredMs(start: Long, end: Long, iv: Iterable[(Long, Long)]): Long = {
    var covered = 0L
    var hi = start
    for ((a, b) <- iv.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
        .filter(x => x._2 > x._1).toSeq.sortBy(_._1)) {
      if (b > hi) covered += b - math.max(a, hi)
      hi = math.max(hi, b)
    }
    covered
  }

  /** Seconds of `s` with none of the jobs under it running. */
  def driverOnlySeconds(s: Span): Double = synchronized {
    val jobsUnder = spans.filter(c => c.name.startsWith("job ") && ancestors(c).exists(_.id == s.id))
    (s.endMs - s.startMs - coveredMs(s.startMs, s.endMs, jobsUnder.map(c => (c.startMs, c.endMs)))) / 1e3
  }

  def children(s: Span, name: String): Seq[Span] = synchronized {
    spans.filter(c => c.parent == s.id && c.name == name).toSeq
  }

  /** The span tree with each span's self time (its duration minus the part
    * its children cover), for the run's ledger file.
    */
  def write(path: String, extra: Map[String, Any]): Unit = synchronized {
    val kids = spans.groupBy(_.parent)
    val rows = spans.map { s =>
      val covered = coveredMs(s.startMs, s.endMs, kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
      Map("id" -> s.id, "parent" -> s.parent, "run" -> runId, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> (s.endMs - s.startMs - covered), "counts" -> s.counts)
    }
    Main.writeJson(path, extra ++ Map("run" -> runId, "spans" -> rows))
  }
}

object Ledger {
  /** One executed plan: when its analysis started, its Catalyst phase times
    * and its count of WindowExec nodes with no partition spec.
    */
  private final case class Qe(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, globalWindows: Int, scanBytes: Long)

  val SpanKey = "perfbench.span"
  val BatchIdKey = "streaming.sql.batchId"
  val PhaseNames: Seq[String] =
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
  /** The state operator's figures, in the order [[attribute]] records them. */
  val StateNames: Seq[String] = Seq("state.rows_total", "state.mem_mb", "state.rows_updated",
    "state.rows_removed", "state.dropped_by_watermark", "state.commit_ms", "state.update_ms",
    "state.removal_ms")
  val MB = 1024.0 * 1024.0
}
