package graft

import org.scalatest.funsuite.AnyFunSuite

import Bench._

/** The decisions of the bench protocol, as `Bench.main` calls them: the
  * contamination flag, the adjudication of a child re-measure, the
  * record and stdout line, and the parent's parse of a child's line.
  * Pure: no Spark session.
  */
class BenchProtocolSpec extends AnyFunSuite {

  private val quiet = 0.2

  /** Two timed reps: seconds `a` and `b`, at loadavgs `la` and `lb`. */
  private def two(a: Double, b: Double, la: Double = quiet,
      lb: Double = quiet): Seq[(Double, Double)] = Seq((a, la), (b, lb))

  test("spread: flagged just above SpreadMax, not at it") {
    assert(!flagged(1.0, two(1.0, SpreadMax)))
    assert(flagged(1.0, two(1.0, SpreadMax + 0.01)))
  }

  test("busy: a loadavg above LoadBusy flags a mild spread, not at it") {
    assert(!flagged(1.0, two(1.0, 1.3, lb = LoadBusy)))
    assert(flagged(1.0, two(1.0, 1.3, lb = LoadBusy + 0.01)))
    // an unreadable loadavg (−1) never counts as busy
    assert(!flagged(1.0, two(1.0, 1.3, -1.0, -1.0)))
  }

  test("busy and load jump need a spread above MildSpread") {
    // a jump of just over 2.0 between the reps, quiet to busy
    assert(!flagged(1.0, two(1.0, MildSpread, 0.0, 2.01)))
    assert(flagged(1.0, two(1.0, MildSpread + 0.01, 0.0, 2.01)))
    assert(!flagged(1.0, two(1.0, MildSpread, 5.0, 5.0)))
    assert(flagged(1.0, two(1.0, MildSpread + 0.01, 5.0, 5.0)))
  }

  test("values below MinSec are never flagged") {
    val wild = two(0.2, 0.9, 5.0, 5.0)
    assert(!flagged(MinSec - 0.01, wild))
    assert(flagged(MinSec, wild))
  }

  test("adjudication takes the lower value and keeps the median when the child failed") {
    assert(adjudicated(2.0, -1.0) == 2.0)
    assert(adjudicated(2.0, 1.5) == 1.5)
    assert(adjudicated(2.0, 3.0) == 2.0)
    val r = run(Seq("q_a" -> 2.0, "q_b" -> 3.0, "q_c" -> 1.0),
      remeasured = Seq("q_a" -> 1.5, "q_b" -> -1.0))
    assert(r.valueRaw == 6.0)
    assert(r.value == 5.5)
  }

  /** The 241 catalogue queries, with distinct timings. */
  private val catalogue: Seq[(String, Double)] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map { case (q, i) =>
      q -> (((i * 7919) % 241) * 0.037 + 0.1)
    }

  test("the stdout line for 241 queries fits LineBudget, slowest first") {
    assert(catalogue.size == 241)
    // the worst case for the capped lists: RemeasureCap flagged queries
    val worst = catalogue.sortBy(-_._2).take(RemeasureCap)
    val r = run(catalogue, contaminated = worst.map(_._1),
      remeasured = worst.map { case (q, v) => q -> v / 2 })
    val l = line(r, child = false)
    assert(l.length < LineBudget)
    val shown = objectEntries(l, "queries")
    assert(shown.nonEmpty)
    assert(shown.head._1 == catalogue.maxBy(_._2)._1)
    assert(shown.map(_._2) == shown.map(_._2).sortBy(-_))
    // packed: no query left out would still fit
    val slack = LineBudget - 1 - l.length
    val names = shown.map(_._1).toSet
    catalogue.filterNot(q => names(q._1)).foreach { case (q, v) =>
      assert(f"${Verify.jstr(q)}:$v%.3f".length + 1 > slack, q)
    }
    assert(field(l, "n_queries") == "241")
    assert(field(l, "n_contaminated") == RemeasureCap.toString)
    assert(objectEntries(l, "remeasured").size == ListCap)
    assert(objectEntries(record(r), "remeasured").size == RemeasureCap)
  }

  test("record and line carry the committed key sets") {
    val shared = Seq("metric", "unit", "reps", "protocol", "loadavg_start",
      "cpu_busy_start", "wall_secs", "budget", "n_shed", "n_rm_skipped", "sf",
      "errors")
    val r = run(Seq("q_a" -> 2.0), contaminated = Seq("q_a"),
      remeasured = Seq("q_a" -> 1.0))
    assert(keys(record(r)) == shared ++ Seq("contaminated", "remeasured",
      "remeasured_median", "value_adjudicated", "rows", "rep_secs_loadavg",
      "queries", "value_raw", "value"))
    val lineKeys = shared ++ Seq("n_contaminated", "n_remeasured",
      "contaminated", "remeasured", "value_adjudicated", "n_queries", "queries")
    val tail = Seq("queries_full", "value_raw", "value")
    assert(keys(line(r, child = false)) == lineKeys ++ tail)
    assert(keys(line(r, child = true)) == lineKeys ++ Seq("queries_median") ++ tail)
    assert(field(line(r, child = false), "protocol") == "\"warm1_shed_min2\"")
    assert(field(record(r), "value") == "1.000")
  }

  test("the child parse reads best and median from their own objects") {
    val child = run(Seq("q_a" -> 1.25, "q_b" -> 2.5))
      .copy(medians = Seq("q_a" -> 1.75, "q_b" -> 3.5))
    val stray = """stray "queries":{"q_a":9.999} "queries_median":{"q_a":8.888}"""
    val out = stray + "\n" + line(child, child = true) + "\n"
    assert(childValues(out, Seq("q_a", "q_b", "q_c")) == Seq(
      ("q_a", 1.25, 1.75), ("q_b", 2.5, 3.5), ("q_c", -1.0, -1.0)))
    assert(childValues("", Seq("q_a")) == Seq(("q_a", -1.0, -1.0)))
  }

  private def run(timings: Seq[(String, Double)],
      contaminated: Seq[String] = Nil,
      remeasured: Seq[(String, Double)] = Nil): Run =
    Run(sfDir = "/data/sf0.1", loadavgStart = 0.5, cpuBusyStart = 0.02,
      wallSecs = 1800.0, nShed = 3, nRmSkipped = 0, timings = timings,
      medians = timings, rows = timings.map { case (q, _) => q -> 1000L },
      errors = Nil, reps = timings.map { case (q, v) => q -> Seq((v, 0.5)) },
      contaminated = contaminated, remeasured = remeasured,
      remeasuredMedian = remeasured)

  /** Top-level keys of a JSON object whose strings hold no quotes. */
  private def keys(json: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var i = 0
    while (i < json.length) {
      json(i) match {
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1
        case '"' =>
          val end = json.indexOf('"', i + 1)
          if (depth == 1 && json.startsWith(":", end + 1))
            out += json.substring(i + 1, end)
          i = end
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** The raw value of a scalar top-level field. */
  private def field(json: String, key: String): String =
    ("\"" + key + "\":([^,}]*)").r.findFirstMatchIn(json).get.group(1)

  /** The `"name":seconds` entries of a flat object field, in order. */
  private def objectEntries(json: String, key: String): Seq[(String, Double)] =
    ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(json).get.group(1)
      .split(",").toSeq.filter(_.nonEmpty).map { e =>
        val Array(k, v) = e.split(":")
        k.stripPrefix("\"").stripSuffix("\"") -> v.toDouble
      }
}
