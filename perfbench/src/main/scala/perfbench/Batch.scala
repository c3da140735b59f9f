package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `batch_iterative` and `batch_scan`: one client thread runs the
  * catalogue queries listed in `<work>/order.txt` (shuffled by the seed) in
  * a closed loop. With `withStream` (batch_scan), each pass also replays
  * one stream trigger ([[Replay]]) after its queries, so the streaming and
  * state layers are measured in a gated workload.
  *
  * Set-up runs each query once and writes its result as parquet under
  * `<work>/results/<query>` together with its oracle SQL, so run.py can
  * compare them with DuckDB, and replays the stream's first trigger (every
  * symbol's initial history); then `WarmPasses` untimed passes warm the
  * JVM. Timed passes then repeat until `seconds` have passed (at least
  * `MinPasses`); each query is timed from calling its catalogue entry
  * until its noop write returns.
  */
object Batch {
  import Main._

  val WarmPasses = 1
  val MinPasses = 3

  def run(spark: SparkSession, run: Run, ledger: Option[Ledger], withStream: Boolean): Outcome = {
    val out = new Outcome
    val tables = s"${run.work}/tables"
    val order = lines(s"${run.work}/order.txt")
    val entries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val replay = if (withStream) Some(new Replay(spark, run, ledger)) else None

    writeJson(s"${run.work}/oracle_sql.json", order.map(q => q -> oracle.getOrElse(q, null)).toMap)
    for (q <- order) {
      out.attempted += 1
      try entries(q)(spark, tables).write.mode("overwrite").parquet(s"${run.work}/results/$q")
      catch { case e: Exception => out.fail(q, e) }
      run.log(s"set-up $q")
    }
    replay.foreach(_.next(null, out))

    // Untimed passes: the first executions run on a cold JVM.
    for (_ <- 1 to WarmPasses) {
      for (q <- order) {
        out.attempted += 1
        try entries(q)(spark, tables).write.format("noop").mode("overwrite").save()
        catch { case e: Exception => out.fail(q, e) }
      }
      replay.foreach(_.next(null, out))
      run.log("set-up warm pass")
    }

    val root = ledger.map(_.open(run.workload, null)).orNull
    out.firstTimedMs = System.currentTimeMillis()
    val timed0 = System.nanoTime()
    val passes = Iterator.from(0).takeWhile { p =>
      replay.forall(_.hasNext) &&
        (p < MinPasses || (System.nanoTime() - timed0) / 1e9 < run.seconds)
    }.map { p =>
      span(ledger, s"pass $p", root) { pass =>
        val t0 = System.nanoTime()
        val cpu0 = processCpuS()
        val queries = order.map { q =>
          span(ledger, s"query $q", pass) { qs =>
            out.attempted += 1
            val b0 = System.nanoTime()
            try {
              val df = span(ledger, "build", qs)(_ => entries(q)(spark, tables))
              span(ledger, "execute", qs)(_ =>
                df.write.format("noop").mode("overwrite").save())
              out.opMs += (System.nanoTime() - b0) / 1e6
            } catch { case e: Exception => out.fail(q, e) }
            qs
          }
        }
        val trigger = replay.map { r =>
          val (ts, ms) = r.next(pass, out)
          out.opMs += ms
          ts
        }
        out.passCpuS += processCpuS() - cpu0
        out.passWallS += (System.nanoTime() - t0) / 1e9
        ledger.foreach(_ => pass.counts("memory.persisted_rdds") =
          spark.sparkContext.getPersistentRDDs.size.toDouble)
        run.log(f"pass $p: ${out.passWallS.last}%.3f s wall, ${out.passCpuS.last}%.3f s cpu")
        (pass, queries ++ trigger)
      }
    }.toList
    out.heapRetainedMb = heapRetainedMb()
    replay.foreach { r =>
      r.stop()
      r.check(out)
    }

    ledger.foreach { l =>
      l.close(root)
      l.finish()
      l.attribute(b => replay.flatMap(_.batchOwner(b)))
      for ((pass, units) <- passes) {
        passLayers(l, pass, units, run.cores, out)
        for (r <- replay; ts <- units.lastOption) r.sampleTrigger(l, ts, out)
      }
      completeLayers(out)
      l.write(s"${run.work}/ledger.json", Map("workload" -> run.workload, "seed" -> run.seed))
    }
    out
  }
}
