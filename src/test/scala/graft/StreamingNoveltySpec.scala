package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingNovelty

/** The bounded-state streaming novelty gate vs the exact set-based
  * computation: with the filter sized for the gram volume the Bloom FP
  * count is zero and the streamed partials must equal the exact
  * history-vs-increment numbers bit for bit (the FP-conditional
  * equality contract, same as StreamingBloomDedupSpec's).
  */
class StreamingNoveltySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val n = 2 // bigrams keep the hand computation readable
  private val history = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a stitch in time saves nine says the tailor"),
    (3L, "the quick brown cat sleeps all day long"))
  private val increment = Seq(
    (10L, "the quick brown fox runs far away"),       // shares 3 bigrams
    (11L, "entirely novel text with fresh word pairs"), // shares none
    (12L, "a stitch in time saves nine says the tailor")) // full rehash

  private def gramSet(text: String): Set[String] =
    text.trim.split("\\s+").toSeq.sliding(n).map(_.mkString(" ")).toSet

  private val historyGrams: Set[String] =
    history.map(t => gramSet(t._2)).reduce(_ ++ _)

  private def expected(doc: (Long, String)): (Long, Long, Long) = {
    val g = gramSet(doc._2)
    (doc._1, g.size.toLong, (g & historyGrams).size.toLong)
  }

  private def drain(chunks: Seq[Seq[(Long, String)]],
      name: String): Map[Long, (Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val query = StreamingNovelty.partials(
        StreamingNovelty.observations(
          stream.toDF.toDF("id", "text"), col("id"), col("text"),
          n, shards = 4),
        segLongs = 64)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
    } finally query.stop()
    StreamingNovelty.novelty(spark.table(name))
      .select("doc_id", "n_grams", "n_seen")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("increment partials equal the exact set computation; history " +
      "batch scores all-novel; chunking the history doesn't matter") {
    val a = drain(Seq(history, increment), "novelty_a")
    // history docs probed the EMPTY filter: everything novel
    history.foreach { case (id, text) =>
      assert(a(id) === ((gramSet(text).size.toLong, 0L)),
        s"history doc $id must score all-novel")
    }
    // increment docs: exact history-intersection numbers
    increment.foreach { d =>
      val (id, ng, ns) = expected(d)
      assert(a(id) === ((ng, ns)), s"doc $id novelty mismatch")
    }
    // the full-rehash doc really scored novelty 0
    assert(a(12L)._1 === a(12L)._2)
    // chunking the HISTORY differently leaves the increment unchanged
    val b = drain(Seq(history.take(1), history.drop(1), increment),
      "novelty_b")
    increment.foreach { d => assert(b(d._1) === a(d._1)) }
  }

  test("no false negatives: replaying a doc scores fully seen") {
    val out = drain(Seq(history, increment, Seq(increment(1))),
      "novelty_c")
    // the memory sink accumulates BOTH emissions of doc 11 (partials
    // are per (doc, shard), so emissions aren't separable by row);
    // the TOTALS pin the pair: first pass (g11, 0) is already pinned
    // by the exact-computation test, so totals (2·g11, g11) force the
    // replay emission to be (g11, g11) — fully seen, no false negative
    val g11 = gramSet(increment(1)._2).size.toLong
    assert(out(11L) === ((2L * g11, g11)))
  }

  test("fixture parity: streamed corpus-then-increment equals the " +
      "ORACLE-GATED q_ngram_novelty on the real documents") {
    // same increment split as the batch gate (doc_id % 10), filter
    // sized for zero FPs at this gram volume (~25k grams into 4.2M
    // bits → FP ≈ 4e-8 per probe): the partials must equal the exact
    // relation BIT FOR BIT
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val (incr, corpus) = docs.partition(_._1 % 10 == 0)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val query = StreamingNovelty.partials(
        StreamingNovelty.observations(
          stream.toDF.toDF("doc_id", "text"), col("doc_id"),
          col("text"), n = 5, shards = 8),
        segLongs = 8192)
      .writeStream.format("memory").queryName("novelty_fixture")
      .outputMode("update").start()
    try {
      stream.addData(corpus); query.processAllAvailable()
      stream.addData(incr); query.processAllAvailable()
    } finally query.stop()
    val streamed = StreamingNovelty.novelty(
        spark.table("novelty_fixture"))
      .filter(col("doc_id") % 10 === 0)
      .select("doc_id", "n_grams", "n_seen", "novelty_frac")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val batch = SparkEntry.queries("q_ngram_novelty")(spark,
        "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(streamed.nonEmpty && streamed === batch,
      "bounded-state stream must equal the oracle-gated batch gate")
  }

  test("checkpoint RESTART: the Bloom bit arrays survive — the " +
      "increment scores against pre-restart history") {
    import graft.streaming.NoveltyPartial
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-novelty-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val buf = java.util.Collections.synchronizedList(
      new java.util.ArrayList[NoveltyPartial]())
    def startQ() = StreamingNovelty.partials(
        StreamingNovelty.observations(
          stream.toDF.toDF("id", "text"), col("id"), col("text"),
          n, shards = 4),
        segLongs = 64)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[NoveltyPartial], _: Long) =>
          buf.addAll(java.util.Arrays.asList(df.collect(): _*)); ()
      }
      .start()
    val q1 = startQ()
    try { stream.addData(history); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = startQ()
    try { stream.addData(increment); q2.processAllAvailable() }
    finally q2.stop()
    import scala.jdk.CollectionConverters._
    val rolled = buf.asScala.toSeq.groupBy(_.doc_id)
      .map { case (d, ps) =>
        d -> (ps.map(_.n_grams).sum, ps.map(_.n_seen).sum)
      }
    // lost state would score the increment all-novel; the exact
    // history-intersection numbers prove the bits round-tripped
    increment.foreach { d =>
      val (id, ng, ns) = expected(d)
      assert(rolled(id) === ((ng, ns)),
        s"doc $id scored wrong after restart — Bloom state lost?")
    }
    assert(rolled(12L)._1 === rolled(12L)._2, "rehash doc must be fully seen")
  }

  test("scoreIncrement: one call = one batch (within-call isolation); " +
      "a SPLIT feed shows the documented cross-batch semantics " +
      "(round-14 verdict #5)") {
    def freshDirs() = (
      java.nio.file.Files.createTempDirectory("graft-nov-stage").toString,
      java.nio.file.Files.createTempDirectory("graft-nov-sckpt").toString)
    def score(staging: String, ckpt: String,
        docs: Seq[(Long, String)]): Map[Long, (Long, Long)] =
      StreamingNovelty.scoreIncrement(docs.toDF("id", "text"),
          col("id"), col("text"), staging, ckpt, n, shards = 4,
          segLongs = 64)
        .select("doc_id", "n_grams", "n_seen")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap

    // sequential calls reproduce the batch gate's increment-vs-corpus
    // semantics: call 1 = corpus (all novel), call 2 = increment
    // (exact history-intersection numbers)
    val (st1, ck1) = freshDirs()
    val first = score(st1, ck1, history)
    history.foreach { case (id, text) =>
      assert(first(id) === ((gramSet(text).size.toLong, 0L))) }
    val second = score(st1, ck1, increment)
    increment.foreach { d =>
      val (id, ng, ns) = expected(d)
      assert(second(id) === ((ng, ns)), s"doc $id novelty mismatch")
    }
    // the helper's whole point: docs INSIDE one call never see each
    // other. Two docs sharing every bigram, fed in ONE call on a
    // fresh state, BOTH score all-novel...
    val twin = Seq((20L, "alpha beta gamma delta"),
      (21L, "alpha beta gamma delta"))
    val (st2, ck2) = freshDirs()
    val oneCall = score(st2, ck2, twin)
    assert(oneCall(20L) === ((3L, 0L)) && oneCall(21L) === ((3L, 0L)),
      "within-call docs must be isolated (one batch per call)")
    // ...while the SAME rows split across two calls show the
    // documented split semantics — the second call's doc scores
    // against the first call's grams. That difference is exactly what
    // the class doc's caveat warns about; the helper makes choosing
    // between the two mechanical rather than accidental.
    val (st3, ck3) = freshDirs()
    val splitA = score(st3, ck3, twin.take(1))
    val splitB = score(st3, ck3, twin.drop(1))
    assert(splitA(20L) === ((3L, 0L)))
    assert(splitB(21L) === ((3L, 3L)),
      "split feed must score the later doc against the earlier one")
    // EMPTY increment (round-15 sweep over this round's own lines):
    // a no-op — empty result, state untouched (the next real
    // increment still scores against everything before the empty one)
    val empty = score(st3, ck3, Seq.empty[(Long, String)])
    assert(empty.isEmpty, "empty increment must yield an empty result")
    val after = score(st3, ck3, twin.take(1)) // replay doc 20
    assert(after(20L) === ((3L, 3L)),
      "state must survive an empty increment untouched")
  }

  test("scoreIncrement: single-writer lock is mechanical; format tag " +
      "refuses parameter drift and stale untagged checkpoints; no " +
      "scratch residue outside stagingDir (round-15 verdict #1/#3)") {
    import java.nio.file.{Files, Paths}
    val staging = Files.createTempDirectory("graft-nov-lockstage")
    val ckpt = Files.createTempDirectory("graft-nov-lockckpt").toString
    def score(docs: Seq[(Long, String)], shards: Int = 4) =
      StreamingNovelty.scoreIncrement(docs.toDF("id", "text"),
        col("id"), col("text"), staging.toString, ckpt, n, shards,
        segLongs = 64)
    // a pre-existing lock fails fast instead of merging increments
    val lock = staging.resolve("_graft_lock")
    Files.createFile(lock)
    val eLock = intercept[IllegalStateException] {
      score(history).collect()
    }
    assert(eLock.getMessage.contains("_graft_lock"))
    Files.delete(lock)
    import scala.jdk.CollectionConverters._
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def tmpScratch(): Set[String] = Files.list(tmp).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("graft-novelty-inc")).toSet
    val tmpBefore = tmpScratch() // rounds ≤ 15 leaked these; delta only
    // a successful call releases the lock and leaves only inc files,
    // the format tag, and at most ONE _results dir — no _scratch_*
    // residue and nothing under java.io.tmpdir
    assert(score(history).count() === history.size.toLong)
    assert(!Files.exists(lock), "lock must be released")
    val names = Files.list(staging).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.count(_.startsWith("_results_")) === 1, names.toString)
    assert(!names.exists(_.startsWith("_scratch_")), names.toString)
    assert(tmpScratch() === tmpBefore,
      "scratch must not leak into java.io.tmpdir")
    assert(Files.exists(Paths.get(ckpt, "_graft_novelty_format")))
    // parameter drift against the same checkpoint is refused — the
    // Bloom bits were filled under shards=4 probe routing
    val eParam = intercept[IllegalStateException] {
      score(increment, shards = 8).collect()
    }
    assert(eParam.getMessage.contains("graft-novelty-v2"))
    // and the REFUSED call must not have swept the previous call's
    // results dir (the lazy-backing grace period holds across a
    // refusal — the sweep runs only after validation passes)
    val afterRefusal = Files.list(staging).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(afterRefusal.count(_.startsWith("_results_")) === 1,
      afterRefusal.toString)
    // matching parameters still resume fine after the refusal
    val second = score(increment)
      .select("doc_id", "n_grams", "n_seen")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    increment.foreach { d =>
      val (id, ng, ns) = expected(d)
      assert(second(id) === ((ng, ns)))
    }
    // an UNTAGGED checkpoint that already holds state (a pre-v2
    // checkpoint after upgrade) is refused, not silently resumed
    val staleCk = Files.createTempDirectory("graft-nov-staleck")
    Files.createDirectories(staleCk.resolve("offsets"))
    val eStale = intercept[IllegalStateException] {
      StreamingNovelty.scoreIncrement(history.toDF("id", "text"),
        col("id"), col("text"),
        Files.createTempDirectory("graft-nov-stalestage").toString,
        staleCk.toString, n, shards = 4, segLongs = 64).collect()
    }
    assert(eStale.getMessage.contains("pre-v2"))
  }

  test("scoreIncrement: a result HELD across the next call stays fully " +
      "consumable (round-16 verdict #3 — the sweep must not invalidate it)") {
    import java.nio.file.Files
    val st = Files.createTempDirectory("graft-nov-hold-stage").toString
    val ck = Files.createTempDirectory("graft-nov-hold-ckpt").toString
    def call(docs: Seq[(Long, String)]) =
      StreamingNovelty.scoreIncrement(docs.toDF("id", "text"),
        col("id"), col("text"), st, ck, n, shards = 4, segLongs = 64)
    // call A: HOLD the DataFrame unconsumed
    val held = call(history)
    // call B sweeps A's _results_* parquet dir
    call(increment).collect()
    // A must now consume fully and correctly from its persisted blocks
    val got = held.select("doc_id", "n_grams", "n_seen")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    history.foreach { case (id, text) =>
      assert(got(id) === ((gramSet(text).size.toLong, 0L)),
        s"held result for doc $id lost or corrupted after the sweep")
    }
  }

  test("probe positions: deterministic, in-range, k distinct hashes " +
      "spread (not an arithmetic ladder)") {
    val ps = StreamingNovelty.probes(-987654321L, 4, 64 * 64)
    assert(ps === StreamingNovelty.probes(-987654321L, 4, 64 * 64))
    assert(ps.forall(p => p >= 0 && p < 64 * 64))
    assert(ps.distinct.length >= 3, ps.toSeq.toString)
  }
}
