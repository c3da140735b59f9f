package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingBloomDedup

/** The bounded-state streaming dedup must (1) never re-emit a seen key
  * under ANY chunking — the no-false-negative Bloom guarantee, (2)
  * emit a key set equal to batch exact dedup's survivors when the
  * filter is sized for the corpus (the spec corpus leaves the FP
  * probability at ~1e-7, and the fixed hash functions make the
  * outcome deterministic — green once is green always), and (3) hold
  * its state at the constructed size regardless of stream length.
  */
class StreamingBloomDedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val shards = 8
  private val rows: Seq[(String, Long)] =
    (0 until 3000).map(i => (s"doc_${i % 2200}", i.toLong))
  private val exactKeys: Set[String] = rows.map(_._1).toSet

  private def drained(chunks: Seq[Seq[(String, Long)]],
      name: String): Seq[(String, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long)]
    val query = StreamingBloomDedup.firstSeen(
        StreamingBloomDedup.observations(
          stream.toDF.toDF("k", "o"), col("k"), col("o"), shards))
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
      // the Q8 hazard replay: the full corpus again emits NOTHING
      val before = spark.table(name).count()
      stream.addData(rows)
      query.processAllAvailable()
      assert(spark.table(name).count() === before,
        "full-history replay must not re-emit any key")
    } finally query.stop()
    spark.table(name).as[(String, Long)].collect().toSeq
  }

  test("a segment below 16 longs is rejected, with the novelty twin's " +
      "message") {
    val obs = StreamingBloomDedup.observations(
      rows.toDF("k", "o"), col("k"), col("o"), shards)
    val e = intercept[IllegalArgumentException] {
      StreamingBloomDedup.firstSeen(obs, segLongs = 8)
    }
    val grams = graft.streaming.StreamingNovelty.observations(
      Seq((1L, "a b c d")).toDF("id", "text"), col("id"), col("text"), 2,
      shards)
    val n = intercept[IllegalArgumentException] {
      graft.streaming.StreamingNovelty.partials(grams, segLongs = 8)
    }
    assert(e.getMessage === n.getMessage)
    // 16 longs is accepted (this corpus overfills it: FPs drop keys)
    val small = StreamingBloomDedup.firstSeen(obs, segLongs = 16).count()
    assert(small > 0L && small <= exactKeys.size)
  }

  test("batch mode: emitted keys == exact dedup survivors, min-ord row") {
    val out = StreamingBloomDedup.firstSeen(
        StreamingBloomDedup.observations(
          rows.toDF("k", "o"), col("k"), col("o"), shards))
      .collect().map(f => (f.key, f.ord))
    assert(out.map(_._1).toSet === exactKeys, "no survivor key lost")
    assert(out.length === exactKeys.size, "each key emitted exactly once")
    // survivor row is the key's minimum ord (doc_j first appears at j)
    out.foreach { case (k, o) => assert(o === k.stripPrefix("doc_").toLong) }
  }

  test("streaming: key set is chunking-invariant and equals batch " +
      "exact dedup; no key ever emitted twice") {
    val a = drained(Seq(rows.take(700), rows.slice(700, 701),
      rows.slice(701, 2600), rows.drop(2600)), "bloom_a")
    val b = drained(Seq(rows.take(2201), rows.drop(2201)), "bloom_b")
    for (out <- Seq(a, b)) {
      assert(out.map(_._1).toSet === exactKeys)
      assert(out.length === exactKeys.size,
        "a key crossed a chunk boundary and was re-emitted")
    }
    // row identity: every emitted ord is SOME occurrence of its key,
    // and for keys fully inside one chunk it is the minimum ord
    val occ = rows.groupBy(_._1).map { case (k, v) =>
      (k, v.map(_._2).toSet) }
    a.foreach { case (k, o) => assert(occ(k).contains(o)) }
  }

  test("round-12: streaming vocabulary growth — per-chunk first-seen " +
      "TERM counts replay the sequential Heaps walk with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    // the composition the operator exists for: new-term detection on
    // an unbounded stream without O(|vocab|) keyed state
    val docs = Seq("the cat sat", "the dog sat still",
      "a cat and a dog", "entirely novel words here")
    val chunks = Seq(docs.take(2), docs.slice(2, 3), docs.drop(3))
    val stream = MemoryStream[String]
    val query = StreamingBloomDedup.firstSeen(
        StreamingBloomDedup.observations(
          stream.toDF.toDF("text")
            .select(explode(split(col("text"), " ")).as("term")),
          col("term"), lit(0L), shards))
      .writeStream.format("memory").queryName("vocab_stream")
      .outputMode("update").start()
    val perChunk = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      var last = 0L
      chunks.foreach { c =>
        stream.addData(c); query.processAllAvailable()
        val now = spark.table("vocab_stream").count()
        perChunk += now - last; last = now
      }
    } finally query.stop()
    // sequential Heaps walk over the same chunking
    var seen = Set.empty[String]
    val want = chunks.map { c =>
      val terms = c.flatMap(_.split(" ")).toSet
      val nw = (terms -- seen).size.toLong
      seen ++= terms; nw
    }
    assert(perChunk.toSeq === want,
      s"per-chunk new-term counts $perChunk != $want")
    assert(seen.size.toLong === perChunk.sum)
  }

  test("checkpoint RESTART: the Bloom bit arrays survive — a full " +
      "replay of pre-restart keys re-emits NOTHING") {
    // round-15 (r14 verdict #4): the same stop/restart pin the
    // retiring-HLL and novelty shapes got in r14, applied to the
    // dedup twin. With lost state every replayed key would re-emit
    // as first-seen.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bloom-ckpt").toString
    val stream = MemoryStream[(String, Long)]
    val buf = java.util.Collections.synchronizedList(
      new java.util.ArrayList[graft.streaming.FirstSeen]())
    def startQ() = StreamingBloomDedup.firstSeen(
        StreamingBloomDedup.observations(
          stream.toDF.toDF("k", "o"), col("k"), col("o"), shards))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[graft.streaming.FirstSeen],
            _: Long) =>
          buf.addAll(java.util.Arrays.asList(ds.collect(): _*)); ()
      }
      .start()
    val q1 = startQ()
    try { stream.addData(rows.take(1500)); q1.processAllAvailable() }
    finally q1.stop()
    val afterRun1 = buf.size()
    assert(afterRun1 === rows.take(1500).map(_._1).distinct.size)
    val q2 = startQ()
    try {
      stream.addData(rows.take(1500)) // exact replay of run-1 keys
      q2.processAllAvailable()
      assert(buf.size() === afterRun1,
        "replay after restart re-emitted: Bloom state was lost")
      stream.addData(rows.drop(1500)); q2.processAllAvailable()
    } finally q2.stop()
    import scala.jdk.CollectionConverters._
    val keys = buf.asScala.map(_.key).toSeq
    assert(keys.toSet === exactKeys,
      "cross-restart key set must equal exact-dedup survivors")
    assert(keys.length === exactKeys.size, "a key emitted twice")
  }

  test("state stays at the constructed bound: shard groups only") {
    // 3000 observations through 8 shards of 1024 longs = 64 KiB total
    // regardless of corpus size; the group count IS the shard count
    val obs = StreamingBloomDedup.observations(
      rows.toDF("k", "o"), col("k"), col("o"), shards)
    val groups = obs.collect().map(_._1).distinct
    assert(groups.length <= shards)
    assert(groups.forall(s => s >= 0 && s < shards))
  }
}
