package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sharded Bloom-filter state: one fixed-size bit segment per shard
  * group (`bits.length` longs = 64·len bits, allocated once and
  * mutated in place across micro-batches).
  */
case class BloomState(bits: Array[Long])

/** The one shard segment both Bloom twins ([[StreamingBloomDedup]],
  * [[StreamingNovelty]]) keep in [[BloomState]]: its size guard, its
  * allocation on a group's first batch, the all-probes-set test and
  * the set-all insert over probe bit positions (each below
  * 64·segLongs; every twin computes its own probes).
  */
private[streaming] object BloomSegment {
  /** Below ~16 longs the double-hashing FP formula breaks down (see
    * StreamingBloomDedup's FP-formula note), so no twin sizes a
    * segment smaller.
    */
  def checkSize(segLongs: Int, numHashes: Int): Unit =
    require(segLongs >= 16 && numHashes >= 1,
      "need segLongs >= 16 and numHashes >= 1: the double-hashing FP " +
        "formula needs segBits >> k^2")

  def bits(state: GroupState[BloomState], segLongs: Int): Array[Long] =
    state.getOption.map(_.bits).getOrElse(new Array[Long](segLongs))

  def allSet(bits: Array[Long], ps: Array[Long]): Boolean =
    ps.forall(p => (bits((p >>> 6).toInt) & (1L << (p & 63L))) != 0L)

  def setAll(bits: Array[Long], ps: Array[Long]): Unit =
    ps.foreach(p => bits((p >>> 6).toInt) |= 1L << (p & 63L))
}

/** A row emitted the first time its key was (probabilistically) seen. */
case class FirstSeen(key: String, ord: Long)

/** BOUNDED-STATE streaming dedup — the production answer to exact
  * streaming dedup's unbounded keyed state (the reference's Q8 hazard:
  * `stock_analysis.py:278-283` resends full history every run, and
  * `dropDuplicates` state grows with |distinct keys| forever; see
  * SURVEY §2.9 Q8). A sharded Bloom filter (Bloom, CACM 1970; k-probe
  * double hashing per Kirsch & Mitzenmacher, ESA 2006) carried in
  * `flatMapGroupsWithState` emits each key's FIRST occurrence and
  * drops the rest, with TOTAL state fixed at construction:
  * shards × segLongs × 8 bytes, independent of stream length.
  *
  * Contract (StreamingBloomDedupSpec pins all three):
  *  - NO FALSE NEGATIVES: a key is routed to one shard by a pure hash
  *    of the key, so its k probe bits always land in the same segment
  *    — a repeated key ALWAYS finds its bits set and is never
  *    re-emitted, under any micro-batch chunking.
  *  - FALSE POSITIVES drop genuinely-new keys at the standard Bloom
  *    rate p ≈ (1 − e^(−k·n_s/m_s))^k per shard (n_s ≈ n/shards keys
  *    into m_s = 64·segLongs bits) — so the emitted key set is a
  *    SUBSET of batch [[graft.operators.Dedup.exactDedup]]'s survivor
  *    keys, equal whp when the filter is sized for the corpus
  *    (size for n ≲ m/10 at k = 4 → p < 0.2%).
  *  - The emitted KEY SET is chunking-invariant WHEN the deterministic
  *    false-positive count is zero (equivalently, whp for a filter
  *    sized per the previous bullet): with zero FPs every key's test
  *    outcome depends only on whether the key itself was inserted,
  *    which is order-free. With nonzero FPs, WHICH new key gets
  *    FP-dropped depends on insertion order — chunking then picks the
  *    victims, though the emitted count and the no-false-negative
  *    guarantee still hold. The surviving ROW for a key is the min-`ord` row of
  *    the first micro-batch containing the key — arrival-order
  *    semantics, same contract as dropDuplicates. Replaying the whole
  *    corpus emits NOTHING (the Q8 hazard, closed with bounded state).
  *
  * FP-formula validity (round-12 sweep): the (1 − e^(−k·n/m))^k rate
  * is the Kirsch-Mitzenmacher double-hashing asymptotic, valid when
  * the segment is large relative to the probe count (m_s ≫ k²) — true
  * for the deployed default (65,536 bits, k=4) and anything near it.
  * A DEGENERATE segment (segLongs of 1-2, i.e. 64-128 bits) breaks
  * the independence approximation and the real FP rate lands above
  * the formula, so [[BloomSegment]] rejects segments below 16 longs.
  *
  * Key-frequency skew (round-12 sweep): the route hash is uniform
  * over DISTINCT keys, so shard-group COUNTS balance — but every
  * occurrence of one hot key lands in that key's one shard group, so
  * a key that floods a micro-batch concentrates its duplicates in a
  * single task. The per-duplicate cost is one MD5 + k bit tests
  * (~100ns — a task absorbs millions of duplicates per second), and
  * the min-ord contract is unaffected; if one key can exceed that
  * rate, pre-aggregate upstream (duplicates of a known-seen key carry
  * zero information). Raising `shards` spreads distinct keys, never
  * one key's flood.
  *
  * Scale shape: the one shuffle keys on shard — exactly `shards` live
  * groups forever, each holding one long array. Shard count spreads
  * distinct keys across executors;
  * raising shards at constant total bits leaves the FP rate
  * unchanged. 2^30 distinct keys at 1% FP is ~1.25 GiB total bit
  * state — spread over 1024 shards that is ~1.2 MiB per group, far
  * under state-store pressure, where exact dedup state would be
  * hundreds of GiB of keys.
  */
object StreamingBloomDedup {

  implicit val stEnc: Encoder[BloomState] = Encoders.product[BloomState]
  implicit val outEnc: Encoder[FirstSeen] = Encoders.product[FirstSeen]
  implicit val intEnc: Encoder[Int] = Encoders.scalaInt
  implicit val obsEnc: Encoder[(Int, String, Long)] =
    Encoders.tuple(Encoders.scalaInt, Encoders.STRING,
      Encoders.scalaLong)

  /** (shard, key, ord) observation rows for a (streaming or batch)
    * frame: shard = pmod(xxhash64(key), shards) — codegen'd, map-side;
    * `ord` breaks within-batch ties deterministically (min survives).
    */
  def observations(df: DataFrame, key: Column, ord: Column,
      shards: Int): Dataset[(Int, String, Long)] = {
    require(shards >= 1, "shards must be >= 1")
    df.filter(key.isNotNull)
      .select(pmod(xxhash64(key), lit(shards)).cast("int"),
        key.cast("string"), ord.cast("long"))
      .as[(Int, String, Long)]
  }

  // one digest instance per executor thread — getInstance per row
  // would dominate the probe cost at corpus scale (digest() resets
  // the instance, so reuse within a thread is safe)
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The k probe bit positions for a key within its shard's segment:
    * double hashing pos_i = (h1 + i·h2) mod m over the two 64-bit
    * halves of MD5(key) — independent of the xxhash64 route hash, so
    * routing collisions don't correlate with probe collisions.
    */
  private[streaming] def probes(key: String, numHashes: Int,
      segBits: Long): Array[Long] = {
    val d = md5.get()
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bb = java.nio.ByteBuffer.wrap(d)
    val h1 = bb.getLong(0)
    val h2 = bb.getLong(8) | 1L // odd stride
    Array.tabulate(numHashes)(i =>
      java.lang.Math.floorMod(h1 + i.toLong * h2, segBits))
  }

  private def updateGroup(segLongs: Int, numHashes: Int)(shard: Int,
      rows: Iterator[(Int, String, Long)],
      state: GroupState[BloomState]): Iterator[FirstSeen] = {
    val bits = BloomSegment.bits(state, segLongs)
    val segBits = 64L * segLongs
    val out = scala.collection.mutable.ArrayBuffer.empty[FirstSeen]
    // ord-sorted so the within-batch survivor of a repeated key is
    // deterministic (min ord) — the group's rows are one micro-batch
    // slice, so the sort buffer is batch-bounded, not stream-bounded
    rows.toArray.sortBy(t => (t._3, t._2)).foreach { case (_, k, o) =>
      val ps = probes(k, numHashes, segBits)
      if (!BloomSegment.allSet(bits, ps)) {
        BloomSegment.setAll(bits, ps)
        out += FirstSeen(k, o)
      }
    }
    state.update(BloomState(bits))
    out.iterator
  }

  /** The first-occurrence stream: one (key, ord) row per key, emitted
    * in the micro-batch where the key first appeared. Total state =
    * (number of distinct shard values) × segLongs longs, fixed for
    * the life of the stream.
    */
  def firstSeen(obs: Dataset[(Int, String, Long)], segLongs: Int = 1024,
      numHashes: Int = 4): Dataset[FirstSeen] = {
    BloomSegment.checkSize(segLongs, numHashes)
    obs.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(updateGroup(segLongs, numHashes) _)
  }
}
