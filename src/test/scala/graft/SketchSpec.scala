package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Sampling, Sketch}

/** Count–min sketch contract (one-sided error, exact-count floor,
  * determinism) and the weighted systematic sampler's inclusion
  * guarantees.
  */
class SketchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha beta gamma alpha alpha"),
    (2L, "beta beta gamma delta epsilon"),
    (3L, "alpha zeta eta theta beta"),
    (4L, "iota kappa lambda alpha beta gamma")
  ).toDF("doc_id", "text")

  test("CMS estimates dominate exact counts and rank deterministically") {
    val out = Sketch.cmsHeavyHitters(corpus, col("text"), d = 3, w = 16,
        k = 5)
      .select("term", "est", "cnt", "rank")
      .as[(String, Long, Long, Int)].collect().sortBy(_._4).toSeq
    assert(out.size === 5)
    // one-sided sketch error: est >= cnt always
    assert(out.forall { case (_, est, cnt, _) => est >= cnt })
    // exact counts are the true term frequencies
    val cnt = out.map(t => t._1 -> t._3).toMap
    cnt.get("alpha").foreach(c => assert(c === 5L))
    cnt.get("beta").foreach(c => assert(c === 5L))
    // ranks are 1..k in est-desc order
    assert(out.map(_._4) === (1 to 5))
    assert(out.sliding(2).forall {
      case Seq((ta, ea, _, _), (tb, eb, _, _)) =>
        ea > eb || (ea == eb && ta < tb)
      case _ => true
    })
    // partitioning-invariant
    val again = Sketch.cmsHeavyHitters(corpus.repartition(7), col("text"),
        d = 3, w = 16, k = 5)
      .select("term", "est", "cnt", "rank")
      .as[(String, Long, Long, Int)].collect().sortBy(_._4).toSeq
    assert(again === out)
  }

  test("a wide sketch with few terms is collision-free: est == cnt") {
    // 5 distinct terms into 3x1024 cells — md5 collisions would need
    // two of 5 terms sharing a cell in EVERY row; astronomically
    // unlikely, and deterministic (fixed hash), so assert exactness
    val out = Sketch.cmsHeavyHitters(corpus, col("text"), d = 3,
        w = 1024, k = 20)
      .select("est", "cnt").as[(Long, Long)].collect()
    assert(out.forall { case (est, cnt) => est === cnt })
  }

  test("md5Prefix60 column form matches the Shingles kernel") {
    val terms = Seq("alpha", "0:beta", "x y z", "").toDF("t")
    val viaCol = terms.select(Sketch.md5Prefix60(col("t")))
      .as[Long].collect().toSeq
    val viaKernel = Seq("alpha", "0:beta", "x y z", "").map(s =>
      graft.functions.Shingles.md5Prefix60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    assert(viaCol === viaKernel)
  }

  test("bloom filter: no false negatives ever; FP rate in the " +
      "theoretical ballpark") {
    val m = 1024
    val k = 3
    val keys = (0L until 200L by 2L).toDF("key") // evens only
    val bits = Sketch.bloomBits(keys, col("key"), m, k)
    assert(bits.count() <= (100 * k).toLong)
    val probes = (0L until 400L).toDF("key")
    val out = Sketch.bloomProbe(bits, probes, col("key"), m, k)
      .as[(Long, Boolean)].collect().toMap
    // every built key must hit — the defining one-sided guarantee
    (0L until 200L by 2L).foreach(kk =>
      assert(out(kk), s"false negative for $kk"))
    // FP rate among the 300 non-members: (1-e^(-kn/m))^k ≈ 2.1% at
    // n=100, m=1024, k=3; allow generous slack for hash variance
    val nonMembers = (0L until 400L).filterNot(x => x % 2 == 0 && x < 200)
    val fps = nonMembers.count(out(_))
    assert(fps.toDouble / nonMembers.size < 0.10,
      s"implausible FP rate: $fps/${nonMembers.size}")
  }

  test("bloom semi-join reduction preserves join results exactly") {
    // the production pattern: pre-filter the fact side through the
    // broadcast bloom of a selective dim subset, THEN join — the
    // one-sided guarantee means no fact row that would have joined is
    // ever dropped, so reduced-join == direct-join exactly
    val m = 2048
    val k = 3
    val dim = (0L until 300L by 3L).map(x => (x, s"d$x")).toDF("k", "dv")
    val fact = (0L until 900L).map(x => (x % 300L, x)).toDF("k", "f")
    val bits = Sketch.bloomBits(dim, col("k"), m, k)
    val hits = Sketch.bloomProbe(bits, fact, col("k"), m, k)
      .filter(col("bloom_hit")).select(col("key").as("k"))
    val reduced = fact.join(hits, "k").join(dim, "k")
      .select("k", "f", "dv").as[(Long, Long, String)].collect().toSet
    val direct = fact.join(dim, "k")
      .select("k", "f", "dv").as[(Long, Long, String)].collect().toSet
    assert(reduced === direct)
  }

  test("HLL registers: merge-by-max == union build; estimate within " +
      "theoretical error") {
    import graft.operators.CardSketch
    val mBits = 8
    val n = 5000
    val a = (0 until n / 2).map(i => s"item_$i").toDF("x")
    val b = (n / 4 until n).map(i => s"item_$i").toDF("x") // overlaps a
    val union = (0 until n).map(i => s"item_$i").toDF("x")
    val ra = CardSketch.hllRegisters(a, col("x"), mBits)
    val rb = CardSketch.hllRegisters(b, col("x"), mBits)
    val merged = ra.union(rb).groupBy("bucket")
      .agg(max(col("max_rho")).as("max_rho"))
      .as[(Long, Long)].collect().toMap
    val direct = CardSketch.hllRegisters(union, col("x"), mBits)
      .as[(Long, Long)].collect().toMap
    assert(merged === direct, "sketch merge must equal union build")
    val est = CardSketch
      .hllEstimate(CardSketch.hllRegisters(union, col("x"), mBits), mBits)
      .select(col("estimate")).as[Double].head()
    // sigma = 1.04/sqrt(256) = 6.5%; allow 4 sigma
    assert(math.abs(est / n - 1.0) < 0.26,
      s"estimate $est too far from $n")
  }

  test("HLL registers are duplicate-absorbing and " +
      "partitioning-invariant") {
    import graft.operators.CardSketch
    val base = (0 until 500).map(i => s"v$i")
    val dups = base ++ base ++ base.take(100)
    val r1 = CardSketch
      .hllRegisters(dups.toDF("x").repartition(13), col("x"), 8)
      .as[(Long, Long)].collect().toSet
    val r2 = CardSketch
      .hllRegisters(base.toDF("x").repartition(2), col("x"), 8)
      .as[(Long, Long)].collect().toSet
    assert(r1 === r2)
  }

  test("weightedSystematic: heavy rows always kept, size near target") {
    val n = 2000L
    // weights 1..2000: stride = total/target; any row with w >= stride
    // must be in the sample
    val df = (0L until n).map(i => (i, i + 1)).toDF("id", "w")
    val target = 40
    val out = Sampling.weightedSystematic(df, col("id"), col("w"), target)
    val kept = out.select("id").as[Long].collect().toSet
    val total = n * (n + 1) / 2
    val stride = total / target
    (0L until n).filter(i => i + 1 >= stride).foreach(i => assert(kept(i)))
    assert(math.abs(kept.size - target) <= target / 5 + 1)
    // partitioning-invariant
    val again = Sampling.weightedSystematic(df.repartition(17), col("id"),
        col("w"), target)
      .select("id").as[Long].collect().toSet
    assert(again === kept)
    // a sequential md5-order walk at 1 and 17 partitions; empty input
    // and NULL weights
    val rows = (0L until 700L).map(i =>
      (i, if (i % 10 == 0) None else Some((i * 37) % 53 - 5)))
    // md5(key) order, weights clamped to >= 1 (NULL too), keep the rows
    // whose weight span crosses a stride multiple
    def ref(rs: Seq[(Long, Option[Long])], target: Int): Seq[(Long, Long, Long)] = {
      def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val ws = rs.map { case (id, w) => (md5(id.toString), id,
        math.max(w.getOrElse(1L), 1L)) }.sortBy(r => (r._1, r._2))
      val cum = ws.scanLeft(0L)(_ + _._3)
      val stride = math.max(cum.last / target, 1L)
      ws.zip(cum).collect { case ((_, id, w), c)
        if c / stride < (c + w) / stride => (id, w, c) }.sortBy(_._1)
    }
    def got(rs: Seq[(Long, Option[Long])], parts: Int, target: Int) =
      Sampling.weightedSystematic(rs.toDF("id", "w").repartition(parts),
          col("id"), col("w"), target)
        .select("id", "sample_w", "sample_cum").as[(Long, Long, Long)]
        .collect().toSeq.sortBy(_._1)
    for (target <- Seq(10, 60); parts <- Seq(1, 17))
      assert(got(rows, parts, target) === ref(rows, target))
    assert(got(Seq.empty, 1, 10).isEmpty)
    val nulls = rows.map { case (id, _) => (id, Option.empty[Long]) }
    assert(got(nulls, 17, 10) === ref(nulls, 10))
  }

  test("weightedSystematic clamps non-positive weights and still samples") {
    val df = (0L until 100L).map(i => (i, 0L)).toDF("id", "w")
    val out = Sampling.weightedSystematic(df, col("id"), col("w"), 10)
    val c = out.count()
    // all weights clamp to 1: plain systematic sampling, ~10 rows
    assert(c >= 8 && c <= 12)
    assert(out.select("sample_w").as[Long].collect().forall(_ == 1L))
  }
}
