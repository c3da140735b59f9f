package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Quantiles

/** Exact distributed quantiles vs hand-computed PERCENTILE rules. */
class QuantilesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("rankGateTwoPass == the percent_rank window gate on the fixture") {
    import graft.operators.TextStats
    val q = TextStats.addStats(
        Tables.documents(spark, "/root/testdata/sf0.001"), col("text"))
      .withColumn("quality", TextStats.qualityScore)
      .select(col("doc_id"), col("source"), col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
    val windowed = q
      .withColumn("kept", percent_rank().over(w) >= 0.25)
      .select(col("source"), col("doc_id"), col("kept"))
      .as[(String, Long, Boolean)].collect().toSet
    val twoPass = Quantiles.rankGateTwoPass(q, col("source"),
        col("quality"), col("doc_id"), num = 1, den = 4)
      .as[(String, Long, Boolean)].collect().toSet
    assert(twoPass.nonEmpty && twoPass === windowed)
    assert(twoPass.exists(_._3) && twoPass.exists(!_._3),
      "fixture must exercise both sides of the gate")
  }

  test("rankGateTwoPass edges: all-equal values, single row, tie class " +
      "straddling the boundary — all match the window gate") {
    val df = (
      Seq.tabulate(8)(i => ("allsame", 5.0, i.toLong)) ++  // 8 equal values
      Seq(("solo", 1.0, 0L)) ++                            // n = 1
      // boundary inside a 4-row tie class at value 2.0 (n=10, k*=ceil(9/4)+1=4)
      (Seq(1.0, 1.5).zipWithIndex.map { case (v, i) => ("ties", v, i.toLong) } ++
        Seq.tabulate(4)(i => ("ties", 2.0, 10L + i)) ++
        Seq.tabulate(4)(i => ("ties", 3.0, 20L + i)))
    ).toDF("g", "v", "t")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"), col("t"))
    val windowed = df
      .withColumn("kept", percent_rank().over(w) >= 0.25)
      .select(col("g"), col("t"), col("kept"))
      .as[(String, Long, Boolean)].collect().toSet
    val twoPass = Quantiles.rankGateTwoPass(df, col("g"), col("v"),
        col("t"), num = 1, den = 4)
      .as[(String, Long, Boolean)].collect().toSet
    assert(twoPass === windowed)
    // n=1 convention: pr = 0 fails any positive gate, passes num = 0
    assert(!twoPass.find(r => r._1 == "solo").get._3)
    val zeroGate = Quantiles.rankGateTwoPass(df, col("g"), col("v"),
        col("t"), num = 0, den = 1)
      .as[(String, Long, Boolean)].collect()
    assert(zeroGate.forall(_._3), "num=0 keeps everything, incl. n=1")
    // frac = 1 keeps exactly the max row of each multi-row group
    // (pr = 1 ⟺ rank = n); frac > 1 keeps nothing anywhere
    val fullGate = Quantiles.rankGateTwoPass(df, col("g"), col("v"),
        col("t"), num = 1, den = 1)
      .as[(String, Long, Boolean)].collect().toSeq
    assert(fullGate.count(_._3) === 2, fullGate.filter(_._3).toString)
    assert(fullGate.filter(_._3).map(r => (r._1, r._2)).toSet ===
      Set(("allsame", 7L), ("ties", 23L)))
    val overGate = Quantiles.rankGateTwoPass(df, col("g"), col("v"),
        col("t"), num = 3, den = 2)
      .as[(String, Long, Boolean)].collect()
    assert(overGate.forall(!_._3), "frac > 1 keeps nothing")
    // null values are EXCLUDED (the exactQuantiles contract): the
    // gated relation and the boundary ranks see only non-null rows
    val withNulls = df.union(Seq(("allsame", null.asInstanceOf[java.lang.Double], 99L),
      ("ties", null.asInstanceOf[java.lang.Double], 98L))
      .toDF("g", "v", "t"))
    val gated = Quantiles.rankGateTwoPass(withNulls, col("g"), col("v"),
        col("t"), num = 1, den = 4)
      .as[(String, Long, Boolean)].collect().toSet
    assert(!gated.exists(r => r._2 == 99L || r._2 == 98L),
      "null-valued rows must be absent from the output")
    assert(gated === Quantiles.rankGateTwoPass(df, col("g"), col("v"),
        col("t"), num = 1, den = 4)
      .as[(String, Long, Boolean)].collect().toSet,
      "nulls must not shift any non-null row's gate")
  }

  test("rankGateTwoPass under DUPLICATE (group, tiebreak) pairs " +
      "(round-15 sweep; contract says unique — pin what happens): " +
      "deterministic, whole boundary-duplicate class kept") {
    // n=5, num/den=1/2 → k* = ⌈4/2⌉+1 = 3; the boundary value class
    // is three IDENTICAL (v=2.0, t=1) rows, so the exact complement
    // (3 rows) is unreachable: the j-th-smallest boundary tiebreak is
    // the duplicate VALUE 1 (deterministic — position j of the sorted
    // multiset has the same value whichever physical row lands
    // there), and `t >= tb` keeps every duplicate of it.
    val df = Seq(("dup", 1.0, 0L), ("dup", 2.0, 1L), ("dup", 2.0, 1L),
      ("dup", 2.0, 1L), ("dup", 3.0, 5L)).toDF("g", "v", "t")
    val runs = (0 until 3).map { i =>
      Quantiles.rankGateTwoPass(df.repartition(i + 2), col("g"),
          col("v"), col("t"), num = 1, den = 2)
        .as[(String, Long, Boolean)].collect().toSeq.sorted
    }
    assert(runs.distinct.size === 1,
      "duplicate tiebreaks must not make the gate partitioning-dependent")
    val out = runs.head
    assert(out.size === 5, "one output row per input row, dups intact")
    // all three duplicates carry the SAME flag (kept), so the kept
    // count exceeds the exact 3-row complement by the multiplicity−1
    assert(out.count(_._3) === 4, out.toString)
    assert(out.filter(_._2 == 1L).forall(_._3),
      "every duplicate of the boundary tiebreak is kept")
    assert(!out.find(_._2 == 0L).get._3 && out.find(_._2 == 5L).get._3)
  }

  test("disc and cont match the zero-based p*(n-1) definition") {
    // group a: 1..5 → p50: i=2 → disc=cont=3; p25: i=1 → 2; p90: i=3.6
    //   → disc=4, cont=4 + (5-4)*0.6 = 4.6
    // group b: 10,20 → p50: i=0.5 → disc=10, cont=15
    val df = (Seq(1, 2, 3, 4, 5).map(v => ("a", v.toDouble)) ++
      Seq(10, 20).map(v => ("b", v.toDouble))).toDF("g", "v")
    val out = Quantiles.exactQuantiles(df, col("g"), col("v"),
        Seq(0.25, 0.5, 0.9))
      .select("_g", "p25_disc", "p25_cont", "p50_disc", "p50_cont",
        "p90_disc", "p90_cont")
      .as[(String, Double, Double, Double, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(out === Seq(
      ("a", 2.0, 2.0, 3.0, 3.0, 4.0, 4.0 + (5.0 - 4.0) * (0.9 * 4 - 3)),
      ("b", 10.0, 10.0 + (20.0 - 10.0) * 0.25, 10.0, 15.0, 10.0,
        10.0 + (20.0 - 10.0) * 0.9)))
  }

  test("single-element group: every quantile is that element") {
    val out = Quantiles.exactQuantiles(Seq(("x", 7.0)).toDF("g", "v"),
        col("g"), col("v"), Seq(0.0, 0.5, 1.0))
      .select("p0_disc", "p0_cont", "p50_disc", "p50_cont", "p100_disc",
        "p100_cont")
      .as[(Double, Double, Double, Double, Double, Double)].collect().toSeq
    assert(out === Seq((7.0, 7.0, 7.0, 7.0, 7.0, 7.0)))
  }

  test("histogram variant equals the rank-window variant exactly") {
    val vals = (0 until 2000).map(i => (s"g${i % 5}", ((i * 7919) % 37).toDouble))
    val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    val a = Quantiles.exactQuantiles(vals.toDF("g", "v"), col("g"), col("v"), ps)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val b = Quantiles.exactQuantilesHist(vals.toDF("g", "v").repartition(7),
        col("g"), col("v"), ps)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(a === b)
  }

  test("result is invariant under partitioning") {
    val vals = (0 until 997).map(i => (s"g${i % 3}", ((i * 7919) % 501).toDouble))
    val a = Quantiles.exactQuantiles(vals.toDF("g", "v").repartition(1),
      col("g"), col("v"), Seq(0.5, 0.9)).collect().map(_.toSeq).toSet
    val b = Quantiles.exactQuantiles(vals.toDF("g", "v").repartition(11),
      col("g"), col("v"), Seq(0.5, 0.9)).collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("withGlobalNtile reproduces ntile() exactly, incl. front-loading") {
    import org.apache.spark.sql.expressions.Window
    // 997 rows, k = 5 → n mod k = 2: buckets 1 and 2 get the extra row;
    // the closed form must match Spark's window ntile on every rank
    val df = (0 until 997).map(i => (i.toLong, ((i * 7919) % 1009).toLong))
      .toDF("id", "v")
    val expected = df
      .withColumn("nt", ntile(5).over(Window.orderBy(col("v"), col("id")))
        .cast("long"))
      .select("id", "nt").as[(Long, Long)].collect().toMap
    val got = Quantiles.withGlobalNtile(df.repartition(13),
        struct(col("v"), col("id")), 5, "nt")
      .select("id", "nt").as[(Long, Long)].collect().toMap
    assert(got === expected)
    // tiny edge: n < k assigns each rank its own bucket (like ntile)
    val tiny = Quantiles.withGlobalNtile(
        Seq((1L, 10L), (2L, 5L)).toDF("id", "v"),
        struct(col("v"), col("id")), 5, "nt")
      .select("id", "nt").as[(Long, Long)].collect().toMap
    assert(tiny === Map(2L -> 1L, 1L -> 2L))
    // a sequential ntile at 1 and 17 partitions; empty and all-NULL
    // order values
    val rows = (0 until 503).map(i => (i.toLong,
      if (i % 9 == 0) None else Some(((i * 7919) % 101).toLong)))
    // ntile(k) over (v, id), NULLs first: the first n mod k buckets
    // hold one row more
    def ref(rs: Seq[(Long, Option[Long])], k: Int): Map[Long, Long] = {
      val (q, rem) = (rs.size / k, rs.size % k)
      val buckets = (1 to k).flatMap(b =>
        Seq.fill(if (b <= rem) q + 1 else q)(b.toLong))
      rs.sortBy { case (id, v) => (v, id) }.map(_._1).zip(buckets).toMap
    }
    def scanned(rs: Seq[(Long, Option[Long])], parts: Int, k: Int) =
      Quantiles.withGlobalNtile(rs.toDF("id", "v").repartition(parts),
          struct(col("v"), col("id")), k, "nt")
        .select("id", "nt").as[(Long, Long)].collect().toMap
    for (k <- Seq(5, 7); parts <- Seq(1, 17))
      assert(scanned(rows, parts, k) === ref(rows, k), s"k $k, $parts partitions")
    assert(scanned(Seq.empty, 1, 5).isEmpty)
    val nulls = rows.map { case (id, _) => (id, Option.empty[Long]) }
    assert(scanned(nulls, 17, 5) === ref(nulls, 5))
  }

  test("q_rfm's warm build and execution run the pinned jobs on sf0.01") {
    // three ntile scans: each runs its summary job when built
    val build = () => SparkEntry.queries("q_rfm")(spark, "/root/testdata/sf0.01")
    build() // infers and memoises the fixture's schema
    val (df, buildJobs) = TestSpark.jobsDuring(build())
    assert(buildJobs === 10)
    assert(TestSpark.jobsDuring(df.collect())._2 === 3)
  }

  test("weightedMedian equals expanded-median brute force") {
    // weights expand each value w times; the lower weighted median is
    // the element at 0-based index ceil(W/2)-1 of the expanded multiset
    val rows = Seq(
      ("a", 1.0, 1L), ("a", 2.0, 1L), ("a", 9.0, 7L), // expanded: med 9
      ("b", 5.0, 2L), ("b", 3.0, 2L),                 // W=4 → idx 1 → 3
      ("c", 4.0, 1L),                                 // singleton
      ("d", 1.0, 3L), ("d", 2.0, 3L))                 // W=6 → idx 2 → 1
    val df = rows.toDF("g", "v", "w")
    val got = Quantiles.weightedMedian(df, col("g"), col("v"), col("w"))
      .select("_g", "weighted_median", "total_weight")
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
    def brute(g: String): Double = {
      val exp = rows.filter(_._1 == g)
        .flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
      exp((exp.size + 1) / 2 - 1)
    }
    assert(got === Seq("a", "b", "c", "d").map(g =>
      (g, brute(g), rows.filter(_._1 == g).map(_._3).sum)))
  }

  test("weightedMedian: two-phase equals brute force on random data " +
    "across bucket granularities") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 8) {
      val rows = Seq.fill(200 + rnd.nextInt(200))(
        (s"g${rnd.nextInt(4)}",
          // duplicates and negatives on purpose; 1-decimal grid
          (rnd.nextInt(400) - 200) / 10.0,
          (rnd.nextInt(5) + 1).toLong))
      val df = rows.toDF("g", "v", "w").repartition(1 + rnd.nextInt(7))
      // degenerate (all-one-bucket), coarse, and fine bucketing must
      // all return the identical median — granularity is perf-only
      val scales = Seq(1e-9, 0.05, 1.0, 10.0)
      val results = scales.map(sc =>
        Quantiles.weightedMedian(df, col("g"), col("v"), col("w"), sc)
          .select("_g", "weighted_median", "total_weight", "n_distinct")
          .as[(String, Double, Long, Long)].collect().sortBy(_._1).toSeq)
      assert(results.distinct.size === 1, s"bucketScale changed the result")
      val brute = rows.groupBy(_._1).map { case (g, rs) =>
        val exp = rs.flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
        (g, exp((exp.size + 1) / 2 - 1), rs.map(_._3).sum,
          rs.map(_._2).distinct.size.toLong)
      }.toSeq.sortBy(_._1)
      assert(results.head === brute)
    }
  }

  test("weightedMedian drops nulls and non-positive weights; " +
    "partitioning-invariant") {
    val df = Seq(
      ("a", Some(1.0), 0L), ("a", Some(5.0), 2L), ("a", None, 9L),
      ("a", Some(7.0), -3L), ("a", Some(6.0), 1L)).toDF("g", "v", "w")
    val out = Quantiles.weightedMedian(df.repartition(7), col("g"),
        col("v"), col("w"))
      .select("_g", "weighted_median", "total_weight", "n_distinct")
      .as[(String, Double, Long, Long)].collect().toSeq
    assert(out === Seq(("a", 5.0, 3L, 2L)))
  }
}
