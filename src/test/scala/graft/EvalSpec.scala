package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BinaryEmbed, Eval}

/** Eval-metric operators against hand-computed values: tie-aware AUC,
  * calibration bins, two-sample KS, plus partitioning-invariance for
  * the distributed-scan paths and the knn confusion/eval consistency
  * contract.
  */
class EvalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // (score, label): a small set with a tie straddling the classes.
  // Sorted: 1-, 2-, 2+, 3+, 4-, 5+   (P=3, N=3)
  // U = Σ over positives of (#neg below + ties/2):
  //   2+ → 1 + 0.5 = 1.5;  3+ → 2;  5+ → 3   ⇒ U = 6.5, AUC = 6.5/9
  private val tied = Seq(
    (1L, false), (2L, false), (2L, true), (3L, true), (4L, false), (5L, true))

  test("rocAuc matches the hand-computed tie-aware value") {
    val df = tied.toDF("s", "y")
    val row = Eval.rocAuc(df, col("s"), col("y")).collect().head
    assert(row.getAs[Long]("n_pos") === 3L)
    assert(row.getAs[Long]("n_neg") === 3L)
    assert(row.getAs[Long]("auc_num") === 13L) // 2U
    assert(row.getAs[Long]("auc_den") === 18L)
    assert(row.getAs[Double]("auc") === 13.0 / 18.0)
  }

  test("rocAuc: perfect separation gives 1.0, inverted gives 0.0") {
    val perfect = Seq((1L, false), (2L, false), (3L, true), (4L, true))
      .toDF("s", "y")
    assert(Eval.rocAuc(perfect, col("s"), col("y"))
      .collect().head.getAs[Double]("auc") === 1.0)
    val inverted = Seq((1L, true), (2L, true), (3L, false), (4L, false))
      .toDF("s", "y")
    assert(Eval.rocAuc(inverted, col("s"), col("y"))
      .collect().head.getAs[Double]("auc") === 0.0)
  }

  test("rocAuc: single-class input yields NULL auc, not a crash") {
    val onlyPos = Seq((1L, true), (2L, true)).toDF("s", "y")
    val row = Eval.rocAuc(onlyPos, col("s"), col("y")).collect().head
    assert(row.getAs[Long]("n_neg") === 0L)
    assert(row.isNullAt(row.fieldIndex("auc")))
  }

  test("rocAuc is invariant under partitioning") {
    val df = (0L until 5000L).map(i => (i % 97, i % 3 == 0)).toDF("s", "y")
    val a = Eval.rocAuc(df.repartition(1), col("s"), col("y"))
      .collect().head.getAs[Long]("auc_num")
    val b = Eval.rocAuc(df.repartition(17), col("s"), col("y"))
      .collect().head.getAs[Long]("auc_num")
    assert(a === b)
  }

  test("calibrationBins: bins partition the score range, counts add up") {
    val df = (0L until 1000L).map(i => (i, i >= 500L)).toDF("s", "y")
    val rows = Eval.calibrationBins(df, col("s"), col("y"), bins = 10)
      .orderBy("bin").collect()
    assert(rows.length === 10)
    assert(rows.map(_.getAs[Long]("n")).sum === 1000L)
    assert(rows.map(_.getAs[Long]("n_pos")).sum === 500L)
    // monotone labels → first five bins all-negative, last five all-positive
    assert(rows.take(5).forall(_.getAs[Long]("n_pos") === 0L))
    assert(rows.drop(5).forall(r =>
      r.getAs[Long]("n_pos") === r.getAs[Long]("n")))
    // bin edges: lo/hi within [bin*100, bin*100+99]
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("score_lo") === i * 100L)
      assert(r.getAs[Long]("score_hi") === i * 100L + 99L)
    }
  }

  test("calibrationBins: constant score collapses to one bin") {
    val df = Seq((7L, true), (7L, false), (7L, true)).toDF("s", "y")
    val rows = Eval.calibrationBins(df, col("s"), col("y")).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("bin") === 0L)
    assert(rows.head.getAs[Long]("n") === 3L)
  }

  test("ksTest matches the hand-computed statistic") {
    // A = {1, 2, 3}, B = {2, 3, 4}: at v=1 |1/3 - 0| = 1/3 is the max
    val df = Seq((1L, true), (2L, true), (3L, true),
      (2L, false), (3L, false), (4L, false)).toDF("v", "a")
    val row = Eval.ksTest(df, col("v"), col("a")).collect().head
    assert(row.getAs[Long]("n_a") === 3L)
    assert(row.getAs[Long]("n_b") === 3L)
    assert(row.getAs[Long]("ks_num") === 3L) // |1*3 - 0*3|
    assert(row.getAs[Long]("ks_den") === 9L)
    assert(row.getAs[Double]("ks") === 3.0 / 9.0)
  }

  test("ksTest: identical samples give 0, disjoint give 1") {
    val same = Seq((1L, true), (2L, true), (1L, false), (2L, false))
      .toDF("v", "a")
    assert(Eval.ksTest(same, col("v"), col("a"))
      .collect().head.getAs[Long]("ks_num") === 0L)
    val disjoint = Seq((1L, true), (2L, true), (10L, false), (11L, false))
      .toDF("v", "a")
    val r = Eval.ksTest(disjoint, col("v"), col("a")).collect().head
    assert(r.getAs[Long]("ks_num") === r.getAs[Long]("ks_den"))
  }

  test("ksTest is invariant under partitioning") {
    val df = (0L until 4000L).map(i => ((i * 7) % 211, i % 5 != 0))
      .toDF("v", "a")
    val a = Eval.ksTest(df.repartition(1), col("v"), col("a"))
      .collect().head.getAs[Long]("ks_num")
    val b = Eval.ksTest(df.repartition(13), col("v"), col("a"))
      .collect().head.getAs[Long]("ks_num")
    assert(a === b)
    // and equals the sequential reference at 1 and 17 partitions
    agreesWithReference(
      in => Eval.ksTest(in, col("s"), col("y"))
        .as[(Long, Long, Long, Long, Option[Double])].collect().toSeq,
      rows => {
        val by = perScore(rows)
        val (nA, nB) = (by.map(_._3).sum, by.map(b => b._2 - b._3).sum)
        val cdfs = by.scanLeft((0L, 0L)) { case ((ca, cb), (_, n, pos)) =>
          (ca + pos, cb + n - pos) }.tail
        if (by.isEmpty) Seq.empty
        else {
          val d = cdfs.map { case (ca, cb) => math.abs(ca * nB - cb * nA) }.max
          Seq((nA, nB, d, nA * nB, ratio(d, nA * nB)))
        }
      })
  }

  test("ksTest: empty input returns no rows instead of firing the " +
      "packed-scan guard") {
    // the scan's totals are NULL over no rows: the result must be the
    // empty relation, not one all-NULL row or an error
    val empty = Seq.empty[(Long, Boolean)].toDF("v", "a")
    assert(Eval.ksTest(empty, col("v"), col("a")).collect().isEmpty)
  }

  test("NULL scores/values are dropped, not ranked (engine NULLS " +
      "FIRST/LAST divergence)") {
    val withNulls = Seq((Some(1L), false), (Some(2L), true),
      (None, true), (None, false)).toDF("s", "y")
    val clean = Seq((1L, false), (2L, true)).toDF("s", "y")
    assert(Eval.rocAuc(withNulls, col("s"), col("y")).collect().head ===
      Eval.rocAuc(clean, col("s"), col("y")).collect().head)
    assert(Eval.ksTest(withNulls, col("s"), col("y")).collect().head ===
      Eval.ksTest(clean, col("s"), col("y")).collect().head)
    assert(Eval.calibrationBins(withNulls, col("s"), col("y"))
      .orderBy("bin").collect() ===
      Eval.calibrationBins(clean, col("s"), col("y"))
        .orderBy("bin").collect())
  }

  test("prCurve matches the hand-computed thresholds") {
    // scores desc: 5+, 4-, 3+, 2+-, 1-  (P=3, N=3; tie at 2)
    val df = tied.toDF("s", "y")
    val rows = Eval.prCurve(df, col("s"), col("y"))
      .orderBy(col("threshold").desc).collect()
    // thresholds 5,4,3,2,1 → (tp,fp): (1,0) (1,1) (2,1) (3,2) (3,3)
    val expect = Seq((5L, 1L, 0L), (4L, 1L, 1L), (3L, 2L, 1L),
      (2L, 3L, 2L), (1L, 3L, 3L))
    assert(rows.map(r => (r.getAs[Long]("threshold"), r.getAs[Long]("tp"),
      r.getAs[Long]("fp"))).toSeq === expect)
    rows.foreach { r =>
      assert(r.getAs[Long]("fn") === 3L - r.getAs[Long]("tp"))
      assert(r.getAs[Double]("precision") ===
        r.getAs[Long]("tp").toDouble /
          (r.getAs[Long]("tp") + r.getAs[Long]("fp")))
      assert(r.getAs[Double]("recall") === r.getAs[Long]("tp") / 3.0)
    }
    // and equals the sequential reference at 1 and 17 partitions
    agreesWithReference(
      in => Eval.prCurve(in, col("s"), col("y"))
        .orderBy(col("threshold").desc)
        .as[(Long, Long, Long, Long, Double, Option[Double])].collect().toSeq,
      rows => {
        val by = perScore(rows).reverse
        val nPos = by.map(_._3).sum
        var (tp, fp) = (0L, 0L)
        by.map { case (s, n, pos) =>
          tp += pos; fp += n - pos
          (s, tp, fp, nPos - tp, tp.toDouble / (tp + fp).toDouble,
            ratio(tp, nPos))
        }
      })
  }

  test("averagePrecision matches the hand-computed fixed-point sum") {
    // AP = (1/P)·Σ_t pos(t)·tp(t)/den(t) over thresholds desc:
    //   t=5: 1·1/1;  t=3: 1·2/3;  t=2: 1·3/5   (pos(4)=pos(1)=0)
    // = (1 + 2/3 + 3/5)/3 = 34/45
    val df = tied.toDF("s", "y")
    val S = 1000000000L
    val row = Eval.averagePrecision(df, col("s"), col("y")).collect().head
    def fp(num: Long, den: Long) = (2L * num * S + den) / (2L * den)
    val expected = fp(1, 1) + fp(2, 3) + fp(3, 5)
    assert(row.getAs[Long]("n_pos") === 3L)
    assert(row.getAs[Long]("ap_num") === expected)
    assert(row.getAs[Long]("ap_den") === 3L * S)
    assert(math.abs(row.getAs[Double]("ap") - 34.0 / 45.0) < 1e-8)
  }

  test("averagePrecision: perfect ranking gives AP = 1") {
    val perfect = Seq((1L, false), (2L, false), (3L, true), (4L, true))
      .toDF("s", "y")
    val row = Eval.averagePrecision(perfect, col("s"), col("y"))
      .collect().head
    assert(row.getAs[Long]("ap_num") === row.getAs[Long]("ap_den"))
    assert(row.getAs[Double]("ap") === 1.0)
  }

  test("averagePrecision is invariant under partitioning") {
    val df = (0L until 5000L).map(i => (i % 97, i % 3 == 0)).toDF("s", "y")
    val a = Eval.averagePrecision(df.repartition(1), col("s"), col("y"))
      .collect().head.getAs[Long]("ap_num")
    val b = Eval.averagePrecision(df.repartition(17), col("s"), col("y"))
      .collect().head.getAs[Long]("ap_num")
    assert(a === b)
  }

  test("averagePrecision agrees with a sequential brute-force " +
    "reference on pseudo-random inputs") {
    val S = 1000000000L
    agreesWithReference(
      in => Eval.averagePrecision(in, col("s"), col("y"))
        .as[(Long, Long, Long, Option[Double])].collect().toSeq,
      rows => {
        val by = perScore(rows).reverse
        var (tp, all, num) = (0L, 0L, 0L)
        by.foreach { case (_, n, pos) =>
          tp += pos; all += n
          num += (2L * pos * tp * S + all) / (2L * all)
        }
        val nPos = by.map(_._3).sum
        if (by.isEmpty) Seq.empty
        else Seq((nPos, num, nPos * S, ratio(num, nPos * S)))
      })
  }

  test("precisionAtK matches the hand-computed top-k cuts") {
    // rank by (score desc, id): 5+(a) 4-(b) 3+(c) 2+(d) 2-(e) 1-(f)
    val df = Seq((5L, "a", true), (4L, "b", false), (3L, "c", true),
      (2L, "d", true), (2L, "e", false), (1L, "f", false))
      .toDF("s", "id", "y")
    val rows = Eval.precisionAtK(df, col("s"), col("id"), col("y"),
      Seq(1, 3, 5)).orderBy("k").collect()
    val got = rows.map(r => (r.getAs[Long]("k"), r.getAs[Long]("tp"))).toSeq
    assert(got === Seq((1L, 1L), (3L, 2L), (5L, 3L)))
    assert(rows.map(_.getAs[Double]("precision")).toSeq ===
      Seq(1.0, 2.0 / 3.0, 3.0 / 5.0))
    assert(rows.map(_.getAs[Double]("recall")).toSeq ===
      Seq(1.0 / 3.0, 2.0 / 3.0, 1.0))
  }

  test("precisionAtK tie-break is the id, deterministically") {
    // two score-2 rows; at k=1 only the LOWER id ("d") is in the cut
    val df = Seq((2L, "e", false), (2L, "d", true)).toDF("s", "id", "y")
    val r1 = Eval.precisionAtK(df, col("s"), col("id"), col("y"), Seq(1))
      .collect().head
    assert(r1.getAs[Long]("tp") === 1L)
  }

  test("precisionAtK is invariant under partitioning") {
    val df = (0L until 5000L).map(i => (i % 97, i, i % 3 == 0))
      .toDF("s", "id", "y")
    val a = Eval.precisionAtK(df.repartition(1), col("s"), col("id"),
      col("y"), Seq(100)).collect().head.getAs[Long]("tp")
    val b = Eval.precisionAtK(df.repartition(17), col("s"), col("id"),
      col("y"), Seq(100)).collect().head.getAs[Long]("tp")
    assert(a === b)
    // and equals the sequential reference at 1 and 17 partitions
    val ks = Seq(1, 7, 50, 1000)
    agreesWithReference(
      in => Eval.precisionAtK(in, col("s"), col("id"), col("y"), ks)
        .orderBy("k").as[(Long, Long, Double, Option[Double])].collect().toSeq,
      rows => {
        val ranked = rows.collect { case (id, Some(s), y) => (-s, id, y) }
          .sortBy(r => (r._1, r._2)).map(_._3)
        val nPos = ranked.count(identity).toLong
        if (ranked.isEmpty) Seq.empty
        else ks.map { k =>
          val tp = ranked.take(k).count(identity).toLong
          (k.toLong, tp, tp.toDouble / k.toDouble, ratio(tp, nPos))
        }
      })
  }

  test("precisionAtK: the top-ranked positive counts once at k = 1") {
    val df = Seq((5L, "a", true), (4L, "b", false), (3L, "c", true))
      .toDF("s", "id", "y")
    val ok = Eval.precisionAtK(df, col("s"), col("id"), col("y"), Seq(1))
      .collect().head
    assert(ok.getAs[Long]("tp") === 1L)
  }

  test("thresholdCounts: tp counts the positives at or above each " +
      "descending threshold") {
    val tp = Eval.thresholdCounts(tied.toDF("s", "y"), col("s"), col("y"))
      .orderBy(col("_s").desc).select("tp").as[Long].collect().toSeq
    assert(tp === Seq(1L, 1L, 2L, 3L, 3L))
  }

  // (id, score, label) rows with a NULL score every 11th row: the input
  // of the sequential references below
  private type Obs = (Long, Option[Long], Boolean)

  private def scoredRows(seed: Int): Seq[Obs] = (0 until 600).map { i =>
    val h = (i * 2654435761L + seed * 40503L) % 1000000007L
    (i.toLong, if (i % 11 == 0) None else Some(h % 41), h % 3 == 0L)
  }

  /** (score, rows, positives) per distinct non-NULL score, ascending. */
  private def perScore(rows: Seq[Obs]): Seq[(Long, Long, Long)] =
    rows.collect { case (_, Some(s), y) => (s, y) }.groupBy(_._1).toSeq
      .sortBy(_._1)
      .map { case (s, g) => (s, g.size.toLong, g.count(_._2).toLong) }

  /** `metric` equals the sequential `ref` on three pseudo-random inputs
    * at 1 and 17 partitions, and returns no rows over an empty or an
    * all-NULL-score input.
    */
  private def agreesWithReference[T](metric: org.apache.spark.sql.DataFrame => Seq[T],
      ref: Seq[Obs] => Seq[T]): Unit = {
    for (seed <- 1 to 3; parts <- Seq(1, 17)) {
      val rows = scoredRows(seed)
      assert(metric(rows.toDF("id", "s", "y").repartition(parts)) ===
        ref(rows), s"seed $seed, $parts partitions")
    }
    val allNull = scoredRows(1).map { case (i, _, y) => (i, Option.empty[Long], y) }
    assert(metric(Seq.empty[Obs].toDF("id", "s", "y")).isEmpty)
    assert(metric(allNull.toDF("id", "s", "y")).isEmpty)
  }

  private def ratio(num: Long, den: Long): Option[Double] =
    if (den == 0L) None else Some(num.toDouble / den.toDouble)

  test("q_ks_test's warm build and execution run the pinned jobs on " +
      "sf0.01") {
    val build = () => SparkEntry.queries("q_ks_test")(spark, "/root/testdata/sf0.01")
    build() // infers and memoises the fixture's schema
    val (df, buildJobs) = TestSpark.jobsDuring(build())
    assert(buildJobs === 4)
    assert(TestSpark.jobsDuring(df.collect())._2 === 1)
  }

  test("averagePrecision: empty input returns ZERO rows (oracle's " +
      "grouped shape), not one all-NULL row; guard stays silent") {
    val empty = Seq.empty[(Long, Boolean)].toDF("s", "y")
    assert(Eval.averagePrecision(empty, col("s"), col("y"))
      .collect().isEmpty)
    assert(Eval.prCurve(empty, col("s"), col("y")).collect().isEmpty)
  }

  test("calibrationQuantileBins: uniform scores split into equal-mass " +
      "bins; tie blocks stay whole") {
    val df = (1L to 10L).map(s => (s, s > 5L)).toDF("s", "y")
    val rows = Eval.calibrationQuantileBins(df, col("s"), col("y"),
      bins = 2).orderBy("bin").collect()
    assert(rows.map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n"),
      r.getAs[Long]("score_lo"), r.getAs[Long]("score_hi"))).toSeq ===
      Seq((0L, 5L, 1L, 5L), (1L, 5L, 6L, 10L)))
    // a tie block goes wholly to the bin of its first element
    val tiedDf = Seq((1L, false), (1L, false), (1L, true), (2L, true))
      .toDF("s", "y")
    val t = Eval.calibrationQuantileBins(tiedDf, col("s"), col("y"),
      bins = 2).orderBy("bin").collect()
    assert(t.map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n"))).toSeq
      === Seq((0L, 3L), (1L, 1L)))
  }

  test("calibrationQuantileBins is invariant under partitioning") {
    val df = (0L until 4000L).map(i => ((i * 7) % 211, i % 3 == 0))
      .toDF("s", "y")
    val a = Eval.calibrationQuantileBins(df.repartition(1), col("s"),
      col("y")).orderBy("bin").collect().toSeq
    val b = Eval.calibrationQuantileBins(df.repartition(13), col("s"),
      col("y")).orderBy("bin").collect().toSeq
    assert(a === b)
    // and equals the sequential reference at 1 and 17 partitions
    agreesWithReference(
      in => Eval.calibrationQuantileBins(in, col("s"), col("y"), bins = 7)
        .orderBy("bin").as[(Long, Long, Long, Long, Long, Double)]
        .collect().toSeq,
      rows => {
        val by = perScore(rows)
        val n = by.map(_._2).sum
        val below = by.scanLeft(0L)(_ + _._2)
        by.zip(below).groupBy { case (_, b) => b * 7 / n }.toSeq.sortBy(_._1)
          .map { case (bin, g) =>
            val (cnt, pos) = (g.map(_._1._2).sum, g.map(_._1._3).sum)
            (bin, g.map(_._1._1).min, g.map(_._1._1).max, cnt, pos,
              pos.toDouble / cnt.toDouble)
          }
      })
  }

  test("gini matches hand-computed cases") {
    def g(vs: Seq[Long]): (Long, Long, Double) = {
      val r = Eval.gini(vs.map(Tuple1(_)).toDF("v"), col("v"))
        .collect().head
      (r.getAs[Long]("gini_num"), r.getAs[Long]("gini_den"),
        r.getAs[Double]("gini"))
    }
    // ascending 1,2,3,4: 2*sum(i*x)=60, (n+1)*total=50 -> 10/40
    assert(g(Seq(1L, 2L, 3L, 4L)) === ((10L, 40L, 0.25)))
    // perfectly equal -> 0 even with ties
    assert(g(Seq(5L, 5L, 5L))._1 === 0L)
    // one holder of everything: (0,0,10) -> 20/30
    assert(g(Seq(0L, 0L, 10L)) === ((20L, 30L, 2.0 / 3.0)))
  }

  test("gini: empty input returns zero rows; all-zero total gives " +
      "NULL gini; negatives fire the guard") {
    val empty = Seq.empty[Tuple1[Long]].toDF("v")
    assert(Eval.gini(empty, col("v")).collect().isEmpty)
    val zeros = Seq(0L, 0L).map(Tuple1(_)).toDF("v")
    val r = Eval.gini(zeros, col("v")).collect().head
    assert(r.isNullAt(r.fieldIndex("gini")))
    val neg = Seq(1L, -2L).map(Tuple1(_)).toDF("v")
    val e = intercept[Exception] { Eval.gini(neg, col("v")).collect() }
    assert(findRaise(e).exists(_.contains("non-negative")))
  }

  test("gini is invariant under partitioning") {
    val df = (0L until 3000L).map(i => Tuple1((i * 13) % 97))
      .toDF("v")
    val a = Eval.gini(df.repartition(1), col("v")).collect().head
    val b = Eval.gini(df.repartition(11), col("v")).collect().head
    assert(a === b)
    // and equals the sequential reference at 1 and 17 partitions
    agreesWithReference(
      in => Eval.gini(in, col("s"))
        .as[(Long, Long, Long, Long, Option[Double])].collect().toSeq,
      rows => {
        val by = perScore(rows)
        val sorted = by.flatMap { case (v, c, _) => Seq.fill(c.toInt)(v) }
        val (n, total) = (sorted.size.toLong, sorted.sum)
        val w = sorted.zipWithIndex.map { case (v, i) => 2L * (i + 1) * v }.sum
        val num = w - (n + 1) * total
        if (by.isEmpty) Seq.empty
        else Seq((n, total, num, n * total, ratio(num, n * total)))
      })
  }

  test("hhi matches hand computations; eff_groups is its reciprocal") {
    // two groups 30/10: hhi = (900+100)/1600 = 0.625, eff = 1.6
    val df = Seq(("a", 10L), ("a", 20L), ("b", 10L)).toDF("g", "w")
    val r = Eval.hhi(df, col("g"), col("w")).collect().head
    assert(r.getAs[Long]("n_groups") === 2L)
    assert(r.getAs[Long]("total") === 40L)
    assert(r.getAs[Long]("hhi_num") === 1000L)
    assert(r.getAs[Long]("hhi_den") === 1600L)
    assert(r.getAs[Double]("hhi") === 0.625)
    assert(r.getAs[Double]("eff_groups") === 1.6)
    // n equal groups -> eff_groups = n exactly
    val eq = (0 until 8).flatMap(g => Seq((g.toString, 5L)))
      .toDF("g", "w")
    assert(Eval.hhi(eq, col("g"), col("w")).collect().head
      .getAs[Double]("eff_groups") === 8.0)
  }

  test("hhi: empty input returns zero rows; negative mass fires the " +
      "guard; zero total gives NULL ratios") {
    val empty = Seq.empty[(String, Long)].toDF("g", "w")
    assert(Eval.hhi(empty, col("g"), col("w")).collect().isEmpty)
    val neg = Seq(("a", 5L), ("b", -1L)).toDF("g", "w")
    val e = intercept[Exception] {
      Eval.hhi(neg, col("g"), col("w")).collect()
    }
    assert(findRaise(e).exists(_.contains("non-negative")))
    val zero = Seq(("a", 0L)).toDF("g", "w")
    val r = Eval.hhi(zero, col("g"), col("w")).collect().head
    assert(r.isNullAt(r.fieldIndex("hhi")))
  }

  test("fleissKappa matches the hand computation; perfect agreement " +
      "gives 1; ragged panels fire the guard") {
    // items: A rated (0,0), B rated (0,1) -> kappa = -1/3 (num -2/den 6)
    val split = Seq((1L, 0L), (1L, 0L), (2L, 0L), (2L, 1L))
      .toDF("item", "cat")
    val r = Eval.fleissKappa(split, col("item"), col("cat"))
      .collect().head
    assert(r.getAs[Long]("kappa_num") === -2L)
    assert(r.getAs[Long]("kappa_den") === 6L)
    assert(r.getAs[Double]("kappa") === -2.0 / 6.0)
    // perfect agreement across distinct categories -> kappa 1
    val perfect = Seq((1L, 0L), (1L, 0L), (2L, 1L), (2L, 1L))
      .toDF("item", "cat")
    assert(Eval.fleissKappa(perfect, col("item"), col("cat"))
      .collect().head.getAs[Double]("kappa") === 1.0)
    // ragged: item 1 has 2 ratings, item 2 has 1 -> loud failure
    val ragged = Seq((1L, 0L), (1L, 0L), (2L, 1L)).toDF("item", "cat")
    val e = intercept[Exception] {
      Eval.fleissKappa(ragged, col("item"), col("cat")).collect()
    }
    assert(findRaise(e).exists(_.contains("same number of ratings")))
  }

  test("fleissKappa: empty input returns zero rows; single rater " +
      "gives NULL kappa") {
    val empty = Seq.empty[(Long, Long)].toDF("item", "cat")
    assert(Eval.fleissKappa(empty, col("item"), col("cat"))
      .collect().isEmpty)
    val solo = Seq((1L, 0L), (2L, 1L)).toDF("item", "cat")
    val r = Eval.fleissKappa(solo, col("item"), col("cat"))
      .collect().head
    assert(r.getAs[Long]("n_raters") === 1L)
    assert(r.isNullAt(r.fieldIndex("kappa")))
  }

  test("fleissKappa is invariant under partitioning") {
    val df = (0L until 3000L)
      .map(i => (i / 3, (i * 7 + i / 3) % 5))
      .toDF("item", "cat")
    val a = Eval.fleissKappa(df.repartition(1), col("item"), col("cat"))
      .collect().head
    val b = Eval.fleissKappa(df.repartition(13), col("item"), col("cat"))
      .collect().head
    assert(a === b)
  }

  /** raise_error surfaces wrapped in SparkException layers — walk the
    * cause chain and collect every message.
    */
  private def findRaise(e: Throwable): Seq[String] =
    Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
      .takeWhile(_ != null).take(10)
      .flatMap(t => Option(t.getMessage)).toSeq

  test("chiSquareDrift matches the hand-computed 2x2 table") {
    // A = {x,x,y}, B = {x,y,y,y}: D_x = 2*4-1*3 = 5 (c=3, t=floor(25/3)=8),
    // D_y = 1*4-3*3 = -5 (c=4, t=floor(25/4)=6) -> chi2_num = 14
    val df = Seq((1L, true), (1L, true), (2L, true),
      (1L, false), (2L, false), (2L, false), (2L, false)).toDF("k", "a")
    val r = Eval.chiSquareDrift(df, col("k"), col("a")).collect().head
    assert(r.getAs[Long]("n_a") === 3L)
    assert(r.getAs[Long]("n_b") === 4L)
    assert(r.getAs[Long]("n_buckets") === 2L)
    assert(r.getAs[Long]("dof") === 1L)
    assert(r.getAs[Long]("chi2_num") === 14L)
    assert(r.getAs[Double]("chi2") === 14.0 / 12.0)
  }

  test("chiSquareDrift: identical distributions give 0") {
    val df = Seq((1L, true), (2L, true), (1L, false), (2L, false))
      .toDF("k", "a")
    assert(Eval.chiSquareDrift(df, col("k"), col("a"))
      .collect().head.getAs[Long]("chi2_num") === 0L)
  }

  test("chiSquareDrift is invariant under partitioning") {
    val df = (0L until 6000L).map(i => ((i * 11) % 23, i % 4 != 0))
      .toDF("k", "a")
    val a = Eval.chiSquareDrift(df.repartition(1), col("k"), col("a"))
      .collect().head.getAs[Long]("chi2_num")
    val b = Eval.chiSquareDrift(df.repartition(19), col("k"), col("a"))
      .collect().head.getAs[Long]("chi2_num")
    assert(a === b)
  }

  test("rocAucByGroup: each group row equals the global rocAuc of " +
    "that slice") {
    val df = (0L until 3000L)
      .map(i => (s"g${i % 3}", (i * 7) % 101, i % 4 == 0))
      .toDF("g", "s", "y")
    val byGroup = Eval.rocAucByGroup(df, col("g"), col("s"), col("y"))
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Long]("auc_num"), r.getAs[Long]("auc_den"))).toMap
    Seq("g0", "g1", "g2").foreach { g =>
      val solo = Eval.rocAuc(df.filter(col("g") === g), col("s"),
        col("y")).collect().head
      assert(byGroup(g) === ((solo.getAs[Long]("auc_num"),
        solo.getAs[Long]("auc_den"))), s"group $g diverged")
    }
  }

  test("poissonBootstrap: deterministic, weights bounded, replicate " +
    "sizes concentrate around n") {
    val df = (0L until 2000L).map(i => (i, 100L + i % 50)).toDF("id", "v")
    val a = Eval.poissonBootstrap(df, col("id"), col("v"), reps = 8)
      .orderBy("rep").collect()
    val b = Eval.poissonBootstrap(df.repartition(13), col("id"), col("v"),
      reps = 8).orderBy("rep").collect()
    assert(a.toSeq === b.toSeq, "bootstrap must be partition-invariant")
    assert(a.length === 8)
    a.foreach { r =>
      val w = r.getAs[Long]("w_total")
      // Poisson(1) sum over 2000 rows: mean 2000, sd ~45 — a 10-sd
      // band is astronomically safe and catches any weight-scale bug
      assert(w > 1550 && w < 2450, s"replicate size $w implausible")
      val m = r.getAs[Double]("mean")
      assert(m > 100.0 && m < 150.0, s"replicate mean $m out of range")
    }
    // replicates must actually differ (independent pseudo-draws)
    assert(a.map(_.getAs[Long]("w_total")).distinct.length > 1)
  }

  test("survivalByThreshold agrees with a sequential reference and is " +
    "monotone") {
    val data = (0L until 1000L).map(i => ((i * 7) % 23, 10L + (i % 5)))
    val rows = Eval.survivalByThreshold(data.toDF("s", "w"), col("s"),
      col("w")).orderBy(col("threshold").desc).collect()
    // sequential reference: for each distinct s desc, cum rows/weight
    val grouped = data.groupBy(_._1).view.mapValues(vs =>
      (vs.size.toLong, vs.map(_._2).sum)).toSeq.sortBy(-_._1)
    var n = 0L; var w = 0L
    grouped.zip(rows).foreach { case ((s, (cnt, ws)), r) =>
      n += cnt; w += ws
      assert(r.getAs[Long]("threshold") === s)
      assert(r.getAs[Long]("n_kept") === n)
      assert(r.getAs[Long]("weight_kept") === w)
    }
    // the lowest threshold keeps everything
    assert(rows.last.getAs[Double]("frac_rows") === 1.0)
    assert(rows.last.getAs[Double]("frac_weight") === 1.0)
    // survival is monotone nonincreasing in the threshold
    val kept = rows.map(_.getAs[Long]("n_kept"))
    assert(kept.sameElements(kept.sorted))
  }

  test("survivalByThreshold is invariant under partitioning") {
    val df = (0L until 3000L).map(i => ((i * 11) % 97, 1L + i % 7))
      .toDF("s", "w")
    val a = Eval.survivalByThreshold(df.repartition(1), col("s"), col("w"))
      .orderBy("threshold").collect()
    val b = Eval.survivalByThreshold(df.repartition(19), col("s"), col("w"))
      .orderBy("threshold").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("conformalCalibrate agrees with a sequential brute-force " +
    "reference and covers ~1-alpha") {
    val M = 1000000007L; val M1 = 2654435761L; val M2 = 40503L
    def calSide(id: Long): Boolean =
      ((((id % M) * M1 % M) + M2) * M1 % M) % 2 == 0
    val data = (0L until 4000L).map(i => (i, (i * 13) % 211))
    val df = data.toDF("id", "s")
    val row = Eval.conformalCalibrate(df, col("id"), col("s"))
      .collect().head
    // sequential reference
    val cal = data.filter(d => calSide(d._1)).map(_._2).sorted
    val k = ((cal.size + 1) * 9 + 9) / 10
    val thr = cal(k - 1)
    val test = data.filterNot(d => calSide(d._1)).map(_._2)
    assert(row.getAs[Long]("n_cal") === cal.size.toLong)
    assert(row.getAs[Long]("k") === k.toLong)
    assert(row.getAs[Long]("threshold") === thr)
    assert(row.getAs[Long]("n_test") === test.size.toLong)
    assert(row.getAs[Long]("n_covered") === test.count(_ <= thr).toLong)
    val cov = row.getAs[Double]("coverage")
    assert(cov > 0.82 && cov < 0.98, s"coverage $cov far from 0.9")
  }

  test("conformalCalibrate: alpha = 0 needs k = n_cal + 1 -> NULL " +
    "threshold, NULL coverage") {
    val df = (0L until 100L).map(i => (i, i)).toDF("id", "s")
    val row = Eval.conformalCalibrate(df, col("id"), col("s"),
      alphaNum = 0, alphaDen = 10).collect().head
    assert(row.getAs[Long]("k") === row.getAs[Long]("n_cal") + 1L)
    assert(row.isNullAt(row.fieldIndex("threshold")))
    assert(row.isNullAt(row.fieldIndex("coverage")))
  }

  test("conformalCalibrate is invariant under partitioning") {
    val df = (0L until 4000L).map(i => (i, (i * 13) % 211)).toDF("id", "s")
    val a = Eval.conformalCalibrate(df.repartition(1), col("id"), col("s"))
      .collect().head
    val b = Eval.conformalCalibrate(df.repartition(17), col("id"), col("s"))
      .collect().head
    assert(a === b)
  }

  test("confusionF1 matches the hand-computed marginals") {
    val conf = Seq((0, 0, 5L), (0, 1, 2L), (1, 1, 3L), (1, 0, 1L),
      (2, 2, 4L)).toDF("t", "p", "n")
    val rows = Eval.confusionF1(conf, col("t"), col("p"), col("n"))
      .orderBy("label").collect()
    assert(rows.map(r => (r.getAs[Int]("label"), r.getAs[Long]("tp"),
      r.getAs[Long]("fp"), r.getAs[Long]("fn"))).toSeq ===
      Seq((0, 5L, 1L, 2L), (1, 3L, 2L, 1L), (2, 4L, 0L, 0L)))
    assert(rows.map(_.getAs[Double]("f1")).toSeq ===
      Seq(10.0 / 13.0, 6.0 / 9.0, 1.0))
    assert(rows(0).getAs[Double]("precision") === 5.0 / 6.0)
    assert(rows(0).getAs[Double]("recall") === 5.0 / 7.0)
  }

  test("confusionF1: labels absent from one side get NULL for the " +
    "undefined ratio, not a crash or a zero") {
    val conf = Seq((0, 1, 2L)).toDF("t", "p", "n")
    val rows = Eval.confusionF1(conf, col("t"), col("p"), col("n"))
      .orderBy("label").collect()
    // label 0: never predicted -> precision NULL, recall 0
    assert(rows(0).getAs[Long]("tp") === 0L)
    assert(rows(0).isNullAt(rows(0).fieldIndex("precision")))
    assert(rows(0).getAs[Double]("recall") === 0.0)
    // label 1: never true -> recall NULL, precision 0
    assert(rows(1).isNullAt(rows(1).fieldIndex("recall")))
    assert(rows(1).getAs[Double]("precision") === 0.0)
  }

  test("cohensKappa matches the hand computation; perfect agreement " +
    "gives 1, constant raters give NULL") {
    val conf = Seq((0, 0, 5L), (0, 1, 2L), (1, 1, 3L), (1, 0, 1L),
      (2, 2, 4L)).toDF("t", "p", "n")
    val r = Eval.cohensKappa(conf, col("t"), col("p"), col("n"))
      .collect().head
    assert(r.getAs[Long]("n") === 15L)
    assert(r.getAs[Long]("agree") === 12L)
    assert(r.getAs[Long]("kappa_num") === 102L) // 15*12 - 78
    assert(r.getAs[Long]("kappa_den") === 147L) // 225 - 78
    assert(r.getAs[Double]("kappa") === 102.0 / 147.0)
    val perfect = Seq((0, 0, 3L), (1, 1, 2L)).toDF("t", "p", "n")
    assert(Eval.cohensKappa(perfect, col("t"), col("p"), col("n"))
      .collect().head.getAs[Double]("kappa") === 1.0)
    val constant = Seq((0, 0, 4L)).toDF("t", "p", "n")
    val c = Eval.cohensKappa(constant, col("t"), col("p"), col("n"))
      .collect().head
    assert(c.isNullAt(c.fieldIndex("kappa"))) // N^2 == sum r*c
  }

  test("knnMrr is consistent with knnLabelEval on the fixture") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val mrr = BinaryEmbed.knnMrr(emb, col("vec_id"), col("embedding"),
      col("label")).collect().head
    val eval = BinaryEmbed.knnLabelEval(emb, col("vec_id"),
      col("embedding"), col("label")).collect()
    val nProbes = eval.map(_.getAs[Long]("n_probes")).sum
    val nCorrect = eval.map(_.getAs[Long]("n_correct")).sum
    assert(mrr.getAs[Long]("n_queries") === nProbes)
    // a majority-correct probe necessarily has a correct neighbor in
    // its top-k, so hits bound correct-majority from above
    assert(mrr.getAs[Long]("n_hit") >= nCorrect)
    assert(mrr.getAs[Long]("mrr_den") ===
      mrr.getAs[Long]("n_queries") * 1000000000L)
    val v = mrr.getAs[Double]("mrr")
    assert(v > 0.0 && v <= 1.0)
  }

  test("knnNdcg is consistent with knnMrr on the fixture; discounts " +
    "are the frozen exact-rational constants") {
    // operator-constant sanity: D_3 = 10^9/log2(4) = 5*10^8 exactly,
    // D_7 = 10^9/3 rounded
    assert(BinaryEmbed.NdcgDisc1e9(0) === 1000000000L)
    assert(BinaryEmbed.NdcgDisc1e9(2) === 500000000L)
    assert(BinaryEmbed.NdcgDisc1e9(6) === 333333333L)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ndcg = BinaryEmbed.knnNdcg(emb, col("vec_id"), col("embedding"),
      col("label")).collect().head
    val mrr = BinaryEmbed.knnMrr(emb, col("vec_id"), col("embedding"),
      col("label")).collect().head
    // both count "probes with >=1 same-label neighbor in top-k"
    assert(ndcg.getAs[Long]("n_queries") === mrr.getAs[Long]("n_queries"))
    assert(ndcg.getAs[Long]("n_hit_queries") === mrr.getAs[Long]("n_hit"))
    val v = ndcg.getAs[Double]("ndcg")
    assert(v > 0.0 && v <= 1.0)
    // nDCG >= fraction of hit queries * minimal single-hit ratio: a
    // probe with h hits has DCG >= the WORST placement (last h ranks),
    // so per-probe ndcg > 0 whenever h > 0 — num strictly positive
    assert(ndcg.getAs[Long]("ndcg_num") > 0L)
  }

  test("knnConfusion diagonal reproduces knnLabelEval's n_correct") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val eval = BinaryEmbed.knnLabelEval(emb, col("vec_id"),
        col("embedding"), col("label"))
      .collect().map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_probes"), r.getAs[Long]("n_correct"))).toMap
    val conf = BinaryEmbed.knnConfusion(emb, col("vec_id"),
        col("embedding"), col("label")).collect()
    val diag = conf.filter(r =>
        r.getAs[Int]("label_true") === r.getAs[Int]("label_pred"))
      .map(r => r.getAs[Int]("label_true") -> r.getAs[Long]("n")).toMap
    val rowTotals = conf.groupBy(_.getAs[Int]("label_true"))
      .map { case (l, rs) => l -> rs.map(_.getAs[Long]("n")).sum }
    eval.foreach { case (l, (nProbes, nCorrect)) =>
      assert(rowTotals(l) === nProbes)
      assert(diag.getOrElse(l, 0L) === nCorrect)
    }
  }

  test("contrastiveTriplets: positive is a near-dup, negative differs in label") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val trips = BinaryEmbed.contrastiveTriplets(emb, col("vec_id"),
      col("embedding"), col("label"), tPct = 30)
    val pairs = BinaryEmbed.intCosineNearDupPairs(emb, col("vec_id"),
        col("embedding"), tPct = 30)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap(p => Seq(p, p.swap)).toSet
    val labels = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val rows = trips.collect()
    assert(rows.nonEmpty, "fixture should yield at least one triplet")
    rows.foreach { r =>
      val a = r.getAs[Long]("anchor_id")
      assert(pairs.contains((a, r.getAs[Long]("pos_id"))))
      assert(labels(r.getAs[Long]("neg_id")) !== labels(a))
      assert(r.getAs[Int]("neg_label") === labels(r.getAs[Long]("neg_id")))
    }
    // one triplet per anchor
    assert(rows.map(_.getAs[Long]("anchor_id")).distinct.length
      === rows.length)
  }

  test("contrastiveTriplets picks the best positive (max cosine)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val trips = BinaryEmbed.contrastiveTriplets(emb, col("vec_id"),
        col("embedding"), col("label"), tPct = 30)
      .select("anchor_id", "pos_cosine").as[(Long, Double)]
      .collect().toMap
    val best = BinaryEmbed.intCosineNearDupPairs(emb, col("vec_id"),
        col("embedding"), tPct = 30)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, c) => Seq(a -> c, b -> c) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    trips.foreach { case (a, c) => assert(c === best(a)) }
  }
}
