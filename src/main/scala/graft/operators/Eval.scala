package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-evaluation metrics over classifier scores — the audit pass a
  * corpus pipeline runs after training (or importing) a quality /
  * language / topic gate before trusting it on 100 TB of data: ROC
  * AUC, calibration (reliability) bins, and a two-sample
  * Kolmogorov-Smirnov drift statistic.
  *
  * Everything here is EXACT integer arithmetic over integer scores
  * (the hashed-classifier scores, quantized logits, fixed-point
  * prices): the metric numerators and denominators are BIGINTs and
  * the only doubles are single trailing divisions of exactly-known
  * integers — IEEE-correctly-rounded in any engine, so every metric
  * hash-gates against the DuckDB oracle.
  *
  * Input contract: `score`/`value` must ALREADY be integral — the
  * long cast here is a widening, never a quantization. A fractional
  * score would TRUNCATE toward zero in Spark but ROUND half-even in
  * DuckDB (2.7 → 2 vs 3), silently shifting every rank; quantize
  * fractional scores explicitly (e.g. `round(score * 100)`) before
  * calling, as q_ks_test does with prices.
  *
  * Scale shape: each metric is one map-side-combinable group-by on
  * the score value followed by either plain aggregates or the
  * two-phase distributed prefix scan ([[Packing.withGlobalCumsum]] —
  * range partition, per-partition sums collected as ~|partitions|
  * offsets, one narrow pass), which sums several counts side by side
  * and hands back each one's grand total, so no scan-based metric
  * joins a totals relation back. No metric ever sorts, windows, or
  * collects the raw observation relation: after the first aggregate
  * the working set is |distinct scores| rows, and no single-task
  * window runs anywhere.
  */
object Eval {

  /** Tie-aware ROC AUC of `score` (integral) predicting boolean
    * `label`, as one row:
    * (n_pos, n_neg, auc_num, auc_den, auc) with
    * auc = auc_num / auc_den, auc_num = 2·U = Σₛ pos(s)·(2·negBelow(s)
    * + neg(s)), auc_den = 2·n_pos·n_neg — the Mann-Whitney U
    * formulation with ties counted half, kept in exact BIGINTs (the
    * standard "sort by score and sum ranks" formulation needs a global
    * rank; this one needs only the exclusive prefix sum of negative
    * counts over the distinct-score relation, which
    * [[Packing.withGlobalCumsum]] computes without a single-task
    * window).
    *
    * auc is NULL when either class is empty (0/0 is
    * engine-dialect-dependent; NULL is not). Overflow contract:
    * auc_num ≤ 2·n_pos·n_neg, so the exact-integer surface needs
    * n_pos·n_neg < 2⁶² (~3·10⁹ rows per class); the double `auc` is
    * the value that matters at corpus scale and survives beyond that
    * because long→double conversion and division round identically
    * (to-nearest-even) everywhere.
    *
    * NULL scores are dropped before ranking (a NULL score has no rank
    * position; keeping them would also make the prefix scan depend on
    * the engine's NULLS FIRST/LAST default — Spark and DuckDB
    * disagree, which would silently break the hash gate on NULL-bearing
    * inputs).
    */
  def rocAuc(df: DataFrame, score: Column, label: Column): DataFrame = {
    val obs = df.select(score.cast("long").as("_s"),
      when(label, 1L).otherwise(0L).as("_y"))
      .filter(col("_s").isNotNull)
    val byScore = obs.groupBy("_s")
      .agg(sum(col("_y")).as("_pos"),
        (count(lit(1)) - sum(col("_y"))).as("_neg"))
    val cum = Packing.withGlobalCumsum(byScore, col("_s"), col("_neg"),
      "_neg_below")
    cum.agg(sum(col("_pos")).as("n_pos"), sum(col("_neg")).as("n_neg"),
        sum(col("_pos") * (col("_neg_below") * 2 + col("_neg")))
          .as("auc_num"))
      .select(col("n_pos"), col("n_neg"), col("auc_num"),
        (col("n_pos") * col("n_neg") * 2).as("auc_den"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null))
          .otherwise(col("auc_num").cast("double") /
            (col("n_pos") * col("n_neg") * 2).cast("double"))
          .cast("double").as("auc"))
  }

  /** Calibration (reliability) table: `bins` equal-width score bins
    * between the global min and max score, one row per non-empty bin:
    * (bin, score_lo, score_hi, n, n_pos, pos_rate). A well-calibrated
    * scorer shows pos_rate rising monotonically with bin — the
    * standard reliability diagram, as a relation.
    *
    * bin = (score − min)·bins DIV (max − min + 1): exact integer
    * floor-division on non-negative operands, identical in any
    * dialect (`/` would be double division). The min/max pair is a
    * 1-row broadcast; everything else is one map-side-combinable
    * aggregate. pos_rate is the single trailing division.
    *
    * Overflow contract (sibling to rocAuc/ksTest's): the bin index
    * computes (score − min)·bins, so the exact surface needs
    * (max − min)·bins < 2⁶³ — i.e. the score RANGE below ~2⁶³/bins
    * (~9·10¹⁷ at the default 10 bins). Row count is unbounded. NULL
    * scores are dropped (no bin position), matching rocAuc.
    */
  def calibrationBins(df: DataFrame, score: Column, label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    // persistRows: obs feeds BOTH the min/max scalar and the binned
    // rows — without the boundary each consumer re-derives the whole
    // upstream (round-17: the fused classifier scorer removed the
    // aggregation exchange whose ReusedExchange used to dedup the two
    // subtrees, so q_calibration silently re-ran the corpus scan +
    // kernel twice; one materialized narrow (_s, _y) relation is the
    // same two-phase shape the quantile sibling already uses)
    val obs = org.apache.spark.sql.graft.Bridge.persistRows(
      df.select(score.cast("long").as("_s"),
        when(label, 1L).otherwise(0L).as("_y"))
        .filter(col("_s").isNotNull))
    val mm = obs.agg(min(col("_s")).as("_mn"), max(col("_s")).as("_mx"))
    obs.crossJoin(broadcast(mm))
      .withColumn("bin", expr(s"(_s - _mn) * $bins DIV (_mx - _mn + 1)"))
      .groupBy("bin")
      .agg(min(col("_s")).as("score_lo"), max(col("_s")).as("score_hi"),
        count(lit(1)).as("n"), sum(col("_y")).as("n_pos"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic between the `isA` and
    * ¬`isA` populations of integral `value`, as one row:
    * (n_a, n_b, ks_num, ks_den, ks) with
    * ks = max over distinct values v of |F_A(v) − F_B(v)|, kept exact
    * by cross-multiplication: ks_num = max |cumA(v)·n_b − cumB(v)·n_a|,
    * ks_den = n_a·n_b — the distribution-drift test a pipeline runs
    * between train/val splits, between snapshots, or between a source
    * and the blend (PSI's nonparametric, binning-free sibling).
    *
    * Both running CDFs and both population sizes come from ONE
    * two-phase prefix scan that sums the per-value counts side by side
    * (their grand totals are n_a and n_b). Exact-integer surface needs
    * n_a·n_b < 2⁶² (cross-multiplied terms); the double `ks` is the
    * scale-path value. Empty input returns zero rows.
    */
  def ksTest(df: DataFrame, value: Column, isA: Column): DataFrame = {
    val obs = df.select(value.cast("long").as("_v"),
      when(isA, 1L).otherwise(0L).as("_a"))
      .filter(col("_v").isNotNull) // NULL values have no CDF position
    val byV = obs.groupBy("_v")
      .agg(sum(col("_a")).as("_ca"),
        (count(lit(1)) - sum(col("_a"))).as("_cb"))
    val cum = Packing.withGlobalCumsum(byV, col("_v"),
      Seq(col("_ca") -> "_ca_below", col("_cb") -> "_cb_below"))
    val (nA, nB) = (col("_ca_below_total"), col("_cb_below_total"))
    cum.select(nA.as("n_a"), nB.as("n_b"),
        abs((col("_ca_below") + col("_ca")) * nB -
          (col("_cb_below") + col("_cb")) * nA).as("_d"))
      .groupBy("n_a", "n_b")
      .agg(max(col("_d")).as("ks_num"))
      .select(col("n_a"), col("n_b"), col("ks_num"),
        (col("n_a") * col("n_b")).as("ks_den"),
        when(col("n_a") === 0L || col("n_b") === 0L, lit(null))
          .otherwise(col("ks_num").cast("double") /
            (col("n_a") * col("n_b")).cast("double"))
          .cast("double").as("ks"))
  }

  /** The (score, pos, neg) per-distinct-score relation with the
    * inclusive counts of both classes at or above each threshold
    * (tp, fp) and the class totals (n_pos, n_neg), from ONE two-phase
    * prefix scan that sums both counts side by side; the descending
    * score direction is realized by scanning NEGATED scores ascending.
    */
  private[graft] def thresholdCounts(df: DataFrame, score: Column,
      label: Column): DataFrame = {
    val obs = df.select(score.cast("long").as("_s"),
      when(label, 1L).otherwise(0L).as("_y"))
      .filter(col("_s").isNotNull)
    val byScore = obs.groupBy("_s")
      .agg(sum(col("_y")).as("_pos"),
        (count(lit(1)) - sum(col("_y"))).as("_neg"))
    Packing.withGlobalCumsum(byScore, (-col("_s")).as("_ns"),
        Seq(col("_pos") -> "_tp_before", col("_neg") -> "_fp_before"))
      .withColumn("tp", col("_tp_before") + col("_pos"))
      .withColumn("fp", col("_fp_before") + col("_neg"))
      .withColumnRenamed("_tp_before_total", "n_pos")
      .withColumnRenamed("_fp_before_total", "n_neg")
  }

  /** Precision-recall curve: one row per distinct score threshold t
    * (descending semantics: predict positive iff score ≥ t):
    * (threshold, tp, fp, fn, precision, recall) — every count an
    * exact BIGINT from one two-phase prefix scan over the
    * distinct-score relation, precision/recall single trailing
    * divisions. This is the exact, hash-gateable PR surface; the
    * scalar summary is [[averagePrecision]].
    */
  def prCurve(df: DataFrame, score: Column, label: Column): DataFrame =
    thresholdCounts(df, score, label)
      .select(col("_s").as("threshold"), col("tp"), col("fp"),
        (col("n_pos") - col("tp")).as("fn"),
        (col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double")).as("precision"),
        when(col("n_pos") === 0L, lit(null)).otherwise(
          col("tp").cast("double") / col("n_pos").cast("double"))
          .cast("double").as("recall"))

  /** Average precision (the PR-AUC companion to [[rocAuc]] for
    * imbalanced gates): AP = Σₜ (ΔRecall·Precision) over descending
    * thresholds = (1/n_pos)·Σₜ pos(t)·tp(t)/(tp(t)+fp(t)).
    *
    * The per-threshold terms are rationals with DIFFERENT
    * denominators, so — unlike rocAuc — no common-denominator BIGINT
    * exists. Summing doubles is order-dependent (not hash-gateable
    * across engines), so each term is quantized to fixed point with
    * half-up integer rounding BEFORE the sum:
    * term = (2·pos·tp·SCALE + den) DIV (2·den), den = tp+fp —
    * all-integer, order-free, identical in any dialect. Result row:
    * (n_pos, ap_num, ap_den, ap) with ap = ap_num/ap_den,
    * ap_den = n_pos·SCALE; quantization error < |distinct scores|
    * /(SCALE·n_pos), i.e. ~10⁻⁹ relative at SCALE=10⁹ — far below
    * any decision threshold an eval gate uses.
    *
    * Overflow contract: 2·pos(t)·tp(t)·SCALE < 2⁶³ per term needs
    * pos(t)·tp(t) < 4.6·10⁹ at the default SCALE=10⁹ (lower SCALE to
    * trade precision for headroom).
    *
    * Empty input returns ZERO rows (not one all-NULL row): the DuckDB
    * oracle's grouped aggregate yields no groups over an empty CTE,
    * and the row-count gate must agree on the degenerate case too.
    */
  def averagePrecision(df: DataFrame, score: Column, label: Column,
      scale: Long = 1000000000L): DataFrame = {
    require(scale >= 1L, "scale must be >= 1")
    val cum = thresholdCounts(df, score, label)
    cum.withColumn("_den", col("tp") + col("fp"))
      .withColumn("_term", expr(
        s"(2 * _pos * tp * ${scale}L + _den) DIV (2 * _den)"))
      .agg(sum(col("_pos")).as("n_pos"), sum(col("_term")).as("ap_num"))
      .select(col("n_pos"), col("ap_num"),
        (col("n_pos") * lit(scale)).as("ap_den"),
        when(coalesce(col("n_pos"), lit(0L)) === 0L, lit(null))
          .otherwise(col("ap_num").cast("double") /
            (col("n_pos") * lit(scale)).cast("double"))
          .cast("double").as("ap"))
      // empty input: the global agg materializes one NULL-n_pos row
      // that the oracle's grouped shape doesn't — drop it
      .filter(col("n_pos").isNotNull)
  }

  /** Per-group tie-aware ROC AUC — [[rocAuc]] segmented by `group`
    * (source, language, snapshot, demographic slice): the fairness /
    * per-segment audit that catches a gate scoring one slice well and
    * another at coin-flip. One row per group, same exact-BIGINT
    * columns as rocAuc prefixed by the group key.
    *
    * Shape difference from the global metric: the prefix scan here is
    * an ORDINARY window partitioned by the group key (groups are the
    * parallelism — no global prefix scan needed), over the per-(group,
    * score) aggregated relation; the final group-by reuses the same
    * hash partitioning, so the whole metric is ONE exchange on the
    * group key. The one-monster-group limit is the EMA/CUSUM
    * straggler story (SCALE.md): a group's distinct-score relation
    * serializes through that group's task — for a single giant group
    * use the global [[rocAuc]] per group instead.
    */
  def rocAucByGroup(df: DataFrame, group: Column, score: Column,
      label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = df.select(group.as("grp"), score.cast("long").as("_s"),
      when(label, 1L).otherwise(0L).as("_y"))
      .filter(col("_s").isNotNull)
    val byScore = obs.groupBy(col("grp"), col("_s"))
      .agg(sum(col("_y")).as("_pos"),
        (count(lit(1)) - sum(col("_y"))).as("_neg"))
    val w = Window.partitionBy(col("grp")).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("_neg_below", coalesce(sum(col("_neg")).over(w), lit(0L)))
      .groupBy(col("grp"))
      .agg(sum(col("_pos")).as("n_pos"), sum(col("_neg")).as("n_neg"),
        sum(col("_pos") * (col("_neg_below") * 2 + col("_neg")))
          .as("auc_num"))
      .select(col("grp"), col("n_pos"), col("n_neg"), col("auc_num"),
        (col("n_pos") * col("n_neg") * 2).as("auc_den"),
        when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null))
          .otherwise(col("auc_num").cast("double") /
            (col("n_pos") * col("n_neg") * 2).cast("double"))
          .cast("double").as("auc"))
  }

  /** Poisson(1) CDF thresholds scaled to 10⁹ (round(10⁹·e⁻¹·Σ1/j!),
    * exact-rational rounding) — the operator-defining constants of
    * [[poissonBootstrap]]; a weight of k means the uniform draw fell
    * below the k-th threshold only.
    */
  val PoissonCdf1e9: Seq[Long] = Seq(367879441L, 735758882L, 919698603L,
    981011843L, 996340153L, 999405815L, 999916759L, 999989751L,
    999998875L, 999999889L, 999999990L, 999999999L)

  /** One-pass Poisson bootstrap of a mean (Chamandy, Muralidharan,
    * Najmi & Naidu, "Estimating Uncertainty for Massive Data Streams",
    * Google TR 2012): per replicate r, every row gets an independent
    * Poisson(1) pseudo-count derived DETERMINISTICALLY from
    * (hash(id), r) — the resample-without-resampling trick that puts
    * error bars on corpus statistics in one scan, because
    * Binomial(N, 1/N) → Poisson(1) as N → ∞ and a Poisson draw needs
    * no knowledge of N or of the other rows.
    *
    * Output: one row per replicate, (rep, w_total, v_total, mean)
    * with mean = v_total/w_total — both totals exact BIGINTs (the
    * uniform draw is the [[Sampling.hashBucket]] multiplicative chain
    * on key·1009 + rep, the Poisson inverse-CDF a fixed threshold
    * comparison against [[PoissonCdf1e9]]), so every replicate
    * hash-gates. The replicate-mean spread IS the uncertainty: the
    * caller reads a CI off the R sorted means (R rows of metadata).
    *
    * Scale shape: the `reps`-way explode is absorbed by map-side
    * combine before the only shuffle (≤ reps·|partitions| partial
    * rows move; the shuffled relation is `reps` rows). Weights are
    * bounded by 12 (P[w > 12] < 10⁻⁹ per draw), so
    * v_total ≤ 12·Σ|v| — overflow surface Σ|v| < 2⁵⁹.
    */
  def poissonBootstrap(df: DataFrame, id: Column, value: Column,
      reps: Int = 32): DataFrame = {
    require(reps >= 1, "reps must be >= 1")
    val Mod = 1000000007L
    val obs = df.select(id.cast("long").as("_id"),
      value.cast("long").as("_v"))
      .filter(col("_v").isNotNull)
      .select(col("_id"), col("_v"),
        explode(sequence(lit(1), lit(reps))).as("rep"))
    val u = Sampling.hashBucket(
      pmod(col("_id"), lit(Mod)) * lit(1009L) + col("rep"), 1000000000)
    val w = PoissonCdf1e9.map(t => when(u >= lit(t), 1L).otherwise(0L))
      .reduce(_ + _)
    obs.withColumn("_w", w)
      .groupBy(col("rep").cast("long").as("rep"))
      .agg(sum(col("_w")).as("w_total"),
        sum(col("_w") * col("_v")).as("v_total"))
      .select(col("rep"), col("w_total"), col("v_total"),
        when(coalesce(col("w_total"), lit(0L)) === 0L, lit(null))
          .otherwise(col("v_total").cast("double") /
            col("w_total").cast("double"))
          .cast("double").as("mean"))
  }

  /** Pearson chi-square homogeneity test between the `isA` and ¬`isA`
    * populations over discrete `bucket` values — the CATEGORICAL
    * drift companion to [[ksTest]] (KS needs an ordered value; this
    * handles language codes, sources, topic ids, or pre-binned
    * numerics), as one row: (n_a, n_b, n_buckets, dof, chi2_num,
    * chi2) with dof = n_buckets − 1.
    *
    * Algebra: for the 2×K table the textbook Σ(O−E)²/E collapses to
    * chi2 = (1/(n_a·n_b)) · Σ_k D_k²/c_k with
    * D_k = a_k·n_b − b_k·n_a (exact BIGINT) and c_k = a_k + b_k —
    * no expected-count fractions ever materialize. The per-bucket
    * terms D_k²/c_k have unequal denominators (the [[averagePrecision]]
    * situation), so each is floored to an integer BEFORE the sum:
    * t_k = floor(double(D_k)²/double(c_k)) — floor of
    * correctly-rounded double ops is bit-identical in any engine, the
    * sum of longs is order-free, and the quantization error is < 1
    * per bucket (≤ K/(n_a·n_b) on chi2 — noise at any scale).
    * chi2 = chi2_num/(n_a·n_b) is the single trailing division.
    *
    * Overflow contract: t_k < 2⁶³ needs D_k²/c_k < 9.2·10¹⁸ —
    * satisfied whenever both sides have < 2³¹ rows, since
    * D_k²/c_k ≤ c_k·max(n_a,n_b)²... bounded by
    * N·max(n)²; for larger corpora pre-scale the counts (chi2 is
    * scale-degree-2 homogeneous, the p-value contract moves with it).
    * NULL buckets are dropped, matching the siblings.
    */
  def chiSquareDrift(df: DataFrame, bucket: Column,
      isA: Column): DataFrame = {
    val obs = df.select(bucket.cast("long").as("_k"),
      when(isA, 1L).otherwise(0L).as("_a"))
      .filter(col("_k").isNotNull)
    val byK = obs.groupBy("_k")
      .agg(sum(col("_a")).as("_ca"),
        (count(lit(1)) - sum(col("_a"))).as("_cb"))
    val tot = byK.agg(sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"))
    byK.crossJoin(broadcast(tot))
      .withColumn("_d", col("_ca") * col("n_b") - col("_cb") * col("n_a"))
      .withColumn("_t",
        floor(col("_d").cast("double") * col("_d").cast("double") /
          (col("_ca") + col("_cb")).cast("double")).cast("long"))
      .groupBy("n_a", "n_b")
      .agg(count(lit(1)).as("n_buckets"), sum(col("_t")).as("chi2_num"))
      .select(col("n_a"), col("n_b"), col("n_buckets"),
        (col("n_buckets") - 1L).as("dof"), col("chi2_num"),
        when(col("n_a") === 0L || col("n_b") === 0L, lit(null))
          .otherwise(col("chi2_num").cast("double") /
            (col("n_a") * col("n_b")).cast("double"))
          .cast("double").as("chi2"))
  }

  /** Gate-threshold survival curve: for every distinct score value t
    * (as a candidate gate "keep rows with score ≥ t"), the surviving
    * row count and surviving `weight` mass (token count, byte size,
    * cost) plus their fractions — the curve a corpus curator actually
    * consults when choosing where to set a quality gate: "threshold x
    * keeps 40% of documents but 55% of tokens". One row per distinct
    * score: (threshold, n_kept, weight_kept, frac_rows, frac_weight).
    *
    * Exactness/shape: one combinable group-by on the score, then ONE
    * two-phase prefix scan over the |distinct scores| relation that
    * sums row counts and weights side by side and yields both grand
    * totals; fractions are the trailing divisions. The scan runs
    * ascending on the score itself: what a threshold keeps is the total
    * minus the strictly-below prefix, so the result arrives in
    * threshold order and an `orderBy("threshold")` plans no exchange
    * and no sort.
    */
  def survivalByThreshold(df: DataFrame, score: Column,
      weight: Column): DataFrame = {
    val obs = df.select(score.cast("long").as("_s"),
      weight.cast("long").as("_w"))
      .filter(col("_s").isNotNull && col("_w").isNotNull)
    val by = obs.groupBy("_s")
      .agg(count(lit(1)).as("_cnt"), sum(col("_w")).as("_ws"))
    val c = Packing.withGlobalCumsum(by, col("_s"),
      Seq(col("_cnt") -> "_cnt_below", col("_ws") -> "_ws_below"))
    val (n, wt) = (col("_cnt_below_total"), col("_ws_below_total"))
    val (kept, wKept) = (n - col("_cnt_below"), wt - col("_ws_below"))
    c.select(col("_s").as("threshold"), kept.as("n_kept"),
        wKept.as("weight_kept"),
        when(coalesce(n, lit(0L)) === 0L, lit(null))
          .otherwise(kept.cast("double") / n.cast("double"))
          .cast("double").as("frac_rows"),
        when(coalesce(wt, lit(0L)) === 0L, lit(null))
          .otherwise(wKept.cast("double") / wt.cast("double"))
          .cast("double").as("frac_weight"))
  }

  /** Split conformal calibration (Vovk et al.; Papadopoulos et al.
    * 2002 inductive form): a deterministic content-addressed half of
    * the data calibrates a nonconformity threshold, the other half
    * audits coverage — the distribution-free way to turn ANY score
    * into a prediction rule with a finite-sample guarantee
    * (coverage ≥ 1 − α in expectation). One row:
    * (n_cal, k, threshold, n_test, n_covered, coverage).
    *
    * Exact arithmetic end to end: the conformal rank
    * k = ⌈(n_cal+1)·(1−α)⌉ is integer ceiling-division with α given
    * as the rational alphaNum/alphaDen; the k-th smallest calibration
    * score is an order statistic read off the distinct-score prefix
    * scan (min value whose inclusive cumulative count ≥ k — no sort,
    * no single-task window, the [[rocAuc]] machinery); coverage is
    * the single trailing division. threshold is NULL when
    * k > n_cal (calibration set too small for the requested α —
    * the honest answer, not +∞).
    *
    * Scale shape: one combinable group-by on the score value per
    * split, one two-phase prefix scan over |distinct cal scores|
    * rows, 1-row broadcasts for k and the threshold.
    */
  def conformalCalibrate(df: DataFrame, id: Column, score: Column,
      alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    require(alphaDen >= 1 && alphaNum >= 0 && alphaNum < alphaDen,
      "need 0 <= alphaNum/alphaDen < 1")
    val obs = df.select(id.cast("long").as("_id"),
      score.cast("long").as("_s"))
      .filter(col("_s").isNotNull)
      .withColumn("_cal", Sampling.hashBucket(col("_id"), 2) === 0)
    val cal = obs.filter(col("_cal"))
    val byV = cal.groupBy("_s").agg(count(lit(1)).as("_cnt"))
    val cum = Packing.withGlobalCumsum(byV, col("_s"), col("_cnt"),
        "_below")
      .withColumn("_cum", col("_below") + col("_cnt"))
    // n_cal from the PERSISTED cumsum relation (one calibration scan);
    // coalesce keeps the empty-input row at 0, matching count()
    val nk = cum.agg(coalesce(sum(col("_cnt")), lit(0L)).as("n_cal"))
      .withColumn("k", expr(
        s"((n_cal + 1) * ${alphaDen - alphaNum} + ${alphaDen - 1}) " +
          s"DIV $alphaDen"))
    val thr = cum.crossJoin(broadcast(nk))
      .filter(col("_cum") >= col("k"))
      .agg(min(col("_s")).as("threshold"))
    val cov = obs.filter(!col("_cal"))
      .crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("_s") <= col("threshold"), 1L).otherwise(0L))
          .as("n_covered"))
    nk.crossJoin(broadcast(thr)).crossJoin(broadcast(cov))
      .select(col("n_cal"), col("k"), col("threshold"), col("n_test"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(col("threshold").isNull ||
            coalesce(col("n_test"), lit(0L)) === 0L, lit(null))
          .otherwise(coalesce(col("n_covered"), lit(0L)).cast("double") /
            col("n_test").cast("double"))
          .cast("double").as("coverage"))
  }

  /** Per-label precision/recall/F1 from ANY confusion-matrix relation
    * `conf` = (trueCol, predCol, nCol): one row per label value
    * appearing as truth or prediction — (label, tp, fp, fn,
    * precision, recall, f1). All counts exact BIGINTs from the
    * matrix's row/column marginals; precision = tp/(tp+fp),
    * recall = tp/(tp+fn), f1 = 2·tp/(2·tp+fp+fn) are each ONE
    * trailing division of exact integers (the f1 simplification
    * avoids the float harmonic mean), so the doubles hash-gate.
    * Degenerate marginals (label never predicted / never true) yield
    * NULL for the undefined ratio, 0-ward nothing.
    *
    * Scale: the confusion relation is ≤ |labels|² rows of metadata —
    * every join here is bounded by label cardinality, not data.
    */
  def confusionF1(conf: DataFrame, trueCol: Column, predCol: Column,
      nCol: Column): DataFrame = {
    val c = conf.select(trueCol.as("_t"), predCol.as("_p"),
      nCol.cast("long").as("_n"))
    val rowTot = c.groupBy(col("_t").as("label"))
      .agg(sum(col("_n")).as("_row"))
    val colTot = c.groupBy(col("_p").as("label"))
      .agg(sum(col("_n")).as("_col"))
    val diag = c.filter(col("_t") === col("_p"))
      .select(col("_t").as("label"), col("_n").as("_tp"))
    rowTot.join(colTot, Seq("label"), "full_outer")
      .join(diag, Seq("label"), "left_outer")
      .select(col("label"),
        coalesce(col("_tp"), lit(0L)).as("tp"),
        (coalesce(col("_col"), lit(0L)) - coalesce(col("_tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("_row"), lit(0L)) - coalesce(col("_tp"), lit(0L)))
          .as("fn"))
      .select(col("label"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0L, lit(null))
          .otherwise(col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double"))
          .cast("double").as("precision"),
        when(col("tp") + col("fn") === 0L, lit(null))
          .otherwise(col("tp").cast("double") /
            (col("tp") + col("fn")).cast("double"))
          .cast("double").as("recall"),
        when(col("tp") * 2 + col("fp") + col("fn") === 0L, lit(null))
          .otherwise((col("tp") * 2).cast("double") /
            (col("tp") * 2 + col("fp") + col("fn")).cast("double"))
          .cast("double").as("f1"))
  }

  /** Cohen's kappa (Cohen 1960) from ANY confusion-matrix relation —
    * chance-corrected agreement between truth and prediction, as one
    * row: (n, agree, kappa_num, kappa_den, kappa) with
    * kappa = (N·Σdiag − Σᵢ rᵢ·cᵢ) / (N² − Σᵢ rᵢ·cᵢ) — the textbook
    * (p_o − p_e)/(1 − p_e) cleared of fractions, every term an exact
    * BIGINT (overflow surface N² < 2⁶³: ~3·10⁹ observations — and
    * the confusion matrix is pre-aggregated metadata, so compute
    * stays |labels|-sized regardless of N). kappa is NULL when the
    * denominator is 0 (both raters constant).
    */
  def cohensKappa(conf: DataFrame, trueCol: Column, predCol: Column,
      nCol: Column): DataFrame = {
    val c = conf.select(trueCol.as("_t"), predCol.as("_p"),
      nCol.cast("long").as("_n"))
    val rowTot = c.groupBy(col("_t").as("_l")).agg(sum(col("_n")).as("_r"))
    val colTot = c.groupBy(col("_p").as("_l")).agg(sum(col("_n")).as("_c"))
    val margins = rowTot.join(colTot, Seq("_l"), "full_outer")
      .agg(sum(coalesce(col("_r"), lit(0L)) * coalesce(col("_c"), lit(0L)))
        .as("_rc"))
    val totals = c.agg(sum(col("_n")).as("n"),
      sum(when(col("_t") === col("_p"), col("_n")).otherwise(0L))
        .as("agree"))
    totals.crossJoin(broadcast(margins))
      .select(col("n"), col("agree"),
        (col("n") * col("agree") - col("_rc")).as("kappa_num"),
        (col("n") * col("n") - col("_rc")).as("kappa_den"),
        when(col("n") * col("n") - col("_rc") === 0L, lit(null))
          .otherwise((col("n") * col("agree") - col("_rc")).cast("double") /
            (col("n") * col("n") - col("_rc")).cast("double"))
          .cast("double").as("kappa"))
  }

  /** Precision/recall at the top-k rows ranked by (score DESC,
    * `id` ASC — the explicit deterministic tie-break): one row per
    * requested k: (k, tp, precision, recall). The global rank is the
    * two-phase prefix scan over the PER-ROW relation (ids are unique,
    * so |working set| = |rows| here, still fully distributed — no
    * single-task sort); the running label hits, the running row count
    * and the positive total come from that one scan. Exact BIGINTs +
    * trailing divisions.
    */
  def precisionAtK(df: DataFrame, score: Column, id: Column,
      label: Column, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "need ks >= 1")
    val obs = df.select(score.cast("long").as("_s"), id.as("_id"),
      when(label, 1L).otherwise(0L).as("_y"))
      .filter(col("_s").isNotNull)
    // rank in (score desc, id asc) order: scan ascending on the
    // composite (−score, id) key
    val cum = Packing.withGlobalCumsum(obs,
        struct((-col("_s")).as("_ns"), col("_id")),
        Seq(col("_y") -> "_tp_before", lit(1L) -> "_rank_before"))
      .withColumn("_rank", col("_rank_before") + 1L)
      .withColumn("_tp_at", col("_tp_before") + col("_y"))
    val kdf = cum.sparkSession.createDataFrame(
      ks.distinct.sorted.map(k => Tuple1(k.toLong)))
      .toDF("k")
    // tp@k = running positive count at the k-th ranked row (or at the
    // last row when k > n): max _tp_at over rank ≤ k
    cum.join(broadcast(kdf), col("_rank") <= col("k"))
      .groupBy(col("k"), col("_tp_before_total").as("n_pos"))
      .agg(max(col("_tp_at")).as("tp"))
      .select(col("k"), col("tp"),
        (col("tp").cast("double") / col("k").cast("double"))
          .as("precision"),
        when(coalesce(col("n_pos"), lit(0L)) === 0L, lit(null))
          .otherwise(col("tp").cast("double") /
            col("n_pos").cast("double"))
          .cast("double").as("recall"))
  }

  /** Equal-MASS calibration (reliability) bins — the quantile-binned
    * companion to the equal-WIDTH [[calibrationBins]]: `bins` bins
    * each holding ~1/bins of the observations (the standard
    * reliability-diagram practice for skewed score distributions,
    * where equal-width binning dumps 99% of rows into one bin). One
    * row per non-empty bin: (bin, score_lo, score_hi, n, n_pos,
    * pos_rate).
    *
    * bin = exclusiveRankBefore(score)·bins DIV n — exact integer
    * floor-division on the EXCLUSIVE cumulative count of the
    * distinct-score relation, so every observation of one score value
    * lands in one bin (a tie block goes wholly to the bin of its
    * first element; bins are equal-mass up to score ties — the only
    * deterministic, engine-identical choice; fractional tie-splitting
    * would need within-score row order, which no engine defines).
    *
    * Shape: one combinable group-by on the score, one two-phase
    * prefix scan over |distinct scores| rows
    * ([[Packing.withGlobalCumsum]], whose grand total is n), one
    * final |bins|-group aggregate. Overflow: rankBefore·bins < 2⁶³
    * needs n·bins < 2⁶³ — unreachable. NULL scores dropped, matching
    * the siblings.
    */
  def calibrationQuantileBins(df: DataFrame, score: Column,
      label: Column, bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val obs = df.select(score.cast("long").as("_s"),
      when(label, 1L).otherwise(0L).as("_y"))
      .filter(col("_s").isNotNull)
    val byScore = obs.groupBy("_s")
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_pos"))
    Packing.withGlobalCumsum(byScore, col("_s"), Seq(col("_n") -> "_below"))
      .withColumn("bin", expr(s"_below * $bins DIV _below_total"))
      .groupBy("bin")
      .agg(min(col("_s")).as("score_lo"), max(col("_s")).as("score_hi"),
        sum(col("_n")).as("n"), sum(col("_pos")).as("n_pos"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
  }

  /** Gini coefficient of a non-negative integral `value` — the
    * corpus-concentration audit ("how unequally is the token mass
    * spread across documents / sources?"; 0 = uniform, →1 = one row
    * holds everything), as one row: (n, total, gini_num, gini_den,
    * gini) with gini = gini_num/gini_den kept exact by the sample
    * formula G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over ascending
    * order statistics x₍ᵢ₎.
    *
    * No sort materializes: for a run of c equal values v whose
    * exclusive prefix count is B, Σ of (2·i) over the run is
    * c·(2B + c + 1), so 2·Σᵢ i·x₍ᵢ₎ = Σᵥ v·c·(2B + c + 1) — one
    * combinable group-by on the value plus one two-phase prefix scan
    * over |distinct values| rows, exactly the [[rocAuc]] machinery.
    * Ties need no tie-break: the formula depends only on (v, c, B).
    *
    * n, total, 2·Σᵢ i·x₍ᵢ₎ and the smallest value are one aggregate
    * over the scanned rows. Negative values would make the formula
    * meaningless (Gini is defined for non-negative quantities), so a
    * raise_error on that smallest value rejects them loudly. gini is NULL
    * when n = 0 or total = 0. Overflow: v·c·(2B+c+1) ≤ 3·vmax·n²
    * per term needs vmax·n² < 3·10¹⁸ — at 10¹² rows keep values
    * pre-scaled. NULL values dropped, matching the siblings.
    */
  def gini(df: DataFrame, value: Column): DataFrame = {
    val obs = df.select(value.cast("long").as("_v"))
      .filter(col("_v").isNotNull)
    val byV = obs.groupBy("_v").agg(count(lit(1)).as("_c"))
    val cum = Packing.withGlobalCumsum(byV, col("_v"), col("_c"),
      "_below")
    cum.agg(sum(col("_c")).as("n"),
        sum(col("_v") * col("_c")).as("total"),
        (sum(col("_v") * col("_c") * (col("_below") * 2 + col("_c") + 1)) +
          when(coalesce(min(col("_v")), lit(0L)) >= 0L, lit(0L))
            .otherwise(raise_error(lit(
              "gini: values must be non-negative")).cast("long")))
          .as("_w"))
      .select(col("n"), col("total"),
        (col("_w") - (col("n") + 1) * col("total")).as("gini_num"),
        (col("n") * col("total")).as("gini_den"),
        when(coalesce(col("n"), lit(0L)) === 0L ||
            coalesce(col("total"), lit(0L)) === 0L, lit(null))
          .otherwise((col("_w") - (col("n") + 1) * col("total"))
            .cast("double") /
            (col("n") * col("total")).cast("double"))
          .cast("double").as("gini"))
      .filter(col("n").isNotNull)
  }

  /** Herfindahl–Hirschman concentration of `weight` mass across
    * `group` values — the mixture-concentration audit next to
    * [[gini]] (gini ranks individual rows; HHI asks "how dominated
    * is the corpus by its biggest SOURCES?"), as one row:
    * (n_groups, total, hhi_num, hhi_den, hhi, eff_groups) with
    * hhi = Σⱼ cⱼ² / (Σⱼ cⱼ)² ∈ (1/n_groups, 1] and
    * eff_groups = 1/hhi — the "effective number of sources" figure a
    * data-mixing plan quotes (10 equal sources → 10; one dominant →
    * ~1). hhi_num/hhi_den are exact BIGINTs; the doubles are single
    * trailing divisions.
    *
    * Shape: ONE map-side-combinable group-by (the per-group mass),
    * then a 1-row aggregate over |groups| rows of metadata — no
    * windows, no broadcasts even. Overflow: Σcⱼ² < 2⁶³ needs every
    * group's mass < 3·10⁹ — pre-scale the weight (count kilotokens,
    * not tokens) past that; HHI is scale-invariant so the ratio
    * contract survives. Negative weights fire a raise_error (shares
    * make no sense with negative mass); NULL groups/weights are
    * dropped, matching the siblings.
    */
  def hhi(df: DataFrame, group: Column, weight: Column): DataFrame = {
    val obs = df.select(group.as("_g"), weight.cast("long").as("_w"))
      .filter(col("_g").isNotNull && col("_w").isNotNull)
    val byG = obs.groupBy("_g").agg(sum(col("_w")).as("_c"))
    byG.agg(count(lit(1)).as("n_groups"), sum(col("_c")).as("total"),
        sum(col("_c") * col("_c")).as("_s2"), min(col("_c")).as("_mn"))
      .select(col("n_groups"), col("total"),
        (col("_s2") + when(coalesce(col("_mn"), lit(0L)) >= 0L, lit(0L))
          .otherwise(raise_error(lit(
            "hhi: group masses must be non-negative")).cast("long")))
          .as("hhi_num"),
        (col("total") * col("total")).as("hhi_den"))
      .select(col("n_groups"), col("total"), col("hhi_num"),
        col("hhi_den"),
        when(coalesce(col("total"), lit(0L)) === 0L, lit(null))
          .otherwise(col("hhi_num").cast("double") /
            col("hhi_den").cast("double"))
          .cast("double").as("hhi"),
        when(coalesce(col("hhi_num"), lit(0L)) === 0L, lit(null))
          .otherwise(col("hhi_den").cast("double") /
            col("hhi_num").cast("double"))
          .cast("double").as("eff_groups"))
      .filter(col("n_groups") > 0L)
  }

  /** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement among a
    * CONSTANT number of raters per item from a raw ratings relation
    * (one row per rating: item, category), the multi-rater
    * generalization of [[cohensKappa]] and the labeling-QC gate a
    * training-data pipeline runs over its annotation pool. One row:
    * (n_items, n_raters, n_categories, kappa_num, kappa_den, kappa).
    *
    * Exact integers throughout, fractions cleared: with T = N·n total
    * ratings, S = Σᵢⱼ nᵢⱼ², C = Σⱼ (Σᵢ nᵢⱼ)²,
    * P̄ = (S−T)/(T·(n−1)) and P̄ₑ = C/T² give
    * kappa_num = (S−T)·T − C·(n−1), kappa_den = (n−1)·(T² − C) — one
    * common factor of T cancelled so the overflow surface is
    * (n−1)·T² < 2⁶³ (T·√(n−1) < 3·10⁹: billions of ratings). kappa
    * is NULL when the denominator is 0 (n = 1, or both marginals
    * degenerate).
    *
    * The classic statistic REQUIRES every item rated by exactly n
    * raters; unequal counts silently bias it, so a raise_error on the
    * (already-needed) totals row rejects ragged panels loudly instead
    * (coalesce-guarded: empty input returns zero rows, the grouped
    * oracle shape).
    *
    * Shape: one combinable (item, category) count, two metadata
    * aggregates over it (per-item N·1 rows, per-category |K| rows),
    * 1-row broadcasts — no windows, no sorts.
    */
  def fleissKappa(df: DataFrame, item: Column,
      category: Column): DataFrame = {
    val obs = df.select(item.as("_i"), category.as("_k"))
      .filter(col("_i").isNotNull && col("_k").isNotNull)
    // the (item, category) counts feed BOTH marginal aggregates —
    // persist so the raw ratings scan happens once
    val byIK = org.apache.spark.sql.graft.Bridge.persistRows(
      obs.groupBy("_i", "_k").agg(count(lit(1)).as("_nij")))
    val byI = byIK.groupBy("_i")
      .agg(sum(col("_nij")).as("_ni"),
        sum(col("_nij") * col("_nij")).as("_si"))
    val items = byI.agg(count(lit(1)).as("n_items"),
        min(col("_ni")).as("_mn"), max(col("_ni")).as("_mx"),
        sum(col("_si")).as("_s"))
      .select(col("n_items"), col("_mn").as("n_raters"), col("_s"),
        when(coalesce(col("_mn"), lit(0L)) ===
            coalesce(col("_mx"), lit(0L)), lit(0L))
          .otherwise(raise_error(lit(
            "fleissKappa: every item must have the same number of " +
              "ratings (classic Fleiss panel)")).cast("long"))
          .as("_guard"))
    val cats = byIK.groupBy("_k").agg(sum(col("_nij")).as("_cj"))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("_cj") * col("_cj")).as("_c2"))
    items.crossJoin(broadcast(cats))
      .withColumn("_t", col("n_items") * col("n_raters") + col("_guard"))
      .select(col("n_items"), col("n_raters"), col("n_categories"),
        ((col("_s") - col("_t")) * col("_t") -
          col("_c2") * (col("n_raters") - 1)).as("kappa_num"),
        ((col("n_raters") - 1) * (col("_t") * col("_t") - col("_c2")))
          .as("kappa_den"),
        when((col("n_raters") - 1) *
            (col("_t") * col("_t") - col("_c2")) === 0L, lit(null))
          .otherwise(((col("_s") - col("_t")) * col("_t") -
            col("_c2") * (col("n_raters") - 1)).cast("double") /
            ((col("n_raters") - 1) *
              (col("_t") * col("_t") - col("_c2"))).cast("double"))
          .cast("double").as("kappa"))
      .filter(col("n_items").isNotNull && col("n_items") > 0L)
  }
}
