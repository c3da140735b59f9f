package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-independent sampling and dataset splitting.
  *
  * `randomSplit`/`sample` are partitioning-dependent: the rows a split
  * keeps change when the input's partition layout changes, so two runs
  * of the same pipeline on the same data can disagree — unacceptable
  * for train/val/test assignment, where a row silently migrating from
  * train to test invalidates the evaluation. The standard fix at scale
  * is CONTENT-addressed assignment: bucket = hash(key) mod B, split by
  * bucket range. Assignment is then a pure narrow projection — no
  * shuffle, no RNG state, reproducible across engines, cluster sizes,
  * and re-runs, and stable under appends (new rows never move old rows
  * between splits).
  *
  * The hash is a two-round multiplicative-congruential mix over a
  * Mersenne-ish prime modulus, chosen so every step stays below 2^63
  * for any key below the modulus (no overflow wraparound — DuckDB
  * BIGINT errors on overflow, so wraparound arithmetic would not be
  * oracle-expressible): k·2654435761 < 2^63 for k < 2^31.5·…, and the
  * reduced value < 1e9+7 keeps the second round small. Keys are first
  * reduced mod the modulus. NON-NEGATIVE keys are the oracle-parity
  * contract: the reduction here is pmod (always >= 0) while SQL `%` is
  * sign-preserving, so a negative key still gets a valid bucket but one
  * a plain-`%` oracle would not reproduce. Ids in this data model are
  * non-negative surrogates, so the contract costs nothing.
  */
object Sampling {

  val Mod = 1000000007L // prime
  private val M1 = 2654435761L // Knuth multiplicative (2^32 * phi)
  private val M2 = 40503L // Fibonacci-ish 16-bit mixer

  /** Deterministic bucket in [0, buckets) from an integral key column.
    * Pure arithmetic (two multiply-mod rounds) — identical in any
    * engine with exact 64-bit integers.
    */
  def hashBucket(key: Column, buckets: Int): Column = {
    require(buckets >= 1, "buckets must be >= 1")
    val r1 = (pmod(key.cast("long"), lit(Mod)) * lit(M1)) % lit(Mod)
    val r2 = ((r1 + lit(M2)) * lit(M1)) % lit(Mod)
    r2 % lit(buckets.toLong)
  }

  /** Rendezvous (highest-random-weight) sharding — Thaler & Ravishankar
    * 1998: each row goes to the shard with the highest per-(key, shard)
    * hash weight. Unlike `key % shards`, growing the fleet from S to
    * S+1 shards relocates only ~1/(S+1) of the keys (only those whose
    * new shard wins the rendezvous), which is what makes this the
    * stable assignment for sharded dedup indexes, embedding-ANN
    * partitions, and any stateful service fronting a 100 TB corpus —
    * a modulus change would re-home (S-1)/S of the data.
    *
    * Exactness: the weight is the [[hashBucket]] chain over the mixed
    * key (key mod p)·1000003 + shard, followed by a SQUARING round
    * (w² mod p, then one more affine step). The squaring is what
    * makes the weight usable for rendezvous: two affine rounds
    * compose to an AFFINE map, whose per-shard weights are rank-
    * correlated across consecutive keys — measured on sequential ids
    * that bias ~30% of keys onto one shard of 16; the quadratic
    * round breaks the linearity and levels the histogram (26–36 per
    * shard on the same ids). Every intermediate stays < 2⁶³
    * (w² < (p−1)² ≈ 1.0e18), so the argmax is still replayable in
    * exact BIGINT SQL. Ties (two shards with equal weight) break to
    * the HIGHER shard id — the struct-max convention, mirrored in
    * the oracle's ORDER BY w DESC, s DESC.
    *
    * Scale shape: one narrow scan; the S per-row weight expressions
    * are codegen'd arithmetic (S is small fleet metadata). No shuffle,
    * no lookup table, no driver state.
    */
  def rendezvousShard(df: DataFrame, id: Column, shards: Int): DataFrame = {
    require(shards >= 1 && shards <= 4096, "shards must be in [1, 4096]")
    val best = array_max(array((0 until shards).map { sh =>
      val mixed = pmod(id.cast("long"), lit(Mod)) * lit(1000003L) +
        lit(sh.toLong)
      // buckets = Mod keeps the full affine-round range (r2 < Mod, so
      // the final % is the identity — the oracle chain mirrors this)
      val r2 = hashBucket(mixed, Mod.toInt)
      val r3 = (r2 * r2) % lit(Mod)
      val w = ((r3 + lit(M2)) * lit(M1)) % lit(Mod)
      struct(w.as("w"), lit(sh.toLong).as("shard"))
    }: _*))
    df.withColumn("shard", best.getField("shard"))
  }

  /** The first label whose cumulative weight covers `bucket`. */
  private def splitFromBucket(bucket: Column,
      weights: Seq[(String, Int)], buckets: Int): Column = {
    require(weights.map(_._2).sum == buckets,
      s"split weights must sum to buckets=$buckets")
    val bounds = weights.scanLeft(0L) { case (acc, (_, w)) => acc + w }.tail
    weights.zip(bounds).foldLeft(lit(null: String)) {
      case (acc, ((label, _), hi)) =>
        coalesce(acc, when(bucket < hi, lit(label)))
    }
  }

  /** The split label as a pure column expression over the key — the
    * assignment is content-addressed, so any relation carrying the key
    * can compute its split inline with zero joins (e.g. both sides of a
    * pair relation at once).
    */
  def splitExpr(key: Column, weights: Seq[(String, Int)],
      buckets: Int = 100): Column =
    splitFromBucket(hashBucket(key, buckets), weights, buckets)

  /** Adds `bucket` (mod `buckets`) and `split` — the first label whose
    * cumulative weight covers the bucket. Weights are integer
    * per-buckets shares, e.g. Seq(("train",80),("val",10),("test",10))
    * over 100 buckets.
    */
  def splitAssign(df: DataFrame, key: Column,
      weights: Seq[(String, Int)], buckets: Int = 100): DataFrame =
    df.withColumn("bucket", hashBucket(key, buckets))
      .withColumn("split", splitFromBucket(col("bucket"), weights, buckets))

  /** Deterministic stratified sampling — corpus-composition control:
    * keep each row iff `hashBucket(key, 10^6) < round(frac(stratum) *
    * 10^6)`, with `defaultFraction` for strata not listed. Content-
    * addressed like [[splitAssign]]: a pure narrow filter (no RNG, no
    * shuffle, pushes to the scan), reproducible across engines and
    * appends — the standard way to downsample boilerplate-heavy
    * sources or keep rare languages at 100% when mixing a training
    * corpus. Exact integer threshold arithmetic, so the realized
    * per-stratum rate converges to the fraction while membership stays
    * deterministic row-by-row.
    */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
      fractions: Seq[(String, Double)],
      defaultFraction: Double = 1.0): DataFrame = {
    require((defaultFraction +: fractions.map(_._2))
      .forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0, 1]")
    val denom = 1000000
    val thr = fractions.foldLeft(lit(math.round(defaultFraction * denom))) {
      case (acc, (label, f)) =>
        when(stratum === lit(label), lit(math.round(f * denom)))
          .otherwise(acc)
    }
    df.filter(hashBucket(key, denom) < thr)
  }

  /** Weight-proportional deterministic sampling (importance sampling
    * with content-addressed draws): keep a row iff
    * `hashBucket(key, denom) < threshold`, where `threshold` is a
    * PER-ROW integer expression in [0, denom] — so each row's keep
    * probability is `threshold / denom`, proportional to any
    * row-derived weight (quality score, length cap, source prior).
    * The continuous-weight generalization of [[stratifiedSample]]
    * (which is the special case of a per-stratum constant threshold).
    *
    * Same scale properties as the other samplers here: a pure narrow
    * filter — no RNG state, no shuffle, membership reproducible
    * across engines/cluster sizes/appends — and because both the
    * bucket and the threshold are plain integer expressions, the
    * whole predicate stays inside whole-stage codegen at the scan.
    * Callers wanting FP weights should quantize them to integer
    * thresholds themselves (integer arithmetic is what keeps the
    * predicate exact cross-engine).
    *
    * The emitted `keep_bucket` column makes the draw auditable (and
    * oracle-checkable) downstream.
    */
  def importanceSample(df: DataFrame, key: Column, threshold: Column,
      denom: Int = 1000000): DataFrame = {
    require(denom >= 1, "denom must be >= 1")
    df.withColumn("keep_bucket", hashBucket(key, denom))
      .filter(col("keep_bucket") < threshold)
  }

  /** Deterministic fixed-size per-group sample: the `k` rows of each
    * group with the smallest `(hashBucket(key), key)` — a content-
    * addressed stand-in for "k uniform draws" that is exactly
    * reproducible. One shuffle on the group key; the per-group sort is
    * the standard top-k window (rank <= k prunes before anything
    * downstream).
    */
  def groupSample(df: DataFrame, group: Column, key: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(group)
      .orderBy(hashBucket(key, Mod.toInt), key)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic weighted systematic sampling: ≈`target` rows drawn
    * with inclusion probability proportional to `weight` — the
    * quality-weighted corpus subsampling step (sample long/high-score
    * documents proportionally more) in a form with zero RNG state.
    *
    * Classic systematic sampling over a shuffled frame: order rows by
    * a content hash (md5 of the key — a deterministic global shuffle),
    * take the running weight total, and keep every row whose weight
    * span [cum, cum + w) crosses a multiple of stride = ⌊W / target⌋.
    * A row with w ≥ stride is always kept (span covers a boundary);
    * inclusion probability is w/stride otherwise — exactly the
    * probability-proportional-to-size design, with the md5 order
    * standing in for the random permutation. All arithmetic is
    * integral (weights clamped to ≥ 1, floor division on non-negative
    * operands), so every kept row is oracle-reproducible.
    *
    * Scale shape: the only global state is the prefix sum, computed by
    * [[Packing.withGlobalCumsum]]'s two-phase scan (range partition on
    * the hash → per-partition sums as offsets → one narrow pass) — no
    * single-task window; the same scan yields the weight total. The
    * md5 order key doubles as the anti-clustering guarantee systematic
    * sampling needs: adjacent input rows land far apart, so stride
    * periodicity cannot alias with any data periodicity.
    */
  def weightedSystematic(df: DataFrame, key: Column, weight: Column,
      target: Int): DataFrame = {
    require(target >= 1, "target must be >= 1")
    val base = df
      .withColumn("_wsw", greatest(weight.cast("long"), lit(1L)))
      .withColumn("_wsh", md5(key.cast("string")))
    val ord = struct(col("_wsh"), key)
    // integer DIV throughout: `/` on longs is double division, and
    // floor(double) loses exactness past 2^53 — a real hazard when the
    // cumulative weight is corpus-scale
    Packing.withGlobalCumsum(base, ord, Seq(col("_wsw") -> "_wscum"))
      .withColumn("_wsstride",
        greatest(expr("_wscum_total DIV " + target.toLong), lit(1L)))
      .filter(
        expr("_wscum DIV _wsstride") <
          expr("(_wscum + _wsw) DIV _wsstride"))
      .drop("_wsh", "_wscum_total", "_wsstride")
      .withColumnRenamed("_wsw", "sample_w")
      .withColumnRenamed("_wscum", "sample_cum")
  }

  /** Deterministic training-epoch ordering with source interleaving:
    * each source's rows are shuffled by content hash, then the
    * sources are interleaved round-robin (row 0 of every source, then
    * row 1, …) so any prefix of the epoch carries a near-uniform
    * source mix — the property a streaming training loader needs from
    * its input order, with zero RNG state and append-stability inside
    * each source prefix.
    *
    * Adds `epoch_rn` (the row's rank within its source's md5 shuffle)
    * and `epoch_pos` (the 0-based global position in the interleaved
    * order: sort by (epoch_rn, source, key)).
    *
    * Scale shape: one shuffle on the source key for the per-source
    * rank window, then the global position comes from
    * [[Packing.withGlobalCumsum]]'s two-phase scan over value 1 —
    * a range partition on the interleave key, never a single-task
    * window. (At 100 TB you would usually SORT by the interleave key
    * and let position stay implicit; the explicit `epoch_pos` is what
    * makes the order hash-gateable.)
    */
  /** Priority sampling (Duffield, Lund & Thorup, JACM 54(6) 2007): a
    * weighted sample WITHOUT replacement of k rows carrying unbiased
    * subset-sum estimators — the principled way to keep "50 documents
    * that stand for the whole corpus, weighted by length" such that
    * any subset's estimated total weight is exactly unbiased.
    *
    * Each row gets priority pᵢ = wᵢ/uᵢ with uᵢ a DETERMINISTIC
    * uniform in (0,1] from the [[hashBucket]] chain (u =
    * (bucket+1)/10⁹); the sample is the k highest priorities, the
    * threshold τ the (k+1)-th, and the estimator ŵᵢ = max(wᵢ, τ) —
    * E[Σ_subset ŵ] = Σ_subset w exactly (the paper's key theorem).
    * Everything is deterministic and engine-identical: u is exact
    * integer arithmetic, p and τ are single correctly-rounded double
    * divisions of exactly-known integers (same operands → same IEEE
    * result in any engine), ties break on the id. Output: one row
    * per sampled row, (id, w, priority, w_hat), ordered semantics up
    * to the caller.
    *
    * Scale shape: one narrow scan computing priorities + ONE
    * distributed top-(k+1) (TakeOrdered — never a global sort), a
    * 1-row threshold broadcast. n ≤ k degenerates honestly: all rows
    * returned, τ = 0, ŵ = w (the paper's convention). Weights must
    * be positive: w ≤ 0 rows are dropped (zero-weight rows can never
    * be sampled; negative weights have no sampling probability).
    */
  def prioritySample(df: DataFrame, id: Column, weight: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val obs = df.select(id.cast("long").as("id"),
        weight.cast("long").as("w"))
      .filter(col("w").isNotNull && col("w") > 0L)
      .withColumn("_u", hashBucket(col("id"), 1000000000) + 1L)
      .withColumn("priority",
        col("w").cast("double") * lit(1.0e9) / col("_u").cast("double"))
    // the (k+1)-row TakeOrdered result is persisted so the threshold
    // aggregate and the final k-row projection read it instead of
    // re-scanning the corpus (without this the claim of ONE
    // distributed top-(k+1) was false — both consumers re-executed
    // the TakeOrdered, i.e. two full scans)
    val top = org.apache.spark.sql.graft.Bridge.persistRows(
      obs.orderBy(col("priority").desc, col("id")).limit(k + 1))
    val thr = top.agg(count(lit(1)).as("_n"),
        min(col("priority")).as("_minp"))
      .select(when(col("_n") === (k + 1).toLong, col("_minp"))
        .otherwise(lit(0.0)).as("_tau"))
    top.orderBy(col("priority").desc, col("id")).limit(k)
      .crossJoin(broadcast(thr))
      .select(col("id"), col("w"), col("priority"),
        greatest(col("w").cast("double"), col("_tau")).as("w_hat"))
  }

  def epochOrder(df: DataFrame, key: Column, source: Column): DataFrame = {
    val w = Window.partitionBy(source)
      .orderBy(md5(key.cast("string")), key)
    val ranked = df.withColumn("epoch_rn", row_number().over(w) - 1)
    Packing.withGlobalCumsum(ranked,
      struct(col("epoch_rn"), source, key), lit(1L), "epoch_pos")
  }

  /** Temperature-scaled mixture plan (α = 1/2): per-source integer
    * keep thresholds for [[importanceSample]] with target share ∝
    * src_chars^½ — the standard low-resource up-sampling rule for
    * multi-source corpora (between α=0 equal budgets and α=1 natural
    * proportions). α = 1/2 is the one fractional exponent with an
    * exact cross-engine form: sqrt is IEEE correctly-rounded in both
    * Spark (Math.sqrt) and DuckDB (libm), so w = FLOOR(SQRT(CAST(n
    * AS DOUBLE))) is bit-identical (cast exact while n < 2^53).
    * Target chars tgt = all·w/Σw evaluate in the overflow-safe split
    * order (all div Σw)·w + (all mod Σw)·w div Σw — exact BIGINTs
    * while tgt·10⁴ < 2^63 (≈ 900 PB of text). Thresholds land on the
    * 10⁻⁴ grid scaled to the 10⁶ bucket domain, capped at keep-all;
    * a source whose √-share exceeds its natural share caps (tiny
    * sources are kept whole — the intended semantics). The floor
    * quantization of w means keep probability is only monotone in
    * 1/√n up to one w step: near-equal sources can swap order.
    *
    * Input: one row per source with `source` and `src_chars` (BIGINT
    * total, ≥ 1 — an all-empty corpus makes Σw = 0, where Spark's
    * `div` yields NULL while DuckDB's `//` raises: the zero-corpus
    * edge is outside the contract, not silently consistent). Output:
    * (source, thr). Planning is a |sources|-row relation — broadcast
    * it onto the corpus for enforcement.
    */
  def temperatureMixPlan(totals: DataFrame): DataFrame = {
    val t = totals.withColumn("w",
      floor(sqrt(col("src_chars").cast("double"))).cast("long"))
    t.crossJoin(broadcast(t.agg(sum(col("src_chars")).as("all_chars"),
        sum(col("w")).as("sw"))))
      .select(col("source"),
        least(lit(1000000L),
          expr("(((all_chars div sw) * w + (all_chars % sw) * w div sw)" +
            " * 10000 div src_chars) * 100"))
          .as("thr"))
  }
}
