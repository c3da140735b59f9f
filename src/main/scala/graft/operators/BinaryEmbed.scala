package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.IntSignLshKeys

/** Binary / quantized embedding operators — the cheap-representation
  * end of the similarity stack. Modern retrieval pipelines binarize or
  * int8-quantize float embeddings to cut memory and distance cost by
  * 8–32×, rerank the shortlist with exact float cosine. Both
  * representations here are EXACT integer/fixed arithmetic, so unlike
  * the float-cosine paths they carry full DuckDB oracles.
  *
  * Scale shape: signature building and quantization are narrow
  * codegen'd projections (zero shuffles); Hamming top-k over
  * signatures is the same broadcast-queries × corpus scan as
  * brute-force cosine but moves 16 bytes/vector instead of 512 and
  * compares with two XOR+POPCNT — the representation IS the
  * optimization. For corpus-×-corpus workloads the SimHash banded
  * equi-join (Dedup.simhashNearDupPairs) is the candidate generator;
  * this operator covers the query-set-×-corpus ANN case.
  */
object BinaryEmbed {

  /** Sign-binarize dims [lo, hi] (1-based, inclusive) of a float-array
    * column into a packed BIGINT: bit (i - lo) = (vec[i] > 0). Sign of
    * a stored float is exact — no cross-engine FP hazard.
    */
  private def signWord(vec: Column, lo: Int, hi: Int): Column =
    aggregate(
      sequence(lit(lo), lit(hi)),
      lit(0L),
      (acc, i) => acc +
        when(element_at(vec, i.cast("int")) > lit(0.0f),
          call_function("shiftleft", lit(1L), (i - lit(lo)).cast("int")))
          .otherwise(lit(0L)))

  /** Adds `sig_lo` (dims 1–32) and `sig_hi` (dims 33–64): the 64-dim
    * sign signature as two 32-bit words in BIGINTs (a single 64-bit
    * word would need bit 63 — sign-ambiguous across engines' integer
    * dialects, so two halves keep every value small and portable).
    */
  def withBinarySignature(df: DataFrame, vec: Column): DataFrame =
    df.withColumn("sig_lo", signWord(vec, 1, 32))
      .withColumn("sig_hi", signWord(vec, 33, 64))

  /** Exact Hamming distance between two (lo, hi) signature pairs. */
  def hammingDist(loA: Column, hiA: Column, loB: Column, hiB: Column): Column =
    (bit_count(loA.bitwiseXOR(loB)) + bit_count(hiA.bitwiseXOR(hiB)))
      .cast("long")

  /** Top-`k` nearest corpus vectors per query id under signature
    * Hamming distance (ties by neighbor id). The signature relation is
    * computed once; the query side (|queryIds| rows) broadcasts
    * against the corpus scan.
    */
  def hammingTopK(df: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int): DataFrame = {
    require(queryIds.nonEmpty && k >= 1, "need query ids and k >= 1")
    val sigs = withBinarySignature(df.select(id.as("_id"), vec.as("_v")),
      col("_v")).select("_id", "sig_lo", "sig_hi")
    val q = sigs.filter(col("_id").isin(queryIds: _*))
      .select(col("_id").as("query_id"), col("sig_lo").as("q_lo"),
        col("sig_hi").as("q_hi"))
    val scored = sigs.join(broadcast(q), col("_id") =!= col("query_id"))
      .select(col("query_id"), col("_id").as("neighbor_id"),
        hammingDist(col("q_lo"), col("q_hi"), col("sig_lo"), col("sig_hi"))
          .as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: the `k` NEAREST
    * corpus vectors per query that carry a DIFFERENT label — the
    * highest-value negatives an embedding trainer can sample, and the
    * standard mining pass over a labeled corpus. Same broadcast-query
    * × corpus-scan shape and exact signature Hamming arithmetic as
    * [[hammingTopK]], with the label inequality folded into the join
    * predicate so disqualified rows never reach the rank window.
    */
  def hammingHardNegatives(df: DataFrame, id: Column, vec: Column,
      label: Column, queryIds: Seq[Long], k: Int): DataFrame = {
    require(queryIds.nonEmpty && k >= 1, "need query ids and k >= 1")
    val sigs = withBinarySignature(
      df.select(id.as("_id"), vec.as("_v"), label.as("_lab")), col("_v"))
      .select("_id", "_lab", "sig_lo", "sig_hi")
    val q = sigs.filter(col("_id").isin(queryIds: _*))
      .select(col("_id").as("query_id"), col("_lab").as("q_lab"),
        col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"))
    val scored = sigs.join(broadcast(q),
        col("_id") =!= col("query_id") && col("_lab") =!= col("q_lab"))
      .select(col("query_id"), col("_id").as("neighbor_id"),
        col("_lab").as("neighbor_label"),
        hammingDist(col("q_lo"), col("q_hi"), col("sig_lo"), col("sig_hi"))
          .as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Sign-LSH ANN top-k, EXACT-integer end to end — the hash-gateable
    * twin of [[Similarity.lshTopK]] (whose Gaussian hyperplanes and
    * float dots leave it rows-only): bucket keys from ±1 md5-parity
    * hyperplanes ([[graft.functions.IntSignLshKeys]]), candidates via
    * the (table, key) equi-join against the broadcast query side,
    * exact integer-cosine rerank over the [[IntVectors]] format. The
    * bucketing is part of the query semantics, so engine and oracle
    * enumerate the SAME candidate set and the gate needs no recall
    * argument. The reported cosine is [[IntVectors.cosine]], so
    * ranking by it is deterministic in both engines. `dim` is the
    * vector width the overflow guard ([[IntVectors.requireExact]])
    * and the key kernel assume.
    *
    * Scale shape: identical to the float path — narrow quantize +
    * key projections, query side broadcasts, candidates dedup on
    * (query, neighbor), rank window over per-query candidates only.
    */
  def intLshTopK(emb: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int, dim: Int = 64, bits: Int = 8,
      tables: Int = 6, s: Long = 1000L): DataFrame = {
    require(queryIds.nonEmpty && k >= 1, "need query ids and k >= 1")
    IntVectors.requireExact(dim, s)
    val q = Bridge.persistRows(
      withIntLshKeys(IntVectors.quantize(emb, vec, s, id.as("_id")),
        dim, bits, tables))
    val bucketed = q.select(col("_id"), col("q"), col("nq"),
      posexplode(col("_keys")).as(Seq("_table", "_key")))
    val qb = bucketed.filter(col("_id").isin(queryIds: _*))
      .select(col("_table"), col("_key"), col("_id").as("query_id"),
        col("q").as("_qq"), col("nq").as("_qna"))
    val cands = bucketed.join(broadcast(qb), Seq("_table", "_key"))
      .filter(col("_id") =!= col("query_id"))
      .dropDuplicates("query_id", "_id")
    val scored = cands
      .withColumn("num", IntVectors.dot(col("_qq"), col("q")))
      .withColumn("cosine",
        IntVectors.cosine(col("num"), col("_qna"), col("nq")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("_id").as("neighbor_id"),
        col("num"), col("cosine"), col("rank"))
  }

  /** Adds `_keys`: the `tables` integer sign-LSH keys of the quantized
    * vector `q` ([[graft.functions.IntSignLshKeys]]).
    */
  private def withIntLshKeys(df: DataFrame, dim: Int, bits: Int,
      tables: Int): DataFrame =
    df.withColumn("_keys", Bridge.column(IntSignLshKeys(
      Bridge.expression(col("q")), dim, bits, tables)))

  /** Embedding-quality probe audit: leave-one-out k-NN label
    * consistency over a deterministically sampled probe set — the
    * standard cheap eval a pipeline runs after (re)building an
    * embedding index, answering "do nearest neighbors share labels?"
    * per label class.
    *
    * Probes are the rows with `hashBucket(id, probeMod) == 0` (content
    * addressed — the probe set is reproducible and append-stable, and
    * its expected size |corpus|/probeMod is what you size to fit a
    * broadcast). Each probe votes among its `k` nearest corpus
    * vectors by signature Hamming distance (ties → lowest neighbor
    * id), prediction is the majority label (ties → lowest label), and
    * the output is one row per true label: (label, n_probes,
    * n_correct).
    *
    * Scale shape: the probe relation broadcasts against ONE corpus
    * signature scan ([[hammingTopK]]'s contract); everything after the
    * rank window is (probe, label)-keyed aggregation over ≤ |probes|·k
    * rows. All integer arithmetic — full DuckDB oracle.
    */
  def knnLabelEval(df: DataFrame, id: Column, vec: Column, label: Column,
      probeMod: Int = 10, k: Int = 5): DataFrame =
    knnPredictions(df, id, vec, label, probeMod, k)
      .groupBy(col("q_lab").as("label"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("pred_lab") === col("q_lab"), 1L).otherwise(0L))
          .as("n_correct"))

  /** The per-probe prediction relation behind [[knnLabelEval]] and
    * [[knnConfusion]]: (query_id, q_lab, pred_lab), one row per probe
    * — probe selection, k-NN vote, and majority resolution exactly as
    * documented on [[knnLabelEval]].
    */
  def knnPredictions(df: DataFrame, id: Column, vec: Column, label: Column,
      probeMod: Int = 10, k: Int = 5): DataFrame = {
    val topk = knnTopK(df, id, vec, label, probeMod, k)
    topk.groupBy(col("query_id"), col("q_lab"), col("n_lab"))
      .agg(count(lit(1)).as("v"))
      // majority label, ties to the lowest label id — one struct-min
      // aggregate, no second window
      .groupBy(col("query_id"), col("q_lab"))
      .agg(min(struct((-col("v")).as("nv"), col("n_lab").as("pl")))
        .as("best"))
      .select(col("query_id"), col("q_lab"), col("best.pl").as("pred_lab"))
  }

  /** The ranked probe-neighbor relation shared by [[knnPredictions]]
    * and [[knnMrr]]: (query_id, q_lab, n_lab, nid, hamming, rnk),
    * rnk 1..k per probe in (hamming ASC, nid ASC) order — probe
    * selection and scoring exactly as documented on [[knnLabelEval]].
    */
  private def knnTopK(df: DataFrame, id: Column, vec: Column,
      label: Column, probeMod: Int, k: Int): DataFrame = {
    require(probeMod >= 1 && k >= 1, "probeMod and k must be >= 1")
    val sigs = withBinarySignature(
      df.select(id.as("_id"), vec.as("_v"), label.as("_lab")), col("_v"))
      .select("_id", "_lab", "sig_lo", "sig_hi")
    val q = sigs.filter(Sampling.hashBucket(col("_id"), probeMod) === 0)
      .select(col("_id").as("query_id"), col("_lab").as("q_lab"),
        col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"))
    val scored = sigs.join(broadcast(q), col("_id") =!= col("query_id"))
      .select(col("query_id"), col("q_lab"), col("_lab").as("n_lab"),
        col("_id").as("nid"),
        hammingDist(col("q_lo"), col("q_hi"), col("sig_lo"), col("sig_hi"))
          .as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("nid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Fixed-point nDCG position discounts: round(10⁹/log₂(r+1)) for
    * r = 1..10, exact-rational-rounded once and frozen as operator
    * constants (the [[graft.operators.Eval.PoissonCdf1e9]] recipe) —
    * what makes a log-based metric hash-gateable: the transcendental
    * values appear only as these shared integer literals.
    */
  val NdcgDisc1e9: Seq[Long] = Seq(1000000000L, 630929754L, 500000000L,
    430676558L, 386852807L, 356207187L, 333333333L, 315464877L,
    301029996L, 289064826L)

  /** Mean binary nDCG@k of the probe k-NN lists (relevance = neighbor
    * shares the probe's label): one row (n_queries, n_hit_queries,
    * ndcg_num, ndcg_den, ndcg) — the position-sensitive retrieval
    * eval completing the precision@k / MRR triad.
    *
    * Exactness: DCG = Σ_{hit ranks r} D_r and the binary-ideal
    * IDCG = P_h (prefix sum of the first h discounts) are exact
    * BIGINTs over the [[NdcgDisc1e9]] constants; each probe's ratio
    * quantizes to fixed point with half-up rounding BEFORE the
    * order-free sum ([[graft.operators.Eval.averagePrecision]]'s
    * trick), ndcg = ndcg_num/(n_queries·scale) the single trailing
    * division. Probes with zero same-label neighbors contribute 0
    * (standard convention) and are counted in n_queries.
    *
    * Scale shape: [[knnTopK]]'s broadcast-probe scan, per-probe
    * aggregation over ≤ |probes|·k rows, discounts via element_at on
    * a k-literal array — no join, no window beyond the top-k rank.
    */
  def knnNdcg(df: DataFrame, id: Column, vec: Column, label: Column,
      probeMod: Int = 10, k: Int = 5,
      scale: Long = 1000000L): DataFrame = {
    require(k >= 1 && k <= NdcgDisc1e9.size,
      s"k must be in [1, ${NdcgDisc1e9.size}] (precomputed discounts)")
    require(scale >= 1L, "scale must be >= 1")
    val topk = knnTopK(df, id, vec, label, probeMod, k)
    val disc = element_at(
      array(NdcgDisc1e9.take(k).map(lit): _*), col("rnk").cast("int"))
    val prefix = NdcgDisc1e9.take(k).scanLeft(0L)(_ + _).tail
    val per = topk.groupBy("query_id")
      .agg(sum(when(col("n_lab") === col("q_lab"), disc).otherwise(0L))
          .as("_dcg"),
        sum(when(col("n_lab") === col("q_lab"), 1L).otherwise(0L))
          .as("_h"))
      .withColumn("_idcg", when(col("_h") === 0L, lit(1L))
        .otherwise(element_at(array(prefix.map(lit): _*),
          col("_h").cast("int"))))
      .withColumn("_term", when(col("_h") === 0L, lit(0L))
        .otherwise(expr(s"(2 * _dcg * ${scale}L + _idcg) DIV (2 * _idcg)")))
    per.agg(count(lit(1)).as("n_queries"),
        sum(when(col("_h") > 0L, 1L).otherwise(0L)).as("n_hit_queries"),
        sum(col("_term")).as("ndcg_num"))
      .select(col("n_queries"),
        coalesce(col("n_hit_queries"), lit(0L)).as("n_hit_queries"),
        coalesce(col("ndcg_num"), lit(0L)).as("ndcg_num"),
        (col("n_queries") * lit(scale)).as("ndcg_den"),
        when(coalesce(col("n_queries"), lit(0L)) === 0L, lit(null))
          .otherwise(coalesce(col("ndcg_num"), lit(0L)).cast("double") /
            (col("n_queries") * lit(scale)).cast("double"))
          .cast("double").as("ndcg"))
  }

  /** Mean reciprocal rank of the first SAME-label neighbor in each
    * probe's k-NN list — the standard retrieval eval for an embedding
    * index, as one row: (n_queries, n_hit, mrr_num, mrr_den, mrr).
    *
    * Exactness: each probe's reciprocal rank 1/r is quantized as
    * `scale DIV r` (exact integer division, r ≤ k so the error is
    * < k/scale absolute); probes with no same-label neighbor in the
    * top k contribute 0 (the standard convention). The long sum is
    * order-free, mrr = mrr_num/(n_queries·scale) the single trailing
    * division — fully hash-gateable, like [[Eval.averagePrecision]].
    *
    * Scale shape: [[knnTopK]]'s broadcast-probe scan, then two
    * aggregations over ≤ |probes|·k rows.
    */
  def knnMrr(df: DataFrame, id: Column, vec: Column, label: Column,
      probeMod: Int = 10, k: Int = 5,
      scale: Long = 1000000000L): DataFrame = {
    require(scale >= 1L, "scale must be >= 1")
    val topk = knnTopK(df, id, vec, label, probeMod, k)
    val tot = topk.agg(countDistinct(col("query_id")).as("n_queries"))
    val hits = topk.filter(col("n_lab") === col("q_lab"))
      .groupBy("query_id").agg(min(col("rnk")).as("_r"))
      .agg(count(lit(1)).as("n_hit"),
        sum(expr(s"${scale}L DIV _r")).as("_num"))
    tot.crossJoin(broadcast(hits))
      .select(col("n_queries"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("_num"), lit(0L)).as("mrr_num"),
        (col("n_queries") * lit(scale)).as("mrr_den"),
        when(coalesce(col("n_queries"), lit(0L)) === 0L, lit(null))
          .otherwise(coalesce(col("_num"), lit(0L)).cast("double") /
            (col("n_queries") * lit(scale)).cast("double"))
          .cast("double").as("mrr"))
  }

  /** Multiclass confusion matrix of the k-NN probe eval:
    * (label_true, label_pred, n) over the SAME per-probe predictions
    * as [[knnLabelEval]] — the finer-grained audit that shows WHICH
    * classes the embedding space confuses, not just how often. One
    * extra map-side-combinable aggregate over ≤ |probes| rows; output
    * is at most |labels|² rows.
    */
  def knnConfusion(df: DataFrame, id: Column, vec: Column, label: Column,
      probeMod: Int = 10, k: Int = 5): DataFrame =
    knnPredictions(df, id, vec, label, probeMod, k)
      .groupBy(col("q_lab").as("label_true"),
        col("pred_lab").as("label_pred"))
      .agg(count(lit(1)).as("n"))

  /** Contrastive training-triplet assembly — the pass that turns a
    * labeled embedded corpus into (anchor, positive, negative) rows
    * for a metric-learning / embedding fine-tune job:
    *
    *  - POSITIVE: the anchor's best embedding-cosine near-duplicate —
    *    highest exact-integer cosine from
    *    [[intCosineNearDupPairs]]'s verified pair relation (ties to
    *    the lowest partner id). Anchors with no near-dup emit nothing
    *    (no positive ⇒ no triplet).
    *  - NEGATIVE: the nearest DIFFERENT-label vector by exact
    *    signature Hamming distance among the anchor's sign-LSH
    *    bucket-mates (ties to the lowest candidate id) — a "near but
    *    wrong" hard negative, mined from the SAME bucket structure
    *    the positives used, so no second index and no all-pairs scan.
    *    Anchors whose buckets hold no different-label vector are
    *    dropped (deterministic on both engines).
    *
    * Both "best" selections are single struct-min aggregates (the
    * cosine is exact-rankable: num and nₐ·nᵦ < 2⁵³ make the division
    * correctly rounded, so its negation orders identically anywhere)
    * — no rank windows. Scale shape: pair generation is
    * [[BucketPairs.boundedPairs]] on the LSH band keys (capped
    * sub-bucket salting, never all-pairs), the final positive⋈negative
    * join is id-keyed on two pre-aggregated relations.
    */
  def contrastiveTriplets(emb: DataFrame, id: Column, vec: Column,
      label: Column, tPct: Int = 30, dim: Int = 64, bits: Int = 8,
      tables: Int = 6, s: Long = 1000L, bucketCap: Int = 1000): DataFrame = {
    // best positive per anchor from the symmetrized near-dup pairs
    val pairs = intCosineNearDupPairs(emb, id, vec, tPct, dim, bits,
      tables, s, bucketCap)
    val sym = pairs
      .select(col("id_a").as("anchor"), col("id_b").as("partner"),
        col("num"), col("cosine"))
      .unionByName(pairs.select(col("id_b").as("anchor"),
        col("id_a").as("partner"), col("num"), col("cosine")))
    val bestPos = sym.groupBy("anchor")
      .agg(min(struct((-col("cosine")).as("nc"), col("partner").as("pid"),
        col("num").as("pnum"), col("cosine").as("pcos"))).as("b"))
      .select(col("anchor"), col("b.pid").as("pos_id"),
        col("b.pnum").as("pos_num"), col("b.pcos").as("pos_cosine"))
    // different-label bucket-mates under the same quantize+LSH keys;
    // signatures come from the RAW float signs (the [[
    // withBinarySignature]] contract), keys from the quantized vector
    val q = Bridge.persistRows(withIntLshKeys(withBinarySignature(
        IntVectors.quantize(emb, vec, s,
          id.as("_id"), label.as("_lab"), vec.as("_v")), col("_v")),
        dim, bits, tables)
      .select(col("_id"), col("_lab"), col("sig_lo").as("_lo"),
        col("sig_hi").as("_hi"), posexplode(col("_keys"))
          .as(Seq("_table", "_key"))))
    val negPairs = BucketPairs
      .boundedPairs(q, Seq("_table", "_key"), "_id",
        Seq("_lab", "_lo", "_hi"), bucketCap)
      .dropDuplicates("_id_a", "_id_b")
      .filter(col("_lab_a") =!= col("_lab_b"))
      .withColumn("_ham", hammingDist(col("_lo_a"), col("_hi_a"),
        col("_lo_b"), col("_hi_b")))
    val negSym = negPairs
      .select(col("_id_a").as("anchor"), col("_id_b").as("cand"),
        col("_lab_b").as("cand_lab"), col("_ham"))
      .unionByName(negPairs.select(col("_id_b").as("anchor"),
        col("_id_a").as("cand"), col("_lab_a").as("cand_lab"),
        col("_ham")))
    val bestNeg = negSym.groupBy("anchor")
      .agg(min(struct(col("_ham").as("h"), col("cand").as("nid"),
        col("cand_lab").as("nlab"))).as("b"))
      .select(col("anchor"), col("b.nid").as("neg_id"),
        col("b.nlab").as("neg_label"), col("b.h").as("neg_hamming"))
    bestPos.join(bestNeg, "anchor")
      .select(col("anchor").as("anchor_id"), col("pos_id"), col("pos_num"),
        col("pos_cosine"), col("neg_id"), col("neg_label"),
        col("neg_hamming"))
  }

  /** Embedding-cosine near-duplicate pairs, EXACT-integer end to end —
    * the fully oracle-gateable form of
    * [[Similarity.cosineNearDupPairs]] (whose Gaussian hyperplanes and
    * float dots are not SQL-reproducible, leaving it rows-only).
    *
    * Pipeline, every stage bit-identical in the DuckDB oracle:
    *  1. quantize to the [[IntVectors]] format (exact BIGINTs);
    *  2. bucket: `tables` integer sign-LSH keys from ±1 md5-parity
    *     hyperplanes ([[graft.functions.IntSignLshKeys]]) — the
    *     bucketing itself is part of the query semantics, so the gate
    *     needs no completeness argument: engine and oracle enumerate
    *     the SAME candidate set (all intra-bucket pairs, deduped);
    *  3. verify: [[IntVectors.cosineAtLeast]] — cosine ≥ tPct/100
    *     over the quantized vectors with no FP comparison anywhere;
    *  4. report [[IntVectors.cosine]], so even the double column
    *     hash-matches.
    *
    * Scale shape: identical to the float path — narrow quantize/bucket
    * projections, salted band-key equi-join ([[BucketPairs]]), never
    * all-pairs. Overflow contract: [[IntVectors]]'s, with `dim` the
    * vector width; the threshold products live in DECIMAL(38,0)
    * (HUGEINT oracle-side).
    */
  def intCosineNearDupPairs(emb: DataFrame, id: Column, vec: Column,
      tPct: Int = 30, dim: Int = 64, bits: Int = 8, tables: Int = 6,
      s: Long = 1000L, bucketCap: Int = 1000): DataFrame = {
    val nearDup = IntVectors.cosineAtLeast(
      col("num"), col("nq_a"), col("nq_b"), tPct)
    IntVectors.requireExact(dim, s)
    // persisted pre-explode: BucketPairs consumes its input three
    // times (size lookup + both join sides); one row per vector
    val q = Bridge.persistRows(
      withIntLshKeys(IntVectors.quantize(emb, vec, s, id.as("_id")),
        dim, bits, tables))
    val bucketed = q.select(col("_id"), col("q"), col("nq"),
      posexplode(col("_keys")).as(Seq("_table", "_key")))
    BucketPairs
      .boundedPairs(bucketed, Seq("_table", "_key"), "_id",
        Seq("q", "nq"), bucketCap)
      .dropDuplicates("_id_a", "_id_b")
      .withColumn("num", IntVectors.dot(col("q_a"), col("q_b")))
      .filter(nearDup)
      .select(col("_id_a").as("id_a"), col("_id_b").as("id_b"),
        col("num"),
        IntVectors.cosine(col("num"), col("nq_a"), col("nq_b")).as("cosine"))
  }

  /** Symmetric int8 scalar quantization with a per-vector scale:
    * scale = 127 / max(|x_i|), q_i = floor(x_i * scale + 0.5). The
    * quantized array plus the (double) scale reproduce the vector to
    * ~1/254 relative error; arithmetic is the identical expression
    * tree in the oracle (floor, not round — round's half-case rule is
    * engine-dialect-dependent, floor(x + 0.5) is not). An all-zero
    * vector gets scale 0 and an all-zero q_vec — never 127/0, whose
    * Infinity/NaN propagation is engine-dialect-dependent.
    */
  def quantizeInt8(df: DataFrame, vec: Column): DataFrame = {
    val absMax = array_max(transform(vec, x => abs(x.cast("double"))))
    df.withColumn("q_scale",
        when(absMax > lit(0.0), lit(127.0) / absMax).otherwise(lit(0.0)))
      .withColumn("q_vec",
        transform(vec, x =>
          floor(x.cast("double") * col("q_scale") + lit(0.5)).cast("int")))
  }
}
