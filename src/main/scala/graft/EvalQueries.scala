package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BinaryEmbed, Classifier, Eval, Sampling, TextStats}

/** Model-evaluation and training-pair-assembly queries — the audit
  * surface a corpus pipeline runs AFTER building its gates and
  * indexes: does the quality classifier rank positives above
  * negatives (ROC AUC)? are its scores calibrated? did the split
  * drift (two-sample KS)? which classes does the embedding space
  * confuse (k-NN confusion matrix)? and the capstone producer:
  * contrastive (anchor, positive, negative) triplets assembled from
  * the near-dup and hard-negative machinery.
  *
  * Every query is integer-exact up to single trailing divisions, so
  * all five hash-gate against full DuckDB replays (see each
  * operator's exactness contract).
  */
object EvalQueries {

  /** Class-0 hashed-classifier score per doc with the (lang = 'en')
    * ground-truth bit — the (score, label) relation the scorer-eval
    * queries share. The stand-in weights make the AUC ≈ 0.5 (the
    * metric machinery is what's under test, not the model); a trained
    * model would arrive as the same broadcast weight relation.
    */
  private def scoredDocs(s: SparkSession, d: String): DataFrame =
    Classifier.hashNgramScore(Tables.documents(s, d), col("doc_id"),
        col("text"), cls = 0)
      .join(Tables.documents(s, d)
        .select(col("doc_id").as("id"), (col("lang") === "en").as("_y")),
        "id")

  val catalogue: Seq[(String, Query)] = Seq(
    // Tie-aware ROC AUC of the class-0 classifier score predicting
    // lang='en' — exact Mann-Whitney numerator/denominator BIGINTs
    // via the two-phase prefix scan, one trailing division.
    "q_auc" -> Query((s, d) =>
      Eval.rocAuc(scoredDocs(s, d), col("score"), col("_y")),
      Oracle(s"""WITH $scoredCte,
         |g AS (SELECT score, CAST(sum(y) AS BIGINT) AS pos,
         |  CAST(count(*) - sum(y) AS BIGINT) AS neg FROM lab GROUP BY score),
         |c AS (SELECT score, pos, neg,
         |  CAST(coalesce(sum(neg) OVER (ORDER BY score
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS neg_below
         |  FROM g)
         |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
         |  CAST(sum(neg) AS BIGINT) AS n_neg,
         |  CAST(sum(pos * (2 * neg_below + neg)) AS BIGINT) AS auc_num,
         |  CAST(2 * sum(pos) * sum(neg) AS BIGINT) AS auc_den,
         |  CASE WHEN sum(pos) = 0 OR sum(neg) = 0 THEN NULL
         |       ELSE CAST(sum(pos * (2 * neg_below + neg)) AS DOUBLE)
         |         / CAST(2 * sum(pos) * sum(neg) AS DOUBLE) END AS auc
         |FROM c""".stripMargin)),

    // Reliability table: 10 equal-width score bins, per-bin count /
    // positives / positive rate — the calibration audit next to AUC.
    "q_calibration" -> Query((s, d) =>
      Eval.calibrationBins(scoredDocs(s, d), col("score"), col("_y"),
          bins = 10)
        .orderBy("bin"),
      Oracle(s"""WITH $scoredCte,
         |mm AS (SELECT min(score) AS mn, max(score) AS mx FROM lab)
         |SELECT CAST((score - mn) * 10 // (mx - mn + 1) AS BIGINT) AS bin,
         |  CAST(min(score) AS BIGINT) AS score_lo,
         |  CAST(max(score) AS BIGINT) AS score_hi,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate
         |FROM lab, mm GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Two-sample Kolmogorov-Smirnov drift statistic between the
    // content-addressed train and val splits on order value (exact
    // cents) — the binning-free distribution-shift test; both CDFs
    // and both split sizes come from ONE two-phase prefix scan.
    "q_ks_test" -> Query((s, d) => {
      val o = Sampling.splitAssign(
          Tables.orders(s, d).select(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("v")),
          col("o_orderkey"),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .filter(col("split") =!= "test")
      Eval.ksTest(o, col("v"), col("split") === "train")
    },
      Oracle("""WITH sp AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    (((((o_orderkey % 1000000007) * 2654435761) % 1000000007)
        |       + 40503) * 2654435761) % 1000000007 % 100 AS b
        |  FROM orders),
        |f AS (SELECT v, CASE WHEN b < 80 THEN 1 ELSE 0 END AS a
        |      FROM sp WHERE b < 90),
        |g AS (SELECT v, CAST(sum(a) AS BIGINT) AS ca,
        |  CAST(count(*) - sum(a) AS BIGINT) AS cb FROM f GROUP BY v),
        |c AS (SELECT v,
        |  CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
        |  CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b FROM g),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |  CAST(sum(cb) AS BIGINT) AS n_b FROM g)
        |SELECT t.n_a, t.n_b,
        |  CAST(max(abs(c.cum_a * t.n_b - c.cum_b * t.n_a)) AS BIGINT)
        |    AS ks_num,
        |  CAST(t.n_a * t.n_b AS BIGINT) AS ks_den,
        |  CASE WHEN t.n_a = 0 OR t.n_b = 0 THEN NULL
        |       ELSE CAST(max(abs(c.cum_a * t.n_b - c.cum_b * t.n_a))
        |           AS DOUBLE) / CAST(t.n_a * t.n_b AS DOUBLE) END AS ks
        |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin)),

    // Multiclass confusion matrix of the k-NN probe eval — same
    // probe/vote/majority machinery as q_knn_eval, finer aggregation:
    // WHICH labels get confused, not just how often.
    "q_knn_confusion" -> Query((s, d) =>
      BinaryEmbed.knnConfusion(Tables.embeddings(s, d), col("vec_id"),
          col("embedding"), col("label"), probeMod = 10, k = 5)
        .orderBy("label_true", "label_pred"),
      Oracle(s"""WITH $knnPredCte
         |SELECT q_lab AS label_true, pred_lab AS label_pred,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Contrastive triplet assembly: best cosine near-dup as the
    // positive, nearest different-label LSH bucket-mate as the hard
    // negative — the metric-learning training-pair producer, composed
    // from the same verified pair relations the dedup queries gate.
    "q_triplets" -> Query((s, d) =>
      BinaryEmbed.contrastiveTriplets(Tables.embeddings(s, d),
          col("vec_id"), col("embedding"), col("label"), tPct = 30)
        .orderBy("anchor_id"),
      Oracle(s"""WITH ${LlmQueries.cosPairsCte},
         |sg AS (SELECT vec_id AS id, label,
         |  CAST(list_sum([CASE WHEN embedding[i] > 0
         |      THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END
         |    for i in range(1, 33)]) AS BIGINT) AS sig_lo,
         |  CAST(list_sum([CASE WHEN embedding[i] > 0
         |      THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE CAST(0 AS BIGINT) END
         |    for i in range(33, 65)]) AS BIGINT) AS sig_hi
         |  FROM embeddings),
         |posed AS (
         |  SELECT id_a AS anchor, id_b AS partner, num, na, nb FROM cospairs
         |  UNION ALL
         |  SELECT id_b, id_a, num, nb, na FROM cospairs),
         |posc AS (SELECT anchor, partner, num,
         |  CAST(num AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
         |  FROM posed),
         |bestp AS (
         |  SELECT anchor, partner AS pos_id, num AS pos_num,
         |    cosine AS pos_cosine
         |  FROM (SELECT *, row_number() OVER
         |    (PARTITION BY anchor ORDER BY cosine DESC, partner) AS rn
         |    FROM posc)
         |  WHERE rn = 1),
         |negcand AS (
         |  SELECT id_a AS anchor, id_b AS cand FROM cand
         |  UNION ALL
         |  SELECT id_b, id_a FROM cand),
         |negs AS (
         |  SELECT n.anchor, n.cand, sb.label AS cand_label,
         |    CAST(bit_count(xor(sa.sig_lo, sb.sig_lo))
         |       + bit_count(xor(sa.sig_hi, sb.sig_hi)) AS BIGINT) AS hamming
         |  FROM negcand n
         |  JOIN sg sa ON sa.id = n.anchor
         |  JOIN sg sb ON sb.id = n.cand
         |  WHERE sa.label <> sb.label),
         |bestn AS (
         |  SELECT anchor, cand AS neg_id, cand_label AS neg_label,
         |    hamming AS neg_hamming
         |  FROM (SELECT *, row_number() OVER
         |    (PARTITION BY anchor ORDER BY hamming, cand) AS rn FROM negs)
         |  WHERE rn = 1)
         |SELECT p.anchor AS anchor_id, p.pos_id, p.pos_num, p.pos_cosine,
         |  b.neg_id, b.neg_label, b.neg_hamming
         |FROM bestp p JOIN bestn b ON b.anchor = p.anchor
         |ORDER BY anchor_id""".stripMargin)),

    // Precision-recall curve: per-distinct-score threshold
    // (tp, fp, fn, precision, recall) — the imbalance-honest
    // companion surface to ROC (quality gates are heavily imbalanced;
    // ROC AUC alone overstates them).
    "q_pr_curve" -> Query((s, d) =>
      Eval.prCurve(scoredDocs(s, d), col("score"), col("_y"))
        .orderBy("threshold"),
      Oracle(s"""WITH $scoredCte,
         |g AS (SELECT score, CAST(sum(y) AS BIGINT) AS pos,
         |  CAST(count(*) - sum(y) AS BIGINT) AS neg FROM lab GROUP BY score),
         |c AS (SELECT score, pos, neg,
         |  CAST(sum(pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
         |  CAST(sum(neg) OVER (ORDER BY score DESC) AS BIGINT) AS fp
         |  FROM g),
         |t AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos FROM g)
         |SELECT c.score AS threshold, c.tp, c.fp,
         |  CAST(t.n_pos - c.tp AS BIGINT) AS fn,
         |  CAST(c.tp AS DOUBLE) / CAST(c.tp + c.fp AS DOUBLE)
         |    AS "precision",
         |  CASE WHEN t.n_pos = 0 THEN NULL
         |       ELSE CAST(c.tp AS DOUBLE) / CAST(t.n_pos AS DOUBLE) END
         |    AS recall
         |FROM c, t ORDER BY threshold""".stripMargin)),

    // Average precision (PR-AUC) as one row — per-threshold terms
    // quantized to fixed point with half-up integer rounding so the
    // sum is order-free and hash-gates exactly (see
    // Eval.averagePrecision's quantization contract).
    "q_pr_auc" -> Query((s, d) =>
      Eval.averagePrecision(scoredDocs(s, d), col("score"), col("_y")),
      Oracle(s"""WITH $scoredCte,
         |g AS (SELECT score, CAST(sum(y) AS BIGINT) AS pos,
         |  CAST(count(*) - sum(y) AS BIGINT) AS neg FROM lab GROUP BY score),
         |c AS (SELECT score, pos,
         |  CAST(sum(pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
         |  CAST(sum(pos + neg) OVER (ORDER BY score DESC) AS BIGINT) AS den
         |  FROM g),
         |t AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos FROM g)
         |SELECT t.n_pos,
         |  CAST(sum((2 * c.pos * c.tp * 1000000000 + c.den)
         |    // (2 * c.den)) AS BIGINT) AS ap_num,
         |  CAST(t.n_pos * 1000000000 AS BIGINT) AS ap_den,
         |  CASE WHEN t.n_pos = 0 THEN NULL
         |       ELSE CAST(sum((2 * c.pos * c.tp * 1000000000 + c.den)
         |           // (2 * c.den)) AS DOUBLE)
         |         / CAST(t.n_pos * 1000000000 AS DOUBLE) END AS ap
         |FROM c, t GROUP BY t.n_pos""".stripMargin)),

    // Precision/recall at top-k under the explicit (score DESC,
    // doc_id ASC) tie-break — the "how good are the first k
    // retrievals" eval at three operating points.
    "q_precision_at_k" -> Query((s, d) =>
      Eval.precisionAtK(scoredDocs(s, d), col("score"), col("id"),
          col("_y"), Seq(10, 50, 100))
        .orderBy("k"),
      Oracle(s"""WITH $scoredCte,
         |r AS (SELECT doc_id, y,
         |  row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
         |  FROM lab),
         |t AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos FROM lab),
         |kk AS (SELECT unnest([10, 50, 100]) AS k)
         |SELECT CAST(kk.k AS BIGINT) AS k, CAST(sum(r.y) AS BIGINT) AS tp,
         |  CAST(sum(r.y) AS DOUBLE) / CAST(kk.k AS DOUBLE) AS "precision",
         |  CASE WHEN t.n_pos = 0 THEN NULL
         |       ELSE CAST(sum(r.y) AS DOUBLE) / CAST(t.n_pos AS DOUBLE) END
         |    AS recall
         |FROM kk JOIN r ON r.rnk <= kk.k, t
         |GROUP BY kk.k, t.n_pos ORDER BY k""".stripMargin)),

    // Chi-square homogeneity between the train and val splits over
    // $1000 price bands — the categorical drift gate next to
    // q_ks_test (same splits, binned-value domain).
    "q_chi2_drift" -> Query((s, d) => {
      val o = Sampling.splitAssign(
          Tables.orders(s, d).select(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents")),
          col("o_orderkey"),
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .filter(col("split") =!= "test")
      Eval.chiSquareDrift(o, expr("cents DIV 100000"),
        col("split") === "train")
    },
      Oracle("""WITH sp AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    (((((o_orderkey % 1000000007) * 2654435761) % 1000000007)
        |       + 40503) * 2654435761) % 1000000007 % 100 AS b
        |  FROM orders),
        |f AS (SELECT v // 100000 AS k,
        |    CASE WHEN b < 80 THEN 1 ELSE 0 END AS a
        |  FROM sp WHERE b < 90),
        |g AS (SELECT k, CAST(sum(a) AS BIGINT) AS ca,
        |  CAST(count(*) - sum(a) AS BIGINT) AS cb FROM f GROUP BY k),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |  CAST(sum(cb) AS BIGINT) AS n_b FROM g),
        |d AS (SELECT t.n_a, t.n_b,
        |  g.ca * t.n_b - g.cb * t.n_a AS dd, g.ca + g.cb AS c
        |  FROM g, t),
        |s AS (SELECT n_a, n_b,
        |  CAST(floor(CAST(dd AS DOUBLE) * CAST(dd AS DOUBLE)
        |    / CAST(c AS DOUBLE)) AS BIGINT) AS tt FROM d)
        |SELECT n_a, n_b, CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(count(*) - 1 AS BIGINT) AS dof,
        |  CAST(sum(tt) AS BIGINT) AS chi2_num,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |       ELSE CAST(sum(tt) AS DOUBLE)
        |         / CAST(n_a * n_b AS DOUBLE) END AS chi2
        |FROM s GROUP BY n_a, n_b""".stripMargin)),

    // Top label-discriminative terms for lang='en' by per-term
    // chi-square — log-free, so even the double statistic hash-gates.
    "q_chi2_terms" -> Query((s, d) =>
      graft.operators.TermStats.discriminativeTerms(
          Tables.documents(s, d), col("doc_id"), col("text"),
          col("lang") === "en", k = 25)
        .orderBy("rank"),
      Oracle("""WITH t AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    unnest(list_distinct(string_split_regex(lower(text), '[ \t\n\r\f]+')))
        |      AS term
        |  FROM documents),
        |pt AS (SELECT term, CAST(sum(y) AS BIGINT) AS a,
        |  CAST(count(*) - sum(y) AS BIGINT) AS b
        |  FROM t WHERE term <> '' GROUP BY term),
        |tot AS (SELECT
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS q
        |  FROM documents),
        |s AS (SELECT term, a AS n_pos_docs, b AS n_neg_docs,
        |  CASE WHEN p = 0 OR q = 0 OR p + q - a - b = 0 THEN 0.0
        |       ELSE CAST(p + q AS DOUBLE)
        |         * CAST(a * q - b * p AS DOUBLE)
        |         * CAST(a * q - b * p AS DOUBLE)
        |         / (CAST(a + b AS DOUBLE) * CAST(p + q - a - b AS DOUBLE)
        |            * CAST(p AS DOUBLE) * CAST(q AS DOUBLE)) END AS chi2
        |  FROM pt, tot)
        |SELECT term, n_pos_docs, n_neg_docs, chi2, rank FROM (
        |  SELECT *, row_number() OVER (ORDER BY chi2 DESC, term) AS rank
        |  FROM s)
        |WHERE rank <= 25 ORDER BY rank""".stripMargin)),

    // Per-label precision/recall/F1 derived from the k-NN confusion
    // matrix — every ratio ONE division of exact marginal integers
    // (f1 = 2tp/(2tp+fp+fn) avoids the float harmonic mean).
    "q_knn_f1" -> Query((s, d) =>
      Eval.confusionF1(
          BinaryEmbed.knnConfusion(Tables.embeddings(s, d), col("vec_id"),
            col("embedding"), col("label"), probeMod = 10, k = 5),
          col("label_true"), col("label_pred"), col("n"))
        .orderBy("label"),
      Oracle(s"""WITH $knnPredCte,
         |cm AS (SELECT q_lab AS t, pred_lab AS p,
         |  CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2),
         |rt AS (SELECT t AS label, CAST(sum(n) AS BIGINT) AS r
         |  FROM cm GROUP BY t),
         |ct AS (SELECT p AS label, CAST(sum(n) AS BIGINT) AS c
         |  FROM cm GROUP BY p),
         |dg AS (SELECT t AS label, CAST(sum(n) AS BIGINT) AS tp
         |  FROM cm WHERE t = p GROUP BY t),
         |j AS (SELECT coalesce(rt.label, ct.label) AS label,
         |  CAST(coalesce(dg.tp, 0) AS BIGINT) AS tp,
         |  CAST(coalesce(ct.c, 0) - coalesce(dg.tp, 0) AS BIGINT) AS fp,
         |  CAST(coalesce(rt.r, 0) - coalesce(dg.tp, 0) AS BIGINT) AS fn
         |  FROM rt FULL OUTER JOIN ct ON rt.label = ct.label
         |  LEFT JOIN dg ON dg.label = coalesce(rt.label, ct.label))
         |SELECT label, tp, fp, fn,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
         |    AS "precision",
         |  CASE WHEN tp + fn = 0 THEN NULL
         |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
         |    AS recall,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |       ELSE CAST(2 * tp AS DOUBLE)
         |         / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
         |FROM j ORDER BY label""".stripMargin)),

    // Cohen's kappa over the same matrix — chance-corrected agreement
    // with exact BIGINT numerator/denominator.
    "q_kappa" -> Query((s, d) =>
      Eval.cohensKappa(
        BinaryEmbed.knnConfusion(Tables.embeddings(s, d), col("vec_id"),
          col("embedding"), col("label"), probeMod = 10, k = 5),
        col("label_true"), col("label_pred"), col("n")),
      Oracle(s"""WITH $knnPredCte,
         |cm AS (SELECT q_lab AS t, pred_lab AS p,
         |  CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2),
         |rt AS (SELECT t AS label, CAST(sum(n) AS BIGINT) AS r
         |  FROM cm GROUP BY t),
         |ct AS (SELECT p AS label, CAST(sum(n) AS BIGINT) AS c
         |  FROM cm GROUP BY p),
         |m AS (SELECT CAST(sum(coalesce(rt.r, 0) * coalesce(ct.c, 0))
         |    AS BIGINT) AS rc
         |  FROM rt FULL OUTER JOIN ct ON rt.label = ct.label),
         |t2 AS (SELECT CAST(sum(n) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN t = p THEN n ELSE 0 END) AS BIGINT) AS agree
         |  FROM cm)
         |SELECT t2.n, t2.agree,
         |  CAST(t2.n * t2.agree - m.rc AS BIGINT) AS kappa_num,
         |  CAST(t2.n * t2.n - m.rc AS BIGINT) AS kappa_den,
         |  CASE WHEN t2.n * t2.n - m.rc = 0 THEN NULL
         |       ELSE CAST(t2.n * t2.agree - m.rc AS DOUBLE)
         |         / CAST(t2.n * t2.n - m.rc AS DOUBLE) END AS kappa
         |FROM t2, m""".stripMargin)),

    // Mean reciprocal rank of the first same-label neighbor —
    // reciprocal ranks quantized by exact integer division so the
    // scalar hash-gates (averagePrecision's fixed-point recipe).
    "q_mrr" -> Query((s, d) =>
      BinaryEmbed.knnMrr(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), col("label"), probeMod = 10, k = 5),
      Oracle(s"""WITH $knnPredCte,
         |tq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT)
         |  AS n_queries FROM topk),
         |h AS (SELECT query_id, min(rnk) AS r FROM topk
         |  WHERE n_lab = q_lab GROUP BY query_id),
         |hh AS (SELECT CAST(count(*) AS BIGINT) AS n_hit,
         |  CAST(coalesce(sum(1000000000 // r), 0) AS BIGINT) AS mrr_num
         |  FROM h)
         |SELECT tq.n_queries, hh.n_hit, hh.mrr_num,
         |  CAST(tq.n_queries * 1000000000 AS BIGINT) AS mrr_den,
         |  CASE WHEN tq.n_queries = 0 THEN NULL
         |       ELSE CAST(hh.mrr_num AS DOUBLE)
         |         / CAST(tq.n_queries * 1000000000 AS DOUBLE) END AS mrr
         |FROM tq, hh""".stripMargin)),

    // Mean binary nDCG@5 of the probe k-NN lists — the
    // position-sensitive retrieval eval; log₂ discounts enter only as
    // frozen exact-rational-rounded integer constants, each probe's
    // ratio fixed-point-quantized before the order-free sum.
    "q_ndcg" -> Query((s, d) =>
      BinaryEmbed.knnNdcg(Tables.embeddings(s, d), col("vec_id"),
        col("embedding"), col("label"), probeMod = 10, k = 5),
      Oracle(s"""WITH $knnPredCte,
         |per AS (SELECT query_id,
         |  CAST(sum(CASE WHEN n_lab = q_lab
         |    THEN list_extract([1000000000, 630929754, 500000000,
         |      430676558, 386852807], rnk) ELSE 0 END) AS BIGINT) AS dcg,
         |  CAST(sum(CASE WHEN n_lab = q_lab THEN 1 ELSE 0 END)
         |    AS BIGINT) AS h
         |  FROM topk GROUP BY query_id),
         |t AS (SELECT query_id, dcg, h,
         |  CASE WHEN h = 0 THEN CAST(1 AS BIGINT)
         |    ELSE list_extract([CAST(1000000000 AS BIGINT),
         |      CAST(1630929754 AS BIGINT), CAST(2130929754 AS BIGINT),
         |      CAST(2561606312 AS BIGINT), CAST(2948459119 AS BIGINT)], h)
         |    END AS idcg
         |  FROM per),
         |s2 AS (SELECT query_id, h,
         |  CASE WHEN h = 0 THEN CAST(0 AS BIGINT)
         |    ELSE (2 * dcg * 1000000 + idcg) // (2 * idcg) END AS term
         |  FROM t)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit_queries,
         |  CAST(sum(term) AS BIGINT) AS ndcg_num,
         |  CAST(count(*) * 1000000 AS BIGINT) AS ndcg_den,
         |  CASE WHEN count(*) = 0 THEN NULL
         |       ELSE CAST(sum(term) AS DOUBLE)
         |         / CAST(count(*) * 1000000 AS DOUBLE) END AS ndcg
         |FROM s2""".stripMargin)),

    // Gate-threshold survival curve over the classifier score with
    // token mass as the weight — "where do I set the gate" as a
    // relation: per candidate threshold, surviving docs AND tokens.
    "q_gate_tradeoff" -> Query((s, d) =>
      Eval.survivalByThreshold(
          scoredDocs(s, d).join(Tables.documents(s, d)
            .select(col("doc_id").as("id"),
              size(split(col("text"), TextStats.WsRegex)).cast("long").as("w")),
            "id"),
          col("score"), col("w"))
        .orderBy("threshold"),
      Oracle(s"""WITH $scoredCte,
         |w AS (SELECT l.doc_id, l.score,
         |  CAST(len(string_split_regex(d.text, '[ \\t\\n\\r\\f]+')) AS BIGINT) AS w
         |  FROM lab l JOIN documents d ON d.doc_id = l.doc_id),
         |g AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(w) AS BIGINT) AS ws FROM w GROUP BY score),
         |c AS (SELECT score,
         |  CAST(sum(cnt) OVER (ORDER BY score DESC) AS BIGINT) AS n_kept,
         |  CAST(sum(ws) OVER (ORDER BY score DESC) AS BIGINT) AS w_kept
         |  FROM g),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
         |  CAST(sum(ws) AS BIGINT) AS wt FROM g)
         |SELECT c.score AS threshold, c.n_kept, c.w_kept AS weight_kept,
         |  CASE WHEN t.n = 0 THEN NULL
         |       ELSE CAST(c.n_kept AS DOUBLE) / CAST(t.n AS DOUBLE) END
         |    AS frac_rows,
         |  CASE WHEN t.wt = 0 THEN NULL
         |       ELSE CAST(c.w_kept AS DOUBLE) / CAST(t.wt AS DOUBLE) END
         |    AS frac_weight
         |FROM c, t ORDER BY threshold""".stripMargin)),

    // Split conformal calibration of the classifier score: exact
    // integer conformal rank k = ceil((n_cal+1)·0.9), threshold as a
    // distributed order statistic, coverage audited on the held-out
    // half — the distribution-free guarantee machinery.
    "q_conformal" -> Query((s, d) =>
      Eval.conformalCalibrate(scoredDocs(s, d), col("id"), col("score"),
        alphaNum = 1, alphaDen = 10),
      Oracle(s"""WITH $scoredCte,
         |o AS (SELECT doc_id, score,
         |  (((((doc_id % 1000000007) * 2654435761) % 1000000007 + 40503)
         |    * 2654435761) % 1000000007) % 2 = 0 AS cal
         |  FROM lab),
         |c AS (SELECT score FROM o WHERE cal),
         |nk AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
         |  CAST(((count(*) + 1) * 9 + 9) // 10 AS BIGINT) AS k FROM c),
         |g AS (SELECT score, count(*) AS cnt FROM c GROUP BY score),
         |cm AS (SELECT score,
         |  CAST(sum(cnt) OVER (ORDER BY score) AS BIGINT) AS cum FROM g),
         |th AS (SELECT CAST(min(cm.score) AS BIGINT) AS threshold
         |  FROM cm, nk WHERE cm.cum >= nk.k),
         |tv AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
         |  CAST(coalesce(sum(CASE WHEN o.score <= th.threshold
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_covered
         |  FROM o, th WHERE NOT cal)
         |SELECT nk.n_cal, nk.k, th.threshold, tv.n_test, tv.n_covered,
         |  CASE WHEN th.threshold IS NULL OR tv.n_test = 0 THEN NULL
         |       ELSE CAST(tv.n_covered AS DOUBLE)
         |         / CAST(tv.n_test AS DOUBLE) END AS coverage
         |FROM nk, th, tv""".stripMargin)),

    // Per-source ROC AUC — the fairness/segment audit: does the gate
    // rank en-docs above others equally well in EVERY source, or is
    // one slice at coin-flip? One exchange on the group key.
    "q_auc_by_group" -> Query((s, d) =>
      Eval.rocAucByGroup(
          scoredDocs(s, d).join(Tables.documents(s, d)
            .select(col("doc_id").as("id"), col("source")), "id"),
          col("source"), col("score"), col("_y"))
        .orderBy("grp"),
      Oracle(s"""WITH $scoredCte,
         |lab2 AS (SELECT l.doc_id, l.score, l.y, d.source
         |  FROM lab l JOIN documents d ON d.doc_id = l.doc_id),
         |g AS (SELECT source, score, CAST(sum(y) AS BIGINT) AS pos,
         |  CAST(count(*) - sum(y) AS BIGINT) AS neg
         |  FROM lab2 GROUP BY source, score),
         |c AS (SELECT source, score, pos, neg,
         |  CAST(coalesce(sum(neg) OVER (PARTITION BY source ORDER BY score
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS neg_below
         |  FROM g)
         |SELECT source AS grp, CAST(sum(pos) AS BIGINT) AS n_pos,
         |  CAST(sum(neg) AS BIGINT) AS n_neg,
         |  CAST(sum(pos * (2 * neg_below + neg)) AS BIGINT) AS auc_num,
         |  CAST(2 * sum(pos) * sum(neg) AS BIGINT) AS auc_den,
         |  CASE WHEN sum(pos) = 0 OR sum(neg) = 0 THEN NULL
         |       ELSE CAST(sum(pos * (2 * neg_below + neg)) AS DOUBLE)
         |         / CAST(2 * sum(pos) * sum(neg) AS DOUBLE) END AS auc
         |FROM c GROUP BY source ORDER BY grp""".stripMargin)),

    // One-pass Poisson-bootstrap error bars on the corpus mean doc
    // length: 32 deterministic hash-derived Poisson(1) replicates,
    // every replicate's totals exact BIGINTs.
    "q_bootstrap_ci" -> Query((s, d) =>
      Eval.poissonBootstrap(Tables.documents(s, d), col("doc_id"),
          length(col("text")), reps = 32)
        .orderBy("rep"),
      Oracle("""WITH r AS (SELECT unnest(range(1, 33)) AS rep),
        |o AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS v
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT r.rep, o.v,
        |  (((((((o.doc_id % 1000000007) * 1009 + r.rep) % 1000000007)
        |    * 2654435761) % 1000000007 + 40503) * 2654435761)
        |    % 1000000007) % 1000000000 AS uu
        |  FROM o CROSS JOIN r),
        |w AS (SELECT rep, v,
        |    CASE WHEN uu >= 367879441 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 735758882 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 919698603 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 981011843 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 996340153 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 999405815 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 999916759 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 999989751 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 999998875 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 999999889 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 999999990 THEN 1 ELSE 0 END
        |  + CASE WHEN uu >= 999999999 THEN 1 ELSE 0 END AS wt
        |  FROM u)
        |SELECT CAST(rep AS BIGINT) AS rep,
        |  CAST(sum(wt) AS BIGINT) AS w_total,
        |  CAST(sum(wt * v) AS BIGINT) AS v_total,
        |  CASE WHEN sum(wt) = 0 THEN NULL
        |       ELSE CAST(sum(wt * v) AS DOUBLE)
        |         / CAST(sum(wt) AS DOUBLE) END AS mean
        |FROM w GROUP BY rep ORDER BY rep""".stripMargin)),

    // Equal-MASS reliability bins (the quantile companion to
    // q_calibration's equal-width ones): each bin holds ~1/10 of the
    // observations up to score ties — the binning practitioners use
    // when the score distribution is skewed.
    "q_calibration_quantile" -> Query((s, d) =>
      Eval.calibrationQuantileBins(scoredDocs(s, d), col("score"),
          col("_y"), bins = 10)
        .orderBy("bin"),
      Oracle(s"""WITH $scoredCte,
         |g AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(y) AS BIGINT) AS pos FROM lab GROUP BY score),
         |c AS (SELECT score, n, pos,
         |  CAST(coalesce(sum(n) OVER (ORDER BY score
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS below
         |  FROM g),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g)
         |SELECT CAST(c.below * 10 // t.nt AS BIGINT) AS bin,
         |  CAST(min(c.score) AS BIGINT) AS score_lo,
         |  CAST(max(c.score) AS BIGINT) AS score_hi,
         |  CAST(sum(c.n) AS BIGINT) AS n,
         |  CAST(sum(c.pos) AS BIGINT) AS n_pos,
         |  CAST(sum(c.pos) AS DOUBLE) / CAST(sum(c.n) AS DOUBLE)
         |    AS pos_rate
         |FROM c, t GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Gini coefficient of the per-document token mass — the corpus
    // concentration audit ("does 1% of documents hold 50% of the
    // tokens?"); exact rational via the distinct-value prefix scan,
    // no sort.
    // text.isNotNull mirrors the oracle's WHERE: size(NULL array) is
    // -1 under Spark's legacy sizeOfNull, which would fire gini's
    // negative-value guard instead of dropping the row
    "q_gini" -> Query((s, d) =>
      Eval.gini(Tables.documents(s, d).filter(col("text").isNotNull),
        size(split(col("text"), TextStats.WsRegex)).cast("long")),
      Oracle("""WITH w AS (SELECT CAST(len(string_split_regex(text,
        |    '[ \t\n\r\f]+')) AS BIGINT) AS v
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY v),
        |cu AS (SELECT v, c,
        |  CAST(coalesce(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS below
        |  FROM g),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(v * c) AS BIGINT) AS total FROM g)
        |SELECT t.n, t.total,
        |  CAST(sum(cu.v * cu.c * (2 * cu.below + cu.c + 1))
        |    - (t.n + 1) * t.total AS BIGINT) AS gini_num,
        |  CAST(t.n * t.total AS BIGINT) AS gini_den,
        |  CASE WHEN t.n = 0 OR t.total = 0 THEN NULL
        |       ELSE CAST(sum(cu.v * cu.c * (2 * cu.below + cu.c + 1))
        |           - (t.n + 1) * t.total AS DOUBLE)
        |         / CAST(t.n * t.total AS DOUBLE) END AS gini
        |FROM cu, t GROUP BY t.n, t.total""".stripMargin)),

    // Herfindahl-Hirschman concentration of character mass across
    // sources — the data-mixing audit next to q_gini: "how many
    // effective sources does this corpus really have?" One combinable
    // group-by, one metadata aggregate, exact BIGINT num/den.
    "q_source_hhi" -> Query((s, d) =>
      Eval.hhi(Tables.documents(s, d), col("source"), col("n_chars")),
      Oracle("""WITH g AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS c
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY source)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(c) AS BIGINT) AS total,
        |  CAST(sum(c * c) AS BIGINT) AS hhi_num,
        |  CAST(sum(c) * sum(c) AS BIGINT) AS hhi_den,
        |  CASE WHEN sum(c) = 0 THEN NULL
        |       ELSE CAST(sum(c * c) AS DOUBLE)
        |         / CAST(sum(c) * sum(c) AS DOUBLE) END AS hhi,
        |  CASE WHEN sum(c * c) = 0 THEN NULL
        |       ELSE CAST(sum(c) * sum(c) AS DOUBLE)
        |         / CAST(sum(c * c) AS DOUBLE) END AS eff_groups
        |FROM g HAVING count(*) > 0""".stripMargin)),

    // Fleiss' kappa over a deterministic 3-rater annotation panel
    // (votes are the hashBucket chain on doc_id and rater — the
    // machinery is what's under test; real annotations would arrive
    // as the same (item, category) relation). Exact cleared-fraction
    // BIGINTs, one trailing division.
    "q_fleiss_kappa" -> Query((s, d) => {
      val ratings = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(2L))).as("rater"))
        .withColumn("vote",
          Sampling.hashBucket(col("doc_id") * 5 + col("rater"), 4))
      Eval.fleissKappa(ratings, col("doc_id"), col("vote"))
    },
      Oracle("""WITH r AS (SELECT doc_id, unnest([0, 1, 2]) AS rater
        |  FROM documents),
        |v AS (SELECT doc_id,
        |  (((((doc_id * 5 + rater) % 1000000007) * 2654435761)
        |    % 1000000007 + 40503) * 2654435761) % 1000000007 % 4 AS vote
        |  FROM r),
        |ik AS (SELECT doc_id, vote, CAST(count(*) AS BIGINT) AS nij
        |  FROM v GROUP BY 1, 2),
        |i AS (SELECT doc_id, CAST(sum(nij) AS BIGINT) AS ni,
        |  CAST(sum(nij * nij) AS BIGINT) AS si FROM ik GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(min(ni) AS BIGINT) AS n_raters,
        |  CAST(sum(si) AS BIGINT) AS s FROM i),
        |k AS (SELECT vote, CAST(sum(nij) AS BIGINT) AS cj
        |  FROM ik GROUP BY 1),
        |kc AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
        |  CAST(sum(cj * cj) AS BIGINT) AS c2 FROM k)
        |SELECT t.n_items, t.n_raters, kc.n_categories,
        |  CAST((t.s - t.n_items * t.n_raters) * (t.n_items * t.n_raters)
        |    - kc.c2 * (t.n_raters - 1) AS BIGINT) AS kappa_num,
        |  CAST((t.n_raters - 1) * ((t.n_items * t.n_raters)
        |    * (t.n_items * t.n_raters) - kc.c2) AS BIGINT) AS kappa_den,
        |  CASE WHEN (t.n_raters - 1) * ((t.n_items * t.n_raters)
        |      * (t.n_items * t.n_raters) - kc.c2) = 0 THEN NULL
        |       ELSE CAST((t.s - t.n_items * t.n_raters)
        |           * (t.n_items * t.n_raters)
        |           - kc.c2 * (t.n_raters - 1) AS DOUBLE)
        |         / CAST((t.n_raters - 1) * ((t.n_items * t.n_raters)
        |           * (t.n_items * t.n_raters) - kc.c2) AS DOUBLE)
        |  END AS kappa
        |FROM t, kc""".stripMargin)),
  )

  /** Shared DuckDB CTE chain: class-0 hashed-classifier scores (the
    * replay of Classifier.hashNgramScore's kernel — identical gram,
    * bucket, and weight arithmetic to the q_hash_classifier oracle)
    * joined with the lang='en' label.
    */
  private def scoredCte =
    """grams AS (
      |  SELECT doc_id,
      |    unnest([substr(lower(text), i, 3)
      |            for i in range(1, length(text) - 1)]) AS g
      |  FROM documents WHERE text IS NOT NULL AND length(text) >= 3
      |),
      |feats AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(g), 1, 15))::BIGINT % 64 AS b,
      |    count(*) AS cnt
      |  FROM grams GROUP BY doc_id, b
      |),
      |w0 AS (
      |  SELECT b.b,
      |    ('0x' || substr(md5('w:0:' || b.b::VARCHAR), 1, 15))::BIGINT
      |      % 7 - 3 AS w
      |  FROM range(0, 64) b(b)
      |),
      |lab AS (
      |  SELECT f.doc_id, CAST(sum(w0.w * f.cnt) AS BIGINT) AS score,
      |    CASE WHEN max(d.lang) = 'en' THEN 1 ELSE 0 END AS y
      |  FROM feats f JOIN w0 ON w0.b = f.b
      |  JOIN documents d ON d.doc_id = f.doc_id
      |  GROUP BY f.doc_id
      |)""".stripMargin

  /** The q_knn_eval oracle's probe-prediction CTE chain, terminal
    * relation `pred(query_id, q_lab, pred_lab)`.
    */
  private def knnPredCte =
    """s AS (SELECT vec_id, label,
      |  CAST(list_sum([CASE WHEN embedding[i] > 0
      |      THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END
      |    for i in range(1, 33)]) AS BIGINT) AS sig_lo,
      |  CAST(list_sum([CASE WHEN embedding[i] > 0
      |      THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE CAST(0 AS BIGINT) END
      |    for i in range(33, 65)]) AS BIGINT) AS sig_hi
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, label AS q_lab,
      |             sig_lo AS q_lo, sig_hi AS q_hi
      |      FROM s
      |      WHERE (((((vec_id % 1000000007) * 2654435761) % 1000000007)
      |              + 40503) * 2654435761) % 1000000007 % 10 = 0),
      |d AS (SELECT q.query_id, q.q_lab, s.vec_id AS nid,
      |  s.label AS n_lab,
      |  CAST(bit_count(xor(q.q_lo, s.sig_lo))
      |     + bit_count(xor(q.q_hi, s.sig_hi)) AS BIGINT) AS hamming
      |  FROM q JOIN s ON s.vec_id <> q.query_id),
      |topk AS (
      |  SELECT * FROM (SELECT *, row_number() OVER
      |    (PARTITION BY query_id ORDER BY hamming, nid) AS rnk FROM d)
      |  WHERE rnk <= 5),
      |votes AS (
      |  SELECT query_id, q_lab, n_lab, count(*) AS v
      |  FROM topk GROUP BY query_id, q_lab, n_lab),
      |pred AS (
      |  SELECT query_id, q_lab, n_lab AS pred_lab FROM (
      |    SELECT *, row_number() OVER
      |      (PARTITION BY query_id ORDER BY v DESC, n_lab) AS pr
      |    FROM votes)
      |  WHERE pr = 1)""".stripMargin
}
