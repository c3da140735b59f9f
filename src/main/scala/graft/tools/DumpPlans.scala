package graft.tools

import java.nio.file.{Files, Paths}

import graft._

/** Writes PLANS.md: the formatted physical plan of EVERY query in
  * `SparkEntry.queries` (annotated where the shape is a headline
  * scale claim) plus the spec-gated perceptual media pair joins — the
  * `.explain("formatted")` evidence behind SCALE.md's plan-shape
  * claims, reviewable without running anything. Each query is
  * EXECUTED first (noop-equivalent full materialization) at the bench
  * scale (sf0.1 by default, `SPARK_GRAFT_SF_DIR` to override) on the
  * `Sessions.fromEnv()` session Bench and Verify use, so the
  * dumped shapes are the AQE FINAL plans the bench actually runs —
  * runtime bloom filters, broadcast demotions, and skew splits
  * included — not the pre-execution initial plans. Regenerate after
  * plan-affecting changes: `sbt "runMain graft.tools.DumpPlans"`.
  */
object DumpPlans {
  private val headline = Seq(
    "q_ind_full" -> "indicator pipeline — ONE hash exchange for all windows",
    "q_join_star" -> "star rollup — broadcast dims, zero sort-merge joins",
    "q_asof_join" -> "as-of join — union + window, zero join operators",
    "q_dedup_near_pairs" -> "MinHash near-dup — banded equi-join, salted buckets",
    "q_dedup_ngram" -> "exact Jaccard — prefix-filter equi-join + merge-scan verify",
    "q_sim_topk" -> "brute-force ANN — query side broadcast, corpus scanned once",
    "q_ham_topk" -> "binary Hamming ANN — narrow signatures + broadcast queries",
    "q_quantiles" -> "histogram quantiles — (g,v) partial agg + one group window",
    "q_pack_chunks" -> "distributed prefix sum — range-partitioned scan read back, no window, no broadcast",
    "q_vocab_oov" -> "vocab top-k — TakeOrderedAndProject + broadcast join",
    "q_revenue_topk" -> "TPC-H Q3 shape — broadcast dim, decimal agg, TakeOrdered",
    "q_skew_agg" -> "salted two-phase aggregation",
    "q_window_tumbling" -> "event-time tumbling agg — one exchange",
    "q_corpus_pipeline" -> "capstone — 5-stage corpus pipeline in one plan",
    "q_shared_ngrams" -> "cross-doc duplicated n-grams — map-side combine before both shuffles",
    "q_pagerank" -> "integer PageRank — Pregel step, persisted edges, two exchanges/round",
    "q_triangles" -> "degree-oriented triangles — persisted edges, equi-join wedge closing",
    "q_mad_outlier" -> "MAD outliers — histogram medians broadcast back, full-parallel scan",
    "q_kcore" -> "k-core peel — per-round persisted edges, semi-join restriction",
    "q_fuzzy_join" -> "blocked fuzzy join — salted block cells, thresholded levenshtein verify",
    "q_rolling_robust" -> "rolling robust band — one group exchange for both ranked frames",
    "q_embed_project" -> "power-iteration projection — narrow scan, codegen'd integer dot",
    "q_community" -> "label propagation — per-round vote agg + argmax, persisted label iterates",
    "q_skyline" -> "Pareto skyline — per-x partial agg collapse, prefix-max over reduced set",
    "q_bigram_lm" -> "bigram-LM surprisal — gram-keyed count relations, no vocab broadcast",
    "q_kmeans_assign" -> "integer k-means — one narrow scan, centroids as reference objects",
    "q_semantic_dedup" -> "SemDeDup — cluster-key equi-join pairs, integer cosine verify",
    "q_weighted_sample" -> "weighted systematic sample — two-phase cumsum and its total read back, no join",
    "q_hash_classifier" -> "hashed n-gram classifier — one corpus scan, broadcast weights",
    "q_cms_topk" -> "count-min heavy hitters — vocab-relation sketch, TakeOrdered top-k",
    "q_resample_ohlc" -> "tick→bar OHLCV — partial min_by/max_by combine, one bucket-key exchange",
    "q_weighted_median" -> "weighted median — TWO-PHASE: bucket histogram partial agg + broadcast crossing bucket, no serial group scan",
    "q_semantic_clusters" -> "semantic clusters — integer-cosine pairs into the RDD CC fixpoint",
    "q_batch_padding" -> "batch assembly — two-phase global length order (range partition, per-partition offsets), no window",
    "q_split_drift" -> "split drift — per-(split,bucket) partial agg, totals broadcast back",
    "q_impute_median" -> "median imputation — histogram median broadcast back, full-parallel scan",
    "q_text_normalize" -> "NFC normalize — native codegen expression inside WholeStageCodegen, no fallback",
    "q_cusum" -> "CUSUM chart — ONE symbol exchange shared by mean + both ordered windows",
    "q_resample_interp" -> "grid interpolation — one key exchange, frames both directions, bounded grid")

  def main(args: Array[String]): Unit = {
    val spark = Sessions.fromEnv()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf = dir.split('/').last
    val sb = new StringBuilder
    sb.append(s"# PLANS — headline physical plans ($sf, AQE final)\n\n")
    sb.append("Generated by `graft.tools.DumpPlans`; the assertions behind " +
      "these shapes live in PlanAuditSpec and fail CI on regression. " +
      "Queries are executed before dumping, so AdaptiveSparkPlan nodes " +
      "show isFinalPlan=true — these are the runtime shapes, not the " +
      "optimizer's initial guess.\n")
    val notes = headline.toMap
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val qe = df.queryExecution
      // drive THIS QueryExecution to completion so AQE finalizes it
      // (a .write would plan a separate execution and leave this one
      // initial)
      qe.executedPlan.execute().foreachPartition(_ => ())
      val plan = qe.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val why = notes.get(name).map(w => s" — $w").getOrElse("")
      sb.append(s"\n## $name$why\n\n```\n$plan```\n")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { q =>
      try dump(q, SparkEntry.queries(q)(spark, dir))
      catch { case e: Throwable =>
        sb.append(s"\n## $q\n\nFAILED TO PLAN: ${e.getMessage}\n")
      }
    }
    // Spec-gated media pair joins (binary payloads — not in queries());
    // undecodable stub payloads are fine for the SHAPE: the banded
    // join plan does not depend on decode success.
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val media = Seq((1L, Array[Byte](1)), (2L, Array[Byte](2)),
        (3L, Array[Byte](3))).toDF("media_id", "content")
      dump("imageDctNearDupPairs (spec-gated)",
        graft.operators.Multimodal.imageDctNearDupPairs(media,
          col("media_id"), col("content")))
      dump("audioNearDupPairs (spec-gated)",
        graft.operators.Multimodal.audioNearDupPairs(media,
          col("media_id"), col("content")))
    }
    Files.write(Paths.get("PLANS.md"), sb.toString.getBytes("UTF-8"))
    println(s"PLANS.md written (${names.size + 2} plans)")
    spark.stop()
  }
}
