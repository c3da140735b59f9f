package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that make these queries scale
  * are asserted, not assumed — a future change that silently introduces
  * a cartesian product, drops a broadcast, loses filter pushdown, or
  * adds a shuffle to the window pipeline fails here.
  */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("no query plans a CartesianProduct") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filter(q => plan(q).contains("CartesianProduct"))
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("dimension joins broadcast the small side") {
    assert(plan("q_join_bcast").contains("BroadcastHashJoin"))
    // two dims → two broadcast joins, zero shuffle joins
    val star = plan("q_join_star")
    assert("BroadcastHashJoin".r.findAllIn(star).size === 2)
    assert(!star.contains("SortMergeJoin"))
  }

  test("brute-force ANN broadcasts the QUERY side, scans the corpus once") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"))
  }

  test("LSH joins are equi-joins on band/bucket keys (hash-joinable)") {
    assert(!plan("q_dedup_near_pairs").contains("NestedLoop"))
    assert(!plan("q_sim_lsh").contains("NestedLoop"))
    assert(!plan("q_simhash_pairs").contains("NestedLoop"))
    // the exact prefix-filtered join too: every join is an equi-join
    // (gram candidates + id-keyed verification fetches)
    assert(!plan("q_dedup_ngram").contains("NestedLoop"))
  }

  test("equality filter pushes into the parquet scan with column pruning") {
    val p = plan("q_filter_eq")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]"),
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"), "unused wide column not pruned")
  }

  test("limit+sort plans TakeOrderedAndProject, not a global sort") {
    assert(plan("q_limit_sort").contains("TakeOrderedAndProject"))
  }

  test("indicator pipeline shuffles ONCE on symbol (all windows share it)") {
    val p = plan("q_ind_full")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges === 1, s"expected 1 symbol shuffle, got $hashExchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("all MA lag frames land in ONE Window operator (shared sort)") {
    val p = plan("q_ind_ma")
    assert("\\+- Window ".r.findAllIn(p).size === 1, p)
  }

  test("whole-stage codegen covers the indicator arithmetic (final AQE plan)") {
    val df = SparkEntry.queries("q_ind_ma")(spark, dir)
    df.collect() // execute THIS plan so AQE finalizes it (count() derives a new one)
    val p = df.queryExecution.executedPlan.toString
    // AQE simple strings mark WholeStageCodegen spans with "*(n)"
    assert(p.contains("isFinalPlan=true") && "\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, p.take(400))
  }

  test("as-of join plans ZERO join operators — union + one window shuffle") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), s"as-of must not plan any join:\n${p.take(600)}")
    assert(p.contains("Window"), "as-of carries values with a window pass")
  }

  test("window aggregations shuffle once on their grouping keys") {
    // tumbling: scan → partial agg → ONE exchange → final agg (+ the
    // output-determinism orderBy range exchange above it)
    val p = plan("q_window_tumbling")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(600))
  }

  test("pivot and sliding-window aggs shuffle as expected") {
    // pivot is two-phase by design: phase 1 aggregates (key, value)
    // pairs (map-side combinable — the big reduction), phase 2 pivots
    // |keys|·|values| tiny rows on the key. Explicit values ⇒ no
    // distinct-inference pre-scan job.
    assert("Exchange hashpartitioning".r.findAllIn(plan("q_pivot")).size === 2)
    // sliding window: the 2× explode happens map-side, ONE exchange
    assert("Exchange hashpartitioning".r
      .findAllIn(plan("q_window_sliding")).size === 1)
  }

  test("scalar subquery decorrelates to an aggregate + join (no per-row subplan)") {
    val p = plan("q_scalar_subquery")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p.take(400))
    assert(p.contains("Join"), "decorrelation plans a join")
  }

  test("set-similarity verification stays on the merge-scan kernel") {
    // Type-dispatched fast paths rot silently: when Shingles emitted
    // strings, the Jaccard joins fell back to per-pair
    // array_intersect hash sets (measured 3x slower at sf0.1) with no
    // failure anywhere. Pin the kernel's presence in the plans.
    assert(plan("q_dedup_ngram").contains("sorted_overlap"),
      "q_dedup_ngram verification lost the SortedOverlapCount kernel")
    assert(plan("q_dedup_near").contains("sorted_overlap"),
      "q_dedup_near verification lost the SortedOverlapCount kernel")
    assert(!plan("q_dedup_ngram").contains("array_intersect"))
    assert(!plan("q_dedup_near").contains("array_intersect"))
  }

  test("vocab top-k is TakeOrdered + broadcast; terms never collect") {
    val p = plan("q_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"),
      "vocabulary selection must be a distributed partial top-k")
    assert(p.contains("BroadcastHashJoin"),
      "the 100-row vocab must broadcast against the terms relation")
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("tfidf: document frequency joins on the term key, only the corpus count broadcasts") {
    val p = plan("q_tfidf")
    // the single-row count is the only broadcast-nested-loop; the
    // vocabulary-sized df relation must use a keyed join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 1, p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("split assignment and quantization are narrow — zero exchanges below the output sort") {
    // hash-split: pure projection; int8 quantize: pure projection.
    // Their only exchange is the output-determinism orderBy.
    for (q <- Seq("q_split_assign", "q_embed_quant",
        "q_importance_sample")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q:\n${p.take(600)}")
    }
  }

  test("shared-ngram profile partial-aggregates before both shuffles") {
    // explode → HashAggregate(partial) under the first exchange (the
    // map-side combine that absorbs within-doc gram repeats), and a
    // gram-keyed equi-join — never a broadcast of the vocabulary-sized
    // doc-frequency relation built by a collect.
    val p = plan("q_shared_ngrams")
    assert(p.contains("Generate explode"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(800))
    assert(!p.contains("NestedLoop"), p.take(800))
  }

  test("pagerank: equi-joins only, nothing collected to the driver") {
    val p = plan("q_pagerank")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      p.take(800))
    // persisted edge/node relations enter as in-memory scans
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      p.take(800))
  }

  test("hamming ANN broadcasts the query signatures, corpus scanned once") {
    val p = plan("q_ham_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("histogram quantiles: (group,value) partial-agg exchange + ONE group window exchange") {
    // the full-row sort is gone — the scan parallelizes over (g, v)
    // keys; only |distinct values| rows pass the per-group window
    val p = plan("q_quantiles")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "counts must partial-aggregate before the shuffle")
  }

  test("upsert plans one equi-join (no nested-loop fallback)") {
    val p = plan("q_upsert")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      p.take(600))
  }

  test("drawdown shuffles ONCE on symbol (peak + min windows + agg share it)") {
    val p = plan("q_drawdown")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges === 1, s"expected 1 symbol shuffle, got $hashExchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("MAD profile broadcasts every per-group median relation") {
    val p = plan("q_mad_outlier")
    // the deviation subtree is planned twice (feeding the MAD quantile
    // and the final roll-up), so ≥2 broadcasts and zero shuffle joins
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("PushedFilters: [IsNotNull(value)"),
      "null filter must reach the scan")
  }

  test("winsorize broadcasts the bounds relation back onto the rows") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("bollinger/stochastic share one symbol shuffle like the MA pipeline") {
    Seq("q_ind_bbands", "q_ind_stoch").foreach { q =>
      val p = plan(q)
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashExchanges === 1, s"$q: expected 1 shuffle, got $hashExchanges")
    }
  }

  test("triangle counting is all equi-joins (no nested-loop wedge blowup)") {
    val p = plan("q_triangles")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      p.take(800))
  }

  test("k-core peel: equi-joins only, per-round edges enter as persisted scans") {
    val p = plan("q_kcore")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      p.take(800))
    // without the RDD-persist bridge each round re-derives every prior
    // round per consumer — the persisted scans are the guard
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      p.take(800))
  }

  test("fuzzy join: candidates come from hash-joinable block keys") {
    val p = plan("q_fuzzy_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      p.take(800))
    assert(p.contains("levenshtein"), "edit-distance verify must be in-plan")
  }

  test("rolling robust band shuffles ONCE on the group key") {
    val p = plan("q_rolling_robust")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges === 1, s"expected 1 group shuffle, got $hashExchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("k-means assignment is one narrow scan — no joins, no hash shuffle") {
    // centroids ride as driver-resident reference objects, so the
    // final assignment is a codegen'd projection over the persisted
    // quantized corpus: the ONLY exchange is the output-order sort
    val p = plan("q_kmeans_assign")
    assert(!p.contains("Join"), "assignment must not join centroids:\n" +
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges === 0, s"expected 0 hash shuffles, got $hashExchanges")
  }

  test("semantic dedup pairs ride equi-joins on the cluster key") {
    val p = plan("q_semantic_dedup")
    assert(!p.contains("NestedLoop"),
      "within-cluster pairs must come from an equi-join, not a loop join")
  }

  test("weighted sampling: no offsets join, broadcast scalar total") {
    val p = plan("q_weighted_sample")
    // the prefix scan's offsets never meet the rows in a join (they
    // are added per partition), the grand-total join broadcasts a
    // 1-row relation, and the data side never shuffles for a join
    assertScanWindowFree("q_weighted_sample")
    assert(!p.contains("BroadcastHashJoin"), "offsets must not be joined back")
    assert(p.contains("BroadcastNestedLoopJoin"), "scalar total must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no data-sized join side may shuffle:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("CMS top-k prunes through TakeOrdered before the rank window") {
    val p = plan("q_cms_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must prune to k rows before the single-partition rank window")
  }

  test("OHLCV resample and VWAP: one partial-combined aggregation exchange") {
    // ticks must collapse to bars BEFORE the shuffle (partial min_by/
    // max_by/sum), and only the oracle-dump sort may follow the agg
    for (q <- Seq("q_resample_ohlc", "q_vwap")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
        s"$q: expected 1 bucket-key shuffle:\n" +
          p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
      assert(p.contains("partial_"), s"$q: aggregates must combine map-side")
    }
  }

  test("weighted median is two-phase: partial-agg histogram, broadcast " +
    "crossing bucket, no shuffle join") {
    val p = plan("q_weighted_median")
    // weights partial-aggregate onto (g, v) then (g, bucket) keys
    // before any shuffle, the 1-row-per-group crossing relation comes
    // back as a broadcast, and no join falls back to sort-merge — the
    // shape that keeps every window bucket-bounded instead of
    // group-serial
    assert(p.contains("partial_sum"),
      "weights must partial-aggregate before the shuffle")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.linesIterator.filter(l =>
        l.contains("Join") || l.contains("Cartesian")).mkString("\n"))
  }

  test("cusum chart shuffles ONCE on symbol (mean + both recursions share it)") {
    val p = plan("q_cusum")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges === 1,
      s"expected 1 symbol shuffle, got $hashExchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("batch padding: the length-order scan plans no window") {
    val p = plan("q_batch_padding")
    // the global length order is a prefix scan that ran when the query
    // was built: the plan reads its rows, and neither a window nor a
    // single-partition exchange is left to serialize 10¹⁰ docs
    // through one task
    assertScanWindowFree("q_batch_padding")
    assert(!p.contains("SinglePartition"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  /** A prefix scan runs when its query is built: the plan reads the
    * scanned rows as an existing RDD and holds no window at all — no
    * partition-id window, no offsets window, and no single-task window
    * over the data. PackingSpec pins the scan's own shape: no window,
    * no exchange after its one range shuffle.
    */
  private def assertScanWindowFree(q: String): Unit = {
    val p = plan(q)
    assert(p.contains("Scan ExistingRDD"), s"$q: the scan's rows are not read:\n$p")
    assert(!p.contains("Window") && !p.contains("_pid"),
      s"$q plans a window:\n" +
        p.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("eval prefix scans (auc/ks/pr) never serialize the data " +
    "relation through one window task") {
    Seq("q_auc", "q_ks_test", "q_pr_curve", "q_pr_auc",
      "q_precision_at_k").foreach(assertScanWindowFree)
  }

  test("gate tradeoff, k-center and MMR results plan no exchange or sort") {
    // each result is a relation that declares its order (the scan's
    // range partitioning on threshold; one partition by sel_rank), so
    // the final orderBy plans nothing above it
    Seq("q_gate_tradeoff", "q_kcenter", "q_mmr").foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"), p)
      assert(!p.contains("Exchange") && !p.contains("Sort"), s"$q:\n$p")
    }
  }

  test("eval metrics broadcast their 1-row totals relations") {
    // prCurve/ksTest cross-join totals back onto the per-score
    // relation — those must be broadcasts, never shuffled joins
    Seq("q_pr_curve", "q_ks_test", "q_precision_at_k").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastExchange"), s"$q lost its broadcast")
      assert(!p.contains("SortMergeJoin"),
        s"$q: totals relation fell into a sort-merge join")
    }
  }

  test("triplets assembly rides equi-joins (no all-pairs fallback)") {
    val p = plan("q_triplets")
    assert(!p.contains("NestedLoop"),
      "q_triplets candidate generation must stay on bucket equi-joins")
  }

  test("calibration bins: one broadcast min/max, aggregation-only " +
    "otherwise (no windows at all)") {
    val p = plan("q_calibration")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("Window ["),
      "calibration must not plan any window")
  }

  test("chi2 drift is aggregation-only: broadcast totals, no windows") {
    val p = plan("q_chi2_drift")
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("Window ["), "chi2 drift must not plan a window")
  }

  test("chi2 terms: global top-k prunes through TakeOrdered before " +
    "the rank window (vocab never sorts globally)") {
    val p = plan("q_chi2_terms")
    assert(p.contains("TakeOrderedAndProject"),
      p.linesIterator.filter(_.contains("Sort")).mkString("\n"))
  }

  test("group AUC shuffles ONCE on the group key (window + final agg " +
    "share it)") {
    val p = plan("q_auc_by_group")
    // exactly one exchange partitions on the bare group key: it feeds
    // the window, and the final group-by reuses that partitioning —
    // a second grp-only exchange would mean the agg re-shuffled
    val grpExchanges =
      "hashpartitioning\\(grp#\\d+, \\d+\\)".r.findAllIn(p).size
    assert(grpExchanges === 1,
      s"expected 1 grp-key exchange, got $grpExchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("poisson bootstrap: map-side combine before the only shuffle, " +
    "no windows") {
    val p = plan("q_bootstrap_ci")
    assert(!p.contains("Window ["), "bootstrap must not plan a window")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      "replicate totals must partial-aggregate before the exchange")
  }

  test("market share (Q8 shape): every dimension chain broadcasts; " +
    "only the fact-to-fact joins shuffle") {
    val p = plan("q_market_share")
    // part, customer-nation, region, supplier, supplier-nation = 5
    // explicit broadcast dims (at the spec's tiny scale AQE may
    // broadcast orders/customer too — also correct; what must NEVER
    // happen is a dim falling into a shuffle or nested-loop join)
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 5, s"expected >=5 broadcast dim joins, got $bhj:\n" +
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("NestedLoop"))
    Seq("p_partkey", "r_regionkey", "s_suppkey", "cn_key", "sn_key")
      .foreach { k => assert(!("SortMergeJoin [^\\n]*" + k).r
        .findFirstIn(p).isDefined, s"dim key $k fell into a shuffle join") }
    // the p_type filter reaches the part scan
    assert(p.contains("EqualTo(p_type,PROMO)"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("round-11 eval additions: quantile-bin / gini prefix scans " +
    "stay on the offsets metadata; fleiss kappa is window-free with " +
    "broadcast totals") {
    Seq("q_calibration_quantile", "q_gini")
      .foreach(assertScanWindowFree)
    val p = plan("q_fleiss_kappa")
    assert(!p.contains("Window ["),
      "fleissKappa is aggregation-only — no windows")
    assert(p.contains("BroadcastExchange"),
      "fleissKappa lost its 1-row totals broadcast")
    assert(!p.contains("SortMergeJoin"),
      "fleissKappa: a metadata relation fell into a shuffle join")
  }

  test("round-11 additions: late-suppliers collapses to aggregates " +
    "(no self-joins), shard assign is one exchange, lsh parity joins " +
    "stay equi") {
    val ls = plan("q_late_suppliers")
    // the Q21 EXISTS/NOT-EXISTS pair is collapsed into per-order
    // aggregates: exactly ONE join touches lineitem (orders), the
    // rest are the broadcast supplier/nation dims — never a
    // second/third pass over the fact table
    assert(!ls.contains("NestedLoop") && !ls.contains("CartesianProduct"))
    Seq("s_suppkey", "n_nationkey").foreach { k =>
      assert(!("SortMergeJoin [^\\n]*" + k).r.findFirstIn(ls).isDefined,
        s"dim key $k fell into a shuffle join") }
    assert(ls.contains("EqualTo(o_orderstatus,F)"),
      "status filter must reach the orders scan")
    val sa = plan("q_shard_assign")
    assert(!sa.contains("Join") && !sa.contains("Window ["),
      "shard assign is scan + aggregate only")
    // one hash exchange (the 16-group aggregate); the only other
    // exchange is the display orderBy's rangepartitioning
    val ex = "Exchange hashpartitioning".r.findAllIn(sa).size
    assert(ex === 1, s"expected the single group-by exchange, got $ex")
    val lp = plan("q_lsh_parity")
    assert(!lp.contains("NestedLoop") && !lp.contains("CartesianProduct"),
      "lsh parity candidates must come from band-key equi-joins")
    val wn = plan("q_winnow")
    assert(!wn.contains("NestedLoop") && !wn.contains("CartesianProduct"),
      "winnow pairs must come from the fingerprint equi-join")
    // round-17: the fingerprint stage is ONE narrow kernel explode —
    // the sliding-min window/sort/distinct moved inside WinnowFps, so
    // the stage must have NO exchange, window, or sort at all.
    // q_winnow's executed plan hides it behind the persistRows
    // boundary (Scan ExistingRDD), so audit the exposed stage relation
    val fpPlan = graft.operators.Dedup.winnowFingerprints(
        Tables.documents(spark, dir), org.apache.spark.sql.functions
          .col("doc_id"), org.apache.spark.sql.functions.col("text"),
        3, 4)
      .queryExecution.executedPlan.toString
    assert(fpPlan.contains("winnow_fps"),
      "fingerprints must come from the WinnowFps kernel")
    assert(!fpPlan.contains("Exchange") && !fpPlan.contains("Window") &&
      !fpPlan.contains("Sort"),
      s"winnow fingerprint stage must be exchange/window/sort-free:\n$fpPlan")
  }

  test("round-11 batch 2: TPC-H shapes push filters and broadcast " +
    "dims; sketches stay scan-plus-rollup") {
    // Q13: the priority filter is a plain pushed scan filter on the
    // null-producing side — never an ON-clause residual
    val od = plan("q_order_dist")
    assert(od.contains("Not(EqualTo(o_orderpriority,1-URGENT))") ||
      od.contains("NOT (o_orderpriority = 1-URGENT)"),
      "priority filter must reach the orders scan")
    // Q2: the correlated min is a window partitioned by partkey —
    // never a single-partition window
    val mc = plan("q_min_cost_supplier")
    val mcWin = mc.linesIterator.find(_.contains("Window [min("))
    assert(mcWin.exists(_.contains("[l_partkey")),
      s"per-part min window lost its partitioning: $mcWin")
    assert(mc.contains("TakeOrderedAndProject"),
      "the limit must be TakeOrdered, not a global sort")
    // Q20: supplier/nation dims broadcast — the only shuffle joins are
    // the fact-derived rollups
    val ds = plan("q_dominant_suppliers")
    Seq("s_suppkey", "n_nationkey").foreach { k =>
      assert(!("SortMergeJoin [^\\n]*" + k).r.findFirstIn(ds).isDefined,
        s"q_dominant_suppliers: dim key $k fell into a shuffle join") }
    // Q11/Q22: the global scalar is a 1-row broadcast, not a shuffle
    Seq("q_important_parts", "q_idle_capital").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastExchange") ||
        p.contains("BroadcastQueryStage"),
        s"$q lost its 1-row threshold broadcast")
      assert(!p.contains("CartesianProduct"), q)
    }
    // bloom probe: the bits side broadcasts; lineitem is never
    // shuffle-joined against the bit relation
    val bp = plan("q_bloom_probe")
    assert(bp.contains("BroadcastExchange") ||
      bp.contains("BroadcastQueryStage"),
      "bloom bits must broadcast")
    assert(!("SortMergeJoin [^\\n]*bit").r.findFirstIn(bp).isDefined,
      "the bit-membership join fell into a shuffle join")
    // HLL: one hash exchange (the bucket rollup) + the display sort —
    // the corpus-sized work is all map-side partial max
    val hr = plan("q_hll_ngrams")
    val hrEx = "Exchange hashpartitioning".r.findAllIn(hr).size
    assert(hrEx === 1, s"expected the single bucket exchange, got $hrEx")
    assert(hr.contains("partial_max"),
      "register rollup must partial-aggregate map-side")
  }

  test("round-12: BPE encode chains ALL merge rounds behind ONE " +
      "exchange (no per-round shuffle)") {
    import org.apache.spark.sql.functions.col
    val corpus = Tables.documents(spark, dir)
    val merges = graft.operators.Bpe.trainedMerges(corpus,
      col("doc_id"), col("text"), rounds = 3)
    assert(merges.length === 3, "training must learn 3 merges at sf0.001")
    def exchanges(n: Int): Int = {
      val p = graft.operators.Bpe
        .encode(corpus, col("doc_id"), col("text"), merges.take(n))
        .queryExecution.executedPlan.toString
      "Exchange hashpartitioning".r.findAllIn(p).size
    }
    // round-17: encoding applies the whole merge list as ONE per-word
    // kernel (EncodeBpeWord) inside the scan projection — ZERO hash
    // exchanges, strictly stronger than the round-12 pin (one shared
    // exchange for the window chain). The count must still not scale
    // with the number of rounds.
    assert(exchanges(3) === 0,
      "the kernel encoder must plan zero hash exchanges")
    assert(exchanges(1) === exchanges(3),
      "exchange count scaled with merge rounds")
  }

  test("round-12: BFS frontier round is equi-join only; the result " +
      "union reads persisted levels") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // the final q_bfs_dist frame is the union of materialized levels
    val fin = plan("q_bfs_dist")
    assert(!fin.contains("NestedLoop") && !fin.contains("CartesianProduct"))
    assert(fin.contains("Scan ExistingRDD") || fin.contains("InMemoryTableScan"),
      "levels must enter the union as persisted scans:\n" + fin.take(800))
    // one frontier round exactly as Bfs.distances plans it: expand
    // along edges, dedup, anti-join the settled set — every join must
    // stay hash-joinable (a NestedLoop here is the 100 TB killer)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val frontier = Seq((1L, 0L)).toDF("node", "dist")
    val round = frontier.join(e, col("node") === col("src"))
      .select(col("dst").as("node")).distinct()
      .join(frontier.select(col("node")), Seq("node"), "left_anti")
    val rp = round.queryExecution.executedPlan.toString
    assert(!rp.contains("NestedLoop") && !rp.contains("CartesianProduct"),
      rp.take(800))
  }

  test("round-12 batch 2: Q17/Q18 shapes broadcast and TakeOrdered; " +
      "PMI marginals read the persisted bigram relation") {
    val sl = plan("q_small_lots")
    assert(!sl.contains("SortMergeJoin") && !sl.contains("NestedLoop"),
      "small-lots must broadcast the dim and the per-part stats")
    assert(sl.contains("BroadcastHashJoin"), sl.take(400))
    val bo = plan("q_big_orders")
    assert(bo.contains("TakeOrderedAndProject"),
      "top-100 must prune distributed, not global-sort")
    assert(!bo.contains("NestedLoop") && !bo.contains("CartesianProduct"))
    val pm = plan("q_pmi_pairs")
    // the bigram relation feeds marginals/total/probe as persisted
    // scans — without the persist each consumer re-aggregates the
    // corpus (four explode+count passes instead of one)
    assert(pm.contains("Scan ExistingRDD") || pm.contains("InMemoryTableScan"),
      pm.take(400))
    // the only nested-loop allowed is the 1-row totals broadcast (the
    // eval-metrics pattern); the marginal joins must stay equi
    assert(!pm.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(pm).size <= 2,
      "more nested-loop joins than the broadcast totals")
    // entropy is aggregation-only: no joins, no windows
    val se = plan("q_source_entropy")
    assert(!se.contains("Join") && !se.contains("Window"), se.take(400))
  }

  test("round-12 TPC-H shapes: Q14/Q15/Q19 dims broadcast, filters " +
    "push to the scans (round-12 verdict #8)") {
    // Q19: the part dim pre-filtered by the OR's part-only half, then
    // broadcast — never a shuffle or nested-loop join; the brand/size
    // disjunction reaches the part scan as a pushed Or filter
    val dr = plan("q_discount_revenue")
    assert(dr.contains("BroadcastHashJoin"), dr.take(400))
    assert(!dr.contains("SortMergeJoin") && !dr.contains("NestedLoop"))
    assert(dr.contains("Or(And(EqualTo(p_brand,Brand#13)"),
      "part-only OR half must push to the part scan:\n" +
        dr.linesIterator.filter(_.contains("PushedFilters"))
          .mkString("\n"))
    // Q14: one aggregate over the joined month slice; the ship-month
    // range reaches the lineitem scan, part broadcasts
    val ps = plan("q_promo_share")
    assert(ps.contains("BroadcastHashJoin"), ps.take(400))
    assert(!ps.contains("SortMergeJoin") && !ps.contains("NestedLoop"))
    assert(ps.contains("GreaterThanOrEqual(l_shipdate"),
      "ship-month range must push to the lineitem scan:\n" +
        ps.linesIterator.filter(_.contains("PushedFilters"))
          .mkString("\n"))
    // Q15: Catalyst rewrites crossJoin(broadcast(max)) + the equality
    // filter into an equi-join, so BOTH the 1-row max probe and the
    // supplier name join plan as broadcast hash joins — assert that
    // rewrite held (a cartesian or shuffle join here would mean the
    // tie-exact DECIMAL filter stopped being a join key)
    val ts = plan("q_top_supplier")
    assert("BroadcastHashJoin".r.findAllIn(ts).size >= 2, ts.take(800))
    assert(!ts.contains("SortMergeJoin") && !ts.contains("CartesianProduct")
      && !ts.contains("NestedLoop"))
  }

  test("q_quality_gate_scale: both gate joins broadcast (boundary " +
      "relations are |sources|-row), no shuffle join, no cartesian") {
    val p = plan("q_quality_gate_scale")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("NestedLoop"))
  }

  test("Q5 unhinted-customer regimes (round-13 sweep): stats broadcast " +
      "it at small SF; with broadcasts off it shuffle-joins, never a " +
      "nested loop; rows identical either way") {
    // the SCALE.md claim, verified instead of asserted: customer is
    // the ONE unhinted join in q_local_volume. Small-SF regime —
    // every join (incl. customer) is broadcast, zero shuffle joins.
    val df = SparkEntry.queries("q_local_volume")(spark, dir)
    val expected = df.collect().toSeq
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan.take(400))
    assert(!finalPlan.contains("SortMergeJoin") &&
      !finalPlan.contains("ShuffledHashJoin"),
      "at sf0.001 stats should broadcast the unhinted customer:\n" +
        finalPlan.take(800))
    // 100-TB regime, emulated by disabling stats-driven broadcasts
    // (explicit broadcast() hints survive threshold = -1): customer
    // must FALL BACK to a shuffled equi-join with the c_nationkey =
    // s_nationkey conjunct still riding the join condition — a
    // NestedLoop here would mean the conjunct fell out
    val prevT = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevA =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df2 = SparkEntry.queries("q_local_volume")(spark, dir)
      val got = df2.collect().toSeq
      val p2 = df2.queryExecution.executedPlan.toString
      assert(p2.contains("SortMergeJoin") || p2.contains("ShuffledHashJoin"),
        p2.take(800))
      assert(!p2.contains("NestedLoop") && !p2.contains("CartesianProduct"))
      // exact-DECIMAL revenue ⇒ the strategy change cannot move a bit
      assert(got === expected, "join strategy changed the rows")
    } finally {
      Seq("spark.sql.autoBroadcastJoinThreshold" -> prevT,
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> prevA)
        .foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
    }
  }

  test("round-13 TPC-H shapes: Q5/Q7 dims broadcast, date ranges push " +
      "to the scans, nation pair pre-filters before broadcast") {
    // Q5: the order-year range must reach the orders scan; supplier /
    // nation⋈region broadcast; no cartesian or nested-loop anywhere
    // (customer is unhinted — broadcast at small SF, shuffle at 100 TB,
    // both fine; a NestedLoop from the c_nationkey = s_nationkey
    // conjunct falling out of the join condition is NOT)
    val lv = plan("q_local_volume")
    assert(lv.contains("BroadcastHashJoin"), lv.take(400))
    assert(!lv.contains("NestedLoop") && !lv.contains("CartesianProduct"))
    assert(lv.contains("GreaterThanOrEqual(o_orderdate"),
      "order-year range must push to the orders scan:\n" +
        lv.linesIterator.filter(_.contains("PushedFilters"))
          .mkString("\n"))
    // Q7: both nation dims pre-filtered to the pair BEFORE broadcast
    // (In filter pushed to the nation scans), ship range pushed to
    // lineitem; the pair disjunction is the only post-join filter
    val nv = plan("q_nation_volume")
    assert(!nv.contains("NestedLoop") && !nv.contains("CartesianProduct"))
    assert("In\\(n_name, \\[NATION_10,NATION_12\\]\\)".r
        .findAllIn(nv).size >= 2,
      "nation pair must push to BOTH nation scans:\n" +
        nv.linesIterator.filter(_.contains("PushedFilters"))
          .mkString("\n"))
    assert(nv.contains("GreaterThanOrEqual(l_shipdate"),
      "ship range must push to the lineitem scan:\n" +
        nv.linesIterator.filter(_.contains("PushedFilters"))
          .mkString("\n"))
  }

  test("round-13 TPC-H batch 2: Q4/Q6/Q9/Q10/Q12/Q16 shapes keep " +
      "pushdown, semi/anti hash joins, and TakeOrdered") {
    // The default 100-char metadata truncation hides PushedFilters
    // tails, so widen it for this test's stringifications only.
    val mKey = "spark.sql.maxMetadataStringLength"
    val mOld = spark.conf.get(mKey)
    spark.conf.set(mKey, "2000")
    try {
    // Q6: the pure-pushdown showcase — all three predicates reach
    // the lineitem scan; the plan has no joins at all
    val fr = plan("q_forecast_revenue")
    assert(!fr.contains("Join"), fr.take(400))
    val frPushed = fr.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(frPushed.contains("GreaterThanOrEqual(l_shipdate") &&
      frPushed.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      frPushed.contains("LessThan(l_quantity,24.0)"),
      "Q6 predicates must all push to the scan:\n" + frPushed)
    // Q4: the EXISTS plans as a LEFT SEMI hash join (the non-equi
    // lateness conjunct rides the equi join, never a nested loop)
    val po = plan("q_priority_orders")
    assert(po.contains("LeftSemi"), po.take(600))
    assert(!po.contains("NestedLoop") && !po.contains("CartesianProduct"))
    // Q9: the part name-token filter prunes BEFORE the broadcast —
    // the contains pushes to the part scan
    val pp = plan("q_product_profit")
    assert(pp.contains("StringContains(p_name,gear)"),
      "part token filter must push to the part scan:\n" +
        pp.linesIterator.filter(_.contains("PushedFilters"))
          .mkString("\n"))
    assert(!pp.contains("NestedLoop") && !pp.contains("CartesianProduct"))
    // Q10: returnflag pushes to the fact scan; top-20 prunes
    // distributed via TakeOrderedAndProject, not a global sort
    val rc = plan("q_returned_customers")
    assert(rc.contains("TakeOrderedAndProject"), rc.take(400))
    assert(rc.contains("EqualTo(l_returnflag,R)"),
      rc.linesIterator.filter(_.contains("PushedFilters"))
        .mkString("\n"))
    // Q12: ONE join, two conditional sums in one aggregate pass
    val sp = plan("q_ship_priority")
    assert("Join".r.findAllIn(sp).size <= 2, // one join ≤ 2 mentions
      sp.take(600))
    assert(!sp.contains("NestedLoop") && !sp.contains("CartesianProduct"))
    // Q16: flagged suppliers exclude via broadcast ANTI join; the
    // part slice filters push to the part scan
    val pc = plan("q_part_supp_counts")
    assert(pc.contains("LeftAnti"), pc.take(600))
    // Spark renders In values string-sorted
    assert(pc.contains("In(p_size, [1,10,15,23,38,4,45,7])"),
      pc.linesIterator.filter(_.contains("PushedFilters"))
        .mkString("\n"))
    assert(!pc.contains("NestedLoop") && !pc.contains("CartesianProduct"))
    } finally spark.conf.set(mKey, mOld)
  }

  test("snapshot enrichment broadcasts the pivoted snapshot map") {
    val p = plan("q_snapshot_enrich")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  // ---- round-17 pins (round-15 directive #7, extended per round-16
  // verdict Next #2): the round-15/16/17 queries' scale shapes were
  // verified by reading dumps — pin them so a regression can't land
  // silently. ----

  private def fmt(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("ccnet buckets: tercile boundaries enter as broadcasts, no per-group rank over the corpus") {
    val p = plan("q_ccnet_buckets")
    // the two boundary relations (|groups| rows each) join the
    // surprisal relation as broadcast LEFT joins
    assert("BroadcastHashJoin [^\\n]*LeftOuter, Build".r
        .findAllIn(p).size === 2,
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // the corpus is never percent_rank'd per group (the windowed form
    // serializes each group through one task — the exact scale-killer
    // Quantiles.rankBoundary exists to avoid)
    assert(!p.contains("percent_rank"), "corpus-wide rank window found")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("token fertility reduces per doc BEFORE the broadcast lang join") {
    val p = plan("q_token_fertility")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the lang join is a broadcast equi-join on the DOC key — it
    // moves |docs| per-doc aggregates, not |tokens| raw rows
    assert("BroadcastHashJoin \\[doc_id#".r.findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // …and the per-doc reduce exists below it: a reordered plan that
    // joined lang onto raw tokens would aggregate by lang only and
    // this doc-keyed (count, count distinct) aggregate would vanish
    assert(("HashAggregate\\(keys=\\[doc_id#\\d+L?\\], " +
        "functions=\\[count\\(1\\), count\\(distinct").r
        .findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("HashAggregate"))
        .take(8).mkString("\n"))
  }

  test("dsir: bucket models broadcast, scalar totals BNLJ-only, draw never sort-merges") {
    val p = plan("q_dsir_sample")
    // the ≤64-row trigram bucket models join the corpus as broadcasts
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // nested-loop joins may appear ONLY as scalar-total cross joins
    val bnlj = "BroadcastNestedLoopJoin \\w+ Build\\w+".r.findAllIn(p).toSeq
    assert(bnlj.forall(_.contains("Cross")), s"non-scalar BNLJ: $bnlj")
  }

  test("pii scrub is a narrow codegen projection — zero hash exchanges") {
    val p = plan("q_pii_scrub")
    assert(!p.contains("Exchange hashpartitioning"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // the only exchange is the output-determinism orderBy
    assert("Exchange rangepartitioning".r.findAllIn(p).size === 1, p.take(600))
  }

  test("gram-table consumers read the bucketed artifact exchange-free on the gram key") {
    // contamination/novelty/shared/spans from-table twins: the corpus
    // gram relation must never shuffle on _k (the table's bucketing
    // serves every distinct/groupBy/join on it); the one permitted
    // hash exchange is the per-doc rollup/window on _id.
    for (q <- Seq("q_contam_artifact", "q_novelty_artifact",
        "q_shared_artifact", "q_spans_artifact")) {
      val p = plan(q)
      val n = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(n <= 1, s"$q: $n hash exchanges — corpus grams shuffled:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
      assert(!p.contains("CartesianProduct"), q)
      assert(fmt(q).contains("SelectedBucketsCount"),
        s"$q lost the bucketed scan")
    }
  }

  test("PLANS.md covers every registered query (staleness gate)") {
    // adding a query without regenerating PLANS.md (sbt "runMain
    // graft.tools.DumpPlans") broke two rounds in a row — fail fast
    // ISO-8859-1 never throws on arbitrary bytes (plan dumps can
    // carry non-UTF-8 sequences); the `## q_` headers are pure ASCII
    val sections = scala.io.Source.fromFile("PLANS.md")(
        scala.io.Codec.ISO8859).getLines()
      .collect { case l if l.startsWith("## ") =>
        l.stripPrefix("## ").split(" ").head }
      .toSet
    val missing = SparkEntry.queries.keySet.diff(sections).toSeq.sorted
    assert(missing.isEmpty,
      s"queries with no PLANS.md section (run DumpPlans): $missing")
  }
}
