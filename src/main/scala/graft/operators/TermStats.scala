package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-relative term statistics: TF-IDF term ranking and
  * intra-document repetition signals (the Gopher/C4-style quality
  * filters that gate LLM training corpora).
  *
  * Everything is expressed as explode → partial-aggregated groupBy →
  * window top-k, so the map-side combine absorbs the token blow-up
  * before any shuffle: the (doc, term) aggregation shuffles at most
  * |doc|·|distinct terms per doc| rows, the document-frequency table
  * is |vocab| rows keyed by term, and the final per-doc top-k is the
  * rank-window + filter. No collect(), no vocabulary broadcast (at
  * 100 TB the vocab can be billions of terms, so document frequency
  * must stay a distributed relation joined on the term key).
  *
  * The n-gram family (contamination, novelty, shared-gram share,
  * trim spans) is written once over ONE gram relation `(_id, [pos,]
  * _k)` — see the section at the end: the inline hashed source, its
  * saved bucketed table and the streaming novelty twin all feed the
  * same four consumers.
  */
object TermStats {

  /** Tokenize to lowercase whitespace-separated words. */
  def words(text: Column): Column = split(lower(text), TextStats.WsRegex)

  /** [[words]] with empty tokens removed. Java's split DROPS trailing
    * empty strings while DuckDB's string_split_regex KEEPS them, so
    * any path that feeds a words ARRAY into n-gram windows must
    * filter empties on BOTH sides or a trailing-whitespace document
    * diverges from the oracle by one gram (round-7 ADVICE; the
    * exploded unigram paths already filter post-explode). Matching
    * oracle form: `list_filter(string_split_regex(...), w -> w <> '')`.
    */
  def cleanWords(text: Column): Column =
    filter(words(text), w => w =!= lit(""))

  /** Adjacent word pairs ("w[i] w[i+1]") from a words array. */
  def bigrams(ws: Column): Column = ngrams(ws, 2)

  /** xxhash64 gram keys of a words array in ONE codegen'd JVM pass —
    * the [[graft.functions.Shingles]] kernel (hashed mode) applied to
    * the TermStats gram family. Value-identical to
    * `transform`-built grams → `concat_ws(" ", …)` → `xxhash64(gram)`
    * (seed 42, byte-for-byte the same hash input), but without the
    * interpreted higher-order-function chain: the HOF composition
    * (`transform` + `filter` + per-gram `concat_ws` + `array_distinct`
    * + `xxhash64`) evaluates per-element lambdas outside whole-stage
    * codegen and was measured as the dominant cost of the gram-scan
    * queries at sf0.1 (guide §1.2 step 2: per-task work). With
    * `distinct` the pass dedups in first-occurrence order
    * (`array_distinct` semantics); without, index i = the gram
    * starting at token i (the positional contract `posexplode`
    * consumers rely on).
    */
  def hashedGrams(ws: Column, n: Int, distinct: Boolean): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.Shingles(
        org.apache.spark.sql.graft.Bridge.expression(ws), n,
        hashed = true, distinct = distinct))

  /** All space-joined word `n`-grams from a words array, positionally
    * (one entry per starting index; duplicates preserved). Pure array
    * expression — stays inside whole-stage codegen, no explode until
    * the caller asks for one. `ws` must be a bound column reference,
    * not a raw `split(...)` expression (see [[repetitionStats]]'s
    * O(n²) re-evaluation note).
    */
  def ngrams(ws: Column, n: Int): Column = {
    require(n >= 1, "n must be >= 1")
    filter(
      transform(ws, (x, i) =>
        when(i < size(ws) - (n - 1),
          concat_ws(" ",
            x +: (1 until n).map(j => element_at(ws, i + j + 1)): _*))),
      _.isNotNull)
  }

  /** Top-`k` TF-IDF terms per document. Output: _id, term, tf, df,
    * tfidf, term_rank (1-based, score-desc, term-asc tiebreak).
    *
    * tfidf = tf * ln(N / df) with N = corpus size — the classic
    * smoothing-free formulation. Cross-engine note: JVM log and libm
    * ln can disagree in the final ulp, so exactness gates should
    * compare the integer/rank surface, not the raw double (two
    * distinct scores landing within 1 ulp of each other is the only
    * way a rank can flip).
    */
  def tfidfTopTerms(df: DataFrame, id: Column, text: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val terms = df.select(id.as("_id"),
        explode(words(text)).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("_n"))
    val w = Window.partitionBy(col("_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") *
          log(col("_n").cast("double") / col("df").cast("double")))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .drop("_n")
  }

  /** Materialized inverted index — the retrieval-side posting-list
    * build every search/RAG stack runs over its corpus: one row per
    * term with document frequency, total term frequency, and the
    * posting list (ascending doc ids, truncated to `postingsCap`).
    *
    * The cap is the scale contract: a stopword's full posting list at
    * corpus scale is O(N) doc ids IN ONE ROW — an unbounded
    * collect_list is the classic single-row OOM. The cap is enforced
    * BEFORE aggregation (a row_number rank over (term, doc-id order)
    * gates which ids enter the list), so the aggregation buffer never
    * holds more than `postingsCap` ids per term — capping only in a
    * final slice would still build the full list in memory first.
    * df/tf_total stay exact over the FULL corpus; a production shard
    * would range-partition postings by (term, docid-block), which is
    * this same relation grouped by an additional `_id div B` key.
    * `minDf` prunes the hapax tail (the vast majority of distinct
    * terms) downstream.
    *
    * Shape: explode → (doc, term) count with map-side combine → the
    * rank window and the term rollup both partition by term, so
    * Catalyst plans ONE exchange for window + groupBy together (the
    * window adds a within-partition sort, not a shuffle). Everything
    * is exact integers/strings (hash-gateable).
    */
  def invertedIndex(df: DataFrame, id: Column, text: Column,
      minDf: Int, postingsCap: Int): DataFrame = {
    require(minDf >= 1, "minDf must be >= 1")
    require(postingsCap >= 1, "postingsCap must be >= 1")
    val tf = df.select(id.as("_id"), explode(words(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val ranked = tf.withColumn("_rn", row_number().over(
      Window.partitionBy(col("term")).orderBy(col("_id"))))
    ranked.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("tf_total"),
        sort_array(collect_list(
          when(col("_rn") <= postingsCap, col("_id")))).as("postings"))
      .filter(col("df") >= minDf.toLong)
  }

  /** Vocabulary-growth (Heaps'-law) curve: for every document in
    * `id` order, the number of NEW terms it introduces and the
    * running vocabulary size next to the running token count — the
    * corpus-composition audit behind "is this crawl slice adding
    * vocabulary or repeating itself?" (Heaps, Information Retrieval:
    * Computational and Theoretical Aspects, 1978: V(n) ≈ K·n^β; a
    * slice whose curve goes flat is near-duplicate-heavy).
    *
    * Output: (doc_id, toks, new_terms, cum_toks, vocab_size), one row
    * per document (empty documents included with zeros), ordered by
    * doc_id; vocab_size/cum_toks are INCLUSIVE prefix sums. All exact
    * integers.
    *
    * Scale shape: ONE corpus explode combines to the persisted
    * (doc, term, tf) relation; a term's first document is a
    * map-side-combinable min over it (|vocab| rows out — never
    * collected, never broadcast), per-doc token and new-term counts
    * are two more combinable rollups over the same cache; the two running
    * totals ride ONE packed two-phase prefix scan
    * ([[Packing.withGlobalCumsum]]: range-partition by doc_id,
    * |partitions| per-partition sums as offsets, one narrow pass — no
    * window at all). Packing contract: new_terms rides the low
    * 32 bits, so the scan is exact while total vocabulary < 2³² terms
    * and total tokens < 2³¹ — document-count-scale corpora far beyond
    * the reference's; past that, run two scans.
    */
  def vocabGrowth(df: DataFrame, id: Column, text: Column): DataFrame = {
    // ONE corpus explode, combined to the (doc, term, tf) relation,
    // persisted — the token-count and first-doc rollups are then
    // cheap aggregates over tf instead of two full corpus explodes
    val tf = org.apache.spark.sql.graft.Bridge.persistRows(
      df.select(id.as("_id"), explode(words(text)).as("term"))
        .filter(col("term") =!= "")
        .groupBy("_id", "term").agg(count(lit(1)).as("_tf")))
    val toks = tf.groupBy("_id").agg(sum(col("_tf")).as("toks"))
    val firstDoc = tf.groupBy("term").agg(min(col("_id")).as("_fd"))
      .groupBy(col("_fd").as("_id"))
      .agg(count(lit(1)).as("new_terms"))
    val base = df.select(id.as("_id"))
      .join(toks, Seq("_id"), "left")
      .join(firstDoc, Seq("_id"), "left")
      .select(col("_id"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
      .withColumn("_pk",
        col("toks") * lit(4294967296L) + col("new_terms"))
    Packing.withGlobalCumsum(base, col("_id"), col("_pk"), "_before")
      // integer unpack: `div`/pmod, NOT `/` (long / long is DOUBLE
      // division in Spark — the q_winsorize-family lesson)
      .select(col("_id").as("doc_id"), col("toks"), col("new_terms"),
        expr("(_before + _pk) div 4294967296").as("cum_toks"),
        pmod(col("_before") + col("_pk"), lit(4294967296L))
          .as("vocab_size"))
  }

  /** Positive-PMI collocations (Church & Hanks, CL 1990: word
    * association by pointwise mutual information) with the PMI test
    * kept EXACT: a bigram (x, y) is a collocation when
    * p(x,y) > p(x)·p(y), i.e. c_xy·B > lx·ry in cross-multiplied
    * BIGINTs (c_xy the bigram count, lx/ry the left/right marginals,
    * B the bigram total) — no log, no double, no rounding division
    * anywhere in the FILTER. The float PMI itself is
    * log2(pmi_num/pmi_den); it is deliberately NOT a column because
    * JVM and libm log2 disagree in the last ulp (the tfidf lesson) —
    * the exact numerator/denominator pair ships instead and any
    * consumer can take the log at display time.
    *
    * Exactness bound (the [[vocabGrowth]] convention): the BIGINT
    * cross-multiplication is exact only while c_xy·b_total < 2^63 and
    * lx·ry < 2^63 — past ~10^12 total bigrams a frequent pair's
    * product wraps and silently inverts the filter. At that scale
    * widen both products to DECIMAL(38,0)
    * (`col("c_xy").cast("decimal(38,0)") * ...`), which stays exact
    * to 2^126 at a modest aggregate cost; the LONG form is kept here
    * because every declared SF is ~6 orders of magnitude inside the
    * bound and the gate requires DuckDB-replayable BIGINT semantics.
    *
    * `minCount` prunes hapax pairs (PMI's classic pathology: a pair
    * seen once between two rare words maxes the score).
    *
    * Scale shape: ONE combinable bigram count (the corpus-sized
    * aggregate, shuffling |distinct bigrams| rows), two combinable
    * marginal rollups OVER the bigram relation (not the corpus), a
    * 1-row broadcast total, and two equi-joins on the word keys —
    * marginals stay distributed relations (billions of terms never
    * broadcast, the tfidf df-table rule).
    */
  def pmiPairs(df: DataFrame, text: Column, minCount: Int): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    // the bigram relation feeds FOUR consumers (both marginals, the
    // total, the probe side) — persist it once or each consumer
    // re-explodes and re-aggregates the whole corpus
    val bi = org.apache.spark.sql.graft.Bridge.persistRows(
      df.select(cleanWords(text).as("_ws"))
        .select(explode(ngrams(col("_ws"), 2)).as("gram"))
        .select(split_part(col("gram"), lit(" "), lit(1)).as("x"),
          split_part(col("gram"), lit(" "), lit(2)).as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("c_xy")))
    val lx = bi.groupBy("x").agg(sum(col("c_xy")).as("lx"))
    val ry = bi.groupBy("y").agg(sum(col("c_xy")).as("ry"))
    val tot = bi.agg(sum(col("c_xy")).as("b_total"))
    bi.filter(col("c_xy") >= minCount.toLong)
      .join(lx, "x").join(ry, "y")
      .crossJoin(broadcast(tot))
      .withColumn("pmi_num", col("c_xy") * col("b_total"))
      .withColumn("pmi_den", col("lx") * col("ry"))
      .filter(col("pmi_num") > col("pmi_den"))
      .select(col("x"), col("y"), col("c_xy"), col("lx"), col("ry"),
        col("b_total"), col("pmi_num"), col("pmi_den"))
  }

  /** Per-group quantized mixing entropy — "how diverse is each corpus
    * slice?" over a categorical column, with the same integer-bits
    * quantization contract as the unigram LM ([[unigramSurprisal]]):
    * category surprisal is bits(N) − bits(c) where
    * bits(v) = length(bin(v)) = ⌊log2 v⌋ + 1, so the entropy
    * numerator Σ_cat c·(bits(N) − bits(c)) is an exact BIGINT and the
    * only double is the single trailing division by N. Coarse (±1
    * bit per term) but order-free, partition-free, and hash-gateable
    * — the audit wants "which slices collapsed to one category"
    * (entropy ≈ 0), not the third decimal.
    *
    * Output: (grp, n_rows, n_cats, ent_num, ent_bits), one row per
    * group (`grp`, not `group` — the gate surface must be a
    * keyword-safe identifier in both dialects). Shape: one combinable
    * (group, cat) count, one group rollup — two map-side-combined
    * exchanges, nothing else.
    */
  def mixEntropy(df: DataFrame, group: Column, cat: Column): DataFrame = {
    val counts = df.select(group.as("_g"), cat.as("_c"))
      .filter(col("_c").isNotNull)
      .groupBy("_g", "_c").agg(count(lit(1)).as("_n"))
    def bits(c: Column): Column = length(bin(c)).cast("long")
    val byG = counts.groupBy(col("_g"))
      .agg(sum(col("_n")).as("n_rows"),
        count(lit(1)).as("n_cats"),
        sum(col("_n") * bits(col("_n"))).as("_sum_cbits"))
    byG.select(col("_g").as("grp"), col("n_rows"), col("n_cats"),
        (col("n_rows") * bits(col("n_rows")) - col("_sum_cbits"))
          .as("ent_num"))
      .withColumn("ent_bits",
        col("ent_num").cast("double") / col("n_rows").cast("double"))
  }

  /** Top-`k` label-discriminative terms by Pearson chi-square — the
    * classic feature-selection / corpus-diagnosis pass (Yang &
    * Pedersen, "A Comparative Study on Feature Selection in Text
    * Categorization", ICML 1997 found chi-square among the strongest
    * selectors): which words most separate `label` docs from the
    * rest? Used to mine classifier features, audit a quality gate for
    * topic leakage, or build blocklist candidates.
    *
    * Per term's 2×2 presence table (a = label docs containing it,
    * b = rest containing it; P/Q the class totals) the statistic is
    * chi2 = N·(aQ − bP)² / ((a+b)·(N−a−b)·P·Q). UNLIKE tfidf/bm25
    * this is log-free: one fixed-shape double expression over exact
    * BIGINTs (·, −, / are all IEEE-correctly-rounded), so the double
    * IS hash-gateable — the oracle mirrors the expression tree
    * verbatim. Terms present in every doc (or absent classes)
    * short-circuit to 0 (no discrimination measurable). Output:
    * (term, n_pos_docs, n_neg_docs, chi2, rank), rank 1..k by
    * (chi2 DESC, term).
    *
    * Shape: per-doc DISTINCT presence explode → one term-keyed
    * partial-aggregated groupBy (map-side combine absorbs the token
    * blow-up), class totals as a 1-row broadcast, then
    * TakeOrderedAndProject for the global top-k — the rank window
    * runs over ≤ k rows. No vocab broadcast, no collect.
    */
  def discriminativeTerms(df: DataFrame, id: Column, text: Column,
      label: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val present = df.select(id.as("_id"),
        when(label, 1L).otherwise(0L).as("_y"),
        explode(array_distinct(words(text))).as("term"))
      .filter(col("term") =!= "")
    val perTerm = present.groupBy("term")
      .agg(sum(col("_y")).as("n_pos_docs"),
        (count(lit(1)) - sum(col("_y"))).as("n_neg_docs"))
    val tot = df.agg(sum(when(label, 1L).otherwise(0L)).as("_p"),
      sum(when(label, 0L).otherwise(1L)).as("_q"))
    val scored = perTerm.crossJoin(broadcast(tot))
      .withColumn("_u",
        col("n_pos_docs") * col("_q") - col("n_neg_docs") * col("_p"))
      .withColumn("_c", col("n_pos_docs") + col("n_neg_docs"))
      .withColumn("_e", col("_p") + col("_q") - col("_c"))
      .withColumn("chi2",
        when(col("_p") === 0L || col("_q") === 0L || col("_e") === 0L,
          lit(0.0))
          .otherwise(
            (col("_p") + col("_q")).cast("double") *
              col("_u").cast("double") * col("_u").cast("double") /
              (col("_c").cast("double") * col("_e").cast("double") *
                col("_p").cast("double") * col("_q").cast("double"))))
    val w = Window.orderBy(col("chi2").desc, col("term"))
    scored.orderBy(col("chi2").desc, col("term")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select("term", "n_pos_docs", "n_neg_docs", "chi2", "rank")
  }

  /** Top-`k` BM25 terms per document (Robertson & Zaragoza, "The
    * Probabilistic Relevance Framework: BM25 and Beyond", 2009) —
    * the retrieval scorer TF-IDF approximates: saturating term
    * frequency (k1), document-length normalization (b), and the
    * +1-smoothed RSJ idf. Output: _id, term, tf, df, dl, bm25,
    * term_rank.
    *
    * Every score is ONE fixed-shape double expression over integer
    * inputs (tf, df, dl, N, Σdl) — no accumulation — written with the
    * identical literal/operation order the oracle uses, the same
    * bit-reproducibility contract as [[tfidfTopTerms]] and
    * Resample.gridInterp. Shape: the (doc, term) and per-term df
    * relations of tfidf plus one |docs| doc-length relation joined on
    * the doc key and a single broadcast scalar row (N, Σdl) — still
    * no vocabulary broadcast.
    */
  def bm25TopTerms(df: DataFrame, id: Column, text: Column,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val terms = df.select(id.as("_id"),
        explode(words(text)).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dlen = tf.groupBy(col("_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("_n"))
      .crossJoin(dlen.agg(sum(col("dl")).as("_tot")))
    val w = Window.partitionBy(col("_id"))
      .orderBy(col("bm25").desc, col("term"))
    tf.join(dfreq, "term")
      .join(dlen, "_id")
      .crossJoin(broadcast(n))
      .withColumn("_avgdl", col("_tot").cast("double") / col("_n"))
      .withColumn("bm25",
        log((col("_n") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (col("dl") / col("_avgdl")))))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col("_id"), col("term"), col("tf"), col("df"), col("dl"),
        col("bm25"), col("term_rank"))
  }

  /** Integer-quantized corpus unigram-LM surprisal per document — the
    * CCNet-style LM-quality signal (Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data",
    * arXiv:1911.00359 rank documents by LM perplexity and keep the
    * head/middle of the distribution; here the LM is the corpus's own
    * unigram model).
    *
    * Quantization contract: token surprisal is `bits(N) − bits(cnt_t)`
    * where `bits(x) = length(bin(x))` = ⌊log2 x⌋ + 1 and N is the
    * corpus token count — an integer within ±1 of the real
    * −log2(cnt/N). Everything downstream (per-doc total, the
    * centibit average via integer division) stays in exact BIGINT
    * arithmetic, which is what makes a transcendental-free DuckDB
    * oracle possible: cross-engine `ln` can disagree in the final ulp
    * (see [[tfidfTopTerms]]), so a double-precision surprisal sum is
    * not hash-gateable, and the integer variant ranks documents
    * near-identically (a doc's average shifts by < 1 bit).
    *
    * Scale shape: token counts are a distributed relation joined on
    * the term key (never a broadcast vocabulary — corpus-scale vocabs
    * are billions of terms); only the single-row corpus total is
    * broadcast. Both aggregations are map-side combinable.
    */
  def unigramSurprisal(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.select(id.as("_id"), explode(words(text)).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val tot = cnt.agg(sum(col("cnt")).as("_nt"))
    tf.join(cnt, "term")
      .crossJoin(broadcast(tot))
      .select(col("_id"), col("tf"),
        (length(bin(col("_nt"))) - length(bin(col("cnt"))))
          .cast("long").as("_sbits"))
      .groupBy(col("_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("_sbits")).as("total_bits"))
      .withColumn("avg_centibits", expr("total_bits * 100 DIV n_tokens"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank each
    * document by its LM quality signal WITHIN its group (CCNet
    * buckets per language; here `group` is the caller's slice — e.g.
    * source) and label the best-scoring third `head`, the next
    * `middle`, the rest `tail` — the tranche label downstream
    * training mixes on. The signal is [[unigramSurprisal]]'s
    * integer-quantized avg_centibits (LOWER = more fluent = head),
    * tiebroken by doc id.
    *
    * Bucket rule (the percent_rank convention both gate families
    * share): pr over (avg_centibits, id) within group —
    * head pr < 1/3, middle 1/3 ≤ pr < 2/3, tail pr ≥ 2/3; a 1-doc
    * group is head (pr = 0).
    *
    * Scale shape: NO per-group sort of the corpus — the two tercile
    * boundaries come from [[Quantiles.rankBoundary]]'s histogram
    * machinery ((group, value) counts → BIGINT boundary-rank
    * arithmetic → one-value-class tiebreak window), each a
    * |groups|-row broadcast; the bucket label is then two broadcast
    * comparisons in one pass over the surprisal relation. A windowed
    * percent_rank would serialize each group through one task — a
    * scale-killer when one source holds 10¹⁰ documents; the
    * quantized integer score keeps the histogram's value classes fat,
    * which is exactly where the two-pass gate is cheapest.
    */
  def ccnetBuckets(df: DataFrame, id: Column, text: Column,
      group: Column): DataFrame = {
    // the surprisal relation is consumed three times (two boundary
    // derivations + the labeling pass) — persist the ONE
    // tokenize/count pass instead of re-scanning the corpus
    // (persistRows: GC-managed, lazy, lineage intact)
    val us = org.apache.spark.sql.graft.Bridge.persistRows(
      unigramSurprisal(df, id, text)
        .join(df.select(id.as("_id"), group.as("grp")), "_id"))
    val b13 = Quantiles.rankBoundary(us, col("grp"),
        col("avg_centibits"), col("_id"), 1, 3)
      .select(col("_g"), col("_qb").as("_qb13"), col("_tb").as("_tb13"))
    val b23 = Quantiles.rankBoundary(us, col("grp"),
        col("avg_centibits"), col("_id"), 2, 3)
      .select(col("_g"), col("_qb").as("_qb23"), col("_tb").as("_tb23"))
    def atLeast(qb: Column, tb: Column): Column =
      coalesce(col("avg_centibits").cast("double") > qb ||
        (col("avg_centibits").cast("double") === qb &&
          col("_id") >= tb), lit(false))
    us
      .join(broadcast(b13), col("grp") === col("_g"), "left")
      .drop("_g")
      .join(broadcast(b23), col("grp") === col("_g"), "left")
      .drop("_g")
      .select(col("_id"), col("grp"), col("avg_centibits"),
        when(atLeast(col("_qb23"), col("_tb23")), lit("tail"))
          .when(atLeast(col("_qb13"), col("_tb13")), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  /** Integer-quantized bigram-LM conditional surprisal per document —
    * the order-2 refinement of [[unigramSurprisal]]: each bigram
    * (w, w') costs `bits(cnt_prefix(w)) − bits(cnt_bigram(w, w'))`
    * quantized bits, i.e. −log2 of the corpus conditional frequency
    * P(w'|w) = cnt(w,w')/Σ_v cnt(w,v), rounded to an integer via the
    * same ⌊log2⌋+1 trick. A KenLM-style filter ranks by exactly this
    * conditional (not marginal) cost: templated text with common
    * words in UNCOMMON orders scores high where the unigram model is
    * blind. Same quantization contract as the unigram variant — all
    * BIGINT downstream, transcendental-free, oracle-exact.
    *
    * Scale shape: bigram counts and prefix counts are distributed
    * relations joined on the gram / prefix-word key (vocab² is far
    * beyond any broadcast); the prefix relation derives from the
    * already-reduced bigram-count relation, so the token blow-up is
    * absorbed by map-side combine exactly once. Documents with < 2
    * words have no bigrams and are absent (mirrored by the oracle).
    */
  def bigramSurprisal(df: DataFrame, id: Column, text: Column): DataFrame = {
    val base = df.select(id.as("_id"), cleanWords(text).as("_ws"))
    val toks = base.select(col("_id"),
      explode(bigrams(col("_ws"))).as("bg"))
    val tf = toks.groupBy(col("_id"), col("bg"))
      .agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy(col("bg")).agg(sum(col("tf")).as("cnt"))
    val pre = cnt.groupBy(substring_index(col("bg"), " ", 1).as("_pre"))
      .agg(sum(col("cnt")).as("pcnt"))
    tf.join(cnt, "bg")
      .join(pre, substring_index(col("bg"), " ", 1) === col("_pre"))
      .select(col("_id"), col("tf"),
        (length(bin(col("pcnt"))) - length(bin(col("cnt"))))
          .cast("long").as("_sbits"))
      .groupBy(col("_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("_sbits")).as("total_bits"))
      .withColumn("avg_centibits", expr("total_bits * 100 DIV n_bigrams"))
  }

  /** Per-document counts / distinct counts / heaviest gram / duplicate
    * fraction for one gram order: explode → (doc, gram) partial
    * aggregation → per-doc roll-up. */
  private def gramProfile(df: DataFrame, id: Column, grams: Column,
      gram: String, suffix: String): DataFrame =
    df.select(id.as("_id"), explode(grams).as(gram))
      .groupBy(col("_id"), col(gram))
      .agg(count(lit(1)).as("_cnt"))
      .groupBy(col("_id"))
      .agg(
        sum(col("_cnt")).as(s"n_$suffix"),
        count(lit(1)).as(s"n_distinct_$suffix"),
        max(col("_cnt")).as(s"top_${gram}_cnt"))
      .withColumn(s"dup_${gram}_frac",
        (col(s"n_$suffix") - col(s"n_distinct_$suffix")).cast("double") /
          col(s"n_$suffix").cast("double"))

  /** Per-document repetition profile over words and word-bigrams: the
    * standard "fraction of duplicated n-grams" repetition gates from
    * the Gopher filtering stack.
    *
    * The words array is bound to a column BEFORE the bigram lambda
    * touches it: a lambda capturing the raw `split(...)` expression
    * inlines it into the lambda body, so `size`/`element_at` re-run
    * the split once per element — O(n²) per row (measured 5.6 s for
    * this query at sf0.1 unbound vs 1.7 s bound).
    */
  def repetitionStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val base = df.select(id.as("_id"), cleanWords(text).as("_ws"))
    gramProfile(base, col("_id"), col("_ws"), "word", "words")
      .join(gramProfile(base, col("_id"), bigrams(col("_ws")), "bigram",
        "bigrams"), "_id")
  }

  // ---- The n-gram family: one gram relation, four consumers ----------
  //
  // Every n-gram consumer below is a function of ONE relation, the
  // gram rows `(_id, [pos,] _k)`, and never of the text. Three sources
  // feed it: the hashed inline source ([[gramKeys]] /
  // [[gramPositions]], the Shingles kernel's xxhash64 keys), a saved
  // bucketed table of that same source (`spark.table(tbl)`, written by
  // [[saveGramTable]]), and — in test sources only — the string-key
  // `ngrams` chain the DuckDB oracles replay, which pins hashed ==
  // string on the fixtures. Every consumer output is gram-free
  // (per-doc counts and positions), so the string-key oracle gates the
  // hashed source exactly (64-bit collisions ≈ |grams|²/2⁶⁵ —
  // immaterial). The streaming novelty twin reads the same source.

  /** The hashed gram relation `(_id, _k)`: `_k` = xxhash64 of each
    * space-joined word `n`-gram ([[hashedGrams]], one codegen'd pass —
    * byte-identical to `xxhash64(concat_ws(" ", gram))`). With
    * `distinct` each doc's grams are a set (the contamination/novelty
    * input); without, every gram occurrence is a row (the
    * [[sharedGramRollup]] input, which counts multiplicities).
    * Documents with fewer than `n` words have no rows.
    */
  def gramKeys(df: DataFrame, id: Column, text: Column, n: Int,
      distinct: Boolean): DataFrame = {
    require(n >= 1, "n must be >= 1")
    df.select(id.as("_id"),
      explode(hashedGrams(cleanWords(text), n, distinct)).as("_k"))
  }

  /** The positional hashed gram relation `(_id, pos, _k)`: one row per
    * gram start, `pos` the 0-based token index as BIGINT (index i of
    * the positional [[hashedGrams]] array is the gram starting at
    * token i). The [[sharedGramSpans]] input; [[sharedGramRollup]]
    * reads it too (it ignores `pos`).
    */
  def gramPositions(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    df.select(id.as("_id"),
        posexplode(hashedGrams(cleanWords(text), n, distinct = false))
          .as(Seq("pos", "_k")))
      .select(col("_id"), col("pos").cast("long").as("pos"), col("_k"))
  }

  /** Save a gram relation as a table BUCKETED and sorted on `_k` — the
    * artifact pattern (BPE merges, ANN indexes) applied to grams: the
    * corpus tokenization is the shared fixed cost of the whole family,
    * and a corpus's gram relation changes exactly when the corpus
    * does. One materialization, N consumers; every downstream
    * distinct/groupBy/join on `_k` — and every groupBy on `(_id, _k)`,
    * since hash-partitioning on `_k` co-locates equal pairs — reads
    * the corpus side exchange-free. External table (explicit `path`),
    * the same overwrite contract as the other artifacts.
    */
  def saveGramTable(grams: DataFrame, table: String, path: String,
      buckets: Int = 8): Unit =
    grams.write.mode("overwrite").option("path", path)
      .bucketBy(buckets, "_k").sortBy("_k")
      .saveAsTable(table)

  /** Per doc of the `probe` slice of a per-doc-distinct gram relation:
    * its gram count and how many of its grams occur anywhere in the
    * `keys` slice — (_id, n_grams, _hits). Both slices are FILTERS of
    * the one relation on `_id`: over the inline source Catalyst pushes
    * each filter below the explode, so each side tokenizes only its
    * own documents (two disjoint scans = one corpus pass; measured no
    * slower than persisting the exploded relation, which is ~5× the
    * corpus); over a bucketed table both the key distinct and the LEFT
    * join run inside the table's own bucketing. The key side is a
    * DISTINCT relation joined on the gram key — never a broadcast or a
    * driver-side set, so the same audit runs train-vs-train at corpus
    * scale.
    */
  private def overlap(grams: DataFrame, probe: Column,
      keys: Column): DataFrame = {
    val hit = grams.filter(keys).select(col("_k")).distinct()
      .withColumn("_hit", lit(1L))
    grams.filter(probe)
      .join(hit, Seq("_k"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("_hits"))
  }

  /** Eval-set DECONTAMINATION audit (Brown et al. 2020, GPT-3
    * appendix C; the n-gram-overlap test-set-leakage check every
    * pretraining pipeline runs before training and every eval report
    * runs after): for each TRAINING document, how many of its
    * distinct n-grams also occur in ANY held-out evaluation
    * document — (_id, n_grams, n_contaminated, contam_pct), the
    * relation a pipeline filters (or flags) on before the corpus
    * ships. `grams` is a per-doc-distinct `(_id, _k)` relation
    * ([[gramKeys]] with `distinct`, or its saved table); `isEval` is a
    * predicate over `_id` marking the benchmark slice. An empty eval
    * slice reports every train doc at zero.
    */
  def contamination(grams: DataFrame, isEval: Column): DataFrame =
    overlap(grams, !isEval, isEval)
      .select(col("_id"), col("n_grams"),
        col("_hits").as("n_contaminated"))
      .withColumn("contam_pct", expr("n_contaminated * 100 DIV n_grams"))

  /** N-gram NOVELTY gate (continual-pretraining admission): for each
    * document of the increment (`isNew`, a predicate over `_id`), the
    * fraction of its distinct n-grams never seen in the rest of the
    * corpus — (_id, n_grams, n_seen, novelty_frac). Same input
    * contract as [[contamination]]; the history compresses to its
    * distinct-gram relation (vocabulary-sized, reusable across
    * increments) and each increment LEFT-joins on the gram key.
    */
  def novelty(grams: DataFrame, isNew: Column): DataFrame =
    overlap(grams, isNew, !isNew)
      .select(col("_id"), col("n_grams"), col("_hits").as("n_seen"),
        ((col("n_grams") - col("_hits")).cast("double") /
          col("n_grams").cast("double")).as("novelty_frac"))

  /** CROSS-document duplicated n-gram profile — the substring-level
    * dedup signal document-level MinHash misses (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): boilerplate headers, license blocks, and
    * templated spans recur across otherwise-distinct documents, and
    * their per-doc share is the standard gate/trim criterion.
    *
    * Input: every gram occurrence as an `(_id, _k)` row ([[gramKeys]]
    * without `distinct`, or the positional table). Per document: total
    * gram positions, positions whose gram also occurs in at least one
    * OTHER document, and the shared fraction. Shape: (doc, gram)
    * partial agg (the map-side combine absorbs within-doc repeats
    * before the shuffle) → gram-keyed doc-frequency relation → join
    * back on the gram → per-doc roll-up; no vocabulary broadcast, no
    * collect. Over the bucketed table both gram aggregations run
    * exchange-free and only the |docs|-row rollup shuffles.
    */
  def sharedGramRollup(grams: DataFrame): DataFrame = {
    val perDoc = grams
      .groupBy(col("_id"), col("_k"))
      .agg(count(lit(1)).as("_cnt"))
    val docFreq = perDoc.groupBy(col("_k"))
      .agg(count(lit(1)).as("_nd"))
    perDoc.join(docFreq, "_k")
      .groupBy(col("_id"))
      .agg(
        sum(col("_cnt")).as("n_grams"),
        sum(when(col("_nd") > 1, col("_cnt")).otherwise(lit(0L)))
          .as("n_shared_grams"))
      .withColumn("shared_gram_frac",
        col("n_shared_grams").cast("double") /
          col("n_grams").cast("double"))
  }

  /** Maximal duplicated spans per document — the actual REMOVAL unit
    * of substring-level dedup (Lee et al. trim the duplicated spans,
    * not whole documents): positions whose n-gram occurs in another
    * document, merged into maximal runs (consecutive gram starts
    * overlap by n-1 tokens, so a run is one contiguous duplicated
    * region). Input: the positional `(_id, pos, _k)` relation of order
    * `n` ([[gramPositions]] or its table). Output per span:
    * (_id, span_start, span_end, span_grams) with token indices
    * 0-based and span_end inclusive (= last gram start + n-1).
    *
    * Shape: the gram-keyed doc-frequency gate of [[sharedGramRollup]],
    * then gaps-and-islands inside the per-doc window (lag → break flag
    * → running sum), the [[Sessionize]] pattern transplanted from time
    * to token position — one extra shuffle on the doc key, spill-safe
    * through the sort machinery.
    */
  def sharedGramSpans(grams: DataFrame, n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val docFreq = grams.groupBy(col("_k"))
      .agg(count_distinct(col("_id")).as("_nd"))
    val w = Window.partitionBy(col("_id")).orderBy(col("pos"))
    grams.join(docFreq.filter(col("_nd") > 1), "_k")
      .select(col("_id"), col("pos"))
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) === 1L, 0L)
          .otherwise(1L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n.toLong - 1)).as("span_end"),
        count(lit(1)).as("span_grams"))
      .drop("island")
  }
}
