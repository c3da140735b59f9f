package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TermStats

/** Goldens for TF-IDF term ranking and the repetition profile,
  * including the raw tfidf doubles the oracle gate deliberately
  * excludes (cross-engine ln ulp — see q_tfidf's comment).
  */
class TermStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (0L, "apple banana apple cherry"),
    (1L, "banana cherry banana banana"),
    (2L, "apple cherry date date")).toDF("doc_id", "text")

  test("tfidf: tf/df/rank and the double scores match hand computation") {
    val out = TermStats.tfidfTopTerms(corpus, col("doc_id"), col("text"), 2)
      .select(col("_id"), col("term"), col("tf"), col("df"), col("tfidf"),
        col("term_rank"))
      .as[(Long, String, Long, Long, Double, Int)].collect()
      .sortBy(t => (t._1, t._6)).toSeq
    val ln32 = StrictMath.log(3.0 / 2.0) // apple, banana, date appear in 2 docs
    // cherry: df=3 → ln(1)=0 ⇒ never top unless nothing else
    val expected = Seq(
      (0L, "apple", 2L, 2L, 2.0 * ln32, 1),
      (0L, "banana", 1L, 2L, 1.0 * ln32, 2),
      (1L, "banana", 3L, 2L, 3.0 * ln32, 1),
      (1L, "cherry", 1L, 3L, 0.0, 2),
      (2L, "date", 2L, 1L, 2.0 * StrictMath.log(3.0), 1), // df=1: doc 2 only
      (2L, "apple", 1L, 2L, 1.0 * ln32, 2))
    assert(out === expected)
  }

  test("invertedIndex: df/tf_total/sorted capped postings") {
    val out = TermStats
      .invertedIndex(corpus, col("doc_id"), col("text"), 1, 2)
      .select(col("term"), col("df"), col("tf_total"), col("postings"))
      .as[(String, Long, Long, Seq[Long])].collect()
      .sortBy(_._1).toSeq
    assert(out === Seq(
      // cap = 2: cherry (df 3) truncates to its two lowest doc ids
      ("apple", 2L, 3L, Seq(0L, 2L)),
      ("banana", 2L, 4L, Seq(0L, 1L)),
      ("cherry", 3L, 3L, Seq(0L, 1L)),
      ("date", 1L, 2L, Seq(2L))))
    // minDf prunes the hapax tail
    val pruned = TermStats
      .invertedIndex(corpus, col("doc_id"), col("text"), 2, 10)
      .select(col("term")).as[String].collect().sorted.toSeq
    assert(pruned === Seq("apple", "banana", "cherry"))
  }

  test("bm25: scores and ranks match a hand-rolled reference") {
    val out = TermStats.bm25TopTerms(corpus, col("doc_id"), col("text"), 3)
      .select(col("_id"), col("term"), col("tf"), col("df"), col("dl"),
        col("bm25"), col("term_rank"))
      .as[(Long, String, Long, Long, Long, Double, Int)].collect()
      .sortBy(t => (t._1, t._7)).toSeq

    val docs = Seq(0L -> "apple banana apple cherry",
      1L -> "banana cherry banana banana",
      2L -> "apple cherry date date")
    val tf = docs.flatMap { case (id, t) =>
      t.split("\\s+").groupBy(identity).map { case (w, ws) =>
        (id, w, ws.length.toLong)
      }
    }
    val dfm = tf.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val dlm = tf.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val n = docs.size.toLong
    val avgdl = dlm.values.sum.toDouble / n
    def score(t: Long, df: Long, dl: Long): Double =
      math.log((n - df + 0.5) / (df + 0.5) + 1.0) *
        (t * 2.2) / (t + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
    val ref = tf.map { case (id, w, t) =>
      (id, w, t, dfm(w), dlm(id), score(t, dfm(w), dlm(id)))
    }.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._6, r._2)).take(3).zipWithIndex
        .map { case (r, i) => (r._1, r._2, r._3, r._4, r._5, r._6, i + 1) }
    }.sortBy(t => (t._1, t._7))
    assert(out.map(r => (r._1, r._2, r._3, r._4, r._5, r._7)) ===
      ref.map(r => (r._1, r._2, r._3, r._4, r._5, r._7)))
    out.zip(ref).foreach { case (o, r) =>
      assert(math.abs(o._6 - r._6) < 1e-12, s"score ${o._2}")
    }
  }

  test("unigram surprisal: bits quantization matches hand computation") {
    // corpus counts: apple 3, banana 4, cherry 3, date 2 → N = 12
    // bits: N=12→4; cnt 3→2, 4→3, 2→2
    val out = TermStats.unigramSurprisal(corpus, col("doc_id"), col("text"))
      .select(col("_id"), col("n_tokens"), col("total_bits"),
        col("avg_centibits"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 0: apple×2 (4−2=2 each) + banana (4−3=1) + cherry (2) = 7
    // doc 1: banana×3 (1 each) + cherry (2) = 5
    // doc 2: apple (2) + cherry (2) + date×2 (4−2=2 each) = 8
    val expected = Seq(
      (0L, 4L, 7L, 175L),
      (1L, 4L, 5L, 125L),
      (2L, 4L, 8L, 200L))
    assert(out === expected)
  }

  test("unigram surprisal: the quantized score is within 1 bit of real " +
      "-log2 and a rare token scores higher than a common one") {
    val skewed = (Seq((0L, Seq.fill(30)("the").mkString(" "))) :+
      (1L, "the zyzzyva")).toDF("doc_id", "text")
    val out = TermStats.unigramSurprisal(skewed, col("doc_id"), col("text"))
      .select(col("_id"), col("n_tokens"), col("total_bits"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // N=32 (bits 6); the: cnt=31 (bits 5) → s=1; zyzzyva: cnt=1 → s=5
    assert(out === Seq((0L, 30L, 30L), (1L, 2L, 6L)))
    val realThe = -math.log(31.0 / 32.0) / math.log(2.0) // ≈ 0.046
    val realZy = -math.log(1.0 / 32.0) / math.log(2.0) // = 5.0
    assert(math.abs(1.0 - realThe) <= 1.0 + 1e-9)
    assert(math.abs(5.0 - realZy) <= 1.0 + 1e-9)
  }

  test("tfidf ties on equal score break by term ascending") {
    // two df=N terms both score 0 — order must be lexicographic
    val df = Seq((0L, "zz aa"), (1L, "aa zz")).toDF("doc_id", "text")
    val out = TermStats.tfidfTopTerms(df, col("doc_id"), col("text"), 2)
      .select(col("_id"), col("term"), col("term_rank"))
      .as[(Long, String, Int)].collect().sortBy(t => (t._1, t._3)).toSeq
    assert(out === Seq((0L, "aa", 1), (0L, "zz", 2),
      (1L, "aa", 1), (1L, "zz", 2)))
  }

  test("repetitionStats: counts, heaviest grams, duplicate fractions") {
    val df = Seq((0L, "a b a b a")).toDF("doc_id", "text")
    // words: a×3 b×2 → n=5 distinct=2 top=3 dup=3/5
    // bigrams: "a b"×2 "b a"×2 → n=4 distinct=2 top=2 dup=1/2
    val out = TermStats.repetitionStats(df, col("doc_id"), col("text"))
      .select("_id", "n_words", "n_distinct_words", "top_word_cnt",
        "dup_word_frac", "n_bigrams", "n_distinct_bigrams",
        "top_bigram_cnt", "dup_bigram_frac")
      .as[(Long, Long, Long, Long, Double, Long, Long, Long, Double)]
      .collect().toSeq
    assert(out === Seq((0L, 5L, 2L, 3L, 0.6, 4L, 2L, 2L, 0.5)))
  }

  test("repetition on an all-unique doc reports zero duplication") {
    val out = TermStats.repetitionStats(
        Seq((1L, "one two three four")).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .select("dup_word_frac", "dup_bigram_frac")
      .as[(Double, Double)].collect().toSeq
    assert(out === Seq((0.0, 0.0)))
  }

  test("pmiPairs: exact cross-multiplied positive-PMI filter and " +
      "marginals match hand computation") {
    import spark.implicits._
    // bigrams: (a b)x3, (b a)x2, (c d)x1 -> B = 6
    // lx: a=3, b=2, c=1 ; ry: b=3, a=2, d=1
    val df = Seq("a b a b a b", "c d").toDF("text")
    val got = graft.operators.TermStats.pmiPairs(df, col("text"), 1)
      .select("x", "y", "c_xy", "lx", "ry", "b_total", "pmi_num", "pmi_den")
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().map(t => (t._1, t._2) -> t).toMap
    // (a,b): 3*6=18 > 3*3=9 -> positive, kept
    assert(got(("a", "b")) === ("a", "b", 3L, 3L, 3L, 6L, 18L, 9L))
    // (b,a): 2*6=12 > 2*2=4 -> kept
    assert(got(("b", "a")) === ("b", "a", 2L, 2L, 2L, 6L, 12L, 4L))
    // (c,d): 1*6=6 > 1*1=1 -> kept (hapax positive; minCount prunes
    // these in the gated query)
    assert(got(("c", "d")) === ("c", "d", 1L, 1L, 1L, 6L, 6L, 1L))
    assert(got.size === 3)
    // minCount prunes the hapax pair
    assert(graft.operators.TermStats.pmiPairs(df, col("text"), 2)
      .count() === 2L)
  }

  test("mixEntropy: bits-quantized entropy numerator matches hand " +
      "computation; single-category group scores zero") {
    import spark.implicits._
    val df = Seq(("s1", "en"), ("s1", "en"), ("s1", "en"), ("s1", "vi"),
      ("s2", "en"), ("s2", "en")).toDF("src", "lang")
    val got = graft.operators.TermStats
      .mixEntropy(df, col("src"), col("lang"))
      .select("grp", "n_rows", "n_cats", "ent_num", "ent_bits")
      .as[(String, Long, Long, Long, Double)]
      .collect().map(t => t._1 -> t).toMap
    // s1: N=4 bits(4)=3; counts en=3 (bits 2), vi=1 (bits 1)
    // ent_num = 4*3 - (3*2 + 1*1) = 12 - 7 = 5
    assert(got("s1") === ("s1", 4L, 2L, 5L, 1.25))
    // s2: N=2 bits(2)=2; en=2 -> 2*2 - 2*2 = 0 (collapsed slice)
    assert(got("s2") === ("s2", 2L, 1L, 0L, 0.0))
  }

  test("ngrams: positional n-grams, short arrays yield none") {
    val out = corpus.select(col("doc_id"),
        TermStats.ngrams(TermStats.words(col("text")), 3).as("g"))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (0L, Seq("apple banana apple", "banana apple cherry")),
      (1L, Seq("banana cherry banana", "cherry banana banana")),
      (2L, Seq("apple cherry date", "cherry date date"))))
    val short = Seq((9L, "one two")).toDF("doc_id", "text")
      .select(TermStats.ngrams(TermStats.words(col("text")), 3).as("g"))
      .as[Seq[String]].collect().head
    assert(short.isEmpty)
  }

  test("crossDocNgramStats: shared-across-docs grams counted per doc") {
    // bigrams: only "apple cherry" occurs in two docs (0 and 2)
    val out = TermStats.sharedGramRollup(TermStats.gramKeys(
        corpus, col("doc_id"), col("text"), 2, distinct = false))
      .select("_id", "n_grams", "n_shared_grams", "shared_gram_frac")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (0L, 3L, 1L, 1.0 / 3.0),
      (1L, 3L, 0L, 0.0),
      (2L, 3L, 1L, 1.0 / 3.0)))
    // a within-doc repeat of a shared gram counts every position:
    // "x y x y" has "x y" twice; shared with doc 11 → 2 of its 3 grams
    val rep = Seq((10L, "x y x y"), (11L, "x y z")).toDF("doc_id", "text")
    val r = TermStats.sharedGramRollup(TermStats.gramKeys(
        rep, col("doc_id"), col("text"), 2, distinct = false))
      .select("_id", "n_grams", "n_shared_grams")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(r === Seq((10L, 3L, 2L), (11L, 2L, 1L)))
  }

  test("sharedGramSpans: consecutive duplicated grams merge into maximal spans") {
    // "x y" is the only cross-doc bigram: doc 10 has it at positions 0
    // and 2 (non-adjacent → two spans), doc 11 once
    val c1 = Seq((10L, "x y x y"), (11L, "x y z")).toDF("doc_id", "text")
    val s1 = TermStats.sharedGramSpans(
        TermStats.gramPositions(c1, col("doc_id"), col("text"), 2), 2)
      .select("_id", "span_start", "span_end", "span_grams")
      .as[(Long, Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(s1 === Seq((10L, 0L, 1L, 1L), (10L, 2L, 3L, 1L),
      (11L, 0L, 1L, 1L)))
    // adjacent duplicated positions 0 and 1 merge into ONE span 0..2
    val c2 = Seq((20L, "a b c d"), (21L, "a b c e")).toDF("doc_id", "text")
    val s2 = TermStats.sharedGramSpans(
        TermStats.gramPositions(c2, col("doc_id"), col("text"), 2), 2)
      .select("_id", "span_start", "span_end", "span_grams")
      .as[(Long, Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(s2 === Seq((20L, 0L, 2L, 2L), (21L, 0L, 2L, 2L)))
  }

  test("hashed-gram shared-ngram path equals the string-key path") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def run(grams: org.apache.spark.sql.DataFrame) =
      TermStats.sharedGramRollup(grams)
        .select("_id", "n_grams", "n_shared_grams")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val str = run(StringGrams.keys(docs, col("doc_id"), col("text"), 5,
      distinct = false))
    val hashed = run(TermStats.gramKeys(docs, col("doc_id"), col("text"),
      5, distinct = false))
    assert(str.nonEmpty && str === hashed)
  }

  test("hashed-gram spans path equals the string-key path") {
    // q_dedup_spans reads the hashed gram relation; its DuckDB oracle
    // replays raw gram strings — valid only while the two sources
    // agree row-for-row on real data
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def run(grams: org.apache.spark.sql.DataFrame) =
      TermStats.sharedGramSpans(grams, 5)
        .select("_id", "span_start", "span_end", "span_grams")
        .as[(Long, Long, Long, Long)].collect()
        .sortBy(t => (t._1, t._2)).toSeq
    val str = run(StringGrams.positions(docs, col("doc_id"), col("text"), 5))
    val hashed = run(TermStats.gramPositions(docs, col("doc_id"),
      col("text"), 5))
    assert(str.nonEmpty && str === hashed)
  }

  test("hashed-gram novelty gate equals the string-key oracle twin") {
    // q_ngram_novelty reads the xxhash64 gram relation; its DuckDB
    // oracle replays raw gram strings — valid only while the two
    // sources agree row-for-row on real data
    val dir = "/root/testdata/sf0.001"
    val str = TermStats.novelty(
        StringGrams.keys(Tables.documents(spark, dir), col("doc_id"),
          col("text"), 5, distinct = true),
        col("_id") % 10 === 0)
      .orderBy("_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val hashed = SparkEntry.queries("q_ngram_novelty")(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(str.nonEmpty && str === hashed)
  }

  test("trailing whitespace adds no phantom grams (split-parity hazard)") {
    // Java split DROPS trailing empty tokens, DuckDB string_split_regex
    // KEEPS them; cleanWords pins both engines to the filtered array so
    // a trailing-whitespace doc can't diverge from the oracle by one
    // bigram (round-7 ADVICE). Same text ± trailing/leading whitespace
    // must produce identical profiles.
    val clean = Seq((0L, "a b a c")).toDF("doc_id", "text")
    val messy = Seq((0L, "  a b a c \t ")).toDF("doc_id", "text")
    def profile(df: org.apache.spark.sql.DataFrame) = Seq(
      TermStats.repetitionStats(df, col("doc_id"), col("text"))
        .drop("_id").collect().toSeq,
      TermStats.bigramSurprisal(df, col("doc_id"), col("text"))
        .drop("_id").collect().toSeq,
      TermStats.sharedGramSpans(
          TermStats.gramPositions(df, col("doc_id"), col("text"), 2), 2)
        .drop("_id").collect().toSeq)
    assert(profile(clean) === profile(messy))
  }

  test("tfidf plan: df table joins on term, corpus size broadcasts") {
    val plan = TermStats.tfidfTopTerms(
        Tables.documents(spark, "/root/testdata/sf0.001"),
        col("doc_id"), col("text"), 3)
      .queryExecution.executedPlan.toString
    // the single-row count is the ONLY broadcast: the vocabulary-sized
    // document-frequency relation must never be collected or broadcast
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("discriminativeTerms matches the hand-computed chi-square table") {
    // P=2 en docs, Q=2 others. 'a': (2,0) -> chi2 = 4*16/(2*2*2*2) = 4;
    // 'c': (1,2) -> u=-2, chi2 = 4*4/(3*1*2*2) = 4/3; 'b': (1,1) -> 0
    val docs = Seq((1L, "a b", "en"), (2L, "a c", "en"),
      (3L, "b c", "fr"), (4L, "c", "fr")).toDF("doc_id", "text", "lang")
    val rows = TermStats.discriminativeTerms(docs, col("doc_id"),
      col("text"), col("lang") === "en", k = 3).orderBy("rank").collect()
    assert(rows.map(r => (r.getAs[String]("term"), r.getAs[Long]("n_pos_docs"),
      r.getAs[Long]("n_neg_docs"))).toSeq ===
      Seq(("a", 2L, 0L), ("c", 1L, 2L), ("b", 1L, 1L)))
    assert(rows.map(_.getAs[Double]("chi2")).toSeq ===
      Seq(4.0, 4.0 / 3.0, 0.0))
    assert(rows.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3))
  }

  test("discriminativeTerms: a term present in every doc scores 0, " +
    "duplicate occurrences in one doc count once") {
    val docs = Seq((1L, "x x y", "en"), (2L, "x", "fr"))
      .toDF("doc_id", "text", "lang")
    val rows = TermStats.discriminativeTerms(docs, col("doc_id"),
        col("text"), col("lang") === "en", k = 5)
      .collect().map(r => r.getAs[String]("term") ->
        (r.getAs[Long]("n_pos_docs"), r.getAs[Double]("chi2"))).toMap
    assert(rows("x") === ((1L, 0.0))) // in all docs -> e=0 guard
    assert(rows("x")._1 === 1L)       // 'x x' counted once for doc 1
    assert(rows("y")._2 > 0.0)        // only-en term discriminates
  }

  test("ccnetBuckets: per-group terciles equal the percent_rank " +
      "window rule; single-doc group is head; partitioning-invariant") {
    // group A: 6 docs → pr = (r−1)/5; head pr < 1/3 (r ≤ 2),
    // middle pr < 2/3 (r ≤ 4), tail r ≥ 5. Texts built so the
    // surprisal ORDER is known: more repetitions of the corpus's
    // dominant word = cheaper = lower rank
    val docs = (
      (0 until 6).map { i =>
        // doc i: (6−i) common words + i rare-ish fillers → surprisal
        // strictly increases with i
        val text = (Seq.fill(6 - i)("the") ++
          (0 until i).map(j => s"rare_${i}_$j")).mkString(" ")
        (i.toLong, text, "A")
      } :+ ((10L, "the solo document", "B"))
    ).toDF("doc_id", "text", "source")
    val runs = (0 until 3).map { p =>
      TermStats.ccnetBuckets(docs.repartition(p + 2), col("doc_id"),
          col("text"), col("source"))
        .select(col("_id"), col("bucket"))
        .as[(Long, String)].collect().toMap
    }
    assert(runs.distinct.size === 1, "buckets must be partitioning-invariant")
    val got = runs.head
    // the window-rule reference over the SAME surprisal scores
    val us = TermStats.unigramSurprisal(docs, col("doc_id"), col("text"))
      .join(docs.select(col("doc_id").as("_id"), col("source")), "_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("avg_centibits"), col("_id"))
    val want = us.withColumn("pr", percent_rank().over(w))
      .select(col("_id"),
        when(col("pr") >= 2.0 / 3.0, "tail")
          .when(col("pr") >= 1.0 / 3.0, "middle")
          .otherwise("head").as("bucket"))
      .as[(Long, String)].collect().toMap
    assert(got === want, s"got $got want $want")
    assert(got(10L) === "head", "single-doc group is head (pr = 0)")
    // the fixture exercises all three labels
    assert(got.values.toSet === Set("head", "middle", "tail"))
  }

  test("ccnetBuckets degenerate group: ALL-EQUAL scores split purely " +
      "by the doc_id tiebreak (round-15 standing item, pinned early)") {
    // six identical docs → identical avg_centibits → the boundary
    // value class is the whole group and the tercile cut happens
    // entirely inside the tiebreak window: pr = (r−1)/5 over doc_id
    // order, so ids 0,1 head; 2,3 middle; 4,5 tail
    val docs = (0 until 6).map(i => (i.toLong, "same text here", "A"))
      .toDF("doc_id", "text", "source")
    val got = TermStats.ccnetBuckets(docs, col("doc_id"), col("text"),
        col("source"))
      .select(col("_id"), col("bucket"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(0L -> "head", 1L -> "head", 2L -> "middle",
      3L -> "middle", 4L -> "tail", 5L -> "tail"), got.toString)
  }

  test("evalContamination: hand case — full dup flagged 100, clean doc " +
      "0, eval docs absent; hashed == string keys on the fixture") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"), // eval
      (1L, "alpha beta gamma delta epsilon zeta"), // train: full dup
      (2L, "one two three four five six seven"),   // train: clean
      (3L, "x alpha beta gamma delta epsilon y")   // train: 2 of 3 grams
    ).toDF("doc_id", "text")
    def grams(df: org.apache.spark.sql.DataFrame) =
      TermStats.gramKeys(df, col("doc_id"), col("text"), 5, distinct = true)
    val got = TermStats.contamination(grams(docs), col("_id") === 0L)
      .select("_id", "n_grams", "n_contaminated", "contam_pct")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 2L, 2L, 100L), (2L, 3L, 0L, 0L),
      (3L, 3L, 1L, 33L)), got.toString)
    // fixture parity: the 8-byte xxhash64 key source equals the
    // string-key source (the oracle's form) row for row
    val fx = Tables.documents(spark, "/root/testdata/sf0.001")
    def run(src: org.apache.spark.sql.DataFrame) =
      TermStats.contamination(src, col("_id") % 17 === 0)
        .orderBy("_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
    val hashed = run(grams(fx))
    assert(hashed === run(StringGrams.keys(fx, col("doc_id"), col("text"),
      5, distinct = true)) && hashed.nonEmpty)
    // persisted gram-table path (the artifact pattern applied to
    // grams): identical output to the inline audit, zero tokenization
    // in the probe, and the bucket layout serves the join
    try {
      TermStats.saveGramTable(grams(fx), table = "graft_gram_fx",
        path = java.nio.file.Files
          .createTempDirectory("graft-gram-fx").toString)
      val viaTable = run(spark.table("graft_gram_fx"))
      assert(viaTable === hashed,
        "gram-table audit must equal the inline audit")
    } finally spark.sql("DROP TABLE IF EXISTS graft_gram_fx")
    // EMPTY eval slice (round-16 standing item, pinned early): no
    // eval docs → the left join probes an empty key set → every
    // train doc reports zero contamination (never an error, never a
    // dropped doc)
    val noEval = TermStats.contamination(grams(docs), lit(false))
      .select("_id", "n_grams", "n_contaminated", "contam_pct")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(noEval.map(_._1) === Seq(0L, 1L, 2L, 3L))
    assert(noEval.forall(r => r._3 == 0L && r._4 == 0L), noEval.toString)
  }

  test("ccnetBuckets: NULL/empty/whitespace-only docs are ABSENT (no " +
      "tokens → no surprisal row) and do not shift the other docs' " +
      "terciles (round-15 sweep item)") {
    val base = (0 until 6).map { i =>
      val text = (Seq.fill(6 - i)("the") ++
        (0 until i).map(j => s"rare_${i}_$j")).mkString(" ")
      (i.toLong, text, "A")
    }
    val clean = base.toDF("doc_id", "text", "source")
    val noisy = (base ++ Seq((90L, null.asInstanceOf[String], "A"),
        (91L, "", "A"), (92L, "   \t  ", "A")))
      .toDF("doc_id", "text", "source")
    def run(df: org.apache.spark.sql.DataFrame) =
      TermStats.ccnetBuckets(df, col("doc_id"), col("text"),
          col("source"))
        .select(col("_id"), col("bucket"))
        .as[(Long, String)].collect().toMap
    val got = run(noisy)
    // token-less docs vanish — the same drop the tokenize-CTE oracle
    // performs (unnest of an empty/NULL split yields no rows), so the
    // engine and the gate agree by construction
    assert(!got.contains(90L) && !got.contains(91L) && !got.contains(92L),
      got.toString)
    // and their presence upstream must not perturb anyone's bucket
    assert(got === run(clean), "token-less docs must not shift terciles")
  }
}
