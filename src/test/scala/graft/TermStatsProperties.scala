package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.operators.TermStats

/** ScalaCheck properties for the cross-document n-gram family:
  * TermStatsSpec pins hand-computed corpora; these pin the contract on
  * random tiny-vocab corpora (where cross-doc collisions are dense)
  * against brute-force sequential references.
  */
object TermStatsProperties extends Properties("TermStats") {
  private lazy val spark = TestSpark.spark

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(10)

  // 2-6 docs of 0-12 words over a 5-word vocab — dense gram overlap
  private val corpusGen: Gen[List[(Long, String)]] = for {
    nd <- Gen.choose(2, 6)
    docs <- Gen.sequence[List[String], String](List.fill(nd)(
      Gen.choose(0, 12).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e"))
          .map(_.mkString(" ")))))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def grams(text: String, n: Int): Seq[String] = {
    val ws = text.toLowerCase.split("\\s+").toSeq
    if (ws.size < n) Seq.empty
    else ws.sliding(n).map(_.mkString(" ")).toSeq
  }

  private def refStats(corpus: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long)] = {
    val docGrams = corpus.map { case (id, t) => id -> grams(t, n) }
    val docFreq = docGrams.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.size }
    docGrams.filter(_._2.nonEmpty).map { case (id, gs) =>
      id -> (gs.size.toLong, gs.count(g => docFreq(g) > 1).toLong)
    }.toMap
  }

  private def refSpans(corpus: Seq[(Long, String)], n: Int)
      : Set[(Long, Long, Long, Long)] = {
    val docGrams = corpus.map { case (id, t) => id -> grams(t, n) }
    val docFreq = docGrams.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.size }
    docGrams.flatMap { case (id, gs) =>
      val dupPos = gs.zipWithIndex.collect {
        case (g, i) if docFreq(g) > 1 => i.toLong
      }
      // merge consecutive positions into islands
      dupPos.foldLeft(List.empty[List[Long]]) {
        case (acc @ (cur :: rest), p) if p == cur.head + 1 =>
          (p :: cur) :: rest
        case (acc, p) => List(p) :: acc
      }.map(run => (id, run.last, run.head + n - 1, run.size.toLong))
    }.toSet
  }

  property("crossDocNgramStats equals brute force (n=2)") =
    forAll(corpusGen) { corpus =>
      import spark.implicits._
      val got = TermStats.sharedGramRollup(TermStats.gramKeys(
          corpus.toDF("doc_id", "text"), col("doc_id"), col("text"), 2,
          distinct = false))
        .select("_id", "n_grams", "n_shared_grams")
        .as[(Long, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      got == refStats(corpus, 2)
    }

  property("sharedGramSpans equals brute-force islands (n=2)") =
    forAll(corpusGen) { corpus =>
      import spark.implicits._
      val got = TermStats.sharedGramSpans(TermStats.gramPositions(
          corpus.toDF("doc_id", "text"), col("doc_id"), col("text"), 2), 2)
        .select("_id", "span_start", "span_end", "span_grams")
        .as[(Long, Long, Long, Long)].collect().toSet
      got == refSpans(corpus, 2)
    }

  /** Sequential Heaps-curve reference: walk docs in id order, count
    * each doc's tokens and first-introduced terms, accumulate.
    */
  private def refGrowth(corpus: Seq[(Long, String)])
      : Seq[(Long, Long, Long, Long, Long)] = {
    var seen = Set.empty[String]
    var cumT = 0L
    var vocab = 0L
    corpus.sortBy(_._1).map { case (id, t) =>
      val ws = t.toLowerCase.split("[ \t\n\r\f]+").filter(_.nonEmpty).toSeq
      val nw = ws.distinct.count(w => !seen.contains(w)).toLong
      seen ++= ws
      cumT += ws.size
      vocab += nw
      (id, ws.size.toLong, nw, cumT, vocab)
    }
  }

  property("pmiPairs equals brute force: counts, marginals, and the " +
      "exact positive-PMI filter") =
    forAll(corpusGen, Gen.choose(1, 3)) { (corpus, minC) =>
      import spark.implicits._
      val got = TermStats.pmiPairs(
          corpus.toDF("doc_id", "text"), col("text"), minC)
        .select("x", "y", "c_xy", "lx", "ry", "b_total", "pmi_num",
          "pmi_den")
        .as[(String, String, Long, Long, Long, Long, Long, Long)]
        .collect().toSet
      val bigrams = corpus.flatMap { case (_, t) => grams(t, 2) }
        .map { g => val p = g.split(" "); (p(0), p(1)) }
      val cXY = bigrams.groupBy(identity).map { case (k, v) =>
        k -> v.size.toLong }
      val lx = bigrams.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val ry = bigrams.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
      val b = bigrams.size.toLong
      val want = cXY.collect {
        case ((x, y), c) if c >= minC && c * b > lx(x) * ry(y) =>
          (x, y, c, lx(x), ry(y), b, c * b, lx(x) * ry(y))
      }.toSet
      got == want
    }

  property("vocabGrowth equals the sequential Heaps walk under " +
      "random repartitioning (the packed prefix scan is the risk)") =
    forAll(corpusGen, Gen.choose(1, 7)) { (corpus, parts) =>
      import spark.implicits._
      val got = TermStats.vocabGrowth(
          corpus.toDF("doc_id", "text").repartition(parts),
          col("doc_id"), col("text"))
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      got == refGrowth(corpus)
    }
}
