package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The table-backed gram-family twins: each consumer fed the saved
  * gram table must equal the same consumer fed the inline gram
  * relation, bit for bit on the fixture — the same proof the shared
  * DuckDB oracles re-run at sf0.01 — plus the degenerate edges (gram
  * order longer than every document).
  */
class GramTableSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))

  private def pin(inline: String, artifact: String): Unit = {
    val a = rows(SparkEntry.queries(inline)(spark, dir))
    val b = rows(SparkEntry.queries(artifact)(spark, dir))
    assert(a.nonEmpty, s"$inline produced no rows — fixture too small")
    assert(a == b, s"$artifact diverged from $inline")
  }

  test("contamination from the gram table equals the inline audit") {
    pin("q_contam_audit", "q_contam_artifact")
  }

  test("novelty from the gram table equals the inline novelty query") {
    pin("q_ngram_novelty", "q_novelty_artifact")
  }

  test("shared-gram stats from the positional table equal the inline query") {
    pin("q_shared_ngrams", "q_shared_artifact")
  }

  test("trim spans from the positional table equal the inline query") {
    pin("q_dedup_spans", "q_spans_artifact")
  }

  test("artifact twins share their inline oracles verbatim") {
    assert(SparkEntry.oracleSql("q_contam_artifact") ==
      SparkEntry.oracleSql("q_contam_audit"))
    assert(SparkEntry.oracleSql("q_novelty_artifact") ==
      SparkEntry.oracleSql("q_ngram_novelty"))
    assert(SparkEntry.oracleSql("q_shared_artifact") ==
      SparkEntry.oracleSql("q_shared_ngrams"))
    assert(SparkEntry.oracleSql("q_spans_artifact") ==
      SparkEntry.oracleSql("q_dedup_spans"))
  }

  test("gram order longer than every document: empty everywhere, no errors") {
    // round-16 verdict self-sweep target: n past every doc length
    // makes BOTH slices produce zero grams — the audit must return an
    // empty relation (not throw, not divide by zero), and a gram
    // table built at that order must round-trip as an empty table.
    val docs = Tables.documents(spark, dir)
    val n = 100000
    import graft.operators.TermStats
    val isEval = col("_id") % 17 === 0
    val inline = TermStats.contamination(TermStats.gramKeys(docs,
      col("doc_id"), col("text"), n, distinct = true), isEval)
    assert(inline.count() == 0L)
    val tbl = s"graft_gram_empty_spec_$n"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    TermStats.saveGramTable(TermStats.gramKeys(docs, col("doc_id"),
      col("text"), n, distinct = true), tbl, s"$wh/${tbl}_data")
    assert(spark.table(tbl).count() == 0L)
    assert(TermStats.contamination(spark.table(tbl), isEval).count() == 0L)
    assert(TermStats.novelty(spark.table(tbl), col("_id") % 10 === 0)
      .count() == 0L)
    val ptbl = s"graft_grampos_empty_spec_$n"
    TermStats.saveGramTable(TermStats.gramPositions(docs, col("doc_id"),
      col("text"), n), ptbl, s"$wh/${ptbl}_data")
    assert(TermStats.sharedGramRollup(spark.table(ptbl)).count() == 0L)
    assert(TermStats.sharedGramSpans(spark.table(ptbl), n).count() == 0L)
  }
}
