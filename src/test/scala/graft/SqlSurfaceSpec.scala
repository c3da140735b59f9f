package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Ema

/** The registered SQL surface: graft's custom expressions must be
  * callable from plain `spark.sql` text.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  GraftFunctions.register(spark)

  test("ema() works as a SQL window function") {
    Seq(("A", 0L, 10.0), ("A", 1L, 11.0), ("A", 2L, 12.0))
      .toDF("symbol", "ts", "close").createOrReplaceTempView("bars_sql")
    // 2.0D/13.0D: decimal literals would fold at DECIMAL(8,6) precision
    val out = spark.sql(
      """SELECT ema(close, 2.0D/13.0D) OVER
        |  (PARTITION BY symbol ORDER BY ts
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
        |FROM bars_sql ORDER BY ts""".stripMargin)
      .as[Double].collect()
    val a = Ema.alphaForSpan(12)
    assert(out(0) === 10.0)
    assert(out(1) === a * 11.0 + (1 - a) * 10.0)
    assert(out(2) === a * 12.0 + (1 - a) * out(1))
  }

  test("cusum() works as a SQL window function") {
    Seq(("A", 0L, -2.0), ("A", 1L, 3.0), ("A", 2L, 1.0), ("A", 3L, -5.0))
      .toDF("symbol", "ts", "d").createOrReplaceTempView("cusum_sql")
    val out = spark.sql(
      """SELECT cusum(d) OVER
        |  (PARTITION BY symbol ORDER BY ts
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |FROM cusum_sql ORDER BY ts""".stripMargin)
      .as[Double].collect().toSeq
    // max(0,-2)=0 → 3 → 4 → max(0,-1)=0
    assert(out === Seq(0.0, 3.0, 4.0, 0.0))
  }

  test("nfc_normalize() composes decomposed accents; identity on ASCII") {
    val decomposed = "Café Å" // Café Å, decomposed
    val out = spark.sql(
      s"SELECT nfc_normalize('$decomposed') AS n, " +
        "nfc_normalize('plain ascii') AS a")
      .as[(String, String)].head()
    assert(out._1 === "Café Å")
    assert(out._2 === "plain ascii")
    // idempotent: normalizing the normalized form is the identity
    val again = spark.sql(s"SELECT nfc_normalize(nfc_normalize('$decomposed'))")
      .as[String].head()
    assert(again === out._1)
  }

  test("nfc_normalize rejects non-string input at analysis time") {
    // ExpectsInputTypes: misuse is a clean analysis error, not a
    // runtime ClassCastException mid-job.
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT nfc_normalize(123)").collect())
  }

  test("kernels reject mistyped input at analysis time") {
    // every row kernel declares its input types (ExpectsInputTypes, no
    // implicit cast): misuse is an analysis error, not a runtime
    // ClassCastException mid-job
    Seq("SELECT punct_count(123)",
      "SELECT simhash(array(1, 2))",
      "SELECT dot_product(array('a'), array('b'))").foreach { q =>
      intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
    }
  }

  test("simhash()/minhash SQL functions run and agree with the DSL") {
    Seq((0L, "a b c d e f g"), (1L, "a b c d e f g"), (2L, "x y z w v u t"))
      .toDF("doc_id", "text").createOrReplaceTempView("docs_sql")
    val sql = spark.sql(
      """SELECT doc_id,
        |  simhash(split(text, '\\s+')) AS sh,
        |  minhash_signature(split(text, '\\s+'), 8) AS sig,
        |  minhash_bands(split(text, '\\s+'), 8, 4) AS bands
        |FROM docs_sql ORDER BY doc_id""".stripMargin).collect()
    assert(sql(0).getLong(1) === sql(1).getLong(1))   // identical docs
    assert(sql(0).getLong(1) !== sql(2).getLong(1))
    assert(sql(0).getSeq[Long](2).length === 8)
    assert(sql(0).getSeq[Long](3).length === 4)
    assert(sql(0).getSeq[Long](3) === sql(1).getSeq[Long](3))
  }

  test("minhash_signature_mod runs from SQL and agrees with the DSL " +
      "expression") {
    import graft.functions.{MinHashMod, MinHashSignatureMod}
    Seq((0L, Seq(17L, 9999L, 123456789L)), (1L, Seq(17L)))
      .toDF("id", "hs").createOrReplaceTempView("mod_sql")
    val sql = spark.sql(
      """SELECT id, minhash_signature_mod(hs, 8) AS sig
        |FROM mod_sql ORDER BY id""".stripMargin).collect()
    val dsl = spark.table("mod_sql")
      .select(col("id"), org.apache.spark.sql.graft.Bridge.column(
        MinHashSignatureMod(org.apache.spark.sql.graft.Bridge
          .expression(col("hs")), 8)).as("sig"))
      .orderBy("id").collect()
    assert(sql.map(_.getSeq[Long](1)).toSeq ===
      dsl.map(_.getSeq[Long](1)).toSeq)
    // single-gram doc: component j IS (a_j·17 + b_j) mod p
    val (as, bs) = MinHashMod.consts(8)
    val expect = (0 until 8).map { j =>
      val v = MinHashMod.mulmod(as(j), 17L) + bs(j)
      if (v >= MinHashMod.P) v - MinHashMod.P else v
    }
    assert(sql(1).getSeq[Long](1) === expect)
    // mistyped input (array<string>) must fail at ANALYSIS, not as an
    // executor ClassCastException
    val err = intercept[Exception] {
      spark.sql(
        "SELECT minhash_signature_mod(array('a','b'), 8)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("minhash_signature_mod") ||
      err.getMessage.toLowerCase.contains("data type"))
  }

  test("text-scan kernels run from SQL text and match regexp_count") {
    val row = spark.sql(
      """SELECT
        |  punct_count('a, b! c?') AS p,
        |  subtoken_count('ab 12 c!') AS st,
        |  word_set_count('the cat in the hat', 'the,in,a') AS w,
        |  gram_set_count('then there', 'th,he,er') AS g
        |""".stripMargin).collect().head
    assert(row.getAs[Long]("p") === 3L)   // , ! ?
    assert(row.getAs[Long]("st") === 5L)  // ab 1 2 c !
    assert(row.getAs[Long]("w") === 3L)   // the, in, the
    // "then there": th|en → th at 0; "en"? not in set... cursor: th,
    // "en" no, space, th, "er" yes, "e" no → th, th, er = 3
    assert(row.getAs[Long]("g") === 3L)
  }

  test("shingles()/dot_product()/sorted_overlap() run from SQL text") {
    val row = spark.sql(
      """SELECT
        |  size(shingles(split('a b c d', ' '), 2)) AS n_sh,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |  sorted_overlap(array(1L, 3L, 5L), array(2L, 3L, 5L, 9L)) AS ovl
        |""".stripMargin).collect().head
    assert(row.getAs[Int]("n_sh") === 3)   // "a b","b c","c d"
    assert(row.getAs[Double]("dp") === 11.0)
    assert(row.getAs[Int]("ovl") === 2)    // {3, 5}
  }

  test("long_dot()/char_gram_buckets() run from SQL text") {
    val row = spark.sql(
      """SELECT
        |  long_dot(array(2L, 3L), array(5L, 7L)) AS ld,
        |  char_gram_buckets('abcd', 3, 64) AS cgb,
        |  cast(conv(substring(md5('abc'), 1, 15), 16, 10) as bigint) % 64
        |    AS oracle_b0
        |""".stripMargin).collect().head
    assert(row.getAs[Long]("ld") === 31L)
    val cgb = row.getSeq[Long](1)
    assert(cgb.length === 2) // "abc", "bcd"
    assert(cgb.head === row.getAs[Long]("oracle_b0"))
  }

  test("misuse: non-literal k yields a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array('a'), doc_id) FROM (SELECT 1L AS doc_id)").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }
}
