package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** The row-kernel contract, one table row per kernel class: generated
  * code calls the kernel's `compute` directly (no `CodegenFallback`
  * eval island), and the interpreted path (whole-stage codegen off,
  * expression codegen off) returns the same rows, including the null
  * produced for a null input.
  */
class KernelContractSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Inputs as expressions over `id` (never constant-folded, so the
    * projection runs in the executed plan); row 0 is null in every
    * input column.
    */
  private def inputs: DataFrame = {
    val id = col("id")
    def nonNullAt0(c: Column): Column = when(id =!= 0, c)
    val texts = Seq("Hello, world! ab 12 café", "the cat in the hat",
      "a b a b c d", "über straße 42 — ok? 😀", "x")
    spark.range(0, 6, 1, 2).select(
      id,
      nonNullAt0(element_at(array(texts.map(lit): _*),
        (id % texts.length + 1).cast("int"))).as("text"),
      nonNullAt0(array(id * 0.5, id + 1.0, lit(2.0) - id, id * id * 0.25))
        .as("dbl"),
      nonNullAt0(array(lit(1.5), id - 2.0, id * 0.75, lit(-1.0))).as("dbl2"),
      nonNullAt0(array(id, id * 2 - 3, lit(5L) - id, id * id)).as("lng"),
      nonNullAt0(array(lit(2L), id + 1, lit(-4L), id * 3)).as("lng2"),
      nonNullAt0(sequence(id, id * 2 + 3)).as("sorted"),
      nonNullAt0(sequence(lit(2L), id + 4)).as("sorted2"))
      .withColumn("toks", split(col("text"), " "))
  }

  private def e(name: String): Expression = Bridge.expression(col(name))

  /** (row name, kernel column over [[inputs]]). */
  private val kernels: Seq[(String, () => Column)] = Seq(
    "argmax_array" -> (() => Bridge.column(ArgMaxArray(e("dbl")))),
    "encode_bpe_word" -> (() => Bridge.column(EncodeBpeWord(e("text"),
      Seq(("a", "b"), ("t", "h"), ("th", "e"))))),
    "bpe_merge_word" -> (() => Bridge.column(BpeMergeWord(
      Bridge.expression(split(col("text"), "")), "a", "b"))),
    "code_points" -> (() => Bridge.column(CodePoints(e("text")))),
    "minhash_signature" -> (() => Bridge.column(MinHashSignature(e("toks"), 8))),
    "minhash_bands" -> (() => Bridge.column(MinHashBands(e("toks"), 8, 4))),
    "minhash_signature_mod" ->
      (() => Bridge.column(MinHashSignatureMod(e("sorted"), 4))),
    "nfc_normalize" -> (() => Bridge.column(NfcNormalize(e("text")))),
    "nfc_normalize (SQL)" -> { () =>
      GraftFunctions.register(spark)
      expr("nfc_normalize(text)")
    },
    "sorted_overlap" ->
      (() => Bridge.column(SortedOverlapCount(e("sorted"), e("sorted2")))),
    "sorted_pairs" -> (() => Bridge.column(SortedPairs(e("sorted")))),
    "shingles" -> (() => Bridge.column(Shingles(e("toks"), 2))),
    "shingles_md5 positional" -> (() => Bridge.column(
      Shingles(e("toks"), 2, md5Parity = true, distinct = false))),
    "shingles -> minhash_bands" -> (() => graft.operators.Dedup.minhashBands(
      graft.operators.Dedup.shingles(col("text"), 3), 32, 8)),
    "winnow_fps" -> (() => Bridge.column(WinnowFps(e("toks"), 2, 2))),
    "simhash" -> (() => Bridge.column(SimHash(e("toks")))),
    "simhash over hashed shingles" -> (() => Bridge.column(
      SimHash(Shingles(e("toks"), 2, hashed = true)))),
    "punct_count" -> (() => Bridge.column(PunctCount(e("text")))),
    "subtoken_count" -> (() => Bridge.column(SubtokenCount(e("text")))),
    "word_set_count" ->
      (() => Bridge.column(WordSetCount(e("text"), Seq("the", "cat", "ab")))),
    "gram_set_count" ->
      (() => Bridge.column(GramSetCount(e("text"), Seq("th", "he", "ab")))),
    "char_gram_buckets" ->
      (() => Bridge.column(CharGramBuckets(e("text"), 3, 16))),
    "char_gram_bucket_counts" ->
      (() => Bridge.column(CharGramBucketCounts(e("text"), 3, 8))),
    "char_gram_scores" -> (() => Bridge.column(CharGramScores(e("text"), 3, 4,
      Seq(Seq(1L, 2L, 3L, 4L), Seq(-1L, 0L, 5L, 2L))))),
    "dot_product" -> (() => Bridge.column(DotProduct(e("dbl"), e("dbl2")))),
    "dot_product (Similarity.dot)" ->
      (() => graft.operators.Similarity.dot(col("dbl"), col("dbl2"))),
    "mat_vec_dots" -> (() => Bridge.column(MatVecDots(e("dbl"),
      Seq(Seq(1.0, 0.0, 0.0, 1.0), Seq(0.5, -1.0, 2.0, 0.0))))),
    "long_vec_dot" ->
      (() => Bridge.column(LongVecDot(e("lng"), Seq(1L, -2L, 3L, 4L)))),
    "long_dot" -> (() => Bridge.column(LongDot(e("lng"), e("lng2")))),
    "int_sign_lsh_keys" ->
      (() => Bridge.column(IntSignLshKeys(e("lng"), 4, 3, 2))),
    "sign_lsh_buckets" ->
      (() => Bridge.column(SignLshBuckets(e("dbl"), 4, 3, 2, 7L))))

  private def project(kernel: () => Column): DataFrame =
    inputs.select(col("id"), kernel().as("out"))

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sorted(rows: Array[Row]): Seq[Row] = rows.toSeq.sortBy(_.getLong(0))

  /** The kernel nodes in `df`'s analyzed projection. */
  private def kernelsIn(df: DataFrame): Seq[Expression] =
    df.queryExecution.analyzed.expressions.flatMap(_.collect {
      case k: UnaryKernel[_] => k
      case k: BinaryKernel[_, _] => k
    })

  test("the table covers all 26 row-kernel classes in graft.functions") {
    val covered = kernels.flatMap { case (_, k) => kernelsIn(project(k)) }
      .map(_.getClass.getSimpleName).distinct.sorted
    assert(covered.size === 26, covered)
  }

  kernels.foreach { case (name, kernel) =>
    test(s"$name: codegen calls compute, matches interpreted") {
      val df = project(kernel)
      val names = kernelsIn(df).map(_.prettyName)
      assert(names.nonEmpty, s"$name builds no kernel")
      val code = df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w.doCodeGen()._2.body
      }.mkString
      assert(code.nonEmpty, s"$name: projection did not plan WholeStageCodegen")
      names.foreach { n =>
        assert(code.contains(s"/* $n */).compute("),
          s"$name: generated code does not call $n.compute")
      }
      val generated = sorted(df.collect())

      val interpreted = withConfs(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        val idf = project(kernel)
        assert(idf.queryExecution.executedPlan.collect {
          case w: WholeStageCodegenExec => w
        }.isEmpty)
        sorted(idf.collect())
      }
      assert(generated === interpreted)
      assert(generated.head.isNullAt(1), s"$name: null input must give null")
      assert(generated.tail.forall(!_.isNullAt(1)))
    }
  }
}
