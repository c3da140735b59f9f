package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-scan kernels replacing the regex formulations of
  * the text-stat operators. Java regex costs ~0.5 µs/char on the
  * stat patterns (measured at sf0.1) — fine for a demo, a bottleneck
  * for a 100 TB text scan; these kernels do the same counts in one
  * code-point walk at JVM scan speed, as [[UnaryKernel]]s.
  *
  * Parity contract: each kernel reproduces its regex counterpart's
  * count EXACTLY (same code-point classes, same non-overlapping
  * left-to-right scan, ASCII-only \w like Java's default dialect);
  * TextScanProperties pins kernel == regexp_count on random inputs,
  * and the DuckDB oracles keep the regex formulation.
  */
private[graft] object TextScan {
  @inline def isAsciiLetter(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  @inline def isAsciiDigit(c: Int): Boolean = c >= '0' && c <= '9'
  /** Java regex \s: [ \t\n\x0B\f\r]. */
  @inline def isSpace(c: Int): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')
  /** Java regex \w (default dialect): [A-Za-z0-9_]. */
  @inline def isWordChar(c: Int): Boolean =
    isAsciiLetter(c) || isAsciiDigit(c) || c == '_'
}

/** `regexp_count(text, '[^A-Za-z0-9\s]')` — punctuation/symbol code
  * points — in one pass.
  */
case class PunctCount(child: Expression) extends UnaryKernel[UTF8String] {
  import TextScan._
  override def prettyName: String = "punct_count"
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)

  def compute(text: UTF8String): Long = {
    val s = text.toString
    var i = 0
    var cnt = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!isAsciiLetter(cp) && !isAsciiDigit(cp) && !isSpace(cp)) cnt += 1
      i += Character.charCount(cp)
    }
    cnt
  }

  override protected def withNewChildInternal(newChild: Expression): PunctCount =
    copy(child = newChild)
}

/** `regexp_count(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')` — the
  * BPE-ish pre-tokenization count (letter runs, single digits,
  * single marks) — in one pass.
  */
case class SubtokenCount(child: Expression) extends UnaryKernel[UTF8String] {
  import TextScan._
  override def prettyName: String = "subtoken_count"
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)

  def compute(text: UTF8String): Long = {
    val s = text.toString
    var i = 0
    var cnt = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (isAsciiLetter(cp)) {
        cnt += 1
        while (i < s.length && isAsciiLetter(s.codePointAt(i)))
          i += Character.charCount(s.codePointAt(i))
      } else {
        if (isAsciiDigit(cp) || !isSpace(cp)) cnt += 1
        i += Character.charCount(cp)
      }
    }
    cnt
  }

  override protected def withNewChildInternal(newChild: Expression): SubtokenCount =
    copy(child = newChild)
}

/** `regexp_count(text, '\b(w1|w2|…)\b')` for all-word-character
  * `words`: a whole-word match is exactly a maximal \w-run equal to
  * one of the words (the run's ends are the only \b positions, and a
  * match spanning less than the run would fail its trailing \b), so
  * one run-walk + set lookup reproduces the regex count.
  */
case class WordSetCount(child: Expression, words: Seq[String])
    extends UnaryKernel[UTF8String] {
  import TextScan._
  require(words.nonEmpty && words.forall(w => w.nonEmpty &&
    w.forall(ch => isWordChar(ch))),
    "words must be non-empty and all word-characters")
  override def prettyName: String = "word_set_count"
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](words.size * 2)
    words.foreach(s.add)
    s
  }
  @transient private lazy val maxLen = words.map(_.length).max

  def compute(text: UTF8String): Long = {
    val s = text.toString
    var i = 0
    var cnt = 0L
    while (i < s.length) {
      if (isWordChar(s.charAt(i))) {
        val start = i
        while (i < s.length && isWordChar(s.charAt(i))) i += 1
        if (i - start <= maxLen && set.contains(s.substring(start, i)))
          cnt += 1
      } else i += 1
    }
    cnt
  }

  override protected def withNewChildInternal(newChild: Expression): WordSetCount =
    copy(child = newChild)
}

/** `regexp_count(text, '(g1|g2|…)')` for literal grams: the
  * non-overlapping left-to-right scan with ordered-alternation
  * priority — at each position the first matching gram wins and the
  * cursor jumps past it.
  */
case class GramSetCount(child: Expression, grams: Seq[String])
    extends UnaryKernel[UTF8String] {
  require(grams.nonEmpty && grams.forall(_.nonEmpty), "grams must be non-empty")
  override def prettyName: String = "gram_set_count"
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(StringType)

  @transient private lazy val gramArr: Array[String] = grams.toArray

  def compute(text: UTF8String): Long = {
    val s = text.toString
    var i = 0
    var cnt = 0L
    while (i < s.length) {
      var g = 0
      var matched = -1
      while (matched < 0 && g < gramArr.length) {
        if (s.startsWith(gramArr(g), i)) matched = g
        g += 1
      }
      if (matched >= 0) {
        cnt += 1
        i += gramArr(matched).length
      } else i += 1
    }
    cnt
  }

  override protected def withNewChildInternal(newChild: Expression): GramSetCount =
    copy(child = newChild)
}

/** Hashed character n-gram feature buckets: one 60-bit-md5 bucket id
  * per gram position (multiplicity preserved, first-to-last order) —
  * the feature-extraction pass of a fasttext-shaped hashed
  * bag-of-n-grams linear classifier. One tight JVM pass per row
  * instead of a `transform(sequence(...), substr)` HOF chain (HOF
  * lambdas evaluate interpreted per element, and the md5 would run
  * through three string expressions per gram).
  *
  * Gram extraction is CODE-POINT based (not UTF-16 units), matching
  * DuckDB `substr(text, i, n)` / `length(text)` semantics so the
  * bucket ids are oracle-reproducible for any valid UTF-8: bucket =
  * `('0x' || substr(md5(substr(lower(text), i, n)), 1, 15))::BIGINT
  * % mod` — md5 over the gram's UTF-8 bytes via
  * [[Shingles.md5Prefix60]], always non-negative, so `%` and `pmod`
  * agree.
  */
case class CharGramBuckets(child: Expression, n: Int, mod: Int)
    extends UnaryKernel[UTF8String] {
  require(n >= 1, "gram length must be >= 1")
  require(mod >= 1, "bucket count must be >= 1")
  override def prettyName: String = "char_gram_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  def compute(text: UTF8String): ArrayData = {
    val s = text.toString
    // code-point index: cp(i) = UTF-16 offset of the i-th code point
    val cps = s.codePointCount(0, s.length)
    if (cps < n) {
      return new GenericArrayData(Array.empty[Any])
    }
    val offs = new Array[Int](cps + 1)
    var o = 0
    var i = 0
    while (i < cps) { offs(i) = o; o = s.offsetByCodePoints(o, 1); i += 1 }
    offs(cps) = s.length
    val out = new Array[Any](cps - n + 1)
    var g = 0
    while (g <= cps - n) {
      val gram = s.substring(offs(g), offs(g + n))
      out(g) = java.lang.Long.valueOf(Shingles.md5Prefix60Memo(gram) % mod)
      g += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramBuckets =
    copy(child = newChild)
}

/** Per-bucket hashed char-n-gram COUNTS in one pass: element `b` of
  * the returned `array<long>` (length `mod`) is the number of gram
  * positions whose [[CharGramBuckets]] bucket id is `b` — i.e. the
  * whole per-document feature VECTOR of the hashed bag-of-n-grams
  * model as one row-local array, value-identical to
  * `explode(char_gram_buckets(text, n, mod))` → `groupBy(id, b).count`
  * (zero-count buckets carry 0 instead of being absent).
  *
  * Why: the explode → partial-agg → Exchange(id, b) → final-agg chain
  * materializes one row PER GRAM (|chars| rows per doc) and shuffles
  * the (doc, bucket) relation just to rebuild what is a per-row
  * reduction; the count vector never leaves the row, so consumers
  * (DSIR's feature relation, the classifier's linear scores) become
  * narrow whole-stage-codegen projections with no aggregation
  * exchange at all (guide §2.4 — remove shuffles outright). Counts
  * are exact integers, so every downstream value is bit-identical.
  */
case class CharGramBucketCounts(child: Expression, n: Int, mod: Int)
    extends UnaryKernel[UTF8String] {
  require(n >= 1, "gram length must be >= 1")
  require(mod >= 1, "bucket count must be >= 1")
  override def prettyName: String = "char_gram_bucket_counts"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  def compute(text: UTF8String): ArrayData = {
    val counts = new Array[Long](mod)
    val s = text.toString
    val cps = s.codePointCount(0, s.length)
    if (cps >= n) {
      val offs = new Array[Int](cps + 1)
      var o = 0
      var i = 0
      while (i < cps) { offs(i) = o; o = s.offsetByCodePoints(o, 1); i += 1 }
      offs(cps) = s.length
      var g = 0
      while (g <= cps - n) {
        val gram = s.substring(offs(g), offs(g + n))
        counts((Shingles.md5Prefix60Memo(gram) % mod).toInt) += 1L
        g += 1
      }
    }
    new GenericArrayData(
      counts.map(java.lang.Long.valueOf).asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharGramBucketCounts = copy(child = newChild)
}

/** Per-class linear scores of the hashed bag-of-n-grams model in one
  * pass: element `c` of the returned `array<long>` is
  * `Σ over gram positions of weights(c)(bucket(gram))`
  * — exactly `Σ_b cnt_b · w_c(b)` (the [[CharGramBuckets]] explode →
  * count → broadcast-weight join → per-doc sum chain collapsed into
  * the text scan itself; 64-bit wrap-around addition is
  * order-insensitive, so the value is bit-identical to the relational
  * form on any partitioning). One md5 per gram position serves every
  * class. Weights are a Seq-of-Seq for structural equality in the
  * plan tree; a flattened primitive copy is built lazily per task.
  */
case class CharGramScores(child: Expression, n: Int, mod: Int,
    weights: Seq[Seq[Long]]) extends UnaryKernel[UTF8String] {
  require(n >= 1, "gram length must be >= 1")
  require(mod >= 1, "bucket count must be >= 1")
  require(weights.nonEmpty && weights.forall(_.length == mod),
    "each class needs exactly `mod` bucket weights")
  override def prettyName: String = "char_gram_scores"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  private val classes = weights.length
  @transient private lazy val flat: Array[Long] = weights.flatten.toArray

  def compute(text: UTF8String): ArrayData = {
    val acc = new Array[Long](classes)
    val s = text.toString
    val cps = s.codePointCount(0, s.length)
    if (cps >= n) {
      val offs = new Array[Int](cps + 1)
      var o = 0
      var i = 0
      while (i < cps) { offs(i) = o; o = s.offsetByCodePoints(o, 1); i += 1 }
      offs(cps) = s.length
      val w = flat
      var g = 0
      while (g <= cps - n) {
        val gram = s.substring(offs(g), offs(g + n))
        val b = (Shingles.md5Prefix60Memo(gram) % mod).toInt
        var c = 0
        while (c < classes) { acc(c) += w(c * mod + b); c += 1 }
        g += 1
      }
    }
    new GenericArrayData(
      acc.map(java.lang.Long.valueOf).asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharGramScores = copy(child = newChild)
}
