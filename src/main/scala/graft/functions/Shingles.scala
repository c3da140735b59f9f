package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a token array, in first-occurrence
  * order — semantics identical to
  * `array_distinct(zip_with-joined shifted slices)` but one tight JVM
  * pass per row (the HOF composition pays interpreted per-element
  * lambda evaluation plus repeated slicing; measured as the dominant
  * cost of the dedup queries at sf0.1). Same single-pass rationale as
  * [[MinHashBase]].
  *
  * With `hashed = true` the same pass emits the 64-bit xxhash64 (seed
  * 42, identical to Spark's `xxhash64` SQL function on a string) of
  * each gram instead of the gram text: downstream explodes, frequency
  * aggregations, and equi-joins then move 8-byte longs instead of
  * variable-width strings, and sorted-long verification can use the
  * zero-allocation [[SortedOverlapCount]] merge kernel. Jaccard over
  * the hashes equals Jaccard over the grams up to 64-bit collisions
  * (~|grams|²/2⁶⁵ — negligible at any realistic gram-space size, and
  * the same equivalence the MinHash band path already relies on).
  */
case class Shingles(child: Expression, n: Int, hashed: Boolean = false,
    md5Parity: Boolean = false, distinct: Boolean = true)
    extends UnaryKernel[ArrayData] {
  require(n >= 1, "shingle size must be >= 1")
  override def prettyName: String =
    if (md5Parity) "shingles_md5" else if (hashed) "shingles_hashed" else "shingles"
  override def dataType: DataType =
    if (hashed || md5Parity) ArrayType(LongType, containsNull = false)
    else ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  private val space = UTF8String.fromString(" ")

  def compute(toks: ArrayData): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    // `distinct = false` keeps every positional gram (index i = gram
    // starting at token i) — the form the positional gram table and
    // the per-(doc, gram) frequency consumers need; `true` dedups in
    // first-occurrence order (array_distinct semantics).
    val seen: java.util.Collection[Any] =
      if (distinct) new java.util.LinkedHashSet[Any](m * 2)
      else new java.util.ArrayList[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) = toks.getUTF8String(i + j)
        if (j < n - 1) parts(2 * j + 1) = space
        j += 1
      }
      val gram = UTF8String.concat(parts: _*)
      if (md5Parity) seen.add(Shingles.md5Prefix60(gram))
      else if (hashed)
        seen.add(XXH64.hashUnsafeBytes(
          gram.getBaseObject, gram.getBaseOffset, gram.numBytes, 42L))
      else seen.add(gram)
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003) of a token
  * array in one pass: the DISTINCT sliding-window minima of the
  * positional word-n-gram md5-prefix-60 hashes — value-identical to
  * positional [[Shingles]] (md5Parity) → posexplode →
  * `min(_h) over (partition by doc order by _pos rows window-1
  * preceding)` → `_pos >= window-1` filter → per-doc distinct, but
  * with NO exchange, sort, window, or distinct operator: the window
  * minimum of a row-local gram sequence never needed to leave the row
  * (guide §2.4). Docs with fewer than `window` grams emit nothing
  * (the relational form's `_pos >= window-1` filter kept no row).
  * Distinctness is per document; callers joining on the fingerprint
  * must supply unique doc ids (the contract every pair consumer here
  * already holds).
  */
case class WinnowFps(child: Expression, n: Int, window: Int)
    extends UnaryKernel[ArrayData] {
  require(n >= 1, "shingle size must be >= 1")
  require(window >= 1, "window must be >= 1")
  override def prettyName: String = "winnow_fps"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  private val space = UTF8String.fromString(" ")

  def compute(toks: ArrayData): ArrayData = {
    val m = toks.numElements()
    val g = m - n + 1
    if (m < n || g < window)
      return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](g)
    var i = 0
    while (i < g) {
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) = toks.getUTF8String(i + j)
        if (j < n - 1) parts(2 * j + 1) = space
        j += 1
      }
      // NOT memoized (round-18, measured): word-3-gram populations
      // churn the bounded memo (2.0–2.4 s flat with and without at
      // sf0.1) — unlike the char-3-gram kernels, where the distinct
      // population fits and the memo measured ~2× (see TextScan).
      hs(i) = Shingles.md5Prefix60(UTF8String.concat(parts: _*))
      i += 1
    }
    // sliding-window minima, deduped in first-occurrence order (the
    // relational distinct's order never mattered — consumers join on
    // the value)
    val seen = new java.util.LinkedHashSet[Any](g * 2)
    var p = window - 1
    while (p < g) {
      var mn = hs(p - window + 1)
      var q = p - window + 2
      while (q <= p) { if (hs(q) < mn) mn = hs(q); q += 1 }
      seen.add(java.lang.Long.valueOf(mn))
      p += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object Shingles {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Bound on the per-thread gram-hash memo (entries). 2¹⁶ string keys
    * of a few bytes ≈ single-digit MB per task thread — far below
    * per-task shuffle buffers; crossing the bound CLEARS the map (the
    * working set of a gram scan is the distinct-gram population, which
    * either fits — char-3-grams — or churns, in which case the memo
    * was not paying anyway).
    */
  private val MemoMax = 1 << 16

  private val memo = new ThreadLocal[java.util.HashMap[String, java.lang.Long]] {
    override def initialValue(): java.util.HashMap[String, java.lang.Long] =
      new java.util.HashMap[String, java.lang.Long](1 << 12)
  }

  /** [[md5Prefix60]] memoized per THREAD on the gram string (round-18;
    * r17 verdict #7): the classifier/DSIR scan kernels hash every gram
    * OCCURRENCE, but the distinct char-3-gram population is tiny
    * relative to the corpus — one MD5 (two digest blocks + UTF-8
    * encode) per distinct gram per task beats one per occurrence.
    * Concurrency safety: the map is ThreadLocal (task threads never
    * share it — the same isolation the md5 digest above relies on) and
    * values are the exact [[md5Prefix60]] longs, so memoized == direct
    * bit-for-bit (pinned by ShinglesSpec, including across the
    * clear-on-overflow bound).
    */
  def md5Prefix60Memo(gram: String): Long = {
    val m = memo.get()
    val hit = m.get(gram)
    if (hit != null) hit.longValue()
    else {
      val v = md5Prefix60(UTF8String.fromString(gram))
      if (m.size >= MemoMax) m.clear()
      m.put(gram, java.lang.Long.valueOf(v))
      v
    }
  }


  /** The oracle-parity 60-bit gram hash, computed from digest BYTES:
    * the integer value of the first 15 hex chars of md5(gram) equals
    * the big-endian unsigned value of the digest's first 8 bytes
    * logically shifted right by 4 (one hex char = one nibble), so no
    * hex string is ever materialized. Value-identical to SQL
    * `conv(substring(md5(g),1,15),16,10)` / DuckDB
    * `('0x' || substr(md5(g),1,15))::BIGINT` — pinned by
    * ShinglesSpec's side-by-side SQL comparison. Always non-negative
    * (top 4 bits zeroed), fitting both engines' signed BIGINT.
    */
  def md5Prefix60(gram: UTF8String): Long = {
    val md = md5.get()
    md.reset()
    val d = md.digest(gram.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }
}
