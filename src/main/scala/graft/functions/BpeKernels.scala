package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE apply-side kernels (round-17; guide §1.2 step 2 — per-task
  * work). A trained merge list is O(rounds) driver metadata, and
  * applying it to one word is a purely word-local, sequential
  * greedy scan — the relational window formulation (BpeWindowed, in
  * the test sources) exists to PROVE the run-parity rule, but paying an exchange + R window passes over a
  * per-character corpus relation to APPLY a known merge list is the
  * classic "shuffle to compute something row-local" anti-shape. These
  * kernels run the same greedy logic inside whole-stage codegen:
  * encode = zero exchanges, zero sorts, one narrow pass — at any
  * scale. BpeSpec pins kernel == window form == sequential reference,
  * including the l == r overlapping-chain parity cases.
  */
object BpeKernels {
  /** One greedy left-to-right merge pass over a token list: emit
    * `m = l+r` wherever (t[i], t[i+1]) == (l, r), consuming both —
    * exactly the sequential reference (a merged token is strictly
    * longer than `l`, so one pass cannot cascade; for l == r chains
    * the scan takes every second occurrence, the run-parity rule).
    */
  private[functions] def mergeOnce(toks: java.util.ArrayList[UTF8String],
      l: UTF8String, r: UTF8String, m: UTF8String)
      : java.util.ArrayList[UTF8String] = {
    val n = toks.size()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && toks.get(i).equals(l) && toks.get(i + 1).equals(r)) {
        out.add(m); i += 2
      } else { out.add(toks.get(i)); i += 1 }
    }
    out
  }

  /** Word → code-point token list (one UTF-8 byte walk). */
  private[functions] def codePointList(w: UTF8String)
      : java.util.ArrayList[UTF8String] = {
    val bytes = w.getBytes
    val out = new java.util.ArrayList[UTF8String](w.numChars())
    var i = 0
    while (i < bytes.length) {
      val len = UTF8String.numBytesForFirstByte(bytes(i))
      out.add(UTF8String.fromBytes(bytes, i, len))
      i += len
    }
    out
  }
}

/** Apply a whole trained merge list to one word: code-point split,
  * then each merge in rank order — the production tokenizer's inner
  * loop, as a codegen'd expression over the word column.
  */
case class EncodeBpeWord(child: Expression, merges: Seq[(String, String)])
    extends UnaryKernel[UTF8String] {
  override def prettyName: String = "encode_bpe_word"
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  @transient private lazy val ms: Array[Array[UTF8String]] =
    merges.map { case (l, r) => Array(UTF8String.fromString(l),
      UTF8String.fromString(r), UTF8String.fromString(l + r)) }.toArray

  def compute(w: UTF8String): ArrayData = {
    var toks = BpeKernels.codePointList(w)
    var mi = 0
    while (mi < ms.length) {
      val m = ms(mi)
      toks = BpeKernels.mergeOnce(toks, m(0), m(1), m(2))
      mi += 1
    }
    new GenericArrayData(toks.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(
      newChild: Expression): EncodeBpeWord = copy(child = newChild)
}

/** One greedy merge applied to an already-tokenized word array — the
  * training loop's per-round step over the distinct-word relation.
  */
case class BpeMergeWord(child: Expression, l: String, r: String)
    extends UnaryKernel[ArrayData] {
  override def prettyName: String = "bpe_merge_word"
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  @transient private lazy val lu = UTF8String.fromString(l)
  @transient private lazy val ru = UTF8String.fromString(r)
  @transient private lazy val mu = UTF8String.fromString(l + r)

  def compute(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val in = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) { in.add(toks.getUTF8String(i)); i += 1 }
    new GenericArrayData(BpeKernels.mergeOnce(in, lu, ru, mu)
      .toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeMergeWord = copy(child = newChild)
}
