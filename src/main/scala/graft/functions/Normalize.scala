package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization (UAX #15 canonical composition) as a
  * codegen scalar — the first cleaning step of any serious text
  * pipeline: "é" as U+0065 U+0301 and as U+00E9 must hash, dedup,
  * shingle, and join identically, and raw web text mixes both freely.
  * Spark ships no normalizer; a Scala UDF would serialize through the
  * encoder boundary on every row, so this is a native [[UnaryKernel]]
  * invoked directly from generated code.
  *
  * Fast path: `Normalizer.isNormalized` is a cheap scan that returns
  * true for ASCII and already-composed text (the overwhelming
  * majority of a real corpus), in which case the INPUT UTF8String is
  * returned as-is — zero allocation per row on the hot path.
  *
  * Oracle parity: DuckDB's `nfc_normalize` and the JDK's
  * `java.text.Normalizer` both implement UAX #15; q_text_normalize
  * hash-matches through the full fixture corpus.
  */
case class NfcNormalize(child: Expression) extends UnaryKernel[UTF8String] {
  override def prettyName: String = "nfc_normalize"
  override def dataType: DataType = StringType
  override def inputTypes: Seq[DataType] = Seq(StringType)

  def compute(text: UTF8String): UTF8String = {
    import java.text.Normalizer
    val s = text.toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) text
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalize = copy(child = newChild)
}
