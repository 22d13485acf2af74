package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused byte-level tokenizers — the single-pass replacements for the
  * regex tokenize chains in the two hottest per-task code paths
  * (optimization guide §1.2 step 2 / §4.1: make per-task work cheap with
  * codegen-friendly expressions once the job shape is right).
  *
  * [[WsTokens]] ≡ `filter(split(trim(c), "\\s+"), t -> length(t) > 0)`
  * (TextOps.tokenize): maximal runs of non-whitespace bytes, where
  * whitespace is Java regex `\s` = `[ \t\n\x0B\f\r]` — ASCII-only
  * (Pattern without UNICODE_CHARACTER_CLASS does not match U+00A0 etc.),
  * so a byte-level scan is exact: all six whitespace bytes are < 0x80
  * and UTF-8 continuation bytes can never alias them.
  *
  * [[AlphaTokens]] ≡ `tokenize(lower(trim(regexp_replace(c,
  * "[^a-zA-Z]+", " "))))` (InvertedIndex.occurrences): maximal runs of
  * ASCII letters, lowercased. Same byte-level argument; `lower` on
  * pure-ASCII runs is `| 0x20`.
  *
  * [[AlphaTermCounts]] is the per-document combine over the same tokens:
  * one `(word, n)` struct per DISTINCT [[AlphaTokens]] token, `n` its
  * occurrence count in the document, in first-occurrence order — i.e.
  * `groupBy(word).count()` over `explode(alpha_tokens(c))`, done inside
  * the scan so the posting build needs no aggregate operator.
  *
  * Why they exist: the composed forms cost two full regex passes plus
  * two whole-string copies (scrub, lower) per document before the split
  * even allocates its token array — measured as the dominant per-task
  * cost of the GB-scale dump_index leg. The fused scan reads each input
  * byte once and allocates only the emitted token strings (zero-copy
  * UTF8String slices of the input buffer where no case-folding is
  * needed). Equivalence is pinned by TokensSpec against the composed
  * Catalyst forms on adversarial inputs, and every oracle-checked key
  * that tokenizes re-certifies it end-to-end.
  *
  * All three stay inside WholeStageCodegen via the static-forwarder call
  * idiom (NfcNormalize/JaroWinkler pattern).
  */
case class WsTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ws_tokens needs a STRING input, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    TokensAlgo.wsTokens(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokensAlgo.wsTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): WsTokens =
    copy(child = newChild)
}

object WsTokens {
  def tokens(c: Column): Column = ColumnShim.column(WsTokens(ColumnShim.expression(c)))
}

case class AlphaTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "alpha_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"alpha_tokens needs a STRING input, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    TokensAlgo.alphaTokens(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokensAlgo.alphaTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): AlphaTokens =
    copy(child = newChild)
}

object AlphaTokens {
  def tokens(c: Column): Column = ColumnShim.column(AlphaTokens(ColumnShim.expression(c)))
}

case class AlphaTermCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = AlphaTermCounts.dataType
  override def prettyName: String = "alpha_term_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"alpha_term_counts needs a STRING input, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    TokensAlgo.alphaTermCounts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokensAlgo.alphaTermCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): AlphaTermCounts =
    copy(child = newChild)
}

object AlphaTermCounts {
  val dataType: DataType = ArrayType(StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("n", IntegerType, nullable = false))), containsNull = false)

  /** `array<struct<word: string, n: int>>`; null text → null. */
  def counts(c: Column): Column = ColumnShim.column(AlphaTermCounts(ColumnShim.expression(c)))
}

/** Byte-scan kernels behind Scala static forwarders for generated Java.
  * Emitted tokens are zero-copy UTF8String slices over the input byte
  * buffer where possible (UTF8String.fromBytes shares the array; the
  * downstream UnsafeProjection copies token bytes out immediately, so
  * no document-sized buffer outlives the row). */
object TokensAlgo {

  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  @inline private def isAlpha(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  def wsTokens(s: UTF8String): GenericArrayData = {
    if (s == null) return null
    val bytes = s.getBytes // zero-copy when the UTF8String spans its array
    val n = bytes.length
    val out = new ArrayBuffer[AnyRef](8)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) out += UTF8String.fromBytes(bytes, start, i - start)
    }
    new GenericArrayData(out.toArray)
  }

  def alphaTokens(s: UTF8String): GenericArrayData = {
    if (s == null) return null
    val out = new ArrayBuffer[AnyRef](8)
    forEachAlphaToken(s)(out += _)
    new GenericArrayData(out.toArray)
  }

  def alphaTermCounts(s: UTF8String): GenericArrayData = {
    if (s == null) return null
    // distinct words in first-occurrence order; the map holds each
    // word's index into `words`/`counts`
    val index = new java.util.HashMap[UTF8String, Integer]()
    val words = new ArrayBuffer[UTF8String](8)
    var counts = new Array[Int](8)
    forEachAlphaToken(s) { t =>
      val k = index.get(t)
      if (k != null) counts(k) += 1
      else {
        val i = words.length
        index.put(t, i)
        words += t
        if (i == counts.length) counts = java.util.Arrays.copyOf(counts, i * 2)
        counts(i) = 1
      }
    }
    val out = new Array[AnyRef](words.length)
    var i = 0
    while (i < out.length) {
      out(i) = new GenericInternalRow(Array[Any](words(i), counts(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Maximal ASCII-letter runs of `s`, lowercased, in order. */
  private def forEachAlphaToken(s: UTF8String)(f: UTF8String => Unit): Unit = {
    val bytes = s.getBytes
    val n = bytes.length
    var i = 0
    while (i < n) {
      while (i < n && !isAlpha(bytes(i))) i += 1
      val start = i
      var hasUpper = false
      while (i < n && isAlpha(bytes(i))) {
        if (bytes(i) < 'a') hasUpper = true
        i += 1
      }
      if (i > start) {
        if (!hasUpper) f(UTF8String.fromBytes(bytes, start, i - start))
        else {
          val t = java.util.Arrays.copyOfRange(bytes, start, i)
          var k = 0
          while (k < t.length) {
            if (t(k) < 'a') t(k) = (t(k) | 0x20).toByte
            k += 1
          }
          f(UTF8String.fromBytes(t))
        }
      }
    }
  }
}
