package graft

import org.apache.spark.sql.functions._
import graft.index.InvertedIndex
import graft.ops.TextOps

/** Equivalence pins for the r16 fused byte-scan tokenizers
  * (graft.functions.WsTokens / AlphaTokens) against the composed
  * Catalyst forms they replaced — the optimization-round discipline:
  * an internals change to a tokenizing operator must prove it computes
  * the same thing, on exactly the inputs where a byte-level scan could
  * plausibly diverge from the regex semantics. */
class TokensSpec extends SparkTestBase {
  import spark.implicits._

  /** Adversarial inputs: empties, pure whitespace, every ASCII \s byte,
    * non-ASCII whitespace (U+00A0, U+2028 — Java \s must NOT split on
    * these), multi-byte UTF-8 inside and between tokens, case mixes,
    * digits/punctuation runs, and leading/trailing separators. */
  private val cases: Seq[String] = Seq(
    "", " ", "   ", "\t\n\r ", "a", " a ", "a b", "  a  b   c ",
    "a\tb\nc\rdef", "Hello, World!!2  Ok",
    "ALLCAPS lower MiXeD", "don't STOP-me now123abc",
    " ", "a b", "nb sp end", "line sep",
    "café naïve 中文 mixédCASE",
    "[[P123]] link [[Other|x]]", "  trailing space  ",
    "tab\tseparated\twords", "1234 5678", "__under__score__",
    "😀 emoji😀inside", "A", "Z z aA Zz")

  test("WsTokens ≡ filter(split(trim(c), \\s+)) on adversarial inputs") {
    val df = cases.toDF("v")
    val fused = df.select(TextOps.tokenize(col("v"))).as[Seq[String]].collect()
    val composed = df.select(TextOps.tokenizeComposed(col("v")))
      .as[Seq[String]].collect()
    fused.zip(composed).zip(cases).foreach { case ((f, c), in) =>
      assert(f == c, s"WsTokens diverged on ${in.map(_.toInt.toHexString)}")
    }
    // null in → null out, matching the composed chain
    val nullRow = Seq(Option.empty[String]).toDF("v")
    assert(nullRow.select(TextOps.tokenize(col("v"))).head().isNullAt(0))
    assert(nullRow.select(TextOps.tokenizeComposed(col("v"))).head().isNullAt(0))
  }

  test("AlphaTokens ≡ scrub→lower→tokenize on adversarial inputs") {
    val df = cases.toDF("v")
    val fused = df.select(explode_outer(
        graft.functions.AlphaTokens.tokens(col("v"))).as("w"))
      .as[Option[String]].collect().toSeq
    val composed = df.select(explode_outer(TextOps.tokenizeComposed(
        TextOps.normalizeToken(TextOps.scrubNonAlpha(col("v"))))).as("w"))
      .as[Option[String]].collect().toSeq
    assert(fused.sorted == composed.sorted)
  }

  test("occurrences (fused) ≡ occurrencesComposed on a mixed corpus") {
    val docs = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fused = InvertedIndex.occurrences(docs, "doc_id", "text")
      .as[(String, Long)].collect().sorted.toSeq
    val composed = InvertedIndex.occurrencesComposed(docs, "doc_id", "text")
      .as[(String, Long)].collect().sorted.toSeq
    assert(fused == composed)
  }

  test("AlphaTermCounts ≡ groupBy(word).count() over AlphaTokens, per document") {
    // the shared cases plus repeats in every case mix, letters glued to
    // multibyte UTF-8, no-letter text, and more distinct words than the
    // kernel's initial capacity
    val texts: Seq[Option[String]] = None +: (cases ++ Seq(
      "the The THE tHe", "a a a b a", "ümlautWordümlaut wordÄword WORD",
      "....!!!123 ---", "😀dog😀DOG😀 ñdogñ",
      "one two three four five six seven eight nine ten one ten")).map(Some(_))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fused = docs
      .select(col("doc_id"), inline(graft.functions.AlphaTermCounts.counts(col("text"))))
      .as[(Long, String, Int)].collect().map { case (d, w, n) => (d, w, n.toLong) }
      .sorted.toSeq
    val grouped = docs
      .select(col("doc_id"), explode(graft.functions.AlphaTokens.tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").count()
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(fused == grouped)
    val nullRow = Seq(Option.empty[String]).toDF("v")
    assert(nullRow.select(graft.functions.AlphaTermCounts.counts(col("v"))).head().isNullAt(0))
  }

  test("AlphaTermCounts interpreted: distinct words in first-occurrence order") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def counts(s: String): Seq[(String, Int)] =
      graft.functions.AlphaTermCounts(Literal(UTF8String.fromString(s), StringType))
        .eval(null).asInstanceOf[ArrayData].toSeq[InternalRow](
          graft.functions.AlphaTermCounts.dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType)
        .map(r => (r.getUTF8String(0).toString, r.getInt(1)))
    assert(counts("Dog cat DOG, bird; cat dog") == Seq(("dog", 3), ("cat", 2), ("bird", 1)))
    assert(counts("") == Seq.empty && counts("123 !?") == Seq.empty)
    cases.foreach { s =>
      val want = s.replaceAll("[^a-zA-Z]+", " ").toLowerCase(java.util.Locale.ROOT).trim
        .split("\\s+").toSeq.filter(_.nonEmpty)
      assert(counts(s) == want.distinct.map(w => (w, want.count(_ == w))),
        s"interpreted AlphaTermCounts on '$s'")
    }
  }

  test("fused tokenizers evaluate identically interpreted and codegen'd") {
    // force the interpreted path (eval) next to the codegen path by
    // evaluating the expression directly
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    cases.foreach { s =>
      val ws = graft.functions.WsTokens(Literal(UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType))
      val al = graft.functions.AlphaTokens(Literal(UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType))
      val wsGot = ws.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val wsWant = s.split("\\s+").toSeq.filter(_.nonEmpty)
      assert(wsGot == wsWant, s"interpreted WsTokens on '$s'")
      val alGot = al.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val alWant = s.replaceAll("[^a-zA-Z]+", " ")
        .toLowerCase(java.util.Locale.ROOT).trim
        .split("\\s+").toSeq.filter(_.nonEmpty)
      assert(alGot == alWant, s"interpreted AlphaTokens on '$s'")
    }
  }
}
