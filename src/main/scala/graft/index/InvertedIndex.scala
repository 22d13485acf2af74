package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.AlphaTermCounts
import graft.ops.TextOps

/** Inverted index — the Spark-native re-expression of the reference's
  * single MR job (ref: InvertedIndex.java:36-133):
  *
  *   tokenize(scrub(text)) → (word, doc_id) per OCCURRENCE →
  *   group by word → comma-joined posting list.
  *
  * Reference semantics kept:
  *  - duplicates preserved: one id per word occurrence, no dedup
  *    (ref: InvertedIndex.java:103-105);
  *  - words are lowercased alpha runs (ref: InvertedIndex.java:100-104).
  *
  * Deliberate divergence (SURVEY.md §7.5): posting lists are sorted by
  * doc id (numeric) before joining — the reference's order is shuffle-order
  * nondeterministic (ref: InvertedIndex.java:125-130), which would make any
  * cross-engine check impossible.
  *
  * Scale notes: [[postingStrings]] is one hash shuffle of one row per
  * distinct (word, doc) pair — the tokenizer itself combines each
  * document's repeats ([[graft.functions.AlphaTermCounts]]), the map-side
  * combiner the reference never configured (SURVEY.md §4.2) — then an
  * external sort by (word, doc_id) within each partition and one streamed
  * pass that joins each word's run into its posting string. No operator
  * holds a word's posting list as an array: the sorter spills, and a
  * stop-word present in every document holds only its output string in
  * memory, so no salting is needed for skew. [[postings]] and
  * [[postingsSalted]] keep the ArrayType form for callers that want the
  * list as data.
  */
object InvertedIndex {

  /** (word, docId) pair stream — one row per occurrence. Since r16 the
    * scrub → lower → split → explode chain is the fused single-pass
    * byte scan [[graft.functions.AlphaTokens]] (maximal ASCII-letter
    * runs, lowercased): the composed form cost two regex passes plus
    * two whole-string copies per document — the dominant per-task cost
    * of the GB-scale dump_index leg. Bit-identical tokens (TokensSpec
    * pins the equivalence; the inverted_index oracles re-certify it). */
  def occurrences(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.AlphaTokens.tokens(col(textCol))).as("word"))
      .select(col("word"), col("doc_id"))

  /** The pre-r16 composed form of [[occurrences]] — the TokensSpec
    * cross-check target. */
  private[graft] def occurrencesComposed(docs: DataFrame, idCol: String,
                                         textCol: String): DataFrame =
    TextOps
      .explodeTokens(
        docs.select(col(idCol).as("doc_id"),
          TextOps.normalizeToken(TextOps.scrubNonAlpha(col(textCol))).as("t")),
        col("t"), "word")
      .select(col("word"), col("doc_id"))

  /** word → sorted ArrayType posting list (ids repeat per occurrence).
    *
    * Two-level aggregation, NOT a direct collect_list over occurrences:
    * level 1 counts per (word, doc_id) — a plain `count` with map-side
    * partial aggregation, so the shuffle carries one row per DISTINCT
    * (word, doc_id) pair instead of one row per occurrence (the dump
    * drive's 1.4 GB corpus has ~200M occurrences but far fewer distinct
    * pairs — this is exactly the combiner the reference never configured,
    * SURVEY.md §4.2). Level 2 rebuilds the duplicate-preserving list with
    * `array_repeat`, bounding a stop-word's group at #docs entries rather
    * than #occurrences. Output is bit-identical to the one-level form:
    * sort_array over (doc_id, n) structs orders by doc_id (unique within
    * a word group), and repeats expand adjacently. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    occurrences(docs, idCol, textCol)
      .groupBy("word", "doc_id").agg(count(lit(1)).as("n"))
      .groupBy("word")
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("doc_id"), col("n")))),
        p => array_repeat(p("doc_id"), p("n").cast("int")))).as("postings"))

  /** Range-salted variant of [[postings]] for stop-word skew: level 2's
    * collect_list puts a hot word's ENTIRE posting list (one entry per
    * doc containing it) into one task — the documented skew case on the
    * bench dump, where the `[[Pn]]` markup scrubs to a "p" word hitting
    * every page.
    *
    * The salt is doc_id DIV `rangeWidth` — a RANGE, not a hash: phase A
    * builds per-(word, range) sub-lists (each task sorts ≤ rangeWidth
    * distinct ids, regardless of corpus size), and because ranges
    * partition the id space in order, phase B just CONCATENATES the
    * sub-lists sorted by salt — no re-sort of elements, so the output
    * is bit-identical to [[postings]]. Salt-bucket count grows with the
    * corpus while per-task group size stays bounded — the property that
    * survives a 100× scale-up. Cost: one extra shuffle of posting-array
    * rows (#words × #ranges-touched), which is why it must MEASURE
    * faster on a skewed corpus to earn the default slot.
    *
    * Measured (Prof `indexsalt`, 1.8 GB / 300k-page dump, hot "p" word
    * in every page). Round 6: 4 cores — plain 21.6 s, salted 22.0 s;
    * 32 cores — plain 4.9 s, salted 4.6 s. Round 7 at 4 cores: plain
    * 26.5–31.7 s across reps, salted 25.1–25.5 s. [[postingStrings]]
    * streams each word's run and needs no salt; this form serves the
    * `inverted_index_salted` key and callers that want the ArrayType
    * list. */
  def postingsSalted(docs: DataFrame, idCol: String, textCol: String,
                     rangeWidth: Long = 16384L): DataFrame =
    occurrences(docs, idCol, textCol)
      .groupBy("word", "doc_id").agg(count(lit(1)).as("n"))
      .withColumn("salt", expr(s"doc_id div $rangeWidth"))
      .groupBy("word", "salt")
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("doc_id"), col("n")))),
        p => array_repeat(p("doc_id"), p("n").cast("int")))).as("part"))
      .groupBy("word")
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("salt"), col("part")))),
        p => p("part"))).as("postings"))

  /** word → "id1,id2,…" string rows, byte-compatible with the reference's
    * text sink shape (ref: InvertedIndex.java:123-131) modulo sort order,
    * and equal to [[postings]] joined with `concat_ws(",", …)`: ids sorted
    * by doc id, each repeated once per occurrence, null ids skipped (a
    * word found only in null-id documents gets "").
    *
    * Plan: per-document term counts from the tokenizer, one hash
    * repartition on word, a sort by (word, doc_id) within each partition,
    * and one streamed pass per partition ([[joinRuns]]). The row order of
    * the result is unspecified; callers sort. */
  def postingStrings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("doc_id"), inline(AlphaTermCounts.counts(col(textCol))))
      .repartition(col("word"))
      .sortWithinPartitions("word", "doc_id")
      .select(col("word"), col("doc_id").cast("string"), col("n"))
      .as[(String, String, Int)]
      .mapPartitions(joinRuns)
      .toDF("word", "doc_ids")
  }

  @deprecated("postingStrings has no per-word list left to salt; `salted` has no effect",
    "0.1.0")
  def postingStrings(docs: DataFrame, idCol: String, textCol: String,
                     salted: Boolean): DataFrame =
    postingStrings(docs, idCol, textCol)

  /** Joins runs of equal words in (word, id, n) rows sorted by word into
    * one (word, "id,id,…") row per word: each id `n` times, null ids
    * skipped, as `concat_ws` does. Holds one output string at a time. */
  private def joinRuns(rows: Iterator[(String, String, Int)]): Iterator[(String, String)] = {
    val in = rows.buffered
    val sb = new java.lang.StringBuilder
    new Iterator[(String, String)] {
      def hasNext: Boolean = in.hasNext
      def next(): (String, String) = {
        val word = in.head._1
        sb.setLength(0)
        var first = true
        while (in.hasNext && in.head._1 == word) {
          val (_, id, n) = in.next()
          if (id != null) {
            var k = 0
            while (k < n) {
              if (!first) sb.append(',')
              sb.append(id)
              first = false
              k += 1
            }
          }
        }
        (word, sb.toString)
      }
    }
  }
}
