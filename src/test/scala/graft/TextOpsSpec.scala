package graft

import scala.annotation.nowarn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.TextOps
import graft.index.InvertedIndex

class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("filterMatching keeps only regex-matching non-empty rows") {
    val df = Seq("<title>A</title>", "", "no tags here", "<title>B</title>").toDF("v")
    val got = TextOps.filterMatching(df, col("v"), "<title>.*?</title>")
      .as[String].collect().sorted
    assert(got.toSeq == Seq("<title>A</title>", "<title>B</title>"))
  }

  test("extractGroup pulls the regex group like the reference title extract") {
    val df = Seq("<title>Page One</title>").toDF("v")
    val got = df.select(TextOps.extractGroup(col("v"), "<title>(.*?)</title>", 1))
      .as[String].head()
    assert(got == "Page One")
  }

  test("extractAll finds every [[link]] occurrence on a line") {
    val df = Seq("x [[A]] y [[B|c]] z [[A]]").toDF("v")
    val got = df.select(TextOps.extractAll(col("v"), "\\[\\[.*?\\]\\]")).as[Seq[String]].head()
    assert(got == Seq("[[A]]", "[[B|c]]", "[[A]]"))
  }

  test("scrubNonAlpha + normalize matches InvertedIndex.java:100-104 semantics") {
    val df = Seq("Hello, World!!2  Ok").toDF("v")
    val got = df.select(TextOps.normalizeToken(TextOps.scrubNonAlpha(col("v"))))
      .as[String].head()
    assert(got == "hello world ok")
  }

  test("tokenize drops empty tokens like StringTokenizer") {
    val df = Seq("  a  b   c ").toDF("v")
    val got = df.select(TextOps.tokenize(col("v"))).as[Seq[String]].head()
    assert(got == Seq("a", "b", "c"))
  }

  test("inverted index keeps duplicate occurrences and sorts posting lists") {
    val docs = Seq((1L, "dog cat dog"), (2L, "cat")).toDF("doc_id", "text")
    val got = InvertedIndex.postingStrings(docs, "doc_id", "text")
      .orderBy("word").as[(String, String)].collect().toSeq
    // "dog" appears twice in doc 1 → id repeated (ref InvertedIndex.java:103-105)
    assert(got == Seq(("cat", "1,2"), ("dog", "1,1")))
  }

  test("bpe_pair_counts: weighted adjacent char pairs, hand-checked") {
    // corpus: "ab ab abc" → vocab {ab:2, abc:1}
    //   (a,b): 2 (from ab) + 1 (from abc) = 3
    //   (b,c): 1 (from abc)
    // single-char words carry no pairs
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    Seq((1L, "ab ab abc x")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("bpe_pair_counts")(spark, dir)
      .as[(String, String, Long)].collect().toList
    assert(got == List(("a", "b", 3L), ("b", "c", 1L)))
  }

  test("bpe_apply/bpe_encode lockstep a naive in-memory BPE trainer") {
    // Reference BPE: greedy left-to-right non-overlapping merge, top
    // pair by (count desc, a, b). Corpus exercises the tricky cases:
    // overlapping pair runs (aaaa), re-merge chains, exact ties.
    def applyMerge(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    val text = "aaaa aaaa abab banana bandana abc abc ab aaaa b"
    val wc = text.split(" ").toSeq.groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    var states = wc.keys.map(w => w -> w.map(_.toString).toList).toMap
    val merges = scala.collection.mutable.ListBuffer[(Long, String, String, Long)]()
    for (i <- 1 to 5) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      for ((w, syms) <- states; p <- syms.sliding(2) if p.size == 2)
        counts((p(0), p(1))) += wc(w)
      val ((a, b), n) = counts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.head
      merges += ((i.toLong, a, b, n))
      states = states.map { case (w, syms) => w -> applyMerge(syms, a, b) }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe2").toString
    Seq((1L, text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val gotMerges = SparkEntry.queries("bpe_apply")(spark, dir)
      .as[(Long, String, String, Long)].collect().toList
    assert(gotMerges == merges.toList)
    val gotEnc = SparkEntry.queries("bpe_encode")(spark, dir)
      .as[(String, Long, String)].collect().toList
    val wantEnc = wc.toSeq.sortBy { case (w, c) => (-c, w) }.take(10)
      .map { case (w, c) => (w, c, states(w).mkString(" ")) }.toList
    assert(gotEnc == wantEnc)
  }

  test("range-salted posting build is bit-identical to the plain build") {
    // 40 docs over a tiny rangeWidth=8 → 5 salt buckets per hot word;
    // duplicates, gaps, and a word present in every doc (the stop-word
    // shape the salt exists for)
    val docs = (0L until 40L).map { i =>
      val rep = if (i % 3 == 0) "dog dog" else "dog"
      (i, s"stop $rep ${if (i % 7 == 0) "rare" else ""}")
    }.toDF("doc_id", "text")
    val plain = InvertedIndex.postings(docs, "doc_id", "text")
      .orderBy("word").as[(String, Seq[Long])].collect().toSeq
    val salted = InvertedIndex.postingsSalted(docs, "doc_id", "text",
        rangeWidth = 8L)
      .orderBy("word").as[(String, Seq[Long])].collect().toSeq
    assert(plain == salted)
    assert(plain.map(_._1) == Seq("dog", "rare", "stop"))
    // sortedness + duplicate preservation survive the concat
    val dog = plain.find(_._1 == "dog").get._2
    assert(dog == dog.sorted && dog.size == 40 + 14)
  }

  test("streamed postingStrings ≡ two-level postings joined with ','") {
    // 4 input partitions; filler words spread the runs over every shuffle
    // partition. Edge rows: a null doc id (skipped, as concat_ws skips
    // nulls), a doc id shared by two pages (its ids merge in one run), a
    // word found only in the null-id doc (""), a word in every doc with
    // text, and null text (no words).
    val edge: Seq[(Option[Long], Option[String])] = Seq(
      (Some(1L), Some("stop alpha alpha Beta")),
      (Some(2L), Some("stop beta gamma")),
      (Some(2L), Some("stop gamma GAMMA")),
      (None, Some("stop orphan alpha alpha")),
      (Some(10L), None),
      (Some(10L), Some("stop alpha")))
    val filler = (20L until 80L).map { i =>
      val w = s"w${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
      (Some(i), Some(s"stop $w $w beta"))
    }
    val docs = (edge ++ filler).toDF("doc_id", "text").repartition(4)
    assert(docs.rdd.getNumPartitions >= 3)
    val want = InvertedIndex.postings(docs, "doc_id", "text")
      .select(col("word"),
        concat_ws(",", transform(col("postings"), _.cast("string"))).as("doc_ids"))
      .as[(String, String)].collect().sorted.toSeq
    def streamed(df: DataFrame) = df.as[(String, String)].collect().sorted.toSeq
    assert(streamed(InvertedIndex.postingStrings(docs, "doc_id", "text")) == want)
    Seq(true, false).foreach { salted =>
      val got = (InvertedIndex.postingStrings(docs, "doc_id", "text", salted)
        : @nowarn("cat=deprecation"))
      assert(streamed(got) == want, s"salted = $salted")
    }
    val byWord = want.toMap
    assert(byWord("orphan") == "")
    assert(byWord("alpha") == "1,1,10")
    assert(byWord("gamma") == "2,2,2")
    assert(byWord("beta") == ("1,2" +: (20 until 80).map(_.toString)).mkString(","))
    assert(byWord("stop") == ("1,2,2,10" +: (20 until 80).map(_.toString)).mkString(","))
  }

  test("explodeTokensWithPos preserves in-document order") {
    val docs = Seq((7L, "a b c")).toDF("doc_id", "text")
    val got = TextOps.explodeTokensWithPos(docs, col("text"), "pos", "word")
      .select("pos", "word").as[(Int, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0, "a"), (1, "b"), (2, "c")))
  }

  test("redactPii replaces every email/IP/phone and nothing else") {
    val docs = Seq(
      "mail bob.smith+x@corp.example.org and sue@a.io from 192.168.0.1 call 555-0134 twice 555-9999",
      "no pii here just words and numbers 42 and 1.5 fractions",
      "555-123 is not a phone 1.2.3 is not an ip a@b is not an email"
    ).toDF("text")
    val got = docs.select(TextOps.redactPii(col("text")).as("r"))
      .as[String].collect()
    assert(got(0) == "mail <EMAIL> and <EMAIL> from <IP> call <PHONE> twice <PHONE>")
    assert(got(1) == "no pii here just words and numbers 42 and 1.5 fractions")
    assert(got(2) == "555-123 is not a phone 1.2.3 is not an ip a@b is not an email")
    val (ne, ni, np) = TextOps.piiCounts(col("text"))
    val counts = docs.select(ne, ni, np).as[(Long, Long, Long)].collect()
    assert(counts(0) == ((2L, 1L, 2L)) && counts(1) == ((0L, 0L, 0L))
      && counts(2) == ((0L, 0L, 0L)))
  }
}
