package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded corpus generator. Every workload's input is a MediaWiki-style
  * `</page>` dump written from a [[SplittableRandom]] seeded by `--seed`,
  * so the same seed gives the same bytes. The generator also writes the
  * expected results the output checks compare against (see [[Reference]]).
  *
  * A workload directory holds `input.xml` (the timed input), `warm.xml`
  * (the small set-up input of the same shape), their expected-result files,
  * `facts.properties`, and the marker `_gen_done`. The marker names the
  * generator version, workload, seed and sizes; a directory whose marker
  * matches is reused as it is, any other is regenerated.
  *
  * Run: `Gen <workload> <seed> <dir>`. */
object Gen {
  val Version = "g2"

  /** Inputs per workload: (timed size, set-up size), in pages. */
  val Sizes: Map[String, (Int, Int)] = Map(
    "pagerank_wiki" -> (260000, 4000),
    "index_wiki" -> (6000, 400),
    "txlog_wiki" -> (5000, 240))

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, dir) = args
    val t0 = System.nanoTime()
    val fresh = ensure(workload, seed.toLong, Paths.get(dir))
    println(f"gen $workload seed=$seed ${if (fresh) "generated" else "cached"} " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** Generates `dir` unless its marker matches; true when it generated. */
  def ensure(workload: String, seed: Long, dir: Path): Boolean = {
    val (big, small) = Sizes.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val key = s"$Version $workload seed=$seed pages=$big warm=$small"
    val marker = dir.resolve("_gen_done")
    if (Files.exists(marker) && new String(Files.readAllBytes(marker), UTF_8) == key)
      return false
    deleteTree(dir)
    Files.createDirectories(dir)
    val t0 = System.nanoTime()
    val facts = new java.util.Properties()
    def gen(name: String, pages: Int, sub: Long): Unit = {
      val rnd = new SplittableRandom(seed * 1000003L + sub)
      val f = workload match {
        case "pagerank_wiki" => pagerank(rnd, pages, dir, name)
        case "index_wiki" => index(rnd, pages, dir, name)
        case "txlog_wiki" => txlog(rnd, pages, dir, name)
      }
      f.foreach { case (k, v) => facts.setProperty(s"$name.$k", v) }
      facts.setProperty(s"$name.pages", pages.toString)
      facts.setProperty(s"$name.bytes", Files.size(dir.resolve(s"$name.xml")).toString)
      facts.setProperty(s"$name.sha256", sha256(dir.resolve(s"$name.xml")))
    }
    gen("input", big, 1)
    gen("warm", small, 2)
    facts.setProperty("gen_s", f"${(System.nanoTime() - t0) / 1e9}%.3f")
    val out = Files.newOutputStream(dir.resolve("facts.properties"))
    try facts.store(out, key) finally out.close()
    Files.write(marker, key.getBytes(UTF_8))
    true
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }

  def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Base-26 letters for an index; distinct indices give distinct words. */
  def alpha(v0: Long): String = {
    var x = v0
    val sb = new java.lang.StringBuilder(8)
    do { sb.append(('a' + (x % 26)).toChar); x /= 26 } while (x > 0)
    sb.toString
  }

  /** Dump writer: MediaWiki header, `<page>` blocks, trailer. The page id
    * comes before the revision id, as in a real export. */
  final class Dump(path: Path) {
    private val out: OutputStream = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
    private def w(s: String): Unit = out.write(s.getBytes(UTF_8))
    w("<mediawiki xml:lang=\"en\">\n  <siteinfo><sitename>Bench</sitename></siteinfo>\n")
    def page(title: String, id: Long, text: String): Unit = {
      w("  <page>\n    <title>"); w(title); w("</title>\n    <ns>0</ns>\n    <id>")
      w(id.toString); w("</id>\n    <revision>\n      <id>"); w((id * 7 + 1000000007L).toString)
      w("</id>\n      <text xml:space=\"preserve\">"); w(text)
      w("</text>\n    </revision>\n  </page>\n")
    }
    def close(): Unit = { w("</mediawiki>\n"); out.close() }
  }

  private val Filler = Array("the", "of", "and", "in", "is", "was", "see", "also", "from", "by")

  /** Page title of page i: two words and the index, all link-safe. */
  def title(i: Int): String = s"${alpha(i.toLong * 7919L % 456976L).capitalize} ${alpha(i)} $i"

  /** Rank r in [0, n) with P(r) falling as a power of r: hubs at low r. */
  private def powerRank(rnd: SplittableRandom, n: Int, exp: Double): Int =
    math.min(n - 1, (n * math.pow(rnd.nextDouble(), exp)).toInt)

  /** Link-dense, text-thin graph. In-degree follows a power law over a
    * random permutation (hubs are arbitrary pages). About 5% of pages are
    * dangling, 10% of links are red links, 1% of pages link to themselves,
    * 5% of links repeat an earlier link of the same page, and a few links
    * use the nested and padded forms the parser resolves. */
  def pagerank(rnd: SplittableRandom, n: Int, dir: Path, name: String): Seq[(String, String)] = {
    val perm = Array.range(0, n)
    var i = n - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    val links = new Array[Array[Int]](n)
    val dump = new Dump(dir.resolve(s"$name.xml"))
    var nLinks = 0L; var red = 0L
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < n) {
      sb.setLength(0)
      val deg = if (rnd.nextDouble() < 0.05) 0
        else 1 + math.min(40, (-math.log(1.0 - rnd.nextDouble()) * 3.0).toInt)
      val ls = new ArrayBuffer[Int](deg + 1)
      if (rnd.nextDouble() < 0.01) ls += i
      while (ls.size < deg) {
        if (ls.nonEmpty && rnd.nextDouble() < 0.05) ls += ls(rnd.nextInt(ls.size))
        else if (rnd.nextDouble() < 0.10) ls += -1 - powerRank(rnd, math.max(1, n / 10), 2.0)
        else ls += perm(powerRank(rnd, n, 3.3))
      }
      ls.foreach { t =>
        val target = if (t >= 0) title(t) else s"Missing ${alpha(-1L - t)}"
        sb.append(Filler(rnd.nextInt(Filler.length))).append(' ')
        val form = rnd.nextInt(100)
        if (form < 2) sb.append("[[File:").append(alpha(rnd.nextInt(1000))).append(".png|[[")
          .append(target).append("]] caption]]")
        else if (form < 6) sb.append("[[ ").append(target).append(" ]]")
        else sb.append("[[").append(target).append("]]")
        sb.append(' ')
      }
      sb.append(Filler(rnd.nextInt(Filler.length)))
      dump.page(title(i), 10L + i, sb.toString)
      links(i) = ls.iterator.map(t => if (t >= 0) t else -1).toArray
      nLinks += ls.size; red += ls.count(_ < 0)
      i += 1
    }
    dump.close()
    val ranks = Reference.pageRank(links)
    val w = Files.newBufferedWriter(dir.resolve(s"$name.expected"), UTF_8)
    try {
      i = 0
      while (i < n) {
        w.write(title(i)); w.write('\t'); w.write(java.lang.Long.toHexString(
          java.lang.Double.doubleToLongBits(ranks(i)))); w.write('\n')
        i += 1
      }
    } finally w.close()
    Seq("links" -> nLinks.toString, "red_links" -> red.toString)
  }

  /** Zipf(1) sampler over `v` words by inverse CDF. */
  final class Zipf(v: Int) {
    private val cdf = {
      val c = new Array[Double](v)
      var s = 0.0
      var k = 0
      while (k < v) { s += 1.0 / (k + 1); c(k) = s; k += 1 }
      c.map(_ / s)
    }
    def next(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      if (i >= 0) i else math.min(v - 1, -i - 1)
    }
  }

  private val Vocab = 60000
  private val words = Array.tabulate(Vocab)(k => alpha(k.toLong * 2654435761L % 308915776L))

  /** Text-heavy prose: Zipf words (the head are stop-words that appear in
    * nearly every page), capitals, punctuation, digits and apostrophes the
    * tokenizer must split on, and 1 to 3 links to other pages. */
  def prose(rnd: SplittableRandom, zipf: Zipf, nWords: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(nWords * 7)
    var k = 0
    var cap = true
    while (k < nWords) {
      val w = words(zipf.next(rnd))
      if (cap) sb.append(w.capitalize) else sb.append(w)
      cap = false
      val p = rnd.nextInt(100)
      if (p < 6) { sb.append(". "); cap = true }
      else if (p < 10) sb.append(", ")
      else if (p < 11) sb.append(' ').append(1900 + rnd.nextInt(120)).append(' ')
      else if (p < 12) sb.append("'s ")
      else if (p < 13) sb.append('-')
      else sb.append(' ')
      k += 1
    }
    val nl = 1 + rnd.nextInt(3)
    var l = 0
    while (l < nl) { sb.append(" [[").append(title(rnd.nextInt(n))).append("]]"); l += 1 }
    sb.toString
  }

  /** Ids ascend with the page index, so streaming the oracle in page order
    * yields posting lists already in id order. */
  def docId(i: Int): Long = 10L + 7L * i

  def index(rnd: SplittableRandom, n: Int, dir: Path, name: String): Seq[(String, String)] = {
    val zipf = new Zipf(Vocab)
    val oracle = new Reference.IndexOracle
    val dump = new Dump(dir.resolve(s"$name.xml"))
    var i = 0
    while (i < n) {
      val text = prose(rnd, zipf, 150 + rnd.nextInt(300), n)
      dump.page(title(i), docId(i), text)
      oracle.addDoc(docId(i), text)
      i += 1
    }
    dump.close()
    val w = Files.newBufferedWriter(dir.resolve(s"$name.expected"), UTF_8)
    try oracle.words.foreach { case (word, p) =>
      w.write(s"$word\t${p.count}\t${p.hash}\n")
    } finally w.close()
    Seq("occurrences" -> oracle.occurrences.toString, "words" -> oracle.words.size.toString)
  }

  /** A smaller corpus for the txlog tape, plus `<name>_edits.xml`: edited
    * versions of existing pages and new pages, the tape's merge source. */
  /** Buckets whose pages the txlog tape's merge edits. */
  val EditedBuckets: Range = 60 until 68

  def txlog(rnd: SplittableRandom, n: Int, dir: Path, name: String): Seq[(String, String)] = {
    val zipf = new Zipf(Vocab)
    val docs = new ArrayBuffer[(Long, String)](n)
    val dump = new Dump(dir.resolve(s"$name.xml"))
    var i = 0
    while (i < n) {
      val text = prose(rnd, zipf, 40 + rnd.nextInt(80), n)
      dump.page(title(i), docId(i), text)
      docs += docId(i) -> text
      i += 1
    }
    dump.close()
    // edits touch pages of a few buckets, as a burst of related edits
    // does, so the merge rewrites a few slices rather than the table
    val editable = (0 until n).filter(j => EditedBuckets.contains(Reference.bucketOf(docId(j))))
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < editable.size / 3) picked += editable(rnd.nextInt(editable.size))
    val edits = picked.toSeq.map(j => j -> prose(rnd, zipf, 40 + rnd.nextInt(80), n)) ++
      (0 until math.max(1, n / 100)).map(k => (n + k) -> prose(rnd, zipf, 40 + rnd.nextInt(80), n))
    val ed = new Dump(dir.resolve(s"${name}_edits.xml"))
    edits.foreach { case (j, t) => ed.page(title(j), docId(j), t) }
    ed.close()
    val model = Reference.Tape(new Reference.TxModel, docs, edits.map { case (j, t) => docId(j) -> t })
    val (rows, sum) = model.checksum()
    val (sliceRows, sliceSum) = model.checksum(_ == Reference.Tape.PrunedBucket)
    Seq("docs" -> n.toString, "edits" -> edits.size.toString,
      "rows" -> rows.toString, "checksum" -> sum.toString,
      "slice_rows" -> sliceRows.toString, "slice_checksum" -> sliceSum.toString)
  }
}
