package perfbench

import scala.collection.mutable

/** Independent oracles for the three workloads. Nothing here calls the
  * library: the expected outputs are derived from the generator's own
  * model of each corpus, so a defect in the parser, the tokenizer or the
  * PageRank loop cannot hide in both sides of a check. */
object Reference {

  /** The reference recurrence: r0 = 1/n; r' = d * sum(r(q)/outDeg(q)) + (1 - d).
    * `links(i)` lists page i's link occurrences as page indices, -1 for a
    * red link. Red links count toward the out-degree and their mass is
    * dropped; duplicates and self-loops count once per occurrence;
    * dangling pages contribute nothing. */
  def pageRank(links: Array[Array[Int]], iters: Int = 10, d: Double = 0.85): Array[Double] = {
    val n = links.length
    var rank = Array.fill(n)(1.0 / n)
    val sums = new Array[Double](n)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(sums, 0.0)
      var i = 0
      while (i < n) {
        val ls = links(i)
        if (ls.length > 0) {
          val c = rank(i) / ls.length
          var k = 0
          while (k < ls.length) { if (ls(k) >= 0) sums(ls(k)) += c; k += 1 }
        }
        i += 1
      }
      rank = sums.map(s => d * s + (1.0 - d))
      it += 1
    }
    rank
  }

  /** Maximal runs of ASCII letters, lowercased: the inverted index's word
    * rule, restated from its definition. */
  def tokenize(text: String)(f: String => Unit): Unit = {
    var i = 0
    val n = text.length
    def letter(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    while (i < n) {
      while (i < n && !letter(text.charAt(i))) i += 1
      val start = i
      while (i < n && letter(text.charAt(i))) i += 1
      if (i > start) f(text.substring(start, i).toLowerCase(java.util.Locale.ROOT))
    }
  }

  /** One word's posting list, folded as it streams: occurrence count and
    * an order-sensitive hash of the ids, so the whole sorted list is
    * compared without holding it. */
  final class Posting {
    var count = 0L
    var hash = 0L
    var last = Long.MinValue
    var sorted = true
    def add(id: Long): Unit = {
      if (id < last) sorted = false
      last = id
      count += 1
      hash = hash * 1000003L + id + 1L
    }
  }

  /** Word -> posting digest over docs given in ascending id order. */
  final class IndexOracle {
    val words = mutable.HashMap.empty[String, Posting]
    var occurrences = 0L
    def addDoc(id: Long, text: String): Unit =
      tokenize(text) { w =>
        words.getOrElseUpdate(w, new Posting).add(id)
        occurrences += 1
      }
  }

  /** 64-bit FNV-1a over a string's chars. */
  def strHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /** Content hash of one txlog row; a table's checksum is the sum over
    * its rows, so it does not depend on row order. */
  def rowHash(bucket: Int, docId: Long, rev: Int, text: String): Long =
    mix(mix(mix(docId) ^ bucket) + rev * 0x9e3779b97f4a7c15L) ^ strHash(text)

  /** Buckets of the txlog table: doc_id mod 100. */
  val Buckets = 100
  def bucketOf(docId: Long): Int = Math.floorMod(docId, Buckets.toLong).toInt

  /** The txlog statement tape as a plain in-memory model. Rows are
    * doc_id -> (bucket, rev, text). Each method mirrors one statement the
    * benchmark issues; [[Tape]] fixes their arguments. */
  final class TxModel {
    val rows = mutable.LongMap.empty[(Int, Int, String)]
    def append(docs: Iterable[(Long, String)]): Unit =
      docs.foreach { case (id, t) => rows(id) = (bucketOf(id), 0, t) }
    def deleteBucket(b: Int): Unit = rows.filterInPlace { case (_, r) => r._1 != b }
    def merge(edits: Iterable[(Long, String)]): Unit =
      edits.foreach { case (id, t) => rows(id) = (bucketOf(id), 1, t) }
    def update(b: Int, add: Int): Unit =
      rows.mapValuesInPlace { case (_, r) => if (r._1 == b) (r._1, r._2 + add, r._3) else r }
    def deleteWhere(b: Int, mod: Int): Unit =
      rows.filterInPlace { case (id, r) => !(r._1 == b && id % mod == 0) }
    def checksum(pred: Int => Boolean = _ => true): (Long, Long) = {
      var n = 0L; var s = 0L
      rows.foreach { case (id, (b, rev, t)) =>
        if (pred(b)) { n += 1; s += rowHash(b, id, rev, t) }
      }
      (n, s)
    }
  }

  /** The fixed statement tape of the txlog workload. */
  object Tape {
    /** Slices optimize clusters the table into: one per bucket on the
      * timed input; the small set-up input gets few, as a small table
      * would, so set-up stays cheap. */
    def slices(rows: Long): Int = math.max(4, math.min(Buckets.toLong, rows / 40)).toInt
    val DeletedBuckets = Seq(7, 50)
    val UpdateBucket = 42
    val UpdateAdd = 10
    val MorBucket = 77
    val MorMod = 3
    val PrunedBucket = 55

    def apply(m: TxModel, docs: Iterable[(Long, String)],
              edits: Iterable[(Long, String)]): TxModel = {
      m.append(docs)
      DeletedBuckets.foreach(m.deleteBucket)
      m.merge(edits)
      m.update(UpdateBucket, UpdateAdd)
      m.deleteWhere(MorBucket, MorMod)
      m
    }
  }
}
