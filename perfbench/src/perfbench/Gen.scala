package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.CRC32

/** Seeded input generators and the correctness references derived from them.
  * Nothing here calls the library: every expected value (payload checksums
  * per offset, batch timestamps, planted duplicate groups and their 3-shingle
  * Jaccard, the documents the quality rules must drop) follows from the seed
  * alone, so a check compares the program against an independent derivation,
  * never against a saved copy of an earlier output. */
object Gen {

  /** SplitMix64 finalizer: decorrelates (seed, stream, index) triples. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, idx: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) ^ idx))

  /** A fixed 4096-word lowercase vocabulary (4–8 letters, no digits), the
    * same for every seed: payloads and documents read like text, so Parquet
    * compression and the text operators see realistic input. */
  val Vocab: Array[String] = {
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val r = new SplittableRandom(0x5eedL)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 4096) {
      val syl = 2 + r.nextInt(3)
      val sb = new StringBuilder
      for (_ <- 0 until syl) { sb += cons(r.nextInt(cons.length)); sb += vow(r.nextInt(vow.length)) }
      seen += sb.toString
    }
    seen.toArray
  }
  private val VocabBytes: Array[Array[Byte]] = Vocab.map(_.getBytes(UTF_8))

  /** `size` bytes of space-separated vocabulary words (the last word cut at
    * the boundary) for record batch `idx` of generator stream `stream`. */
  def payload(seed: Long, stream: Long, idx: Long, size: Int): Array[Byte] = {
    val r = rng(seed, stream, idx)
    val out = new Array[Byte](size)
    var pos = 0
    while (pos < size) {
      val w = VocabBytes(r.nextInt(VocabBytes.length))
      val n = math.min(w.length, size - pos)
      System.arraycopy(w, 0, out, pos, n)
      pos += n
      if (pos < size) { out(pos) = ' '; pos += 1 }
    }
    out
  }

  def crc(b: Array[Byte]): Long = { val c = new CRC32; c.update(b); c.getValue }

  val T0 = 1700000000000L

  /** Timestamp of record batch `idx` of generator stream `stream`: 10 ms
    * apart with a seeded jitter under 10 ms, so timestamps rise strictly
    * with the index and a time range selects exactly an index range. */
  def timestamp(seed: Long, stream: Long, idx: Long): Long =
    T0 + 10L * idx + java.lang.Long.remainderUnsigned(mix(mix(seed ^ stream) ^ idx), 10L)

  /** One batch's share of an order-insensitive range checksum: its payload
    * CRC-32 and its timestamp, mixed. A range's checksum is the sum. */
  def batchSum(payloadCrc: Long, ts: Long): Long = mix(payloadCrc * 0x100000001B3L ^ ts)

  /** Reference checksum of batches [lo, hi) of generator stream `stream`. */
  def rangeSum(seed: Long, stream: Long, lo: Long, hi: Long, size: Int): Long =
    (lo until hi).iterator.map(i =>
      batchSum(crc(payload(seed, stream, i, size)), timestamp(seed, stream, i))).sum

  /** Start offsets of `count` reads of `len` batches each within [0, n). */
  def readStarts(seed: Long, stream: Long, n: Long, len: Long, count: Int): Array[Long] = {
    val r = rng(seed, stream, -1L)
    Array.fill(count)(r.nextLong(n - len + 1))
  }

  // ---- documents for llm_curate ----

  final case class Doc(id: Long, text: String)

  /** A seeded corpus with planted structure, ids 0 until n (the stream
    * offsets the documents are stored at).
    *
    * @param exactGroups ids of each planted exact-duplicate group (the
    *   same text at every id; the lowest id must be the one kept)
    * @param nearPairs planted near-duplicate pairs (a, b, jaccard): b is a
    *   with a few words replaced, jaccard over distinct word 3-shingles
    * @param lowQuality ids the quality rules must drop: under 50 words, or
    *   more than a fifth of the characters digits
    */
  final case class Corpus(docs: Array[Doc], exactGroups: Seq[Seq[Long]],
                          nearPairs: Seq[(Long, Long, Double)], lowQuality: Set[Long]) {
    def bytes: Long = docs.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum
  }

  def corpus(seed: Long, nClean: Int, nExactGroups: Int, nNearPairs: Int,
             nLow: Int): Corpus = {
    val r = rng(seed, 7L, 0L)
    def words(n: Int): Array[String] = Array.fill(n)(Vocab(r.nextInt(Vocab.length)))
    // slots before shuffling: (text, role)
    val clean = Array.fill(nClean)(words(80 + r.nextInt(120)).mkString(" "))
    val groups = (0 until nExactGroups).map { g => (g, 2 + r.nextInt(3)) }
    val nearBase = Array.fill(nNearPairs)(words(120 + r.nextInt(60)))
    val nearTwin = nearBase.map { ws =>
      val t = ws.clone()
      for (_ <- 0 until 2 + r.nextInt(2)) t(r.nextInt(t.length)) = Vocab(r.nextInt(Vocab.length))
      t
    }
    val low = (0 until nLow).map { i =>
      if (i % 2 == 0) words(10 + r.nextInt(30)).mkString(" ")
      else Array.fill(60 + r.nextInt(40)) {
        if (r.nextInt(2) == 0) f"${r.nextInt(1000000)}%06d" else Vocab(r.nextInt(Vocab.length))
      }.mkString(" ")
    }
    sealed trait Role
    case object Clean extends Role
    final case class Exact(g: Int) extends Role
    final case class Near(p: Int, twin: Boolean) extends Role
    case object Low extends Role
    val slots = scala.collection.mutable.ArrayBuffer.empty[(String, Role)]
    clean.foreach(t => slots += ((t, Clean)))
    groups.foreach { case (g, copies) =>
      val t = words(80 + r.nextInt(120)).mkString(" ")
      for (_ <- 0 until copies) slots += ((t, Exact(g)))
    }
    for (p <- 0 until nNearPairs) {
      slots += ((nearBase(p).mkString(" "), Near(p, twin = false)))
      slots += ((nearTwin(p).mkString(" "), Near(p, twin = true)))
    }
    low.foreach(t => slots += ((t, Low)))
    // Fisher-Yates with the seeded generator: planted roles land anywhere
    val arr = slots.toArray
    for (i <- arr.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val tmp = arr(i); arr(i) = arr(j); arr(j) = tmp
    }
    val docs = arr.zipWithIndex.map { case ((t, _), i) => Doc(i.toLong, t) }
    val exactGroups = arr.zipWithIndex.collect { case ((_, Exact(g)), i) => (g, i.toLong) }
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).toSeq.sorted)
    val nearIds = arr.zipWithIndex.collect { case ((_, Near(p, tw)), i) => ((p, tw), i.toLong) }.toMap
    val nearPairs = (0 until nNearPairs).map { p =>
      val a = nearIds((p, false)); val b = nearIds((p, true))
      (math.min(a, b), math.max(a, b), jaccard3(docs(a.toInt).text, docs(b.toInt).text))
    }
    val lowIds = arr.zipWithIndex.collect { case ((_, Low), i) => i.toLong }.toSet
    require(lowIds.forall(i => mustDrop(docs(i.toInt).text)) &&
      docs.filterNot(d => lowIds(d.id)).forall(d => !mustDrop(d.text)),
      "generator planted a document on the wrong side of the quality rules")
    Corpus(docs, exactGroups, nearPairs, lowIds)
  }

  /** Jaccard of distinct word 3-shingle sets. */
  def jaccard3(a: String, b: String): Double = {
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val x = sh(a); val y = sh(b)
    (x intersect y).size.toDouble / (x union y).size
  }

  /** The quality rules the curation pass runs, written out independently
    * (thresholds = TextOps.qualityFilter's defaults): at least 50 words,
    * mean word length within [3, 10], at most 20% digit characters. */
  def mustDrop(text: String): Boolean = {
    val toks = text.split(" ", -1)
    val avg = toks.map(_.length).sum.toDouble / toks.length
    val digits = text.count(c => c >= '0' && c <= '9').toDouble / text.length
    toks.length < 50 || avg < 3.0 || avg > 10.0 || digits > 0.2
  }

  /** Probability that banded MinHash (`bands` bands of `rows` rows) makes a
    * pair of Jaccard `j` a candidate: 1 - (1 - j^rows)^bands. */
  def lshHit(j: Double, rows: Int = 4, bands: Int = 4): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)
}
