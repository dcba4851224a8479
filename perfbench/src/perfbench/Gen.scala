package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.spark.{InSpan, InterleavedGen}

/** One generated interleaved document, with what extraction must give
  * back: the text spans concatenate to `text` and the media spans carry
  * `media` in this order.
  */
final case class GenDoc(docId: Long, spans: Vector[InSpan], text: String, media: Vector[String]) {
  def htmlBytes: Int = spans.iterator.filter(_.kind == "text").map(s => Gen.utf8Len(s.text)).sum
  def fragments: Int = spans.count(_.kind == "text")

  /** The document as one HTML byte stream plus media placements, the
    * shape the single-thread engine layers take.
    */
  def html: HtmlDoc = {
    val out = new java.io.ByteArrayOutputStream(htmlBytes)
    val refs = ArrayBuffer[String]()
    val offs = ArrayBuffer[Int]()
    spans.foreach { s =>
      if (s.kind == "text") out.write(s.text.getBytes(UTF_8))
      else { refs += s.media_ref; offs += out.size() }
    }
    HtmlDoc(docId.toString, out.toByteArray, refs.toVector, offs.toVector)
  }
}

final case class HtmlDoc(name: String, bytes: Array[Byte], mediaRefs: Vector[String],
                         mediaOffsets: Vector[Int])

/** Seeded input generators. Every document is a pure function of
  * (seed, doc id, source text), so the same seed gives byte-identical
  * inputs whichever task generates them.
  */
object Gen {

  /** Text fragments are 1..MaxFragBytes UTF-8 bytes, cut on code points. */
  val MaxFragBytes = 160
  val MaxMedia = 4

  def utf8Len(s: String): Int = {
    var n = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      n += utf8Len(cp)
      i += Character.charCount(cp)
    }
    n
  }

  def utf8Len(cp: Int): Int = if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed).split().nextLong() ^ (stream * 0x9E3779B97F4A7C15L))

  /** Moves `i` forward off the low half of a surrogate pair. */
  private def cpBoundary(s: String, i: Int): Int =
    if (i > 0 && i < s.length && Character.isLowSurrogate(s.charAt(i))) i + 1 else i

  /** `text` wrapped in the InterleavedGen page template, with 0..MaxMedia
    * media placeholders at seeded positions inside the text, split into
    * two paragraphs at its middle, and cut into fragments of seeded size.
    */
  def interleaved(seed: Long, docId: Long, text: String, lang: String, source: String): GenDoc = {
    val r = rng(seed, docId)
    val len = text.length
    val nMedia = r.nextInt(MaxMedia + 1)
    val cuts =
      if (len < 2) Vector.empty[Int]
      else Vector.fill(nMedia)(cpBoundary(text, 1 + r.nextInt(len - 1))).filter(_ < len).distinct.sorted
    val mid = cpBoundary(text, len / 2)

    val pieces = ArrayBuffer[(Boolean, String)]((true, InterleavedGen.preamble(docId, lang, source)))
    val media = ArrayBuffer[String]()
    var pos = 0
    for (p <- (cuts :+ mid).distinct.sorted) {
      if (p > pos) pieces += ((true, text.substring(pos, p)))
      pos = p
      if (p == mid) pieces += ((true, InterleavedGen.midPiece))
      if (cuts.contains(p)) {
        val ref = s"media://$docId/${media.length}"
        media += ref
        pieces += ((false, ref))
      }
    }
    if (len > pos) pieces += ((true, text.substring(pos)))
    pieces += ((true, InterleavedGen.postamble(docId, lang)))

    val spans = ArrayBuffer[InSpan]()
    var off = 0
    for ((isText, payload) <- pieces) {
      if (!isText) spans += InSpan("media", "", payload, off)
      else {
        var i = 0
        while (i < payload.length) {
          val target = 1 + r.nextInt(MaxFragBytes)
          var j = i
          var bytes = 0
          while (j < payload.length && bytes < target) {
            val cp = payload.codePointAt(j)
            bytes += utf8Len(cp)
            j += Character.charCount(cp)
          }
          spans += InSpan("text", payload.substring(i, j), "", off)
          off += bytes
          i = j
        }
      }
    }
    GenDoc(docId, spans.toVector, text, media.toVector)
  }

  /** SHA-256 over a document sequence, for determinism checks. */
  def digest(docs: Iterator[GenDoc]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { d =>
      md.update(d.docId.toString.getBytes(UTF_8))
      d.spans.foreach { s =>
        md.update(s"${s.kind}|${s.offset}|${s.media_ref}|".getBytes(UTF_8))
        md.update(s.text.getBytes(UTF_8))
      }
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Source rows of the extract corpus: the sf0.1 `documents` table. */
final case class SourceDoc(doc_id: Long, text: String, lang: String, source: String)

/** The curate corpus: synthetic documents over the sf0.1 vocabulary with
  * near-duplicate clusters and quality failures planted by construction.
  *
  * Every document is lines of `WordsPerLine` words ending in '.', each
  * line holding two stop words, so a clean document passes the C4,
  * Gopher and duplicate-line rules. A cluster is a base document plus
  * variants, each with one word swapped: two members differ in at most
  * two words, so every pair in a cluster shares >= 0.75 of its word
  * 3-gram shingles, while unrelated documents share almost none. Cluster
  * sizes are heavy-tailed: P(k) is proportional to k^-ClusterExponent for
  * k in 2..MaxClusterSize, drawn until ClusterRate of the documents are
  * in clusters. Each planted failure breaks exactly one funnel rule.
  *
  * The rates, the exponent and the largest size are assumptions, not
  * measurements of a real corpus; see perfbench/README.md.
  */
object CurateGen {

  val StopWords = Vector("the", "of", "and", "to", "with")
  val WordsPerLine = 10
  val GoodLines = 5
  val FailureKinds = Vector("lorem", "short", "dup_lines", "long")

  /** Share of the documents that sit in planted near-duplicate clusters. */
  val ClusterRate = 0.2
  val ClusterExponent = 2.0
  val MaxClusterSize = 50
  /** Share of the documents that are planted quality failures. */
  val FailureRate = 0.1

  final case class Doc(id: Long, text: String, role: String)

  final case class Corpus(docs: Vector[Doc], clusters: Vector[Vector[Long]],
                          kept: Set[Long], failures: Map[String, Int]) {
    /** Every unordered pair inside a planted cluster, as (smaller, larger). */
    def plantedPairs: Set[(Long, Long)] =
      clusters.flatMap(c => c.combinations(2).map(p => (p.min, p.max))).toSet
  }

  /** Cumulative P(k) for k = 2..MaxClusterSize. */
  private val sizeCdf: Vector[Double] = {
    val w = (2 to MaxClusterSize).map(k => math.pow(k, -ClusterExponent))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toVector
  }

  def clusterSize(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = sizeCdf.indexWhere(u < _)
    2 + (if (i < 0) sizeCdf.length - 1 else i)
  }

  def generate(seed: Long, n: Int, vocab: IndexedSeq[String]): Corpus = {
    require(vocab.length >= 2, "vocabulary too small")
    val r = Gen.rng(seed, -1L)
    val inClusters = (n * ClusterRate).toInt
    val nFail = (n * FailureRate).toInt
    require(inClusters + nFail <= n, "planted documents exceed the corpus")

    // ids 1..n in seeded order, so roles interleave by id
    val ids = (1L to n.toLong).toArray
    var i = ids.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val next = ids.iterator

    // a line is words plus the positions that hold stop words
    def line(): (Vector[String], Set[Int]) = {
      val stops = Iterator.continually(r.nextInt(WordsPerLine - 1)).distinct.take(2).toSet
      (Vector.tabulate(WordsPerLine)(k =>
        if (stops(k)) StopWords(r.nextInt(StopWords.length)) else vocab(r.nextInt(vocab.length))), stops)
    }
    def render(lines: Seq[Vector[String]]): String = lines.map(_.mkString(" ") + ".").mkString("\n")

    val docs = ArrayBuffer[Doc]()
    val clusters = ArrayBuffer[Vector[Long]]()
    var left = inClusters
    while (left >= 2) {
      // the last cluster takes a remainder that could not form a cluster of its own
      val size = { val k = clusterSize(r) min left; if (left - k < 2) left else k }
      left -= size
      val base = Vector.fill(GoodLines)(line())
      val members = ArrayBuffer[Long]()
      val baseId = next.next()
      docs += Doc(baseId, render(base.map(_._1)), "cluster_base"); members += baseId
      for (_ <- 1 until size) {
        // one swapped word, never a stop word or a line end
        val (l, w) = Iterator.continually(r.nextInt(GoodLines * (WordsPerLine - 1)))
          .map(s => (s / (WordsPerLine - 1), s % (WordsPerLine - 1)))
          .find { case (l, w) => !base(l)._2(w) }.get
        val old = base(l)._1(w)
        val word = Iterator.continually(vocab(r.nextInt(vocab.length))).find(_ != old).get
        val id = next.next()
        docs += Doc(id, render(base.map(_._1).updated(l, base(l)._1.updated(w, word))), "cluster_variant")
        members += id
      }
      clusters += members.toVector
    }
    val failures = scala.collection.mutable.LinkedHashMap[String, Int]()
    for (k <- 0 until nFail) {
      val kind = FailureKinds(k % FailureKinds.length)
      val ls = Vector.fill(GoodLines)(line()._1)
      val text = kind match {
        case "lorem" => render(ls.take(2)) + "\nlorem ipsum dolor sit amet.\n" + render(ls.drop(3)) // C4 document rule
        case "short" => render(ls.take(2)) // C4: fewer than 3 kept lines
        case "dup_lines" => render(Vector(ls(0), ls(1), ls(1), ls(1), ls(2))) // dup-line fraction 0.6
        case "long" => render(ls ++ Vector.fill(GoodLines)(line()._1)) // Gopher: 100 words > 90
      }
      docs += Doc(next.next(), text, s"fail_$kind")
      failures(kind) = failures.getOrElse(kind, 0) + 1
    }
    while (next.hasNext) docs += Doc(next.next(), render(Vector.fill(GoodLines)(line()._1)), "good")

    val kept = docs.iterator.filter(_.role == "good").map(_.id).toSet ++ clusters.map(_.min)
    Corpus(docs.sortBy(_.id).toVector, clusters.toVector, kept, failures.toMap)
  }

  def digest(c: Corpus): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    c.docs.foreach(d => md.update(s"${d.id}|${d.role}|${d.text}\n".getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}
