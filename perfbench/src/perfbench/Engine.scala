package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.core.{AttrList, Lexer, LexemeSink}
import graft.extract.{ExtractPolicy, Extractor}
import graft.rewrite.{ElementHandlers, Rewriter}

/** Counts tags and discards everything else: the lexer's own cost. */
final class TagCounter extends LexemeSink {
  var tags = 0L
  def onText(s: Int, e: Int, t: Int): Unit = ()
  def onStartTag(ns: Int, ne: Int, h: Long, n: Int, sc: Boolean, a: AttrList, rs: Int, re: Int): Unit = tags += 1
  def onEndTag(ns: Int, ne: Int, h: Long, rs: Int, re: Int): Unit = tags += 1
  def onComment(ts: Int, te: Int, rs: Int, re: Int): Unit = ()
  def onDoctype(a: Int, b: Int, c: Boolean, d: Int, e: Int, f: Boolean,
                g: Int, h: Int, i: Boolean, j: Boolean, k: Int, l: Int): Unit = ()
  def onRawWithoutToken(rs: Int, re: Int): Unit = ()
  def onEof(p: Int): Unit = ()
}

/** The five whole-document library calls, on reused instances: the
  * extractor; match-only rewriters with a scan-eligible selector set and
  * with an attribute-predicate set that defeats attribute skipping; and
  * two output-producing rewrites (rename `body` plus append, and `ul`
  * inner-content removal).
  */
final class EngineCalls {
  var matches = 0L
  private val count = ElementHandlers(element = _ => matches += 1)
  val extractor = new Extractor(ExtractPolicy.Default.copy(strict = false))
  val scan: Rewriter = EngineCalls.scanRewriter(count)
  val mix: Rewriter = EngineCalls.mixRewriter(count)
  val rename = new Rewriter(Seq("body" -> ElementHandlers(element = el => {
    el.setTagName("div")
    el.append("<!--appended-->")
  })), strict = false)
  val remove = new Rewriter(Seq("ul" -> ElementHandlers(element = el => el.setInnerContent(""))), strict = false)

  /** Runs call `k` on `d` and returns its result. */
  def call(k: Int, d: HtmlDoc): AnyRef = k match {
    case 0 =>
      val r = extractor.extractHtml(d.bytes, d.mediaRefs, d.mediaOffsets)
      if (r.error != null) throw new IllegalStateException(s"extract error on ${d.name}: ${r.error}")
      r
    case 1 => scan.rewriteToBytes(d.bytes)
    case 2 => mix.rewriteToBytes(d.bytes)
    case 3 => rename.rewriteToBytes(d.bytes)
    case 4 => remove.rewriteToBytes(d.bytes)
  }

  /** Runs call `k` on `d` and returns what its pin covers: a count
    * (spans, matches or output bytes) and the SHA-256 of its output.
    */
  def pinned(k: Int, d: HtmlDoc): (Long, String) = {
    val before = matches
    call(k, d) match {
      case r: graft.extract.ExtractResult =>
        val sb = new StringBuilder
        r.spans.foreach(s => sb.append(s.kind).append('|').append(s.offset).append('|')
          .append(s.media_ref).append('|').append(s.text).append('\n'))
        (r.spans.length.toLong, EngineCalls.sha256(sb.toString.getBytes(UTF_8)))
      case out: Array[Byte] =>
        (if (k == 1 || k == 2) matches - before else out.length.toLong, EngineCalls.sha256(out))
    }
  }
}

object EngineCalls {
  val Names = Vector("extract", "select_scan", "select_mix", "rename_append", "remove_ul")

  def scanRewriter(h: ElementHandlers) =
    new Rewriter(Seq("div" -> h, "p" -> h, "section > h2" -> h), strict = false, produceOutput = false)

  def mixRewriter(h: ElementHandlers) =
    new Rewriter(Seq("div" -> h, ".note" -> h, "[href]" -> h), strict = false, produceOutput = false)

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString
}

/** Single-thread per-layer probes over a workload's documents, outside
  * Spark: each layer's throughput from timed passes over all documents
  * (the median of three passes of at least `PassBytes`), plus the exact
  * counts of one pass.
  */
object EngineLayers {
  val PassBytes = 16L << 20

  /** Puts the engine layers' metrics; returns the mean extractRaw time per document in us. */
  def measure(docs: IndexedSeq[HtmlDoc], rep: Report): Double = {
    val total = docs.map(_.bytes.length.toLong).sum
    val reps = math.max(1, (PassBytes / math.max(1L, total)).toInt)

    def mbps(name: String)(f: HtmlDoc => Unit): Double = {
      docs.foreach(f) // warm
      val rates = (0 until 3).map { _ =>
        val (_, s) = SparkRun.seconds(Trace.span(name) {
          var i = 0
          while (i < reps) { docs.foreach(f); i += 1 }
        })
        total * reps / s / 1e6
      }
      Stats.median(rates)
    }

    val lexer = new Lexer(strict = false)
    val sink = new TagCounter
    rep.put("core.lex_mb_per_s", mbps("core.lex")(d => lexer.parse(d.bytes, sink)), 3)
    sink.tags = 0
    docs.foreach(d => lexer.parse(d.bytes, sink))
    rep.put("core.tags", sink.tags.toDouble, docs.length)

    val calls = new EngineCalls
    rep.put("selectors.scan_mb_per_s", mbps("selectors.scan")(d => calls.scan.rewriteToBytes(d.bytes)), 3)
    rep.put("selectors.mix_mb_per_s", mbps("selectors.mix")(d => calls.mix.rewriteToBytes(d.bytes)), 3)
    calls.matches = 0
    docs.foreach { d => calls.scan.rewriteToBytes(d.bytes); calls.mix.rewriteToBytes(d.bytes) }
    rep.put("selectors.matches", calls.matches.toDouble, docs.length)
    val noop = ElementHandlers(element = _ => ())
    val compileUs = (0 until 200).map { i =>
      val (_, s) = SparkRun.seconds(Trace.span("selectors.compile") {
        if (i % 2 == 0) EngineCalls.scanRewriter(noop) else EngineCalls.mixRewriter(noop)
      })
      s * 1e6
    }
    rep.put("selectors.compile_us", Stats.median(compileUs.drop(100)), 100)

    rep.put("rewrite.rename_mb_per_s", mbps("rewrite.rename")(d => calls.rename.rewriteToBytes(d.bytes)), 3)
    rep.put("rewrite.remove_mb_per_s", mbps("rewrite.remove")(d => calls.remove.rewriteToBytes(d.bytes)), 3)
    rep.put("rewrite.out_bytes", docs.map(d =>
      calls.rename.rewriteToBytes(d.bytes).length.toLong + calls.remove.rewriteToBytes(d.bytes).length).sum.toDouble,
      docs.length)

    val ex = calls.extractor
    rep.put("extract.html_mb_per_s", mbps("extract.html")(d => ex.extractHtml(d.bytes, d.mediaRefs, d.mediaOffsets)), 3)
    val docUs = ArrayBuffer[Double]()
    var spans = 0L
    Trace.span("extract.raw_per_doc") {
      for (_ <- 0 until math.max(3, math.min(reps, 20)); d <- docs) {
        val t0 = System.nanoTime()
        val r = ex.extractRaw(d.bytes, d.mediaRefs, d.mediaOffsets)
        docUs += (System.nanoTime() - t0) / 1e3
        spans += r.count
      }
    }
    rep.put("extract.doc_us_p50", Stats.median(docUs.toSeq), docUs.length)
    rep.put("extract.doc_us_p99", Stats.percentile(docUs.toSeq, 99), docUs.length)
    rep.put("extract.spans_per_doc", spans.toDouble / docUs.length, docUs.length)
    rep.note(f"engine layers on ${docs.length} docs, ${total / 1e6}%.3f MB x $reps reps per pass; " +
      f"mean extractRaw ${Stats.mean(docUs.toSeq)}%.2f us/doc")
    Stats.mean(docUs.toSeq)
  }
}

/** engine_docs: the library user's workload. One thread calls the five
  * whole-document calls on the three reference documents; the seed only
  * sets the order of the (document, call) pairs within each round.
  */
object EngineDocsWl {
  /** Per-layer metrics this workload does not touch: Spark, the dedup
    * operators, the write, and input generation (its inputs are files).
    */
  val Untouched: Set[String] = Metrics.PerLayer.map(_.name)
    .filter(n => Seq("spark.", "ops.", "write.").exists(n.startsWith)).toSet + "bench.gen_s"

  val DocNames = Vector("cloudflare.com.html", "ecma402-spec.html", "html-parsing-spec.html")
  val WarmupRounds = 60

  def run(cfg: Cfg, rep: Report): Outcome = {
    val docs = DocNames.map { n =>
      HtmlDoc(n, Files.readAllBytes(cfg.root.resolve(s"src/main/resources/benchdocs/$n")), Vector.empty, Vector.empty)
    }
    val pairs = for (d <- docs.indices; k <- EngineCalls.Names.indices) yield (d, k)
    val rng = new java.util.Random(cfg.seed)
    var attempted = 0L
    var failed = 0L

    def round(calls: EngineCalls, lat: ArrayBuffer[(Int, Double)]): Double = {
      val order = scala.util.Random.javaRandomToRandom(rng).shuffle(pairs)
      val t0 = System.nanoTime()
      order.foreach { case (d, k) =>
        val c0 = System.nanoTime()
        try calls.call(k, docs(d))
        catch { case e: Exception => failed += 1; System.err.println(s"[engine_docs] ${e.getMessage}") }
        if (lat != null) lat += ((k, (System.nanoTime() - c0) / 1e6))
      }
      (System.nanoTime() - t0) / 1e9
    }

    // set-up: instances (selector compilation) plus a fixed warm-up; the first from JVM start
    var calls: EngineCalls = null
    Main.putSetup(rep, (0 until Main.SetupRepeats).map { i =>
      val t0 = if (i == 0) Jvm.startNs else System.nanoTime()
      calls = new EngineCalls
      (0 until WarmupRounds).foreach(_ => round(calls, null))
      (System.nanoTime() - t0) / 1e9
    })

    val roundBytes = pairs.map(p => docs(p._1).bytes.length.toLong).sum
    var gcCount = 0L
    var gcS = 0.0
    var heap = 0.0
    def timedLoop(seconds: Double, lat: ArrayBuffer[(Int, Double)]): Seq[Double] = {
      val walls = ArrayBuffer[Double]()
      var lastGc = System.nanoTime()
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (walls.isEmpty || System.nanoTime() < end) {
        val (c0, s0) = Jvm.gc()
        walls += round(calls, lat)
        val (c1, s1) = Jvm.gc()
        gcCount += c1 - c0
        gcS += s1 - s0
        attempted += pairs.length
        if (System.nanoTime() - lastGc > 1000000000L) { heap = math.max(heap, Jvm.oldGenAfterGcMb()); lastGc = System.nanoTime() }
      }
      heap = math.max(heap, Jvm.oldGenAfterGcMb())
      walls.toSeq
    }

    val byCall = ArrayBuffer[(Int, Double)]()
    val walls = timedLoop(if (cfg.trace) cfg.seconds / 2.0 else cfg.seconds, byCall)
    val lat = byCall.map(_._2).toSeq
    val wall = Stats.median(walls)
    rep.put("wall_s", wall, walls.length)
    rep.put("docs_per_s", pairs.length / wall, walls.length)
    rep.put("mb_per_s", roundBytes / wall / 1e6, walls.length)
    rep.put("heap_peak_mb", heap, walls.length)
    rep.put("call_p50_ms", Stats.median(lat), lat.length)
    rep.put("call_p99_ms", Stats.percentile(lat, 99), lat.length)
    rep.note(s"rounds: ${walls.length}, calls: ${lat.length}, tail percentile with >=10 samples beyond: " +
      s"${Stats.tailPercentile(lat.length)}")
    for (k <- EngineCalls.Names.indices) {
      val ks = byCall.collect { case (`k`, ms) => ms }.toSeq
      rep.note(f"call ${EngineCalls.Names(k)}%-14s n=${ks.length} p50 ${Stats.median(ks)}%.3f ms p99 ${Stats.percentile(ks, 99)}%.3f ms")
    }
    rep.put("jvm.gc_count", gcCount.toDouble / walls.length, walls.length)
    rep.put("jvm.gc_s", gcS / walls.length, walls.length)

    if (cfg.trace) {
      Trace.on = true
      val tw = Trace.span("engine_docs.timed") { timedLoop(cfg.seconds / 2.0, null) }
      rep.put("bench.trace_overhead", Stats.median(tw) / wall - 1, tw.length)
      Trace.span("engine_docs.layers") { EngineLayers.measure(docs, rep) }
    }

    val correct = checkPins(cfg, docs, calls, rep)
    Outcome(correct, attempted, failed)
  }

  /** Output digests and counts of every (document, call) pair must equal
    * the values pinned in perfbench/pinned/engine_docs.json.
    */
  private def checkPins(cfg: Cfg, docs: Seq[HtmlDoc], calls: EngineCalls, rep: Report): Boolean = {
    val got = for (d <- docs; k <- EngineCalls.Names.indices) yield {
      val (n, sha) = calls.pinned(k, d)
      (s"${d.name}/${EngineCalls.Names(k)}", n, sha)
    }
    val path = cfg.pinned.resolve("engine_docs.json")
    val pins: Map[String, (Long, String)] =
      if (!Files.exists(path)) Map.empty
      else {
        val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
        got.map(_._1).flatMap { key =>
          Option(tree.get(key)).map(v => key -> ((v.get("count").asLong(), v.get("sha256").asText())))
        }.toMap
      }
    val bad = got.filter { case (key, n, sha) => !pins.get(key).contains((n, sha)) }
    bad.foreach { case (key, n, sha) =>
      rep.note(s"CHECK FAILED engine_docs $key: got count=$n sha256=$sha, pinned ${pins.get(key)}")
    }
    if (bad.nonEmpty)
      rep.note("computed: " + got.map { case (key, n, sha) => s""""$key": {"count": $n, "sha256": "$sha"}""" }.mkString("{", ", ", "}"))
    else rep.note(s"check ok: ${got.length} (document, call) outputs match their pins")
    bad.isEmpty
  }
}
