package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Self-tests of the benchmark's own helpers:
  * `python3 perfbench/run.py --self-test`.
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $name threw $e"); false }
    if (ok) passed += 1 else { failures += 1; println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0))

    // percentile helper: nearest rank, and the tail with >= 10 samples beyond it
    val xs = (1 to 100).map(_.toDouble)
    check("p50 of 1..100 is 50")(Stats.percentile(xs, 50) == 50.0)
    check("p99 of 1..100 is 99")(Stats.percentile(xs, 99) == 99.0)
    check("p100 is the max")(Stats.percentile(xs, 100) == 100.0)
    check("p0 is the min")(Stats.percentile(xs, 0) == 1.0)
    check("median of one sample")(Stats.median(Seq(3.5)) == 3.5)
    check("tail of 1000 samples is p99")(Stats.tailPercentile(1000).contains(99.0))
    check("tail of 10000 samples is p99.9")(Stats.tailPercentile(10000).contains(99.9))
    check("tail of 999 samples is p95")(Stats.tailPercentile(999).contains(95.0))
    check("tail of 100 samples is p90")(Stats.tailPercentile(100).contains(90.0))
    check("tail of 20 samples is p50")(Stats.tailPercentile(20).contains(50.0))
    check("no tail under 20 samples")(Stats.tailPercentile(19).isEmpty)
    check("beyond counts samples above the rank")(Stats.beyond(1000, 99) == 10)

    // extract generator: deterministic per seed, fragments on code points
    val text = "spark row 😀 café table " * 20
    def docs(seed: Long) = (0L until 200L).iterator.map(i => Gen.interleaved(seed, i, text, "en", "src1"))
    check("same seed, same extract input")(Gen.digest(docs(7)) == Gen.digest(docs(7)))
    check("other seed, other extract input")(Gen.digest(docs(7)) != Gen.digest(docs(8)))
    val all = docs(11).toVector
    check("fragments never split a surrogate pair")(all.forall(_.spans.forall(s =>
      s.text.isEmpty || (!Character.isLowSurrogate(s.text.head) && !Character.isHighSurrogate(s.text.last)))))
    check("fragments are 1..MaxFragBytes+3 bytes")(all.forall(_.spans.filter(_.kind == "text").forall { s =>
      val n = Gen.utf8Len(s.text); n >= 1 && n < Gen.MaxFragBytes + 4 }))
    check("offsets are byte offsets of the concatenation")(all.forall { d =>
      d.spans.filter(_.kind == "text").foldLeft((0, true)) { case ((off, ok), s) =>
        (off + Gen.utf8Len(s.text), ok && s.offset == off) }._2 })
    check("media refs in order, 0..MaxMedia per doc")(all.forall { d =>
      d.spans.filter(_.kind == "media").map(_.media_ref) == d.media && d.media.length <= Gen.MaxMedia })
    check("seeded media counts vary")(all.map(_.media.length).distinct.length > 1)
    check("html stream holds the source text")(all.forall { d =>
      new String(d.html.bytes, "UTF-8").replace(graft.spark.InterleavedGen.midPiece, "").contains(d.text) })

    // curate generator: deterministic per seed, planted structure as stated
    val vocab = Vector("spark", "row", "table", "hash", "join", "filter", "window", "a", "the", "scan")
    val c1 = CurateGen.generate(3, 400, vocab)
    check("same seed, same curate input")(CurateGen.digest(c1) == CurateGen.digest(CurateGen.generate(3, 400, vocab)))
    check("other seed, other curate input")(CurateGen.digest(c1) != CurateGen.digest(CurateGen.generate(4, 400, vocab)))
    check("curate ids are 1..n")(c1.docs.map(_.id) == (1L to 400L))
    val sizes = c1.clusters.map(_.length)
    check("80 docs in clusters")(sizes.sum == 80)
    check("cluster sizes in 2..MaxClusterSize")(sizes.forall(k => k >= 2 && k <= CurateGen.MaxClusterSize))
    check("cluster sizes vary")(sizes.distinct.length > 1)
    check("40 planted failures")(c1.failures.values.sum == 40)
    check("kept = good docs + one per cluster")(c1.kept.size == 400 - 80 - 40 + c1.clusters.length)
    check("k(k-1)/2 planted pairs per cluster")(c1.plantedPairs.size == sizes.map(k => k * (k - 1) / 2).sum)
    val draws = { val r = Gen.rng(5, 0); Vector.fill(100000)(CurateGen.clusterSize(r)) }
    def w(k: Int) = math.pow(k, -CurateGen.ClusterExponent)
    val p2 = w(2) / (2 to CurateGen.MaxClusterSize).map(w).sum
    check("cluster sizes follow k^-ClusterExponent")(math.abs(draws.count(_ == 2) / 1e5 - p2) < 0.01 &&
      draws.max > 30 && draws.min == 2)

    // metric names: format, and the same list as BENCHMARK.json
    val all2 = Metrics.EndToEnd ++ Metrics.PerLayer
    check("metric names match [A-Za-z0-9_.-]+")(all2.forall(_.name.matches(Metrics.NameFormat)))
    check("metric names are unique")(all2.map(_.name).distinct.length == all2.length)
    val bj = root.resolve("BENCHMARK.json")
    check("BENCHMARK.json lists the emitted metrics")(Files.exists(bj) && {
      val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bj.toFile)
      def listed(key: String) = tree.get(key).elements().asScala.map(m =>
        Metrics.M(m.get("name").asText(), m.get("unit").asText(), m.get("better").asText())).toSeq
      listed("end_to_end") == Metrics.EndToEnd && listed("per_layer") == Metrics.PerLayer
    })

    println(s"self-test: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
