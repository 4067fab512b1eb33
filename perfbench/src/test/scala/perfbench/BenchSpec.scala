package perfbench

import java.io.{ByteArrayOutputStream, File}

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def series(seed: Long) = {
    val o = new ByteArrayOutputStream()
    Gen.seriesCsv(seed, 2000, 5000.0, o)
    o.toByteArray
  }

  private def symbols(seed: Long) = {
    val o = new ByteArrayOutputStream()
    Gen.symbolsCsv(seed, 3000, 12, 0.3, 86400000L, o)
    o.toByteArray
  }

  private def corpus(seed: Long) = {
    val docs = Array.fill(2)(new ByteArrayOutputStream())
    val emb = Array.fill(2)(new ByteArrayOutputStream())
    Gen.corpus(seed, 2, 80, 8, docs(_), emb(_))
    (docs ++ emb).map(_.toByteArray).reduce(_ ++ _)
  }

  private def feed(seed: Long) = {
    val f = new Gen.Feed(seed, 6, 40, 1000000000L, 0.4)
    (0 until 3).map(f.file).reduce(_ ++ _)
  }

  test("generators: same seed gives identical bytes, another seed different data") {
    for (g <- Seq(series _, symbols _, corpus _, feed _)) {
      assert(g(7L).sameElements(g(7L)))
      assert(!g(7L).sameElements(g(8L)))
      assert(g(7L).length > 1000)
    }
  }

  test("generators: skew, planted duplicates and twins are present") {
    val counts = Gen.zipfCounts(10000, 50, 0.3)
    assert(counts.head == 3000 && counts.tail.forall(_ < 3000))
    val info = Gen.corpus(3L, 3, 200, 8, _ => new ByteArrayOutputStream(),
      _ => new ByteArrayOutputStream())
    assert(info.twins.nonEmpty)
    val docs = new ByteArrayOutputStream()
    Gen.corpus(3L, 1, 400, 8, _ => docs, _ => new ByteArrayOutputStream())
    val texts = new String(docs.toByteArray, "UTF-8").split("\n").drop(1).map(_.split("\t")(1))
    assert(texts.count(_.startsWith(Gen.boilerplate.mkString(" "))) > 5)
    assert(texts.distinct.length < texts.length) // exact copies
  }

  test("fixed-point text is locale-free and exact") {
    assert(Gen.fixed(12345, 2) == "123.45")
    assert(Gen.fixed(5, 3) == "0.005")
    assert(Gen.fixed(-1234567, 6) == "-1.234567")
  }

  test("percentile rule: the highest percentile with at least ten samples beyond") {
    assert(Stats.supportedPercentile(1000, 99) == 99)
    assert(Stats.supportedPercentile(999, 99) == 98)
    assert(Stats.supportedPercentile(300, 99) == 96)
    assert(Stats.supportedPercentile(40, 99) == 75)
    assert(Stats.supportedPercentile(12, 99) == 50)
    val xs = (1 to 300).map(_.toDouble)
    val (v, p, n) = Stats.tailPercentile(xs, 99)
    assert(p == 96 && n == 300)
    assert(xs.count(_ > v) >= 10)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
  }

  test("driver gap is wall time minus the union of job intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Stats.unionLength(Nil) == 0)
    // jobs overlap each other and stick out of the span: clipped, then unioned
    assert(Stats.driverGap(100L, 200L, Seq((90L, 120L), (110L, 130L), (150L, 260L))) == 20)
    assert(Stats.driverGap(0L, 50L, Nil) == 50)
  }

  test("open-loop latency is timed from the scheduled send time") {
    val s = Schedule(startMs = 1000L, periodMs = 250L)
    assert(s.dueMs(4) == 2000L)
    // input 4 was written late (say at 2300): latency still counts from 2000
    assert(Latency.fromSchedule(s, Seq((4, 2600L), (0, 1100L))) == Seq(0.6, 0.1))
    // staleness: newest committed input's creation time vs the sample time
    val b = Stats.backlogSamples(0L, 1000L, 250L, Seq((400L, 100L), (900L, 700L)))
    assert(b == Seq(0.25, 0.4, 0.65, 0.3))
  }

  test("smoke: every workload runs end to end on tiny inputs and passes its checks") {
    val root = new File(sys.props("java.io.tmpdir"), s"perfbench-smoke-${System.nanoTime()}")
    try {
      for (w <- Workload.all) {
        val dir = new File(root, w)
        dir.mkdirs()
        val code = Main.run(Main.Args(w, seed = 5L, seconds = 1, trace = false,
          root = dir, tiny = true, report = None))
        assert(code == 0, s"$w failed its checks")
      }
    } finally Main.deleteTree(root)
  }
}
