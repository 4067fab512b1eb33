package graft

import graft.bars.TimeBars
import graft.ml.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized invariants for the operators whose refactors carry the most
  * silent-corruption risk: result must be independent of physical knobs
  * (block count, partitioning) and equal to a sequential reference.
  * Seeds are fixed — failures reproduce deterministically.
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  test("nearDupPairs: pair set invariant under block count (random vectors)") {
    for (seed <- Seq(1L, 42L, 777L)) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(50)
      val dim = 8
      val rows = (0 until n).map { i =>
        (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
      }
      val e = rows.toDF("vec_id", "embedding")
      def pairs(blockRows: Int) =
        Similarity.nearDupPairs(e, "vec_id", "embedding", 0.5, blockRows)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            math.round(r.getDouble(2) * 1e9))).toSet
      val whole = pairs(1000)
      assert(pairs(5) == whole, s"seed=$seed blockRows=5")
      assert(pairs(13) == whole, s"seed=$seed blockRows=13")
    }
  }

  test("minhash band keys: stream per-row form equals batch banding (random corpora)") {
    import graft.dedup.Dedup
    import graft.streaming.StreamingDedup
    import graft.text.TextOps
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    for (seed <- Seq(7L, 99L)) {
      val rnd = new scala.util.Random(seed)
      // template + mutated copies → real shingle overlap; some short docs
      // (< n tokens) must drop out of banding identically on both sides
      val base = Seq.fill(8 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size)))
      val docs = (0 until 12).map { i =>
        val words =
          if (i % 4 == 3) Seq.fill(1 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.size)))
          else base.map(w =>
            if (rnd.nextDouble() < 0.15) vocab(rnd.nextInt(vocab.size)) else w)
        (i.toLong, words.mkString(" "))
      }.toDF("doc_id", "text")
        .withColumn("toks", TextOps.wsTokens(col("text")))
      val batch = Dedup.lshCandidates(docs, "doc_id", "toks", 3, 16, 8)
        .as[(Long, Long)].collect().toSet
      val banded = docs.select(col("doc_id").as("docId"),
          explode(StreamingDedup.minhashBuckets(col("toks"), 3, 16, 8)).as("bucket"))
        .as[StreamingDedup.BandedDoc]
      val stream = StreamingDedup.lshCandidateStream(banded, maxBucket = 1000)
        .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
      assert(stream == batch, s"seed=$seed")
    }
  }

  test("affine2: equals the sequential recursion, invariant to partitions (random coefs)") {
    import graft.features.Scan
    import graft.features.Scan.Affine
    // random affine stage-1 maps (a in {0.3..1.2}, b in [-1,1]); stage-2
    // increment is a random function of the stage-1 state — the exact
    // dependency shape affine2 exists for. Result must match the plain
    // two-variable loop and be independent of input partitioning and scan
    // partition count.
    for (seed <- Seq(7L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val n = 300 + rnd.nextInt(300)
      val rows = (0 until n).map { i =>
        (i.toLong, i.toLong, 0.3 + rnd.nextDouble() * 0.9, rnd.nextDouble() * 2 - 1)
      }
      var s1 = 0.5; var s2 = 0.0
      val exp = rows.map { case (_, _, a, b) =>
        s1 = a * s1 + b
        s2 += 0.25 * s1 + 0.1
        s2
      }
      def run(inputParts: Int, scanParts: Int) = {
        val df = rows.toDF("ts", "id", "a", "b").repartition(inputParts)
        Scan.affine2(df, Seq("ts", "id"),
          n1 = 1, (r, _) => Array(Affine(r.getDouble(2), r.getDouble(3))),
          Array(0.5),
          n2 = 1, (_, st1) => Array(Affine(1.0, 0.25 * st1(0) + 0.1)),
          Array(0.0),
          emit = (_, st2, _) => st2(0),
          outName = "o", outType = org.apache.spark.sql.types.DoubleType,
          numParts = scanParts)
          .orderBy("ts").select("o").as[Double].collect().toSeq
      }
      val base = run(3, 4)
      base.zip(exp).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-9, s"seed=$seed") }
      assert(run(7, 2).zip(base).forall { case (x, y) => math.abs(x - y) < 1e-9 },
        s"seed=$seed must be partition-invariant")
    }
  }

  test("weighted-median resample equals the sequential reference (random weights)") {
    for (seed <- 1L to 8L) {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(20)
      val sizes = Seq.fill(n)(math.rint(rnd.nextDouble() * 100) / 10.0)
      val weights = Seq.fill(n)(1L + rnd.nextInt(9))
      val bars = sizes.zip(weights).zipWithIndex.map { case ((sz, w), i) =>
        ((i + 1).toLong * 600000000000L, 1.0, 1.0, 1.0, 1.0, 1.0, w, sz, 1.0)
      }.toDF("bar_ts", "open", "high", "low", "close", "volume", "trades",
        "median_trade_size", "vwap")
      // all bars land in one coarse bucket when toSec covers the span
      val got = TimeBars.resample(bars, 600, 600 * 32)
        .select("median_trade_size").head().getDouble(0)
      // numpy-style reference: stable sort by size, cum weights, cutoff at
      // half the total, searchsorted side='left'
      val sorted = sizes.zip(weights).sortBy(_._1)
      val cum = sorted.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail
      val cutoff = cum.last * 0.5
      val exp = sorted(cum.indexWhere(_ >= cutoff))._1
      assert(got == exp, s"seed=$seed sizes=$sizes weights=$weights")
    }
  }

  test("two-pass OHLCV equals struct-keyed argmin/argmax (random equal-ts ties)") {
    for (seed <- Seq(3L, 99L, 2026L)) {
      val rnd = new scala.util.Random(seed)
      val n = 50 + rnd.nextInt(200)
      val t = (0 until n).map { i =>
        // heavy ts collisions: many trades share each second
        (1000000000L * (1 + rnd.nextInt(20)), i.toLong,
          90.0 + rnd.nextInt(2000) / 100.0, 1.0)
      }.toDF("ts", "id", "price", "qty")
      val got = TimeBars.ohlcv(t, 10, fillEmpty = false)
        .select("bar_ts", "open", "close").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      val ref = t.withColumn("bar_ts", expr("((ts + 9999999999L) div 10000000000L) * 10000000000L"))
        .groupBy("bar_ts").agg(
          min_by(col("price"), struct(col("ts"), col("id"))).as("open"),
          max_by(col("price"), struct(col("ts"), col("id"))).as("close"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(got == ref, s"seed=$seed")
    }
  }

  test("vwap micro-unit sums survive pathological per-bar notional (no long wrap)") {
    // 20k trades of 1e9 notional in ONE bar: each micro term is 1e15, the
    // bar's sum 2e19 > Long.MaxValue. The decimal(38,0) sum must stay exact
    // where a long sum would silently wrap negative (non-ANSI).
    val n = 20000
    val t = (0 until n).map { i =>
      (1000000000L + i.toLong, i.toLong, 1000000.0, 1000.0)
    }.toDF("ts", "id", "price", "qty")
    val vwap = TimeBars.ohlcv(t, 3600, fillEmpty = false)
      .select("vwap").head().getDouble(0)
    assert(vwap == 1000000.0, s"got $vwap")
    // same discipline on the resample path: micro terms vwap·volume = 1e15
    val bars = (0 until n).map { i =>
      ((i + 1).toLong * 1000000000L, 1.0, 1.0, 1.0, 1.0, 1000.0, 5L, 1.0, 1000000.0)
    }.toDF("bar_ts", "open", "high", "low", "close", "volume", "trades",
      "median_trade_size", "vwap")
    val rv = TimeBars.resample(bars, 1, 86400 * 365)
      .select("vwap").head().getDouble(0)
    assert(rv == 1000000.0, s"got $rv")
  }

  test("time decay: affine-scan global path equals keyed-window path (random weights)") {
    import graft.labels.Weights
    for (seed <- Seq(7L, 123L, 4040L); lastWeight <- Seq(0.5, -0.25)) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(150)
      val ew = (0 until n).map { i =>
        (i.toLong * 1000000000L + rnd.nextInt(1000), i.toLong,
          rnd.nextDouble() * 0.9 + 0.05)
      }.toDF("event_ts", "event_id", "avg_uniqueness")
      // the two code paths share no machinery: affine scan + literal total
      // vs keyed windows (single constant key = the same total order)
      val global = Weights.withTimeDecay(ew, lastWeight)
        .select("event_id", "time_decay").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val keyed = Weights.withTimeDecay(ew.withColumn("k", lit(1L)),
          lastWeight, Seq("k"))
        .select("event_id", "time_decay").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(global.keySet == keyed.keySet, s"seed=$seed lw=$lastWeight")
      global.foreach { case (id, g) =>
        val k = keyed(id)
        assert(math.abs(g - k) <= 1e-9 * math.max(1.0, math.abs(k)),
          s"seed=$seed lw=$lastWeight event=$id: $g vs $k")
      }
    }
  }

  test("class balance: per-class weighted mass equalizes (weights.py invariant)") {
    import graft.labels.Weights
    for (seed <- Seq(11L, 808L)) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(100)
      val lw = (0 until n).map { i =>
        (i.toLong, rnd.nextInt(3) - 1, rnd.nextDouble() + 0.01)
      }.toDF("event_id", "label", "base")
      val out = Weights.withClassBalance(lw, "base")
      // sum(weight) per class = total/nClasses for every non-empty class —
      // the definition of balance (weights.py:146-187)
      val perClass = out.groupBy("label").agg(sum("weight").as("s"))
        .collect().map(r => r.getDouble(1))
      val expected = lw.agg(sum("base")).head().getDouble(0) / perClass.length
      perClass.foreach(s =>
        assert(math.abs(s - expected) <= 1e-9 * expected, s"seed=$seed: $s vs $expected"))
    }
  }
}
