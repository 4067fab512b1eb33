package graft

import graft.bars.EventBars
import graft.features.{Ewm, Scan}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential tests for the sequential/stateful operators that have no SQL
  * oracle (SURVEY.md §5 port strategy): tiny hand-computed cases + reference
  * recursions re-implemented in plain Scala.
  */
class ScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private def tradesDf(qtys: Seq[Double], prices: Seq[Double] = Nil): DataFrame = {
    val ps = if (prices.nonEmpty) prices else Seq.fill(qtys.size)(100.0)
    qtys.zip(ps).zipWithIndex.map { case ((q, p), i) =>
      (1000000000L * (i + 1), i.toLong, p, q, 0L)
    }.toDF("ts", "id", "price", "qty", "symbol")
  }

  test("volume bars: reset without carry (logic.py:87-115)") {
    // cum SEEDS with qty[0]=7 (the excluded boundary trade still counts):
    // row1 cum=12>=9 close; row2 cum=4, row3 7, row4 14>=9 close; row5 partial
    val t = tradesDf(Seq(7.0, 5.0, 4.0, 3.0, 7.0, 2.0))
    val ids = EventBars.volumeBarIds(t, 9.0)
      .orderBy("ts").select("id", "bar_id", "bar_closed").collect()
    assert(ids.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((0L, -1L, false), (1L, 0L, true), (2L, 1L, false),
          (3L, 1L, false), (4L, 1L, true), (5L, 2L, false)))
    val bars = EventBars.completeBars(EventBars.volumeBarIds(t, 9.0))
      .orderBy("bar_id").collect()
    assert(bars.length == 2) // partial bar 2 dropped
    assert(bars(0).getAs[Double]("volume") == 5.0)  // trade 0 not aggregated
    assert(bars(1).getAs[Double]("volume") == 14.0)
  }

  test("dollar bars: carry remainder (logic.py:118-149)") {
    // price 10: dollars from row1: 50, 90(close,cum 140->50), 30 (80, no), 70 (150 close)
    val t = tradesDf(Seq(1.0, 5.0, 9.0, 3.0, 7.0), prices = Seq.fill(5)(10.0))
    val ids = EventBars.dollarBarIds(t, 100.0)
      .orderBy("ts").select("id", "bar_id", "bar_closed").collect()
    assert(ids.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((0L, -1L, false), (1L, 0L, false), (2L, 0L, true),
          (3L, 1L, false), (4L, 1L, true)))
  }

  test("imbalance bars: EWMA-updated threshold, hand-computed closes") {
    // αT = αB = 0.5, E_T = 4, E_b = 1 → initial threshold 4.
    // Row 0 excluded. Sides: +1 ×4 → θ hits 4 at the 4th contributing row
    // (bar 0 closes; E_T ← 0.5·4+0.5·4 = 4, E_b ← 0.5·1+0.5·(4/4) = 1 —
    // threshold stays 4). Then −1,−1,+1,−1,−1,−1 → θ = −4 at the 6th row
    // (bar 1 closes). One trailing row stays in the partial bar 2.
    val sides = Seq(0, 1, 1, 1, 1, -1, -1, 1, -1, -1, -1, 1)
    val t = tradesDf(Seq.fill(sides.size)(1.0))
      .withColumn("side",
        element_at(typedLit(sides), (col("id") + 1).cast("int")))
    val out = EventBars.imbalanceBarIds(t, alphaT = 0.5, alphaB = 0.5,
        initT = 4.0, initB = 1.0)
      .orderBy("id").select("id", "bar_id", "bar_closed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val expected = Seq(
      0L -> (-1L, false),
      1L -> (0L, false), 2L -> (0L, false), 3L -> (0L, false), 4L -> (0L, true),
      5L -> (1L, false), 6L -> (1L, false), 7L -> (1L, false),
      8L -> (1L, false), 9L -> (1L, false), 10L -> (1L, true),
      11L -> (2L, false)).map { case (i, (b, c)) => (i, b, c) }
    assert(out == expected)
  }

  test("run bars: max(buy,sell) run vs E_T·max(P,1−P), hand-computed closes") {
    // αT = αP = 0.5, E_T = 4, P = 0.5 → initial threshold 4·0.5 = 2.
    // Sides: +1,+1 → max(nb,ns) = 2 closes bar 0 at n = 2
    //   (E_T ← 0.5·4+0.5·2 = 3, P ← 0.5·0.5+0.5·(2/2) = 0.75 → thr 2.25).
    // Then −1,−1,−1 → ns = 3 ≥ 2.25 closes bar 1 at n = 3
    //   (E_T ← 3, P ← 0.375 → thr = 3·0.625 = 1.875).
    // Then +1,+1 → nb = 2 ≥ 1.875 closes bar 2.
    val sides = Seq(0, 1, 1, -1, -1, -1, 1, 1)
    val t = tradesDf(Seq.fill(sides.size)(1.0))
      .withColumn("side",
        element_at(typedLit(sides), (col("id") + 1).cast("int")))
    val out = EventBars.runBarIds(t, alphaT = 0.5, alphaP = 0.5,
        initT = 4.0, initP = 0.5)
      .orderBy("id").select("id", "bar_id", "bar_closed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val expected = Seq(
      0L -> (-1L, false),
      1L -> (0L, false), 2L -> (0L, true),
      3L -> (1L, false), 4L -> (1L, false), 5L -> (1L, true),
      6L -> (2L, false), 7L -> (2L, true)).map { case (i, (b, c)) => (i, b, c) }
    assert(out == expected)
  }

  test("volume imbalance bars: signed-qty θ, EWMA threshold, hand-computed") {
    // αT = αB = 0.5, E_T = 4, E_b = 1 → initial value threshold 4.
    // Row 0 excluded. (side, qty): +2, +2 → θ = 4 closes bar 0 at n = 2
    //   (E_T ← 3, E_b ← 0.5·1+0.5·(4/2) = 1.5 → thr 4.5).
    // Then −2, −2, −1 → θ = −5 ≥ 4.5 closes bar 1 at n = 3
    //   (E_T ← 3, E_b ← 0.75+0.5·(5/3) → thr 4.75).
    // Then +5 → θ = 5 closes bar 2 at n = 1. One trailing partial row.
    val sides = Seq(0, 1, 1, -1, -1, -1, 1, -1)
    val t = tradesDf(Seq(1.0, 2.0, 2.0, 2.0, 2.0, 1.0, 5.0, 1.0))
      .withColumn("side",
        element_at(typedLit(sides), (col("id") + 1).cast("int")))
    val out = EventBars.valueImbalanceBarIds(t, dollar = false,
        alphaT = 0.5, alphaB = 0.5, initT = 4.0, initB = 1.0)
      .orderBy("id").select("id", "bar_id", "bar_closed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val expected = Seq(
      0L -> (-1L, false),
      1L -> (0L, false), 2L -> (0L, true),
      3L -> (1L, false), 4L -> (1L, false), 5L -> (1L, true),
      6L -> (2L, true),
      7L -> (3L, false)).map { case (i, (b, c)) => (i, b, c) }
    assert(out == expected)
  }

  test("dollar run bars: per-side dollar sums vs four EWMA expectations") {
    // price 10 throughout; αT = αP = αV = 0.5, E_T = 2, P = 0.5,
    // E_V = 10 both sides → initial threshold 2·max(5, 5) = 10.
    // Row 1: +$20 closes bar 0 at n = 1 (E_T ← 1.5, P ← 0.75, evB ← 15,
    //   evS kept → thr = 1.5·max(11.25, 2.5) = 16.875).
    // Rows 2-3: −$10, −$10 → ss = 20 ≥ 16.875 closes bar 1 at n = 2
    //   (E_T ← 1.75, P ← 0.375, evB kept (no buys), evS ← 10
    //    → thr = 1.75·max(5.625, 6.25) = 10.9375).
    // Rows 4-5: +$10, +$2 → bs = 12 ≥ 10.9375 closes bar 2. One partial.
    val sides = Seq(0, 1, -1, -1, 1, 1, -1)
    val t = tradesDf(Seq(1.0, 2.0, 1.0, 1.0, 1.0, 0.2, 1.0),
        prices = Seq.fill(7)(10.0))
      .withColumn("side",
        element_at(typedLit(sides), (col("id") + 1).cast("int")))
    val out = EventBars.valueRunBarIds(t, dollar = true,
        alphaT = 0.5, alphaP = 0.5, alphaV = 0.5,
        initT = 2.0, initP = 0.5, initV = 10.0)
      .orderBy("id").select("id", "bar_id", "bar_closed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val expected = Seq(
      0L -> (-1L, false),
      1L -> (0L, true),
      2L -> (1L, false), 3L -> (1L, true),
      4L -> (2L, false), 5L -> (2L, true),
      6L -> (3L, false)).map { case (i, (b, c)) => (i, b, c) }
    assert(out == expected)
  }

  test("imbalance bars reset per key: multi-symbol run equals solo runs") {
    val sides = Seq(0, 1, 1, 1, 1, -1, -1, 1, -1, -1, -1, 1)
    def solo(sym: Long): Seq[(Long, Long, Boolean)] = {
      val t = tradesDf(Seq.fill(sides.size)(1.0))
        .withColumn("symbol", lit(sym))
        .withColumn("side",
          element_at(typedLit(sides), (col("id") + 1).cast("int")))
      EventBars.imbalanceBarIds(t, 0.5, 0.5, 4.0, 1.0)
        .orderBy("id").select("id", "bar_id", "bar_closed")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    }
    val multi = (0L to 2L).map { sym =>
      tradesDf(Seq.fill(sides.size)(1.0)).withColumn("symbol", lit(sym))
        .withColumn("side",
          element_at(typedLit(sides), (col("id") + 1).cast("int")))
    }.reduce(_ unionByName _)
    val keyed = EventBars.imbalanceBarIds(multi, 0.5, 0.5, 4.0, 1.0,
        keyCols = Seq("symbol"))
      .select("symbol", "id", "bar_id", "bar_closed")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) =>
        k -> rs.map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
          .sortBy(_._1).toSeq
      }
    (0L to 2L).foreach(sym => assert(keyed(sym) == solo(sym),
      s"keyed run for symbol $sym must equal its solo run"))
  }

  test("tick bars: first bar has thr-1 rows, trailing partial dropped") {
    val t = tradesDf(Seq.fill(11)(1.0))
    val bars = EventBars.tickBarsOhlcv(t, 3).orderBy("bar_id").collect()
    // rows 1..10; bars: {1,2}, {3,4,5}, {6,7,8}; {9,10} partial -> dropped
    assert(bars.map(_.getAs[Long]("trades")).toSeq == Seq(2L, 3L, 3L))
  }

  test("cusum filter: fires on cumulative log-return breach and resets") {
    // prices engineered: +5% steps; sigma 0.08 -> fires every 2 steps
    val prices = Seq(100.0, 105.0, 110.25, 115.76, 121.55, 127.63)
    val t = tradesDf(Seq.fill(6)(1.0), prices).withColumn("sigma", lit(0.08))
    val ev = EventBars.cusumEventIds(t, "sigma", 1.0, 1e-12)
      .where(col("is_event")).select("id").as[Long].collect().toSeq
    // id0 opens; log(1.05)=0.04879: cum 0.0488(no), 0.0976(fire,reset), ...
    assert(ev == Seq(0L, 2L, 4L))
  }

  test("cusum adaptive sigma: per-row thresholds match hand-rolled indexer") {
    // varying sigma with leading NaNs — mirrors _cusum_bar_indexer
    // (logic.py:150-221): ffill sigma, open at first valid row, lam =
    // max(mult*sigma_i, floor) evaluated at the closing row
    val rnd = new scala.util.Random(11)
    val n = 400
    val prices = Iterator.iterate(100.0)(p => p * (1.0 + (rnd.nextDouble() - 0.5) * 0.02)).take(n).toSeq
    val sigmas = (0 until n).map(i => if (i < 3) Double.NaN else 0.002 + 0.004 * ((i * 13) % 10) / 10.0)
    val mult = 2.0; val floor = 5e-4
    val t = tradesDf(Seq.fill(n)(1.0), prices)
      .withColumn("sigma", element_at(
        typedLit(sigmas.map(x => if (x.isNaN) None else Some(x))), col("id").cast("int") + 1))
    val got = EventBars.cusumEventIds(t, "sigma", mult, floor)
      .where(col("is_event")).select("id").as[Long].collect().toSeq
    // hand-rolled sequential reference
    var sPos = 0.0; var sNeg = 0.0; var seen = false
    var prevP = Double.NaN; var prevS = Double.NaN
    val exp = (0 until n).flatMap { i =>
      val s = if (sigmas(i).isNaN) prevS else sigmas(i)
      var fire = false
      if (!seen) { if (!s.isNaN) { seen = true; fire = true } }
      else {
        val ret = math.log(prices(i) / prevP)
        sPos = math.max(0.0, sPos + ret); sNeg = math.min(0.0, sNeg + ret)
        val lam = math.max(mult * s, floor)
        if (sPos >= lam) { fire = true; sPos = 0.0 }
        else if (sNeg <= -lam) { fire = true; sNeg = 0.0 }
      }
      if (seen) prevP = prices(i)
      prevS = s
      if (fire) Some(i.toLong) else None
    }
    assert(got == exp)
    assert(got.length > 5, "test data should fire multiple events")
  }

  test("volume bars reset per key: multi-symbol run equals solo runs") {
    def df(sym: Long, qtys: Seq[Double]) = qtys.zipWithIndex.map { case (q, i) =>
      (1000000000L * (i + 1), sym * 100 + i, 100.0, q, sym)
    }.toDF("ts", "id", "price", "qty", "symbol")
    val a = Seq(7.0, 5.0, 4.0, 3.0, 7.0, 2.0)
    val b = Seq(2.0, 9.0, 1.0, 8.0, 5.0)
    def ids(d: org.apache.spark.sql.DataFrame, keys: Seq[String]) =
      EventBars.volumeBarIds(d, 9.0, keys)
        .select("symbol", "id", "bar_id", "bar_closed").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val solo = ids(df(0L, a), Nil) ++ ids(df(1L, b), Nil)
    val merged = ids(df(0L, a).union(df(1L, b)), Seq("symbol"))
    assert(merged == solo)
  }

  test("cusum filter resets state at key boundaries (multi-symbol)") {
    // two symbols interleaved in one partition after keyOrdered layout:
    // each must behave exactly like its solo run
    val prices = Seq(100.0, 105.0, 110.25, 115.76, 121.55, 127.63)
    def df(sym: Long) = prices.zipWithIndex.map { case (p, i) =>
      (1000000000L * (i + 1), sym * 100 + i, p, 1.0, sym)
    }.toDF("ts", "id", "price", "qty", "symbol")
    val both = df(0L).union(df(1L)).withColumn("sigma", lit(0.08))
    val got = EventBars.cusumEventIds(both, "sigma", 1.0, 1e-12, keyCols = Seq("symbol"))
      .where(col("is_event")).select("symbol", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 0L), (0L, 2L), (0L, 4L), (1L, 100L), (1L, 102L), (1L, 104L)))
  }

  test("ewmst_mean0 exact scan matches reference recursion (volatility.py:72-136)") {
    val rnd = new scala.util.Random(23)
    val n = 300
    val ys = Seq(Double.NaN) ++ Seq.fill(n - 1)((rnd.nextDouble() - 0.5) * 0.02)
    val tss = Iterator.iterate(0L)(_ + 500000000L + rnd.nextInt(3) * 700000000L).take(n).toSeq
    val t = tss.zip(ys).zipWithIndex.map { case ((ts, y), i) => (ts, i.toLong, y) }
      .toDF("ts", "id", "y")
    for (parts <- Seq(1, 8)) {
      val got = Ewm.ewmstMean0Exact(t, "y", halfLifeSec = 2.0, numParts = parts)
        .orderBy("ts").select("ewmst0").as[Double].collect()
      // sequential reference
      var u = 0.0; var v = 0.0
      val exp = (0 until n).map { i =>
        if (i == 0) Double.NaN
        else {
          val alpha = 1.0 - math.exp(-((tss(i) - tss(i - 1)) / 1e9) / 2.0)
          if (ys(i).isNaN) { u *= (1 - alpha); v *= (1 - alpha) }
          else { u = alpha * ys(i) * ys(i) + (1 - alpha) * u; v = alpha + (1 - alpha) * v }
          if (v > 0) math.max(math.sqrt(math.max(u / v, 0.0)), 1e-12) else Double.NaN
        }
      }
      got.zip(exp).foreach { case (g, e) =>
        assert((g.isNaN && e.isNaN) || math.abs(g - e) < 1e-12, s"parts=$parts got=$g exp=$e")
      }
    }
  }

  test("ewma exact scan == plain sequential recursion, any partitioning") {
    val rnd = new scala.util.Random(42)
    val prices = Seq.fill(500)(50.0 + rnd.nextDouble() * 100)
    val t = tradesDf(Seq.fill(500)(1.0), prices)
    for (parts <- Seq(1, 7, 32)) {
      val got = Ewm.ewmaExact(t, "price", 20, numParts = parts)
        .orderBy("ts").select("ewma").as[Double].collect()
      val q = 1.0 - 2.0 / 21.0
      var u = 0.0; var v = 0.0
      val exp = prices.map { y => u = y + q * u; v = 1 + q * v; u / v }
      got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9, s"parts=$parts") }
    }
  }

  test("keyed ewma: reset-affine scan == per-key recursion at any partitioning") {
    // ONE skewed key (0) carrying 80% of rows plus two small keys — ordered
    // by (symbol, ts, id) the heavy key straddles several range partitions,
    // so the a=0 boundary reset and the cross-partition affine composition
    // are both exercised WITHIN and BETWEEN keys.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      val sym = if (i % 10 < 8) 0L else (i % 10 - 7).toLong
      (1000000000L * (i + 1), i.toLong, 50.0 + rnd.nextDouble() * 100, 1.0, sym)
    }
    val t = rows.toDF("ts", "id", "price", "qty", "symbol")
    val q = 1.0 - 2.0 / 21.0
    val exp = rows.groupBy(_._5).map { case (sym, rs) =>
      var u = 0.0; var v = 0.0
      sym -> rs.sortBy(r => (r._1, r._2)).map { r =>
        u = r._3 + q * u; v = 1 + q * v; (r._1, u / v)
      }.toMap
    }
    for (parts <- Seq(1, 7, 32)) {
      val got = Ewm.ewmaExact(t, "price", 20, numParts = parts,
          keyCols = Seq("symbol"))
        .select("symbol", "ts", "ewma").as[(Long, Long, Double)].collect()
      assert(got.length == 500)
      got.foreach { case (sym, ts, g) =>
        val e = exp(sym)(ts)
        assert(math.abs(g - e) < 1e-9, s"parts=$parts sym=$sym ts=$ts")
      }
    }
  }

  test("keyed ewma tiers agree: per-key window tier == reset-affine scan within truncation") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      val sym = if (i % 10 < 8) 0L else (i % 10 - 7).toLong
      (1000000000L * (i + 1), i.toLong, 50.0 + rnd.nextDouble() * 100, 1.0, sym)
    }
    val t = rows.toDF("ts", "id", "price", "qty", "symbol")
    for (span <- Seq(5, 20, 100)) {
      val ex = Ewm.ewmaExact(t, "price", span, keyCols = Seq("symbol"))
        .select("symbol", "ts", "ewma").as[(Long, Long, Double)].collect()
        .map { case (s, ts, v) => (s, ts) -> v }.toMap
      val win = Ewm.ewmaWindowedKeyed(t, "price", span,
          keyCols = Seq("symbol"))
        .select("symbol", "ts", "ewma").as[(Long, Long, Double)].collect()
      assert(win.length == ex.size)
      win.foreach { case (s, ts, g) =>
        val e = ex((s, ts))
        assert(math.abs(g - e) <= 1e-9 * math.max(1.0, math.abs(e)),
          s"span=$span sym=$s ts=$ts window=$g exact=$e — ewmaWindowK " +
            "truncation must stay below the 1e-6 oracle rounding")
      }
    }
  }

  test("ewmaKeyed auto tier: production spans take the scan; the occupancy probe runs once per (plan, keys)") {
    val rnd = new scala.util.Random(13)
    val even = (0 until 400).map { i =>
      (1000000000L * (i + 1), i.toLong, 50.0 + rnd.nextDouble() * 100, 1.0,
        (i % 8).toLong)
    }.toDF("ts", "id", "price", "qty", "symbol")
    Scan.SkewProbe.invalidate()
    val base = Scan.SkewProbe.probeRuns.get()
    // default: the O(10.4·span)/row window fold never beats the O(1)/row
    // scan at any realistic span (SKEW_SCALING r13: 40-230× at span 100)
    // — scan tier picked WITHOUT spending a probe
    Ewm.ewmaKeyed(even, "price", 100, keyCols = Seq("symbol"))
    assert(Scan.SkewProbe.lastAutoSkewSafe.contains(true),
      "auto must take the reset-affine scan tier")
    assert(Scan.SkewProbe.probeRuns.get() == base,
      "the span cap must short-circuit before probing")
    // with the override opened up: probe runs once, even keys pick the
    // window tier...
    System.setProperty("spark.graft.ewm.windowTierMaxSpan", "8")
    try {
      Ewm.ewmaKeyed(even, "price", 5, keyCols = Seq("symbol"))
      assert(Scan.SkewProbe.lastAutoSkewSafe.contains(false),
        "opened-up small span on even keys should take the window tier")
      assert(Scan.SkewProbe.probeRuns.get() == base + 1)
      // ...and a SECOND auto call on the same frame hits the probe cache
      // (the label_weights_sym chain-shared-probe guarantee)
      Ewm.ewmaKeyed(even, "price", 5, keyCols = Seq("symbol"))
      assert(Scan.SkewProbe.probeRuns.get() == base + 1,
        "second probe of the same (plan, keys) must hit the cache")
    } finally System.clearProperty("spark.graft.ewm.windowTierMaxSpan")
  }

  test("SkewProbe cache key: a semantic-hash collision under a different schema cannot poison the probe") {
    val t = tradesDf(Seq.fill(100)(1.0))
    Scan.SkewProbe.invalidate()
    val key = Scan.SkewProbe.cacheKey(t, Seq("symbol"))
    // forge the collision the 32-bit semanticHash allows: an entry with
    // the SAME Int hash but another frame's schema — under the old
    // (hash, partCols, session) key this would have been a silent HIT
    // handing a foreign frame's occupancy to tier selection
    val otherSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType)))
    Scan.SkewProbe.cache.put((key._1, otherSchema, key._3, key._4),
      (999999L, 1L))
    val base = Scan.SkewProbe.probeRuns.get()
    val (mx, n) = Scan.SkewProbe.occupancy(t, Seq("symbol"))
    assert(Scan.SkewProbe.probeRuns.get() == base + 1,
      "a different-schema collision must MISS the cache")
    assert(mx == 100L && n == 100L,
      s"poisoned occupancy surfaced: ($mx, $n)")
  }

  test("TBM auto bucket subdiv: cap derives from cores (a constant 64 re-serializes hot keys on big clusters)") {
    import graft.labels.TripleBarrier.autoBucketSubdiv
    // at 32 cores every reachable value is ≤ 32, identical to the old
    // clamp(·, 8, 64) — the r13 measured picks carry over unchanged
    assert(autoBucketSubdiv(32, 1, 8) == 8) // even keys → floor 8
    assert(autoBucketSubdiv(32, 78, 100) == 25) // 78%-hot → ⌈0.78·32⌉
    assert(autoBucketSubdiv(32, 100, 100) == 32) // single-key corpus
    // 1000 cores, 10%-hot key: the hot key's walk needs ~100-task
    // fan-out; the old min(64, ·) would have re-serialized it
    assert(autoBucketSubdiv(1000, 10, 100) == 100)
    assert(autoBucketSubdiv(1000, 100, 100) == 1000) // ≤ 2·cores cap
    assert(autoBucketSubdiv(4, 1, 2) == 8) // tiny cores: floor 8 holds
    assert(autoBucketSubdiv(1000, 0, 0) == 8) // empty probe → default
  }

  test("ewms exact scan matches reference recursion (volatility.py:9-69)") {
    val rnd = new scala.util.Random(7)
    val prices = Seq.fill(300)(50.0 + rnd.nextDouble() * 100)
    val t = tradesDf(Seq.fill(300)(1.0), prices)
    val got = Ewm.ewmsExact(t, "price", 50, numParts = 5)
      .orderBy("ts").select("ewms").as[Double].collect()
    val q = 1.0 - 2.0 / 51.0
    var sw = 0.0; var sw2 = 0.0; var sy = 0.0; var syy = 0.0
    val exp = prices.map { y =>
      sw = q * sw + 1; sw2 = q * q * sw2 + 1; sy = q * sy + y; syy = q * syy + y * y
      val mean = sy / sw
      val denom = sw - sw2 / sw
      if (denom > 0) math.sqrt(math.max((syy / sw - mean * mean) * sw / denom, 0.0))
      else Double.NaN
    }
    got.zip(exp).foreach { case (g, e) =>
      if (e.isNaN) assert(g.isNaN) else assert(math.abs(g - e) < 1e-9)
    }
  }

  test("ewmst: time-decay weights telescope across partition boundaries") {
    val rnd = new scala.util.Random(11)
    val n = 300
    // irregular timestamps
    var ts = 0L
    val rows = (0 until n).map { i =>
      ts += (1 + rnd.nextInt(1000)).toLong * 1000000000L
      (ts, i.toLong, 50.0 + rnd.nextDouble() * 100, 1.0, 0L)
    }
    val t = rows.toDF("ts", "id", "price", "qty", "symbol")
    val got = Ewm.ewmstExact(t, "price", 3600.0, numParts = 6)
      .orderBy("ts").select("ewmst").as[Double].collect()
    // reference recursion (volatility.py:139-219)
    var v_ = 0.0; var v2_ = 0.0; var sy_ = 0.0; var syy_ = 0.0
    var lastTs = rows.head._1
    val exp2 = rows.zipWithIndex.map { case ((tsi, _, y, _, _), i) =>
      if (i == 0) Double.NaN
      else {
        val dt = (tsi - lastTs) / 1e9
        lastTs = tsi
        val alpha = 1.0 - math.exp(-dt / 3600.0)
        val om = 1.0 - alpha
        v_ = alpha + om * v_; v2_ = alpha * alpha + om * om * v2_
        sy_ = alpha * y + om * sy_; syy_ = alpha * y * y + om * syy_
        val mean = sy_ / v_
        val varRaw = syy_ / v_ - mean * mean
        val denom = v_ - v2_ / v_
        val vr = if (denom > 0 && varRaw > 0) varRaw * (v_ / denom) else 0.0
        math.max(math.sqrt(vr), 1e-12)
      }
    }
    got.zip(exp2).zipWithIndex.foreach { case ((g, e), i) =>
      if (i == 0) assert(g.isNaN)
      else assert(math.abs(g - e) < 1e-9, s"row $i")
    }
  }

  test("affine scan with prev-dependent coefs equals the sequential recursion") {
    // irregular timestamps so the Δt-decay coefficients exercise the
    // prev-row handoff across the layout's partition boundaries
    val rnd = new scala.util.Random(23)
    var ts = 0L
    val rows = (0 until 400).map { i =>
      ts += (1 + rnd.nextInt(500)).toLong * 1000000000L
      (ts, i.toLong, 50.0 + rnd.nextDouble() * 100, 1.0, 0L)
    }
    val t = rows.toDF("ts", "id", "price", "qty", "symbol")
    import graft.features.Scan
    import graft.features.Scan.Affine
    def run() = Scan.affine(
      t, Seq("ts", "id"), nStates = 2,
      coefs = (r, prev) => {
        if (prev == null) Array.fill(2)(Affine(1.0, 0.0))
        else {
          val dt = (r.getLong(0) - prev.getLong(0)) / 1e9
          val om = math.exp(-dt / 600.0)
          Array(Affine(om, r.getDouble(2)), Affine(om, 1.0))
        }
      },
      init = Array(0.0, 0.0),
      emit = (s, _) => if (s(1) > 0) s(0) / s(1) else Double.NaN,
      outName = "o", numParts = 7)
      .orderBy("ts").select("o").as[Double].collect().toSeq
    var u = 0.0; var v = 0.0
    val exp = rows.indices.map { i =>
      if (i > 0) {
        val om = math.exp(-((rows(i)._1 - rows(i - 1)._1) / 1e9) / 600.0)
        u = om * u + rows(i)._3; v = om * v + 1.0
      }
      if (v > 0) u / v else Double.NaN
    }
    val (a, b) = (run(), run())
    assert(a.size == 400 && b.size == 400)
    a.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      if (e.isNaN) assert(g.isNaN, s"row $i")
      else assert(math.abs(g - e) <= math.abs(e) * 1e-12, s"row $i: $g vs $e")
    }
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      if (x.isNaN) assert(y.isNaN, s"row $i")
      else assert(x == y, s"row $i: $x vs $y") // bit-identical, same fold order
    }
  }

  test("affine over a shuffled lineage stays exact") {
    import graft.features.Scan
    import graft.features.Scan.Affine
    val rows = (0 until 300).map(i => (i.toLong * 1000000000L, i.toLong, 1.0 + (i % 17)))
    val plain = rows.toDF("ts", "id", "price")
    // repartition = RoundRobin shuffle: its replay order is
    // nondeterministic, and the layout must not depend on it
    val q = 0.9
    def run(df: DataFrame) = Scan.affine(
      df, Seq("ts", "id"), nStates = 1,
      coefs = (r, _) => Array(Affine(q, r.getDouble(2))),
      init = Array(0.0),
      emit = (s, _) => s(0),
      outName = "o", numParts = 5)
      .orderBy("ts").select("o").as[Double].collect().toSeq
    var acc = 0.0
    val exp = rows.map { case (_, _, p) => acc = q * acc + p; acc }
    val shuffled = Seq(plain.repartition(7),
      plain.groupBy("id").agg(max("ts").as("ts"), max("price").as("price"))
        .select("ts", "id", "price"))
    shuffled.foreach { df =>
      val got = run(df)
      assert(got.size == 300)
      got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
        // affine maps compose in a different association order than the
        // sequential recursion → ulp-level differences are expected
        assert(math.abs(g - e) <= math.abs(e) * 1e-12, s"row $i: $g vs $e")
      }
    }
  }

  test("affine over an RDD-backed frame equals the scan over its parquet copy") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("ts", LongType),
      StructField("id", LongType), StructField("price", DoubleType)))
    // the shuffle lives inside the RDD, where the logical plan cannot see it
    val shuffled = spark.sparkContext.parallelize(0 until 300, 4)
      .map(i => (i % 7, i)).groupByKey(3)
      .flatMap { case (_, is) => is.map(i => Row(i.toLong * 1000L, i.toLong, 1.0 + i % 5)) }
    val overRdd = spark.createDataFrame(shuffled, schema)
    val dir = java.nio.file.Files.createTempDirectory("lineage").resolve("t").toString
    try {
      overRdd.write.parquet(dir)
      val scanned = spark.read.parquet(dir)
      // the scan over the RDD-backed frame matches the one over the same
      // rows read back from parquet — the same key multiset gives the same
      // bounds, so the two fold in the same grouping: bit-identical — and
      // both match the sequential recursion to the ulp
      def ewm(df: DataFrame): Seq[Double] =
        Ewm.ewmaExact(df, "price", 10).orderBy("ts").select("ewma").as[Double].collect().toSeq
      val (a, b) = (ewm(overRdd), ewm(scanned))
      assert(a.size == 300 && b.size == 300)
      assert(a == b)
      val q = 1.0 - 2.0 / 11.0
      var u = 0.0; var v = 0.0
      val exp = (0 until 300).map { i => u = (1.0 + i % 5) + q * u; v = 1 + q * v; u / v }
      a.zip(exp).foreach { case (x, e) => assert(math.abs(x - e) <= math.abs(e) * 1e-12, s"$x vs $e") }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
    }
  }

  test("in-kernel log-return ewmst0 equals the lag-window formulation") {
    import graft.features.Ewm
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(41)
    var ts = 0L
    val rows = (0 until 500).map { i =>
      ts += (1 + rnd.nextInt(300)).toLong * 1000000000L
      (ts, i.toLong, 50.0 + rnd.nextDouble() * 10)
    }
    val t = rows.toDF("ts", "id", "price")
    val w = Window.orderBy("ts", "id")
    val viaLag = Ewm.ewmstMean0Exact(
        t.withColumn("y", log(try_divide(col("price"), lag("price", 1).over(w)))),
        "y", 600.0)
      .orderBy("ts").select("ewmst0").as[Double].collect().toSeq
    val inKernel = Ewm.ewmstMean0LogRet(t, "price", 600.0, numParts = 7)
      .orderBy("ts").select("ewmst0").as[Double].collect().toSeq
    assert(viaLag.size == inKernel.size)
    viaLag.zip(inKernel).zipWithIndex.foreach { case ((a, b), i) =>
      if (a.isNaN) assert(b.isNaN, s"row $i")
      // different partition boundaries → different affine association
      // order → ulp-level drift (same caveat as the auto-pin test)
      else assert(math.abs(a - b) <= math.abs(a) * 1e-12, s"row $i: $a vs $b")
    }
  }

  test("pinned affine scan adds exactly ONE shuffle over its input") {
    import graft.features.Scan
    import graft.features.Scan.Affine
    def shuffles(rdd: org.apache.spark.rdd.RDD[_]): Int = {
      val seen = scala.collection.mutable.Set[Int]()
      def go(r: org.apache.spark.rdd.RDD[_]): Int =
        if (!seen.add(r.id)) 0
        else r.dependencies.map { d =>
          (if (d.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]]) 1 else 0) +
            go(d.rdd)
        }.sum
      go(rdd)
    }
    val input = (0 until 300)
      .map(i => (i.toLong, i.toLong, 1.0 + (i % 17)))
      .toDF("ts", "id", "price")
      .repartition(5)
    val base = shuffles(input.rdd)
    val out = Scan.affine(
      input, Seq("ts", "id"), nStates = 1,
      coefs = (r, _) => Array(Affine(0.9, r.getDouble(2))),
      init = Array(0.0), emit = (s, _) => s(0),
      outName = "o", numParts = 4)
    // phase B reads phase A's shuffle files: the frozen layout costs one
    assert(shuffles(out.rdd) == base + 1,
      s"the scan must add exactly one shuffle (input=$base, " +
        s"out=${shuffles(out.rdd)})")
  }

  test("pinned affine scan rejects duplicate order keys loudly") {
    import graft.features.Scan
    import graft.features.Scan.Affine
    val t = Seq((1L, 1L, 1.0), (1L, 1L, 2.0), (2L, 2L, 3.0))
      .toDF("ts", "id", "price")
    val ex = intercept[Exception] {
      Scan.affine(
        t, Seq("ts", "id"), nStates = 1,
        coefs = (r, _) => Array(Affine(1.0, r.getDouble(2))),
        init = Array(0.0), emit = (s, _) => s(0),
        outName = "o", numParts = 2)
    }
    def msgs(e: Throwable): Seq[String] =
      if (e == null) Nil else Option(e.getMessage).toSeq ++ msgs(e.getCause)
    assert(msgs(ex).exists(_.contains("UNIQUE")),
      s"expected the uniqueness assert, got: ${msgs(ex).mkString(" | ")}")
  }

  test("affineWithFinal returns the scan's final state (global total)") {
    import graft.features.Scan
    import graft.features.Scan.Affine
    val vals = (0 until 500).map(i => (i.toLong, i.toLong, 0.25 + (i % 9)))
    val t = vals.toDF("ts", "id", "v").repartition(5)
    val (out, fin) = Scan.affineWithFinal(
      t, Seq("ts", "id"), nStates = 1,
      coefs = (r, _) => Array(Affine(1.0, r.getDouble(2))),
      init = Array(0.0), emit = (s, _, _) => s(0),
      outName = "cum", numParts = 4)
    val total = vals.map(_._3).sum
    assert(math.abs(fin(0) - total) < 1e-9)
    val lastCum = out.orderBy(desc("ts")).select("cum").as[Double].head()
    assert(math.abs(lastCum - total) < 1e-9)
  }

  test("affine2WithFinal executes its shuffled input once") {
    import graft.features.Scan
    import graft.features.Scan.Affine
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val dir = java.nio.file.Files.createTempDirectory("scan-once").resolve("t").toString
    try {
      (0 until 400).map(i => (i.toLong, i.toLong, 1L)).toDF("ts", "id", "d")
        .write.parquet(dir)
      // two exchanges upstream of the scan: a round-robin repartition and
      // the aggregate's hash exchange
      val input = spark.read.parquet(dir).repartition(5)
        .groupBy("id").agg(max("ts").as("ts"), sum("d").as("d"))
        .select("ts", "id", "d")
      val sc = spark.sparkContext
      val read = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }
      sc.addSparkListener(listener)
      try {
        org.apache.spark.GraftTestBridge.drainListenerBus(sc)
        read.set(0)
        val (out, fin1, _) = Scan.affine2WithFinal(input, Seq("ts", "id"),
          n1 = 1, (r, _) => Array(Affine(1.0, r.getLong(2).toDouble)), Array(0.0),
          n2 = 1, (_, s1) => Array(Affine(1.0, s1(0))), Array(0.0),
          emit = (_, s2, _) => s2(0),
          outName = "o", outType = org.apache.spark.sql.types.DoubleType,
          numParts = 4)
        assert(out.count() == 400 && fin1(0) == 400.0)
        org.apache.spark.GraftTestBridge.drainListenerBus(sc)
        // the file scan sits below the first exchange: every execution of
        // that exchange's map stage reads the 400 rows again
        assert(read.get == 400, s"the input's exchange ran ${read.get / 400.0} times")
      } finally sc.removeSparkListener(listener)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
    }
  }

  test("unkeyed weights chain and ewmst are bit-identical across reps") {
    // the layout's bounds are a pure function of the key multiset, so two
    // runs over the same data compose their affine maps in the same
    // grouping: raw doubles compare ==, not within a tolerance
    val rnd = new scala.util.Random(17)
    var ts = 0L
    val rows = (0 until 900).map { i =>
      ts += (1 + rnd.nextInt(40)).toLong * 1000000000L
      (ts, i.toLong, 100.0 + rnd.nextDouble() * 10, 1.0, 0L)
    }
    val t = rows.toDF("ts", "id", "price", "qty", "symbol")
    val ev = t.where(col("id") % 13 === 0).select(
      col("ts").as("event_ts"), col("id").as("event_id"),
      (col("ts") + lit(300000000000L)).as("touch_ts"))
    def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)
    def weights(): Seq[Long] = bits(graft.labels.Weights.withTimeDecay(
        graft.labels.Weights.eventWeights(t, ev), 0.5)
      .orderBy("event_id")
      .select("avg_uniqueness", "return_attribution", "time_decay")
      .collect().toSeq.flatMap(r => Seq(r.getDouble(0), r.getDouble(1), r.getDouble(2))))
    def sigma(): Seq[Long] = bits(Ewm.ewmstExact(t, "price", 600.0)
      .orderBy("ts").select("ewmst").as[Double].collect().toSeq)
    val (w1, w2) = (weights(), weights())
    assert(w1.nonEmpty && w1 == w2)
    val (s1, s2) = (sigma(), sigma())
    assert(s1.size == 900 && s1 == s2)
  }

  test("unkeyed time decay is computed in the scan: no data-derived literal") {
    import graft.features.Scan
    import graft.features.Scan.Affine
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.DoubleType
    val rnd = new scala.util.Random(31)
    val ew = (0 until 300).map { i =>
      (i.toLong * 1000000000L + rnd.nextInt(1000), i.toLong, rnd.nextDouble() * 0.9 + 0.05)
    }.toDF("event_ts", "event_id", "avg_uniqueness")
    for (lastWeight <- Seq(0.5, -0.25)) {
      val got = graft.labels.Weights.withTimeDecay(ew, lastWeight)
      val lits = got.queryExecution.optimizedPlan.flatMap(_.expressions)
        .flatMap(_.collect { case l: Literal if l.dataType == DoubleType => l })
      assert(lits.isEmpty, s"data-derived literals in the plan: $lits")
      // the column formula the decay used before it moved into the scan,
      // over the same scan's prefix and total
      val (withCum, fin) = Scan.affineWithFinal(
        ew, Seq("event_ts", "event_id"), nStates = 1,
        coefs = (r, _) => Array(Affine(1.0, if (r.isNullAt(2)) 0.0 else r.getDouble(2))),
        init = Array(0.0), emit = (s, _, _) => s(0), outName = "__cum")
      val total = fin(0)
      val slope =
        if (lastWeight >= 0) (1.0 - lastWeight) / total
        else 1.0 / ((lastWeight + 1.0) * total)
      val old = withCum.withColumn("time_decay",
          greatest(lit(if (lastWeight < 0) 0.0 else Double.NegativeInfinity),
            lit(1.0 - slope * total) + lit(slope) * col("__cum")))
        .drop("__cum")
      def rows(df: DataFrame) = df.orderBy("event_id").select("event_id", "time_decay")
        .collect().map(r => (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
        .toSeq
      assert(rows(got).size == 300 && rows(got) == rows(old), s"lastWeight=$lastWeight")
    }
  }

  test("affine2 chained scan equals the sequential two-stage recursion") {
    import graft.features.Scan
    import graft.features.Scan.Affine
    // stage 1: running sum of d; stage 2: prefix sum of 1/s1 over rows
    // where s1 > 0 — the sample-weight sweep's exact dependency shape
    // (stage-2 increments read a stage-1 state), across many partitions.
    val rnd = new scala.util.Random(11)
    val rows = (0 until 700).map { i =>
      (i.toLong, i.toLong, if (rnd.nextBoolean()) 1L else -1L)
    }
    val df = rows.toDF("ts", "id", "d").repartition(7)
    val out = Scan.affine2(df, Seq("ts", "id"),
      n1 = 1, (r, _) => Array(Affine(1.0, r.getLong(2).toDouble)), Array(0.0),
      n2 = 1, (_, st1) =>
        Array(if (st1(0) > 0) Affine(1.0, 1.0 / st1(0)) else Affine(1.0, 0.0)),
      Array(0.0),
      emit = (_, st2, _) => st2(0),
      outName = "cum", outType = org.apache.spark.sql.types.DoubleType,
      numParts = 5)
    val got = out.orderBy("ts").select("cum").as[Double].collect()
    var s1 = 0.0; var s2 = 0.0
    val exp = rows.map { case (_, _, d) =>
      s1 += d
      if (s1 > 0) s2 += 1.0 / s1
      s2
    }
    got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("affine2 adds exactly ONE shuffle over its input") {
    import graft.features.Scan
    import graft.features.Scan.Affine
    def shuffles(rdd: org.apache.spark.rdd.RDD[_]): Int = {
      val seen = scala.collection.mutable.Set[Int]()
      def go(r: org.apache.spark.rdd.RDD[_]): Int =
        if (!seen.add(r.id)) 0
        else r.dependencies.map { d =>
          (if (d.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]]) 1 else 0) +
            go(d.rdd)
        }.sum
      go(rdd)
    }
    val input = (0 until 300).map(i => (i.toLong, i.toLong, 1L))
      .toDF("ts", "id", "d").repartition(4)
    val base = shuffles(input.rdd)
    val out = Scan.affine2(input, Seq("ts", "id"),
      n1 = 1, (r, _) => Array(Affine(1.0, r.getLong(2).toDouble)), Array(0.0),
      n2 = 1, (_, s1) => Array(Affine(1.0, s1(0))), Array(0.0),
      emit = (_, s2, _) => s2(0),
      outName = "o", outType = org.apache.spark.sql.types.DoubleType,
      numParts = 4)
    assert(shuffles(out.rdd) == base + 1,
      s"affine2 must add exactly one shuffle (input=$base, out=${shuffles(out.rdd)})")
  }

  test("affine2 and withPrevRow handle empty and single-row inputs") {
    import graft.features.Scan
    import graft.features.Scan.Affine
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val empty = Seq.empty[(Long, Long, Long)].toDF("ts", "id", "d")
    val one = Seq((5L, 5L, 2L)).toDF("ts", "id", "d")
    def run2(df: org.apache.spark.sql.DataFrame) = Scan.affine2(
      df, Seq("ts", "id"),
      n1 = 1, (r, _) => Array(Affine(1.0, r.getLong(2).toDouble)), Array(0.0),
      n2 = 1, (_, s1) => Array(Affine(1.0, s1(0))), Array(0.0),
      emit = (_, s2, _) => s2(0), outName = "o", outType = DoubleType,
      numParts = 4)
    assert(run2(empty).count() == 0)
    val r1 = run2(one).select("o").as[Double].collect()
    assert(r1.toSeq == Seq(2.0)) // stage1 = 2, stage2 += 2
    def runPrev(df: org.apache.spark.sql.DataFrame) = Scan.withPrevRow(
      df, Seq("ts", "id"),
      out = (_, prev) => if (prev == null) null else java.lang.Long.valueOf(prev.getLong(0)),
      outName = "prev_ts", outType = LongType, numParts = 4)
    assert(runPrev(empty).count() == 0)
    val p1 = runPrev(one).select("prev_ts").collect()
    assert(p1.length == 1 && p1.head.isNullAt(0))
  }

  test("withPrevRow threads exact longs across partition boundaries") {
    import graft.features.Scan
    import org.apache.spark.sql.types.LongType
    // ns-epoch magnitudes (> 2^53): a double state would corrupt these
    val base = 1704067200000000000L
    val rows = (0 until 500).map(i => (base + i * 1000L + 1L, i.toLong))
    val df = rows.toDF("ts", "id").repartition(7)
    val out = Scan.withPrevRow(df, Seq("ts", "id"),
      out = (_, prev) => if (prev == null) null else java.lang.Long.valueOf(prev.getLong(0)),
      outName = "prev_ts", outType = LongType, numParts = 5)
      .orderBy("ts").select("ts", "prev_ts").collect()
    assert(out.head.isNullAt(1))
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) == a.getLong(0),
        s"prev_ts must be the exact previous ts: ${b.getLong(1)} vs ${a.getLong(0)}")
    }
  }

  test("unkeyed weights sweep equals the keyed window path on one symbol") {
    // same inputs, constant symbol: the affine2 scan path (partCols = Nil)
    // must agree with the window path (partCols = symbol) row for row.
    val rnd = new scala.util.Random(5)
    val prices = Seq.fill(600)(100.0 + rnd.nextDouble() * 10)
    val t = tradesDf(Seq.fill(600)(1.0), prices)
    val ev = t.where(col("id") % 23 === 0).select(
      col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
      (col("ts") + lit(40000000000L)).as("touch_ts"))
    val keyed = graft.labels.Weights.eventWeights(t, ev, Seq("symbol"))
      .select("event_id", "avg_uniqueness", "return_attribution")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val unkeyed = graft.labels.Weights.eventWeights(t, ev.drop("symbol"))
      .select("event_id", "avg_uniqueness", "return_attribution")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(keyed.length == unkeyed.length && keyed.nonEmpty)
    keyed.zip(unkeyed).foreach { case ((ka, ku, kr), (ua, uu, ur)) =>
      assert(ka == ua)
      assert(math.abs(ku - uu) < 1e-12, s"event $ka uniqueness $ku vs $uu")
      assert(math.abs(kr - ur) < 1e-12, s"event $ka attribution $kr vs $ur")
    }
  }

  test("z-score peak filter matches the sequential replay (filters.py:73-94)") {
    // grid-valued series with injected spikes: decision margins are far
    // from the sum-noise scale, so the boolean comparison is robust
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(120)(100.0 + rnd.nextInt(9) * 0.5)
    val prices = base.zipWithIndex.map { case (p, i) =>
      if (i % 17 == 0 && i >= 20) p + 10.0 else p
    }
    val n = 5; val thr = 2.0
    val t = tradesDf(Seq.fill(prices.size)(1.0), prices)
    val got = graft.features.Features
      .zScorePeaks(t, "price", n, thr, Seq("ts", "id"))
      .orderBy("ts").select("is_peak").as[Boolean].collect().toSeq
    val exp = prices.indices.map { i =>
      if (i < n) false
      else {
        val w = prices.slice(i - n, i)
        val s1 = w.sum; val s2 = w.map(y => y * y).sum
        val m = s1 / n; val v = s2 / n - m * m
        v > 0 && math.abs(prices(i) - m) > thr * math.sqrt(v)
      }
    }
    assert(got == exp)
    assert(exp.count(identity) > 0, "fixture must contain real peaks")
  }

  test("z-score peak filter resets per key (multi-symbol)") {
    val prices = Seq(100.0, 100.5, 100.0, 100.5, 100.0, 112.0, 100.5, 100.0)
    def df(sym: Long) = prices.zipWithIndex.map { case (p, i) =>
      (1000000000L * (i + 1), sym * 100 + i, p, 1.0, sym)
    }.toDF("ts", "id", "price", "qty", "symbol")
    def peaks(d: DataFrame, keys: Seq[String]) = graft.features.Features
      .zScorePeaks(d, "price", 5, 2.0, Seq("ts", "id"), keys)
      .where(col("is_peak")).select("symbol", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val solo = peaks(df(0L), Nil) ++ peaks(df(1L), Nil)
    val merged = peaks(df(0L).union(df(1L)), Seq("symbol"))
    assert(merged == solo && merged.nonEmpty)
  }

  test("legacy tick size: median of unique diffs, 2 significant digits") {
    // unique prices {100.00, 100.01, 100.03, 100.06, 100.10} → diffs
    // {.01,.02,.03,.04} → median .025 → nd = 1−floor(log10(.025)) = 3 →
    // floor(25.5)/1000 = 0.025
    val t = tradesDf(Seq.fill(5)(1.0),
      Seq(100.0, 100.01, 100.03, 100.06, 100.10))
    val got = graft.trades.Trades.tickSizeLegacy(t)
      .select("tick_size").as[Double].head()
    assert(math.abs(got - 0.025) < 1e-12)
    // no price variation → 0.0 (bar/utils.py:104-106)
    val flat = tradesDf(Seq.fill(4)(1.0), Seq.fill(4)(42.0))
    val z = graft.trades.Trades.tickSizeLegacy(flat)
      .select("tick_size").as[Double].head()
    assert(z == 0.0)
  }

  test("windowed EWMA converges to the exact recursion") {
    val rnd = new scala.util.Random(3)
    val prices = Seq.fill(800)(50.0 + rnd.nextDouble() * 100)
    val t = tradesDf(Seq.fill(800)(1.0), prices).withColumn("bar_ts", col("ts"))
    val w = Ewm.ewmaWindowed(col("price"), span = 20, k = 400)
    val got = t.select(col("ts"), w.as("e")).orderBy("ts").select("e").as[Double].collect()
    val q = 1.0 - 2.0 / 21.0
    var u = 0.0; var v = 0.0
    val exp = prices.map { y => u = y + q * u; v = 1 + q * v; u / v }
    got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-8) }
  }
}
