package graft.queries

import graft.Tables
import graft.trades.Trades
import graft.bars.TimeBars
import graft.features.Features._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Window-feature coverage (SURVEY.md §2.5) — each query computes a family
  * of features on 5-minute bars built from the canonical trades stream, and
  * is mirrored by a DuckDB oracle over the identical CTE pipeline.
  */
object FeatureQueries {

  private def bars5m(s: org.apache.spark.sql.SparkSession, dir: String) =
    TimeBars.ohlcv(Trades.fromEvents(Tables.events(s, dir)), 300)

  /** bars + rn + 1/4-bar log returns — the shared feature input. */
  private def b(s: org.apache.spark.sql.SparkSession, dir: String) =
    bars5m(s, dir)
      .withColumn("rn", row_number().over(Window.orderBy("bar_ts")))
      .withColumn("r1", log(col("close") / lag("close", 1).over(Window.orderBy("bar_ts"))))
      .withColumn("r4", log(col("close") / lag("close", 4).over(Window.orderBy("bar_ts"))))
      .withColumn("r1l", lag("r1", 1).over(Window.orderBy("bar_ts")))

  /** DuckDB mirror of [[b]]. */
  private val bCte: String =
    """b0 AS (
      |  SELECT *, row_number() OVER (ORDER BY bar_ts) AS rn,
      |         ln(close / lag(close) OVER (ORDER BY bar_ts)) AS r1,
      |         ln(close / lag(close, 4) OVER (ORDER BY bar_ts)) AS r4
      |  FROM bars
      |), b AS (
      |  SELECT *, lag(r1) OVER (ORDER BY bar_ts) AS r1l FROM b0
      |)""".stripMargin

  private def withB(body: String): String =
    s"WITH $tradesCte, ${barsCte(300)}, $bCte\n$body"

  val queries: Map[String, QueryFn] = Map(
    // Lag / Return / ROC / PctChange (§2.5 rows 1-5)
    "f_returns" -> ((s, dir) =>
      b(s, dir).select(col("bar_ts"),
        r6(lagN(col("close"), 5)).as("lag5"),
        r6(ret(col("close"), 1)).as("ret1"),
        r6(logRet(col("close"), 1)).as("logret1"),
        r6(roc(col("close"), 12)).as("roc12"),
        r6(pctChange(col("close"), 3)).as("pctchg3"))),

    // SMA / ZScore / MeanReversionZ / BurstRatio
    "f_sma_zscore" -> ((s, dir) =>
      b(s, dir).select(col("bar_ts"),
        r6(sma(col("close"), 20)).as("sma20"),
        r6(zscore(col("close"), 20)).as("z20"),
        r6(zscore(col("volume"), 20, ddof = 1)).as("zvol20"),
        r6(burstRatio(col("volume"), 20)).as("burst20"))),

    // z-score peak filter (§2.8 z_score_peak_filter — declared but
    // NotImplementedError in the reference; Features.zScorePeaks
    // documents the published formulation and the choices). Unkeyed on
    // the 5m bar grid + the keyed trades twin + the decision-margin
    // guard (cusum_slack pattern).
    "z_peaks_5m" -> ((s, dir) =>
      zScorePeaks(bars5m(s, dir), "close", 20, 3.0, Seq("bar_ts"))
        .where(col("is_peak"))
        .select(col("bar_ts"), r6(col("close")).as("close"))),

    "z_peaks_sym" -> ((s, dir) =>
      zScorePeaks(Trades.fromEvents(Tables.events(s, dir)), "price",
          20, 3.0, Seq("ts", "id"), Seq("symbol"))
        .where(col("is_peak"))
        .select(col("symbol"), col("ts"), col("id"),
          r6(col("price")).as("price"))),

    "z_peaks_slack" -> ((s, dir) => {
      def ok = coalesce(col("ms") > 1e-9, lit(true)).as("slack_ok")
      val bars = zScorePeaks(bars5m(s, dir), "close", 20, 3.0, Seq("bar_ts"))
        .agg(min(col("peak_slack")).as("ms"))
        .select(lit("bars").as("variant"), ok)
      val sym = zScorePeaks(Trades.fromEvents(Tables.events(s, dir)),
          "price", 20, 3.0, Seq("ts", "id"), Seq("symbol"))
        .agg(min(col("peak_slack")).as("ms"))
        .select(lit("sym").as("variant"), ok)
      bars.unionByName(sym)
    }),

    // Bollinger %B + Parkinson range
    "f_bollinger_parkinson" -> ((s, dir) =>
      b(s, dir).select(col("bar_ts"),
        r6(bollingerPercentB(col("close"), 20, 2.0)).as("pct_b"),
        r6(parkinson).as("parkinson"))),

    // StochK + true range + SMA-ATR
    "f_stoch_atr" -> ((s, dir) =>
      b(s, dir).select(col("bar_ts"),
        r6(stochK(14)).as("stoch_k14"),
        r6(trueRange()).as("tr"),
        r6(atrSma(14)).as("atr_sma14"))),

    // Realized vol / variance ratio / kurtosis / bipower variation
    "f_volatility" -> ((s, dir) =>
      b(s, dir).select(col("bar_ts"),
        r6(realizedVol(col("r1"), 20)).as("rv20"),
        r6(varianceRatio14(col("r1"), col("r4"), 20)).as("vr14"),
        r6(rollingKurtosis(col("r1"), 20)).as("kurt20"),
        r6(biPower(col("r1"), col("r1l"), 20)).as("bipower20"))),

    // VWAP distance + price-volume correlation
    "f_vwap_corr" -> ((s, dir) =>
      b(s, dir).select(col("bar_ts"),
        r6(vwapDistance(20)).as("vwap_dist20"),
        r6(priceVolumeCorr(col("r1"), col("volume"), 20)).as("pv_corr20"))),

    // VPIN + flow acceleration (needs per-bar buy/sell volumes)
    "f_vpin_flow" -> ((s, dir) => {
      val dir5 = TimeBars.directional(
        Trades.withTickRuleSide(Trades.fromEvents(Tables.events(s, dir))), 300)
      dir5.select(col("bar_ts"), col("volume_buy"), col("volume_sell"))
        .withColumn("vpin20", vpin(col("volume_buy"), col("volume_sell"), 20))
        .withColumn("flow_accel",
          flowAcceleration(col("volume_buy") + col("volume_sell"), 20, 5))
        .select(col("bar_ts"), r6(col("vpin20")).as("vpin20"),
          r6(col("flow_accel")).as("flow_accel"))
    }),

    // Trend slope (rolling OLS, degrees) + directional run length
    "f_trend" -> ((s, dir) => {
      val base = b(s, dir)
      withDirRunLen(base, col("r1"), "dir_run_len")
        .select(col("bar_ts"),
          r6(trendSlopeDegrees(col("close"), col("rn"), 20)).as("trend_slope20"),
          col("dir_run_len"))
    }),

    // Time cues — 9 calendar features (core/time.py)
    "f_time_cues" -> ((s, dir) => {
      val base = b(s, dir)
      val cues = timeCues("bar_ts")
      base.select((col("bar_ts") +: cues.map { case (n, c) =>
        // + 0.0 folds -0.0 to +0.0 (Spark round() can differ from DuckDB's
        // sign-preserving round at pi multiples); oracle normalizes likewise.
        (if (n.startsWith("sin") || n.startsWith("cos")) r6(c) + lit(0.0) else c.cast("boolean")).as(n)
      }): _*)
    }),

    // Candle shape (4 outputs)
    "f_candle_shape" -> ((s, dir) =>
      // + 0.0 folds -0.0 (vwap == open) to +0.0, matching the oracle's + 0e0.
      b(s, dir).select((col("bar_ts") +: candleShape.map { case (n, c) => (r6(c) + lit(0.0)).as(n) }): _*)),

    // Opening-range breakout flags
    "f_orb_break" -> ((s, dir) =>
      withOrbBreak(b(s, dir)).select(col("bar_ts"),
        r6(col("orb_high")).as("orb_high"), r6(col("orb_low")).as("orb_low"),
        col("orb_long"), col("orb_short"))),

    // Daily overnight gap (fixed port of the reference's broken DailyGap)
    "f_daily_gap" -> ((s, dir) =>
      dailyGap(bars5m(s, dir)).select(col("day"), r6(col("daily_gap")).as("daily_gap"))),

    // Hurst exponent (aggregated variance, lags 1/2/4/8) + approximate
    // entropy (m=2 Chebyshev, tol 0.2·σ) over 24-bar return windows.
    "f_hurst_apen" -> ((s, dir) => {
      val h = withHurst(b(s, dir), "r1", 24, "hurst24")
      withApEn(h, "r1", 24, 2, 0.2, "apen24")
        .select(col("bar_ts"), r6(col("hurst24")).as("hurst24"),
          r6(col("apen24")).as("apen24"))
    }),

    // Chu-Stinchcombe-White CUSUM structural-break features (6 outputs)
    "f_cusum_break" -> ((s, dir) =>
      withCusumBreak(b(s, dir), "close", windowSize = 50, warmup = 30, maxAge = 144)
        .select(col("bar_ts"),
          r6(col("cumote_up_score")).as("up_score"),
          r6(col("cumote_down_score")).as("down_score"),
          col("cumote_up_flag").as("up_flag"),
          col("cumote_down_flag").as("down_flag"),
          col("cumote_up_age").as("up_age"),
          col("cumote_down_age").as("down_age"))),

    // Bar durations (1/5-bar, seconds) + EWMA(span 20) of the 1-bar duration
    "f_bar_duration" -> ((s, dir) => {
      val base = b(s, dir)
        .withColumn("dur1", barDuration(1))
        .withColumn("dur5", barDuration(5))
      val ew = base.where(col("dur1").isNotNull)
        .withColumn("dur_ewma20", graft.features.Ewm.ewmaWindowed(col("dur1"), 20, k = 400))
        .select(col("bar_ts"), col("dur_ewma20"))
      base.join(ew, Seq("bar_ts"), "left")
        .select(col("bar_ts"), r6(col("dur1")).as("dur1"),
          r6(col("dur5")).as("dur5"), r6(col("dur_ewma20")).as("dur_ewma20"))
    }),

    // Feature-DSL pipeline (§2.10): authored with the operator DSL,
    // serialized to JSON, parsed back, and THEN built — the verify gate
    // exercises the round-trip itself, not just the happy path.
    "feature_dsl_roundtrip" -> ((s, dir) => {
      import graft.features.Dsl
      // parameterized registry entries — the ExternalFunction surface
      // (transforms.py:1668-1805): positional args, multiple input
      // columns, and named kwargs all serialize with the call
      Dsl.registerParam("powc", (c, args) => pow(c, args.head))
      Dsl.registerExt("wavg", (cs, _, kw) =>
        cs(0) * kw("w0") + cs(1) * kw("w1"))
      // string-enum kwarg (mode flag) — the reference's ExternalFunction
      // accepts arbitrary kwargs incl. strings (feature/utils.py:132-303)
      Dsl.registerExtFull("scl", (cs, _, kw, skw) => skw("mode") match {
        case "sqrt"  => sqrt(cs(0) * kw("k"))
        case "log"   => log(cs(0) * kw("k"))
        case other   => throw new IllegalArgumentException(s"scl mode $other")
      })
      val feats = Seq(
        Dsl.col("close").logRet(1),
        Dsl.col("close").sma(20),
        ((Dsl.col("close") - Dsl.col("open")).abs /
          (Dsl.col("high") - Dsl.col("low") + Dsl.const(1e-12))).clip(0.0, 1.0),
        Dsl.col("volume").zscore(20),
        Dsl.col("volume").rollMedian(20),
        Dsl.col("close").call("powc", 2.0),
        Dsl.call("wavg", Seq(Dsl.col("high"), Dsl.col("low")),
          kwargs = Seq("w0" -> 0.3, "w1" -> 0.7)),
        Dsl.call("scl", Seq(Dsl.col("close")),
          kwargs = Seq("k" -> 2.0), skwargs = Seq("mode" -> "sqrt")),
        // built-in windowed registration (round-8 op): the z-score peak
        // flag rides the same slack-certified 20/3.0 config as z_peaks_5m
        Dsl.col("close").callKw("zscore_peaks", "n" -> 20.0, "threshold" -> 3.0))
      val parsed = Dsl.fromJson(Dsl.toJson(feats))
      require(parsed.map(_.spec) == feats.map(_.spec), "dsl json round-trip drift")
      val built = Dsl.build(bars5m(s, dir).withColumn("bar_ts", col("bar_ts")),
        parsed, Seq("bar_ts"))
      built.select(col("bar_ts") +:
        parsed.map(f => r6(built.col(s"`${f.name}`")).as(f.name)): _*)
    }),

    // Trades-domain time-window features: as-of lagged return (ReturnT) and
    // trailing-1h event rate (BarRate). The unkeyed (reference
    // single-series) path rides ONE affine scan instead of
    // single-partition range windows: each trade plants three markers —
    //   lo   at (ts−1h, ord 0): trades strictly before ts−1h (rate lower
    //        bound; the range frame's −1h end is inclusive, so the marker
    //        sorts BEFORE the tie group),
    //   asof at (ts−1h, ord 2): held last-trade price at ts ≤ ts−1h (the
    //        as-of upper bound is inclusive → marker AFTER the tie group),
    //   hi   at (ts,    ord 2): trades at ts ≤ own ts incl. the full tie
    //        group (range frames span ties in both directions) —
    // and a per-trade hash aggregation differences the prefix counts.
    // States: trade count (row-local) + seen-flag/held price (prev-
    // dependent holds). One shuffle; the groupBy is hash-parallel.
    "f_returnt_rate" -> ((s, dir) => {
      import graft.features.Scan
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.types._
      val t = Trades.fromEvents(Tables.events(s, dir))
        .select(col("ts"), col("id"), col("price"))
      val hourNs = 3600L * 1000000000L
      val nullD = lit(null).cast("double")
      val tr = t.select(col("ts"), lit(1).as("ord"), col("id"), col("price"),
        lit(null).cast("int").as("mk"), lit(null).cast("long").as("qid"),
        lit(null).cast("long").as("qts"), nullD.as("qprice"))
      def mrk(tsE: org.apache.spark.sql.Column, ord: Int, mk: Int) =
        t.select(tsE.as("ts"), lit(ord).as("ord"), col("id"), nullD.as("price"),
          lit(mk).as("mk"), col("id").as("qid"), col("ts").as("qts"),
          col("price").as("qprice"))
      val stream = tr
        .unionByName(mrk(col("ts") - hourNs, 0, 0))
        .unionByName(mrk(col("ts") - hourNs, 2, 1))
        .unionByName(mrk(col("ts"), 2, 2))
      val sch = stream.schema
      val ordIdx = sch.fieldIndex("ord")
      val priceIdx = sch.fieldIndex("price")
      val keep = Scan.Affine(1.0, 0.0)
      val coefs = (r: InternalRow, prev: InternalRow) => {
        val cnt = if (r.getInt(ordIdx) == 1) Scan.Affine(1.0, 1.0) else keep
        val (seen, held) =
          if (prev != null && prev.getInt(ordIdx) == 1)
            (Scan.Affine(0.0, 1.0), Scan.Affine(0.0, prev.getDouble(priceIdx)))
          else (keep, keep)
        Array(cnt, seen, held)
      }
      val scanned = Scan.affine(stream, Seq("ts", "ord", "id"),
        nStates = 3, coefs, init = Array(0.0, 0.0, 0.0),
        emit = (s, _) => InternalRow(s(0).toLong,
          if (s(1) == 1.0) java.lang.Double.valueOf(s(2)) else null),
        outName = "__s", outType = StructType(Seq(
          StructField("cnt", LongType), StructField("held", DoubleType))))
      scanned.where(col("mk").isNotNull)
        .groupBy(col("qid"))
        .agg(max("qts").as("ts"), max("qprice").as("price"),
          max(when(col("mk") === 2, col("__s.cnt"))).as("cnt_hi"),
          max(when(col("mk") === 0, col("__s.cnt"))).as("cnt_lo"),
          max(when(col("mk") === 1, col("__s.held"))).as("lag_price"))
        .select(col("ts"), col("qid").as("id"),
          r6(when(col("lag_price") > 0, col("price") / col("lag_price") - 1))
            .as("returnt_1h"),
          r6((col("cnt_hi") - col("cnt_lo")).cast("double")).as("rate_1h"))
    }),

    // Keyed ReturnT/BarRate: the as-of and trailing-rate range windows
    // partition by symbol (24h horizon — per-symbol streams are ~2
    // trades/day) — shuffle-parallel, no single-partition range window.
    "f_returnt_rate_sym" -> ((s, dir) => {
      val t = Trades.fromEvents(Tables.events(s, dir))
      val dayNs = 86400L * 1000000000L
      // equal-(symbol, ts) prints reduce FIRST to the max-id price (the
      // reference's searchsorted-right pick, and what the unkeyed scan's
      // (ts, ord, id) marker order yields) — the as-of value becomes a
      // pure function of (symbol, ts), so last() over the range frame has
      // no tie ambiguity on any engine
      val red = t.groupBy("symbol", "ts")
        .agg(max_by(col("price"), col("id")).as("__p_last"),
          count(lit(1)).as("__cnt"))
      val wAsOf = Window.partitionBy("symbol").orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, -dayNs)
      val wRate = Window.partitionBy("symbol").orderBy("ts")
        .rangeBetween(-dayNs, 0)
      val mark = red
        .withColumn("lag_price", last("__p_last", ignoreNulls = true).over(wAsOf))
        .withColumn("rate_1d", sum("__cnt").over(wRate).cast("double"))
        .select(col("symbol"), col("ts"), col("lag_price"), col("rate_1d"))
      t.select(col("symbol"), col("ts"), col("id"), col("price"))
        .join(mark, Seq("symbol", "ts"))
        .withColumn("returnt_1d", when(col("lag_price") > 0, col("price") / col("lag_price") - 1))
        .select(col("symbol"), col("ts"), col("id"),
          r6(col("returnt_1d")).as("returnt_1d"), r6(col("rate_1d")).as("rate_1d"))
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------------

  private def fullCase(n: Int, expr: String, win: String = "wn"): String =
    s"CASE WHEN count(*) OVER $win = $n THEN ($expr) END"

  val oracles: Map[String, String] = Map(
    "f_returns" -> withB(
      """SELECT bar_ts,
        |  round(lag(close, 5) OVER wo, 6) AS lag5,
        |  round(close / lag(close, 1) OVER wo - 1, 6) AS ret1,
        |  round(ln(close / lag(close, 1) OVER wo), 6) AS logret1,
        |  round((close / lag(close, 12) OVER wo - 1) * 100, 6) AS roc12,
        |  round(CASE WHEN lag(close, 3) OVER wo > 0 THEN close / lag(close, 3) OVER wo - 1 END, 6) AS pctchg3
        |FROM b WINDOW wo AS (ORDER BY bar_ts)""".stripMargin),

    // z-score peak filter: the Spark side derives mean/std from the SAME
    // s1/s2 window sums and op tree as these texts (v = s2/n − (s1/n)²);
    // z_peaks_slack certifies every fire decision clears sum-order noise
    // by ≥ 1e-9.
    "z_peaks_5m" ->
      s"""WITH $tradesCte, ${barsCte(300)},
         |zb AS (
         |  SELECT bar_ts, close,
         |    sum(close) OVER wp AS s1, sum(close * close) OVER wp AS s2,
         |    count(close) OVER wp AS cnt
         |  FROM bars WINDOW wp AS (ORDER BY bar_ts ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
         |)
         |SELECT bar_ts, ${rd("close")} AS close FROM zb
         |WHERE cnt = 20 AND (s2 / 20.0 - (s1 / 20.0) * (s1 / 20.0)) > 0
         |  AND abs(close - s1 / 20.0) > 3.0 * sqrt(s2 / 20.0 - (s1 / 20.0) * (s1 / 20.0))""".stripMargin,

    "z_peaks_sym" ->
      s"""WITH $tradesCte,
         |zb AS (
         |  SELECT symbol, ts, id, price,
         |    sum(price) OVER wp AS s1, sum(price * price) OVER wp AS s2,
         |    count(price) OVER wp AS cnt
         |  FROM trades WINDOW wp AS (PARTITION BY symbol ORDER BY ts, id ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
         |)
         |SELECT symbol, ts, id, ${rd("price")} AS price FROM zb
         |WHERE cnt = 20 AND (s2 / 20.0 - (s1 / 20.0) * (s1 / 20.0)) > 0
         |  AND abs(price - s1 / 20.0) > 3.0 * sqrt(s2 / 20.0 - (s1 / 20.0) * (s1 / 20.0))""".stripMargin,

    "z_peaks_slack" ->
      """SELECT 'bars' AS variant, TRUE AS slack_ok
        |UNION ALL
        |SELECT 'sym' AS variant, TRUE AS slack_ok""".stripMargin,

    // min<max guards: DuckDB's sliding-window stddev leaves cancellation
    // residue on constant windows (σ ≈ 1e-15 instead of 0), turning 0/0
    // into garbage where Spark's recomputed frame gives exact 0 → NULL.
    "f_sma_zscore" -> withB(
      s"""SELECT bar_ts,
         |  round(${fullCase(20, "avg(close) OVER wn")}, 6) AS sma20,
         |  round(${fullCase(20, "CASE WHEN min(close) OVER wn < max(close) OVER wn THEN (close - avg(close) OVER wn) / nullif(stddev_pop(close) OVER wn, 0) END")}, 6) AS z20,
         |  round(${fullCase(20, "CASE WHEN min(volume) OVER wn < max(volume) OVER wn THEN (volume - avg(volume) OVER wn) / nullif(stddev_samp(volume) OVER wn, 0) END")}, 6) AS zvol20,
         |  round(${fullCase(20, "volume / nullif(quantile_cont(volume, 0.5) OVER wn, 0)")}, 6) AS burst20
         |FROM b WINDOW wn AS (ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin),

    "f_bollinger_parkinson" -> withB(
      s"""SELECT bar_ts,
         |  round(${fullCase(20, "CASE WHEN min(close) OVER wn < max(close) OVER wn THEN (close - (avg(close) OVER wn - 2.0 * stddev_samp(close) OVER wn)) / nullif(4.0 * stddev_samp(close) OVER wn, 0) END")}, 6) AS pct_b,
         |  round(pow(ln(high / low), 2) / (4 * ln(2.0)), 6) AS parkinson
         |FROM b WINDOW wn AS (ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin),

    "f_stoch_atr" -> withB(
      s"""SELECT bar_ts,
         |  round(${fullCase(14, "100 * (close - min(low) OVER wn) / nullif(max(high) OVER wn - min(low) OVER wn, 0)")}, 6) AS stoch_k14,
         |  round(tr, 6) AS tr,
         |  round(${fullCase(14, "avg(tr) OVER wn")}, 6) AS atr_sma14
         |FROM (
         |  SELECT *, coalesce(greatest(high - low, abs(high - lag(close) OVER (ORDER BY bar_ts)),
         |                     abs(low - lag(close) OVER (ORDER BY bar_ts))), high - low) AS tr
         |  FROM b
         |) WINDOW wn AS (ORDER BY bar_ts ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""".stripMargin),

    "f_volatility" -> withB(
      s"""SELECT bar_ts,
         |  round(${fullCase(20, "sqrt(sum(r1 * r1) OVER wn / nullif(count(r1) OVER wn - 1, 0))")}, 6) AS rv20,
         |  round(${fullCase(20, "var_samp(r1) OVER wn / nullif(var_samp(r4) OVER wn / 4, 0)")}, 6) AS vr14,
         |  ${rd(fullCase(20, "kurtosis_pop(r1) OVER wn"))} AS kurt20,
         |  round(${fullCase(20, "sqrt(pi() / 2) * sum(abs(r1) * abs(r1l)) OVER wn")}, 6) AS bipower20
         |FROM b WINDOW wn AS (ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin),

    "f_vwap_corr" -> withB(
      s"""SELECT bar_ts,
         |  round(close / nullif(sum(vwap * volume) OVER wn / nullif(sum(volume) OVER wn, 0), 0) - 1, 6) AS vwap_dist20,
         |  ${rd(fullCase(20, "CASE WHEN min(r1) OVER wn < max(r1) OVER wn AND min(CASE WHEN r1 IS NOT NULL THEN volume END) OVER wn < max(CASE WHEN r1 IS NOT NULL THEN volume END) OVER wn THEN corr(r1, volume) OVER wn END"))} AS pv_corr20
         |FROM b WINDOW wn AS (ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin),

    "f_vpin_flow" -> {
      val iv = 300L * 1000000000L
      s"""WITH $tradesCte, $sidedCte,
         |d AS (
         |  SELECT ((ts + ${iv - 1}) // $iv) * $iv AS bar_ts,
         |    sum(CASE WHEN side = 1 THEN qty ELSE 0.0 END) AS volume_buy,
         |    sum(CASE WHEN side = -1 THEN qty ELSE 0.0 END) AS volume_sell
         |  FROM sided GROUP BY 1
         |)
         |SELECT bar_ts,
         |  round(${fullCase(20, "sum(abs(volume_buy - volume_sell)) OVER wn / nullif(sum(volume_buy + volume_sell) OVER wn, 0)")}, 6) AS vpin20,
         |  round(${fullCase(20, "ln((sum(volume_buy + volume_sell) OVER wr + 1e-12) / (sum(volume_buy + volume_sell) OVER wp + 1e-12))")}, 6) AS flow_accel
         |FROM d WINDOW
         |  wn AS (ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |  wr AS (ORDER BY bar_ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |  wp AS (ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND 5 PRECEDING)""".stripMargin
    },

    "f_trend" -> withB(
      s"""SELECT bar_ts,
         |  round(${fullCase(20, "degrees(atan(covar_samp(CAST(rn AS DOUBLE), ln(close)) OVER wn / nullif(var_samp(CAST(rn AS DOUBLE)) OVER wn, 0)))")}, 6) AS trend_slope20,
         |  CASE WHEN sgn IS NULL OR sgn = 0 THEN 0
         |       ELSE CAST(row_number() OVER (PARTITION BY grp ORDER BY bar_ts) AS INT) END AS dir_run_len
         |FROM (
         |  SELECT *, sum(flip) OVER (ORDER BY bar_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM (
         |    SELECT *, sign(r1) AS sgn,
         |      CASE WHEN sign(r1) IS DISTINCT FROM lag(sign(r1)) OVER (ORDER BY bar_ts) THEN 1 ELSE 0 END AS flip
         |    FROM b
         |  )
         |) WINDOW wn AS (ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin),

    "f_time_cues" -> withB(
      """SELECT bar_ts,
        |  round(sin(2 * pi() * (sec % 86400) / 86400.0), 6) + 0e0 AS sin_td,
        |  round(cos(2 * pi() * (sec % 86400) / 86400.0), 6) + 0e0 AS cos_td,
        |  round(sin(2 * pi() * ((sec // 86400 + 3) % 7) / 7.0), 6) + 0e0 AS sin_dw,
        |  round(cos(2 * pi() * ((sec // 86400 + 3) % 7) / 7.0), 6) + 0e0 AS cos_dw,
        |  hr >= 0 AND hr < 8 AS asia_session,
        |  hr >= 7 AND hr < 15 AS eu_session,
        |  hr >= 13 AND hr < 21 AS us_session,
        |  hr IN (0, 7, 13) AND mi = 0 AS session_transition,
        |  mi = 0 AS top_of_hour
        |FROM (SELECT bar_ts, bar_ts // 1000000000 AS sec,
        |             (bar_ts // 1000000000 % 86400) // 3600 AS hr,
        |             (bar_ts // 1000000000 % 3600) // 60 AS mi
        |      FROM b)""".stripMargin),

    "f_candle_shape" -> withB(
      """SELECT bar_ts,
        |  round((high - greatest(open, close)) / (high - low + 1e-12), 6) + 0e0 AS wick_up,
        |  round((least(open, close) - low) / (high - low + 1e-12), 6) + 0e0 AS wick_dn,
        |  round(abs(close - open) / (high - low + 1e-12), 6) + 0e0 AS body,
        |  round(CASE WHEN trades > 0 THEN (vwap - open) / open END, 6) + 0e0 AS vwap_drift
        |FROM b""".stripMargin),

    "f_orb_break" -> withB(
      """SELECT bar_ts,
        |  round(orb_high, 6) AS orb_high, round(orb_low, 6) AS orb_low,
        |  CAST(rn > 4 AND close > orb_high AS INT) AS orb_long,
        |  CAST(rn > 4 AND close < orb_low AS INT) AS orb_short
        |FROM (
        |  SELECT *,
        |    max(CASE WHEN rn <= 4 THEN high END) OVER (PARTITION BY day) AS orb_high,
        |    min(CASE WHEN rn <= 4 THEN low END) OVER (PARTITION BY day) AS orb_low
        |  FROM (
        |    SELECT *, bar_ts // 86400000000000 AS day,
        |           row_number() OVER (PARTITION BY bar_ts // 86400000000000 ORDER BY bar_ts) AS rn
        |    FROM bars
        |  )
        |)""".stripMargin),

    "f_daily_gap" ->
      s"""WITH $tradesCte, ${barsCte(300)}
         |SELECT day, round((first_close - prev_last) / prev_last, 6) AS daily_gap
         |FROM (
         |  SELECT day, first_close, last_close,
         |         lag(last_close) OVER (ORDER BY day) AS prev_last
         |  FROM (
         |    SELECT bar_ts // 86400000000000 AS day,
         |           arg_min(close, bar_ts) AS first_close,
         |           arg_max(close, bar_ts) AS last_close
         |    FROM bars WHERE trades > 0 GROUP BY 1
         |  )
         |)""".stripMargin,

    "f_hurst_apen" -> withB(
      """, h0 AS (
        |  SELECT bar_ts, rn, r1,
        |    count(*) OVER wn AS c_all, count(r1) OVER wn AS c_r,
        |    0.2 * stddev_pop(r1) OVER wn AS tolr,
        |    sum(r1) OVER (ORDER BY bar_ts ROWS BETWEEN 0 PRECEDING AND CURRENT ROW) AS s1,
        |    sum(r1) OVER (ORDER BY bar_ts ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s2,
        |    sum(r1) OVER (ORDER BY bar_ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS s4,
        |    sum(r1) OVER (ORDER BY bar_ts ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS s8,
        |    lead(r1) OVER wo AS v1, lead(r1, 2) OVER wo AS v2
        |  FROM b WINDOW
        |    wn AS (ORDER BY bar_ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW),
        |    wo AS (ORDER BY bar_ts)
        |), h1 AS (
        |  SELECT bar_ts, rn, c_all, c_r,
        |    var_pop(s1) OVER (ORDER BY bar_ts ROWS BETWEEN 22 PRECEDING AND CURRENT ROW) AS v1,
        |    var_pop(s2) OVER (ORDER BY bar_ts ROWS BETWEEN 21 PRECEDING AND CURRENT ROW) AS v2,
        |    var_pop(s4) OVER (ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS v4,
        |    var_pop(s8) OVER (ORDER BY bar_ts ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS v8
        |  FROM h0
        |), att AS (
        |  SELECT bar_ts, rn, tolr FROM h0 WHERE c_all = 24 AND c_r = 24
        |), p2 AS (
        |  SELECT t.bar_ts, t.rn, x.rn AS i,
        |    CAST(count(*) FILTER (WHERE greatest(abs(x.r1 - y.r1), abs(x.v1 - y.v1)) <= t.tolr) AS DOUBLE) AS cnt
        |  FROM att t
        |  JOIN h0 x ON x.rn BETWEEN t.rn - 23 AND t.rn - 1
        |  JOIN h0 y ON y.rn BETWEEN t.rn - 23 AND t.rn - 1
        |  GROUP BY t.bar_ts, t.rn, x.rn
        |), f2 AS (
        |  SELECT bar_ts, avg(ln(cnt / 23.0)) AS phi2 FROM p2 GROUP BY bar_ts, rn
        |), p3 AS (
        |  SELECT t.bar_ts, t.rn, x.rn AS i,
        |    CAST(count(*) FILTER (WHERE greatest(abs(x.r1 - y.r1), abs(x.v1 - y.v1), abs(x.v2 - y.v2)) <= t.tolr) AS DOUBLE) AS cnt
        |  FROM att t
        |  JOIN h0 x ON x.rn BETWEEN t.rn - 23 AND t.rn - 2
        |  JOIN h0 y ON y.rn BETWEEN t.rn - 23 AND t.rn - 2
        |  GROUP BY t.bar_ts, t.rn, x.rn
        |), f3 AS (
        |  SELECT bar_ts, avg(ln(cnt / 22.0)) AS phi3 FROM p3 GROUP BY bar_ts, rn
        |)
        |SELECT h1.bar_ts,
        |  round(CASE WHEN c_all = 24 AND c_r = 24 AND v1 > 0 AND v2 > 0 AND v4 > 0 AND v8 > 0
        |    THEN (-1.5 * ln(sqrt(v1)) - 0.5 * ln(sqrt(v2)) + 0.5 * ln(sqrt(v4)) + 1.5 * ln(sqrt(v8))) / (5 * ln(2.0))
        |  END, 6) AS hurst24,
        |  round(f2.phi2 - f3.phi3, 6) AS apen24
        |FROM h1 LEFT JOIN f2 USING (bar_ts) LEFT JOIN f3 USING (bar_ts)""".stripMargin),

    "feature_dsl_roundtrip" -> withB(
      s"""SELECT bar_ts,
         |  round(ln(close / lag(close) OVER wo), 6) AS "close_logret_1",
         |  round(${fullCase(20, "avg(close) OVER wn")}, 6) AS "close_sma_20",
         |  round(least(greatest(abs(close - open) / (high - low + 1e-12), 0.0e0), 1.0e0), 6) AS "clip(div(abs(sub(close,open)),add(sub(high,low),1.0E-12)),0.0,1.0)",
         |  round(${fullCase(20, "CASE WHEN min(volume) OVER wn < max(volume) OVER wn THEN (volume - avg(volume) OVER wn) / nullif(stddev_pop(volume) OVER wn, 0) END")}, 6) AS "volume_zscore_20",
         |  round(${fullCase(20, "quantile_cont(volume, 0.5) OVER wn")}, 6) AS "volume_median_20",
         |  round(pow(close, 2.0), 6) AS "powc(close,2)",
         |  round(high * 0.3e0 + low * 0.7e0, 6) AS "wavg(high,low,w0=0.3,w1=0.7)",
         |  round(sqrt(close * 2.0e0), 6) AS "scl(close,k=2,mode=sqrt)",
         |  round(CASE WHEN count(close) OVER wp = 20
         |    AND (sum(close * close) OVER wp / 20.0 - (sum(close) OVER wp / 20.0) * (sum(close) OVER wp / 20.0)) > 0
         |    AND abs(close - sum(close) OVER wp / 20.0) > 3.0 * sqrt(sum(close * close) OVER wp / 20.0 - (sum(close) OVER wp / 20.0) * (sum(close) OVER wp / 20.0))
         |    THEN 1.0e0 ELSE 0.0e0 END, 6) AS "zscore_peaks(close,n=20,threshold=3)"
         |FROM b WINDOW
         |  wn AS (ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |  wo AS (ORDER BY bar_ts),
         |  wp AS (ORDER BY bar_ts ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)""".stripMargin),

    "f_cusum_break" -> withB(
      """, c0 AS (
        |  SELECT bar_ts, rn, ln(close) AS lp FROM b
        |), c1 AS (
        |  SELECT bar_ts, rn, lp, least(rn - 1, 50) AS tloc,
        |    sum(d2) OVER (ORDER BY bar_ts ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS sd2
        |  FROM (SELECT *, pow(lp - lag(lp) OVER (ORDER BY bar_ts), 2) AS d2 FROM c0)
        |), c2 AS (
        |  SELECT *, sqrt(sd2 / (tloc - 1)) AS sigma FROM c1 WHERE tloc >= 30
        |), p AS (
        |  SELECT t.bar_ts,
        |    greatest(0, t.lp - x.lp) / (t.sigma * sqrt(CAST(t.rn - x.rn AS DOUBLE))) AS su,
        |    -least(0, t.lp - x.lp) / (t.sigma * sqrt(CAST(t.rn - x.rn AS DOUBLE))) AS sd,
        |    sqrt(4.6 + ln(CAST(t.rn - x.rn AS DOUBLE))) AS crit
        |  FROM c2 t JOIN c0 x ON x.rn BETWEEN t.rn - t.tloc + 1 AND t.rn - 2
        |  WHERE t.sigma * sqrt(CAST(t.rn - x.rn AS DOUBLE)) > 1e-16
        |), m AS (
        |  SELECT bar_ts, max(su) AS su, max(sd) AS sd FROM p GROUP BY bar_ts
        |), c AS (
        |  SELECT p.bar_ts, m.su, m.sd,
        |    max(CASE WHEN p.su = m.su THEN p.crit END) AS cu,
        |    max(CASE WHEN p.sd = m.sd THEN p.crit END) AS cd
        |  FROM p JOIN m USING (bar_ts) GROUP BY p.bar_ts, m.su, m.sd
        |), bk AS (
        |  SELECT b.bar_ts,
        |    CASE WHEN b.rn >= 31 THEN coalesce(c.su - c.cu, -1e-6) END AS bu,
        |    CASE WHEN b.rn >= 31 THEN coalesce(c.sd - c.cd, -1e-6) END AS bd
        |  FROM b LEFT JOIN c ON b.bar_ts = c.bar_ts
        |), fl AS (
        |  SELECT bar_ts,
        |    CASE WHEN bu IS NOT NULL THEN least(greatest(bu, -10), 10) END AS up_score,
        |    CASE WHEN bd IS NOT NULL THEN least(greatest(bd, -10), 10) END AS down_score,
        |    coalesce(bu > 0, false) AS up_flag,
        |    coalesce(bd > 0, false) AS down_flag
        |  FROM bk
        |), g AS (
        |  SELECT *,
        |    sum(CAST(up_flag AS INT)) OVER (ORDER BY bar_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gu,
        |    sum(CAST(down_flag AS INT)) OVER (ORDER BY bar_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gd
        |  FROM fl
        |)
        |SELECT bar_ts, round(up_score, 6) AS up_score, round(down_score, 6) AS down_score,
        |  up_flag, down_flag,
        |  CAST(least(row_number() OVER (PARTITION BY gu ORDER BY bar_ts) - 1, 144) AS INT) AS up_age,
        |  CAST(least(row_number() OVER (PARTITION BY gd ORDER BY bar_ts) - 1, 144) AS INT) AS down_age
        |FROM g""".stripMargin),

    "f_bar_duration" -> withB(
      s""", d AS (
         |  SELECT bar_ts,
         |    (bar_ts - lag(bar_ts) OVER wo) / 1e9 AS dur1,
         |    (bar_ts - lag(bar_ts, 5) OVER wo) / 1e9 AS dur5
         |  FROM b WINDOW wo AS (ORDER BY bar_ts)
         |), e AS (
         |  SELECT bar_ts,
         |    list(dur1) OVER (ORDER BY bar_ts ROWS BETWEEN 399 PRECEDING AND CURRENT ROW) AS l
         |  FROM d WHERE dur1 IS NOT NULL
         |), e2 AS (
         |  SELECT bar_ts,
         |    list_sum(list_transform(l, (y, i) -> y * pow(${D(1.0 - 2.0 / 21.0)}, len(l) - i))) /
         |      ((1 - pow(${D(1.0 - 2.0 / 21.0)}, len(l))) / ${D(2.0 / 21.0)}) AS dur_ewma20
         |  FROM e
         |)
         |SELECT d.bar_ts, round(dur1, 6) AS dur1, round(dur5, 6) AS dur5,
         |  round(dur_ewma20, 6) AS dur_ewma20
         |FROM d LEFT JOIN e2 USING (bar_ts)""".stripMargin),

    // as-of oracles reduce equal-ts prints to the max-id price FIRST (the
    // searchsorted-right pick), so last_value over the range frame never
    // depends on DuckDB's physical tie order among equal-ts rows
    "f_returnt_rate" ->
      s"""WITH $tradesCte,
         |red AS (
         |  SELECT ts, max_by(price, id) AS p_last, count(*) AS cnt
         |  FROM trades GROUP BY ts
         |), mark AS (
         |  SELECT ts,
         |    last_value(p_last) OVER (ORDER BY ts
         |      RANGE BETWEEN UNBOUNDED PRECEDING AND 3600000000000 PRECEDING) AS lag_price,
         |    CAST(sum(cnt) OVER (ORDER BY ts
         |      RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rate_1h
         |  FROM red
         |)
         |SELECT t.ts, t.id,
         |  round(CASE WHEN m.lag_price > 0 THEN t.price / m.lag_price - 1 END, 6) AS returnt_1h,
         |  round(m.rate_1h, 6) AS rate_1h
         |FROM trades t JOIN mark m ON m.ts = t.ts""".stripMargin,

    "f_returnt_rate_sym" ->
      s"""WITH $tradesCte,
         |red AS (
         |  SELECT symbol, ts, max_by(price, id) AS p_last, count(*) AS cnt
         |  FROM trades GROUP BY symbol, ts
         |), mark AS (
         |  SELECT symbol, ts,
         |    last_value(p_last) OVER (PARTITION BY symbol ORDER BY ts
         |      RANGE BETWEEN UNBOUNDED PRECEDING AND 86400000000000 PRECEDING) AS lag_price,
         |    CAST(sum(cnt) OVER (PARTITION BY symbol ORDER BY ts
         |      RANGE BETWEEN 86400000000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rate_1d
         |  FROM red
         |)
         |SELECT t.symbol, t.ts, t.id,
         |  round(CASE WHEN m.lag_price > 0 THEN t.price / m.lag_price - 1 END, 6) AS returnt_1d,
         |  round(m.rate_1d, 6) AS rate_1d
         |FROM trades t JOIN mark m ON m.symbol = t.symbol AND m.ts = t.ts""".stripMargin
  )
}
