package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Conf
import graft.bars.{EventBars, TimeBars}
import graft.features.{Dsl, Ewm}
import graft.labels.{TripleBarrier, Weights}
import graft.sources.{Ingest, Store}
import graft.trades.Trades
import Workload.{now, repeat}

/** Shared label/weight tail of the two trade lineages and their checks. */
object TradeLineage {
  val barSec = 300L
  val vertSec = 48 * 3600.0
  val vertNs: Long = (vertSec * 1e9).toLong

  /** Weights → time decay → normalization → class balance: the weighted
    * training set. `keys` are the series key columns (empty = one series).
    */
  def weighted(tr: Tracer, trades: DataFrame, lab: DataFrame,
               keys: Seq[String]): DataFrame = {
    val ew = tr.frame("labels")(Weights.eventWeights(trades, lab, keys))
    val dec = tr.frame("labels")(Weights.withTimeDecay(ew, lastWeight = 0.5, keys))
    val on = (keys :+ "event_id").map(c => col(c) === col(s"__l_$c")).reduce(_ && _)
    val withLab = dec.join(
        lab.select((keys :+ "event_id").map(c => col(c).as(s"__l_$c")) ++
          Seq(col("label"), col("ret"), col("vertical_touch_weight")): _*), on)
      .drop((keys :+ "event_id").map(c => s"__l_$c"): _*)
      .withColumn("base", col("return_attribution") *
        col("vertical_touch_weight") * col("time_decay"))
    val tot = withLab.agg(sum("base").as("__s"), count(lit(1)).as("__n"))
    val normed = withLab.crossJoin(broadcast(tot))
      .withColumn("base_norm", col("base") * col("__n") / col("__s"))
      .drop("__s", "__n", "base")
    tr.frame("labels")(Weights.withClassBalance(normed, "base_norm", keys))
  }

  def barChecks(bars: DataFrame, what: String): Check = {
    val bad = bars.where(col("low") > col("open") || col("low") > col("close") ||
      col("high") < col("open") || col("high") < col("close")).count()
    Check(s"$what: low <= open, close <= high", bad == 0, s"$bad bad bars")
  }

  /** Per symbol, total bar volume equals the generated trade qty. */
  def volumeCheck(bars: DataFrame, info: Gen.TradeInfo, keyed: Boolean): Check = {
    val got = (if (keyed) bars.groupBy("symbol") else bars.withColumn("symbol", lit(0L)).groupBy("symbol"))
      .agg(sum("volume").as("v")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bad = info.qtyMilliBySymbol.filter { case (s, q) =>
      math.abs(got.getOrElse(s, 0.0) - q / 1000.0) > 1e-6 * math.max(1.0, q / 1000.0)
    }
    Check("per symbol, bar volume equals trade qty", bad.isEmpty,
      bad.take(3).map { case (s, q) => s"symbol $s: ${got.get(s)} vs ${q / 1000.0}" }.mkString("; "))
  }

  def labelChecks(out: DataFrame): Seq[Check] = {
    val r = out.agg(
      count(lit(1)),
      sum(when(!col("label").isin(-1, 0, 1) || col("label").isNull, 1).otherwise(0)),
      sum(when(col("touch_ts") > col("event_ts") + lit(vertNs), 1).otherwise(0)),
      sum("base_norm"),
      // 1e-9 slack: uniqueness is a difference of prefix sums over the
      // trade stream, which lands up to ~2e-12 above 1 on a single-event run
      sum(when(!(col("avg_uniqueness") > 0.0 && col("avg_uniqueness") <= 1.0 + 1e-9), 1).otherwise(0)),
      sum(when(col("weight").isNull || isnan(col("weight")) || col("weight") < 0, 1).otherwise(0)))
      .head()
    val n = r.getLong(0)
    val wsum = if (r.isNullAt(3)) 0.0 else r.getDouble(3)
    Seq(
      Check("events labeled", n > 0, s"$n events"),
      Check("labels in {-1, 0, 1}", r.getLong(1) == 0, s"${r.getLong(1)} bad"),
      Check("touch_ts <= event + vertical barrier", r.getLong(2) == 0, s"${r.getLong(2)} bad"),
      Check("normalized weights sum to the event count",
        math.abs(wsum - n) <= 1e-6 * math.max(1, n), s"$wsum vs $n"),
      Check("avg_uniqueness in (0, 1]", r.getLong(4) == 0, s"${r.getLong(4)} bad"),
      Check("class-balanced weights finite and >= 0", r.getLong(5) == 0, s"${r.getLong(5)} bad"))
  }

  /** Mean trades inside each event's vertical-barrier window — the rows the
    * TBM path join walks per event.
    */
  def pathRowsPerEvent(out: DataFrame, info: Gen.TradeInfo, keyed: Boolean): Double = {
    val ev = (if (keyed) out.select(col("symbol"), col("event_ts"))
      else out.select(lit(0L).as("symbol"), col("event_ts"))).collect()
    if (ev.isEmpty) 0.0
    else ev.map { r =>
      val ts = info.tsBySymbol(r.getLong(0))
      val t0 = r.getLong(1)
      upper(ts, t0 + vertNs) - lower(ts, t0)
    }.sum.toDouble / ev.length
  }

  private def lower(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }
  private def upper(a: Array[Long], x: Long): Int = lower(a, x + 1)
}

/** One continuous single-symbol series through the full unkeyed lineage:
  * CSV ingest → monthly store → 5m bars → id-gap integrity scan → DSL
  * features → EW σ → CUSUM events → triple-barrier labels →
  * uniqueness/decay/class-balance weights.
  */
final class SeriesBulk extends Workload {
  val name = "series_bulk"
  private var gaps = 0L
  private var info: Gen.TradeInfo = _
  private var lastOut: File = _
  private var lastBars: File = _
  var sizes: Map[String, Double] = Map.empty

  def generate(dir: File, seed: Long, tiny: Boolean, seconds: Int): Unit = {
    // the warm-up input is half the measured one, at the same trade rate,
    // so the JIT compiles the hot per-row paths before the measured unit:
    // with a tenth the first measured unit ran a quarter slower than later
    // ones. 25k rows keep a run (a set-up and two units) near a minute on
    // 4 cores; with twelve features, features+labels hold about two thirds
    // of the task CPU (seven left them near half).
    val n = if (tiny) 12500 else 25000
    val spanMs = (if (tiny) 10L else 20L) * 86400000L
    Workload.write(new File(dir, "trades.csv")) { o =>
      info = Gen.seriesCsv(seed, n, spanMs.toDouble / n, o)
    }
    sizes = Map("rows" -> info.rows.toDouble, "symbols" -> 1.0, "heavy_share" -> 1.0,
      "bytes" -> info.bytes.toDouble)
  }

  def measure(spark: SparkSession, tr: Tracer, dir: File, work: File,
              seconds: Double, minUnits: Int): Measured = {
    val csv = new File(dir, "trades.csv").getAbsolutePath
    // a per-bar feature set like a model's inputs: returns, rolling moments
    // and extremes, windowed EWMAs and a rolling median; the training set
    // carries them at each event, so every feature is computed in the
    // untraced run too
    val close = Dsl.col("close")
    val ret = close.logRet(1)
    val vol = Dsl.col("volume")
    val feats = Seq(ret, close.sma(20), ret.rollStd(20), close.zscore(50), close.ewma(20),
      close.rollMedian(20), vol.sma(20), ret.rollStd(100), close.rollMax(50), close.rollMin(50),
      close.ewma(100), vol.zscore(50))
    val mwork = new File(work, s"m${now()}")
    val (runs, w0, w1) = repeat(seconds, minUnits) { rep =>
      Workload.unpersistAll(spark)
      if (rep > 0) Main.deleteTree(new File(mwork, s"rep${rep - 1}"))
      val base = new File(mwork, s"rep$rep").getAbsolutePath
      val t0 = now()
      tr.span("sources")(Ingest.ingest(spark, csv, s"$base/store"))
      tr.span("sources")(Store.materializeBars(spark, s"$base/store", s"$base/bars", TradeLineage.barSec))
      val barsAt = now()
      val bounds = tr.span("sources")(
        spark.read.parquet(s"$base/store").agg(min("ts"), max("ts")).head())
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val ivNs = TradeLineage.barSec * 1000000000L
      val trades = tr.frame("sources")(
        Store.readRange(spark, s"$base/store", lo, hi).drop("month")
          .persist(Conf.storageLevel))
      // integrity gate before bars: the store must hold a gap-free id range
      gaps = tr.span("trades")(Trades.idGaps(trades).count())
      val bars = tr.frame("sources")(Store.readBars(spark, s"$base/bars", 0L,
        ((hi + ivNs - 1) / ivNs) * ivNs, barSec = TradeLineage.barSec).drop("month"))
      val fm = tr.frame("features")(Dsl.build(bars, feats, Seq("bar_ts", "close", "volume"))
        .persist(Conf.storageLevel))
      val btr = fm.select(col("bar_ts").as("ts"), col("bar_ts").as("id"),
          col("close").as("price"), col("volume").as("qty"))
        .withColumn("__lp", log(col("price")))
      val sig = tr.frame("features")(
        Ewm.ewmstExact(btr, "__lp", 3600.0, out = "sigma").drop("__lp"))
      val fired = tr.frame("bars")(
        EventBars.cusumEventIds(sig, "sigma", 2.0, 5e-4).persist(Conf.storageLevel))
      val ev = fired.where(col("is_event")).select(
          col("ts").as("event_ts"), col("id").as("event_id"),
          col("price").as("p0"), col("sigma").as("tgt"))
        .persist(Conf.storageLevel)
      val lab = tr.frame("labels")(TripleBarrier.label(trades, ev, 2.0, 1.5,
          vertBarrierSec = TradeLineage.vertSec, minRet = 0.002)
        .persist(Conf.storageLevel))
      val out = TradeLineage.weighted(tr, trades, lab, Nil)
        .join(fm.select(col("bar_ts").as("event_ts") +: feats.map(f => col(f.name)): _*),
          Seq("event_ts"), "left")
      tr.span("labels")(out.write.parquet(s"$base/training"))
      val t1 = now()
      lastOut = new File(s"$base/training")
      lastBars = new File(s"$base/bars")
      val nBars = spark.read.parquet(s"$base/bars").count()
      val d = Workload.digest(spark.read.parquet(s"$base/training"))
      (t0, barsAt, t1, nBars, d)
    }
    val extras =
      if (tr.enabled) Map("labels.path_rows_per_event" ->
        TradeLineage.pathRowsPerEvent(spark.read.parquet(lastOut.getPath), info, keyed = false))
      else Map.empty[String, Double]
    Measured(
      lineage = runs.map { case (t0, _, t1, _, _) => (t1 - t0) / 1000.0 },
      latencies = runs.flatMap { case (t0, b, _, n, _) => Seq.fill(n.toInt)((b - t0) / 1000.0) },
      commits = runs.map { case (t0, _, t1, _, _) => (t1, t0) },
      windowStart = w0, windowEnd = w1,
      digests = runs.map(_._5), extras = extras)
  }

  def checks(spark: SparkSession, digests: Seq[String]): Seq[Check] = {
    val bars = spark.read.parquet(lastBars.getPath)
    Seq(TradeLineage.volumeCheck(bars, info, keyed = false),
      TradeLineage.barChecks(bars, "5m bars"),
      Check("ingest kept every trade id", gaps == 0, s"$gaps id gaps")) ++
      TradeLineage.labelChecks(spark.read.parquet(lastOut.getPath)) :+
      Workload.sameDigests(digests)
  }

  val dominantLayers: Seq[String] = Seq("features", "labels")
}

/** A few hundred symbols with Zipf-skewed counts and one heavy hitter,
  * through the keyed lineage (`partCols = symbol`): tick-rule sides, keyed
  * dollar and time bars, DSL features, CUSUM, TBM and weights on the auto
  * tier.
  */
final class SymbolsSkew extends Workload {
  val name = "symbols_skew"
  private var info: Gen.TradeInfo = _
  private var last: File = _
  var sizes: Map[String, Double] = Map.empty
  private val keys = Seq("symbol")

  def generate(dir: File, seed: Long, tiny: Boolean, seconds: Int): Unit = {
    val n = if (tiny) 20000 else 300000
    val syms = if (tiny) 20 else 300
    Workload.write(new File(dir, "trades.csv")) { o =>
      info = Gen.symbolsCsv(seed, n, syms, 0.3, (if (tiny) 10L else 60L) * 86400000L, o)
    }
    sizes = Map("rows" -> info.rows.toDouble, "symbols" -> syms.toDouble,
      "heavy_share" -> 0.3, "bytes" -> info.bytes.toDouble)
  }

  def measure(spark: SparkSession, tr: Tracer, dir: File, work: File,
              seconds: Double, minUnits: Int): Measured = {
    val csv = new File(dir, "trades.csv").getAbsolutePath
    val ret = Dsl.col("close").logRet(1)
    val feats = Seq(ret, ret.rollStd(20), Dsl.col("close").sma(20))
    val sigmaName = feats(1).name
    val mwork = new File(work, s"m${now()}")
    val (runs, w0, w1) = repeat(seconds, minUnits) { rep =>
      Workload.unpersistAll(spark)
      if (rep > 0) Main.deleteTree(new File(mwork, s"rep${rep - 1}"))
      val base = new File(mwork, s"rep$rep").getAbsolutePath
      val t0 = now()
      val raw = spark.read.schema("symbol long, id long, ts long, price double, qty double")
        .option("header", "true").csv(csv)
      val trades = tr.frame("trades")(
        Trades.withTickRuleSide(raw, keys).persist(Conf.storageLevel))
      tr.span("bars")(TimeBars.ohlcv(trades, TradeLineage.barSec, fillEmpty = false, keys)
        .write.parquet(s"$base/time_bars"))
      tr.span("bars")(EventBars.completeBars(
          EventBars.dollarBarIds(trades, 20000.0, keys), keys)
        .write.parquet(s"$base/dollar_bars"))
      val barsAt = now()
      val tb = spark.read.parquet(s"$base/time_bars")
      val fm = tr.frame("features")(
        Dsl.build(tb, feats, Seq("symbol", "bar_ts", "close", "volume"), keys))
      val btr = fm.select(col("symbol"), col("bar_ts").as("ts"), col("bar_ts").as("id"),
        col("close").as("price"), col("volume").as("qty"), col(sigmaName).as("sigma"))
      val fired = tr.frame("bars")(EventBars.cusumEventIds(btr, "sigma", 2.0, 1e-3, keys)
        .persist(Conf.storageLevel))
      val ev = fired.where(col("is_event") && col("sigma").isNotNull).select(
          col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
          col("price").as("p0"), col("sigma").as("tgt"))
        .persist(Conf.storageLevel)
      val lab = tr.frame("labels")(TripleBarrier.label(trades, ev, 2.0, 1.5,
          vertBarrierSec = TradeLineage.vertSec, minRet = 0.002, partCols = keys)
        .persist(Conf.storageLevel))
      val out = TradeLineage.weighted(tr, trades, lab, keys)
      tr.span("labels")(out.write.parquet(s"$base/training"))
      val t1 = now()
      last = new File(base)
      val nBars = spark.read.parquet(s"$base/time_bars").count() +
        spark.read.parquet(s"$base/dollar_bars").count()
      (t0, barsAt, t1, nBars, Workload.digest(spark.read.parquet(s"$base/training")))
    }
    val extras =
      if (tr.enabled) Map("labels.path_rows_per_event" -> TradeLineage.pathRowsPerEvent(
        spark.read.parquet(s"${last.getPath}/training"), info, keyed = true))
      else Map.empty[String, Double]
    Measured(
      lineage = runs.map { case (t0, _, t1, _, _) => (t1 - t0) / 1000.0 },
      latencies = runs.flatMap { case (t0, b, _, n, _) => Seq.fill(n.toInt)((b - t0) / 1000.0) },
      commits = runs.map { case (t0, _, t1, _, _) => (t1, t0) },
      windowStart = w0, windowEnd = w1,
      digests = runs.map(_._5), extras = extras)
  }

  def checks(spark: SparkSession, digests: Seq[String]): Seq[Check] = {
    val tb = spark.read.parquet(s"${last.getPath}/time_bars")
    Seq(TradeLineage.volumeCheck(tb, info, keyed = true),
      TradeLineage.barChecks(tb, "keyed 5m bars"),
      TradeLineage.barChecks(spark.read.parquet(s"${last.getPath}/dollar_bars"), "keyed dollar bars")) ++
      TradeLineage.labelChecks(spark.read.parquet(s"${last.getPath}/training")) :+
      Workload.sameDigests(digests)
  }

  /** No layer-share claim: the keyed lineage spreads its work over bars,
    * features and labels by design.
    */
  val dominantLayers: Seq[String] = Nil
}
