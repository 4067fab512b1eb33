package graft

import graft.trades.Trades
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the trades-preprocessing plumbing that the driver gate
  * exercises only implicitly (clean synthetic ids/timestamps never trigger
  * these paths).
  */
class TradesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  test("toNanos infers unit from magnitude (s / ms / us / ns)") {
    val rows = Seq(
      1L -> 1700000000L,          // seconds
      2L -> 1700000000000L,       // millis
      3L -> 1700000000000000L,    // micros
      4L -> 1700000000000000000L) // nanos
    val got = Trades.toNanos(rows.toDF("id", "ts"))
      .orderBy("id").select("ts").as[Long].collect().toSeq
    assert(got == Seq.fill(4)(1700000000000000000L))
  }

  test("applyResolution truncates to the requested grid") {
    val df = Seq((1L, 1700000001234567891L)).toDF("id", "ts")
    val ms = Trades.applyResolution(df, 1000000L).select("ts").as[Long].head()
    assert(ms == 1700000001234000000L)
  }

  test("dedupIds keeps the first (ts, price) occurrence per id") {
    val df = Seq(
      (10L, 5L, 100.0, 1.0, 0L),
      (11L, 5L, 101.0, 2.0, 0L), // same id, later ts -> dropped
      (12L, 6L, 102.0, 3.0, 0L))
      .toDF("ts", "id", "price", "qty", "symbol")
    val got = Trades.dedupIds(df).orderBy("id")
      .select("id", "ts", "price").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((5L, 10L, 100.0), (6L, 12L, 102.0)))
  }

  test("resample weighted median = cum-weight cutoff of per-bar medians (io.py:931-944)") {
    import org.apache.spark.sql.functions.col
    // one 1h target bucket; per-bar medians 1.0(w3), 2.0(w1), 5.0(w2):
    // sorted cum weights 3,4,6; cutoff 3 -> first cum>=3 is size 1.0
    val bars = Seq(
      (600000000000L, 10.0, 11.0, 9.0, 10.5, 3.0, 3L, 1.0, 10.2),
      (1200000000000L, 10.5, 12.0, 10.0, 11.0, 1.0, 1L, 2.0, 11.1),
      (1800000000000L, 11.0, 11.5, 10.5, 11.2, 2.0, 2L, 5.0, 11.0))
      .toDF("bar_ts", "open", "high", "low", "close", "volume", "trades",
        "median_trade_size", "vwap")
    val out = graft.bars.TimeBars.resample(bars, 600, 3600)
      .select("rs_ts", "median_trade_size", "trades").head()
    assert(out.getLong(0) == 3600000000000L)
    assert(out.getDouble(1) == 1.0)
    assert(out.getLong(2) == 6L)
    // cutoff exactly on a boundary: weights 1,1 -> cutoff 1 -> lower size
    val b2 = Seq(
      (600000000000L, 1.0, 1.0, 1.0, 1.0, 1.0, 1L, 3.0, 1.0),
      (1200000000000L, 1.0, 1.0, 1.0, 1.0, 1.0, 1L, 7.0, 1.0))
      .toDF("bar_ts", "open", "high", "low", "close", "volume", "trades",
        "median_trade_size", "vwap")
    assert(graft.bars.TimeBars.resample(b2, 600, 3600)
      .select("median_trade_size").head().getDouble(0) == 3.0)
  }

  test("idGaps/timeGaps with partCols equal per-symbol solo runs") {
    def df(sym: Long, ids: Seq[Long]) = ids.zipWithIndex.map { case (id, i) =>
      (1000000000L * (i + 1) * (sym + 1), id, 100.0, 1.0, sym)
    }.toDF("ts", "id", "price", "qty", "symbol")
    val a = df(0L, Seq(1L, 2L, 5L, 6L))   // gap 3-4
    val b = df(1L, Seq(10L, 14L, 15L))    // gap 11-13
    def gaps(d: org.apache.spark.sql.DataFrame, pc: Seq[String]) =
      Trades.idGaps(d, pc).select("prev_id", "id", "missing").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gaps(a.union(b), Seq("symbol")) == (gaps(a, Nil) ++ gaps(b, Nil)))
    assert(gaps(a.union(b), Seq("symbol")) == Set((2L, 5L, 2L), (10L, 14L, 3L)))
    def tgaps(d: org.apache.spark.sql.DataFrame, pc: Seq[String]) =
      Trades.timeGaps(d, 1500000000L, pc).select("gap_start", "gap_end").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tgaps(a.union(b), Seq("symbol")) == (tgaps(a, Nil) ++ tgaps(b, Nil)))
  }

  test("integrity scans REPORT duplicate ids instead of crashing") {
    // duplicate ids are the corruption an integrity scan exists to find —
    // the scan's uniqueness assertion must not fire on them
    val d = Seq(
      (1000000000L, 1L, 100.0, 1.0),
      (2000000000L, 2L, 100.0, 1.0),
      (2500000000L, 2L, 100.0, 1.0), // duplicate id, later ts
      (3000000000L, 5L, 100.0, 1.0)  // gap 3-4
    ).toDF("ts", "id", "price", "qty")
    val gaps = Trades.idGaps(d).select("prev_id", "id", "missing").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gaps == Set((2L, 5L, 2L)))
    val summ = graft.sources.Store.integritySummary(d, 10000000000L)
      .select("rows", "missing_ids", "discontinuities").head()
    assert((summ.getLong(0), summ.getLong(1), summ.getLong(2)) == (4L, 2L, 1L))
  }

  test("fill grid on-grid first trade: leading open dropped, no crash") {
    // first trade EXACTLY on the bar grid is the reference's leading open
    // (base.py:101-129) — it belongs to no emitted bar; the fill grid must
    // start one interval later and the agg's bar for it must be discarded
    val d = Seq(
      (60000000000L, 1L, 100.0, 1.0),  // exactly on the 60 s grid
      (70000000000L, 2L, 101.0, 2.0),
      (250000000000L, 3L, 102.0, 1.0)
    ).toDF("ts", "id", "price", "qty")
    val bars = graft.bars.TimeBars.ohlcv(d, 60).select("bar_ts", "close", "trades")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(bars.map(_._1).toSeq ==
      Seq(120000000000L, 180000000000L, 240000000000L, 300000000000L))
    assert(bars.head == ((120000000000L, 101.0, 1L))) // only the 70 s trade
    assert(bars(1) == ((180000000000L, 101.0, 0L)))   // empty, carries close
    // degenerate: ALL trades at one on-grid ts -> zero bars, not a
    // sequence(lo > hi) crash
    val one = Seq((60000000000L, 1L, 100.0, 1.0)).toDF("ts", "id", "price", "qty")
    assert(graft.bars.TimeBars.ohlcv(one, 60).count() == 0L)
  }

  test("TBM min-close: an all-ineligible path emits ret 0 / label 1 / weight 0") {
    // reference tbm.py:111-113 `continue`s min-close rows without updating
    // ret — an event whose every in-window trade sits inside min_close_time
    // is EMITTED at the last in-window print, not dropped
    val t = Seq(
      (0L, 0L, 100.0, 1.0),             // event trade
      (5000000000L, 1L, 150.0, 1.0),    // inside min-close (10 s)
      (8000000000L, 2L, 50.0, 1.0),     // inside min-close
      (200000000000L, 3L, 100.0, 1.0)   // beyond the 60 s vertical barrier
    ).toDF("ts", "id", "price", "qty")
    val ev = Seq((0L, 0L, 100.0, 0.05, 1)).toDF(
      "event_ts", "event_id", "p0", "tgt", "eside")
    val out = graft.labels.TripleBarrier.label(t, ev, 2.0, 1.5,
        vertBarrierSec = 60.0, minCloseSec = 10.0)
      .select("event_id", "label", "touch_ts", "ret", "vertical_touch_weight")
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 0L && r.getInt(1) == 1)
    assert(r.getLong(2) == 8000000000L) // last in-window print
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0)
    // sanity: with minClose = 0 the same event breaches at the 150 print
    val out0 = graft.labels.TripleBarrier.label(t, ev, 2.0, 1.5,
        vertBarrierSec = 60.0)
      .select("label", "touch_ts").head()
    assert(out0.getInt(0) == 1 && out0.getLong(1) == 5000000000L)
  }

  test("keyed tick bars compose: per-symbol OHLCV equals solo runs") {
    def df(sym: Long) = (0 until 9).map { i =>
      (1000000000L * (i + 1), sym * 100 + i, 100.0 + sym * 10 + i * 0.5, 1.0, sym)
    }.toDF("ts", "id", "price", "qty", "symbol")
    val merged = graft.bars.EventBars.tickBarsOhlcv(
        df(0L).union(df(1L)), 4, keyCols = Seq("symbol"))
      .select("symbol", "bar_id", "open", "close", "trades").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toSet
    val solo = Seq(0L, 1L).flatMap { s =>
      graft.bars.EventBars.tickBarsOhlcv(df(s), 4)
        .select("bar_id", "open", "close", "trades").collect()
        .map(r => (s, r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    }.toSet
    assert(merged == solo && merged.nonEmpty)
  }

  test("checkTimestampsOrder detects an out-of-order id sequence") {
    def df(tss: Seq[Long]) = tss.zipWithIndex
      .map { case (ts, i) => (ts, i.toLong) }.toDF("ts", "id")
    assert(Trades.checkTimestampsOrder(df(Seq(1L, 2L, 3L)))
      .head().getBoolean(0))
    assert(!Trades.checkTimestampsOrder(df(Seq(1L, 3L, 2L)))
      .head().getBoolean(0))
    assert(Trades.checkTimestampsOrder(df(Seq(7L))).head().getBoolean(0))
    // larger-than-partition-count inputs: a single mid-stream swap must be
    // caught INSIDE one range partition, not just at boundaries
    val ordered = (0L until 200L).map(i => i * 10L)
    assert(Trades.checkTimestampsOrder(df(ordered)).head().getBoolean(0))
    val swapped = ordered.updated(101, ordered(102)).updated(102, ordered(101))
    assert(!Trades.checkTimestampsOrder(df(swapped)).head().getBoolean(0))
  }

  test("requireBelowHeartbeat: a year-2100 row fails loudly, clean rows pass") {
    val hb = graft.streaming.StreamingBars.heartbeatNs
    val bad = Seq((hb, 1L, 10.0, 1.0, 0L), (hb - 1L, 2L, 11.0, 1.0, 0L))
      .toDF("ts", "id", "price", "qty", "symbol")
    val ex = intercept[Exception] {
      Trades.requireBelowHeartbeat(bad).collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(ex).contains("heartbeat floor"),
      s"expected the heartbeat-floor raise_error, got: ${rootMsg(ex)}")
    // the flag-enabled Ingest path and the all-clean fast path
    val ok = Trades.requireBelowHeartbeat(
      Seq((hb - 1L, 1L, 10.0, 1.0, 0L)).toDF("ts", "id", "price", "qty", "symbol"))
    assert(ok.collect().map(_.getLong(0)).toSeq == Seq(hb - 1L))
    val csvish = Seq((1700000000000L, 1L, 10.0, 1.0, false),
        (hb, 2L, 11.0, 1.0, false))
      .toDF("ts", "id", "price", "qty", "is_buyer_maker")
    val ex2 = intercept[Exception] {
      graft.sources.Ingest.canonicalize(csvish, checkHeartbeatBound = true)
        .collect()
    }
    assert(rootMsg(ex2).contains("heartbeat floor"))
    // flag off: the same rows pass through (the documented default)
    assert(graft.sources.Ingest.canonicalize(csvish).count() == 2L)
  }
}
