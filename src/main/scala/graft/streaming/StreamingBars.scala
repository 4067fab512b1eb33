package graft.streaming

import graft.bars.TimeBars
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming executors (SURVEY.md §7.0 design stance): the same
  * bar/feature semantics as the batch operators, expressed over an unbounded
  * trades stream.
  *
  *  - Windowed aggregations (time bars) are plain event-time groupBy aggs —
  *    the continuous equivalent of the reference's `AddTimeBarH5`
  *    materialized-view maintenance (bar/io.py:441-565); a watermark bounds
  *    state and finalizes bars in append mode.
  *  - Recursive/reset-state operators (EW family, CUSUM) run as
  *    `flatMapGroupsWithState` per symbol: the reference's sequential kernels
  *    become explicit state machines whose state survives across
  *    micro-batches. Rows are sorted by (ts, id) WITHIN each batch; exactness
  *    across batches assumes batch boundaries respect event order per key
  *    (i.e. no straggler older than anything already processed — enforce
  *    upstream with a watermark-delayed sorted buffer if the source can
  *    reorder).
  */
object StreamingBars {

  /** Shared stateful-stream preamble: assign the bar close and its µs
    * event-time, optionally watermarked. The `/ 1000L` double division is
    * EXACT here because bar_ts is second-aligned — k·10⁹ ns is divisible
    * by 2⁹, so the long is exactly representable as a double and the µs
    * quotient fits 2⁵³ (the general ns→µs case would need integer div,
    * see Store.monthCol).
    */
  private def withBarEventTime(df: DataFrame, intervalNs: Long,
                               watermarkDelay: Option[String]): DataFrame = {
    val based = df
      .withColumn("bar_ts", TimeBars.barTs(intervalNs))
      .withColumn("event_time",
        timestamp_micros((col("bar_ts") / 1000L).cast("long")))
    watermarkDelay.fold(based)(d => based.withWatermark("event_time", d))
  }

  /** Streaming OHLCV time bars as a declarative windowed aggregation.
    * `event_time` (µs timestamp of the bar close) carries the watermark;
    * bars finalize `watermarkDelay` after their close in append mode, or
    * stream continuously in update/complete mode when `watermarkDelay` is
    * None. The struct-keyed open/close tie-break sorts each micro-batch —
    * bounded by batch size, fine for update/complete dashboards; the
    * append-mode scale path is [[ohlcvStateStream]] (fixed-width state
    * machine, no sort).
    */
  def ohlcvStream(trades: DataFrame, intervalSec: Long,
                  watermarkDelay: Option[String] = Some("1 minute")): DataFrame = {
    val iv = intervalSec * 1000000000L
    val marked = withBarEventTime(trades, iv, watermarkDelay)
    marked
      .groupBy(col("event_time"), col("bar_ts"))
      .agg(
        min_by(col("price"), struct(col("ts"), col("id"))).as("open"),
        max("price").as("high"),
        min("price").as("low"),
        max_by(col("price"), struct(col("ts"), col("id"))).as("close"),
        sum("qty").as("volume"),
        count(lit(1)).as("trades"),
        // exact integer micro-unit vwap — the batch ohlcvAgg op tree
        // verbatim, so batch/stream parity is bit-exact and order-free
        (sum(floor(col("price") * col("qty") * lit(1e6) + lit(0.5))).cast("double") /
          sum(floor(col("qty") * lit(1e6) + lit(0.5))).cast("double")).as("vwap"))
      .drop("event_time")
  }

  /** Streaming directional (order-flow) bars — the conditional-sum subset
    * of TimeBars.directional that is declaratively streamable (all
    * fixed-width buffers): per-bar buy/sell tick counts, volumes and
    * dollars. The spread stats and intra-bar cumulative extrema need the
    * cross-boundary lag / ordered path walk — state-machine territory, not
    * a windowed aggregation — and are deliberately absent here. `side` must
    * arrive on the input (exchange feeds carry it; the batch tick rule is a
    * window function, which streams don't support).
    */
  def directionalStream(tradesWithSide: DataFrame, intervalSec: Long,
                        watermarkDelay: Option[String] = Some("1 minute")): DataFrame = {
    val iv = intervalSec * 1000000000L
    val marked = withBarEventTime(tradesWithSide, iv, watermarkDelay)
    val isBuy = col("side") === 1
    val isSell = col("side") === -1
    marked
      .groupBy(col("event_time"), col("bar_ts"))
      .agg(
        sum(when(isBuy, 1L).otherwise(0L)).as("ticks_buy"),
        sum(when(isSell, 1L).otherwise(0L)).as("ticks_sell"),
        sum(when(isBuy, col("qty")).otherwise(0.0)).as("volume_buy"),
        sum(when(isSell, col("qty")).otherwise(0.0)).as("volume_sell"),
        sum(when(isBuy, col("price") * col("qty")).otherwise(0.0)).as("dollars_buy"),
        sum(when(isSell, col("price") * col("qty")).otherwise(0.0)).as("dollars_sell"))
      .drop("event_time")
  }

  /** Streaming footprint aggregation — the windowed-agg core of
    * Footprints.build: per (bar, price level) buy/sell volumes and tick
    * counts, finalized by the watermark in append mode. The diagonal
    * imbalance flags need lead/lag over the FINISHED level grid (a per-bar
    * window), so they belong to a post-finalize batch step — the same
    * declarative/stateful split as directionalStream vs the path stats.
    */
  def footprintStream(tradesWithSide: DataFrame, intervalSec: Long,
                      tickSize: Double,
                      watermarkDelay: Option[String] = Some("1 minute")): DataFrame = {
    val iv = intervalSec * 1000000000L
    val marked = withBarEventTime(
      tradesWithSide.withColumn("level", round(col("price") / tickSize).cast("int")),
      iv, watermarkDelay)
    marked
      // symbol in the grouping: keyed gates run real symbols, unkeyed
      // fixtures pin symbol = 0 (the column collapses to one value)
      .groupBy(col("event_time"), col("symbol"), col("bar_ts"), col("level"))
      .agg(
        // decimal-exact volume sums, mirroring Footprints.build: these
        // volumes feed the imbalance comparisons and r6 normalization —
        // addition-order ulp noise in a double sum could fork the flags
        // between the stream and the batch oracle at scale
        graft.queries.Q.dsum(when(col("side") === 1, col("qty")).otherwise(0.0))
          .as("buy_volume"),
        graft.queries.Q.dsum(when(col("side") === -1, col("qty")).otherwise(0.0))
          .as("sell_volume"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("buy_ticks"),
        sum(when(col("side") === -1, 1L).otherwise(0L)).as("sell_ticks"))
      .drop("event_time")
  }

  case class TradeIn(ts: Long, id: Long, price: Double, qty: Double, symbol: Long)
  case class SidedIn(ts: Long, id: Long, price: Double, qty: Double, side: Int)
  case class TradeBar(ts: Long, id: Long, price: Double, qty: Double, bar_ts: Long)
  case class BarState(openTs: Long, openId: Long, openPx: Double,
                      closeTs: Long, closeId: Long, closePx: Double,
                      high: Double, low: Double, vol: Double, n: Long,
                      // exact micro-unit accumulators (floor(x·1e6 + 0.5))
                      // for the vwap ratio — the batch op tree's integers
                      pqU: Long, volU: Long)
  case class BarOut(bar_ts: Long, open: Double, high: Double, low: Double,
                    close: Double, volume: Double, trades: Long, vwap: Double)

  /** Streaming OHLCV as an explicit per-bar state machine — the scale path.
    *
    * [[ohlcvStream]]'s declarative agg needs a struct-keyed min_by/max_by
    * for the (ts, id) open/close tie-break, which demotes each micro-batch
    * to a SortAggregate. Here the bar state is a fixed-width record updated
    * in one pass per batch (`flatMapGroupsWithState`), and bars emit exactly
    * once in APPEND mode when the event-time watermark passes the bar close
    * + delay — bounded state, no sort, late trades folded in until the
    * timeout fires.
    */
  def ohlcvStateStream(trades: Dataset[TradeIn], intervalSec: Long,
                       watermarkDelay: String = "1 minute"): Dataset[BarOut] = {
    import trades.sparkSession.implicits._
    val iv = intervalSec * 1000000000L
    val based = withBarEventTime(trades.toDF(), iv, Some(watermarkDelay))
      .as[TradeBar]
    based
      .groupByKey(_.bar_ts)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (barTs: Long, rows: Iterator[TradeBar], state: GroupState[BarState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(BarOut(barTs, s.openPx, s.high, s.low, s.closePx,
              s.vol, s.n, s.pqU.toDouble / s.volU.toDouble))
          } else {
            var s = state.getOption.orNull
            def pqU(r: TradeBar) = math.floor(r.price * r.qty * 1e6 + 0.5).toLong
            def qU(r: TradeBar) = math.floor(r.qty * 1e6 + 0.5).toLong
            rows.foreach { r =>
              s =
                if (s == null)
                  BarState(r.ts, r.id, r.price, r.ts, r.id, r.price,
                    r.price, r.price, r.qty, 1L, pqU(r), qU(r))
                else {
                  // (ts, id) tie-break, exactly the batch ohlcvAgg semantics
                  val isOpen = r.ts < s.openTs || (r.ts == s.openTs && r.id < s.openId)
                  val isClose = r.ts > s.closeTs || (r.ts == s.closeTs && r.id > s.closeId)
                  BarState(
                    if (isOpen) r.ts else s.openTs,
                    if (isOpen) r.id else s.openId,
                    if (isOpen) r.price else s.openPx,
                    if (isClose) r.ts else s.closeTs,
                    if (isClose) r.id else s.closeId,
                    if (isClose) r.price else s.closePx,
                    math.max(s.high, r.price), math.min(s.low, r.price),
                    s.vol + r.qty, s.n + 1L, s.pqU + pqU(r), s.volU + qU(r))
                }
            }
            if (s != null) {
              state.update(s)
              // finalize when the watermark (already delayed) passes the bar
              // close; clamp above the current watermark so the timeout is valid
              val closeMs = barTs / 1000000L
              state.setTimeoutTimestamp(math.max(closeMs, state.getCurrentWatermarkMs() + 1))
            }
            Iterator.empty
          }
      }
  }
  case class EwmaOut(symbol: Long, ts: Long, id: Long, ewma: Double)
  case class EwState(u: Double, v: Double)
  case class CusumOut(symbol: Long, ts: Long, id: Long, isEvent: Boolean)
  case class CusumState(sPos: Double, sNeg: Double, prevPrice: Double,
                        seen: Boolean, hasPend: Boolean = false,
                        pendTs: Long = 0L, pendId: Long = 0L,
                        pendPrice: Double = 0.0)

  /** Event-time floor for flush-heartbeat rows: 2100-01-01T00:00Z in ns.
    * Lookahead machines ([[cusumStream]]) treat any row with
    * `ts >= heartbeatNs` as a pure flush marker — it decides the pending
    * REAL row (no successor with an equal timestamp can follow a
    * far-future marker) but is itself neither emitted nor folded into
    * state, so real rows arriving after a flush continue the series
    * correctly instead of absorbing a spurious log-return against the
    * heartbeat's placeholder price. Real data must stay below this bound
    * — a documented, UNCHECKED in-band contract: the marker IS the
    * timestamp, so a violating real row is indistinguishable from a flush
    * marker by construction and is silently treated as one. Callers that
    * cannot guarantee the bound must range-check upstream at ingest —
    * [[graft.trades.Trades.requireBelowHeartbeat]] (also reachable via
    * `Ingest.canonicalize(checkHeartbeatBound = true)`) is the engine's
    * opt-in per-row check: one scan-stage comparison that turns a
    * violating row into a loud job failure.
    */
  val heartbeatNs = 4102444800000000000L

  case class ZPeakOut(symbol: Long, ts: Long, id: Long, isPeak: Boolean)
  /** Last n raw observations, oldest first (influence = 1 keeps the raw
    * series as the baseline — see Features.zScorePeaks).
    */
  case class ZPeakState(window: List[Double])

  /** pandas-ewm(span, adjust=True) recursion as a per-symbol streaming state
    * machine — u/v are the geometric numerator/denominator sums, exactly the
    * batch scan's state (Ewm.ewmaExact).
    */
  def ewmaStream(trades: Dataset[TradeIn], span: Int): Dataset[EwmaOut] = {
    import trades.sparkSession.implicits._
    val q = 1.0 - 2.0 / (span + 1.0)
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: Long, rows: Iterator[TradeIn], state: GroupState[EwState]) =>
          var s = state.getOption.getOrElse(EwState(0.0, 0.0))
          val out = rows.toArray.sortBy(r => (r.ts, r.id)).map { r =>
            s = EwState(q * s.u + r.price, q * s.v + 1.0)
            EwmaOut(symbol, r.ts, r.id, s.u / s.v)
          }
          state.update(s)
          out.iterator
      }
  }

  case class BarIdOut(symbol: Long, ts: Long, id: Long, bar_id: Long,
                      bar_closed: Boolean)
  case class CumState(cum: Double, bar: Long, seen: Boolean)

  /** Shared reset-on-trigger threshold-bar state machine: per-symbol running
    * `cum += measure(trade)`, close when cum >= threshold; `carry = false`
    * resets to 0 (volume bars, bar/logic.py:87-115), `carry = true` keeps
    * the remainder (dollar bars, logic.py:118-149). Row 0 seeds cum and is
    * unassigned (bar_id = -1), exactly the batch kernels' convention —
    * batch/stream parity is tested in StreamingSpec.
    */
  private def thresholdBarStream(trades: Dataset[TradeIn], threshold: Double,
                                 carry: Boolean, dollars: Boolean): Dataset[BarIdOut] = {
    import trades.sparkSession.implicits._
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: Long, rows: Iterator[TradeIn], state: GroupState[CumState]) =>
          var s = state.getOption.getOrElse(CumState(0.0, 0L, seen = false))
          val out = rows.toArray.sortBy(r => (r.ts, r.id)).map { r =>
            val m = if (dollars) r.price * r.qty else r.qty
            if (!s.seen) {
              s = CumState(m, 0L, seen = true)
              BarIdOut(symbol, r.ts, r.id, -1L, bar_closed = false)
            } else {
              val cum = s.cum + m
              val id = s.bar
              val closed = cum >= threshold
              s =
                if (closed)
                  CumState(if (carry) cum - threshold else 0.0, s.bar + 1, seen = true)
                else CumState(cum, s.bar, seen = true)
              BarIdOut(symbol, r.ts, r.id, id, closed)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming tick bars — twin of EventBars.tickBarIds' closed form: a
    * per-symbol trade counter; row 0 unassigned, bar_id = (count−1) div
    * threshold thereafter, closing on the last trade of each bar.
    */
  def tickBarStream(trades: Dataset[TradeIn], threshold: Int): Dataset[BarIdOut] = {
    import trades.sparkSession.implicits._
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: Long, rows: Iterator[TradeIn], state: GroupState[CumState]) =>
          var s = state.getOption.getOrElse(CumState(0.0, 0L, seen = false))
          // CumState.bar counts rows AFTER the first (the batch kernel's
          // rn0); cum is unused for tick bars
          val out = rows.toArray.sortBy(r => (r.ts, r.id)).map { r =>
            if (!s.seen) {
              s = CumState(0.0, 0L, seen = true)
              BarIdOut(symbol, r.ts, r.id, -1L, bar_closed = false)
            } else {
              val rn0 = s.bar + 1
              s = CumState(0.0, rn0, seen = true)
              // batch closed form: bar_id = rn0 div thr (bar 0 spans rn0
              // 1..thr-1 — row 0 is excluded — all later bars thr rows)
              BarIdOut(symbol, r.ts, r.id, rn0 / threshold,
                bar_closed = (rn0 + 1) % threshold == 0)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming volume bars (reset, no carry) — twin of EventBars.volumeBarIds. */
  def volumeBarStream(trades: Dataset[TradeIn], threshold: Double): Dataset[BarIdOut] =
    thresholdBarStream(trades, threshold, carry = false, dollars = false)

  case class ImbState(th: Long, n: Long, eT: Double, eB: Double, bar: Long,
                      seen: Boolean)
  case class RunState(nb: Long, ns: Long, n: Long, eT: Double, eP: Double,
                      bar: Long, seen: Boolean)

  /** Streaming tick-imbalance bars — twin of `EventBars.imbalanceBarIds`
    * (the reference's declared-but-unimplemented `_imbalance_bar_indexer`):
    * per-symbol signed imbalance θ and EWMA-updated expectations
    * (E_T, E_b) in fixed-width state; same IEEE op order as the batch
    * kernel, so id streams are row-identical (StreamingSpec parity). Same
    * in-order-across-batches precondition as the sibling threshold
    * machines.
    */
  def imbalanceBarStream(trades: Dataset[SidedSymIn], alphaT: Double,
                         alphaB: Double, initT: Double,
                         initB: Double): Dataset[BarIdOut] = {
    import trades.sparkSession.implicits._
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: Long, rows: Iterator[SidedSymIn], state: GroupState[ImbState]) =>
          var s = state.getOption.getOrElse(
            ImbState(0L, 0L, initT, initB, 0L, seen = false))
          val out = rows.toArray.sortBy(r => (r.ts, r.id)).map { r =>
            if (!s.seen) {
              s = s.copy(seen = true)
              BarIdOut(symbol, r.ts, r.id, -1L, bar_closed = false)
            } else {
              val th = s.th + r.side
              val n = s.n + 1
              val id = s.bar
              val closed = math.abs(th).toDouble >= s.eT * s.eB
              s =
                if (closed)
                  ImbState(0L, 0L,
                    (1.0 - alphaT) * s.eT + alphaT * n.toDouble,
                    (1.0 - alphaB) * s.eB + alphaB * (math.abs(th).toDouble / n.toDouble),
                    s.bar + 1, seen = true)
                else s.copy(th = th, n = n)
              BarIdOut(symbol, r.ts, r.id, id, closed)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming tick-run bars — twin of `EventBars.runBarIds`
    * (`_run_bar_indexer`): θ = max(buy count, sell count) vs
    * E_T·max(P, 1−P), expectations EWMA-updated per closed bar.
    */
  def runBarStream(trades: Dataset[SidedSymIn], alphaT: Double,
                   alphaP: Double, initT: Double,
                   initP: Double): Dataset[BarIdOut] = {
    import trades.sparkSession.implicits._
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: Long, rows: Iterator[SidedSymIn], state: GroupState[RunState]) =>
          var s = state.getOption.getOrElse(
            RunState(0L, 0L, 0L, initT, initP, 0L, seen = false))
          val out = rows.toArray.sortBy(r => (r.ts, r.id)).map { r =>
            if (!s.seen) {
              s = s.copy(seen = true)
              BarIdOut(symbol, r.ts, r.id, -1L, bar_closed = false)
            } else {
              val nb = if (r.side > 0) s.nb + 1 else s.nb
              val ns = if (r.side < 0) s.ns + 1 else s.ns
              val n = s.n + 1
              val id = s.bar
              val closed = math.max(nb, ns).toDouble >= s.eT * math.max(s.eP, 1.0 - s.eP)
              s =
                if (closed)
                  RunState(0L, 0L, 0L,
                    (1.0 - alphaT) * s.eT + alphaT * n.toDouble,
                    (1.0 - alphaP) * s.eP + alphaP * (nb.toDouble / n.toDouble),
                    s.bar + 1, seen = true)
                else s.copy(nb = nb, ns = ns, n = n)
              BarIdOut(symbol, r.ts, r.id, id, closed)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  case class ValueImbState(th: Double, n: Long, eT: Double, eB: Double,
                           bar: Long, seen: Boolean)
  case class ValueRunState(bs: Double, ss: Double, nb: Long, ns: Long, n: Long,
                           eT: Double, eP: Double, evB: Double, evS: Double,
                           bar: Long, seen: Boolean)

  /** Streaming volume/dollar imbalance bars — twin of
    * `EventBars.valueImbalanceBarIds`: θ accumulates side·qty (volume) or
    * side·price·qty (dollar); same IEEE op order as the batch kernel, so id
    * streams are row-identical (StreamingSpec parity).
    */
  def valueImbalanceBarStream(trades: Dataset[SidedSymIn], dollar: Boolean,
                              alphaT: Double, alphaB: Double, initT: Double,
                              initB: Double): Dataset[BarIdOut] = {
    import trades.sparkSession.implicits._
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: Long, rows: Iterator[SidedSymIn], state: GroupState[ValueImbState]) =>
          var s = state.getOption.getOrElse(
            ValueImbState(0.0, 0L, initT, initB, 0L, seen = false))
          val out = rows.toArray.sortBy(r => (r.ts, r.id)).map { r =>
            if (!s.seen) {
              s = s.copy(seen = true)
              BarIdOut(symbol, r.ts, r.id, -1L, bar_closed = false)
            } else {
              val v = if (dollar) r.price * r.qty else r.qty
              val th = s.th + r.side.toDouble * v
              val n = s.n + 1
              val id = s.bar
              val closed = math.abs(th) >= s.eT * s.eB
              s =
                if (closed)
                  ValueImbState(0.0, 0L,
                    (1.0 - alphaT) * s.eT + alphaT * n.toDouble,
                    (1.0 - alphaB) * s.eB + alphaB * (math.abs(th) / n.toDouble),
                    s.bar + 1, seen = true)
                else s.copy(th = th, n = n)
              BarIdOut(symbol, r.ts, r.id, id, closed)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming volume/dollar run bars — twin of `EventBars.valueRunBarIds`:
    * θ = max(buy value sum, sell value sum) vs
    * E_T·max(P·E[v|buy], (1−P)·E[v|sell]), the four expectations
    * EWMA-updated per closed bar (per-side means kept when a side is empty).
    */
  def valueRunBarStream(trades: Dataset[SidedSymIn], dollar: Boolean,
                        alphaT: Double, alphaP: Double, alphaV: Double,
                        initT: Double, initP: Double,
                        initV: Double): Dataset[BarIdOut] = {
    import trades.sparkSession.implicits._
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: Long, rows: Iterator[SidedSymIn], state: GroupState[ValueRunState]) =>
          var s = state.getOption.getOrElse(
            ValueRunState(0.0, 0.0, 0L, 0L, 0L, initT, initP, initV, initV,
              0L, seen = false))
          val out = rows.toArray.sortBy(r => (r.ts, r.id)).map { r =>
            if (!s.seen) {
              s = s.copy(seen = true)
              BarIdOut(symbol, r.ts, r.id, -1L, bar_closed = false)
            } else {
              val v = if (dollar) r.price * r.qty else r.qty
              val bs = if (r.side > 0) s.bs + v else s.bs
              val ss = if (r.side < 0) s.ss + v else s.ss
              val nb = if (r.side > 0) s.nb + 1 else s.nb
              val ns = if (r.side < 0) s.ns + 1 else s.ns
              val n = s.n + 1
              val id = s.bar
              val closed = math.max(bs, ss) >=
                s.eT * math.max(s.eP * s.evB, (1.0 - s.eP) * s.evS)
              s =
                if (closed)
                  ValueRunState(0.0, 0.0, 0L, 0L, 0L,
                    (1.0 - alphaT) * s.eT + alphaT * n.toDouble,
                    (1.0 - alphaP) * s.eP + alphaP * (nb.toDouble / n.toDouble),
                    if (nb > 0) (1.0 - alphaV) * s.evB + alphaV * (bs / nb.toDouble) else s.evB,
                    if (ns > 0) (1.0 - alphaV) * s.evS + alphaV * (ss / ns.toDouble) else s.evS,
                    s.bar + 1, seen = true)
                else s.copy(bs = bs, ss = ss, nb = nb, ns = ns, n = n)
              BarIdOut(symbol, r.ts, r.id, id, closed)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming dollar bars (carry remainder) — twin of EventBars.dollarBarIds. */
  def dollarBarStream(trades: Dataset[TradeIn], threshold: Double): Dataset[BarIdOut] =
    thresholdBarStream(trades, threshold, carry = true, dollars = true)

  // -----------------------------------------------------------------------
  // Directional path features — full TimeBars.directional parity
  // -----------------------------------------------------------------------

  case class SidedSymIn(ts: Long, id: Long, price: Double, qty: Double,
                        side: Int, symbol: Long)
  /** [[SidedSymIn]] with its assigned bar — public: the encoder's generated
    * projections need constructor access.
    */
  case class SidedSymBar(ts: Long, id: Long, price: Double, qty: Double,
                         side: Int, symbol: Long, bar_ts: Long)

  /** decimal(18,6) micro-units of a double — bit-equal to Spark's
    * `Cast(double → decimal(18,6))` (BigDecimal.valueOf's shortest decimal
    * form, HALF_UP at 6 dp). The batch twins accumulate the spread / the
    * footprint volumes in exact decimal ([[graft.queries.Q.dsum]]); the
    * stream reproduces the identical arithmetic with a Long micro-unit
    * sum, so full batch/stream parity stays EXACT, not approximate.
    */
  private def micros6(x: Double): Long =
    // non-finite or beyond decimal(18,6) capacity: the batch twin's
    // Cast(double → decimal(18,6)) yields NULL under non-ANSI and the sum
    // SKIPS the row — mirror that as a zero contribution instead of
    // throwing (BigDecimal.valueOf rejects NaN/∞; longValueExact overflows
    // past ~9.2e12). One pathological print must degrade the same way in
    // both engines, not kill the streaming query (round-7 advice).
    if (java.lang.Double.isNaN(x) || x.isInfinite) 0L
    else {
      // guard the ROUNDED value, not the input: x ∈ [1e12 − 5e-7, 1e12)
      // rounds UP to 1e12.000000, which overflows decimal(18,6)'s 12
      // integer digits — the batch cast NULLs it, so the clamp boundary
      // must be the post-setScale magnitude to match exactly
      val r = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP)
      if (r.abs.compareTo(java.math.BigDecimal.valueOf(1e12)) >= 0) 0L
      else r.movePointRight(6).longValueExact()
    }

  /** micro-units back to double — the same nearest-double the decimal's
    * `toDouble` yields (long→double is exact below 2^53; one correctly
    * rounded division).
    */
  private def md(m: Long): Double = m.toDouble / 1e6

  /** One open bar's directional accumulators: conditional sums, spread
    * stats, and the intra-bar signed cumulative paths with their extrema
    * over directed rows (sentinels: MaxValue/∞ until the first directed
    * row — nDirected gates the output).
    */
  case class DirAccum(ticksBuy: Long, ticksSell: Long,
                      volBuy: Double, volSell: Double,
                      dolBuy: Double, dolSell: Double,
                      spreadSumMicros: Long, spreadMax: Double, nDirected: Long,
                      cumTicks: Long, cumVol: Double, cumDol: Double,
                      ctMin: Long, ctMax: Long,
                      cvMin: Double, cvMax: Double,
                      cdMin: Double, cdMax: Double)

  /** Per-symbol directional state: the globally-previous trade (spreads
    * read price/side across bar boundaries, exactly the batch lag) plus
    * every still-open bar's accumulator.
    */
  case class DirState(prevPrice: Double, prevSide: Int, hasPrev: Boolean,
                      bars: Map[Long, DirAccum])

  case class DirBarOut(symbol: Long, bar_ts: Long,
                       ticks_buy: Long, ticks_sell: Long,
                       volume_buy: Double, volume_sell: Double,
                       dollars_buy: Double, dollars_sell: Double,
                       mean_spread: Option[Double], max_spread: Double,
                       cum_ticks_min: Option[Long], cum_ticks_max: Option[Long],
                       cum_volume_min: Option[Double], cum_volume_max: Option[Double],
                       cum_dollars_min: Option[Double], cum_dollars_max: Option[Double])

  private val emptyDirAccum = DirAccum(0L, 0L, 0.0, 0.0, 0.0, 0.0,
    0L, 0.0, 0L, 0L, 0.0, 0.0,
    Long.MaxValue, Long.MinValue,
    Double.PositiveInfinity, Double.NegativeInfinity,
    Double.PositiveInfinity, Double.NegativeInfinity)

  private def dirFold(s: DirState, r: SidedSymBar): DirState = {
    val acc = s.bars.getOrElse(r.bar_ts, emptyDirAccum)
    val signed = if (r.side == 1) 1L else if (r.side == -1) -1L else 0L
    val directed = r.side != 0
    // flip/spread vs the GLOBAL previous trade of this symbol (the batch
    // reads prices[j-1] across the bar boundary; first row has no lag)
    val flip = s.hasPrev && r.side != s.prevSide
    val spread = if (flip) math.abs(r.price - s.prevPrice) else 0.0
    val ct = acc.cumTicks + signed
    val cv = acc.cumVol + signed * r.qty
    val cd = acc.cumDol + signed * r.price * r.qty
    val next = DirAccum(
      acc.ticksBuy + (if (r.side == 1) 1L else 0L),
      acc.ticksSell + (if (r.side == -1) 1L else 0L),
      acc.volBuy + (if (r.side == 1) r.qty else 0.0),
      acc.volSell + (if (r.side == -1) r.qty else 0.0),
      acc.dolBuy + (if (r.side == 1) r.price * r.qty else 0.0),
      acc.dolSell + (if (r.side == -1) r.price * r.qty else 0.0),
      acc.spreadSumMicros + micros6(spread),
      math.max(acc.spreadMax, spread),
      acc.nDirected + (if (directed) 1L else 0L),
      ct, cv, cd,
      if (directed) math.min(acc.ctMin, ct) else acc.ctMin,
      if (directed) math.max(acc.ctMax, ct) else acc.ctMax,
      if (directed) math.min(acc.cvMin, cv) else acc.cvMin,
      if (directed) math.max(acc.cvMax, cv) else acc.cvMax,
      if (directed) math.min(acc.cdMin, cd) else acc.cdMin,
      if (directed) math.max(acc.cdMax, cd) else acc.cdMax)
    DirState(r.price, r.side, hasPrev = true, s.bars.updated(r.bar_ts, next))
  }

  private def dirEmit(symbol: Long, barTs: Long, a: DirAccum): DirBarOut = {
    val some = a.nDirected > 0
    DirBarOut(symbol, barTs, a.ticksBuy, a.ticksSell, a.volBuy, a.volSell,
      a.dolBuy, a.dolSell,
      if (some) Some(md(a.spreadSumMicros) / a.nDirected) else None,
      a.spreadMax,
      if (some) Some(a.ctMin) else None, if (some) Some(a.ctMax) else None,
      if (some) Some(a.cvMin) else None, if (some) Some(a.cvMax) else None,
      if (some) Some(a.cdMin) else None, if (some) Some(a.cdMax) else None)
  }

  /** Streaming directional (order-flow) bars with batch parity FOR
    * IN-ORDER-ACROSS-BATCHES input — the state-machine completion of
    * [[directionalStream]]'s conditional-sum subset: spread stats against
    * the globally-previous trade and the intra-bar signed cumulative
    * extrema (`TimeBars.directional`, bar/base.py:409-546). Keyed by
    * symbol — the previous-trade handoff and the reference's order-total
    * constraint live on the key, exactly like the batch `partCols` variant
    * — with every open bar's fixed-width accumulator in state. Bars
    * finalize in APPEND mode when the event-time watermark passes the bar
    * close + delay.
    *
    * ORDERING ASSUMPTION (parity precondition): rows are sorted (ts, id)
    * WITHIN each micro-batch, but the fold consumes batches in arrival
    * order — a late-but-within-watermark trade that belongs BEFORE already
    * -folded rows silently lands at the tail of the sequence, shifting the
    * prev-trade spread handoff and the cumulative extrema relative to the
    * batch operator. Feed per-key in-order streams (the reference's own
    * constraint for its sequential kernels), or use
    * [[directionalBufferedStream]], which buffers rows until the watermark
    * and is exact under any cross-batch arrival order.
    */
  def directionalStateStream(trades: Dataset[SidedSymIn], intervalSec: Long,
                             watermarkDelay: String = "1 minute"): Dataset[DirBarOut] = {
    import trades.sparkSession.implicits._
    val iv = intervalSec * 1000000000L
    val based = withBarEventTime(trades.toDF(), iv, Some(watermarkDelay))
      .as[SidedSymBar]
    based
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (symbol: Long, rows: Iterator[SidedSymBar], state: GroupState[DirState]) =>
          var s = state.getOption.getOrElse(
            DirState(Double.NaN, 0, hasPrev = false, Map.empty))
          if (!state.hasTimedOut)
            rows.toArray.sortBy(r => (r.ts, r.id)).foreach { r => s = dirFold(s, r) }
          // finalize every bar whose close event-time the watermark passed;
          // the rest stay open (late trades within the delay still fold in).
          // STRICT < for the same reason as [[directionalBufferedStream]]:
          // whether an equal-to-watermark row reaches a stateful op is a
          // boundary convention of Spark's late-row filter — finalizing
          // strictly below is duplicate-free under either convention.
          val wmMs = state.getCurrentWatermarkMs()
          val (done, open) = s.bars.partition { case (barTs, _) => barTs / 1000000L < wmMs }
          s = s.copy(bars = open)
          state.update(s) // prev-trade handoff survives even with no open bars
          if (open.nonEmpty) {
            val nextCloseMs = open.keys.min / 1000000L
            state.setTimeoutTimestamp(math.max(nextCloseMs, wmMs + 1))
          }
          done.toArray.sortBy(_._1).iterator
            .map { case (barTs, acc) => dirEmit(symbol, barTs, acc) }
      }
  }

  /** Buffered rows of still-open bars + the prev-trade carried past all
    * already-finalized bars.
    */
  case class DirBufState(prevPrice: Double, prevSide: Int, hasPrev: Boolean,
                         rows: Vector[SidedSymBar])

  /** [[directionalStateStream]] without its ordering precondition: rows are
    * BUFFERED per symbol until the event-time watermark passes their bar's
    * close, and each finalized bar is folded in full (ts, id) order at
    * that point — a late-but-within-watermark trade lands in its correct
    * position, so the prev-trade spread handoff and the cumulative extrema
    * match the batch operator under ANY cross-batch arrival order (up to
    * watermark lateness, where Spark drops rows for every stateful op).
    *
    * Cost: state holds the raw rows of open bars (bounded by
    * bars-per-watermark × trades-per-bar per symbol) instead of O(1)
    * accumulators — the standard buffer-vs-order tradeoff. Pick this for
    * out-of-order sources, [[directionalStateStream]] for per-key ordered
    * ones. Bar intervals partition the timeline, so folding finalized bars
    * before still-open ones preserves the exact global row order.
    */
  def directionalBufferedStream(trades: Dataset[SidedSymIn], intervalSec: Long,
                                watermarkDelay: String = "1 minute"): Dataset[DirBarOut] = {
    import trades.sparkSession.implicits._
    val iv = intervalSec * 1000000000L
    val based = withBarEventTime(trades.toDF(), iv, Some(watermarkDelay))
      .as[SidedSymBar]
    based
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (symbol: Long, rows: Iterator[SidedSymBar], state: GroupState[DirBufState]) =>
          val s = state.getOption.getOrElse(
            DirBufState(Double.NaN, 0, hasPrev = false, Vector.empty))
          val buf = if (state.hasTimedOut) s.rows else s.rows ++ rows
          val wmMs = state.getCurrentWatermarkMs()
          // STRICT <: whether a row with event time EQUAL to the watermark
          // reaches a stateful operator is a boundary convention of
          // Spark's late-row filter (MEASURED on Spark 4.1: equal rows are
          // DROPPED — StreamingSpec's watermark-boundary test pins it).
          // Finalizing strictly below the watermark is duplicate-free
          // under EITHER convention: a bar whose close sits exactly on the
          // watermark stays buffered one extra advance rather than racing
          // the filter's boundary semantics across Spark versions.
          val (doneRows, openRows) =
            buf.partition(r => r.bar_ts / 1000000L < wmMs)
          var st = DirState(s.prevPrice, s.prevSide, s.hasPrev, Map.empty)
          doneRows.sortBy(r => (r.ts, r.id)).foreach { r => st = dirFold(st, r) }
          state.update(DirBufState(st.prevPrice, st.prevSide, st.hasPrev, openRows))
          if (openRows.nonEmpty) {
            val nextCloseMs = openRows.map(_.bar_ts).min / 1000000L
            state.setTimeoutTimestamp(math.max(nextCloseMs, wmMs + 1))
          }
          st.bars.toArray.sortBy(_._1).iterator
            .map { case (barTs, acc) => dirEmit(symbol, barTs, acc) }
      }
  }

  // -----------------------------------------------------------------------
  // Footprint per-bar summary — full Footprints.summary parity
  // -----------------------------------------------------------------------

  /** Per-level volumes in decimal(18,6) MICRO-UNITS — exact accumulation
    * mirroring the batch `Footprints.build`'s Q.dsum sums (see
    * [[micros6]]): imbalance flags, COT ties and the summary ratios then
    * compute on bit-identical values.
    */
  case class LevelAcc(buyVolMicros: Long, sellVolMicros: Long,
                      buyTicks: Long, sellTicks: Long)
  case class FpState(levels: Map[Int, LevelAcc])
  case class FpSummaryOut(symbol: Long, bar_ts: Long, buy_imbalances_sum: Long,
                          sell_imbalances_sum: Long, cot_price_level: Int,
                          imb_max_run_signed: Long, vp_skew: Double,
                          vp_gini: Double)

  /** Fold a finalized level grid into the per-bar footprint feature row —
    * diagonal imbalance flags (missing neighbor levels are zero-volume),
    * COT argmax (first-lowest ties), longest signed imbalance run (level
    * gaps and sign changes break runs), vp_skew and vp_gini — the same
    * semantics as the batch `Footprints.build` + `Footprints.summary`
    * pipeline (bar/base.py:755-850), computed in one walk over the sorted
    * levels of ONE bar (bounded by the bar's price range).
    */
  private[streaming] def fpSummarize(symbol: Long, barTs: Long,
                                     byLevel: Map[Int, LevelAcc],
                                     k: Double): FpSummaryOut = {
    val levels = byLevel.toArray.sortBy(_._1)
    val minL = levels.head._1
    val maxL = levels.last._1
    // imbalance flags compare the decimal values' nearest doubles (md) like
    // the batch plan; every summary SUM runs in EXACT integer micro-units
    // (BigInt — the batch side's decimal(38,0) sums of total_vol_u), so
    // COT/vwap/skew/gini are bit-identical to Footprints.summary: the same
    // exact integers A/B/C through the same fixed IEEE double op sequence
    def buyAt(l: Int) = byLevel.get(l).map(a => md(a.buyVolMicros)).getOrElse(0.0)
    def sellAt(l: Int) = byLevel.get(l).map(a => md(a.sellVolMicros)).getOrElse(0.0)
    var buySum = 0L; var sellSum = 0L
    var vB = BigInt(0); var vA = BigInt(0); var vC = BigInt(0)
    var maxu = Long.MinValue
    val sgns = new Array[Int](levels.length)
    val vus = new Array[Long](levels.length)
    var i = 0
    while (i < levels.length) {
      val (l, a) = levels(i)
      val buyVol = md(a.buyVolMicros)
      val sellVol = md(a.sellVolMicros)
      val buyImb = l > minL && buyVol > sellAt(l - 1) * k
      val sellImb = l < maxL && sellVol > buyAt(l + 1) * k
      if (buyImb) buySum += 1
      if (sellImb) sellSum += 1
      sgns(i) = if (buyImb) 1 else if (sellImb) -1 else 0
      val vu = a.buyVolMicros + a.sellVolMicros
      vus(i) = vu
      vB += vu
      vA += BigInt(l) * vu
      vC += BigInt(vu) * vu
      if (vu > maxu) maxu = vu
      i += 1
    }
    // COT: first (lowest) level hitting the max total volume — np.argmax,
    // in exact integer micro-units
    var cot = levels(0)._1
    i = 0
    var found = false
    while (i < levels.length && !found) {
      if (vus(i) == maxu) { cot = levels(i)._1; found = true }
      i += 1
    }
    // longest signed imbalance run: runs break on sign change, sgn 0, or a
    // level gap (gap levels carry sign 0 on the dense grid); best run =
    // max length, then lowest start level
    var bestLen = 0L; var bestStart = Int.MaxValue; var bestSgn = 0
    var runLen = 0L; var runStart = 0; var runSgn = 0; var prevLevel = Int.MinValue
    def closeRun(): Unit =
      if (runSgn != 0 &&
          (runLen > bestLen || (runLen == bestLen && runStart < bestStart))) {
        bestLen = runLen; bestStart = runStart; bestSgn = runSgn
      }
    i = 0
    while (i < levels.length) {
      val l = levels(i)._1
      if (sgns(i) == 0 || sgns(i) != runSgn || l != prevLevel + 1) {
        closeRun()
        runSgn = sgns(i); runStart = l; runLen = if (sgns(i) == 0) 0L else 1L
      } else runLen += 1
      prevLevel = l
      i += 1
    }
    closeRun()
    // the batch summary's exact-integer ratios: one correctly-rounded
    // BigInt→double cast per aggregate, then the identical IEEE op tree
    //   vwap = A/B, skew = (A − vwap·B)/B, gini = 1 − C/B²
    val aD = vA.toDouble; val bD = vB.toDouble; val cD = vC.toDouble
    val vwap = aD / bD
    FpSummaryOut(symbol, barTs, buySum, sellSum, cot, bestLen * bestSgn,
      (aD - vwap * bD) / bD, 1.0 - cD / (bD * bD))
  }

  /** Streaming per-bar footprint features in APPEND mode: accumulate the
    * (level → volumes/ticks) grid per bar in fixed-width state, and compute
    * the full summary — imbalance counts, COT, longest signed run, skew,
    * gini — from the FINISHED grid when the watermark finalizes the bar.
    * This is the state-machine completion of [[footprintStream]], which
    * emits the per-level sums but leaves the neighbor-dependent features to
    * a post-finalize batch step.
    */
  def footprintSummaryStream(trades: Dataset[SidedSymIn], intervalSec: Long,
                             tickSize: Double, imbalanceFactor: Double = 3.0,
                             watermarkDelay: String = "1 minute"): Dataset[FpSummaryOut] = {
    import trades.sparkSession.implicits._
    val iv = intervalSec * 1000000000L
    val based = withBarEventTime(trades.toDF(), iv, Some(watermarkDelay))
      .as[SidedSymBar]
    based
      // (symbol, bar) state key: one grid per symbol per bar — the keyed
      // gates run the real symbols, the unkeyed ones pin symbol = 0
      .groupByKey(r => (r.symbol, r.bar_ts))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), rows: Iterator[SidedSymBar], state: GroupState[FpState]) =>
          val (symbol, barTs) = key
          if (state.hasTimedOut) {
            val grid = state.get.levels
            state.remove()
            Iterator.single(fpSummarize(symbol, barTs, grid, imbalanceFactor))
          } else {
            var levels = state.getOption.map(_.levels).getOrElse(Map.empty[Int, LevelAcc])
            rows.foreach { r =>
              // HALF_UP away from zero, matching the batch operator's Spark
              // round() (Footprints.build) — math.round would send negative
              // exact half-ticks to a different level
              val x = r.price / tickSize
              val l = (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toInt
              val a = levels.getOrElse(l, LevelAcc(0L, 0L, 0L, 0L))
              levels = levels.updated(l, LevelAcc(
                a.buyVolMicros + (if (r.side == 1) micros6(r.qty) else 0L),
                a.sellVolMicros + (if (r.side == -1) micros6(r.qty) else 0L),
                a.buyTicks + (if (r.side == 1) 1L else 0L),
                a.sellTicks + (if (r.side == -1) 1L else 0L)))
            }
            if (levels.nonEmpty) {
              state.update(FpState(levels))
              val closeMs = barTs / 1000000L
              state.setTimeoutTimestamp(math.max(closeMs, state.getCurrentWatermarkMs() + 1))
            }
            Iterator.empty
          }
      }
  }

  /** Symmetric CUSUM event filter (constant threshold) as a per-symbol
    * streaming state machine — the streaming twin of
    * EventBars.cusumEventIds' batch scan, INCLUDING the reference's
    * equal-timestamp block rule (bar/logic.py:207-209: no event can fire
    * inside an equal-ts print block; only the block's last print decides).
    *
    * Last-of-block needs one row of lookahead, so the machine holds the
    * newest row per symbol back in state and decides it when its
    * successor arrives (possibly in a later micro-batch). Consequence: a
    * symbol's FINAL row stays pending until another row for that symbol
    * shows up — drain-style consumers flush it with a per-symbol
    * far-future heartbeat row (the gates' sentinel-file pattern);
    * always-on deployments flush naturally on the next trade.
    */
  def cusumStream(trades: Dataset[TradeIn], threshold: Double): Dataset[CusumOut] = {
    import trades.sparkSession.implicits._
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: Long, rows: Iterator[TradeIn], state: GroupState[CusumState]) =>
          val s0 = state.getOption.getOrElse(
            CusumState(0.0, 0.0, Double.NaN, seen = false))
          // (ts, id, price): the held-back row rejoins the head of the
          // batch — its block membership is decidable against the first
          // arrival; the batch's own last row becomes the new pending.
          // Heartbeats (ts >= heartbeatNs) are dropped from the fold — a
          // heartbeat's only job is to make `hbFlush` true below so the
          // pending REAL row gets decided; it never emits, never updates
          // prevPrice, and never becomes pending itself.
          val batch = rows.toArray.sortBy(r => (r.ts, r.id))
          val hbFlush = batch.exists(_.ts >= heartbeatNs)
          val real = batch.filter(_.ts < heartbeatNs).map(r => (r.ts, r.id, r.price))
          // cross-batch order contract: a later micro-batch may not carry a
          // row ordered below the held-back pending row. Silent reordering
          // would corrupt the fold — fail loudly instead.
          if (s0.hasPend && real.nonEmpty) {
            val (fTs, fId, _) = real.head
            // STRICT ordering: an exact (ts, id) duplicate of the pending
            // row is a re-delivery — double-folding it would corrupt the
            // sums silently, so it fails the contract too.
            require(s0.pendTs < fTs || (s0.pendTs == fTs && s0.pendId < fId),
              s"cusumStream: out-of-order cross-batch input for symbol $symbol — " +
                s"batch row (ts=$fTs, id=$fId) precedes pending row " +
                s"(ts=${s0.pendTs}, id=${s0.pendId}); input must be " +
                "non-decreasing in (ts, id) across micro-batches")
          }
          val seq = (if (s0.hasPend) Array((s0.pendTs, s0.pendId, s0.pendPrice))
                     else Array.empty[(Long, Long, Double)]) ++ real
          var sPos = s0.sPos; var sNeg = s0.sNeg
          var prevPrice = s0.prevPrice; var seen = s0.seen
          // rows with a real successor are decidable; with a heartbeat in
          // the batch the tail row is too (inBlock = false: nothing real
          // can share its timestamp)
          val nDecided = if (hbFlush) seq.length else math.max(0, seq.length - 1)
          val out = (0 until nDecided).map { i =>
            val (ts, id, price) = seq(i)
            val inBlock = i + 1 < seq.length && seq(i + 1)._1 == ts
            var event = false
            if (!seen) {
              seen = true; event = true // first row opens, like the batch kernel
            } else {
              val ret = math.log(price / prevPrice)
              sPos = math.max(0.0, sPos + ret)
              sNeg = math.min(0.0, sNeg + ret)
              if (!inBlock) {
                if (sPos >= threshold) { event = true; sPos = 0.0 }
                else if (sNeg <= -threshold) { event = true; sNeg = 0.0 }
              }
            }
            prevPrice = price
            CusumOut(symbol, ts, id, event)
          }
          val pend = if (hbFlush) None else seq.lastOption
          state.update(CusumState(sPos, sNeg, prevPrice, seen,
            hasPend = pend.isDefined,
            pendTs = pend.map(_._1).getOrElse(0L),
            pendId = pend.map(_._2).getOrElse(0L),
            pendPrice = pend.map(_._3).getOrElse(0.0)))
          out.iterator
      }
  }

  /** z-score peak filter as a per-symbol streaming state machine — the
    * streaming twin of Features.zScorePeaks and the published algorithm's
    * NATIVE real-time shape: state carries the last n raw observations;
    * each arriving row is tested against the preceding window's
    * population moments (the same s1/s2 op tree, summed oldest-first like
    * the batch frame), then enters the window (influence = 1). No signal
    * until a symbol has n prior rows.
    */
  def zPeakStream(trades: Dataset[TradeIn], n: Int,
                  threshold: Double): Dataset[ZPeakOut] = {
    import trades.sparkSession.implicits._
    trades
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: Long, rows: Iterator[TradeIn], state: GroupState[ZPeakState]) =>
          var buf = state.getOption.map(_.window).getOrElse(Nil)
          val out = rows.toArray.sortBy(r => (r.ts, r.id)).map { r =>
            var peak = false
            if (buf.size == n) {
              var s1 = 0.0; var s2 = 0.0
              buf.foreach { y => s1 += y; s2 += y * y }
              val m = s1 / n
              val v = s2 / n - m * m
              peak = v > 0 && math.abs(r.price - m) > threshold * math.sqrt(v)
            }
            buf = (buf :+ r.price).takeRight(n)
            ZPeakOut(symbol, r.ts, r.id, peak)
          }
          state.update(ZPeakState(buf))
          out.iterator
      }
  }
}
