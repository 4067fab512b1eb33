package graft.bars

import graft.features.Scan
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-driven bar indexers (tick / volume / dollar / CUSUM) —
  * finmlkit/bar/logic.py. Semantics preserved exactly, including the
  * reference's boundary convention: close-index list starts at row 0, bars
  * are (close[k-1], close[k]] so the very first trade belongs to no bar, and
  * the trailing partial bar is dropped (n_bars = len(closes) − 1).
  *
  * Tick bars reduce to pure arithmetic on row_number (closed-form — stays
  * in whole-stage codegen). Volume/dollar/CUSUM are reset-on-trigger state
  * machines (not mergeable, SURVEY.md §4.3 bucket 2): they run as ordered
  * sequential kernels, parallel across symbols via [[Scan.keyOrdered]].
  */
object EventBars {

  /** Tick bars: a new bar every `threshold` trades (logic.py:54-84).
    * bar_id = rn0 div thr on the 0-based row number; row 0 excluded; the
    * trailing partial bar dropped via max(rn0) check. With `keyCols` the
    * count restarts per symbol and the window shuffles by key instead of
    * single-partitioning the stream.
    */
  def tickBarIds(trades: DataFrame, threshold: Int,
                 keyCols: Seq[String] = Nil): DataFrame =
    trades
      .withColumn("rn0", row_number().over(
        Window.partitionBy(keyCols.map(col): _*).orderBy("ts", "id")) - 1)
      .where(col("rn0") >= 1)
      .withColumn("bar_id", expr(s"rn0 div $threshold"))

  /** OHLCV over explicit bar ids; close ts = last trade's ts. One
    * ObjectHashAggregate pass (see TimeBars.ohlcvAgg).
    * With `keyCols` (per-symbol bar_id sequences restart at 0) the group
    * key is (keys..., bar_id) — bar_id alone would mix symbols.
    */
  def ohlcvByBarId(withIds: DataFrame, keyCols: Seq[String] = Nil): DataFrame =
    TimeBars.ohlcvAgg(withIds, keyCols :+ "bar_id")
      .withColumn("bar_ts", col("__lts"))
      .select((keyCols ++ Seq("bar_id", "bar_ts", "open", "high", "low", "close",
        "volume", "trades", "median_trade_size", "vwap")).map(col): _*)

  def tickBarsOhlcv(trades: DataFrame, threshold: Int,
                    keyCols: Seq[String] = Nil): DataFrame = {
    val ids = tickBarIds(trades, threshold, keyCols)
    // complete bars only: bar 0 has thr-1 rows (row 0 excluded per key),
    // others thr — the filter holds per key run
    ohlcvByBarId(ids, keyCols)
      .where(col("trades") === lit(threshold.toLong) ||
             (col("bar_id") === 0 && col("trades") === lit(threshold.toLong - 1)))
  }

  // --- sequential (reset-state) indexers --------------------------------

  /** Volume bars (logic.py:87-115): running cum += qty, close when
    * cum >= threshold, reset to 0 (NO carry-over). Emits per-trade bar_id
    * (-1 for the unassigned row 0) + bar_closed on the closing row.
    */
  def volumeBarIds(trades: DataFrame, threshold: Double,
                   keyCols: Seq[String] = Nil): DataFrame =
    sequentialIds(trades, keyCols) { (rows, schema) =>
      val qtyIdx = schema.fieldIndex("qty")
      var cum = 0.0
      var bar = 0L
      var first = true
      rows.map { r =>
        if (first) { first = false; cum = r.getDouble(qtyIdx); (r, -1L, false) }
        else {
          cum += r.getDouble(qtyIdx)
          val id = bar
          val closed = cum >= threshold
          if (closed) { bar += 1; cum = 0.0 }
          (r, id, closed)
        }
      }
    }

  /** Dollar bars (logic.py:118-149): cum += price·qty, close when
    * cum >= threshold, CARRY the remainder (cum −= threshold).
    */
  def dollarBarIds(trades: DataFrame, threshold: Double,
                   keyCols: Seq[String] = Nil): DataFrame =
    sequentialIds(trades, keyCols) { (rows, schema) =>
      val qtyIdx = schema.fieldIndex("qty")
      val priceIdx = schema.fieldIndex("price")
      var cum = 0.0
      var bar = 0L
      var first = true
      rows.map { r =>
        if (first) { first = false; cum = r.getDouble(priceIdx) * r.getDouble(qtyIdx); (r, -1L, false) }
        else {
          cum += r.getDouble(priceIdx) * r.getDouble(qtyIdx)
          val id = bar
          val closed = cum >= threshold
          if (closed) { bar += 1; cum -= threshold }
          (r, id, closed)
        }
      }
    }

  /** TICK IMBALANCE bars. The reference DECLARES `_imbalance_bar_indexer`
    * but raises NotImplementedError (bar/logic.py) — this implements the
    * published formulation (López de Prado, Advances in Financial Machine
    * Learning §2.3.2.1) with explicit, documented choices where the book
    * leaves freedom: signed tick imbalance θ accumulates the tick-rule
    * side b_t ∈ {-1,0,+1}; a bar closes at the first row where
    * |θ| ≥ E[T]·E[|2P(buy)−1|], and both expectations EWMA-update from the
    * realized bar at each close — E_T ← (1−αT)·E_T + αT·n,
    * E_b ← (1−αB)·E_b + αB·|θ|/n — seeded from (initT, initB). Row 0
    * belongs to no bar (the sibling indexers' convention); the trailing
    * partial bar never closes and is dropped by the complete-bar filter.
    *
    * Parity note: the fold uses only +, ·, /, abs and comparisons — all
    * exactly-rounded IEEE ops — so the DuckDB oracle's list_reduce replay
    * is bit-identical by construction. No transcendental anywhere, hence
    * no cusum-style slack guard is needed.
    */
  def imbalanceBarIds(sided: DataFrame, alphaT: Double, alphaB: Double,
                      initT: Double, initB: Double,
                      keyCols: Seq[String] = Nil): DataFrame =
    sequentialIds(sided, keyCols) { (rows, schema) =>
      val sideIdx = schema.fieldIndex("side")
      var th = 0L; var n = 0L
      var eT = initT; var eB = initB
      var bar = 0L; var first = true
      rows.map { r =>
        if (first) { first = false; (r, -1L, false) }
        else {
          th += r.getInt(sideIdx)
          n += 1
          val id = bar
          val closed = math.abs(th).toDouble >= eT * eB
          if (closed) {
            eT = (1.0 - alphaT) * eT + alphaT * n.toDouble
            eB = (1.0 - alphaB) * eB + alphaB * (math.abs(th).toDouble / n.toDouble)
            th = 0L; n = 0L; bar += 1
          }
          (r, id, closed)
        }
      }
    }

  /** TICK RUN bars — the companion declared-but-unimplemented indexer
    * (`_run_bar_indexer`, same NotImplementedError; AFML §2.3.2.2): the
    * run statistic is the LARGER of the bar's buy and sell tick counts,
    * θ = max(n_buy, n_sell); a bar closes when θ ≥ E[T]·max(P, 1−P) with
    * E_T the EWMA of realized bar lengths and P the EWMA of realized buy
    * fractions n_buy/n (seeded initT, initP). Same IEEE-exact parity
    * argument as [[imbalanceBarIds]].
    */
  def runBarIds(sided: DataFrame, alphaT: Double, alphaP: Double,
                initT: Double, initP: Double,
                keyCols: Seq[String] = Nil): DataFrame =
    sequentialIds(sided, keyCols) { (rows, schema) =>
      val sideIdx = schema.fieldIndex("side")
      var nb = 0L; var ns = 0L; var n = 0L
      var eT = initT; var eP = initP
      var bar = 0L; var first = true
      rows.map { r =>
        if (first) { first = false; (r, -1L, false) }
        else {
          val s = r.getInt(sideIdx)
          if (s > 0) nb += 1 else if (s < 0) ns += 1
          n += 1
          val id = bar
          val closed = math.max(nb, ns).toDouble >= eT * math.max(eP, 1.0 - eP)
          if (closed) {
            eT = (1.0 - alphaT) * eT + alphaT * n.toDouble
            eP = (1.0 - alphaP) * eP + alphaP * (nb.toDouble / n.toDouble)
            nb = 0L; ns = 0L; n = 0L; bar += 1
          }
          (r, id, closed)
        }
      }
    }

  /** VOLUME / DOLLAR IMBALANCE bars — AFML §2.3.2.1's b_t·v_t
    * generalization of [[imbalanceBarIds]]: θ accumulates the SIGNED value
    * side·qty (volume) or side·price·qty (dollar) instead of the bare tick
    * sign; a bar closes at the first row where |θ| ≥ E[T]·E[|b·v|], both
    * expectations EWMA-updated from the realized bar at each close exactly
    * as in the tick machine (E_b ← (1−αB)·E_b + αB·|θ|/n). Same IEEE-exact
    * parity argument: the fold is +, ·, /, abs, compare only, so the DuckDB
    * list_reduce replay is bit-identical (side ∈ {−1,0,1} makes the sign
    * multiplication exact, and price·qty rounds once, identically, on both
    * engines).
    */
  def valueImbalanceBarIds(sided: DataFrame, dollar: Boolean,
                           alphaT: Double, alphaB: Double,
                           initT: Double, initB: Double,
                           keyCols: Seq[String] = Nil): DataFrame =
    sequentialIds(sided, keyCols) { (rows, schema) =>
      val sideIdx = schema.fieldIndex("side")
      val qtyIdx = schema.fieldIndex("qty")
      val priceIdx = schema.fieldIndex("price")
      var th = 0.0; var n = 0L
      var eT = initT; var eB = initB
      var bar = 0L; var first = true
      rows.map { r =>
        if (first) { first = false; (r, -1L, false) }
        else {
          val v = if (dollar) r.getDouble(priceIdx) * r.getDouble(qtyIdx)
                  else r.getDouble(qtyIdx)
          th += r.getInt(sideIdx).toDouble * v
          n += 1
          val id = bar
          val closed = math.abs(th) >= eT * eB
          if (closed) {
            eT = (1.0 - alphaT) * eT + alphaT * n.toDouble
            eB = (1.0 - alphaB) * eB + alphaB * (math.abs(th) / n.toDouble)
            th = 0.0; n = 0L; bar += 1
          }
          (r, id, closed)
        }
      }
    }

  /** VOLUME / DOLLAR RUN bars — AFML §2.3.2.2's value generalization of
    * [[runBarIds]]: the run statistic is the larger of the bar's buy-side
    * and sell-side value sums, θ = max(Σ_buy v, Σ_sell v), and a bar closes
    * when θ ≥ E[T]·max(P·E[v|buy], (1−P)·E[v|sell]). On close the four
    * expectations EWMA-update from the realized bar: E_T ← bar length,
    * P ← n_buy/n, E[v|buy] ← buySum/n_buy (kept when the bar had no buys),
    * E[v|sell] ← sellSum/n_sell (kept when no sells) — seeds (initT, initP,
    * initV) with initV shared by both sides. side = 0 rows (pre-first-tick)
    * count toward n but neither value sum, matching the tick machine. Same
    * IEEE-exact oracle parity as [[valueImbalanceBarIds]].
    */
  def valueRunBarIds(sided: DataFrame, dollar: Boolean,
                     alphaT: Double, alphaP: Double, alphaV: Double,
                     initT: Double, initP: Double, initV: Double,
                     keyCols: Seq[String] = Nil): DataFrame =
    sequentialIds(sided, keyCols) { (rows, schema) =>
      val sideIdx = schema.fieldIndex("side")
      val qtyIdx = schema.fieldIndex("qty")
      val priceIdx = schema.fieldIndex("price")
      var bs = 0.0; var ss = 0.0
      var nb = 0L; var ns = 0L; var n = 0L
      var eT = initT; var eP = initP; var evB = initV; var evS = initV
      var bar = 0L; var first = true
      rows.map { r =>
        if (first) { first = false; (r, -1L, false) }
        else {
          val s = r.getInt(sideIdx)
          val v = if (dollar) r.getDouble(priceIdx) * r.getDouble(qtyIdx)
                  else r.getDouble(qtyIdx)
          if (s > 0) { bs += v; nb += 1 }
          else if (s < 0) { ss += v; ns += 1 }
          n += 1
          val id = bar
          val closed =
            math.max(bs, ss) >= eT * math.max(eP * evB, (1.0 - eP) * evS)
          if (closed) {
            eT = (1.0 - alphaT) * eT + alphaT * n.toDouble
            eP = (1.0 - alphaP) * eP + alphaP * (nb.toDouble / n.toDouble)
            if (nb > 0) evB = (1.0 - alphaV) * evB + alphaV * (bs / nb.toDouble)
            if (ns > 0) evS = (1.0 - alphaV) * evS + alphaV * (ss / ns.toDouble)
            bs = 0.0; ss = 0.0; nb = 0L; ns = 0L; n = 0L; bar += 1
          }
          (r, id, closed)
        }
      }
    }

  /** Shared layout+kernel runner: key-ordered partitions, per-key reset,
    * appends (bar_id, bar_closed). The kernel sees (rows, input schema).
    */
  private def sequentialIds(trades: DataFrame, keyCols: Seq[String])(
      kernel: (Iterator[Row], StructType) => Iterator[(Row, Long, Boolean)]): DataFrame = {
    val laid = Scan.keyOrdered(trades, keyCols, Seq("ts", "id"))
    val schema = laid.schema
    val keyIdxs = keyCols.map(schema.fieldIndex)
    val out = StructType(schema.fields :+
      StructField("bar_id", LongType) :+ StructField("bar_closed", BooleanType))
    laid.mapPartitions { it =>
      Scan.keyRuns(it, keyIdxs).flatMap(g => kernel(g, schema).map {
        case (r, id, closed) => Row.fromSeq(r.toSeq :+ id :+ closed)
      })
    }(Encoders.row(out)).toDF()
  }

  /** Drop the unassigned first trade and the trailing partial bar (a bar is
    * complete iff its close fired), then aggregate — parity with the
    * reference's n_bars = len(closes) − 1.
    */
  def completeBars(withIds: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val keys = keyCols :+ "bar_id"
    // the complete flag (max(bar_closed)) rides the ONE per-bar OHLCV
    // aggregation as an extra column instead of a second agg + re-join of
    // the same stream (one Exchange instead of three — guide §2.4)
    TimeBars.ohlcvAgg(withIds.where(col("bar_id") >= 0), keys,
        extraAggs = Seq(max(col("bar_closed")).as("__complete")))
      .where(col("__complete"))
      .withColumn("bar_ts", col("__lts"))
      .select((keyCols ++ Seq("bar_id", "bar_ts", "open", "high", "low",
        "close", "volume", "trades", "median_trade_size", "vwap")).map(col): _*)
  }

  /** Symmetric CUSUM filter on log returns (sampling/filters.py:6-70 and
    * the bar indexer logic.py:152-221 share this state machine): emits the
    * rows where either cumulative sum crosses ±max(mult·σ, floor).
    * σ here is a per-row threshold column (NaN forward-filled like the
    * reference); equal-timestamp print blocks cannot close (logic.py:207-209).
    */
  def cusumEventIds(trades: DataFrame, sigmaCol: String, sigmaMult: Double,
                    sigmaFloor: Double, keyCols: Seq[String] = Nil,
                    emitSlack: Boolean = false): DataFrame = {
    val laid = Scan.keyOrdered(trades, keyCols, Seq("ts", "id"))
    val schema = laid.schema
    val pIdx = schema.fieldIndex("price")
    val tsIdx = schema.fieldIndex("ts")
    val sIdx = schema.fieldIndex(sigmaCol)
    val keyIdxs = keyCols.map(schema.fieldIndex)
    val baseFields = schema.fields :+ StructField("is_event", BooleanType)
    val out = StructType(
      if (emitSlack) baseFields :+ StructField("slack", DoubleType) else baseFields)
    laid.mapPartitions { it =>
      // state (cusum sums, prev price/sigma) resets at every key run —
      // log-returns and thresholds must not leak across symbols
      Scan.keyRuns(it, keyIdxs).flatMap { run =>
        val rows = run.buffered
        var sPos = 0.0
        var sNeg = 0.0
        var prevPrice = Double.NaN
        var prevSigma = Double.NaN
        var seenFirst = false
        new Iterator[Row] {
          def hasNext: Boolean = rows.hasNext
          def next(): Row = {
            val r = rows.next()
            val price = r.getDouble(pIdx)
            val rawSigma = if (r.isNullAt(sIdx)) Double.NaN else r.getDouble(sIdx)
            val sigma = if (rawSigma.isNaN) prevSigma else rawSigma
            var event = false
            // distance of this row's fire decision from the ±λ boundaries
            // (NaN when no comparison ran): an oracle recomputing s and λ
            // with different numerics flips the decision only inside this
            // margin, so its minimum certifies the gate's tie-safety
            var slack = Double.NaN
            if (!seenFirst) {
              if (!sigma.isNaN) { seenFirst = true; event = true } // first valid row opens
            } else {
              val ret = math.log(price / prevPrice)
              sPos = math.max(0.0, sPos + ret)
              sNeg = math.min(0.0, sNeg + ret)
              // cannot close inside an equal-timestamp print block
              val inBlock = rows.hasNext && rows.head.getLong(tsIdx) == r.getLong(tsIdx)
              if (!inBlock) {
                val lam = math.max(sigmaMult * sigma, sigmaFloor)
                slack = math.min(math.abs(sPos - lam), math.abs(sNeg + lam))
                if (sPos >= lam) { event = true; sPos = 0.0 }
                else if (sNeg <= -lam) { event = true; sNeg = 0.0 }
              }
            }
            if (seenFirst) { prevPrice = price }
            prevSigma = sigma
            if (emitSlack) Row.fromSeq(r.toSeq :+ event :+ slack)
            else Row.fromSeq(r.toSeq :+ event)
          }
        }
      }
    }(Encoders.row(out)).toDF()
  }
}
