package graft.bars

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-bar construction — the engine's signature aggregation.
  *
  * The reference derives per-bar trade slices with a close-index array
  * (`_time_bar_indexer`, finmlkit/bar/logic.py:12-51) and aggregates each
  * slice in a Numba kernel (`comp_bar_ohlcv`, bar/base.py:306-407). Spark
  * shape: a `bar_ts` (bar close timestamp) column = ceil(ts / interval), then
  * one `groupBy(bar_ts)` — shuffle-parallel, no index materialization.
  *
  * Semantics preserved:
  *  - bar (c-iv, c] is start-exclusive / end-inclusive: a trade exactly on a
  *    grid point closes that bar (searchsorted side='right' − 1);
  *  - empty intervals emit zero-volume bars carrying the previous close
  *    (bar/base.py:352-361), re-created here with a generated grid + fill;
  *  - open=first / close=last are made deterministic with min_by/max_by on ts.
  */
object TimeBars {

  /** Bar close timestamp: smallest grid multiple >= ts (ts on the grid maps
    * to itself). Pure long arithmetic — stays in whole-stage codegen.
    */
  def barTs(intervalNs: Long, ts: Column = col("ts")): Column =
    // all-long arithmetic (a double division would lose ns precision):
    // ts + ((iv - ts mod iv) mod iv)
    ts + pmod(lit(intervalNs) - pmod(ts, lit(intervalNs)), lit(intervalNs))

  /** Single-pass OHLCV core shared by time/event bars.
    *
    * ONE aggregation over the trade stream computes every per-bar column.
    * Open/close need a (ts, id) tie-break — µs-quantized equal-ts trades
    * exist — expressed as `min_by`/`max_by` keyed on `struct(ts, id)`:
    * lexicographic struct ordering picks exactly "price of the lowest-id
    * row at the group's first timestamp" / "... highest-id row at the last
    * timestamp", the same rows the old two-pass (agg → boundary-row
    * re-join → second agg) selected. The struct buffer does NOT demote the
    * node: `median` is a TypedImperativeAggregate, so this aggregation
    * plans as ObjectHashAggregate either way (r14 plan dumps:
    * `plans/r14/tick_bars_300_{before,after}.txt` — 10 → 6 Exchanges, the
    * boundary self-join gone). At scale this is one shuffle of group-width
    * rows instead of a second full scan + join of the trade stream
    * (optimization guide §2.4 "remove shuffles outright").
    */
  private[graft] def ohlcvAgg(t: DataFrame, g: Seq[String],
                              extraAggs: Seq[Column] = Nil): DataFrame = {
    val gc = g.map(col)
    val aggs = Seq(
      max("ts").as("__lts"),
      min_by(col("price"), struct(col("ts"), col("id"))).as("open"),
      max_by(col("price"), struct(col("ts"), col("id"))).as("close"),
      max("price").as("high"),
      min("price").as("low"),
      sum("qty").as("volume"),
      count(lit(1)).as("trades"),
      median(col("qty")).as("median_trade_size"),
      // vwap through EXACT integer micro-unit sums: a double sum(price·qty)
      // is addition-order-dependent — one bar per ~30k on the synthetic
      // data lands ON an r6 boundary where partitioning (batch scan vs
      // streamed join) flips the 6th decimal. Each term quantizes via
      // floor(x·1e6 + 0.5) — a fixed IEEE op tree that DuckDB reproduces
      // verbatim (decimal(18,6) CASTs would NOT: Spark rounds the double's
      // shortest-decimal string, DuckDB the ·1e6 product, and arbitrary
      // price·qty doubles DO land on that knife edge — measured at sf0.1).
      // Half-up is exact for the positive prices/qtys the canonical
      // stream guarantees. The per-term floor lands in a long, but the SUM
      // runs in decimal(38,0) — same exact-integer discipline as
      // Footprints.summary — so no per-bar trade count can silently wrap
      // a long (the DuckDB mirror's sum(BIGINT) promotes to HUGEINT).
      (sum(floor(col("price") * col("qty") * lit(1e6) + lit(0.5)).cast("decimal(38,0)")).cast("double") /
        sum(floor(col("qty") * lit(1e6) + lit(0.5)).cast("decimal(38,0)")).cast("double")).as("vwap")
    ) ++ extraAggs
    // __fts/__lts retained (first/last trade ts per group) — callers select
    t.groupBy(gc: _*).agg(min("ts").as("__fts"), aggs: _*)
  }

  /** OHLCV aggregation per bar. `fillEmpty` re-creates the reference's
    * zero-volume empty bars over the full time grid.
    *
    * ==vwap quantization contract==
    * `vwap` is the ratio of EXACT integer micro-unit sums: each
    * `price·qty` and `qty` term is quantized to the 1e-6 grid via
    * `floor(x·1e6 + 0.5)` before summing (see [[ohlcvAgg]] — this is
    * what makes the value independent of partitioning / addition order,
    * and bit-identical across engines). Consequence for library users:
    * quantities or notionals with genuine sub-1e-6 resolution contribute
    * their nearest micro-unit, so vwap can differ from the unquantized
    * ratio by up to ~5e-7 relative on such data. Data on a ≥1e-6 grid
    * (every mainstream exchange feed) is exact.
    *
    * With `partCols`
    * (e.g. symbol) everything is per-key: the aggregation, the generated
    * grid (each key's own [min, max] span) and the fill — shuffle-parallel
    * across keys, the 100 TB layout. Empty `partCols` keeps the
    * reference's single-series semantics, with the fill on the affine
    * carry scan instead of a single-partition window.
    */
  def ohlcv(trades: DataFrame, intervalSec: Long, fillEmpty: Boolean = true,
            partCols: Seq[String] = Nil): DataFrame = {
    val iv = intervalSec * 1000000000L
    val pc = partCols.map(col)
    val outCols = partCols.map(col) ++ Seq(col("bar_ts"), col("open"),
      col("high"), col("low"), col("close"), col("volume"), col("trades"),
      col("median_trade_size"), col("vwap"))
    val agg = ohlcvAgg(
        trades.withColumn("bar_ts", barTs(iv)),
        partCols :+ "bar_ts")
      .select(outCols: _*)
    if (!fillEmpty) agg
    else {
      // Per-key grid of all bar closes in (floor(min/iv)*iv, ceil(max/iv)*iv].
      // The floor+1 lower bound is DELIBERATE, not a ceil typo: the
      // reference drops the leading open (base.py:101-129 exposes closes
      // minus the first boundary), so a first trade falling EXACTLY on a
      // grid point is the open boundary and belongs to no emitted bar —
      // the grid join then discards the bar the agg built for it, exactly
      // matching the reference. Knife-edge guard: when ALL of a key's
      // trades sit at that one on-grid timestamp, lo > hi and the key
      // emits zero bars (reference: closes = [open] ⇒ no bars) instead of
      // sequence() throwing on descending bounds.
      val grid = trades
        .groupBy(pc: _*)
        .agg(min("ts").as("mn"), max("ts").as("mx"))
        .select(pc :+ explode(expr(
          s"""CASE WHEN ((mn div ${iv}L) + 1) * ${iv}L
             |       <= ((mx + ${iv - 1}L) div ${iv}L) * ${iv}L
             |  THEN sequence(((mn div ${iv}L) + 1) * ${iv}L,
             |                ((mx + ${iv - 1}L) div ${iv}L) * ${iv}L,
             |                ${iv}L)
             |  ELSE CAST(array() AS array<bigint>) END""".stripMargin))
          .as("bar_ts"): _*)
      val joined = grid.join(agg, partCols :+ "bar_ts", "left")
      val filled =
        if (partCols.nonEmpty) {
          // keyed fill: a per-key window is shuffle-parallel and bounded
          // by each key's own grid span
          val w = Window.partitionBy(pc: _*).orderBy("bar_ts")
            .rowsBetween(Window.unboundedPreceding, 0)
          joined.withColumn("__pc", last("close", ignoreNulls = true).over(w))
        } else {
          // previous-close forward fill as an affine carry scan (s' = close
          // on non-empty bars, else s) instead of an unpartitioned window:
          // the grid is bounded by range/interval, but a multi-year fine
          // grid would push ~10⁸ rows through one task — the scan stays
          // parallel at any grid size and leading empties stay NULL like
          // last(ignoreNulls).
          import graft.features.Scan
          val cIdx = joined.schema.fieldIndex("close")
          // state = (carried close, seen flag); a NaN init sentinel would
          // NOT work — the "set" map a=0 still computes 0·NaN + b = NaN
          Scan.affine(
            joined, Seq("bar_ts"), nStates = 2,
            coefs = (r, _) =>
              if (r.isNullAt(cIdx))
                Array(Scan.Affine(1.0, 0.0), Scan.Affine(1.0, 0.0))
              else
                Array(Scan.Affine(0.0, r.getDouble(cIdx)), Scan.Affine(0.0, 1.0)),
            init = Array(0.0, 0.0),
            emit = (s, _) =>
              if (s(1) == 0.0) null else java.lang.Double.valueOf(s(0)),
            outName = "__pc")
        }
      filled.select(pc ++ Seq(
          col("bar_ts"),
          coalesce(col("open"), col("__pc")).as("open"),
          coalesce(col("high"), col("__pc")).as("high"),
          coalesce(col("low"), col("__pc")).as("low"),
          coalesce(col("close"), col("__pc")).as("close"),
          coalesce(col("volume"), lit(0.0)).as("volume"),
          coalesce(col("trades"), lit(0L)).as("trades"),
          coalesce(col("median_trade_size"), lit(0.0)).as("median_trade_size"),
          coalesce(col("vwap"), lit(0.0)).as("vwap")): _*)
    }
  }

  /** Directional (order-flow) bar features — `comp_bar_directional_features`
    * (bar/base.py:409-546). Conditional aggregates + one intra-bar running
    * cumulative window for the path extrema. Spreads use the *global*
    * previous trade (the reference reads prices[j-1] across the bar
    * boundary), hence the unpartitioned lag before grouping.
    */
  def directional(tradesWithSide: DataFrame, intervalSec: Long,
                  partCols: Seq[String] = Nil): DataFrame = {
    val iv = intervalSec * 1000000000L
    // empty partCols = the reference's single-series order-total semantics;
    // with partCols every window/group is per-symbol (shuffle-parallel)
    val global = Window.partitionBy(partCols.map(col): _*).orderBy("ts", "id")
    val t = tradesWithSide
      .withColumn("bar_ts", barTs(iv))
      .withColumn("__flip", col("side") =!= lag("side", 1).over(global))
      .withColumn("__spread", when(col("__flip"), abs(col("price") - lag("price", 1).over(global))))
      .withColumn("__signed_tick", when(col("side") === 1, 1).when(col("side") === -1, -1).otherwise(0))
      .withColumn("__signed_vol", col("__signed_tick") * col("qty"))
      .withColumn("__signed_dollar", col("__signed_tick") * col("price") * col("qty"))
    val intra = Window.partitionBy((partCols :+ "bar_ts").map(col): _*).orderBy("ts", "id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val t2 = t
      .withColumn("__cum_ticks", sum("__signed_tick").over(intra))
      .withColumn("__cum_vol", sum("__signed_vol").over(intra))
      .withColumn("__cum_dollar", sum("__signed_dollar").over(intra))
    val isBuy = col("side") === 1
    val isSell = col("side") === -1
    val directed = col("side") =!= 0
    t2.groupBy((partCols :+ "bar_ts").map(col): _*).agg(
      sum(when(isBuy, 1L).otherwise(0L)).as("ticks_buy"),
      sum(when(isSell, 1L).otherwise(0L)).as("ticks_sell"),
      sum(when(isBuy, col("qty")).otherwise(0.0)).as("volume_buy"),
      sum(when(isSell, col("qty")).otherwise(0.0)).as("volume_sell"),
      sum(when(isBuy, col("price") * col("qty")).otherwise(0.0)).as("dollars_buy"),
      sum(when(isSell, col("price") * col("qty")).otherwise(0.0)).as("dollars_sell"),
      {
        // per-symbol groups can be all-undirected (leading side-0 run):
        // guard the ANSI divide; NULL matches the oracle's NaN→NULL fold
        val nDirected = sum(when(directed, 1L).otherwise(0L))
        // decimal-exact spread sum (Q.dsum): the double sum's
        // addition-order ulp noise landed this ratio exactly on an r6
        // half-boundary at sf0.1 — both engines cast each spread to the
        // same 6-dp decimal, so the sums (and the rounded ratio) are
        // bit-identical
        when(nDirected > 0,
          graft.queries.Q.dsum(
            when(col("__flip"), col("__spread")).otherwise(0.0)) / nDirected)
          .as("mean_spread")
      },
      max(coalesce(when(col("__flip"), col("__spread")), lit(0.0))).as("max_spread"),
      min(when(directed, col("__cum_ticks"))).as("cum_ticks_min"),
      max(when(directed, col("__cum_ticks"))).as("cum_ticks_max"),
      min(when(directed, col("__cum_vol"))).as("cum_volume_min"),
      max(when(directed, col("__cum_vol"))).as("cum_volume_max"),
      min(when(directed, col("__cum_dollar"))).as("cum_dollars_min"),
      max(when(directed, col("__cum_dollar"))).as("cum_dollars_max"))
  }

  /** Trade-size distribution features vs a typical-size threshold θ —
    * `comp_bar_trade_size_features` (bar/base.py:549-612). θ is the mean
    * trade size (thr = θ·mult): a broadcast scalar in the single-series
    * default, a per-key broadcast dimension table with `partCols` (each
    * symbol measured against its own typical size — the multi-asset
    * reading of the reference's single-series θ).
    */
  def tradeSize(trades: DataFrame, intervalSec: Long, thetaMult: Double = 5.0,
                partCols: Seq[String] = Nil): DataFrame = {
    val iv = intervalSec * 1000000000L
    val pc = partCols.map(col)
    // decimal-exact θ (engine-identical scalar: its double avg was
    // summation-order-noisy, and thr feeds comparisons + rounded ratios)
    val theta = trades.groupBy(pc: _*)
      .agg((graft.queries.Q.dsum(col("qty")) / count(lit(1)) * lit(thetaMult))
        .as("thr"))
    val based = trades
      .withColumn("bar_ts", barTs(iv))
    val t =
      // unkeyed θ is ONE row — the sanctioned scalar broadcast. The keyed
      // table is one row PER KEY (unbounded in principle): no forced hint,
      // AQE broadcasts it while measured small and shuffle-joins past that.
      if (partCols.isEmpty) based.crossJoin(broadcast(theta))
      else based.join(theta, partCols)
    // thr is a broadcast column: grouping by it keeps it referencable inside
    // the aggregate expressions without a nested agg (same trick as the oracle)
    // decimal-exact qty sums (Q.dsum): qty sits on a 0.1 grid and qty² on
    // 0.01, both exact at 6 dp — double summation's order noise put
    // size_gini exactly on an r6 half-boundary at sf0.1
    val dq = graft.queries.Q.dsum(col("qty"))
    t.groupBy((pc :+ col("bar_ts")) :+ col("thr"): _*).agg(
      log1p((dq / count(lit(1))) / col("thr")).as("mean_size_rel"),
      log1p(percentile(col("qty"), lit(0.95)) / col("thr")).as("size_95_rel"),
      (graft.queries.Q.dsum(
        when(col("qty") > col("thr"), col("qty")).otherwise(0.0)) /
        dq).as("pct_block"),
      when(count(lit(1)) === 1, 0.0)
        .otherwise(lit(1.0) -
          graft.queries.Q.dsum(col("qty") * col("qty")) / (dq * dq))
        .as("size_gini"))
  }

  /** Resample bars to a coarser timeframe — `TimeBarReader._resample`
    * (bar/io.py:890-950): first/max/min/last + summed volume/trades,
    * volume-weighted vwap recombination, trades-weighted median of the
    * source bars' `median_trade_size` (io.py:931-944: cum-weight cutoff at
    * half the total, searchsorted side='left'); empty periods dropped.
    *
    * One shuffle: the cum-weight window partitions by rs_ts and the groupBy
    * reuses that partitioning. min_by/max_by keys are plain longs
    * (fixed-width buffers → hash aggregation).
    *
    * @param maxTs keep only periods whose end-aligned label rs_ts ≤ maxTs —
    *              the `TimeBarReader.read` incomplete-final-day drop for
    *              daily+ frames (bar/io.py:877-885); [[graft.sources.Store.readBars]]
    *              derives it from the requested range end. Applied BEFORE
    *              the weighted-median windows so dropped periods never
    *              shuffle.
    * @param partCols per-key resample for multi-symbol bars tables: every
    *              window and the groupBy key on (partCols, rs_ts) — the
    *              single-series default is already shuffle-parallel across
    *              periods, this keeps it parallel across symbols too.
    */
  def resample(bars: DataFrame, fromSec: Long, toSec: Long,
               maxTs: Option[Long] = None,
               partCols: Seq[String] = Nil): DataFrame = {
    require(toSec % fromSec == 0, "target timeframe must be a multiple")
    val iv = toSec * 1000000000L
    val pc = partCols.map(col)
    val grp = (partCols :+ "rs_ts").map(col)
    val src0 = bars
      .where(col("trades") > 0) // resample over non-empty source bars
      .withColumn("rs_ts", barTs(iv, col("bar_ts")))
    val src = maxTs.fold(src0)(m => src0.where(col("rs_ts") <= m))
    val wOrd = Window.partitionBy(grp: _*)
      .orderBy(col("median_trade_size").asc, col("bar_ts").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    src
      .withColumn("__cumw", sum(col("trades").cast("double")).over(wOrd))
      .withColumn("__totw", sum(col("trades").cast("double")).over(Window.partitionBy(grp: _*)))
      .groupBy(grp: _*)
      .agg(
        min_by(col("open"), col("bar_ts")).as("open"),
        max("high").as("high"),
        min("low").as("low"),
        max_by(col("close"), col("bar_ts")).as("close"),
        sum("volume").as("volume"),
        sum("trades").as("trades"),
        // weighted median = size of the first (size-ascending) row whose
        // cumulative weight reaches half the total: min over qualifying rows
        min(when(col("__cumw") >= col("__totw") * 0.5, col("median_trade_size")))
          .as("median_trade_size"),
        // exact integer micro-unit sums for the same order-independence
        // reason as ohlcvAgg's vwap (floor(x·1e6 + 0.5) — the
        // engine-neutral quantization op tree), summed in decimal(38,0)
        // so no period's bar count can wrap a long
        (sum(floor(col("vwap") * col("volume") * lit(1e6) + lit(0.5)).cast("decimal(38,0)")).cast("double") /
          sum(floor(col("volume") * lit(1e6) + lit(0.5)).cast("decimal(38,0)")).cast("double")).as("vwap"))
  }
}
