package graft.queries

import graft.Tables
import graft.trades.Trades
import graft.bars.TimeBars
import org.apache.spark.sql.functions._
import Q._

/** Trades preprocessing + bar-construction coverage (SURVEY.md §2.2/§2.4). */
object TradeQueries {

  private def trades(s: org.apache.spark.sql.SparkSession, dir: String) =
    Trades.fromEvents(Tables.events(s, dir))

  private def sided(s: org.apache.spark.sql.SparkSession, dir: String) =
    Trades.withTickRuleSide(trades(s, dir))

  val queries: Map[String, QueryFn] = Map(
    // Canonicalization + AFML tick-rule side inference (§2.2).
    "trades_canonical" -> ((s, dir) =>
      sided(s, dir).select(col("ts"), col("id"),
        r6(col("price")).as("price"), r6(col("qty")).as("qty"),
        col("symbol"), col("side"))),

    // Split-trade merge: groupBy (ts, price, side) summing qty (§2.2).
    "trades_split_merge" -> ((s, dir) =>
      Trades.mergeSplitTrades(sided(s, dir)).select(
        col("ts"), r6(col("price")).as("price"), col("side"),
        r6(col("qty")).as("qty"), col("id"), col("symbol"), col("merged"))),

    // Keyed split-trade merge: per-symbol group keys — equal-(ts, price,
    // side) prints of DIFFERENT symbols stay separate (the reference's
    // per-series semantics on a multi-symbol store). Sides are also
    // per-symbol here, matching that layout.
    "trades_split_merge_sym" -> ((s, dir) =>
      Trades.mergeSplitTrades(
          Trades.withTickRuleSide(trades(s, dir), Seq("symbol")),
          partCols = Seq("symbol")).select(
        col("symbol"), col("ts"), r6(col("price")).as("price"), col("side"),
        r6(col("qty")).as("qty"), col("id"), col("merged"))),

    // OHLCV time bars, 5-minute grid, with empty-bar fill (§2.4).
    "time_bars_5m" -> ((s, dir) =>
      TimeBars.ohlcv(trades(s, dir), 300).select(
        col("bar_ts"), r6(col("open")).as("open"), r6(col("high")).as("high"),
        r6(col("low")).as("low"), r6(col("close")).as("close"),
        r6(col("volume")).as("volume"), col("trades"),
        r6(col("median_trade_size")).as("median_trade_size"),
        q6(col("vwap")).as("vwap"))),

    // Per-symbol daily OHLCV bars WITH empty-bar fill: the keyed variant of
    // the signature aggregation — per-key grid, per-key forward fill, all
    // shuffle-parallel (§2.4 at the 100 TB layout). vwap RESTORED in
    // round 9: ohlcvAgg sums exact integer micro-units through the
    // engine-neutral floor(x·1e6 + 0.5) op tree now, so the (symbol, day)
    // rounding tie that forced its omission — and the sf0.1
    // streamed-tick-bars tie that resurfaced the class — are gone at the
    // root.
    "time_bars_1d_sym" -> ((s, dir) =>
      TimeBars.ohlcv(trades(s, dir), 86400, fillEmpty = true,
          partCols = Seq("symbol")).select(
        col("symbol"), col("bar_ts"), r6(col("open")).as("open"),
        r6(col("high")).as("high"), r6(col("low")).as("low"),
        r6(col("close")).as("close"), r6(col("volume")).as("volume"),
        col("trades"), r6(col("median_trade_size")).as("median_trade_size"),
        q6(col("vwap")).as("vwap"))),

    // Directional (order-flow) bar features (§2.4).
    "time_bars_directional_1h" -> ((s, dir) =>
      TimeBars.directional(sided(s, dir), 3600).select(
        col("bar_ts"), col("ticks_buy"), col("ticks_sell"),
        r6(col("volume_buy")).as("volume_buy"), r6(col("volume_sell")).as("volume_sell"),
        r6(col("dollars_buy")).as("dollars_buy"), r6(col("dollars_sell")).as("dollars_sell"),
        r6(col("mean_spread")).as("mean_spread"), r6(col("max_spread")).as("max_spread"),
        col("cum_ticks_min"), col("cum_ticks_max"),
        r6(col("cum_volume_min")).as("cum_volume_min"), r6(col("cum_volume_max")).as("cum_volume_max"),
        r6(col("cum_dollars_min")).as("cum_dollars_min"), r6(col("cum_dollars_max")).as("cum_dollars_max"))),

    // Multi-symbol variant: tick-rule sides AND directional bars partitioned
    // by symbol (user_id) — exercises the partCols paths; windows shuffle by
    // symbol instead of single-partitioning the stream.
    "time_bars_directional_sym" -> ((s, dir) =>
      TimeBars.directional(
          Trades.withTickRuleSide(trades(s, dir), Seq("symbol")), 86400, Seq("symbol"))
        .select(
          col("symbol"), col("bar_ts"), col("ticks_buy"), col("ticks_sell"),
          r6(col("volume_buy")).as("volume_buy"), r6(col("volume_sell")).as("volume_sell"),
          r6(col("mean_spread")).as("mean_spread"), r6(col("max_spread")).as("max_spread"),
          col("cum_ticks_min"), col("cum_ticks_max"))),

    // Trade-size distribution features (§2.4).
    "time_bars_size_1h" -> ((s, dir) =>
      TimeBars.tradeSize(trades(s, dir), 3600).select(
        col("bar_ts"), r6(col("mean_size_rel")).as("mean_size_rel"),
        r6(col("size_95_rel")).as("size_95_rel"), r6(col("pct_block")).as("pct_block"),
        r6(col("size_gini")).as("size_gini"))),

    // Keyed trade-size features: per-symbol θ (broadcast dimension table)
    // and per-(symbol, day) distribution stats — shuffle-parallel.
    "time_bars_size_sym" -> ((s, dir) =>
      TimeBars.tradeSize(trades(s, dir), 86400, partCols = Seq("symbol"))
        .select(
          col("symbol"), col("bar_ts"),
          r6(col("mean_size_rel")).as("mean_size_rel"),
          r6(col("size_95_rel")).as("size_95_rel"),
          r6(col("pct_block")).as("pct_block"),
          r6(col("size_gini")).as("size_gini"))),

    // Resample 5m → 1h (§3.3 storage lifecycle / TimeBarReader._resample).
    "resample_5m_to_1h" -> ((s, dir) =>
      TimeBars.resample(TimeBars.ohlcv(trades(s, dir), 300), 300, 3600).select(
        col("rs_ts"), r6(col("open")).as("open"), r6(col("high")).as("high"),
        r6(col("low")).as("low"), r6(col("close")).as("close"),
        r6(col("volume")).as("volume"), col("trades"),
        r6(col("median_trade_size")).as("median_trade_size"),
        q6(col("vwap")).as("vwap"))),

    // Resample 1h → 1d with the TimeBarReader daily semantics: a date-only
    // range end means end-of-day-inclusive, and the incomplete final day is
    // dropped (bar/io.py:829-885). The cut is the last full UTC midnight in
    // the data — exactly what Store.readBars derives for a date-only end.
    "resample_1h_to_1d" -> ((s, dir) => {
      val dayNs = 86400L * 1000000000L
      val t = trades(s, dir)
      val endNs = (t.agg(max("ts")).first().getLong(0) / dayNs) * dayNs
      TimeBars.resample(TimeBars.ohlcv(t, 3600), 3600, 86400, Some(endNs))
        .select(
          col("rs_ts"), r6(col("open")).as("open"), r6(col("high")).as("high"),
          r6(col("low")).as("low"), r6(col("close")).as("close"),
          r6(col("volume")).as("volume"), col("trades"),
          r6(col("median_trade_size")).as("median_trade_size"),
          q6(col("vwap")).as("vwap"))
    }),

    // Keyed resample: per-symbol daily bars re-binned to 7-day periods —
    // windows and groupBy on (symbol, rs_ts), shuffle-parallel across
    // symbols AND periods. vwap RESTORED in round 9: ohlcvAgg and
    // resample sum exact integer micro-units through the engine-neutral
    // floor(x·1e6 + 0.5) op tree now, so the (symbol, day) rounding tie
    // that forced its omission is gone at the root.
    "resample_1d_to_1w_sym" -> ((s, dir) => {
      val daily = TimeBars.ohlcv(trades(s, dir), 86400, fillEmpty = true,
        partCols = Seq("symbol"))
      TimeBars.resample(daily, 86400, 7 * 86400, partCols = Seq("symbol"))
        .select(
          col("symbol"), col("rs_ts"), r6(col("open")).as("open"),
          r6(col("high")).as("high"), r6(col("low")).as("low"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"),
          r6(col("median_trade_size")).as("median_trade_size"),
          q6(col("vwap")).as("vwap"))
    }),

    // Time-gap integrity scan (§2.1 H5Inspector.inspect_gaps).
    "integrity_time_gaps" -> ((s, dir) =>
      Trades.timeGaps(trades(s, dir), 3600L * 1000000000L).select(
        col("gap_start"), col("gap_end"), r6(col("gap_sec")).as("gap_sec"))),

    // Keyed time-gap scan: per-symbol gap windows (shuffle-parallel — the
    // 100 TB shape). Per-symbol streams are sparse (~2 trades/day in the
    // synthetic data), so a 3-day threshold yields real per-symbol gaps.
    "integrity_time_gaps_sym" -> ((s, dir) =>
      Trades.timeGaps(trades(s, dir), 3L * 86400L * 1000000000L,
          Seq("symbol")).select(
        col("symbol"), col("gap_start"), col("gap_end"),
        r6(col("gap_sec")).as("gap_sec"))),

    // Trade-id gap scan on a filtered stream (ids become sparse) (§2.2).
    "integrity_id_gaps" -> ((s, dir) => {
      val t = Trades.fromEvents(
        Tables.events(s, dir).where(col("event_type") =!= "error"))
      Trades.idGaps(t).select(col("prev_id"), col("id"), col("missing"),
        col("prev_ts"), col("ts"))
    }),

    // Per-month integrity roll-up (§2.1 get_integrity_summary) over the
    // error-filtered stream (ids become sparse → real discontinuities).
    "integrity_summary" -> ((s, dir) => {
      val t = Trades.fromEvents(
        Tables.events(s, dir).where(col("event_type") =!= "error"))
      graft.sources.Store.integritySummary(t, 3600L * 1000000000L).select(
        col("month"), col("rows"), col("first_ts"), col("last_ts"),
        col("missing_ids"), col("discontinuities"), col("time_gaps"),
        col("max_time_gap_ns"), r6(col("missing_pct")).as("missing_pct"),
        col("data_integrity_ok"))
    }),

    // Keyed integrity roll-up: per-symbol gap windows (shuffle-parallel —
    // the 100 TB shape). Ids are globally dense, so per-symbol streams see
    // real id discontinuities everywhere.
    "integrity_summary_sym" -> ((s, dir) => {
      val t = Trades.fromEvents(
        Tables.events(s, dir).where(col("event_type") =!= "error"))
      graft.sources.Store.integritySummary(t, 3600L * 1000000000L,
          Seq("symbol")).select(
        col("symbol"), col("month"), col("rows"), col("first_ts"),
        col("last_ts"), col("missing_ids"), col("discontinuities"),
        col("time_gaps"), col("max_time_gap_ns"),
        r6(col("missing_pct")).as("missing_pct"), col("data_integrity_ok"))
    }),

    // Tick-size estimation via scaled-integer GCD (§2.2).
    "tick_size_gcd" -> ((s, dir) =>
      Trades.tickSize(trades(s, dir)).select(r6(col("tick_size")).as("tick_size"))),

    // Legacy median-diff tick size (§2.2 comp_price_tick_size_old) — kept
    // alongside the GCD variant for reference completeness.
    "tick_size_median_legacy" -> ((s, dir) =>
      Trades.tickSizeLegacy(trades(s, dir))
        .select(r6(col("tick_size")).as("tick_size"))),

    // END-TO-END store round-trip (§2.1 save_h5 → catalog): canonical
    // trades are WRITTEN through Store.saveMonthly (month-partitioned zstd
    // parquet, dynamic overwrite) and read back; the catalog over the
    // round-tripped table must hash-match the oracle computed from the raw
    // events — a corrupted write/read path fails here, not just in
    // StoreSpec. Fixed temp path + overwrite keeps reruns idempotent.
    "store_roundtrip_catalog" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_store_${StreamQueries.runId}").getAbsolutePath
      graft.sources.Store.saveMonthly(trades(s, dir), tmp)
      graft.sources.Store.monthlyStats(s.read.parquet(tmp).drop("month"))
        .select(
          col("month"), col("rows"), col("first_ts"), col("last_ts"),
          r6(col("min_price")).as("min_price"), r6(col("max_price")).as("max_price"),
          r6(col("total_qty")).as("total_qty"))
    }),

    // END-TO-END derived-bars lifecycle (§2.1 AddTimeBarH5 → TimeBarReader):
    // trades store → materialized 1h bars store → readBars with a date-only
    // end and a daily resample (end-of-day expansion + incomplete-final-day
    // drop) — the full reference storage lifecycle, hash-matched against
    // the raw-events oracle (same SQL as resample_1h_to_1d).
    "store_readback_1d" -> ((s, dir) => {
      val dayNs = 86400L * 1000000000L
      val tdir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_trades_${StreamQueries.runId}").getAbsolutePath
      val bdir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_bars_${StreamQueries.runId}").getAbsolutePath
      val t = trades(s, dir)
      graft.sources.Store.saveMonthly(t, tdir)
      graft.sources.Store.materializeBars(s, tdir, bdir, intervalSec = 3600)
      val endNs = (t.agg(max("ts")).first().getLong(0) / dayNs) * dayNs
      graft.sources.Store.readBars(s, bdir, 0L, endNs, barSec = 3600,
          resampleSec = Some(86400))
        .select(
          col("rs_ts"), r6(col("open")).as("open"), r6(col("high")).as("high"),
          r6(col("low")).as("low"), r6(col("close")).as("close"),
          r6(col("volume")).as("volume"), col("trades"),
          r6(col("median_trade_size")).as("median_trade_size"),
          q6(col("vwap")).as("vwap"))
    }),

    // END-TO-END ranged read through the store (§2.1 load_trades_h5 /
    // _keys_for_timerange): write via saveMonthly, read a mid-range slice
    // back through readRange (month-directory pruning + ts pushdown) and
    // hash-match the rows against the oracle's filtered scan of the raw
    // events — a pruning bug that drops or duplicates rows fails HERE, not
    // just in StoreSpec's PartitionFilters plan assert. Bounds derive from
    // min(ts) so the oracle reproduces them exactly.
    "store_readrange_prune" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_store_rr_${StreamQueries.runId}").getAbsolutePath
      val t = trades(s, dir)
      graft.sources.Store.saveMonthly(t, tmp)
      val dayNs = 86400L * 1000000000L
      val minTs = t.agg(min("ts")).first().getLong(0)
      graft.sources.Store.readRange(s, tmp, minTs + 7 * dayNs, minTs + 14 * dayNs)
        .select(col("ts"), col("id"), r6(col("price")).as("price"),
          r6(col("qty")).as("qty"), col("symbol"))
    }),

    // BUCKETED layout lifecycle: trades written bucketBy(symbol) +
    // sortBy(symbol, ts, id), read back through the catalog, per-(symbol,
    // day) roll-up — the co-located 100 TB layout. The roll-up plans with
    // ZERO shuffle (bucket distribution satisfies the grouping; StoreSpec
    // asserts no Exchange) and the result hash-matches the raw-events
    // oracle, proving the bucketed files carry exactly the canonical rows.
    "store_bucketed_sym" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_bucketed_${StreamQueries.runId}").getAbsolutePath
      graft.sources.Store.saveBucketed(trades(s, dir), s"graft_gate_bucketed_trades_${StreamQueries.runId}",
        tmp, buckets = 8, Seq("symbol"), Seq("symbol", "ts", "id"))
      val dayNs = 86400L * 1000000000L
      s.table(s"graft_gate_bucketed_trades_${StreamQueries.runId}")
        .groupBy(col("symbol"), expr(s"ts div ${dayNs}L").as("day"))
        .agg(
          count(lit(1)).as("rows"),
          min("ts").as("first_ts"),
          max("ts").as("last_ts"),
          r6(min("price")).as("min_price"),
          r6(max("price")).as("max_price"),
          dsum(col("qty")).as("total_qty"))
    }),

    // Monthly catalog report (§2.1 H5Inspector.get_statistics): the same
    // aggregation Store.monthlyStats runs over the partitioned layout.
    "catalog_months" -> ((s, dir) =>
      graft.sources.Store.monthlyStats(trades(s, dir)).select(
        col("month"), col("rows"), col("first_ts"), col("last_ts"),
        r6(col("min_price")).as("min_price"), r6(col("max_price")).as("max_price"),
        r6(col("total_qty")).as("total_qty"))),

    // END-TO-END compaction lifecycle: the store is fragmented by five
    // modulo-sliced appends, compacted back to one file per month, and the
    // catalog over the compacted table must STILL hash-match the oracle
    // computed from the raw events — a compaction that drops, duplicates
    // or corrupts rows fails here, not just in StoreSpec.
    "store_compact_catalog" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_compact_${StreamQueries.runId}").getAbsolutePath
      val t = trades(s, dir)
      graft.sources.Store.saveMonthly(t.where(col("id") % 5 === 0), tmp)
      (1 to 4).foreach(k => graft.sources.Store.saveMonthly(
        t.where(col("id") % 5 === k), tmp, mode = "append"))
      graft.sources.Store.compact(s, tmp)
      graft.sources.Store.monthlyStats(s.read.parquet(tmp).drop("month"))
        .select(
          col("month"), col("rows"), col("first_ts"), col("last_ts"),
          r6(col("min_price")).as("min_price"), r6(col("max_price")).as("max_price"),
          r6(col("total_qty")).as("total_qty"))
    }),

    // END-TO-END CSV ingest (§2.1 binance2h5 core): canonical trades are
    // round-tripped through the Binance aggTrades positional CSV format —
    // written WITH header lines (one per part file) that the tolerant
    // coercion must drop — then re-read, unit-inferred to ns, sided from
    // the maker flag and id-deduped. A parse/coercion/unit bug fails here
    // against the raw-events oracle, not just in TradesSpec. Java's
    // Double.toString guarantees parse-exact round-trips, so price/qty
    // hash-match bit-for-bit.
    "ingest_csv_canonical" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_csv_${StreamQueries.runId}").getAbsolutePath
      trades(s, dir).select(
          col("id"), col("price"), col("qty"),
          (col("price") * col("qty")).as("quoteQty"), col("ts").as("time"),
          (col("id") % 2 === 0).cast("string").as("isBuyerMaker"),
          lit("true").as("isBestMatch"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      graft.sources.Ingest.canonicalize(
          graft.sources.Ingest.readAggTradesCsv(s, tmp))
        .select(col("ts"), col("id"), r6(col("price")).as("price"),
          r6(col("qty")).as("qty"), col("symbol"), col("side"))
    }),

    // Timestamp-resolution quantization (§2.2 _apply_timestamp_resolution):
    // ts floored to a 1 s grid — the whole stream, hash-matched.
    "trades_ts_resolution" -> ((s, dir) =>
      Trades.applyResolution(trades(s, dir), 1000000000L).select(
        col("ts"), col("id"), r6(col("price")).as("price"),
        r6(col("qty")).as("qty"), col("symbol"))),

    // Monotonic-timestamp check (§2.2 check_timestamps_order) over the real
    // stream: parallel per-partition compares + boundary roll-up must agree
    // with the oracle's sequential lag scan. (The violation branch is
    // pinned by TradesSpec's mid-partition swap cases.)
    "integrity_ts_order" -> ((s, dir) =>
      Trades.checkTimestampsOrder(trades(s, dir)))
  )

  /** Shared by `catalog_months` and the `store_roundtrip_catalog` /
    * `store_compact_catalog` lifecycle gates: write→read (and
    * fragment→compact→read) must be lossless, so the same SQL is the
    * truth for all three.
    */
  private val catalogSql: String =
    s"""WITH $tradesCte
       |SELECT strftime(make_timestamp(ts // 1000), '%Y-%m') AS month,
       |       CAST(count(*) AS BIGINT) AS rows,
       |       min(ts) AS first_ts, max(ts) AS last_ts,
       |       ${rd("min(price)")} AS min_price, ${rd("max(price)")} AS max_price,
       |       ${rd(dsumSql("qty"))} AS total_qty
       |FROM trades GROUP BY 1""".stripMargin

  /** Shared by `resample_1h_to_1d` and the `store_readback_1d` lifecycle
    * gate (trades store → bars store → ranged daily read): both must equal
    * the direct computation from raw events.
    */
  private val resample1dSql: String = {
    val iv = 86400L * 1000000000L
    s"""WITH $tradesCte, ${barsCte(3600)},
       |mx AS (SELECT (max(ts) // $iv) * $iv AS end_ns FROM trades),
       |src AS (
       |  SELECT *, ((bar_ts + ${iv - 1}) // $iv) * $iv AS rs_ts,
       |    sum(CAST(trades AS DOUBLE)) OVER (PARTITION BY ((bar_ts + ${iv - 1}) // $iv) * $iv
       |      ORDER BY median_trade_size, bar_ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
       |    sum(CAST(trades AS DOUBLE)) OVER (PARTITION BY ((bar_ts + ${iv - 1}) // $iv) * $iv) AS totw
       |  FROM bars WHERE trades > 0
       |)
       |SELECT rs_ts,
       |  ${rd("arg_min(open, bar_ts)")} AS open, ${rd("max(high)")} AS high,
       |  ${rd("min(low)")} AS low, ${rd("arg_max(close, bar_ts)")} AS close,
       |  ${rd("sum(volume)")} AS volume, CAST(sum(trades) AS BIGINT) AS trades,
       |  ${rd("min(CASE WHEN cumw >= totw * 0.5 THEN median_trade_size END)")} AS median_trade_size,
       |  ${q6Sql(s"${m6Sql("vwap * volume")} / ${m6Sql("volume")}")} AS vwap
       |FROM src, mx WHERE rs_ts <= end_ns GROUP BY rs_ts""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "store_roundtrip_catalog" -> catalogSql,
    "store_readback_1d" -> resample1dSql,
    "store_bucketed_sym" ->
      s"""WITH $tradesCte
         |SELECT symbol, ts // 86400000000000 AS day,
         |  CAST(count(*) AS BIGINT) AS rows,
         |  min(ts) AS first_ts, max(ts) AS last_ts,
         |  ${rd("min(price)")} AS min_price, ${rd("max(price)")} AS max_price,
         |  ${dsumSql("qty")} AS total_qty
         |FROM trades GROUP BY 1, 2""".stripMargin,

    "store_readrange_prune" -> {
      val dayNs = 86400L * 1000000000L
      s"""WITH $tradesCte,
         |b AS (SELECT min(ts) AS mn FROM trades)
         |SELECT ts, id, ${rd("price")} AS price, ${rd("qty")} AS qty, symbol
         |FROM trades, b
         |WHERE ts BETWEEN mn + ${7 * dayNs} AND mn + ${14 * dayNs}""".stripMargin
    },
    "trades_canonical" ->
      s"""WITH $tradesCte, $sidedCte
         |SELECT ts, id, ${rd("price")} AS price, ${rd("qty")} AS qty, symbol, side
         |FROM sided""".stripMargin,

    "trades_split_merge" ->
      s"""WITH $tradesCte, $sidedCte
         |SELECT ts, ${rd("price")} AS price, side, ${rd("sum(qty)")} AS qty,
         |       min(id) AS id, min(symbol) AS symbol, CAST(count(*) AS BIGINT) AS merged
         |FROM sided GROUP BY ts, price, side""".stripMargin,

    "trades_split_merge_sym" ->
      s"""WITH $tradesCte,
         |$symSidedCte
         |SELECT symbol, ts, ${rd("price")} AS price, side, ${rd("sum(qty)")} AS qty,
         |       min(id) AS id, CAST(count(*) AS BIGINT) AS merged
         |FROM sided GROUP BY symbol, ts, price, side""".stripMargin,

    "time_bars_5m" ->
      s"""WITH $tradesCte, ${barsCte(300)}
         |SELECT bar_ts, ${rd("open")} AS open, ${rd("high")} AS high,
         |       ${rd("low")} AS low, ${rd("close")} AS close,
         |       ${rd("volume")} AS volume, trades,
         |       ${rd("median_trade_size")} AS median_trade_size, ${q6Sql("vwap")} AS vwap
         |FROM bars""".stripMargin,

    "time_bars_1d_sym" -> {
      val iv = 86400L * 1000000000L
      s"""WITH $tradesCte,
         |bars0 AS (
         |  SELECT symbol, ((ts + ${iv - 1}) // $iv) * $iv AS bar_ts,
         |         first(price ORDER BY ts, id) AS open, max(price) AS high,
         |         min(price) AS low, last(price ORDER BY ts, id) AS close,
         |         sum(qty) AS volume, CAST(count(*) AS BIGINT) AS trades,
         |         median(qty) AS median_trade_size,
         |         ${m6Sql("price * qty")} / ${m6Sql("qty")} AS vwap
         |  FROM trades GROUP BY 1, 2
         |), bounds AS (
         |  SELECT symbol, (min(ts) // $iv + 1) * $iv AS lo,
         |         ((max(ts) + ${iv - 1}) // $iv) * $iv AS hi
         |  FROM trades GROUP BY symbol
         |), grid AS (
         |  SELECT symbol, unnest(generate_series(lo, hi, $iv)) AS bar_ts FROM bounds
         |), filled AS (
         |  SELECT g.symbol AS symbol, g.bar_ts AS bar_ts, b.open, b.high,
         |         b.low, b.close, b.volume, b.trades, b.median_trade_size,
         |         b.vwap,
         |         last_value(b.close IGNORE NULLS) OVER (
         |           PARTITION BY g.symbol ORDER BY g.bar_ts
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc
         |  FROM grid g LEFT JOIN bars0 b
         |    ON g.symbol = b.symbol AND g.bar_ts = b.bar_ts
         |)
         |SELECT symbol, bar_ts,
         |  ${rd("coalesce(open, pc)")} AS open, ${rd("coalesce(high, pc)")} AS high,
         |  ${rd("coalesce(low, pc)")} AS low, ${rd("coalesce(close, pc)")} AS close,
         |  ${rd("coalesce(volume, 0.0)")} AS volume,
         |  CAST(coalesce(trades, 0) AS BIGINT) AS trades,
         |  ${rd("coalesce(median_trade_size, 0.0)")} AS median_trade_size,
         |  ${q6Sql("coalesce(vwap, 0.0)")} AS vwap
         |FROM filled""".stripMargin
    },

    "time_bars_directional_1h" -> {
      val iv = 3600L * 1000000000L
      s"""WITH $tradesCte, $sidedCte,
         |flagged AS (
         |  SELECT *,
         |    ((ts + ${iv - 1}) // $iv) * $iv AS bar_ts,
         |    side <> lag(side) OVER (ORDER BY ts, id) AS flip,
         |    abs(price - lag(price) OVER (ORDER BY ts, id)) AS spr,
         |    CASE WHEN side = 1 THEN 1 WHEN side = -1 THEN -1 ELSE 0 END AS st
         |  FROM sided
         |), cum AS (
         |  SELECT *,
         |    sum(st) OVER w AS cum_ticks,
         |    sum(st * qty) OVER w AS cum_vol,
         |    sum(st * price * qty) OVER w AS cum_dollar
         |  FROM flagged
         |  WINDOW w AS (PARTITION BY bar_ts ORDER BY ts, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT bar_ts,
         |  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ticks_buy,
         |  CAST(sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT) AS ticks_sell,
         |  ${rd("sum(CASE WHEN side = 1 THEN qty ELSE 0.0 END)")} AS volume_buy,
         |  ${rd("sum(CASE WHEN side = -1 THEN qty ELSE 0.0 END)")} AS volume_sell,
         |  ${rd("sum(CASE WHEN side = 1 THEN price * qty ELSE 0.0 END)")} AS dollars_buy,
         |  ${rd("sum(CASE WHEN side = -1 THEN price * qty ELSE 0.0 END)")} AS dollars_sell,
         |  ${rd("CAST(sum(CAST((CASE WHEN flip THEN spr ELSE 0.0 END) AS DECIMAL(18,6))) AS DOUBLE) / sum(CASE WHEN side <> 0 THEN 1 ELSE 0 END)")} AS mean_spread,
         |  ${rd("max(coalesce(CASE WHEN flip THEN spr END, 0.0))")} AS max_spread,
         |  CAST(min(CASE WHEN side <> 0 THEN cum_ticks END) AS BIGINT) AS cum_ticks_min,
         |  CAST(max(CASE WHEN side <> 0 THEN cum_ticks END) AS BIGINT) AS cum_ticks_max,
         |  ${rd("min(CASE WHEN side <> 0 THEN cum_vol END)")} AS cum_volume_min,
         |  ${rd("max(CASE WHEN side <> 0 THEN cum_vol END)")} AS cum_volume_max,
         |  ${rd("min(CASE WHEN side <> 0 THEN cum_dollar END)")} AS cum_dollars_min,
         |  ${rd("max(CASE WHEN side <> 0 THEN cum_dollar END)")} AS cum_dollars_max
         |FROM cum GROUP BY bar_ts""".stripMargin
    },

    "time_bars_directional_sym" -> {
      val iv = 86400L * 1000000000L
      s"""WITH $tradesCte,
         |$symSidedCte,
         |flagged AS (
         |  SELECT *,
         |    ((ts + ${iv - 1}) // $iv) * $iv AS bar_ts,
         |    side <> lag(side) OVER (PARTITION BY symbol ORDER BY ts, id) AS flip,
         |    abs(price - lag(price) OVER (PARTITION BY symbol ORDER BY ts, id)) AS spr,
         |    CASE WHEN side = 1 THEN 1 WHEN side = -1 THEN -1 ELSE 0 END AS st
         |  FROM sided
         |), cum AS (
         |  SELECT *, sum(st) OVER w AS cum_ticks
         |  FROM flagged
         |  WINDOW w AS (PARTITION BY symbol, bar_ts ORDER BY ts, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT symbol, bar_ts,
         |  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ticks_buy,
         |  CAST(sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT) AS ticks_sell,
         |  ${rd("sum(CASE WHEN side = 1 THEN qty ELSE 0.0 END)")} AS volume_buy,
         |  ${rd("sum(CASE WHEN side = -1 THEN qty ELSE 0.0 END)")} AS volume_sell,
         |  ${rd("CAST(sum(CAST((CASE WHEN flip THEN spr ELSE 0.0 END) AS DECIMAL(18,6))) AS DOUBLE) / sum(CASE WHEN side <> 0 THEN 1 ELSE 0 END)")} AS mean_spread,
         |  ${rd("max(coalesce(CASE WHEN flip THEN spr END, 0.0))")} AS max_spread,
         |  CAST(min(CASE WHEN side <> 0 THEN cum_ticks END) AS BIGINT) AS cum_ticks_min,
         |  CAST(max(CASE WHEN side <> 0 THEN cum_ticks END) AS BIGINT) AS cum_ticks_max
         |FROM cum GROUP BY symbol, bar_ts""".stripMargin
    },

    "time_bars_size_1h" -> {
      val iv = 3600L * 1000000000L
      s"""WITH $tradesCte,
         |theta AS (SELECT CAST(sum(CAST((qty) AS DECIMAL(18,6))) AS DOUBLE) / count(*) * CAST(5.0 AS DOUBLE) AS thr FROM trades)
         |SELECT ((ts + ${iv - 1}) // $iv) * $iv AS bar_ts,
         |  ${rd("ln(1 + CAST(sum(CAST((qty) AS DECIMAL(18,6))) AS DOUBLE) / count(*) / thr)")} AS mean_size_rel,
         |  ${rd("ln(1 + quantile_cont(qty, 0.95) / thr)")} AS size_95_rel,
         |  ${rd("CAST(sum(CAST((CASE WHEN qty > thr THEN qty ELSE 0.0 END) AS DECIMAL(18,6))) AS DOUBLE) / CAST(sum(CAST((qty) AS DECIMAL(18,6))) AS DOUBLE)")} AS pct_block,
         |  ${rd("CASE WHEN count(*) = 1 THEN 0.0 ELSE 1.0 - CAST(sum(CAST((qty * qty) AS DECIMAL(18,6))) AS DOUBLE) / (CAST(sum(CAST((qty) AS DECIMAL(18,6))) AS DOUBLE) * CAST(sum(CAST((qty) AS DECIMAL(18,6))) AS DOUBLE)) END")} AS size_gini
         |FROM trades, theta
         |GROUP BY 1, thr""".stripMargin
    },

    "time_bars_size_sym" -> {
      val iv = 86400L * 1000000000L
      s"""WITH $tradesCte,
         |theta AS (SELECT symbol, CAST(sum(CAST((qty) AS DECIMAL(18,6))) AS DOUBLE) / count(*) * CAST(5.0 AS DOUBLE) AS thr
         |          FROM trades GROUP BY symbol)
         |SELECT symbol, ((ts + ${iv - 1}) // $iv) * $iv AS bar_ts,
         |  ${rd("ln(1 + CAST(sum(CAST((qty) AS DECIMAL(18,6))) AS DOUBLE) / count(*) / thr)")} AS mean_size_rel,
         |  ${rd("ln(1 + quantile_cont(qty, 0.95) / thr)")} AS size_95_rel,
         |  ${rd("CAST(sum(CAST((CASE WHEN qty > thr THEN qty ELSE 0.0 END) AS DECIMAL(18,6))) AS DOUBLE) / CAST(sum(CAST((qty) AS DECIMAL(18,6))) AS DOUBLE)")} AS pct_block,
         |  ${rd("CASE WHEN count(*) = 1 THEN 0.0 ELSE 1.0 - CAST(sum(CAST((qty * qty) AS DECIMAL(18,6))) AS DOUBLE) / (CAST(sum(CAST((qty) AS DECIMAL(18,6))) AS DOUBLE) * CAST(sum(CAST((qty) AS DECIMAL(18,6))) AS DOUBLE)) END")} AS size_gini
         |FROM trades t JOIN theta USING (symbol)
         |GROUP BY 1, 2, thr""".stripMargin
    },

    "resample_5m_to_1h" -> {
      val iv = 3600L * 1000000000L
      s"""WITH $tradesCte, ${barsCte(300)},
         |src AS (
         |  SELECT *, ((bar_ts + ${iv - 1}) // $iv) * $iv AS rs_ts,
         |    sum(CAST(trades AS DOUBLE)) OVER (PARTITION BY ((bar_ts + ${iv - 1}) // $iv) * $iv
         |      ORDER BY median_trade_size, bar_ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         |    sum(CAST(trades AS DOUBLE)) OVER (PARTITION BY ((bar_ts + ${iv - 1}) // $iv) * $iv) AS totw
         |  FROM bars WHERE trades > 0
         |)
         |SELECT rs_ts,
         |  ${rd("arg_min(open, bar_ts)")} AS open, ${rd("max(high)")} AS high,
         |  ${rd("min(low)")} AS low, ${rd("arg_max(close, bar_ts)")} AS close,
         |  ${rd("sum(volume)")} AS volume, CAST(sum(trades) AS BIGINT) AS trades,
         |  ${rd("min(CASE WHEN cumw >= totw * 0.5 THEN median_trade_size END)")} AS median_trade_size,
         |  ${q6Sql(s"${m6Sql("vwap * volume")} / ${m6Sql("volume")}")} AS vwap
         |FROM src GROUP BY 1""".stripMargin
    },

    "resample_1d_to_1w_sym" -> {
      val dv = 86400L * 1000000000L
      val wv = 7L * dv
      // the engine resamples FILLED per-symbol daily bars, but resample
      // filters trades > 0, which strips every filled empty — so the
      // oracle can work from the raw per-symbol daily aggregation
      s"""WITH $tradesCte,
         |bars0 AS (
         |  SELECT symbol, ((ts + ${dv - 1}) // $dv) * $dv AS bar_ts,
         |         first(price ORDER BY ts, id) AS open, max(price) AS high,
         |         min(price) AS low, last(price ORDER BY ts, id) AS close,
         |         sum(qty) AS volume, CAST(count(*) AS BIGINT) AS trades,
         |         median(qty) AS median_trade_size,
         |         ${m6Sql("price * qty")} / ${m6Sql("qty")} AS vwap
         |  FROM trades GROUP BY 1, 2
         |),
         |src AS (
         |  SELECT *, ((bar_ts + ${wv - 1}) // $wv) * $wv AS rs_ts,
         |    sum(CAST(trades AS DOUBLE)) OVER (
         |      PARTITION BY symbol, ((bar_ts + ${wv - 1}) // $wv) * $wv
         |      ORDER BY median_trade_size, bar_ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         |    sum(CAST(trades AS DOUBLE)) OVER (
         |      PARTITION BY symbol, ((bar_ts + ${wv - 1}) // $wv) * $wv) AS totw
         |  FROM bars0
         |)
         |SELECT symbol, rs_ts,
         |  ${rd("arg_min(open, bar_ts)")} AS open, ${rd("max(high)")} AS high,
         |  ${rd("min(low)")} AS low, ${rd("arg_max(close, bar_ts)")} AS close,
         |  ${rd("sum(volume)")} AS volume, CAST(sum(trades) AS BIGINT) AS trades,
         |  ${rd("min(CASE WHEN cumw >= totw * 0.5 THEN median_trade_size END)")} AS median_trade_size,
         |  ${q6Sql(s"${m6Sql("vwap * volume")} / ${m6Sql("volume")}")} AS vwap
         |FROM src GROUP BY symbol, rs_ts""".stripMargin
    },

    "resample_1h_to_1d" -> resample1dSql,

    "integrity_time_gaps" ->
      s"""WITH $tradesCte
         |SELECT prev_ts AS gap_start, ts AS gap_end, ${rd("(ts - prev_ts) / 1e9")} AS gap_sec
         |FROM (SELECT ts, lag(ts) OVER (ORDER BY ts, id) AS prev_ts FROM trades)
         |WHERE ts - prev_ts > ${3600L * 1000000000L}""".stripMargin,

    "integrity_time_gaps_sym" ->
      s"""WITH $tradesCte
         |SELECT symbol, prev_ts AS gap_start, ts AS gap_end,
         |       ${rd("(ts - prev_ts) / 1e9")} AS gap_sec
         |FROM (SELECT symbol, ts,
         |        lag(ts) OVER (PARTITION BY symbol ORDER BY ts, id) AS prev_ts
         |      FROM trades)
         |WHERE ts - prev_ts > ${3L * 86400L * 1000000000L}""".stripMargin,

    "integrity_id_gaps" ->
      """WITH trades AS (
        |  SELECT epoch_ns(ts) AS ts, event_id AS id FROM events WHERE event_type <> 'error' AND value > 0
        |)
        |SELECT prev_id, id, id - prev_id - 1 AS missing, prev_ts, ts
        |FROM (SELECT id, ts, lag(id) OVER (ORDER BY id) AS prev_id,
        |             lag(ts) OVER (ORDER BY id) AS prev_ts FROM trades)
        |WHERE id - prev_id > 1""".stripMargin,

    "integrity_summary" ->
      s"""WITH trades AS (
         |  SELECT epoch_ns(ts) AS ts, event_id AS id FROM events WHERE event_type <> 'error' AND value > 0
         |),
         |g AS (
         |  SELECT ts, id,
         |    strftime(make_timestamp(ts // 1000), '%Y-%m') AS month,
         |    id - lag(id) OVER (ORDER BY id) - 1 AS gap,
         |    ts - lag(ts) OVER (ORDER BY ts, id) AS tgap
         |  FROM trades
         |)
         |SELECT month, CAST(count(*) AS BIGINT) AS rows,
         |  min(ts) AS first_ts, max(ts) AS last_ts,
         |  CAST(sum(CASE WHEN gap > 0 THEN gap ELSE 0 END) AS BIGINT) AS missing_ids,
         |  CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS discontinuities,
         |  CAST(sum(CASE WHEN tgap > ${3600L * 1000000000L} THEN 1 ELSE 0 END) AS BIGINT) AS time_gaps,
         |  CAST(max(CASE WHEN tgap > ${3600L * 1000000000L} THEN tgap ELSE 0 END) AS BIGINT) AS max_time_gap_ns,
         |  ${rd("sum(CASE WHEN gap > 0 THEN gap ELSE 0 END) * 100.0 / (sum(CASE WHEN gap > 0 THEN gap ELSE 0 END) + count(*))")} AS missing_pct,
         |  sum(CASE WHEN gap > 0 THEN gap ELSE 0 END) = 0
         |    AND sum(CASE WHEN tgap > ${3600L * 1000000000L} THEN 1 ELSE 0 END) = 0 AS data_integrity_ok
         |FROM g GROUP BY month""".stripMargin,

    "integrity_summary_sym" ->
      s"""WITH trades AS (
         |  SELECT epoch_ns(ts) AS ts, event_id AS id, user_id AS symbol
         |  FROM events WHERE event_type <> 'error' AND value > 0
         |),
         |g AS (
         |  SELECT symbol, ts, id,
         |    strftime(make_timestamp(ts // 1000), '%Y-%m') AS month,
         |    id - lag(id) OVER (PARTITION BY symbol ORDER BY id) - 1 AS gap,
         |    ts - lag(ts) OVER (PARTITION BY symbol ORDER BY ts, id) AS tgap
         |  FROM trades
         |)
         |SELECT symbol, month, CAST(count(*) AS BIGINT) AS rows,
         |  min(ts) AS first_ts, max(ts) AS last_ts,
         |  CAST(sum(CASE WHEN gap > 0 THEN gap ELSE 0 END) AS BIGINT) AS missing_ids,
         |  CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS discontinuities,
         |  CAST(sum(CASE WHEN tgap > ${3600L * 1000000000L} THEN 1 ELSE 0 END) AS BIGINT) AS time_gaps,
         |  CAST(max(CASE WHEN tgap > ${3600L * 1000000000L} THEN tgap ELSE 0 END) AS BIGINT) AS max_time_gap_ns,
         |  ${rd("sum(CASE WHEN gap > 0 THEN gap ELSE 0 END) * 100.0 / (sum(CASE WHEN gap > 0 THEN gap ELSE 0 END) + count(*))")} AS missing_pct,
         |  sum(CASE WHEN gap > 0 THEN gap ELSE 0 END) = 0
         |    AND sum(CASE WHEN tgap > ${3600L * 1000000000L} THEN 1 ELSE 0 END) = 0 AS data_integrity_ok
         |FROM g GROUP BY symbol, month""".stripMargin,

    "tick_size_gcd" ->
      s"""WITH $tradesCte,
         |sample AS (SELECT DISTINCT round(price, 12) AS p
         |           FROM (SELECT price FROM trades ORDER BY ts, id LIMIT 10000)),
         |diffs AS (
         |  SELECT np - p AS d FROM (
         |    SELECT p, lead(p) OVER (ORDER BY p) AS np FROM sample)
         |  WHERE np IS NOT NULL AND np > p
         |),
         |scaled AS (
         |  SELECT pow(10.0, -floor(log10(min(d)))) AS scale,
         |         list(d) AS ds
         |  FROM diffs
         |)
         |SELECT ${rd("list_reduce(list_transform(ds, d -> CAST(round(d * scale) AS BIGINT)), (a, b) -> gcd(a, b)) / scale")} AS tick_size
         |FROM scaled""".stripMargin,

    "tick_size_median_legacy" ->
      s"""WITH $tradesCte,
         |sample AS (SELECT DISTINCT round(price, 12) AS p
         |           FROM (SELECT price FROM trades ORDER BY ts, id LIMIT 10000)),
         |diffs AS (
         |  SELECT np - p AS d FROM (
         |    SELECT p, lead(p) OVER (ORDER BY p) AS np FROM sample)
         |  WHERE np IS NOT NULL AND np > p
         |),
         |m AS (SELECT median(d) AS pts FROM diffs)
         |SELECT ${rd("CASE WHEN pts IS NULL OR pts = 0.0 THEN 0.0 ELSE floor(pts * pow(10.0, 1.0 - floor(log10(abs(pts)))) + 0.5) / pow(10.0, 1.0 - floor(log10(abs(pts)))) END")} AS tick_size
         |FROM m""".stripMargin,

    "catalog_months" -> catalogSql,
    "store_compact_catalog" -> catalogSql,

    // CSV round-trip is lossless (Double.toString parse-exact), the maker
    // flag is id%2, the ingest symbol defaults to 0 — the canonical stream
    // itself is the truth.
    "ingest_csv_canonical" ->
      s"""WITH $tradesCte
         |SELECT ts, id, ${rd("price")} AS price, ${rd("qty")} AS qty,
         |       CAST(0 AS BIGINT) AS symbol,
         |       CAST(CASE WHEN id % 2 = 0 THEN -1 ELSE 1 END AS INT) AS side
         |FROM trades""".stripMargin,

    "trades_ts_resolution" ->
      s"""WITH $tradesCte
         |SELECT (ts // 1000000000) * 1000000000 AS ts, id,
         |       ${rd("price")} AS price, ${rd("qty")} AS qty, symbol
         |FROM trades""".stripMargin,

    "integrity_ts_order" ->
      s"""WITH $tradesCte
         |SELECT coalesce(bool_and(ts >= prev_ts), TRUE) AS is_sorted
         |FROM (SELECT ts, lag(ts) OVER (ORDER BY id, ts) AS prev_ts FROM trades)""".stripMargin
  )
}
