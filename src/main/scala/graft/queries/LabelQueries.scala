package graft.queries

import graft.Tables
import graft.trades.Trades
import graft.labels.{TripleBarrier, Weights}
import org.apache.spark.sql.functions._
import Q._

/** Labeling coverage (SURVEY.md §2.8): triple-barrier labels, meta-labels,
  * sweep-line concurrency, uniqueness / attribution / decay / class-balance
  * weights — every step oracle-checked end to end.
  */
object LabelQueries {

  private val vertNs = 86400000000000L // 24h vertical barrier
  private val top = 2.0
  private val bot = 1.5

  private def trades(s: org.apache.spark.sql.SparkSession, dir: String) =
    Trades.fromEvents(Tables.events(s, dir))

  private def labeled(s: org.apache.spark.sql.SparkSession, dir: String,
                      isMeta: Boolean) = {
    val t = trades(s, dir)
    TripleBarrier.label(t, TripleBarrier.syntheticEvents(t),
      top, bot, vertBarrierSec = 86400.0, minCloseSec = 0.0,
      minRet = 0.02, isMeta = isMeta)
  }

  val queries: Map[String, QueryFn] = Map(
    "tbm_labels" -> ((s, dir) =>
      labeled(s, dir, isMeta = false).select(
        col("event_ts"), col("event_id"), col("label"), col("touch_ts"),
        r6(col("ret")).as("ret"),
        r6(col("vertical_touch_weight")).as("vertical_touch_weight"))),

    "tbm_meta_labels" -> ((s, dir) =>
      labeled(s, dir, isMeta = true).select(
        col("event_ts"), col("event_id"), col("label"), col("touch_ts"),
        r6(col("ret")).as("ret"))),

    // min_ret event preprocessing actually filtering: with tgt in
    // [0.05, 0.11] and max_mult = 2, min_ret = 0.14 drops tgt < 0.07.
    "tbm_labels_minret" -> ((s, dir) => {
      val t = trades(s, dir)
      TripleBarrier.label(t, TripleBarrier.syntheticEvents(t),
        top, bot, vertBarrierSec = 86400.0, minCloseSec = 0.0,
        minRet = 0.14, isMeta = false).select(
        col("event_ts"), col("event_id"), col("label"), col("touch_ts"),
        r6(col("ret")).as("ret"))
    }),

    "label_concurrency" -> ((s, dir) => {
      val t = trades(s, dir)
      // The event table is tiny (|trades|/29) but expensive to derive —
      // persist it so the marker scans in the sweep don't re-run TBM.
      Weights.concurrency(t,
          labeled(s, dir, isMeta = false).persist(graft.Conf.storageLevel))
        .select(col("ts"), col("id"), col("concurrency"))
    }),

    // Symbol-partitioned TBM: barriers walk only the event's own symbol's
    // trades, end-of-data cutoff per symbol (7-day vertical barrier — the
    // per-symbol stream is ~2 trades/day in the synthetic data).
    "tbm_labels_sym" -> ((s, dir) => {
      val t = trades(s, dir)
      val ev = t.where(col("id") % 29 === 0).select(
        col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
        col("price").as("p0"),
        (lit(0.05) + (col("id") % 7).cast("double") * lit(0.01)).as("tgt"))
      TripleBarrier.label(t, ev, top, bot, vertBarrierSec = 7 * 86400.0,
          minCloseSec = 0.0, minRet = 0.02, isMeta = false,
          partCols = Seq("symbol"))
        .select(col("symbol"), col("event_ts"), col("event_id"), col("label"),
          col("touch_ts"), r6(col("ret")).as("ret"),
          r6(col("vertical_touch_weight")).as("vertical_touch_weight"))
    }),

    // The 100 TB daily-labeling JOB SHAPE (round-7 ask): the SAME keyed
    // TBM chain, but trades come from the symbol-BUCKETED store table
    // instead of raw events — event derivation, the per-symbol
    // end-of-data cutoff aggregation and the path join all start from the
    // bucketed distribution, so the trades side reaches the event range
    // join with ZERO Exchange (the bucket spec satisfies every
    // symbol-subset clustering; PlanSpec pins it). Shares tbm_labels_sym's
    // oracle verbatim: the layout is physical, not semantic.
    "tbm_labels_sym_store" -> ((s, dir) => {
      val name = s"graft_gate_bucketed_tbm_${StreamQueries.runId}"
      val tmp = new java.io.File(sys.props("java.io.tmpdir"), name)
        .getAbsolutePath
      graft.sources.Store.saveBucketed(trades(s, dir), name, tmp,
        buckets = 8, Seq("symbol"), Seq("symbol", "ts", "id"))
      val t = s.table(name)
      val ev = t.where(col("id") % 29 === 0).select(
        col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
        col("price").as("p0"),
        (lit(0.05) + (col("id") % 7).cast("double") * lit(0.01)).as("tgt"))
      TripleBarrier.label(t, ev, top, bot, vertBarrierSec = 7 * 86400.0,
          minCloseSec = 0.0, minRet = 0.02, isMeta = false,
          partCols = Seq("symbol"))
        .select(col("symbol"), col("event_ts"), col("event_id"), col("label"),
          col("touch_ts"), r6(col("ret")).as("ret"),
          r6(col("vertical_touch_weight")).as("vertical_touch_weight"))
    }),

    // Symbol-partitioned sweep: per-symbol synthetic intervals prove the
    // partCols path (shuffle-parallel, no single global sort).
    "label_concurrency_sym" -> ((s, dir) => {
      val t = trades(s, dir)
      val ev = t.where(col("id") % 37 === 0).select(
        col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
        (col("ts") + lit(7200000000000L)).as("touch_ts"))
      Weights.concurrency(t, ev, Seq("symbol"))
        .select(col("symbol"), col("ts"), col("id"), col("concurrency"))
    }),

    // Symbol-partitioned uniqueness/attribution sweep: the keyed
    // eventWeights path (shuffle-parallel by symbol, no global sort).
    "label_weights_sym" -> ((s, dir) => {
      val t = trades(s, dir)
      val ev = t.where(col("id") % 37 === 0).select(
        col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
        (col("ts") + lit(7200000000000L)).as("touch_ts"))
      Weights.eventWeights(t, ev, Seq("symbol"))
        .select(col("symbol"), col("event_id"), col("event_ts"), col("touch_ts"),
          r6(col("avg_uniqueness")).as("avg_uniqueness"),
          r6(col("return_attribution")).as("return_attribution"))
    }),

    // The SKEW-SAFE keyed tier of the same two sweeps: reset-affine
    // range-partitioned scans instead of per-key windows — a heavy-hitter
    // symbol splits across partitions rather than serializing one task.
    // Shares label_concurrency_sym's / label_weights_sym's oracle texts
    // VERBATIM: the layout is physical, not semantic, and the hash proves
    // the two tiers agree to the last bit of the r6 normalization.
    "label_concurrency_sym_safe" -> ((s, dir) => {
      val t = trades(s, dir)
      val ev = t.where(col("id") % 37 === 0).select(
        col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
        (col("ts") + lit(7200000000000L)).as("touch_ts"))
      Weights.concurrency(t, ev, Seq("symbol"), skewSafe = Some(true))
        .select(col("symbol"), col("ts"), col("id"), col("concurrency"))
    }),

    "label_weights_sym_safe" -> ((s, dir) => {
      val t = trades(s, dir)
      val ev = t.where(col("id") % 37 === 0).select(
        col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
        (col("ts") + lit(7200000000000L)).as("touch_ts"))
      Weights.eventWeights(t, ev, Seq("symbol"), skewSafe = Some(true))
        .select(col("symbol"), col("event_id"), col("event_ts"), col("touch_ts"),
          r6(col("avg_uniqueness")).as("avg_uniqueness"),
          r6(col("return_attribution")).as("return_attribution"))
    }),

    // Keyed time decay: per-symbol cumulative-uniqueness windows — proves
    // the partCols path (shuffle-parallel, no single-partition exchange).
    "label_decay_sym" -> ((s, dir) => {
      val t = trades(s, dir)
      val ev = t.where(col("id") % 37 === 0).select(
        col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
        (col("ts") + lit(7200000000000L)).as("touch_ts"))
      val ew = Weights.eventWeights(t, ev, Seq("symbol"))
      Weights.withTimeDecay(ew, lastWeight = 0.5, Seq("symbol"))
        .select(col("symbol"), col("event_id"), col("event_ts"),
          r6(col("avg_uniqueness")).as("avg_uniqueness"),
          r6(col("time_decay")).as("time_decay"))
    }),

    // ONE end-to-end production lineage (round-8 verdict ask #1) — the
    // reference's canonical trades-side lifecycle as a single composition:
    // aggTrades CSV dump → canonical trades → monthly store
    // (scripts/binance2h5.py:144-215) → derived 5m bars materialized
    // beside the store (bar/io.py:441-565) → feature matrix through a
    // SERIALIZED DSL config (feature/kit.py:1014-1085) → adaptive-σ CUSUM
    // events on the bar closes (bar/kit.py:140-181) → triple-barrier
    // labels walked on the STORE trades → uniqueness / time-decay /
    // class-balance weights (label/kit.py:272-313). The oracle recomputes
    // the ENTIRE composition from the raw events, so drift in any stage —
    // ingest lossiness, store pruning, bar fill, feature naming, σ
    // replay, event preprocessing, barrier walk, weight normalization —
    // or in their ORDER fails the hash, not just the stage's own gate.
    "pipeline_e2e" -> ((s, dir) => {
      import graft.sources.{Ingest, Store}
      import graft.features.{Dsl, Ewm}
      import graft.bars.EventBars
      val rid = StreamQueries.runId
      def tmp(n: String) = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_e2e_${n}_$rid").getAbsolutePath
      // stages 1-2: CSV dump → tolerant parse → canonical → monthly store
      trades(s, dir).select(col("id"), col("price"), col("qty"),
          (col("price") * col("qty")).as("quoteQty"), col("ts").as("time"),
          (col("id") % 2 === 0).cast("string").as("isBuyerMaker"),
          lit("true").as("isBestMatch"))
        .write.mode("overwrite").option("header", "true").csv(tmp("csv"))
      Ingest.ingest(s, tmp("csv"), tmp("store"))
      // stage 3: derived 5m bars materialized beside the store
      Store.materializeBars(s, tmp("store"), tmp("bars"), intervalSec = 300)
      val bounds = s.read.parquet(tmp("store")).agg(min("ts"), max("ts")).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val ivNs = 300L * 1000000000L
      val tr = Store.readRange(s, tmp("store"), lo, hi).drop("month")
        .persist(graft.Conf.storageLevel)
      val bars = Store.readBars(s, tmp("bars"), 0L,
        ((hi + ivNs - 1) / ivNs) * ivNs, barSec = 300).drop("month")
      // stage 4: feature matrix through a serialized pipeline config
      val feats = Dsl.fromJson(Dsl.toJson(Seq(
        Dsl.col("close").logRet(1), Dsl.col("close").sma(20))))
      val fm = Dsl.build(bars, feats, Seq("bar_ts", "close", "volume"))
      // stage 5: adaptive-σ CUSUM event filter on the bar close series
      // (σ = time-decay EW std of log close, λ = max(2σ, 5e-4)); the DSL
      // feature columns ride the scan through to the fired events
      val btr = fm.select(col("bar_ts").as("ts"), col("bar_ts").as("id"),
          col("close").as("price"), col("volume").as("qty"),
          col("close_logret_1"), col("close_sma_20"))
        .withColumn("__lp", log(col("price")))
      val sig = Ewm.ewmstExact(btr, "__lp", ScanQueries.hlSec, out = "sigma")
        .drop("__lp")
      val fired = EventBars.cusumEventIds(sig, "sigma", 2.0, 5e-4,
          emitSlack = true)
        .persist(graft.Conf.storageLevel)
      // σ-replay margin guard (cusum_slack pattern): every fire decision
      // must clear the oracle's truncated-tail σ noise by ≥ 1e-9
      val msRow = fired.agg(
        min(nanvl(col("slack"), lit(null).cast("double")))).head()
      require(msRow.isNullAt(0) || msRow.getDouble(0) > 1e-9,
        s"pipeline_e2e cusum decision margin too tight: ${msRow.get(0)}")
      val ev = fired.where(col("is_event")).select(
        col("ts").as("event_ts"), col("id").as("event_id"),
        col("price").as("p0"), col("sigma").as("tgt"),
        col("close_logret_1").as("feat_logret"),
        col("close_sma_20").as("feat_sma20"))
        .persist(graft.Conf.storageLevel)
      // stage 6: TBM labels — barriers walk the STORE trades
      val lab = TripleBarrier.label(tr,
          ev.drop("feat_logret", "feat_sma20"), top, bot,
          vertBarrierSec = 86400.0, minCloseSec = 0.0, minRet = 0.002,
          isMeta = false)
        .persist(graft.Conf.storageLevel)
      // stage 7: uniqueness / attribution → time decay → normalization →
      // class balance (the label_weights chain on the pipeline's events)
      val ew = Weights.eventWeights(tr, lab)
      val dec = Weights.withTimeDecay(ew, lastWeight = 0.5)
      val withLab = dec.join(
          lab.select(col("event_id").as("eid"), col("label"), col("ret"),
            col("vertical_touch_weight")),
          col("eid") === col("event_id")).drop("eid")
        .withColumn("base", col("return_attribution") *
          col("vertical_touch_weight") * col("time_decay"))
      // 1-row totals — the sanctioned scalar broadcast
      val tot = withLab.agg(sum("base").as("__s"), count(lit(1)).as("__n"))
      val normed = withLab.crossJoin(broadcast(tot))
        .withColumn("base_norm", col("base") * col("__n") / col("__s"))
        .drop("__s", "__n", "base")
      Weights.withClassBalance(normed, "base_norm")
        .join(ev.select(col("event_id").as("eid"), col("feat_logret"),
          col("feat_sma20")), col("eid") === col("event_id")).drop("eid")
        .select(col("event_ts"), col("event_id"), col("label"),
          col("touch_ts"), r6(col("ret")).as("ret"),
          r6(col("feat_logret")).as("feat_logret"),
          r6(col("feat_sma20")).as("feat_sma20"),
          r6(col("avg_uniqueness")).as("avg_uniqueness"),
          r6(col("return_attribution")).as("return_attribution"),
          r6(col("time_decay")).as("time_decay"),
          r6(col("class_weight")).as("class_weight"),
          r6(col("weight")).as("weight"))
    }),

    "label_weights" -> ((s, dir) => {
      import graft.features.Scan
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.types.DoubleType
      val lastWeight = 0.5
      val t = trades(s, dir)
      val lab = labeled(s, dir, isMeta = false).persist(graft.Conf.storageLevel)
      val ew = Weights.eventWeights(t, lab)
      // Join the labels in BEFORE the decay scan and persist ONCE: the
      // scan and the class-balance branches all read this one
      // event-scaled cache (|trades|/29 rows), so the sweep runs exactly
      // once and no later pass replays the trade stream.
      val j = ew.join(
        lab.select(col("event_id").as("eid"), col("label"),
          col("vertical_touch_weight")),
        col("eid") === col("event_id")).drop("eid")
        .withColumn("av",
          col("return_attribution") * col("vertical_touch_weight"))
        .persist(graft.Conf.storageLevel)
      // ONE scan computes the decay prefix AND every normalization scalar
      // as final fold states — no separate aggregation pass:
      //   stage 1: cumU (running Σ avg_uniqueness), Σ av, n
      //   stage 2: Σ av·cumU  (reads stage-1 cumU)
      // With time_decay = c0 + slope·cumU (c0 = 1 − slope·totalU):
      //   Σ base = Σ av·time_decay = c0·Σav + slope·Σ(av·cumU) — exact from
      // the finals, so base_norm = av·time_decay·(n/Σbase) is a pure
      // projection over the scan output.
      val sch = j.schema
      val uIdx = sch.fieldIndex("avg_uniqueness")
      val avIdx = sch.fieldIndex("av")
      val keep = Scan.Affine(1.0, 0.0)
      val coefs1 = (r: InternalRow, _: InternalRow) => {
        val u = if (r.isNullAt(uIdx)) 0.0 else r.getDouble(uIdx)
        Array(Scan.Affine(1.0, u), Scan.Affine(1.0, r.getDouble(avIdx)),
          Scan.Affine(1.0, 1.0))
      }
      val coefs2 = (r: InternalRow, st1: Array[Double]) =>
        Array(Scan.Affine(1.0, r.getDouble(avIdx) * st1(0)))
      val (scanned, fin1, fin2) = Scan.affine2WithFinal(
        j, Seq("event_ts", "event_id"),
        n1 = 3, coefs1, init1 = Array(0.0, 0.0, 0.0),
        n2 = 1, coefs2, init2 = Array(0.0),
        emit = (st1, _, _) => st1(0),
        outName = "__cum", outType = DoubleType)
      val totalU = fin1(0)
      // the closed-form Σbase below assumes the decay is never clipped —
      // true for lastWeight ≥ 0 (decay ∈ [lastWeight, 1]); a negative
      // lastWeight clips at 0 and would need the clipped prefix folded
      require(lastWeight >= 0, "closed-form normalization needs lastWeight >= 0")
      val slope = (1.0 - lastWeight) / totalU
      val c0 = 1.0 - slope * totalU
      val sumBase = c0 * fin1(1) + slope * fin2(0)
      val normFactor = fin1(2) / sumBase
      // no clip: the require above already rejects lastWeight < 0 (the only
      // case where decay could go negative and need flooring at 0)
      val decayed = scanned
        .withColumn("time_decay", lit(c0) + lit(slope) * col("__cum"))
        .withColumn("base_norm",
          col("av") * col("time_decay") * lit(normFactor))
        .drop("__cum")
      Weights.withClassBalance(decayed, "base_norm").select(
        col("event_ts"), col("event_id"), col("label"),
        r6(col("avg_uniqueness")).as("avg_uniqueness"),
        r6(col("return_attribution")).as("return_attribution"),
        r6(col("time_decay")).as("time_decay"),
        r6(col("class_weight")).as("class_weight"),
        r6(col("weight")).as("weight"))
    })
  )

  // ---------------------------------------------------------------------
  // Oracles
  // ---------------------------------------------------------------------

  /** Shared TBM CTE chain; `sideExpr` is "1" (side prediction) or "eside";
    * `minRetFilter` mirrors the engine's event-preprocessing drop.
    */
  private def tbmCtes(sideExpr: String, minRetFilter: Double = 0.0): String =
    s"""ev AS (
       |  SELECT ts AS event_ts, id AS event_id, price AS p0,
       |         CAST(0.05 AS DOUBLE) + CAST(id % 7 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS tgt,
       |         CASE WHEN id % 2 = 0 THEN 1 ELSE -1 END AS eside
       |  FROM trades WHERE id % 29 = 0
       |),
       |ev2 AS (
       |  SELECT ev.*, ${D(top)} * tgt AS up, ${D(-bot)} * tgt AS lo
       |  FROM ev, (SELECT max(ts) AS mx FROM trades)
       |  WHERE event_ts + $vertNs <= mx
       |    AND abs(tgt) * ${D(math.max(top, bot))} >= ${D(minRetFilter)}
       |),
       |path AS (
       |  SELECT e.event_id, e.event_ts, e.up, e.lo, t.ts, t.id,
       |         (ln(t.price) - ln(e.p0)) * ($sideExpr) AS ret
       |  FROM ev2 e JOIN trades t
       |    ON t.ts > e.event_ts AND t.ts <= e.event_ts + $vertNs
       |),
       |p2a AS (
       |  SELECT event_id, event_ts,
       |         min(CASE WHEN ret >= up OR ret <= lo THEN ts END) AS touch0,
       |         max(ts) AS vert_ts,
       |         first(ret ORDER BY ts, id) FILTER (WHERE ret >= up OR ret <= lo) AS ret_breach,
       |         last(ret ORDER BY ts, id) AS ret_vert,
       |         coalesce(max(CASE WHEN ret > 0 THEN ret / up END), 0.0) AS max_urbr,
       |         coalesce(max(CASE WHEN ret < 0 THEN ret / lo END), 0.0) AS max_lrbr
       |  FROM path GROUP BY event_id, event_ts
       |),
       |p2 AS (
       |  SELECT *, coalesce(touch0, vert_ts) AS touch_ts,
       |         CASE WHEN touch0 IS NOT NULL THEN ret_breach ELSE ret_vert END AS ret_touch
       |  FROM p2a
       |),
       |p1b AS (SELECT event_id, event_ts, touch_ts FROM p2)""".stripMargin

  /** Shared by `tbm_labels_sym` AND `tbm_labels_sym_store`: the bucketed
    * layout must reproduce the raw-events chain bit-for-bit.
    */
  /** Shared by label_concurrency_sym AND its _safe twin: the two engine
    * tiers (per-key window vs reset-affine scan) answer literally the same
    * oracle text, so they can never drift from each other.
    */
  private lazy val concurrencySymOracleSql: String =
    s"""WITH $tradesCte,
       |ev AS (
       |  SELECT symbol, ts AS event_ts, ts + 7200000000000 AS touch_ts
       |  FROM trades WHERE id % 37 = 0
       |),
       |stream AS (
       |  SELECT symbol, ts, 1 AS ord, CAST(0 AS BIGINT) AS d, id FROM trades
       |  UNION ALL SELECT symbol, event_ts, 0, CAST(1 AS BIGINT), NULL FROM ev
       |  UNION ALL SELECT symbol, touch_ts, 2, CAST(-1 AS BIGINT), NULL FROM ev
       |)
       |SELECT symbol, ts, id, CAST(conc AS BIGINT) AS concurrency FROM (
       |  SELECT *, sum(d) OVER (PARTITION BY symbol ORDER BY ts, ord
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
       |  FROM stream
       |) WHERE ord = 1""".stripMargin

  /** Shared by label_weights_sym AND its _safe twin — same reason. */
  private lazy val weightsSymOracleSql: String =
    s"""WITH $tradesCte,
       |ev AS (
       |  SELECT symbol, ts AS event_ts, id AS event_id,
       |         ts + 7200000000000 AS touch_ts
       |  FROM trades WHERE id % 37 = 0
       |),
       |stream AS (
       |  SELECT symbol, ts, 1 AS ord, CAST(0 AS BIGINT) AS d, id, price FROM trades
       |  UNION ALL SELECT symbol, event_ts, 0, CAST(1 AS BIGINT), NULL, NULL FROM ev
       |  UNION ALL SELECT symbol, touch_ts, 2, CAST(-1 AS BIGINT), NULL, NULL FROM ev
       |),
       |conc AS (
       |  SELECT symbol, ts, id, price, conc,
       |         ln(price / lag(price) OVER (PARTITION BY symbol ORDER BY ts, id)) AS logret
       |  FROM (
       |    SELECT *, sum(d) OVER (PARTITION BY symbol ORDER BY ts, ord
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
       |    FROM stream
       |  ) WHERE ord = 1
       |)
       |SELECT l.symbol, l.event_id, l.event_ts, l.touch_ts,
       |  ${rd("avg(1e0 / c.conc)")} AS avg_uniqueness,
       |  ${rd("""abs(sum(CASE WHEN c.conc > 0 AND c.logret IS NOT NULL AND NOT isnan(c.logret)
           |      THEN c.logret / c.conc ELSE 0.0 END))""".stripMargin)} AS return_attribution
       |FROM ev l JOIN conc c
       |  ON c.symbol = l.symbol AND c.ts >= l.event_ts AND c.ts <= l.touch_ts
       |GROUP BY 1, 2, 3, 4""".stripMargin

  private lazy val tbmSymOracleSql: String = {
      val vert = 7L * 86400000000000L
      s"""WITH $tradesCte,
         |ev AS (
         |  SELECT symbol, ts AS event_ts, id AS event_id, price AS p0,
         |         CAST(0.05 AS DOUBLE) + CAST(id % 7 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS tgt
         |  FROM trades WHERE id % 29 = 0
         |),
         |mx AS (SELECT symbol, max(ts) AS mxts FROM trades GROUP BY symbol),
         |ev2 AS (
         |  SELECT ev.*, ${D(top)} * tgt AS up, ${D(-bot)} * tgt AS lo
         |  FROM ev JOIN mx USING (symbol)
         |  WHERE event_ts + $vert <= mxts
         |    AND abs(tgt) * ${D(math.max(top, bot))} >= ${D(0.02)}
         |),
         |path AS (
         |  SELECT e.symbol, e.event_id, e.event_ts, e.up, e.lo, t.ts, t.id,
         |         (ln(t.price) - ln(e.p0)) AS ret
         |  FROM ev2 e JOIN trades t
         |    ON t.symbol = e.symbol AND t.ts > e.event_ts AND t.ts <= e.event_ts + $vert
         |),
         |p2a AS (
         |  SELECT symbol, event_id, event_ts,
         |         min(CASE WHEN ret >= up OR ret <= lo THEN ts END) AS touch0,
         |         max(ts) AS vert_ts,
         |         first(ret ORDER BY ts, id) FILTER (WHERE ret >= up OR ret <= lo) AS ret_breach,
         |         last(ret ORDER BY ts, id) AS ret_vert,
         |         coalesce(max(CASE WHEN ret > 0 THEN ret / up END), 0.0) AS max_urbr,
         |         coalesce(max(CASE WHEN ret < 0 THEN ret / lo END), 0.0) AS max_lrbr
         |  FROM path GROUP BY symbol, event_id, event_ts
         |),
         |p2 AS (
         |  SELECT *, coalesce(touch0, vert_ts) AS touch_ts,
         |         CASE WHEN touch0 IS NOT NULL THEN ret_breach ELSE ret_vert END AS ret_touch
         |  FROM p2a
         |)
         |SELECT symbol, event_ts, event_id,
         |  CAST(CASE WHEN sign(ret_touch) = 0 THEN 1 ELSE sign(ret_touch) END AS INT) AS label,
         |  touch_ts, ${rd("ret_touch")} AS ret,
         |  ${rd("""CASE WHEN touch0 IS NULL THEN least(CASE WHEN ret_touch > 0
             |    THEN max_urbr / (1 + max_lrbr) ELSE max_lrbr / (1 + max_urbr) END, 1.0)
             |  ELSE 1.0 END""".stripMargin)} AS vertical_touch_weight
         |FROM p2""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the full lifecycle recomputed from the raw events: trades → 5m bars
    // (empty-bar fill) → DSL features → EW-σ → CUSUM fold → TBM walk →
    // weights chain. CSV ingest + the monthly store are exact round-trips
    // (shortest-repr doubles, lossless parquet), so the oracle starts at
    // the canonical trades — any engine-side ingest/store lossiness
    // surfaces as a hash mismatch against this recompute.
    "pipeline_e2e" ->
      s"""WITH $tradesCte, ${Q.barsCte(300)},
         |feat AS (
         |  SELECT bar_ts, close, volume,
         |    ln(close / lag(close) OVER (ORDER BY bar_ts)) AS feat_logret,
         |    CASE WHEN count(*) OVER wn = 20 THEN avg(close) OVER wn END AS feat_sma20
         |  FROM bars WINDOW wn AS (ORDER BY bar_ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |),
         |btr AS (SELECT bar_ts AS ts, bar_ts AS id, close AS price, volume AS qty FROM bars),
         |${ScanQueries.cusumSigmaAdaptiveCte("btr")},
         |${ScanQueries.cusumFoldCtes(2.0, 5e-4)},
         |tev AS (
         |  SELECT p.ts AS event_ts, p.id AS event_id, p.price AS p0, p.sigma AS tgt
         |  FROM p JOIN ev USING (rn)
         |),
         |tev2 AS (
         |  SELECT tev.*, ${D(top)} * tgt AS up, ${D(-bot)} * tgt AS lo
         |  FROM tev, (SELECT max(ts) AS mx FROM trades)
         |  WHERE tgt IS NOT NULL AND NOT isnan(tgt)
         |    AND abs(tgt) * ${D(math.max(top, bot))} >= ${D(0.002)}
         |    AND event_ts + $vertNs <= mx
         |),
         |path AS (
         |  SELECT e.event_id, e.event_ts, e.up, e.lo, t.ts, t.id,
         |         (ln(t.price) - ln(e.p0)) AS ret
         |  FROM tev2 e JOIN trades t
         |    ON t.ts > e.event_ts AND t.ts <= e.event_ts + $vertNs
         |),
         |p2a AS (
         |  SELECT event_id, event_ts,
         |         min(CASE WHEN ret >= up OR ret <= lo THEN ts END) AS touch0,
         |         max(ts) AS vert_ts,
         |         first(ret ORDER BY ts, id) FILTER (WHERE ret >= up OR ret <= lo) AS ret_breach,
         |         last(ret ORDER BY ts, id) AS ret_vert,
         |         coalesce(max(CASE WHEN ret > 0 THEN ret / up END), 0.0) AS max_urbr,
         |         coalesce(max(CASE WHEN ret < 0 THEN ret / lo END), 0.0) AS max_lrbr
         |  FROM path GROUP BY event_id, event_ts
         |),
         |p2 AS (
         |  SELECT *, coalesce(touch0, vert_ts) AS touch_ts,
         |         CASE WHEN touch0 IS NOT NULL THEN ret_breach ELSE ret_vert END AS ret_touch
         |  FROM p2a
         |),
         |lab AS (
         |  SELECT event_ts, event_id, touch_ts, touch0, ret_touch,
         |    CAST(CASE WHEN sign(ret_touch) = 0 THEN 1 ELSE sign(ret_touch) END AS INT) AS label,
         |    CASE WHEN touch0 IS NULL THEN least(CASE WHEN ret_touch > 0
         |      THEN max_urbr / (1 + max_lrbr) ELSE max_lrbr / (1 + max_urbr) END, 1.0)
         |    ELSE 1.0 END AS vtw
         |  FROM p2
         |),
         |stream AS (
         |  SELECT ts, 1 AS ord, CAST(0 AS BIGINT) AS d, id, price FROM trades
         |  UNION ALL SELECT event_ts, 0, CAST(1 AS BIGINT), NULL, NULL FROM lab
         |  UNION ALL SELECT touch_ts, 2, CAST(-1 AS BIGINT), NULL, NULL FROM lab
         |),
         |conc AS (
         |  SELECT ts, id, price, conc, ln(price / lag(price) OVER (ORDER BY ts, id)) AS logret
         |  FROM (
         |    SELECT *, sum(d) OVER (ORDER BY ts, ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
         |    FROM stream
         |  ) WHERE ord = 1
         |),
         |ew AS (
         |  SELECT l.event_id, l.event_ts, l.touch_ts, l.label, l.vtw, l.ret_touch,
         |    avg(1e0 / c.conc) AS avg_uniqueness,
         |    abs(sum(CASE WHEN c.conc > 0 AND c.logret IS NOT NULL AND NOT isnan(c.logret)
         |            THEN c.logret / c.conc ELSE 0.0 END)) AS return_attribution
         |  FROM lab l JOIN conc c ON c.ts >= l.event_ts AND c.ts <= l.touch_ts
         |  GROUP BY 1, 2, 3, 4, 5, 6
         |),
         |decayed AS (
         |  SELECT *,
         |    1.0 - (${D(0.5)} / tot) * tot + (${D(0.5)} / tot) * cum AS time_decay
         |  FROM (
         |    SELECT *, sum(avg_uniqueness) OVER (ORDER BY event_ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |           sum(avg_uniqueness) OVER () AS tot
         |    FROM ew
         |  )
         |),
         |based AS (
         |  SELECT *, time_decay * return_attribution * vtw AS base FROM decayed
         |),
         |normed AS (
         |  SELECT *, base * n / s AS base_norm FROM based,
         |    (SELECT sum(base) AS s, count(*) AS n FROM based)
         |),
         |balanced AS (
         |  SELECT *, tot2 / (ncls * cls_sum) AS class_weight
         |  FROM (
         |    SELECT *, sum(base_norm) OVER (PARTITION BY label) AS cls_sum,
         |           sum(base_norm) OVER () AS tot2,
         |           (SELECT count(DISTINCT label) FROM normed) AS ncls
         |    FROM normed
         |  )
         |)
         |SELECT b.event_ts, b.event_id, b.label, b.touch_ts,
         |  ${rd("b.ret_touch")} AS ret,
         |  ${rd("f.feat_logret")} AS feat_logret,
         |  ${rd("f.feat_sma20")} AS feat_sma20,
         |  ${rd("b.avg_uniqueness")} AS avg_uniqueness,
         |  ${rd("b.return_attribution")} AS return_attribution,
         |  ${rd("b.time_decay")} AS time_decay,
         |  ${rd("b.class_weight")} AS class_weight,
         |  ${rd("b.base_norm * b.class_weight")} AS weight
         |FROM balanced b JOIN feat f ON f.bar_ts = b.event_ts""".stripMargin,

    "tbm_labels" ->
      s"""WITH $tradesCte, ${tbmCtes("1")}
         |SELECT event_ts, event_id,
         |  CAST(CASE WHEN sign(ret_touch) = 0 THEN 1 ELSE sign(ret_touch) END AS INT) AS label,
         |  touch_ts, ${rd("ret_touch")} AS ret,
         |  ${rd("""CASE WHEN touch0 IS NULL THEN least(CASE WHEN ret_touch > 0
             |    THEN max_urbr / (1 + max_lrbr) ELSE max_lrbr / (1 + max_urbr) END, 1.0)
             |  ELSE 1.0 END""".stripMargin)} AS vertical_touch_weight
         |FROM p2""".stripMargin,

    "tbm_labels_minret" ->
      s"""WITH $tradesCte, ${tbmCtes("1", minRetFilter = 0.14)}
         |SELECT event_ts, event_id,
         |  CAST(CASE WHEN sign(ret_touch) = 0 THEN 1 ELSE sign(ret_touch) END AS INT) AS label,
         |  touch_ts, ${rd("ret_touch")} AS ret
         |FROM p2""".stripMargin,

    "tbm_meta_labels" ->
      s"""WITH $tradesCte, ${tbmCtes("eside")}
         |SELECT event_ts, event_id,
         |  CAST(CASE WHEN ret_touch >= ${D(0.02)} THEN 1 ELSE 0 END AS INT) AS label,
         |  touch_ts, ${rd("ret_touch")} AS ret
         |FROM p2""".stripMargin,

    "label_concurrency" ->
      s"""WITH $tradesCte, ${tbmCtes("1")},
         |stream AS (
         |  SELECT ts, 1 AS ord, CAST(0 AS BIGINT) AS d, id FROM trades
         |  UNION ALL SELECT event_ts, 0, CAST(1 AS BIGINT), NULL FROM p1b
         |  UNION ALL SELECT touch_ts, 2, CAST(-1 AS BIGINT), NULL FROM p1b
         |)
         |SELECT ts, id, CAST(conc AS BIGINT) AS concurrency FROM (
         |  SELECT *, sum(d) OVER (ORDER BY ts, ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
         |  FROM stream
         |) WHERE ord = 1""".stripMargin,

    "tbm_labels_sym" -> tbmSymOracleSql,
    "tbm_labels_sym_store" -> tbmSymOracleSql,

    "label_concurrency_sym" -> concurrencySymOracleSql,
    // skew-safe tier shares the oracle verbatim (physical layout only)
    "label_concurrency_sym_safe" -> concurrencySymOracleSql,
    "label_weights_sym_safe" -> weightsSymOracleSql,

    "label_weights_sym" -> weightsSymOracleSql,

    "label_decay_sym" ->
      s"""WITH $tradesCte,
         |ev AS (
         |  SELECT symbol, ts AS event_ts, id AS event_id,
         |         ts + 7200000000000 AS touch_ts
         |  FROM trades WHERE id % 37 = 0
         |),
         |stream AS (
         |  SELECT symbol, ts, 1 AS ord, CAST(0 AS BIGINT) AS d, id FROM trades
         |  UNION ALL SELECT symbol, event_ts, 0, CAST(1 AS BIGINT), NULL FROM ev
         |  UNION ALL SELECT symbol, touch_ts, 2, CAST(-1 AS BIGINT), NULL FROM ev
         |),
         |conc AS (
         |  SELECT symbol, ts, id, conc FROM (
         |    SELECT *, sum(d) OVER (PARTITION BY symbol ORDER BY ts, ord
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
         |    FROM stream
         |  ) WHERE ord = 1
         |),
         |ew AS (
         |  SELECT l.symbol, l.event_id, l.event_ts,
         |    avg(1e0 / c.conc) AS avg_uniqueness
         |  FROM ev l JOIN conc c
         |    ON c.symbol = l.symbol AND c.ts >= l.event_ts AND c.ts <= l.touch_ts
         |  GROUP BY 1, 2, 3
         |),
         |decayed AS (
         |  SELECT *,
         |    1.0 - (${D(0.5)} / tot) * tot + (${D(0.5)} / tot) * cum AS time_decay
         |  FROM (
         |    SELECT *, sum(avg_uniqueness) OVER (PARTITION BY symbol
         |      ORDER BY event_ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |           sum(avg_uniqueness) OVER (PARTITION BY symbol) AS tot
         |    FROM ew
         |  )
         |)
         |SELECT symbol, event_id, event_ts,
         |  ${rd("avg_uniqueness")} AS avg_uniqueness,
         |  ${rd("time_decay")} AS time_decay
         |FROM decayed""".stripMargin,

    "label_weights" ->
      s"""WITH $tradesCte, ${tbmCtes("1")},
         |lab AS (
         |  SELECT event_ts, event_id, touch_ts, touch0,
         |    CAST(CASE WHEN sign(ret_touch) = 0 THEN 1 ELSE sign(ret_touch) END AS INT) AS label,
         |    CASE WHEN touch0 IS NULL THEN least(CASE WHEN ret_touch > 0
         |      THEN max_urbr / (1 + max_lrbr) ELSE max_lrbr / (1 + max_urbr) END, 1.0)
         |    ELSE 1.0 END AS vtw
         |  FROM p2
         |),
         |stream AS (
         |  SELECT ts, 1 AS ord, CAST(0 AS BIGINT) AS d, id, price FROM trades
         |  UNION ALL SELECT event_ts, 0, CAST(1 AS BIGINT), NULL, NULL FROM lab
         |  UNION ALL SELECT touch_ts, 2, CAST(-1 AS BIGINT), NULL, NULL FROM lab
         |),
         |conc AS (
         |  SELECT ts, id, price, conc, ln(price / lag(price) OVER (ORDER BY ts, id)) AS logret
         |  FROM (
         |    SELECT *, sum(d) OVER (ORDER BY ts, ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
         |    FROM stream
         |  ) WHERE ord = 1
         |),
         |ew AS (
         |  SELECT l.event_id, l.event_ts,
         |    avg(1e0 / c.conc) AS avg_uniqueness,
         |    abs(sum(CASE WHEN c.conc > 0 AND c.logret IS NOT NULL AND NOT isnan(c.logret)
         |            THEN c.logret / c.conc ELSE 0.0 END)) AS return_attribution
         |  FROM lab l JOIN conc c ON c.ts >= l.event_ts AND c.ts <= l.touch_ts
         |  GROUP BY l.event_id, l.event_ts
         |),
         |decayed AS (
         |  SELECT *,
         |    1.0 - (${D(0.5)} / tot) * tot + (${D(0.5)} / tot) * cum AS time_decay
         |  FROM (
         |    SELECT *, sum(avg_uniqueness) OVER (ORDER BY event_ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |           sum(avg_uniqueness) OVER () AS tot
         |    FROM ew
         |  )
         |),
         |based AS (
         |  SELECT d.event_ts, d.event_id, l.label, d.avg_uniqueness,
         |         d.return_attribution, d.time_decay,
         |         d.time_decay * d.return_attribution * l.vtw AS base
         |  FROM decayed d JOIN lab l ON l.event_id = d.event_id
         |),
         |normed AS (
         |  SELECT *, base * n / s AS base_norm FROM based,
         |    (SELECT sum(base) AS s, count(*) AS n FROM based)
         |),
         |balanced AS (
         |  SELECT *, tot2 / (ncls * cls_sum) AS class_weight
         |  FROM (
         |    SELECT *, sum(base_norm) OVER (PARTITION BY label) AS cls_sum,
         |           sum(base_norm) OVER () AS tot2,
         |           (SELECT count(DISTINCT label) FROM normed) AS ncls
         |    FROM normed
         |  )
         |)
         |SELECT event_ts, event_id, label,
         |  ${rd("avg_uniqueness")} AS avg_uniqueness,
         |  ${rd("return_attribution")} AS return_attribution,
         |  ${rd("time_decay")} AS time_decay,
         |  ${rd("class_weight")} AS class_weight,
         |  ${rd("base_norm * class_weight")} AS weight
         |FROM balanced""".stripMargin
  )
}
