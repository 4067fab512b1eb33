package graft.trades

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Raw-trades canonicalization and preprocessing.
  *
  * Re-expresses the reference's `TradesData` preprocessing pipeline
  * (finmlkit/bar/data_model.py:174-183) as declarative DataFrame transforms:
  * ns normalization, id-dedup, tick-rule side inference, split-trade merge.
  * Canonical schema: (ts: Long ns, id: Long, price: Double, qty: Double,
  * symbol: Long, [side: Int]).
  */
object Trades {

  /** Canonical trades view over the synthetic `events` table: ts is already
    * ns, `value` plays price, qty is synthesized deterministically from the
    * id so that a DuckDB oracle can reproduce it bit-for-bit.
    *
    * ts is quantized to µs (ns div 1000 * 1000) because DuckDB 1.0 truncates
    * parquet TIMESTAMP(NANOS) to µs on read — the oracle can only see µs, so
    * the engine's canonical view adopts the same resolution for the synthetic
    * tables. (The engine itself stays ns-native throughout.)
    *
    * Non-positive prices are dropped at canonicalization: a zero/negative
    * trade print is invalid exchange data, and every log-return operator
    * downstream (CUSUM, TBM, sample weights, EW scans — the reference's
    * kernels all assume positive prices) would otherwise fork on engine
    * log(0) semantics (JVM −Inf vs Spark-SQL NULL vs DuckDB error — the
    * sf0.1 fixture carries six such prints and the oracle ln() raised).
    * The dropped ids surface as gaps in the integrity id-gap scan, which
    * is exactly where corrupt prints should be reported.
    */
  def fromEvents(events: DataFrame): DataFrame =
    events.where(col("value") > 0)
      .select(
        expr("(ts div 1000) * 1000").as("ts"),
        col("event_id").as("id"),
        col("value").as("price"),
        (lit(1.0) + (col("event_id") % 97).cast("double") * lit(0.1)).as("qty"),
        col("user_id").as("symbol"))

  /** ts * factor with unit inference from magnitude — mirrors
    * `_convert_timestamps_to_ns` (data_model.py:346-418). Spark-first: the
    * inference is one scalar agg, the conversion a projection.
    */
  def toNanos(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    // magnitude thresholds: s < 1e11 < ms < 1e14 < µs < 1e17 < ns
    val factor = when(col(tsCol) < 100000000000L, 1000000000L)
      .when(col(tsCol) < 100000000000000L, 1000000L)
      .when(col(tsCol) < 100000000000000000L, 1000L)
      .otherwise(1L)
    df.withColumn(tsCol, (col(tsCol) * factor).cast("long"))
  }

  /** Round ts down to a resolution: (ts div res) * res (data_model.py:370-388). */
  def applyResolution(df: DataFrame, resNs: Long, tsCol: String = "ts"): DataFrame =
    df.withColumn(tsCol, expr(s"($tsCol div ${resNs}L) * ${resNs}L"))

  /** OPT-IN loud enforcement of the streaming flush-heartbeat bound: any
    * row with `ts >= StreamingBars.heartbeatNs` (2100-01-01 ns) raises a
    * per-row error instead of being silently treated as a flush marker by
    * the lookahead streaming machines. A scan-stage `raise_error` branch,
    * not a driver-side check — it rides whole-stage codegen and costs one
    * comparison per row; callers that cannot guarantee the bound opt in
    * here (or via `Ingest.canonicalize(checkHeartbeatBound = true)`) and
    * buy a job failure where the default contract is a silent swallow.
    */
  def requireBelowHeartbeat(trades: DataFrame,
                            tsCol: String = "ts"): DataFrame =
    trades.withColumn(tsCol,
      when(col(tsCol) >= graft.streaming.StreamingBars.heartbeatNs,
        raise_error(concat(
          lit(s"trade $tsCol "), col(tsCol).cast("string"),
          lit(" >= streaming heartbeat floor " +
            s"${graft.streaming.StreamingBars.heartbeatNs} (2100-01-01): " +
            "the row would be swallowed as a flush marker by lookahead " +
            "streaming machines"))))
        .otherwise(col(tsCol)))

  /** Drop duplicate trade ids keeping the first occurrence in (ts, id) order
    * — mirrors `_sort_trades` (data_model.py:294-324). Spark has no global
    * "keep first": expressed as a row_number over an id-partitioned window,
    * which shuffles by id (scales: no global sort needed).
    */
  def dedupIds(trades: DataFrame): DataFrame = {
    val w = Window.partitionBy("id").orderBy("ts", "price")
    trades.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** AFML tick rule (finmlkit/bar/utils.py:10-46): side = sign(Δprice) when
    * |Δprice| > 1e-12 else carry the previous side; leading unresolved rows
    * get 0. One pass of two window functions — the carry is
    * `last(non-zero-sign, ignoreNulls)` over an unbounded-preceding frame.
    *
    * MEASURED (r6, one-shuffle pinned scan): the carry is ONE prev-dependent
    * affine state, so the exact `Scan.affine` variant is a 10-line drop-in —
    * benchmarked min-of-3 at sf0.1 across the four downstream gate chains
    * (canonical/directional/footprint/profile): scan 6.65 s vs window
    * 3.05 s. Every consumer branch re-reads the scan's non-codegen Row
    * output, while the window stays inside one whole-stage-codegen plan —
    * the r4 2× measurement still holds with the cheaper scan. The unkeyed
    * single-partition window is therefore a DOCUMENTED, allowlisted
    * (PlanAudit "tick-rule" reason) tradeoff: single-series order-total is
    * the reference's own constraint, and at multi-series scale `partCols`
    * shuffles the window by symbol.
    *
    * @param partCols optional symbol partitioning for multi-series data; the
    *                 reference semantics are single-series (empty Seq).
    */
  def withTickRuleSide(trades: DataFrame, partCols: Seq[String] = Nil): DataFrame = {
    val base = Window.partitionBy(partCols.map(col): _*).orderBy("ts", "id")
    val dp = col("price") - lag("price", 1).over(base)
    val carry = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trades
      .withColumn("__tick", when(abs(dp) > lit(1e-12), signum(dp).cast("int")))
      .withColumn("side", coalesce(last(col("__tick"), ignoreNulls = true).over(carry), lit(0)))
      .drop("__tick")
  }

  /** Merge adjacent trades with identical (ts, price, side) summing qty —
    * `merge_split_trades` (bar/utils.py:263-329). Input is ts-sorted so equal
    * keys are adjacent; a groupBy is equivalent and shuffle-parallel.
    *
    * The reference semantics are per-series: on a multi-symbol store pass
    * `partCols = Seq("symbol")` so trades of different symbols that share
    * (ts, price, side) — equal-ts prints are common after µs quantization —
    * are never fused across series. The group keys then carry the symbol
    * and the shuffle stays keyed (the 100 TB layout).
    */
  def mergeSplitTrades(trades: DataFrame, useSide: Boolean = true,
                       partCols: Seq[String] = Nil): DataFrame = {
    val keys = partCols ++ (if (useSide && trades.columns.contains("side"))
      Seq("ts", "price", "side") else Seq("ts", "price"))
    val symAgg =
      if (partCols.contains("symbol")) Nil else Seq(min("symbol").as("symbol"))
    val aggs = Seq(sum("qty").as("qty"), min("id").as("id")) ++ symAgg :+
      count(lit(1)).as("merged")
    trades.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Lag-by-one of long columns over a total order, distributed: the
    * scan layout's boundary handoff threads the exact previous ROW (no
    * affine double state — ns epochs exceed 2^53 and would lose
    * precision). One parallel shuffle — the data-scaled stream never moves
    * through a single-partition window. Appends `prev_<c>` (null on the
    * first row) per lag column. Requires UNIQUE order keys (asserted by
    * the scan) unless `allowDupOrderKeys` — then `lagCols` must
    * be a subset of `orderCols` (required, and sufficient for the equal-
    * key permutation-invariance contract on [[graft.features.Scan
    * .withPrevRow]]): integrity scans lag over possibly-CORRUPT streams
    * where duplicate ids are the finding, not a crash.
    */
  private[graft] def lagged(df: DataFrame, orderCols: Seq[String],
                            lagCols: Seq[String],
                            allowDupOrderKeys: Boolean = false): DataFrame = {
    import graft.features.Scan
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    require(!allowDupOrderKeys || lagCols.forall(orderCols.contains),
      "allowDupOrderKeys needs lagCols ⊆ orderCols (permutation invariance)")
    val idxs = lagCols.map(df.schema.fieldIndex).toArray
    val n = idxs.length
    Scan.withPrevRow(df, orderCols,
        out = (_, prev) =>
          if (prev == null) new GenericInternalRow(n)
          else InternalRow.fromSeq(idxs.toSeq.map(i => prev.getLong(i))),
        outName = "__lag",
        outType = StructType(lagCols.map(c => StructField(s"prev_$c", LongType))),
        allowDupOrderKeys = allowDupOrderKeys)
      .select(df.columns.toIndexedSeq.map(col) ++
        lagCols.map(c => col(s"__lag.prev_$c").as(s"prev_$c")): _*)
  }

  /** Trade-id gap scan — `_validate_data` (data_model.py:254-292):
    * rows where id jumps by >1, with surrounding timestamps. `partCols`
    * runs the scan per symbol (shuffle-parallel) for multi-series stores;
    * the unkeyed (reference single-series) path rides the affine
    * scan — one parallel shuffle, no single-partition window.
    */
  def idGaps(trades: DataFrame, partCols: Seq[String] = Nil): DataFrame = {
    val pc = partCols.map(col)
    val withPrev =
      if (partCols.nonEmpty) {
        val w = Window.partitionBy(pc: _*).orderBy("id")
        trades.select(pc ++ Seq(
          col("id"), col("ts"),
          lag("id", 1).over(w).as("prev_id"),
          lag("ts", 1).over(w).as("prev_ts")): _*)
      } else
        lagged(trades.select(col("id"), col("ts")), Seq("id", "ts"),
          Seq("id", "ts"), allowDupOrderKeys = true)
    withPrev
      .where(col("id") - col("prev_id") > 1)
      .select(pc ++ Seq(
        col("prev_id"), col("id"),
        (col("id") - col("prev_id") - 1).as("missing"),
        col("prev_ts"), col("ts")): _*)
  }

  /** Time-gap scan over ts — `H5Inspector.inspect_gaps` (bar/io.py:200-223):
    * consecutive-trade gaps above a threshold; `partCols` as in [[idGaps]].
    */
  def timeGaps(trades: DataFrame, maxGapNs: Long,
               partCols: Seq[String] = Nil): DataFrame = {
    val pc = partCols.map(col)
    val withPrev =
      if (partCols.nonEmpty) {
        val w = Window.partitionBy(pc: _*).orderBy("ts", "id")
        trades.select(pc :+ col("ts") :+ lag("ts", 1).over(w).as("prev_ts"): _*)
      } else
        lagged(trades.select(col("ts"), col("id")), Seq("ts", "id"), Seq("ts"),
          allowDupOrderKeys = true)
    withPrev
      .where(col("ts") - col("prev_ts") > maxGapNs)
      .select(pc ++ Seq(col("prev_ts").as("gap_start"), col("ts").as("gap_end"),
        ((col("ts") - col("prev_ts")) / lit(1e9)).as("gap_sec")): _*)
  }

  /** Monotonic-timestamp check (bar/utils.py:227-237): per-partition
    * adjacent compares over a range-partitioned (id, ts) layout + a tiny
    * boundary roll-up — the data-scaled stream is checked in parallel; only
    * the ≤|partitions| summary rows move through one partition.
    */
  def checkTimestampsOrder(trades: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val spark = trades.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism,
      trades.rdd.getNumPartitions)
    val laid = trades.select(col("id"), col("ts"))
      .repartitionByRange(parts, col("id"), col("ts"))
      .sortWithinPartitions("id", "ts")
    val summSchema = StructType(Seq(StructField("pid", IntegerType),
      StructField("first_ts", LongType), StructField("last_ts", LongType),
      StructField("viol", LongType)))
    val summ = laid.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val firstTs = it.next().getLong(1)
        var prevTs = firstTs
        var viol = 0L
        while (it.hasNext) {
          val t = it.next().getLong(1)
          if (t < prevTs) viol += 1
          prevTs = t
        }
        Iterator.single(Row(pid, firstTs, prevTs, viol))
      }
    }(Encoders.row(summSchema))
    // repartition (NOT coalesce: coalesce would fuse the parallel scan
    // itself into one task) the tiny summary, then one ordered pass
    summ.repartition(1).sortWithinPartitions("pid").mapPartitions { it =>
      var ok = true
      var prevLast = Long.MinValue
      it.foreach { r =>
        if (r.getLong(3) > 0 || r.getLong(1) < prevLast) ok = false
        prevLast = r.getLong(2)
      }
      Iterator.single(Row(ok))
    }(Encoders.row(StructType(Seq(StructField("is_sorted", BooleanType))))).toDF()
  }

  /** Tick-size estimate: GCD of scaled diffs of the first 10k unique prices —
    * `comp_price_tick_size` (bar/utils.py:49-81). Sample-bounded by design in
    * the reference; the 10k-row sample is a `limit`, the GCD a tiny agg.
    */
  def tickSize(trades: DataFrame): DataFrame = {
    val sample = trades.orderBy("ts", "id").limit(10000)
      .select(round(col("price"), 12).as("p")).distinct()
    // scale so the smallest diff becomes >= 1, then integer GCD via
    // aggregate() over the collected (small, <=10k) diff list.
    val diffs = sample
      .select(col("p"), lead("p", 1).over(Window.orderBy("p")).as("np"))
      .where(col("np").isNotNull && col("np") > col("p"))
      .select((col("np") - col("p")).as("d"))
    val scale = diffs.agg(pow(lit(10.0), -floor(log10(min("d")))).as("scale"))
    diffs.crossJoin(broadcast(scale))
      .select(round(col("d") * col("scale")).cast("long").as("di"), col("scale"))
      .groupBy("scale")
      .agg(graft.functions.Aggs.gcd_agg(col("di")).as("g"))
      .select((col("g").cast("double") / col("scale")).as("tick_size"))
  }

  /** LEGACY tick-size estimate — `comp_price_tick_size_old`
    * (bar/utils.py:84-126): median of the sorted-unique-price diffs over
    * the first-10k sample, rounded to 2 significant digits. The adaptive
    * rounding is written as the explicit floor(x·10^nd + 0.5)/10^nd op
    * tree (half-up; documented delta from Python's banker's round) so
    * Spark and the DuckDB oracle share one exactly-specified IEEE
    * sequence — engine round() implementations fork on boundaries.
    * Same sample/diff plan shape as [[tickSize]].
    */
  def tickSizeLegacy(trades: DataFrame): DataFrame = {
    val sample = trades.orderBy("ts", "id").limit(10000)
      .select(round(col("price"), 12).as("p")).distinct()
    val diffs = sample
      .select(col("p"), lead("p", 1).over(Window.orderBy("p")).as("np"))
      .where(col("np").isNotNull && col("np") > col("p"))
      .select((col("np") - col("p")).as("d"))
    val nd = lit(1.0) - floor(log10(abs(col("pts")))) // 2 sig digits
    diffs.agg(expr("median(d)").as("pts"))
      .select(
        when(col("pts").isNull || col("pts") === 0.0, lit(0.0))
          .otherwise(
            floor(col("pts") * pow(lit(10.0), nd) + lit(0.5)) /
              pow(lit(10.0), nd))
          .as("tick_size"))
  }
}
