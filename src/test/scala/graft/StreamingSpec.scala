package graft

import graft.bars.{EventBars, TimeBars}
import graft.features.Ewm
import graft.streaming.StreamingBars
import graft.streaming.StreamingBars.TradeIn
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch/streaming parity: the streaming executors must produce exactly the
  * batch operators' results when fed the same (ordered) trades.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private def trades(n: Int): Seq[TradeIn] =
    (0 until n).map { i =>
      TradeIn(1700000000000000000L + i * 60000000000L, i.toLong,
        100.0 + 3.0 * math.sin(i * 0.7) + (i % 5) * 0.3, 1.0 + (i % 3), 0L)
    }

  test("streaming OHLCV bars equal batch bars (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TradeIn]
    val q = StreamingBars.ohlcvStream(ms.toDF(), 300, watermarkDelay = None)
      .writeStream.format("memory").queryName("bars_out")
      .outputMode("complete").start()
    val data = trades(40)
    ms.addData(data.take(25))
    q.processAllAvailable()
    ms.addData(data.drop(25))
    q.processAllAvailable()
    val streamed = spark.table("bars_out")
      .select("bar_ts", "open", "high", "low", "close", "volume", "trades", "vwap")
      .orderBy("bar_ts").collect().toSeq
    q.stop()
    val batch = TimeBars.ohlcv(
      data.toDF().withColumnRenamed("symbol", "sym"), 300, fillEmpty = false)
      .select("bar_ts", "open", "high", "low", "close", "volume", "trades", "vwap")
      .orderBy("bar_ts").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming OHLCV state machine finalizes bars equal to batch (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TradeIn]
    // delay must cover a bar's open span (trades arrive up to 300s before
    // the close event-time): a shorter delay can expire a bar mid-fill
    val q = StreamingBars.ohlcvStateStream(ms.toDS(), 300, watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("bars_state_out")
      .outputMode("append").start()
    val data = trades(40)
    ms.addData(data.take(25)); q.processAllAvailable()
    ms.addData(data.drop(25)); q.processAllAvailable()
    // watermark flush: two far-future batches so (a) the watermark advances
    // past every real bar's timeout and (b) a subsequent batch fires them
    val far = data.last.ts + 86400000000000L
    ms.addData(Seq(TradeIn(far, 9000L, 1.0, 1.0, 0L))); q.processAllAvailable()
    ms.addData(Seq(TradeIn(far + 60000000000L, 9001L, 1.0, 1.0, 0L))); q.processAllAvailable()
    val lastRealBar = TimeBars.ohlcv(
      data.toDF().withColumnRenamed("symbol", "sym"), 300, fillEmpty = false)
      .agg(max("bar_ts")).head().getLong(0)
    val streamed = spark.table("bars_state_out")
      .where(col("bar_ts") <= lastRealBar)
      .select("bar_ts", "open", "high", "low", "close", "volume", "trades", "vwap")
      .orderBy("bar_ts").collect().toSeq
    q.stop()
    val batch = TimeBars.ohlcv(
      data.toDF().withColumnRenamed("symbol", "sym"), 300, fillEmpty = false)
      .select("bar_ts", "open", "high", "low", "close", "volume", "trades", "vwap")
      .orderBy("bar_ts").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming directional bars equal the batch conditional sums") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StreamingBars.SidedIn]
    val q = StreamingBars.directionalStream(ms.toDF(), 300, watermarkDelay = None)
      .writeStream.format("memory").queryName("dir_out")
      .outputMode("complete").start()
    val data = trades(40)
    // side computed batch-side (streams can't run the tick-rule window);
    // the stream receives already-sided trades like a real exchange feed
    val sidedRows = graft.trades.Trades.withTickRuleSide(
        data.toDF().withColumnRenamed("symbol", "sym"))
      .select("ts", "id", "price", "qty", "side")
      .as[StreamingBars.SidedIn].collect().toSeq
    ms.addData(sidedRows); q.processAllAvailable()
    val streamed = spark.table("dir_out")
      .select("bar_ts", "ticks_buy", "ticks_sell", "volume_buy", "volume_sell",
        "dollars_buy", "dollars_sell")
      .orderBy("bar_ts").collect().toSeq
    q.stop()
    val batch = TimeBars.directional(
      graft.trades.Trades.withTickRuleSide(
        data.toDF().withColumnRenamed("symbol", "sym")), 300)
      .select("bar_ts", "ticks_buy", "ticks_sell", "volume_buy", "volume_sell",
        "dollars_buy", "dollars_sell")
      .orderBy("bar_ts").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming footprint aggregation equals the batch (bar, level) sums") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StreamingBars.SidedSymIn]
    val q = StreamingBars.footprintStream(ms.toDF(), 300, 0.01,
        watermarkDelay = None)
      .writeStream.format("memory").queryName("fp_out")
      .outputMode("complete").start()
    val data = trades(60)
    val sidedRows = graft.trades.Trades.withTickRuleSide(
        data.toDF().withColumnRenamed("symbol", "sym"))
      .select(col("ts"), col("id"), col("price"), col("qty"),
        col("side").cast("int").as("side"), lit(0L).as("symbol"))
      .as[StreamingBars.SidedSymIn].collect().toSeq
    ms.addData(sidedRows.take(25)); q.processAllAvailable()
    ms.addData(sidedRows.drop(25)); q.processAllAvailable()
    val cols = Seq("bar_ts", "level", "buy_volume", "sell_volume",
      "buy_ticks", "sell_ticks")
    val streamed = spark.table("fp_out")
      .select(cols.head, cols.tail: _*).orderBy("bar_ts", "level")
      .collect().toSeq
    q.stop()
    val batch = graft.bars.Footprints.build(
        graft.trades.Trades.withTickRuleSide(
          data.toDF().withColumnRenamed("symbol", "sym")), 300, 0.01)
      .select(cols.head, cols.tail: _*).orderBy("bar_ts", "level")
      .collect().toSeq
    assert(streamed == batch)
  }

  private def assertRowsClose(streamed: Seq[org.apache.spark.sql.Row],
                              batch: Seq[org.apache.spark.sql.Row],
                              tol: Double = 1e-9): Unit = {
    assert(streamed.size == batch.size,
      s"row count ${streamed.size} vs ${batch.size}")
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.length == b.length)
      (0 until s.length).foreach { i =>
        (s.get(i), b.get(i)) match {
          case (null, null) =>
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= tol * math.max(1.0, math.abs(y)),
              s"col $i: $x vs $y in $s vs $b")
          case (x, y) => assert(x == y, s"col $i: $x vs $y in $s vs $b")
        }
      }
    }
  }

  test("streaming directional state machine has full batch feature parity") {
    implicit val sqlCtx = spark.sqlContext
    val data = trades(60)
    val sided = graft.trades.Trades.withTickRuleSide(
        data.toDF().withColumnRenamed("symbol", "sym"))
      .select(col("ts"), col("id"), col("price"), col("qty"), col("side"),
        lit(0L).as("symbol"))
      .as[StreamingBars.SidedSymIn].collect().toSeq
    val ms = MemoryStream[StreamingBars.SidedSymIn]
    val q = StreamingBars.directionalStateStream(ms.toDS(), 300,
        watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("dir_state_out")
      .outputMode("append").start()
    ms.addData(sided.take(22)); q.processAllAvailable()
    ms.addData(sided.drop(22)); q.processAllAvailable()
    val far = data.last.ts + 86400000000000L
    ms.addData(Seq(StreamingBars.SidedSymIn(far, 9000L, 1.0, 1.0, 1, 0L)))
    q.processAllAvailable()
    ms.addData(Seq(StreamingBars.SidedSymIn(far + 60000000000L, 9001L, 1.0, 1.0, 1, 0L)))
    q.processAllAvailable()
    val cols = Seq("bar_ts", "ticks_buy", "ticks_sell", "volume_buy",
      "volume_sell", "dollars_buy", "dollars_sell", "mean_spread",
      "max_spread", "cum_ticks_min", "cum_ticks_max", "cum_volume_min",
      "cum_volume_max", "cum_dollars_min", "cum_dollars_max")
    val batchDf = TimeBars.directional(
      graft.trades.Trades.withTickRuleSide(
        data.toDF().withColumnRenamed("symbol", "sym")), 300)
    val lastRealBar = batchDf.agg(max("bar_ts")).head().getLong(0)
    val streamed = spark.table("dir_state_out")
      .where(col("bar_ts") <= lastRealBar)
      .select(cols.head, cols.tail: _*).orderBy("bar_ts").collect().toSeq
    q.stop()
    val batch = batchDf
      .select(cols.head, cols.tail: _*).orderBy("bar_ts").collect().toSeq
    assert(streamed.nonEmpty)
    assertRowsClose(streamed, batch)
  }

  test("buffered directional stream matches batch under cross-batch disorder") {
    implicit val sqlCtx = spark.sqlContext
    val data = trades(60)
    val sided = graft.trades.Trades.withTickRuleSide(
        data.toDF().withColumnRenamed("symbol", "sym"))
      .select(col("ts"), col("id"), col("price"), col("qty"), col("side"),
        lit(0L).as("symbol"))
      .as[StreamingBars.SidedSymIn].collect().toSeq
    val ms = MemoryStream[StreamingBars.SidedSymIn]
    // generous watermark so the deliberately disordered delivery below is
    // all "late but within watermark" — the case the unbuffered state
    // machine documents as corrupting and this operator must absorb
    val q = StreamingBars.directionalBufferedStream(ms.toDS(), 300,
        watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("dir_buf_out")
      .outputMode("append").start()
    // cross-batch disorder: batch 1 gets the evens (including the tail of
    // the timeline), batch 2 delivers the odds — each older than rows
    // already processed in batch 1
    val (evens, odds) = sided.zipWithIndex.partition(_._2 % 2 == 0)
    ms.addData(evens.map(_._1)); q.processAllAvailable()
    ms.addData(odds.map(_._1)); q.processAllAvailable()
    val far = data.last.ts + 86400000000000L
    ms.addData(Seq(StreamingBars.SidedSymIn(far, 9000L, 1.0, 1.0, 1, 0L)))
    q.processAllAvailable()
    ms.addData(Seq(StreamingBars.SidedSymIn(far + 60000000000L, 9001L, 1.0, 1.0, 1, 0L)))
    q.processAllAvailable()
    val cols = Seq("bar_ts", "ticks_buy", "ticks_sell", "volume_buy",
      "volume_sell", "dollars_buy", "dollars_sell", "mean_spread",
      "max_spread", "cum_ticks_min", "cum_ticks_max", "cum_volume_min",
      "cum_volume_max", "cum_dollars_min", "cum_dollars_max")
    val batchDf = TimeBars.directional(
      graft.trades.Trades.withTickRuleSide(
        data.toDF().withColumnRenamed("symbol", "sym")), 300)
    val lastRealBar = batchDf.agg(max("bar_ts")).head().getLong(0)
    val streamed = spark.table("dir_buf_out")
      .where(col("bar_ts") <= lastRealBar)
      .select(cols.head, cols.tail: _*).orderBy("bar_ts").collect().toSeq
    q.stop()
    val batch = batchDf
      .select(cols.head, cols.tail: _*).orderBy("bar_ts").collect().toSeq
    assert(streamed.nonEmpty)
    assertRowsClose(streamed, batch)
  }

  test("buffered stream watermark boundary: one bar row, strict-< finalize") {
    // Pins the MEASURED Spark 4.1 boundary convention: a row whose event
    // time EQUALS the watermark is DROPPED by the stateful late filter
    // (probed both ways — at a 6-minute delay the same straggler is kept
    // and folds to 3 ticks). The operator finalizes strictly BELOW the
    // watermark, which is duplicate-free under either convention; a future
    // Spark that keeps equal rows would fold them into the still-buffered
    // bar instead of duplicating it, flipping the tick assert below.
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[StreamingBars.SidedSymIn]
    val q = StreamingBars.directionalBufferedStream(ms.toDS(), 300,
        watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("dir_wm_eq")
      .outputMode("append").start()
    def in(ts: Long, id: Long, sym: Long) =
      StreamingBars.SidedSymIn(ts, id, 100.0, 1.0, 1, sym)
    // bar(0,300s] for sym 0; the sym-1 row pushes max event to 600 s so the
    // watermark lands exactly ON the 300 s bar close (600 s − 5 min)
    ms.addData(Seq(in(100000000000L, 1, 0), in(200000000000L, 2, 0),
      in(350000000000L, 3, 1)))
    q.processAllAvailable()
    // invoke sym 0's group at wm == 300 s without advancing the watermark —
    // the strict-< finalize must keep bar 300 buffered here
    ms.addData(Seq(in(550000000000L, 4, 0)))
    q.processAllAvailable()
    // straggler with event_time == watermark (== 300 s): dropped by Spark
    ms.addData(Seq(in(250000000000L, 5, 0)))
    q.processAllAvailable()
    // advance the watermark far; everything flushes
    ms.addData(Seq(in(10000000000000L, 6, 0)))
    q.processAllAvailable()
    val rows = spark.table("dir_wm_eq")
      .where(col("symbol") === 0 && col("bar_ts") === 300000000000L)
      .select(col("ticks_buy") + col("ticks_sell")).collect()
    q.stop()
    assert(rows.length == 1, s"duplicate rows for one bar: ${rows.length}")
    assert(rows.head.getLong(0) == 2,
      "Spark 4.1 drops the equal-to-watermark straggler; exactly the two " +
        "on-time rows fold into the bar")
  }

  test("streaming integrity alerts equal the batch keyed gap scans") {
    import graft.streaming.StreamingIntegrity
    implicit val sqlCtx = spark.sqlContext
    // two symbols, co-monotonic (ts, id) per symbol, with planted time
    // gaps (> 100 s) and id jumps; delivered across three batches
    val ticks = Seq(
      // sym 0
      StreamingIntegrity.TickIn(10000000000L, 1, 0),
      StreamingIntegrity.TickIn(20000000000L, 2, 0),
      StreamingIntegrity.TickIn(140000000000L, 3, 0),  // time gap 120 s
      StreamingIntegrity.TickIn(150000000000L, 7, 0),  // id gap (3 missing)
      StreamingIntegrity.TickIn(160000000000L, 8, 0),
      // sym 1
      StreamingIntegrity.TickIn(15000000000L, 100, 1),
      StreamingIntegrity.TickIn(260000000000L, 101, 1), // time gap 245 s
      StreamingIntegrity.TickIn(270000000000L, 110, 1)) // id gap (8 missing)
    val ms = MemoryStream[StreamingIntegrity.TickIn]
    val q = StreamingIntegrity.alerts(ms.toDS(), maxGapNs = 100000000000L)
      .writeStream.format("memory").queryName("integ_alerts")
      .outputMode("append").start()
    ticks.grouped(3).foreach { b => ms.addData(b); q.processAllAvailable() }
    val streamed = spark.table("integ_alerts")
      .select("symbol", "kind", "prev_ts", "ts", "prev_id", "id",
        "missing_ids", "gap_sec")
      .collect().map(_.toSeq).toSet
    q.stop()
    val t = ticks.toDF("ts", "id", "symbol")
    val timeGaps = graft.trades.Trades
      .timeGaps(t, 100000000000L, Seq("symbol"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val idGaps = graft.trades.Trades.idGaps(t, Seq("symbol"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.count(_(1) == "time_gap") == timeGaps.size && timeGaps.size == 2)
    assert(streamed.count(_(1) == "id_gap") == idGaps.size && idGaps.size == 2)
    timeGaps.foreach { case (sym, gs, ge) =>
      assert(streamed.exists(a => a(0) == sym && a(1) == "time_gap" &&
        a(2) == gs && a(3) == ge), s"missing time gap $sym $gs-$ge")
    }
    idGaps.foreach { case (sym, pid, id) =>
      assert(streamed.exists(a => a(0) == sym && a(1) == "id_gap" &&
        a(4) == pid && a(5) == id), s"missing id gap $sym $pid-$id")
    }
  }

  test("streaming footprint summary equals the batch build+summary pipeline") {
    implicit val sqlCtx = spark.sqlContext
    val data = trades(60)
    val sided = graft.trades.Trades.withTickRuleSide(
        data.toDF().withColumnRenamed("symbol", "sym"))
      .select(col("ts"), col("id"), col("price"), col("qty"), col("side"),
        lit(0L).as("symbol"))
      .as[StreamingBars.SidedSymIn].collect().toSeq
    val ms = MemoryStream[StreamingBars.SidedSymIn]
    val q = StreamingBars.footprintSummaryStream(ms.toDS(), 300, 0.01,
        watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("fp_sum_out")
      .outputMode("append").start()
    ms.addData(sided.take(25)); q.processAllAvailable()
    ms.addData(sided.drop(25)); q.processAllAvailable()
    val far = data.last.ts + 86400000000000L
    ms.addData(Seq(StreamingBars.SidedSymIn(far, 9000L, 1.0, 1.0, 1, 0L)))
    q.processAllAvailable()
    ms.addData(Seq(StreamingBars.SidedSymIn(far + 60000000000L, 9001L, 1.0, 1.0, 1, 0L)))
    q.processAllAvailable()
    val cols = Seq("bar_ts", "buy_imbalances_sum", "sell_imbalances_sum",
      "cot_price_level", "imb_max_run_signed", "vp_skew", "vp_gini")
    val batchDf = graft.bars.Footprints.summary(graft.bars.Footprints.build(
      graft.trades.Trades.withTickRuleSide(
        data.toDF().withColumnRenamed("symbol", "sym")), 300, 0.01))
    val lastRealBar = batchDf.agg(max("bar_ts")).head().getLong(0)
    val streamed = spark.table("fp_sum_out")
      .where(col("bar_ts") <= lastRealBar)
      .select(cols.head, cols.tail: _*).orderBy("bar_ts").collect().toSeq
    q.stop()
    val batch = batchDf
      .select(cols.head, cols.tail: _*).orderBy("bar_ts").collect().toSeq
    assert(streamed.nonEmpty)
    assertRowsClose(streamed, batch)
  }

  test("streaming EWMA state machine equals the batch exact scan") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TradeIn]
    val q = StreamingBars.ewmaStream(ms.toDS(), span = 10)
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("append").start()
    val data = trades(50)
    ms.addData(data.take(20)); q.processAllAvailable()
    ms.addData(data.slice(20, 35)); q.processAllAvailable()
    ms.addData(data.drop(35)); q.processAllAvailable()
    val streamed = spark.table("ewma_out").orderBy("ts")
      .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("ewma"))).toSeq
    q.stop()
    val batch = Ewm.ewmaExact(data.toDF(), "price", 10).orderBy("ts")
      .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("ewma"))).toSeq
    assert(streamed.size == batch.size)
    streamed.zip(batch).foreach { case ((ts1, a), (ts2, b)) =>
      assert(ts1 == ts2 && math.abs(a - b) < 1e-12, s"at $ts1: $a vs $b")
    }
  }

  test("streaming volume/dollar bar ids equal the batch reset-state kernels") {
    implicit val sqlCtx = spark.sqlContext
    // two interleaved symbols — the stream must keep independent cum state
    val data = (0 until 60).map { i =>
      TradeIn(1700000000000000000L + i * 60000000000L, i.toLong,
        100.0 + 3.0 * math.sin(i * 0.7), 1.0 + (i % 4), (i % 2).toLong)
    }
    def collectIds(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("symbol", "ts").collect().map(r => (r.getAs[Long]("symbol"),
        r.getAs[Long]("ts"), r.getAs[Long]("bar_id"),
        r.getAs[Boolean]("bar_closed"))).toSeq

    val msV = MemoryStream[TradeIn]
    val qv = StreamingBars.volumeBarStream(msV.toDS(), threshold = 6.0)
      .writeStream.format("memory").queryName("vbar_out")
      .outputMode("append").start()
    msV.addData(data.take(23)); qv.processAllAvailable()
    msV.addData(data.drop(23)); qv.processAllAvailable()
    val streamedV = collectIds(spark.table("vbar_out"))
    qv.stop()
    assert(streamedV == collectIds(
      EventBars.volumeBarIds(data.toDF(), 6.0, Seq("symbol"))))

    // tick bars: stream ids must equal the batch closed form row-for-row
    // (batch drops the unassigned row 0; the stream marks it bar_id = -1)
    val msT = MemoryStream[TradeIn]
    val qt = StreamingBars.tickBarStream(msT.toDS(), threshold = 7)
      .writeStream.format("memory").queryName("tbar_out")
      .outputMode("append").start()
    msT.addData(data.take(11)); qt.processAllAvailable()
    msT.addData(data.drop(11)); qt.processAllAvailable()
    val streamRows = spark.table("tbar_out").where(col("bar_id") >= 0)
      .orderBy("symbol", "ts").collect()
      .map(r => (r.getAs[Long]("symbol"), r.getAs[Long]("ts"),
        r.getAs[Long]("bar_id"), r.getAs[Boolean]("bar_closed"))).toSeq
    qt.stop()
    val batchIds = EventBars.tickBarIds(data.toDF(), 7, Seq("symbol"))
      .orderBy("symbol", "ts").collect()
      .map(r => (r.getAs[Long]("symbol"), r.getAs[Long]("ts"), r.getAs[Long]("bar_id"))).toSeq
    assert(streamRows.map { case (s, t, b, _) => (s, t, b) } == batchIds)
    // bar_closed fires exactly on each bar's last row: the NEXT surviving
    // row of that symbol (if any) has a different bar_id
    streamRows.groupBy(_._1).values.foreach { rows =>
      rows.sliding(2).foreach {
        case Seq((_, _, b1, closed), (_, _, b2, _)) =>
          assert(closed == (b2 != b1), s"close flag at bar $b1 -> $b2")
        case _ =>
      }
    }

    val msD = MemoryStream[TradeIn]
    val qd = StreamingBars.dollarBarStream(msD.toDS(), threshold = 700.0)
      .writeStream.format("memory").queryName("dbar_out")
      .outputMode("append").start()
    msD.addData(data.take(31)); qd.processAllAvailable()
    msD.addData(data.drop(31)); qd.processAllAvailable()
    val streamedD = collectIds(spark.table("dbar_out"))
    qd.stop()
    assert(streamedD == collectIds(
      EventBars.dollarBarIds(data.toDF(), 700.0, Seq("symbol"))))
  }

  test("streaming imbalance/run bar ids equal the batch EWMA-threshold kernels") {
    implicit val sqlCtx = spark.sqlContext
    // two interleaved symbols with alternating side runs — the stream must
    // keep independent (θ, n, E_T, E_b) state per symbol across batches
    val data = (0 until 80).map { i =>
      StreamingBars.SidedSymIn(1700000000000000000L + i * 60000000000L,
        i.toLong, 100.0, 1.0, if ((i / 5) % 2 == 0) 1 else -1, (i % 2).toLong)
    }
    def collectIds(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("symbol", "ts").collect().map(r => (r.getAs[Long]("symbol"),
        r.getAs[Long]("ts"), r.getAs[Long]("bar_id"),
        r.getAs[Boolean]("bar_closed"))).toSeq

    val msI = MemoryStream[StreamingBars.SidedSymIn]
    val qi = StreamingBars.imbalanceBarStream(msI.toDS(), alphaT = 0.5,
        alphaB = 0.5, initT = 6.0, initB = 0.5)
      .writeStream.format("memory").queryName("ibar_out")
      .outputMode("append").start()
    msI.addData(data.take(27)); qi.processAllAvailable()
    msI.addData(data.drop(27)); qi.processAllAvailable()
    val streamedI = collectIds(spark.table("ibar_out"))
    qi.stop()
    assert(streamedI == collectIds(
      EventBars.imbalanceBarIds(data.toDF(), 0.5, 0.5, 6.0, 0.5, Seq("symbol"))))
    assert(streamedI.exists(_._4), "fixture must close at least one bar")

    val msR = MemoryStream[StreamingBars.SidedSymIn]
    val qr = StreamingBars.runBarStream(msR.toDS(), alphaT = 0.5,
        alphaP = 0.5, initT = 8.0, initP = 0.5)
      .writeStream.format("memory").queryName("rbar_out")
      .outputMode("append").start()
    msR.addData(data.take(33)); qr.processAllAvailable()
    msR.addData(data.drop(33)); qr.processAllAvailable()
    val streamedR = collectIds(spark.table("rbar_out"))
    qr.stop()
    assert(streamedR == collectIds(
      EventBars.runBarIds(data.toDF(), 0.5, 0.5, 8.0, 0.5, Seq("symbol"))))
    assert(streamedR.exists(_._4), "fixture must close at least one bar")
  }

  test("streaming value imbalance/run bar ids equal the batch kernels") {
    implicit val sqlCtx = spark.sqlContext
    // varying qty so the value measures differ from the tick counts; two
    // interleaved symbols keep independent state across the batch split
    val data = (0 until 80).map { i =>
      StreamingBars.SidedSymIn(1700000000000000000L + i * 60000000000L,
        i.toLong, 100.0 + (i % 7), 1.0 + (i % 3),
        if ((i / 5) % 2 == 0) 1 else -1, (i % 2).toLong)
    }
    def collectIds(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("symbol", "ts").collect().map(r => (r.getAs[Long]("symbol"),
        r.getAs[Long]("ts"), r.getAs[Long]("bar_id"),
        r.getAs[Boolean]("bar_closed"))).toSeq

    val msV = MemoryStream[StreamingBars.SidedSymIn]
    val qv = StreamingBars.valueImbalanceBarStream(msV.toDS(), dollar = false,
        alphaT = 0.5, alphaB = 0.5, initT = 6.0, initB = 1.0)
      .writeStream.format("memory").queryName("vibar_out")
      .outputMode("append").start()
    msV.addData(data.take(27)); qv.processAllAvailable()
    msV.addData(data.drop(27)); qv.processAllAvailable()
    val streamedV = collectIds(spark.table("vibar_out"))
    qv.stop()
    assert(streamedV == collectIds(EventBars.valueImbalanceBarIds(
      data.toDF(), dollar = false, 0.5, 0.5, 6.0, 1.0, Seq("symbol"))))
    assert(streamedV.exists(_._4), "fixture must close at least one bar")

    val msD = MemoryStream[StreamingBars.SidedSymIn]
    val qd = StreamingBars.valueRunBarStream(msD.toDS(), dollar = true,
        alphaT = 0.5, alphaP = 0.5, alphaV = 0.5,
        initT = 8.0, initP = 0.5, initV = 200.0)
      .writeStream.format("memory").queryName("drbar_out")
      .outputMode("append").start()
    msD.addData(data.take(33)); qd.processAllAvailable()
    msD.addData(data.drop(33)); qd.processAllAvailable()
    val streamedD = collectIds(spark.table("drbar_out"))
    qd.stop()
    assert(streamedD == collectIds(EventBars.valueRunBarIds(
      data.toDF(), dollar = true, 0.5, 0.5, 0.5, 8.0, 0.5, 200.0,
      Seq("symbol"))))
    assert(streamedD.exists(_._4), "fixture must close at least one bar")
  }

  test("streaming CUSUM filter equals the batch ordered scan") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TradeIn]
    val q = StreamingBars.cusumStream(ms.toDS(), threshold = 0.02)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    val data = trades(60)
    // lookahead-1 machine: a far-future heartbeat flushes the final real
    // row's pending decision (the heartbeat itself stays pending)
    val flush = TradeIn(9e18.toLong, 99999L, 1.0, 1.0, 0L)
    ms.addData(data.take(17)); q.processAllAvailable()
    ms.addData(data.drop(17) :+ flush); q.processAllAvailable()
    val streamed = spark.table("cusum_out").where(col("isEvent"))
      .orderBy("ts").collect().map(_.getAs[Long]("ts")).toSeq
    q.stop()
    val batch = EventBars.cusumEventIds(
      data.toDF().withColumn("sigma", lit(0.02)), "sigma", 1.0, 1e-12)
      .where(col("is_event")).orderBy("ts")
      .collect().map(_.getAs[Long]("ts")).toSeq
    assert(streamed == batch)
  }

  test("streaming CUSUM honors the equal-ts block rule across a batch split") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TradeIn]
    val q = StreamingBars.cusumStream(ms.toDS(), threshold = 0.02)
      .writeStream.format("memory").queryName("cusum_blk_out")
      .outputMode("append").start()
    // rows 3-5 share one timestamp with a big move at the block head: the
    // fire decision must defer to the block's LAST print (logic.py:207-209)
    val t0 = 1700000000000000000L
    val data = Seq(
      TradeIn(t0, 0L, 100.0, 1.0, 0L),
      TradeIn(t0 + 1000L, 1L, 100.1, 1.0, 0L),
      TradeIn(t0 + 2000L, 2L, 105.0, 1.0, 0L), // +4.8% crosses alone
      TradeIn(t0 + 3000L, 3L, 111.0, 1.0, 0L), // block head: crosses but…
      TradeIn(t0 + 3000L, 4L, 110.0, 1.0, 0L), // …must wait…
      TradeIn(t0 + 3000L, 5L, 104.0, 1.0, 0L), // …for the block tail
      TradeIn(t0 + 4000L, 6L, 104.1, 1.0, 0L))
    val flush = TradeIn(9e18.toLong, 99999L, 1.0, 1.0, 0L)
    // split INSIDE the equal-ts block: rows 0-4 then 5-6 (+ flush)
    ms.addData(data.take(5)); q.processAllAvailable()
    ms.addData(data.drop(5) :+ flush); q.processAllAvailable()
    val streamed = spark.table("cusum_blk_out")
      .orderBy("ts", "id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("isEvent"))).toSeq
    q.stop()
    val batch = EventBars.cusumEventIds(
      data.toDF().withColumn("sigma", lit(0.02)), "sigma", 1.0, 1e-12)
      .orderBy("ts", "id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("is_event"))).toSeq
    assert(streamed == batch)
    // the rule actually bit: block head (id=3) suppressed, tail may fire
    assert(streamed.find(_._1 == 3L).exists(!_._2),
      "block-head print must not fire inside an equal-ts block")
  }

  test("streaming CUSUM survives real rows arriving AFTER a heartbeat flush") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TradeIn]
    val q = StreamingBars.cusumStream(ms.toDS(), threshold = 0.02)
      .writeStream.format("memory").queryName("cusum_hb_out")
      .outputMode("append").start()
    val data = trades(60)
    val hb = TradeIn(StreamingBars.heartbeatNs, 99999L, 1.0, 1.0, 0L)
    // flush mid-stream, then keep feeding real rows: the heartbeat must
    // decide the pending real row but NOT inject log(1.0/prevPrice) into
    // the sums or emit itself — the post-flush rows continue the series
    ms.addData(data.take(20) :+ hb); q.processAllAvailable()
    ms.addData(data.drop(20)); q.processAllAvailable()
    ms.addData(Seq(hb.copy(id = 99998L))); q.processAllAvailable()
    val streamed = spark.table("cusum_hb_out")
      .orderBy("ts", "id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("isEvent"))).toSeq
    q.stop()
    val batch = EventBars.cusumEventIds(
      data.toDF().withColumn("sigma", lit(0.02)), "sigma", 1.0, 1e-12)
      .orderBy("ts", "id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Boolean]("is_event"))).toSeq
    assert(streamed == batch)
    assert(!streamed.exists(_._1 >= 99998L), "heartbeats must never emit")
  }

  test("streaming CUSUM fails loudly on out-of-order cross-batch input") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TradeIn]
    val q = StreamingBars.cusumStream(ms.toDS(), threshold = 0.02)
      .writeStream.format("memory").queryName("cusum_ooo_out")
      .outputMode("append").start()
    val t0 = 1700000000000000000L
    ms.addData(Seq(TradeIn(t0 + 5000L, 5L, 100.0, 1.0, 0L)))
    q.processAllAvailable()
    // a later batch carrying a row BELOW the pending (ts,id) must abort the
    // query with the contract message, not silently reorder the fold
    ms.addData(Seq(TradeIn(t0, 1L, 101.0, 1.0, 0L)))
    val ex = intercept[Exception](q.processAllAvailable())
    def chain(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).toSeq
    assert(chain(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("out-of-order cross-batch"))), ex.toString)
    q.stop()
  }

  test("streaming z-score peaks equal the batch preceding-window filter") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[TradeIn]
    val q = StreamingBars.zPeakStream(ms.toDS(), n = 5, threshold = 2.0)
      .writeStream.format("memory").queryName("zpk_out")
      .outputMode("append").start()
    val data = trades(60)
    // split mid-window: rows 0-11 arrive a batch before 12-59, so the
    // state window straddles the micro-batch boundary
    ms.addData(data.take(12)); q.processAllAvailable()
    ms.addData(data.drop(12)); q.processAllAvailable()
    val streamed = spark.table("zpk_out").where(col("isPeak"))
      .orderBy("ts").collect().map(_.getAs[Long]("ts")).toSeq
    q.stop()
    val batch = graft.features.Features
      .zScorePeaks(data.toDF(), "price", 5, 2.0, Seq("ts", "id"), Seq("symbol"))
      .where(col("is_peak")).orderBy("ts")
      .collect().map(_.getAs[Long]("ts")).toSeq
    assert(streamed == batch)
  }

  test("state-machine bars survive cross-batch handoff through a multi-FILE source") {
    // the driver gates feed one data file (one batch); this pins the
    // harder path — time-split parquet files arriving as separate
    // micro-batches (maxFilesPerTrigger=1, mtime-ordered), with bars
    // spanning file boundaries, equal to batch construction
    import org.apache.spark.sql.streaming.Trigger
    val data = trades(60) // 1-minute spacing: each 5m bar spans 5 rows
    val tmp = java.nio.file.Files.createTempDirectory("mfstream").toString
    def writeChunk(rows: Seq[TradeIn], sub: String, mod: Long): Unit = {
      val p = s"$tmp/$sub"
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(p)
      val d = new java.io.File(p)
      d.listFiles().foreach(_.setLastModified(mod))
      d.setLastModified(mod)
    }
    val t0 = System.currentTimeMillis()
    // splits NOT on bar boundaries: rows 0-21 / 22-43 / 44-59
    writeChunk(data.slice(0, 22), "a", t0 - 90000)
    writeChunk(data.slice(22, 44), "b", t0 - 80000)
    writeChunk(data.slice(44, 60), "c", t0 - 70000)
    val far = data.last.ts + 86400000000000L
    writeChunk(Seq(TradeIn(far, 9000L, 1.0, 1.0, 0L)), "d_s1", t0 - 60000)
    writeChunk(Seq(TradeIn(far + 60000000000L, 9001L, 1.0, 1.0, 0L)),
      "e_s2", t0 - 50000)
    val src = spark.readStream
      .schema(data.toDF().schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp + "/*")
      .as[TradeIn]
    val q = StreamingBars.ohlcvStateStream(src, 300, watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("mf_bars_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val lastRealBar = TimeBars.ohlcv(
      data.toDF().withColumnRenamed("symbol", "sym"), 300, fillEmpty = false)
      .agg(max("bar_ts")).head().getLong(0)
    // r6-round the sums (volume, vwap): a bar spanning a file boundary
    // accumulates pq in micro-batch order, a last-ulp difference from the
    // batch sum — the same normalization every oracle gate applies
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("bar_ts"), col("open"), col("high"), col("low"),
        col("close"), round(col("volume"), 6).as("volume"), col("trades"),
        round(col("vwap"), 6).as("vwap"))
      .orderBy("bar_ts").collect().toSeq
    val streamed = canon(spark.table("mf_bars_out")
      .where(col("bar_ts") <= lastRealBar))
    val batch = canon(TimeBars.ohlcv(
      data.toDF().withColumnRenamed("symbol", "sym"), 300, fillEmpty = false))
    assert(streamed.nonEmpty && streamed == batch)
  }
}
