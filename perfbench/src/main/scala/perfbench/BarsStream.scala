package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Conf
import graft.bars.TimeBars
import graft.sources.Store
import graft.streaming.{StreamingBars, StreamingIntegrity}
import StreamingBars.TradeIn
import Workload.now

/** Open loop: a generator thread drops multi-symbol trade files on a fixed
  * schedule while Structured Streaming queries consume them on a
  * processing-time trigger — state-store 5m OHLCV, dollar bars, CUSUM,
  * integrity alerts, and month appends into a Store with periodic
  * compaction.
  */
final class BarsStream extends Workload {
  val name = "bars_stream"
  val periodMs = 250L
  val triggerMs = 1000L
  /** Event time runs 300× wall time, so a 5m bar closes every second. */
  val speed = 300L
  private var rowsPerFile = 300
  private val symbols = 16
  private var blobs: IndexedSeq[Array[Byte]] = IndexedSeq.empty
  private var feed: Gen.Feed = _
  private var lastRun: File = _
  private val barNs = 300L * 1000000000L
  var sizes: Map[String, Double] = Map.empty

  def generate(dir: File, seed: Long, tiny: Boolean, seconds: Int): Unit = {
    rowsPerFile = if (tiny) 50 else 300
    // every file the window can need, generated up front so the timed
    // generator only writes bytes on schedule
    val nFiles = ((seconds * 1000L) / periodMs + 4).toInt
    feed = new Gen.Feed(seed, symbols, rowsPerFile, periodMs * 1000000L * speed, 0.4)
    blobs = (0 until nFiles).map(feed.file)
    sizes = Map("rows_per_s" -> rowsPerFile * 1000.0 / periodMs, "symbols" -> symbols.toDouble,
      "heavy_share" -> 0.4, "bytes_per_s" -> blobs.map(_.length).sum * 1000.0 / periodMs / nFiles)
  }

  /** File index holding trade `id`. */
  private def fileOfId(id: Long): Int = {
    var lo = 0; var hi = feed.files.length - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (feed.files(m)._2 < id) lo = m + 1 else hi = m }
    lo
  }

  /** First file with a symbol-0 trade after `closeNs`: the trade that moves
    * the watermark past the bar and so makes it final.
    */
  private def fileFinalizing(closeNs: Long): Int =
    feed.files.indexWhere(f => f._4 > closeNs && f._4 != Long.MinValue) match {
      case -1 => feed.files.length
      case k => k
    }

  def measure(spark: SparkSession, tr: Tracer, dir: File, work: File,
              seconds: Double, minUnits: Int): Measured = {
    import spark.implicits._
    val root = new File(work, s"run${now()}")
    lastRun = root
    val src = new File(root, "src"); src.mkdirs()
    val nFiles = math.min(blobs.length, math.max(4, math.ceil(seconds * 1000 / periodMs).toInt))
    Conf.resolveStatePartitions(spark, src.getAbsolutePath)
    val stream = spark.readStream.schema("ts long, id long, price double, qty double, symbol long")
      .option("header", "true").csv(src.getAbsolutePath)
    val trades: Dataset[TradeIn] = stream.as[TradeIn]
    val ohlcv = mutable.ArrayBuffer[(Long, Row)]()      // (batch id, bar)
    val closes = mutable.ArrayBuffer[(Long, Long)]()    // (batch id, closing trade id)
    val storePath = new File(root, "store").getAbsolutePath
    def chk(q: String) = new File(root, s"chk/$q").getAbsolutePath
    def start(q: String, layer: String)(f: => StreamingQuery): StreamingQuery = {
      val sq = tr.span(layer)(f)
      tr.registerQuery(sq.runId, layer)
      sq
    }
    val trig = Trigger.ProcessingTime(triggerMs)
    val qs = withParts(spark) { Seq(
      start("ohlcv", "streaming")(StreamingBars.ohlcvStateStream(trades.filter(_.symbol == 0L), 300)
        .toDF().writeStream.option("checkpointLocation", chk("ohlcv")).trigger(trig)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = df.collect()
          ohlcv.synchronized(rows.foreach(r => ohlcv += ((id, r))))
        }.start()),
      start("dollar", "streaming")(StreamingBars.dollarBarStream(trades, 50000.0)
        .where(col("bar_closed")).select("id").writeStream
        .option("checkpointLocation", chk("dollar")).trigger(trig)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val ids = df.collect().map(_.getLong(0))
          closes.synchronized(ids.foreach(x => closes += ((id, x))))
        }.start()),
      start("cusum", "streaming")(StreamingBars.cusumStream(trades, 0.004)
        .where(col("isEvent")).toDF().writeStream
        .option("checkpointLocation", chk("cusum")).trigger(trig)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.count(); ()
        }.start()),
      start("alerts", "streaming")(StreamingIntegrity.alerts(
          stream.select("ts", "id", "symbol").as[StreamingIntegrity.TickIn], 2000000000L * speed)
        .writeStream.option("checkpointLocation", chk("alerts")).trigger(trig)
        .foreachBatch { (df: Dataset[StreamingIntegrity.IntegrityAlert], _: Long) =>
          df.count(); ()
        }.start()),
      start("store", "sources")(stream.writeStream
        .option("checkpointLocation", chk("store")).trigger(trig)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          Store.saveMonthly(df, storePath, "append")
          if (id % 8 == 7) Store.compact(spark, storePath)
          ()
        }.start())) }

    // the open-loop generator: file k is due at start + k·period whether or
    // not the previous write finished on time
    val sched = Schedule(now() + 200, periodMs)
    val late = new Array[Long](nFiles)
    val gen = new Thread(() => {
      var k = 0
      while (k < nFiles) {
        val wait = sched.dueMs(k) - now()
        if (wait > 0) Thread.sleep(wait)
        val tmp = new File(src, f".f$k%06d.tmp")
        Files.write(tmp.toPath, blobs(k))
        Files.move(tmp.toPath, new File(src, f"f$k%06d.csv").toPath, StandardCopyOption.ATOMIC_MOVE)
        late(k) = now() - sched.dueMs(k)
        k += 1
      }
    }, "perfbench-feed")
    gen.start()
    gen.join()
    val windowEnd = sched.dueMs(nFiles)
    Thread.sleep(math.max(0L, windowEnd - now()))

    // drain: a far-future symbol-0 trade moves the watermark past every
    // real bar; then wait until every bar has been emitted
    val lastId = feed.files(nFiles - 1)._2
    val lastTs = feed.files.take(nFiles).map(_._4).max
    val sentinel = s"ts,id,price,qty,symbol\n${lastTs + 3600L * 1000000000L},${lastId + 1},50.00,0.001,0\n"
    Files.write(new File(src, "g_sentinel.csv").toPath, sentinel.getBytes("UTF-8"))
    val expected = {
      val ts = spark.read.schema("ts long, id long, price double, qty double, symbol long")
        .option("header", "true").csv(src.getAbsolutePath).where(col("id") <= lastId)
      ts.where(col("symbol") === 0L).select(TimeBars.barTs(barNs).as("b")).distinct().count()
    }
    val deadline = now() + 60000
    qs.foreach(_.processAllAvailable())
    while (sizeOf(ohlcv) < expected && now() < deadline) Thread.sleep(100)
    qs.foreach(_.processAllAvailable())
    LiveHeap.sample()
    qs.foreach(_.stop())

    // micro-batch end times by (query, batch id), from the queries' own
    // progress records
    def ends(q: StreamingQuery): Map[Long, Long] = q.recentProgress.map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration)
    }.toMap
    val (ohlcvQ, dollarQ, storeQ) = (qs(0), qs(1), qs(4))
    val ohlcvEnds = ends(ohlcvQ)
    val dollarEnds = ends(dollarQ)
    val inWindow = (t: Long) => t <= windowEnd
    val timeBarLat = ohlcv.toSeq.flatMap { case (b, r) =>
      val k = fileFinalizing(r.getAs[Long]("bar_ts"))
      ohlcvEnds.get(b).filter(inWindow).filter(_ => k < nFiles).map(e => (k, e))
    }
    val dollarLat = closes.toSeq.flatMap { case (b, id) =>
      dollarEnds.get(b).filter(inWindow).map(e => (fileOfId(id), e))
    }
    val latencies = Latency.fromSchedule(sched, timeBarLat ++ dollarLat)
    // commits into the store: newest file each store batch covered
    val storeCommits = storeQ.recentProgress.filter(_.numInputRows > 0).flatMap { p =>
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
      newestFile(new File(chk("store")), p).map(k => (end, sched.dueMs(k)))
    }.toSeq
    val batchTimes = qs.flatMap(_.recentProgress).filter { p =>
      p.numInputRows > 0 && java.time.Instant.parse(p.timestamp).toEpochMilli <= windowEnd
    }.map(_.batchDuration / 1000.0)
    val extras = Map("bench.gen_late_s" -> late.map(_ / 1000.0).sum / nFiles)
    lastOhlcv = ohlcv.map(_._2).toSeq
    lastIds = lastId
    Measured(batchTimes, latencies, storeCommits, sched.startMs, windowEnd,
      digests = Nil, extras = extras)
  }

  /** Start the stateful queries with `shuffle.partitions` pinned to the
    * program's resolved state partition count, as its streaming gates do.
    */
  private def withParts[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, Conf.statePartitions(spark).toString)
    try body finally spark.conf.set(key, old)
  }

  private def sizeOf(b: mutable.ArrayBuffer[_]): Long = b.synchronized(b.size.toLong)

  private var lastIds = 0L
  private var lastOhlcv: Seq[Row] = Nil

  /** Highest feed file index a store micro-batch had read, from the file
    * source's commit log in the checkpoint.
    */
  private def newestFile(chk: File, p: org.apache.spark.sql.streaming.StreamingQueryProgress): Option[Int] = {
    val off = "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(p.sources.head.endOffset)
      .map(_.group(1).toLong)
    off.flatMap { o =>
      val logs = new File(chk, "sources/0").listFiles()
      Option(logs).toSeq.flatten.filter(f => f.getName.forall(_.isDigit) && f.getName.toLong <= o)
        .flatMap(f => "/f(\\d{6})\\.csv".r.findAllMatchIn(new String(Files.readAllBytes(f.toPath), "UTF-8"))
          .map(_.group(1).toInt))
        .maxOption
    }
  }

  def checks(spark: SparkSession, digests: Seq[String]): Seq[Check] = {
    val src = new File(lastRun, "src").getAbsolutePath
    val all = spark.read.schema("ts long, id long, price double, qty double, symbol long")
      .option("header", "true").csv(src)
    val real = all.where(col("id") <= lastIds)
    val batch = TimeBars.ohlcv(real.where(col("symbol") === 0L), 300, fillEmpty = false)
      .select("bar_ts", "open", "high", "low", "close", "volume", "trades")
      .collect().map(r => r.getLong(0) -> r).toMap
    val streamed = lastOhlcv
    val streamedBars = streamed.map(r => r.getAs[Long]("bar_ts") -> r).toMap
    val mismatch = batch.keys.filter { b =>
      streamedBars.get(b).forall { s =>
        val r = batch(b)
        def eq(c: String) = r.getAs[Double](c) == s.getAs[Double](c)
        !(eq("open") && eq("high") && eq("low") && eq("close") &&
          math.abs(r.getAs[Double]("volume") - s.getAs[Double]("volume")) <= 1e-6 * r.getAs[Double]("volume") &&
          r.getAs[Long]("trades") == s.getAs[Long]("trades"))
      }
    }
    val extra = streamedBars.keySet -- batch.keySet
    val badOhlc = streamed.count(r => r.getAs[Double]("low") > math.min(r.getAs[Double]("open"), r.getAs[Double]("close")) ||
      r.getAs[Double]("high") < math.max(r.getAs[Double]("open"), r.getAs[Double]("close")))
    val storeRows = spark.read.parquet(new File(lastRun, "store").getAbsolutePath).count()
    Seq(
      Check("stream bars equal batch TimeBars.ohlcv after the drain",
        mismatch.isEmpty && extra.isEmpty && batch.nonEmpty,
        s"${mismatch.size} missing or different, ${extra.size} extra of ${batch.size}"),
      Check("stream bars: low <= open, close <= high", badOhlc == 0, s"$badOhlc bad"),
      Check("store holds every generated trade after appends and compaction",
        storeRows == lastIds + 1, s"$storeRows vs ${lastIds + 1}"))
  }

  val dominantLayers: Seq[String] = Seq("streaming", "sources")
}
