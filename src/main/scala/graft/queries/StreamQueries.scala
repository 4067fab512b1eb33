package graft.queries

import graft.queries.Q._
import graft.streaming.{StreamingBars, StreamingDedup}
import graft.trades.Trades
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Driver-gated STREAMING executions — the Structured-Streaming family was
  * previously ScalaTest-only (MemoryStream parity in StreamingSpec); these
  * gates drain a real file-source stream end-to-end through
  * `Trigger.AvailableNow` into a memory sink and hash-match the SAME
  * DuckDB oracles the batch twins answer to. The Spark side of each row
  * genuinely executes the streaming path: file source → watermark →
  * windowed agg / stateful dedup → append-mode sink.
  *
  * The memory sink is a GATE choice only (the driver compares a bounded
  * result set): a production deployment writes the identical stream to a
  * parquet/Kafka sink — the operators under test are sink-agnostic, and
  * their unbounded-scale behavior (state size, watermark eviction,
  * micro-batch commit cost) was certified separately by 10M-row drains
  * (the SYM_SCALING `stream_scaling` lines) and is timed today by
  * perfbench's `bars_stream` workload.
  */
object StreamQueries {

  /** 2100-01-01T00:00Z in ns — the flush sentinel's event time. Real data
    * ends decades earlier, so `bar_ts < sentinelNs` splits exactly.
    */
  private val sentinelNs = 4102444800000000000L

  /** Per-JVM fixture-dir suffix: two drivers running gates concurrently on
    * one machine must not delete/overwrite each other's temp fixture dirs
    * mid-stream (round-7 advice; same idiom as Dedup.connectedComponents's
    * cc_<uuid> subdirs).
    */
  private[graft] val runId: String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Run `body` (a streaming start+drain) with `shuffle.partitions` pinned
    * to the resolved streaming state partition count
    * ([[graft.Conf.statePartitions]] — input-volume-derived, env-overridable)
    * and restore the session value afterwards. AQE is disabled inside
    * streaming plans, so without this every stateful operator inherits
    * `shuffle.partitions = cpus` as its state-store partition count — 32
    * state partitions → 32 delta files per store per micro-batch for a
    * few-MB fixture (guide §2: scale partitioning to data, not the box).
    * The value is constant within a gate (env + input fixed), so crash /
    * restart gates re-open their checkpoints under the same partition
    * count — the Structured Streaming invariant. foreachBatch bodies'
    * delta-sized batch jobs run inside the same window and shuffle with
    * the same data-proportionate width.
    */
  private[queries] def withStateParts[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, graft.Conf.statePartitions(s).toString)
    try body finally s.conf.set(key, old)
  }

  /** Run `body` with AQE partition coalescing honoring the ADVISORY SIZE
    * (`parallelismFirst=false`) and restore afterwards — scoped to the
    * foreachBatch pipeline drains, whose bodies run ~30 delta-sized batch
    * jobs per micro-batch: there the 32-task post-shuffle stages are pure
    * scheduling overhead (A/B at 32 cpus: corpus family ~1.2-1.5× faster
    * with the advisory size; the same setting measured 0.93× on the tiny
    * BATCH query family, which keeps Spark's parallelism-first default —
    * see Conf.engineDefaults). Scale-adaptive: shuffles at or above the
    * advisory size are untouched. A constant, not the env knob that sets
    * the session default: A/B-ing the batch default must not flip the
    * drains too.
    */
  private[queries] def withBatchCoalesce[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val old = s.conf.get(key)
    s.conf.set(key, "false")
    try body finally s.conf.set(key, old)
  }

  /** Drain a streaming frame to completion and return the sink table.
    * AvailableNow processes every file then stops; `maxFilesPerTrigger`
    * on the source (set by callers) controls batch granularity.
    */
  private def drain(df: DataFrame, qn: String): DataFrame = {
    val s = df.sparkSession
    s.catalog.dropTempView(qn)
    withStateParts(s) {
      val q = df.writeStream.format("memory").queryName(qn)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(qn)
  }

  /** Write `df` as ONE parquet file inside `dir` with the given
    * lastModified — the file-source orders batches by (modTime, path), so
    * stamping data earlier than the sentinels pins batch order without
    * relying on write latency.
    */
  private def writeOneFile(df: DataFrame, dir: String, sub: String,
                           modTime: Long): Unit = {
    val path = s"$dir/$sub"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    val d = new java.io.File(path)
    d.listFiles().foreach(_.setLastModified(modTime))
    d.setLastModified(modTime)
  }

  /** A `streaming_corpus_*` gate's fixture under tmpdir/`name`: the empty
    * day-0 state ([[CorpusPipeline.day0]]) and the 3-batch source
    * (doc_id mod 3, one file per batch). The base gates stream the raw
    * corpus; `full` streams the train split of the PII-AUGMENTED corpus
    * (the synthetic docs carry no organic PII — same deterministic
    * injection as pii_redact) and holds out the test split as the static
    * decontamination benchmark. Returns (root, front, source schema).
    */
  private def corpusGate(s: SparkSession, dir: String, name: String,
                         full: Boolean)
      : (String, CorpusPipeline.Front, org.apache.spark.sql.types.StructType) = {
    val root = new java.io.File(sys.props("java.io.tmpdir"), name)
      .getAbsolutePath
    val docs = s.read.parquet(s"$dir/documents.parquet")
    // persisted: the source splits, day-0 schema probes and (full) the
    // bench gram table + bloom each re-read it — without it every action
    // re-runs the PII augmentation + split hash
    val (train, bench) =
      if (!full) (docs.select("doc_id", "text").persist(graft.Conf.storageLevel), None)
      else {
        // repartitioned: the corpus is one parquet split, and the persisted
        // frame inherits its partitioning — the bench-side redact + gram
        // explode would otherwise run single-task (profiled 1.9 s, guide
        // §2.5 "one huge unsplittable file")
        val sp = graft.ml.Sampling.splitAssign(
            docs.repartition(math.max(1, s.sparkContext.defaultParallelism),
                col("doc_id"))
              .select(col("doc_id"), PipeQueries.augText.as("text")),
            "doc_id", DocQueries.sampleSalt, DocQueries.splitFractions)
          .persist(graft.Conf.storageLevel)
        def split(n: String) = sp.where(col("split") === n).select("doc_id", "text")
        (split("train"), Some(split("test")))
      }
    val front = CorpusPipeline.day0(s, train, name, root, buckets = 8, bench)
    val t0 = System.currentTimeMillis()
    Seq("a_b0", "b_b1", "c_b2").zipWithIndex.foreach { case (sub, i) =>
      writeOneFile(train.where(pmod(col("doc_id"), lit(3)) === i),
        root + "/src", sub, t0 - 60000 + 20000 * i)
    }
    (root, front, train.schema)
  }

  /** Drain with a crash injected at `crashAtBatch` (between its seen and
    * index publishes), require that it fired, then restart on the same
    * checkpoint — the crashed batch replays in full, then the rest runs.
    */
  private def corpusCrashReplay(s: SparkSession, name: String, root: String,
                                schema: org.apache.spark.sql.types.StructType,
                                front: CorpusPipeline.Front,
                                crashAtBatch: Long,
                                compactAtBatch: Long = -1L): Unit = {
    val crashed =
      try {
        CorpusPipeline.drain(s, name, root, schema, front,
          compactAtBatch = compactAtBatch, crashAtBatch = crashAtBatch)
        false
      } catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => true
      }
    require(crashed, s"the injected crash at batch $crashAtBatch (between " +
      "the seen publish and the index publish) did not fire")
    CorpusPipeline.drain(s, name, root, schema, front,
      compactAtBatch = compactAtBatch)
  }

  /** Exactly-once post-conditions a crash-replayed corpus drain must leave
    * in the state tables the oracle cannot see: no duplicated store doc,
    * exactly `minhashBands` index rows per survivor and none for any other
    * doc, no duplicated seen hash.
    */
  private def requireExactlyOnceState(s: SparkSession, name: String,
                                      root: String): Unit = {
    val store = graft.sources.StateStore.read(s, root + "/store")
    val nDocs = store.count()
    require(store.select("doc_id").distinct().count() == nDocs,
      "crash replay duplicated store rows")
    s.catalog.refreshTable(name)
    val idxByDoc = s.table(name).groupBy("base_id")
      .agg(count(lit(1)).as("n"))
    require(idxByDoc.where(col("n") =!= DocQueries.minhashBands).count() == 0,
      "crash replay duplicated or dropped band rows")
    require(idxByDoc.count() == nDocs &&
      idxByDoc.join(store.select(col("doc_id").as("base_id")),
        Seq("base_id"), "left_anti").count() == 0,
      "index doc set diverged from the store after crash replay")
    val seen = graft.sources.StateStore.read(s, root + "/seen")
    require(seen.count() == seen.distinct().count(),
      "crash replay duplicated seen hashes")
  }

  /** Compaction post-condition: seen and store each hold the folded
    * generation (`batch=-2`) plus at most the open batch's partition.
    */
  private def requireStateFolded(root: String): Unit =
    Seq("/seen", "/store").foreach { st =>
      val dirs = new java.io.File(root + st).listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
      require(dirs.length <= 2 && dirs.head == "batch=-2",
        s"state $st is not folded: ${dirs.mkString(",")}")
    }

  /** The fixture behind every file-stream gate: `files` written under a
    * fresh tmpdir/`tmpName` as one parquet file each, modification times
    * pinned 10 s apart in `files` order, read back one file per
    * micro-batch (`maxFilesPerTrigger` = 1) with the first frame's schema.
    */
  private def batchFileStream(s: SparkSession, tmpName: String,
                              files: Seq[(String, DataFrame)]): DataFrame = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"), tmpName)
      .getAbsolutePath
    // wipe stale runs: the source must see exactly this invocation's files
    // (same recursive-delete idiom as Store.saveBucketed)
    val p = new org.apache.hadoop.fs.Path(tmp)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val t0 = System.currentTimeMillis() - 10000L * files.size
    files.zipWithIndex.foreach { case ((name, df), i) =>
      writeOneFile(df, tmp, name, t0 + 10000L * i)
    }
    s.readStream.schema(files.head._2.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp + "/*")
  }

  /** Flush sentinel `k` (0 or 1) in `like`'s columns: ts `sentinelNs` +
    * k·10 min, reserved id 9e9 + k, unit price and qty, side and symbol 0.
    * Two of them in separate files advance the (global) event-time
    * watermark past every real bar plus delay — watermarks lag one batch,
    * so the second sentinel's batch finalizes everything; a single one
    * flushes a lookahead-1 machine's pending tail and itself never emits.
    */
  private def sentinelRow(like: DataFrame, k: Int): DataFrame = {
    val v = Map("ts" -> lit(sentinelNs + k * 600000000000L),
      "id" -> lit(9000000000L + k), "price" -> lit(1.0), "qty" -> lit(1.0),
      "side" -> lit(0), "symbol" -> lit(0L))
    like.sparkSession.range(1).select(like.columns.map(c => v(c).as(c)): _*)
  }

  /** One far-future heartbeat row PER SYMBOL (id 9e9 + symbol): flushes
    * every per-symbol lookahead-1 tail; the heartbeats stay pending.
    */
  private def symbolHeartbeats(trades: DataFrame): DataFrame =
    trades.select(col("symbol")).distinct()
      .select(lit(sentinelNs).as("ts"),
        (lit(9000000000L) + col("symbol")).as("id"), lit(1.0).as("price"),
        lit(1.0).as("qty"), col("symbol"))

  /** `df` split at its median ts into an early and a late file — two
    * micro-batches, so every bar, EWMA value or event that straddles the
    * split proves cross-batch state.
    */
  private def medianSplit(df: DataFrame): Seq[(String, DataFrame)] = {
    val mid = df.agg(expr("cast(median(ts) as bigint)")).head().getLong(0)
    Seq("a_early" -> df.where(col("ts") <= mid),
      "b_late" -> df.where(col("ts") > mid))
  }

  /** Canonical trades (ts, id, price, qty) plus the two flush sentinels —
    * the fixture for the watermarked streaming-bars gates.
    */
  private def tradeFileStream(s: SparkSession, dir: String,
                              tmpName: String): DataFrame = {
    val trades = Trades.fromEvents(graft.Tables.events(s, dir))
      .select("ts", "id", "price", "qty")
    batchFileStream(s, tmpName, Seq("a_data" -> trades,
      "b_s1" -> sentinelRow(trades, 0), "c_s2" -> sentinelRow(trades, 1)))
  }

  /** Sentinel filter + the canonical rounded bar projection — shared by
    * both streaming-bars gates so their outputs stay column-identical
    * against the one oracle.
    */
  private def canonBars(drained: DataFrame): DataFrame =
    drained
      .where(col("bar_ts") < sentinelNs)
      .select(col("bar_ts"), r6(col("open")).as("open"),
        r6(col("high")).as("high"), r6(col("low")).as("low"),
        r6(col("close")).as("close"), r6(col("volume")).as("volume"),
        col("trades"), q6(col("vwap")).as("vwap"))

  /** Tick-rule-sided canonical trades (ts, id, price, qty, side, symbol):
    * the tick rule runs per `partCols` and the stream carries `symbol`.
    * Side assignment is a scan over the whole input and happens upstream at
    * ingest, exactly as it does for the batch twins — the stream under test
    * is the stateful bar operator, which consumes sided trades.
    */
  private def sidedTrades(s: SparkSession, dir: String, partCols: Seq[String],
                          symbol: Column): DataFrame =
    Trades.withTickRuleSide(Trades.fromEvents(graft.Tables.events(s, dir)),
        partCols)
      .select(col("ts"), col("id"), col("price"), col("qty"),
        col("side").cast("int").as("side"), symbol.as("symbol"))

  /** Sided trades plus the two flush sentinels — the fixture for the
    * directional / footprint state-machine gates.
    */
  private def sidedFileStream(s: SparkSession, dir: String,
                              tmpName: String): DataFrame = {
    val sided = sidedTrades(s, dir, Nil, lit(0L))
    batchFileStream(s, tmpName, Seq("a_data" -> sided,
      "b_s1" -> sentinelRow(sided, 0), "c_s2" -> sentinelRow(sided, 1)))
  }

  /** Canonical trades (symbol pinned to 0 — the unkeyed batch twins) split
    * at the median ts — the fixture for the NoTimeout per-key state
    * machines (threshold bars / EWMA / CUSUM): no sentinels are needed
    * because the machines emit as they fold; `flush` adds one for a
    * lookahead-1 machine.
    */
  private def splitTradeFileStream(s: SparkSession, dir: String,
                                   tmpName: String,
                                   flush: Boolean = false): DataFrame = {
    // persisted: the median agg + both split writes each ACTION on this
    // frame — without the persist the canonicalization re-scans the
    // events parquet 3x (guide §1.2: remove repeated passes)
    val trades = Trades.fromEvents(graft.Tables.events(s, dir))
      .select(col("ts"), col("id"), col("price"), col("qty"),
        lit(0L).as("symbol"))
      .persist(graft.Conf.storageLevel)
    batchFileStream(s, tmpName, medianSplit(trades) ++
      (if (flush) Seq("c_flush" -> sentinelRow(trades, 0)) else Nil))
  }

  /** [[sidedTrades]] split at the median ts — the fixture for the
    * imbalance/run-bar state machines.
    */
  private def splitSidedFileStream(s: SparkSession, dir: String,
                                   tmpName: String): DataFrame =
    // persisted: median + two split writes each re-run the tick-rule
    // window (a full sort) without it — 3 passes folded to 1
    batchFileStream(s, tmpName, medianSplit(
      sidedTrades(s, dir, Nil, lit(0L)).persist(graft.Conf.storageLevel)))

  /** [[splitTradeFileStream]] with the REAL symbol column — the fixture
    * for keyed per-symbol state machines (every symbol's stream straddles
    * the two-batch split); `flush` adds [[symbolHeartbeats]].
    */
  private def splitKeyedTradeFileStream(s: SparkSession, dir: String,
                                        tmpName: String,
                                        flush: Boolean = false): DataFrame = {
    // persisted: median + split writes (+ per-symbol flush distinct) =
    // 3-4 actions over the same canonicalization
    val trades = Trades.fromEvents(graft.Tables.events(s, dir))
      .select(col("ts"), col("id"), col("price"), col("qty"), col("symbol"))
      .persist(graft.Conf.storageLevel)
    batchFileStream(s, tmpName, medianSplit(trades) ++
      (if (flush) Seq("c_flush" -> symbolHeartbeats(trades)) else Nil))
  }

  /** [[splitSidedFileStream]] with REAL symbols and the PER-SYMBOL tick
    * rule — the fixture for the keyed streaming machines: ~150 concurrent
    * per-symbol states, every symbol's stream straddling the median-ts
    * split, so the cross-batch handoff is exercised across the whole key
    * space rather than one pinned key. `sentinels` adds the two flush
    * rows (one symbol-0 row per file suffices: timeouts fire for every
    * key).
    */
  private def splitKeyedSidedFileStream(s: SparkSession, dir: String,
                                        tmpName: String,
                                        sentinels: Boolean = false): DataFrame = {
    // persisted: median + both split writes each re-run the per-symbol
    // tick-rule window (shuffle + sort) without it
    val sided = sidedTrades(s, dir, Seq("symbol"), col("symbol"))
      .persist(graft.Conf.storageLevel)
    batchFileStream(s, tmpName, medianSplit(sided) ++
      (if (sentinels) Seq("c_s1" -> sentinelRow(sided, 0),
        "d_s2" -> sentinelRow(sided, 1)) else Nil))
  }

  /** Join drained per-trade bar ids back to the canonical trades (the
    * BarIdOut rows carry no price/qty) — shared by the three
    * threshold-bar gates.
    */
  private def withTradeData(ids: DataFrame, s: SparkSession,
                            dir: String): DataFrame = {
    val joined = ids.where(col("bar_id") >= 0)
      .select(col("ts"), col("id"), col("bar_id"), col("bar_closed"))
      .join(Trades.fromEvents(graft.Tables.events(s, dir))
        .select("ts", "id", "price", "qty"), Seq("ts", "id"))
    // fresh attribute ids: the downstream two-pass OHLCV self-joins this
    // frame, and a memory-sink View in the lineage trips analyzer
    // reference-dedup ("conflicting references in Join").
    // Persisted EAGERLY: completeBars scans this frame 3x (complete-flag
    // agg + the OHLCV two-pass) and each scan would re-execute the RDD
    // conversion AND the join (the plan shows 3-4 `Scan ExistingRDD`
    // leaves over the same subtree — plans/r14/*_before.txt). The scans
    // run as CONCURRENT broadcast/subquery futures, so a lazy persist is
    // not enough — they all miss the in-flight cache and recompute
    // (measured: three parallel ~1.4 s jobs at sf0.1); the count() below
    // materializes the cache once before any of them start.
    val fresh = s.createDataFrame(joined.rdd, joined.schema)
      .persist(graft.Conf.storageLevel)
    fresh.count()
    fresh
  }

  /** [[withTradeData]] keeping the machine's symbol — shared by the keyed
    * threshold/imbalance/run streaming gates.
    */
  private def withKeyedTradeData(ids: DataFrame, s: SparkSession,
                                 dir: String): DataFrame = {
    val joined = ids.where(col("bar_id") >= 0)
      .select(col("symbol"), col("ts"), col("id"), col("bar_id"),
        col("bar_closed"))
      .join(Trades.fromEvents(graft.Tables.events(s, dir))
        .select("ts", "id", "price", "qty"), Seq("ts", "id"))
    // persisted eagerly for the same concurrent-3-scan reason as
    // [[withTradeData]]
    val fresh = s.createDataFrame(joined.rdd, joined.schema)
      .persist(graft.Conf.storageLevel)
    fresh.count()
    fresh
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Streaming 5-minute OHLCV bars in APPEND mode: canonical trades land
    // as parquet files, two far-future sentinel files advance the
    // watermark (watermarks lag one batch: sentinel 1 raises it, sentinel
    // 2's batch finalizes every real bar), and the memory sink holds the
    // bars the watermark finalized. Hash-matched against the same
    // bar arithmetic the batch gates use — no empty-bar fill / median
    // (those are batch post-passes, not stream-windowed state).
    "streaming_time_bars_5m" -> ((s, dir) => {
      val src = tradeFileStream(s, dir, s"graft_gate_stream_bars_$runId")
      val bars = StreamingBars.ohlcvStream(src, 300,
        watermarkDelay = Some("1 minute"))
      canonBars(drain(bars, "gate_stream_bars_5m"))
    }),

    // The SAME bars through the append-mode STATE MACHINE
    // (flatMapGroupsWithState + event-time timeout) — the scale path for
    // streaming bar construction (fixed-width per-bar state, no per-batch
    // sort). Shares the windowed-agg gate's oracle verbatim: two
    // different streaming executors, one semantic.
    "streaming_time_bars_state_5m" -> ((s, dir) => {
      import s.implicits._
      val src = tradeFileStream(s, dir, s"graft_gate_stream_bars_st_$runId")
        .withColumn("symbol", lit(0L))
        .as[StreamingBars.TradeIn]
      // delay must cover the bar's open span: trades arrive up to 300 s
      // before their bar-close event time (see StreamingSpec)
      val bars = StreamingBars.ohlcvStateStream(src, 300,
        watermarkDelay = "10 minutes")
      canonBars(drain(bars.toDF(), "gate_stream_bars_state_5m"))
    }),

    // Streaming LSH candidate pairs: per-doc band keys ride the native
    // codegen minhash expression (stateless, shuffle-free), then the
    // stateful bucket stream pairs each arriving doc with its bucket's
    // remembered members. Uncapped state + a single data batch makes the
    // DISTINCT pair set deterministic and EQUAL to the batch
    // lshCandidates banding — which is exactly what the oracle computes
    // (same CTE fragments as dedup_minhash_lsh; at-least-once re-emission
    // across bands collapses under the distinct).
    "streaming_dedup_lsh_pairs" -> ((s, dir) => {
      import s.implicits._
      val sch = s.read.parquet(s"$dir/documents.parquet").schema
      val banded = s.readStream.schema(sch)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(col("doc_id"), explode(StreamingDedup.minhashBuckets(
          graft.text.TextOps.wsTokens(col("text")),
          DocQueries.shingleN, DocQueries.minhashK, DocQueries.minhashBands))
          .as("bucket"))
        .select(col("bucket"), col("doc_id").as("docId"))
        .as[StreamingDedup.BandedDoc]
      val pairs = StreamingDedup.lshCandidateStream(banded,
        maxBucket = Int.MaxValue)
      drain(pairs.toDF(), "gate_stream_lsh_pairs")
        .select(col("id_a"), col("id_b")).distinct()
    }),

    // Streaming exact dedup at ingest, with REAL drops: the synthetic
    // corpus has no duplicate content, so the stream is fed the originals
    // PLUS a re-keyed copy of every document as a SECOND file (= a later
    // micro-batch under maxFilesPerTrigger=1) — 2·N rows in, N out, the
    // copy batch dropped entirely AGAINST CROSS-BATCH STATE. The
    // watermark delay exceeds the synthetic event-time span, so no state
    // expires mid-run. WHICH doc id survives a duplicate group is
    // arrival-order-dependent by design (documented deviation from batch
    // min-id keep-first), so the gate projects the DETERMINISTIC part:
    // the surviving content-hash set, whose count equaling N (not 2N) is
    // the drop evidence. The oracle is untouched: distinct hashes of the
    // original corpus.
    "streaming_dedup_exact" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_stream_dedup_$runId").getAbsolutePath
      val p = new org.apache.hadoop.fs.Path(tmp)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val t0 = System.currentTimeMillis()
      writeOneFile(docs, tmp, "a_orig", t0 - 40000)
      writeOneFile(docs.withColumn("doc_id", col("doc_id") + 1000000L),
        tmp, "b_copy", t0 - 20000)
      val src = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp + "/*")
        // base offset: doc_id 0 at epoch 0 would sit exactly ON the
        // query's initial watermark and be dropped as late
        .withColumn("event_time",
          timestamp_micros(col("doc_id") + lit(1700000000000000L)))
      val out = StreamingDedup.exactDedupStream(
        src, "text", "event_time", "3650 days")
      drain(out, "gate_stream_dedup")
        .select(md5(graft.dedup.Dedup.normalized(col("text")))
          .as("content_md5"))
    }),

    // Streaming DIRECTIONAL (order-flow) bars through the per-symbol state
    // machine (flatMapGroupsWithState + event-time timeout): sided trades
    // arrive as files, the prev-trade spread handoff and intra-bar signed
    // cumulative extrema fold in fixed-width per-bar state, and bars land
    // in the sink when the watermark finalizes them. Shares the batch
    // twin's oracle text VERBATIM (time_bars_directional_1h): two
    // executors, one order-flow semantic. The in-order-across-batches
    // parity precondition holds by construction (one data batch, sorted
    // in-batch); directionalBufferedStream — the any-order variant —
    // shares dirFold and is parity-pinned in StreamingSpec.
    "streaming_directional_1h" -> ((s, dir) => {
      import s.implicits._
      val src = sidedFileStream(s, dir, s"graft_gate_stream_dir_$runId")
        .as[StreamingBars.SidedSymIn]
      // delay must cover the bar's open span (trades sit up to 1h before
      // their bar-close event time) — same reasoning as the state-bars gate
      val bars = StreamingBars.directionalStateStream(src, 3600,
        watermarkDelay = "2 hours")
      drain(bars.toDF(), "gate_stream_dir_1h")
        .where(col("bar_ts") < sentinelNs)
        .select(col("bar_ts"), col("ticks_buy"), col("ticks_sell"),
          r6(col("volume_buy")).as("volume_buy"),
          r6(col("volume_sell")).as("volume_sell"),
          r6(col("dollars_buy")).as("dollars_buy"),
          r6(col("dollars_sell")).as("dollars_sell"),
          r6(col("mean_spread")).as("mean_spread"),
          r6(col("max_spread")).as("max_spread"),
          col("cum_ticks_min"), col("cum_ticks_max"),
          r6(col("cum_volume_min")).as("cum_volume_min"),
          r6(col("cum_volume_max")).as("cum_volume_max"),
          r6(col("cum_dollars_min")).as("cum_dollars_min"),
          r6(col("cum_dollars_max")).as("cum_dollars_max"))
    }),

    // Streaming per-bar FOOTPRINT SUMMARY: the (level → volumes) grid
    // accumulates in fixed-width state and the full neighbor-dependent
    // feature row (imbalance counts, COT, longest signed run, skew, gini)
    // computes from the finished grid at watermark finalization. Shares
    // the batch twin's oracle text VERBATIM (footprint_summary_1h) — the
    // stream's BigInt micro-unit sums are the batch summary's exact
    // decimal(38,0) integer arithmetic, so the hash match is exact, not
    // approximate.
    "streaming_footprint_summary" -> ((s, dir) => {
      import s.implicits._
      val src = sidedFileStream(s, dir, s"graft_gate_stream_fp_$runId")
        .as[StreamingBars.SidedSymIn]
      val out = StreamingBars.footprintSummaryStream(src, 3600, 0.01,
        imbalanceFactor = 3.0, watermarkDelay = "2 hours")
      drain(out.toDF(), "gate_stream_fp_summary")
        .where(col("bar_ts") < sentinelNs)
        .select(col("bar_ts"),
          col("buy_imbalances_sum"), col("sell_imbalances_sum"),
          col("cot_price_level"), col("imb_max_run_signed"),
          (r6(col("vp_skew")) + lit(0.0)).as("vp_skew"),
          r6(col("vp_gini")).as("vp_gini"))
    }),

    // Streaming DIRECTIONAL via the DECLARATIVE windowed agg — the subset
    // of the order-flow features expressible without sequential state (no
    // prev-trade spread handoff, no intra-bar cumulative extrema): per-bar
    // buy/sell tick counts and volume/dollar sums finalized by the
    // watermark. The stateful twin (streaming_directional_1h) answers the
    // FULL feature row; this gate pins the windowed-agg executor, closing
    // the last ScalaTest-only streaming surface.
    "streaming_directional_agg_1h" -> ((s, dir) => {
      val src = sidedFileStream(s, dir, s"graft_gate_stream_dira_$runId")
      drain(StreamingBars.directionalStream(src, 3600,
          watermarkDelay = Some("1 minute")), "gate_stream_dir_agg")
        .where(col("bar_ts") < sentinelNs)
        .select(col("bar_ts"), col("ticks_buy"), col("ticks_sell"),
          r6(col("volume_buy")).as("volume_buy"),
          r6(col("volume_sell")).as("volume_sell"),
          r6(col("dollars_buy")).as("dollars_buy"),
          r6(col("dollars_sell")).as("dollars_sell"))
    }),

    // LIVE INGEST → STORE: canonical trades arrive as a two-micro-batch
    // file stream and the exactly-once parquet sink writes them STRAIGHT
    // INTO the monthly-partitioned store layout (partitionBy month — the
    // same directories saveMonthly produces, stamped with the same
    // integer-div month arithmetic). Store.readRange then serves a pruned
    // mid-range slice off the manifest-committed files and answers
    // store_readrange_prune's oracle verbatim. This is binance2h5's live
    // shape at 100 TB: ingest writers append month partitions continuously
    // while readers range-scan behind the sink's commit log — no batch
    // rewrite step between "arrived" and "queryable".
    "streaming_store_ingest" -> ((s, dir) => {
      val trades = Trades.fromEvents(graft.Tables.events(s, dir))
        .select(col("ts"), col("id"), col("price"), col("qty"), col("symbol"))
      val st = trades.agg(expr("cast(median(ts) as bigint)"), min(col("ts"))).head()
      val (mid, minTs) = (st.getLong(0), st.getLong(1))
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_stream_ingest_$runId").getAbsolutePath
      val srcDir = base + "/src"
      val pth = new org.apache.hadoop.fs.Path(base)
      val fs = pth.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(pth)) fs.delete(pth, true)
      val t0 = System.currentTimeMillis()
      writeOneFile(trades.where(col("ts") <= mid), srcDir, "a_early", t0 - 40000)
      writeOneFile(trades.where(col("ts") > mid), srcDir, "b_late", t0 - 20000)
      withStateParts(s) {
        val q = s.readStream.schema(trades.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir + "/*")
          .withColumn("month", graft.sources.Store.monthCol("ts"))
          .writeStream.format("parquet")
          .partitionBy("month")
          .option("path", base + "/store")
          .option("checkpointLocation", base + "/chk")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val dayNs = 86400L * 1000000000L
      graft.sources.Store.readRange(s, base + "/store",
          minTs + 7 * dayNs, minTs + 14 * dayNs)
        .select(col("ts"), col("id"), r6(col("price")).as("price"),
          r6(col("qty")).as("qty"), col("symbol"))
    }),

    // INGEST REPLAY IDEMPOTENCE: the ops property a production store
    // depends on but no gate had pinned — after the ingest stream fully
    // drains, a FRESH query start on the SAME source dir + checkpoint
    // (the standard crash-loop / redeploy replay) must re-commit NOTHING:
    // the offset log already covers every file, so the store's content
    // hash is bit-identical before and after the replay. The in-gate
    // require hard-fails on any drift (double-append or loss); the
    // returned ranged read then answers store_readrange_prune's oracle,
    // proving the surviving store is also still CORRECT, not just stable.
    "streaming_store_ingest_replay" -> ((s, dir) => {
      val trades = Trades.fromEvents(graft.Tables.events(s, dir))
        .select(col("ts"), col("id"), col("price"), col("qty"), col("symbol"))
      val st = trades.agg(expr("cast(median(ts) as bigint)"), min(col("ts"))).head()
      val (mid, minTs) = (st.getLong(0), st.getLong(1))
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_stream_ingrep_$runId").getAbsolutePath
      val srcDir = base + "/src"
      val pth = new org.apache.hadoop.fs.Path(base)
      val fs = pth.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(pth)) fs.delete(pth, true)
      val t0 = System.currentTimeMillis()
      writeOneFile(trades.where(col("ts") <= mid), srcDir, "a_early", t0 - 40000)
      writeOneFile(trades.where(col("ts") > mid), srcDir, "b_late", t0 - 20000)
      def runOnce(): Unit = withStateParts(s) {
        val q = s.readStream.schema(trades.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir + "/*")
          .withColumn("month", graft.sources.Store.monthCol("ts"))
          .writeStream.format("parquet")
          .partitionBy("month")
          .option("path", base + "/store")
          .option("checkpointLocation", base + "/chk")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce() // full drain
      // decimal(38,0) sum: full-range xxhash64 longs overflow a long sum
      // (ANSI), and a bit_xor would let a double-appended row set cancel
      // itself out — an order-insensitive exact sum has neither failure
      def storeFingerprint() = s.read.parquet(base + "/store")
        .agg(count(lit(1)).as("n"),
          sum(xxhash64(col("ts"), col("id"), col("price"), col("qty"),
            col("symbol"), col("month")).cast("decimal(38,0)")).as("h"))
        .head()
      val before = storeFingerprint()
      runOnce() // REPLAY: same source + checkpoint — must commit nothing
      val after = storeFingerprint()
      require(before == after,
        s"ingest replay mutated the store (before=$before, after=$after) — " +
          "exactly-once across a full restart is broken")
      val dayNs = 86400L * 1000000000L
      graft.sources.Store.readRange(s, base + "/store",
          minTs + 7 * dayNs, minTs + 14 * dayNs)
        .select(col("ts"), col("id"), r6(col("price")).as("price"),
          r6(col("qty")).as("qty"), col("symbol"))
    }),

    // COMPACTION RACING A LIVE WRITER — the store's versioned-swap gate
    // (the LSH/IVF indexes already have theirs): two thirds of the trades
    // drain into a month-partitioned store via foreachBatch appends, then
    // Store.compactConcurrent snapshots EVERY month's file set and — in
    // its post-snapshot window, before any rewrite or delete — the last
    // third arrives and a full drain appends mid-compaction. The swap
    // discipline (staged hidden files → journal commit → move in → delete
    // exactly the snapshot) must leave the raced month with the appended
    // batch intact and every pre-snapshot row exactly once; the in-gate
    // require compares a full-store (count, Σxxhash) fingerprint against
    // the direct batch expectation, so one lost or doubled row anywhere
    // fails loudly (compact()'s whole-month dynamic overwrite would
    // delete the raced file — its documented loss window, why the
    // concurrent variant exists). A post-compaction replay
    // start must then commit nothing (the offset log covers all three
    // files), and the returned ranged read answers
    // store_readrange_prune's oracle verbatim.
    "streaming_store_compact_race" -> ((s, dir) => {
      import graft.sources.Store
      val trades = Trades.fromEvents(graft.Tables.events(s, dir))
        .select(col("ts"), col("id"), col("price"), col("qty"), col("symbol"))
      // EXACT percentile (not approx_percentile) — the r11 "exact medians
      // everywhere" convention extended to a three-way split: median can't
      // cut a stream into thirds, but the determinism requirement is the
      // same, and `percentile` is the exact interpolating form.
      val st = trades.agg(
        expr("cast(percentile(ts, 0.34) as bigint)"),
        expr("cast(percentile(ts, 0.67) as bigint)"),
        min(col("ts"))).head()
      val (p33, p67, minTs) = (st.getLong(0), st.getLong(1), st.getLong(2))
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_stream_cmprace_$runId").getAbsolutePath
      val srcDir = base + "/src"
      val pth = new org.apache.hadoop.fs.Path(base)
      val fs = pth.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(pth)) fs.delete(pth, true)
      val t0 = System.currentTimeMillis()
      writeOneFile(trades.where(col("ts") <= p33), srcDir, "a_b0", t0 - 60000)
      writeOneFile(trades.where(col("ts") > p33 && col("ts") <= p67),
        srcDir, "b_b1", t0 - 40000)
      val onBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        Long) => Unit = { (b, _) =>
        Store.saveMonthly(b, base + "/store", "append")
      }
      def runOnce(): Unit = withStateParts(s) {
        val q = s.readStream.schema(trades.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir + "/*")
          .writeStream.foreachBatch(onBatch)
          .option("checkpointLocation", base + "/chk")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce() // batches 1+2: shared months now hold two files each
      val report = Store.compactConcurrent(s, base + "/store",
        targetBytes = 1L << 40, months = None,
        onAfterSnapshot = () => {
          // the race: a live batch lands AFTER the snapshot, BEFORE the
          // swap — its files are in no snapshot and must survive
          writeOneFile(trades.where(col("ts") > p67), srcDir, "c_b2",
            t0 - 20000)
          runOnce()
        })
      require(report.where(col("files_after") < col("files_before"))
          .count() > 0,
        "compaction rewrote no month — the race gate tested nothing")
      def storeFp() = s.read.parquet(base + "/store")
        .agg(count(lit(1)).as("n"),
          sum(xxhash64(col("ts"), col("id"), col("price"), col("qty"),
            col("symbol"), col("month")).cast("decimal(38,0)")).as("h"))
        .head()
      val expected = trades
        .withColumn("month", Store.monthCol("ts"))
        .agg(count(lit(1)).as("n"),
          sum(xxhash64(col("ts"), col("id"), col("price"), col("qty"),
            col("symbol"), col("month")).cast("decimal(38,0)")).as("h"))
        .head()
      val after = storeFp()
      require(after == expected,
        s"compaction racing the live writer lost or doubled rows " +
          s"(store=$after, expected=$expected)")
      runOnce() // replay on the same checkpoint: must commit nothing
      require(storeFp() == expected,
        "post-compaction replay mutated the store — exactly-once across " +
          "a restart is broken")
      val dayNs = 86400L * 1000000000L
      Store.readRange(s, base + "/store",
          minTs + 7 * dayNs, minTs + 14 * dayNs)
        .select(col("ts"), col("id"), r6(col("price")).as("price"),
          r6(col("qty")).as("qty"), col("symbol"))
    }),

    // LIVE INGEST DEDUP against the STORED band index — the full
    // production loop streaming_store_ingest + dedup_incremental_store
    // compose into at 100 TB: each arriving micro-batch first PROBES the
    // stored index for near-dups against everything ingested before it,
    // then APPENDS its own band rows so the NEXT batch sees it (probe
    // precedes append, so within-batch pairs are invisible by
    // construction). Two delta batches arrive as separate files (batch 1
    // = even doc_id, batch 2 = odd); the exact-Jaccard read-back comes
    // from the doc store minus the arriving batch, exactly as an ingest
    // worker would resolve candidate ids. The oracle recomputes the
    // asymmetric candidate closure (batch 1 × base; batch 2 × base ∪
    // batch 1): a probe reading its own batch's bands — or missing the
    // previous batch's append — is a hash mismatch.
    "streaming_dedup_index_append" -> ((s, dir) => {
      import DocQueries.{shingleN, minhashK, minhashBands}
      val (base, _) = DocQueries.incrementalSplit(s, dir)
      val name = s"graft_gate_sdia_$runId"
      val root = new java.io.File(sys.props("java.io.tmpdir"), name)
        .getAbsolutePath
      val pth = new org.apache.hadoop.fs.Path(root)
      val fs = pth.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(pth)) fs.delete(pth, true)
      graft.dedup.Dedup.writeLshIndex(base, "doc_id", "toks", shingleN,
        minhashK, minhashBands, name, root + "/idx", buckets = 8)
      val all = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"),
          graft.text.TextOps.wsTokens(col("text")).as("toks"))
      val delta = DocQueries.incrementalSplit(s, dir)._2
        .select("doc_id", "text")
      val t0 = System.currentTimeMillis()
      writeOneFile(delta.where(col("doc_id") % 2 === 0), root + "/src",
        "a_b1", t0 - 40000)
      writeOneFile(delta.where(col("doc_id") % 2 =!= 0), root + "/src",
        "b_b2", t0 - 20000)
      val onBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        Long) => Unit = { (b, _) =>
        val batch = b.select(col("doc_id"), col("text"),
          graft.text.TextOps.wsTokens(col("text")).as("toks"))
        // the append below runs on the micro-batch's CLONED session, whose
        // write-path cache invalidation does not reach THIS session's
        // relation cache — without the refresh, batch 2's probe reads
        // batch 1's file listing and silently misses its appended bands
        // (caught by the sf0.1 sweep: 5 cross-batch pairs dropped)
        s.catalog.refreshTable(name)
        val store = all.join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
        graft.dedup.Dedup.incrementalLshPairsFrom(s.table(name), store,
            batch, "doc_id", "toks", shingleN, minhashK, minhashBands,
            DocQueries.jaccThreshold)
          .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
          .write.mode("append").parquet(root + "/pairs")
        graft.dedup.Dedup.appendLshIndex(batch, "doc_id", "toks", shingleN,
          minhashK, minhashBands, name, buckets = 8)
      }
      withBatchCoalesce(s) {
        val q = s.readStream.schema(delta.schema)
          .option("maxFilesPerTrigger", 1).parquet(root + "/src/*")
          .writeStream.foreachBatch(onBatch)
          .option("checkpointLocation", root + "/chk")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.parquet(root + "/pairs")
        .select(col("id_a"), col("id_b"), col("n_common"),
          r6(col("jaccard")).as("jaccard"))
    }),

    // LIVE VECTOR INGEST against the STORED IVF index — the embedding twin
    // of streaming_dedup_index_append: per arriving micro-batch, every
    // vector PROBES the stored index for its top-k under the STORED
    // codebook (the near-neighbor-check-on-ingest a production embedding
    // store runs), then the batch APPENDS into the cell layout so the next
    // batch sees it. Two delta batches (vec_id ≡ 0 / 5 mod 10); the index
    // starts as the 80% base split with centroids trained on that split
    // only. Parity is the asymmetric closure, asserted BIT-EXACTLY
    // engine-side: batch-1 probes must equal the in-memory IVF over base,
    // batch-2 over base ∪ batch-1, both under the stored codebook — a
    // probe that sees its own batch, misses the previous append, or reads
    // a drifted codebook flips a row to false. Scale shape: each probe
    // reads only `cell IN (probes)` partitions (pruned scan), each append
    // is new files in matching cell dirs — cost ∝ batch, never corpus.
    "streaming_ann_ivf_append" -> ((s, dir) => {
      import graft.ml.Similarity
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val base = e.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val b1 = e.where(pmod(col("vec_id"), lit(10)) === 0)
      val b2 = e.where(pmod(col("vec_id"), lit(10)) === 5)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_saiva_$runId").getAbsolutePath
      val pth = new org.apache.hadoop.fs.Path(root)
      val fs = pth.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(pth)) fs.delete(pth, true)
      val cents = Similarity.kmeansCentroids(base, "vec_id", "embedding",
        nlist = 32, iters = 5)
      Similarity.ivfIndexWrite(base, "vec_id", "embedding", cents,
        root + "/idx")
      val t0 = System.currentTimeMillis()
      writeOneFile(b1, root + "/src", "a_b1", t0 - 40000)
      writeOneFile(b2, root + "/src", "b_b2", t0 - 20000)
      val onBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        Long) => Unit = { (b, batchId) =>
        // probes log is BATCH-SCOPED overwrite — a mid-batch crash that
        // replays this batch rewrites the identical partition instead of
        // double-appending; the index append is idempotent only per
        // COMMITTED batch (the replay gate's contract)
        Similarity.ivfIndexTopK(s, root + "/idx", b, "vec_id", "embedding",
            DocQueries.annK, nprobe = 16)
          .write.mode("overwrite").parquet(root + s"/probes/batch=$batchId")
        Similarity.ivfIndexAppend(b, "vec_id", "embedding", root + "/idx")
      }
      withBatchCoalesce(s) {
        val q = s.readStream.schema(e.schema)
          .option("maxFilesPerTrigger", 1).parquet(root + "/src/*")
          .writeStream.foreachBatch(onBatch)
          .option("checkpointLocation", root + "/chk")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // in-memory twins of the two probe points (stored codebook both):
      // batch 1 saw base; batch 2 saw base ∪ batch 1
      def canon(df: DataFrame, tag: String) =
        df.select(col("query_id"), col("rank"), col("neighbor_id"),
          r6(col("cos")).as("cos"), lit(1).as(tag))
      val mem = Similarity.ivfTopK(b1, base, "vec_id", "embedding",
          DocQueries.annK, nprobe = 16, centroids = cents)
        .unionAll(Similarity.ivfTopK(b2, base.unionAll(b1), "vec_id",
          "embedding", DocQueries.annK, nprobe = 16, centroids = cents))
      canon(s.read.parquet(root + "/probes"), "__s")
        .join(canon(mem, "__m"),
          Seq("query_id", "rank", "neighbor_id", "cos"), "full")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__s").isNotNull && col("__m").isNotNull, 1)
            .otherwise(0)).as("both"))
        .select(col("query_id"),
          (col("n") === col("both")).as("live_append_matches_memory"))
    }),

    // MID-DRAIN COMMITTED-BATCH FILE FOLD of the live IVF ingest — the
    // cell-layout twin of streaming_corpus_index_fold (r13 verdict #2):
    // every live append lands one-file-per-touched-cell, so a long-running
    // ingest grows each cell dir's file count with arrivals forever. At
    // batch 2's entry ivfFoldCells folds every committed file (the base
    // write + batch 1's appends — durable by construction at that point)
    // per cell through the fault-grid-proven journaled swap. The gate's
    // output is the SAME bit-exact probe parity as streaming_ann_ivf_append
    // — the fold moves bytes, not rows, so batch 2's probes over the
    // folded cells must equal the in-memory twin — plus an engine-side
    // requirement that the file count actually dropped.
    "streaming_ann_ivf_fold" -> ((s, dir) => {
      import graft.ml.Similarity
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val base = e.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val b1 = e.where(pmod(col("vec_id"), lit(10)) === 0)
      val b2 = e.where(pmod(col("vec_id"), lit(10)) === 5)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_saivf_$runId").getAbsolutePath
      val pth = new org.apache.hadoop.fs.Path(root)
      val fs = pth.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(pth)) fs.delete(pth, true)
      val cents = Similarity.kmeansCentroids(base, "vec_id", "embedding",
        nlist = 32, iters = 5)
      Similarity.ivfIndexWrite(base, "vec_id", "embedding", cents,
        root + "/idx")
      val t0 = System.currentTimeMillis()
      writeOneFile(b1, root + "/src", "a_b1", t0 - 40000)
      writeOneFile(b2, root + "/src", "b_b2", t0 - 20000)
      val foldStats = new java.util.concurrent.atomic.AtomicLongArray(2)
      val onBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        Long) => Unit = { (b, batchId) =>
        if (batchId == 1L) {
          val rep = Similarity.ivfFoldCells(s, root + "/idx")
            .agg(sum("files_before"), sum("files_after")).head()
          foldStats.set(0, rep.getLong(0)); foldStats.set(1, rep.getLong(1))
        }
        Similarity.ivfIndexTopK(s, root + "/idx", b, "vec_id", "embedding",
            DocQueries.annK, nprobe = 16)
          .write.mode("overwrite").parquet(root + s"/probes/batch=$batchId")
        Similarity.ivfIndexAppend(b, "vec_id", "embedding", root + "/idx")
      }
      withBatchCoalesce(s) {
        val q = s.readStream.schema(e.schema)
          .option("maxFilesPerTrigger", 1).parquet(root + "/src/*")
          .writeStream.foreachBatch(onBatch)
          .option("checkpointLocation", root + "/chk")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      require(foldStats.get(0) > foldStats.get(1),
        s"cell fold did not reduce the index file count " +
          s"(${foldStats.get(0)} -> ${foldStats.get(1)})")
      def canon(df: DataFrame, tag: String) =
        df.select(col("query_id"), col("rank"), col("neighbor_id"),
          r6(col("cos")).as("cos"), lit(1).as(tag))
      val mem = Similarity.ivfTopK(b1, base, "vec_id", "embedding",
          DocQueries.annK, nprobe = 16, centroids = cents)
        .unionAll(Similarity.ivfTopK(b2, base.unionAll(b1), "vec_id",
          "embedding", DocQueries.annK, nprobe = 16, centroids = cents))
      canon(s.read.parquet(root + "/probes"), "__s")
        .join(canon(mem, "__m"),
          Seq("query_id", "rank", "neighbor_id", "cos"), "full")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__s").isNotNull && col("__m").isNotNull, 1)
            .otherwise(0)).as("both"))
        .select(col("query_id"),
          (col("n") === col("both")).as("live_fold_matches_memory"))
    }),

    // COMMITTED-BATCH REPLAY IDEMPOTENCE for the live vector ingest loop —
    // the IVF twin of streaming_store_ingest_replay: the cell-layout index
    // is append-mode parquet, so a crash-looping driver that re-ran a
    // COMMITTED batch would DOUBLE-APPEND vectors (a duplicated index row
    // silently inflates that neighbor's presence in every later top-k).
    // After the full drain, a fresh query start on the same checkpoint
    // must invoke foreachBatch for NOTHING — that is the property gated
    // here. The probes log is batch-scoped overwrite, so a crash BETWEEN
    // the two writes replays cleanly too; a crash after the index append
    // but before the checkpoint commit remains the one double-append
    // window (closing it needs a versioned cell manifest). Asserted two
    // ways:
    // an in-gate decimal(38,0) xxhash fingerprint over (id, cell) + the
    // probes log (double-appends can't cancel), and the gate's output —
    // exactly ONE index row per corpus vector, which the oracle pins.
    "streaming_ann_ivf_replay" -> ((s, dir) => {
      import graft.ml.Similarity
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val base = e.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val b1 = e.where(pmod(col("vec_id"), lit(10)) === 0)
      val b2 = e.where(pmod(col("vec_id"), lit(10)) === 5)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_saivr_$runId").getAbsolutePath
      val pth = new org.apache.hadoop.fs.Path(root)
      val fs = pth.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(pth)) fs.delete(pth, true)
      val cents = Similarity.kmeansCentroids(base, "vec_id", "embedding",
        nlist = 32, iters = 5)
      Similarity.ivfIndexWrite(base, "vec_id", "embedding", cents,
        root + "/idx")
      val t0 = System.currentTimeMillis()
      writeOneFile(b1, root + "/src", "a_b1", t0 - 40000)
      writeOneFile(b2, root + "/src", "b_b2", t0 - 20000)
      val onBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        Long) => Unit = { (b, batchId) =>
        Similarity.ivfIndexTopK(s, root + "/idx", b, "vec_id", "embedding",
            DocQueries.annK, nprobe = 16)
          .write.mode("overwrite").parquet(root + s"/probes/batch=$batchId")
        Similarity.ivfIndexAppend(b, "vec_id", "embedding", root + "/idx")
      }
      def runOnce(): Unit = withBatchCoalesce(s) {
        val q = s.readStream.schema(e.schema)
          .option("maxFilesPerTrigger", 1).parquet(root + "/src/*")
          .writeStream.foreachBatch(onBatch)
          .option("checkpointLocation", root + "/chk")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      def fp() = {
        val idx = s.read.parquet(root + "/idx/cells")
          .agg(count(lit(1)).as("n"),
            sum(xxhash64(col("id"), col("cell")).cast("decimal(38,0)"))
              .as("h")).head()
        val pr = s.read.parquet(root + "/probes")
          .agg(count(lit(1)).as("n"),
            sum(xxhash64(col("query_id"), col("rank"), col("neighbor_id"))
              .cast("decimal(38,0)")).as("h")).head()
        (idx, pr)
      }
      val before = fp()
      runOnce() // crash-loop restart: offset log covers both files
      val after = fp()
      require(before == after,
        s"IVF live-ingest replay mutated the index or probes log " +
          s"(before=$before, after=$after) — exactly-once across a " +
          "restart is broken")
      s.read.parquet(root + "/idx/cells")
        .groupBy(col("id").as("vec_id"))
        .agg(count(lit(1)).cast("int").as("n_index_rows"))
    }),

    // THE LIVE DOCUMENT PIPELINE — the streaming twin of corpus_clean and
    // the document-side counterpart of pipeline_e2e: every arriving
    // micro-batch runs the FULL training-data ingest chain — quality +
    // language filter → exact-dedup probe against the hashes ingested so
    // far → LSH-index probe-then-append against the survivors so far →
    // hash-gated shard assignment → store append. The oracle recomputes
    // the whole three-batch asymmetric composition from raw documents
    // (streamingCorpusE2eOracleSql), so a probe that sees its own batch,
    // misses a previous append, or drops the seen-hash set fails the hash.
    // Scale shape: per batch the probe cost is |batch| band rows joined
    // against the bucketed index (Exchange-free on the index side), the
    // exact probe is a left-anti against a hash set that grows with the
    // KEPT corpus, and every append is an O(|batch|) file append.
    "streaming_corpus_e2e" -> ((s, dir) => {
      val name = s"graft_gate_sce2e_$runId"
      val (root, front, schema) = corpusGate(s, dir, name, full = false)
      CorpusPipeline.drain(s, name, root, schema, front)
      // replay idempotence, the crash-loop property: a fresh query start
      // on the same source + checkpoint after the full drain must invoke
      // foreachBatch for NOTHING — the offset log covers every file, so
      // none of the three state publishes (store, seen, index) may run
      // again. Fingerprint-asserted like streaming_store_ingest_replay.
      def fp() = graft.sources.StateStore.read(s, root + "/store")
        .agg(count(lit(1)).as("n"),
          sum(xxhash64(col("doc_id"), col("shard"), col("pred_lang"),
            col("n_ws_tokens")).cast("decimal(38,0)")).as("h"))
        .head()
      val before = fp()
      CorpusPipeline.drain(s, name, root, schema, front)
      val after = fp()
      require(before == after,
        s"corpus pipeline replay mutated the store (before=$before, " +
          s"after=$after) — exactly-once across a restart is broken")
      CorpusPipeline.out(s, root, front)
    }),

    // MID-DRAIN STATE COMPACTION of the live pipeline — the file-count
    // lifecycle for per-batch append state (r12 verdict #3: the seen dir
    // "grows unboundedly in file count — the store's bottleneck reborn in
    // state dirs"): at batch 2's entry, every committed batch partition of
    // the seen-hash set AND the survivors store is folded into one
    // generation (StateStore.compact's journaled swap), and batch 2's own
    // probes then read the folded state. The oracle is the base
    // pipeline's text VERBATIM — a fold that dropped, duplicated or
    // re-timed a hash/doc would shift batch 2+'s survivor set and fail
    // the hash. Engine-side, the gate requires the fold actually
    // happened: ≤2 partitions remain per state dir after the drain
    // (generation + the open batch), with file counts bounded.
    "streaming_corpus_state_compact" -> ((s, dir) => {
      val name = s"graft_gate_sce2sc_$runId"
      val (root, front, schema) = corpusGate(s, dir, name, full = false)
      CorpusPipeline.drain(s, name, root, schema, front, compactAtBatch = 2L)
      requireStateFolded(root)
      CorpusPipeline.out(s, root, front)
    }),

    // MID-DRAIN COMMITTED-BATCH FOLD of the stored LSH band index — the
    // file-count lifecycle for the THIRD state table (r13 verdict #2: the
    // seen/store dirs got StateStore.compact, but appendLshIndexIdempotent
    // lands b<batch>_ bucketed files in the index dir forever): at batch
    // 2's entry every committed batch's band files (b0_/b1_ plus the
    // day-0 write) fold into cmpct_ generation files through the
    // fault-grid-proven two-journal swap, keeping src_batch per ROW so
    // batch 2's as-of probe still excludes nothing it shouldn't. The
    // oracle is the base pipeline's text VERBATIM — a fold that dropped,
    // duplicated or re-timed a band row would shift batch 2's candidate
    // pairs and fail the hash. Engine-side the gate requires the fold
    // physically happened AND the open batch's own publish survived it.
    "streaming_corpus_index_fold" -> ((s, dir) => {
      val name = s"graft_gate_sceix_$runId"
      val (root, front, schema) = corpusGate(s, dir, name, full = false)
      CorpusPipeline.drain(s, name, root, schema, front, foldIndexAtBatch = 2L)
      val idxNames = new java.io.File(root + "/idx").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName)
      require(!idxNames.exists(n => n.startsWith("b0_") || n.startsWith("b1_")),
        s"index fold left committed per-batch files: ${idxNames.mkString(",")}")
      require(idxNames.exists(_.startsWith("cmpct_")),
        "no generation files after the index fold")
      require(idxNames.exists(_.startsWith("b2_")),
        "the open batch's own publish vanished in the fold")
      CorpusPipeline.out(s, root, front)
    }),

    // STATE COMPACTION × CRASH REPLAY, composed (r13 verdict #5: each was
    // gated alone; the interaction — a replayed batch's as-of read
    // spanning a folded GENERATION partition plus its own surviving batch
    // partitions — was argued by construction but never executed): at
    // batch 2's entry seen/store fold into batch=-2; the same batch is
    // then killed between the seen publish and the index publish; the
    // restart replays batch 2 on the compacted state (its entry re-runs
    // the fold hook, which must no-op on a lone generation) and the final
    // corpus must hash-match the uninterrupted base oracle. Engine-side:
    // the state dirs stay folded, no store/seen duplicates, exactly
    // `bands` index rows per survivor and none for non-survivors.
    "streaming_corpus_compact_crash_replay" -> ((s, dir) => {
      val name = s"graft_gate_sccr_$runId"
      val (root, front, schema) = corpusGate(s, dir, name, full = false)
      corpusCrashReplay(s, name, root, schema, front, crashAtBatch = 2L,
        compactAtBatch = 2L)
      requireStateFolded(root)
      requireExactlyOnceState(s, name, root)
      CorpusPipeline.out(s, root, front)
    }),

    // THE LIVE DOCUMENT PIPELINE, FULL PRODUCTION FILTER SUITE — extends
    // streaming_corpus_e2e with the three batch-only stages a real ingest
    // runs per arriving micro-batch: PII redaction AT ENTRY (everything
    // downstream — quality, langid, dedup hashes, shingles, storage —
    // operates on the scrubbed text), Gopher repetition thresholds, and a
    // decontamination probe against a STATIC held-out benchmark gram set
    // (day-0 state, like the LSH index). The stream is the train split of
    // the PII-augmented corpus in three batches (doc_id mod 3); the
    // benchmark side is the test split. Oracle =
    // streamingCorpusE2eFullOracleSql, which unrolls the whole enlarged
    // composition from raw documents — any stage missing, reordered
    // against a non-commuting stage, or run over the wrong text (raw vs
    // redacted) shifts the survivor set or the redacted_md5 and fails the
    // hash. Scale shape: stages 0-2 are per-row scan-stage expressions;
    // the decon probe is BLOOM-BOUNDED — a day-0 bloom of the bench gram
    // hashes pre-filters rows in the scan stage (no false negatives), so
    // only possible-hit rows pay the gram explode + exact semi-join; and
    // the dedup probes/appends keep the delta-scaled cost of the base
    // gate (the store persists toks, so the prior corpus is never
    // re-tokenized per batch).
    "streaming_corpus_e2e_full" -> ((s, dir) => {
      val name = s"graft_gate_sce2f_$runId"
      val (root, front, schema) = corpusGate(s, dir, name, full = true)
      CorpusPipeline.drain(s, name, root, schema, front)
      // replay-staging GC bound (r13 verdict #1): the per-batch staging
      // points (fb0/fb/stage) retain ~2-3× arrival volume if never
      // reclaimed; the GC at each batch entry must leave at most the LAST
      // batch's dirs after the drain
      Seq("fb0", "fb", "stage").foreach { sub =>
        val dirs = new java.io.File(s"$root/$sub").listFiles()
          .filter(_.isDirectory).map(_.getName)
        require(dirs.length <= 1,
          s"replay staging $sub not GC'd: ${dirs.mkString(",")}")
      }
      CorpusPipeline.out(s, root, front)
    }),

    // MID-BATCH CRASH REPLAY of the full-suite live pipeline — the last
    // exactly-once hole closed and gated: the pipeline commits THREE state
    // publishes per batch (store, seen hashes, LSH band index); this gate
    // kills the query between the seen publish and the index publish of
    // batch 1, restarts on the same checkpoint (batch 1 replays in full,
    // then batch 2 runs), and the final corpus must be bit-identical to an
    // uninterrupted drain — which is exactly what the shared
    // streamingCorpusE2eFullOracleSql recomputes from raw documents, so
    // the DuckDB hash IS the uninterrupted truth. What makes it hold:
    // batch-scoped overwrite publishes (a replay rewrites identical
    // content over itself) + AS-OF probes (readBefore / src_batch <
    // batchId — a replayed batch can never see its own crash-published
    // state, which would otherwise empty its survivor set via self-dedup).
    // Engine-side post-conditions pin the state tables the oracle can't
    // see: no duplicated store doc, exactly `bands` index rows per
    // survivor and none for non-survivors, no duplicated seen hash.
    "streaming_corpus_e2e_crash_replay" -> ((s, dir) => {
      val name = s"graft_gate_sce2cr_$runId"
      val (root, front, schema) = corpusGate(s, dir, name, full = true)
      corpusCrashReplay(s, name, root, schema, front, crashAtBatch = 1L)
      requireExactlyOnceState(s, name, root)
      CorpusPipeline.out(s, root, front)
    }),
    // OUT-OF-ORDER arrival through the BUFFERED directional machine: the
    // late half of the trades arrives a whole micro-batch BEFORE the early
    // half (maximal cross-batch disorder — a real multi-source ingest never
    // guarantees arrival order), the watermark delay covers the span so
    // nothing is late-dropped, and directionalBufferedStream re-sorts each
    // finalized bar's rows by (ts, id) before folding — emitted bars are
    // identical to in-order arrival. Shares time_bars_directional_1h's
    // oracle text VERBATIM: arrival order must not change order-flow
    // features, and the hash proves it.
    "streaming_directional_unordered" -> ((s, dir) => {
      import s.implicits._
      val sided = sidedTrades(s, dir, Nil, lit(0L))
        .persist(graft.Conf.storageLevel) // median + split writes: 3 passes -> 1
      val st = sided.agg(expr("cast(median(ts) as bigint)"),
        min(col("ts")), max(col("ts"))).head()
      val (mid, lo, hi) = (st.getLong(0), st.getLong(1), st.getLong(2))
      // the delay must cover the full data span: every real trade stays
      // above the watermark until the sentinels flush, whatever file order
      val delay = s"${(hi - lo) / 3600000000000L + 3} hours"
      // the late half arrives first, then the two flush sentinels
      val src = batchFileStream(s, s"graft_gate_stream_diru_$runId", Seq(
          "a_late" -> sided.where(col("ts") > mid),
          "b_early" -> sided.where(col("ts") <= mid),
          "c_s1" -> sentinelRow(sided, 0), "d_s2" -> sentinelRow(sided, 1)))
        .as[StreamingBars.SidedSymIn]
      val bars = StreamingBars.directionalBufferedStream(src, 3600, delay)
      drain(bars.toDF(), "gate_stream_dir_unord")
        .where(col("bar_ts") < sentinelNs)
        .select(col("bar_ts"), col("ticks_buy"), col("ticks_sell"),
          r6(col("volume_buy")).as("volume_buy"),
          r6(col("volume_sell")).as("volume_sell"),
          r6(col("dollars_buy")).as("dollars_buy"),
          r6(col("dollars_sell")).as("dollars_sell"),
          r6(col("mean_spread")).as("mean_spread"),
          r6(col("max_spread")).as("max_spread"),
          col("cum_ticks_min"), col("cum_ticks_max"),
          r6(col("cum_volume_min")).as("cum_volume_min"),
          r6(col("cum_volume_max")).as("cum_volume_max"),
          r6(col("cum_dollars_min")).as("cum_dollars_min"),
          r6(col("cum_dollars_max")).as("cum_dollars_max"))
    }),

    // Streaming FOOTPRINT LEVELS: the windowed-agg footprint core — per
    // (bar, price level) buy/sell volumes and tick counts accumulate under
    // the watermark (decimal-exact sums, mirroring the batch), and the
    // neighbor-dependent diagonal imbalance flags compute post-finalize
    // over the FINISHED grid via the SAME code the batch path runs
    // (Footprints.withImbalanceFlags). Shares footprint_levels_1h's
    // oracle text verbatim.
    "streaming_footprint_levels" -> ((s, dir) => {
      val src = sidedFileStream(s, dir, s"graft_gate_stream_fpl_$runId")
      val grid = drain(
        StreamingBars.footprintStream(src, 3600, 0.01,
          watermarkDelay = Some("1 minute")),
        "gate_stream_fp_levels")
        .where(col("bar_ts") < sentinelNs)
      graft.bars.Footprints.withImbalanceFlags(grid, 3.0)
        .select(col("bar_ts"), col("level"),
          r6(col("buy_volume")).as("buy_volume"),
          r6(col("sell_volume")).as("sell_volume"),
          col("buy_ticks"), col("sell_ticks"),
          col("buy_imbalance"), col("sell_imbalance"))
    }),

    // RESTART-FROM-CHECKPOINT: the production lifecycle a 100 TB streaming
    // deployment lives by — a query dies (or is upgraded) mid-stream and a
    // NEW query start must resume from the checkpoint's offset log and
    // state store with no loss and no double-count. Phase 1 drains the
    // early half of the trades into a parquet sink (partial-bar state
    // lands in the state store); phase 2 starts a FRESH query on the same
    // checkpoint after the late half + flush sentinels arrive — it must
    // skip the already-committed file (else volumes double and the hash
    // fails) and restore every straddling bar's open/high/low state. The
    // manifest-committed sink then answers the SAME oracle the live
    // streaming-bars gates answer.
    "streaming_restart_bars_5m" -> ((s, dir) => {
      import s.implicits._
      val trades = Trades.fromEvents(graft.Tables.events(s, dir))
        .select(col("ts"), col("id"), col("price"), col("qty"),
          lit(0L).as("symbol"))
      val mid = trades.agg(expr("cast(median(ts) as bigint)")).head().getLong(0)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_stream_restart_$runId").getAbsolutePath
      val srcDir = base + "/src"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      def runOnce(): Unit = withStateParts(s) {
        val src = s.readStream.schema(trades.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir + "/*")
          .as[StreamingBars.TradeIn]
        val q = StreamingBars.ohlcvStateStream(src, 300,
            watermarkDelay = "10 minutes")
          .toDF().writeStream.format("parquet")
          .option("path", base + "/out")
          .option("checkpointLocation", base + "/chk")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val t0 = System.currentTimeMillis()
      writeOneFile(trades.where(col("ts") <= mid), srcDir, "a_early",
        t0 - 60000)
      runOnce() // phase 1: early half only; straddling-bar state checkpoints
      writeOneFile(trades.where(col("ts") > mid), srcDir, "b_late",
        t0 - 40000)
      writeOneFile(sentinelRow(trades, 0), srcDir, "c_s1", t0 - 30000)
      writeOneFile(sentinelRow(trades, 1), srcDir, "d_s2", t0 - 20000)
      runOnce() // phase 2: fresh query, same checkpoint — offsets + state
      canonBars(s.read.parquet(base + "/out"))
    }),

    // RESTART-FROM-CHECKPOINT for the keyed LOOKAHEAD machine: the keyed
    // CUSUM filter holds each symbol's newest row PENDING in state (the
    // equal-ts block rule needs one row of lookahead) — exactly the state
    // a production restart must not lose. Phase 1 drains the early half:
    // ~150 per-symbol states checkpoint, EVERY one with a pending
    // undecided row. Phase 2 starts a FRESH query on the same checkpoint
    // with the late half + per-symbol heartbeats: each restored pending
    // row must be decided against its first phase-2 successor with the
    // restored (sPos, sNeg, prevPrice) sums. A lost pending row, a
    // re-emitted committed file, or a reset sum shifts the event set and
    // fails cusum_events_sym's hash.
    "streaming_restart_cusum_sym" -> ((s, dir) => {
      import s.implicits._
      val trades = Trades.fromEvents(graft.Tables.events(s, dir))
        .select(col("ts"), col("id"), col("price"), col("qty"), col("symbol"))
      val mid = trades.agg(expr("cast(median(ts) as bigint)")).head().getLong(0)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_stream_rescus_$runId").getAbsolutePath
      val srcDir = base + "/src"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      def runOnce(): Unit = withStateParts(s) {
        val src = s.readStream.schema(trades.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir + "/*")
          .as[StreamingBars.TradeIn]
        val q = StreamingBars.cusumStream(src, 2.0).toDF()
          .writeStream.format("parquet")
          .option("path", base + "/out")
          .option("checkpointLocation", base + "/chk")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val t0 = System.currentTimeMillis()
      writeOneFile(trades.where(col("ts") <= mid), srcDir, "a_early",
        t0 - 60000)
      runOnce() // phase 1: every symbol ends with a pending lookahead row
      writeOneFile(trades.where(col("ts") > mid), srcDir, "b_late",
        t0 - 40000)
      writeOneFile(symbolHeartbeats(trades), srcDir, "c_flush", t0 - 20000)
      runOnce() // phase 2: fresh query, same checkpoint — pending rows resume
      s.read.parquet(base + "/out")
        .where(col("isEvent"))
        .select(col("symbol"), col("ts"), col("id"))
        .join(Trades.fromEvents(graft.Tables.events(s, dir))
          .select("ts", "id", "price"), Seq("ts", "id"))
        .select(col("symbol"), col("ts"), col("id"),
          r6(col("price")).as("price"))
    }),

    // RESTART-FROM-CHECKPOINT for a threshold-EWMA CARRY machine: the run
    // machine's state is the live (θ_b, θ_s, n, E_T, P) tuple — restored
    // mid-bar, the phase-2 rows must keep filling the straddling bar with
    // phase-1's expectation values (a reset E_T/P re-seeds the thresholds
    // and shifts every later close). run_bars' oracle verbatim.
    "streaming_restart_run_bars" -> ((s, dir) => {
      import s.implicits._
      val sided = sidedTrades(s, dir, Nil, lit(0L))
        .persist(graft.Conf.storageLevel) // median + split writes: 3 passes -> 1
      val mid = sided.agg(expr("cast(median(ts) as bigint)")).head().getLong(0)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_stream_resrun_$runId").getAbsolutePath
      val srcDir = base + "/src"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      def runOnce(): Unit = withStateParts(s) {
        val src = s.readStream.schema(sided.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir + "/*")
          .as[StreamingBars.SidedSymIn]
        val q = StreamingBars.runBarStream(src, ScanQueries.runAlphaT,
            ScanQueries.runAlphaP, ScanQueries.runInitT,
            ScanQueries.runInitP).toDF()
          .writeStream.format("parquet")
          .option("path", base + "/out")
          .option("checkpointLocation", base + "/chk")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val t0 = System.currentTimeMillis()
      writeOneFile(sided.where(col("ts") <= mid), srcDir, "a_early",
        t0 - 60000)
      runOnce() // phase 1: θ/E_T/P state checkpoints mid-bar
      writeOneFile(sided.where(col("ts") > mid), srcDir, "b_late",
        t0 - 40000)
      runOnce() // phase 2: fresh query, same checkpoint
      val ids = s.read.parquet(base + "/out")
      graft.bars.EventBars.completeBars(withTradeData(ids, s, dir))
        .select(col("bar_id"), col("bar_ts"), r6(col("open")).as("open"),
          r6(col("high")).as("high"), r6(col("low")).as("low"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"))
    }),

    // RESTART-FROM-CHECKPOINT for the WATERMARK-BUFFER state class — the
    // last streaming state shape without a restart proof: the buffered
    // directional machine holds each open bar's RAW ROWS in state (not
    // O(1) accumulators) plus an unexpired event-time timer, a different
    // state-store restore path from the window-agg / lookahead / carry
    // classes. Phase 1 drains the early half under a 2-hour watermark
    // delay: every bar closing within 2h of the early half's end stays
    // buffered (rows + timer checkpointed, an in-gate require proves the
    // kill landed mid-buffer). Phase 2 starts a FRESH query on the same
    // checkpoint: the restored row buffers must finalize against the
    // restored prev-trade handoff — those bars' rows exist ONLY in the
    // restored state, so a lost buffer, a reset timer, or a dropped
    // prev-trade spread shifts their feature row and fails
    // time_bars_directional_1h's hash (the oracle the live directional
    // gates answer verbatim).
    "streaming_restart_directional_buffered" -> ((s, dir) => {
      import s.implicits._
      val sided = sidedTrades(s, dir, Nil, lit(0L))
        .persist(graft.Conf.storageLevel) // median + split writes: 3 passes -> 1
      val mid = sided.agg(expr("cast(median(ts) as bigint)")).head().getLong(0)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_stream_resdir_$runId").getAbsolutePath
      val srcDir = base + "/src"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      def runOnce(): Unit = withStateParts(s) {
        val src = s.readStream.schema(sided.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir + "/*")
          .as[StreamingBars.SidedSymIn]
        val q = StreamingBars.directionalBufferedStream(src, 3600,
            watermarkDelay = "2 hours").toDF()
          .writeStream.format("parquet")
          .option("path", base + "/out")
          .option("checkpointLocation", base + "/chk")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val t0 = System.currentTimeMillis()
      writeOneFile(sided.where(col("ts") <= mid), srcDir, "a_early",
        t0 - 60000)
      runOnce() // phase 1: trailing ~2h of bars stay buffered in state
      val hourNs = 3600L * 1000000000L
      val em1 = s.read.parquet(base + "/out")
        .agg(count(lit(1)), coalesce(max(col("bar_ts")), lit(0L))).head()
      val (n1, max1) = (em1.getLong(0), em1.getLong(1))
      // the kill must land MID-BUFFER: bars emitted before it, AND the
      // trailing delay-window bars still open (close above the watermark;
      // +2e6 ns absorbs the watermark's ms-floor rounding)
      require(n1 > 0, "restart gate degenerate: phase 1 emitted no bars")
      require(max1 < mid - 2L * hourNs + 2000000L,
        s"restart gate degenerate: phase 1 emitted bar_ts=$max1 past the " +
          s"watermark mid-2h=${mid - 2L * hourNs} — nothing was buffered " +
          "across the kill")
      writeOneFile(sided.where(col("ts") > mid), srcDir, "b_late",
        t0 - 40000)
      writeOneFile(sentinelRow(sided, 0), srcDir, "c_s1", t0 - 30000)
      writeOneFile(sentinelRow(sided, 1), srcDir, "d_s2", t0 - 20000)
      runOnce() // phase 2: fresh query — restored row buffers finalize
      s.read.parquet(base + "/out")
        .where(col("bar_ts") < sentinelNs)
        .select(col("bar_ts"), col("ticks_buy"), col("ticks_sell"),
          r6(col("volume_buy")).as("volume_buy"),
          r6(col("volume_sell")).as("volume_sell"),
          r6(col("dollars_buy")).as("dollars_buy"),
          r6(col("dollars_sell")).as("dollars_sell"),
          r6(col("mean_spread")).as("mean_spread"),
          r6(col("max_spread")).as("max_spread"),
          col("cum_ticks_min"), col("cum_ticks_max"),
          r6(col("cum_volume_min")).as("cum_volume_min"),
          r6(col("cum_volume_max")).as("cum_volume_max"),
          r6(col("cum_dollars_min")).as("cum_dollars_min"),
          r6(col("cum_dollars_max")).as("cum_dollars_max"))
    }),

    // RESTART-FROM-CHECKPOINT for the footprint-summary MACHINE — same
    // watermark-buffer STATE CLASS as the directional machine but a
    // different state payload: each open bar buffers raw rows whose
    // finalization builds the full per-price-level grid (buy/sell volume
    // and tick ladders) and only then computes the summary scalars
    // (imbalance flags at the configured factor, COT level, max signed
    // imbalance run, VP skew/gini). A restore that loses a buffered row,
    // a timer, or replays rows out of order shifts the grid and flips a
    // flag/ladder statistic — failing footprint_summary_1h's oracle,
    // answered VERBATIM. Closes the watermark-buffer class PER-MACHINE,
    // not just per-shape: the in-gate require proves the kill landed with
    // the trailing 2h of bars still open in state.
    "streaming_restart_footprint_summary" -> ((s, dir) => {
      import s.implicits._
      val sided = sidedTrades(s, dir, Nil, lit(0L))
        .persist(graft.Conf.storageLevel) // median + split writes: 3 passes -> 1
      val mid = sided.agg(expr("cast(median(ts) as bigint)")).head().getLong(0)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_stream_resfp_$runId").getAbsolutePath
      val srcDir = base + "/src"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      def runOnce(): Unit = withStateParts(s) {
        val src = s.readStream.schema(sided.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir + "/*")
          .as[StreamingBars.SidedSymIn]
        val q = StreamingBars.footprintSummaryStream(src, 3600, 0.01,
            imbalanceFactor = 3.0, watermarkDelay = "2 hours").toDF()
          .writeStream.format("parquet")
          .option("path", base + "/out")
          .option("checkpointLocation", base + "/chk")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val t0 = System.currentTimeMillis()
      writeOneFile(sided.where(col("ts") <= mid), srcDir, "a_early",
        t0 - 60000)
      runOnce() // phase 1: trailing ~2h of bars stay buffered in state
      val hourNs = 3600L * 1000000000L
      val em1 = s.read.parquet(base + "/out")
        .agg(count(lit(1)), coalesce(max(col("bar_ts")), lit(0L))).head()
      val (n1, max1) = (em1.getLong(0), em1.getLong(1))
      require(n1 > 0, "restart gate degenerate: phase 1 emitted no bars")
      require(max1 < mid - 2L * hourNs + 2000000L,
        s"restart gate degenerate: phase 1 emitted bar_ts=$max1 past the " +
          s"watermark mid-2h=${mid - 2L * hourNs} — nothing was buffered " +
          "across the kill")
      writeOneFile(sided.where(col("ts") > mid), srcDir, "b_late",
        t0 - 40000)
      writeOneFile(sentinelRow(sided, 0), srcDir, "c_s1", t0 - 30000)
      writeOneFile(sentinelRow(sided, 1), srcDir, "d_s2", t0 - 20000)
      runOnce() // phase 2: fresh query — restored buffers build the grids
      s.read.parquet(base + "/out")
        .where(col("bar_ts") < sentinelNs)
        .select(col("bar_ts"),
          col("buy_imbalances_sum"), col("sell_imbalances_sum"),
          col("cot_price_level"), col("imb_max_run_signed"),
          (r6(col("vp_skew")) + lit(0.0)).as("vp_skew"),
          r6(col("vp_gini")).as("vp_gini"))
    }),

    // Streaming TICK BARS through the per-symbol counter state machine:
    // bar ids assigned as trades arrive across two micro-batches, then the
    // SAME fixed-width OHLCV aggregation and completeness filter as the
    // batch gate — tick_bars_300's oracle text verbatim. The id stream is
    // row-for-row the batch closed form (StreamingSpec), so the bars are
    // identical by construction; the gate proves it against DuckDB.
    "streaming_tick_bars_300" -> ((s, dir) => {
      import s.implicits._
      val src = splitTradeFileStream(s, dir, s"graft_gate_stream_tick_$runId")
        .as[StreamingBars.TradeIn]
      val ids = drain(StreamingBars.tickBarStream(src, 300).toDF(),
        "gate_stream_tick_ids")
      graft.bars.EventBars.ohlcvByBarId(withTradeData(ids, s, dir))
        .where(col("trades") === 300L ||
          (col("bar_id") === 0 && col("trades") === 299L))
        .select(col("bar_id"), col("bar_ts"), r6(col("open")).as("open"),
          r6(col("high")).as("high"), r6(col("low")).as("low"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"), r6(col("median_trade_size")).as("median_trade_size"),
          q6(col("vwap")).as("vwap"))
    }),

    // Streaming VOLUME BARS (reset, no carry): the per-symbol cum state
    // machine assigns ids across the batch split; completeBars drops the
    // unassigned row 0 and the trailing partial bar exactly like the
    // batch kernel. volume_bars_2k's oracle verbatim.
    "streaming_volume_bars_2k" -> ((s, dir) => {
      import s.implicits._
      val src = splitTradeFileStream(s, dir, s"graft_gate_stream_vol_$runId")
        .as[StreamingBars.TradeIn]
      val ids = drain(
        StreamingBars.volumeBarStream(src, ScanQueries.volThr).toDF(),
        "gate_stream_vol_ids")
      graft.bars.EventBars.completeBars(withTradeData(ids, s, dir))
        .select(col("bar_id"), col("bar_ts"), r6(col("open")).as("open"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"))
    }),

    // Streaming DOLLAR BARS (carry remainder): same shape, carry state
    // rides the split. dollar_bars_200k's oracle verbatim.
    "streaming_dollar_bars_200k" -> ((s, dir) => {
      import s.implicits._
      val src = splitTradeFileStream(s, dir, s"graft_gate_stream_dol_$runId")
        .as[StreamingBars.TradeIn]
      val ids = drain(
        StreamingBars.dollarBarStream(src, ScanQueries.dolThr).toDF(),
        "gate_stream_dol_ids")
      graft.bars.EventBars.completeBars(withTradeData(ids, s, dir))
        .select(col("bar_id"), col("bar_ts"), r6(col("open")).as("open"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"))
    }),

    // Streaming TICK IMBALANCE bars: the per-symbol (θ, n, E_T, E_b) state
    // machine assigns ids across the batch split with its EWMA-updated
    // threshold riding the state — imbalance_bars' oracle text verbatim
    // (the batch kernel and the machine share one IEEE op order, so ids
    // are row-identical; StreamingSpec pins it).
    "streaming_imbalance_bars" -> ((s, dir) => {
      import s.implicits._
      val src = splitSidedFileStream(s, dir, s"graft_gate_stream_imb_$runId")
        .as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.imbalanceBarStream(src, ScanQueries.imbAlphaT,
          ScanQueries.imbAlphaB, ScanQueries.imbInitT,
          ScanQueries.imbInitB).toDF(),
        "gate_stream_imb_ids")
      graft.bars.EventBars.completeBars(withTradeData(ids, s, dir))
        .select(col("bar_id"), col("bar_ts"), r6(col("open")).as("open"),
          r6(col("high")).as("high"), r6(col("low")).as("low"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"))
    }),

    // Streaming TICK RUN bars: same shape for the (nb, ns, E_T, P) run
    // machine — run_bars' oracle verbatim.
    "streaming_run_bars" -> ((s, dir) => {
      import s.implicits._
      val src = splitSidedFileStream(s, dir, s"graft_gate_stream_run_$runId")
        .as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.runBarStream(src, ScanQueries.runAlphaT,
          ScanQueries.runAlphaP, ScanQueries.runInitT,
          ScanQueries.runInitP).toDF(),
        "gate_stream_run_ids")
      graft.bars.EventBars.completeBars(withTradeData(ids, s, dir))
        .select(col("bar_id"), col("bar_ts"), r6(col("open")).as("open"),
          r6(col("high")).as("high"), r6(col("low")).as("low"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"))
    }),

    // Streaming VOLUME IMBALANCE bars: the value-measure machine
    // (θ += side·qty, EWMA thresholds in state) across the batch split —
    // volume_imbalance_bars' oracle verbatim (one IEEE op order shared
    // with the batch kernel; StreamingSpec pins row-identity).
    "streaming_volume_imbalance_bars" -> ((s, dir) => {
      import s.implicits._
      val src = splitSidedFileStream(s, dir, s"graft_gate_stream_vimb_$runId")
        .as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.valueImbalanceBarStream(src, dollar = false,
          ScanQueries.imbAlphaT, ScanQueries.imbAlphaB,
          ScanQueries.imbInitT, ScanQueries.volImbInitB).toDF(),
        "gate_stream_vimb_ids")
      graft.bars.EventBars.completeBars(withTradeData(ids, s, dir))
        .select(col("bar_id"), col("bar_ts"), r6(col("open")).as("open"),
          r6(col("high")).as("high"), r6(col("low")).as("low"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"))
    }),

    // The other two measure cells of the streaming value machines —
    // batch oracle texts verbatim, same fixture/drain shape.
    "streaming_dollar_imbalance_bars" -> ((s, dir) => {
      import s.implicits._
      val src = splitSidedFileStream(s, dir, s"graft_gate_stream_dimb_$runId")
        .as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.valueImbalanceBarStream(src, dollar = true,
          ScanQueries.imbAlphaT, ScanQueries.imbAlphaB,
          ScanQueries.imbInitT, ScanQueries.dolImbInitB).toDF(),
        "gate_stream_dimb_ids")
      graft.bars.EventBars.completeBars(withTradeData(ids, s, dir))
        .select(col("bar_id"), col("bar_ts"), r6(col("open")).as("open"),
          r6(col("high")).as("high"), r6(col("low")).as("low"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"))
    }),

    "streaming_volume_run_bars" -> ((s, dir) => {
      import s.implicits._
      val src = splitSidedFileStream(s, dir, s"graft_gate_stream_vrun_$runId")
        .as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.valueRunBarStream(src, dollar = false,
          ScanQueries.runAlphaT, ScanQueries.runAlphaP, ScanQueries.valAlphaV,
          ScanQueries.runInitT, ScanQueries.runInitP,
          ScanQueries.volRunInitV).toDF(),
        "gate_stream_vrun_ids")
      graft.bars.EventBars.completeBars(withTradeData(ids, s, dir))
        .select(col("bar_id"), col("bar_ts"), r6(col("open")).as("open"),
          r6(col("high")).as("high"), r6(col("low")).as("low"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"))
    }),

    // KEYED streaming volume-imbalance bars: ~150 REAL symbols, one
    // machine state each, every per-symbol stream straddling the batch
    // split — volume_imbalance_bars_sym's oracle verbatim. This is the
    // live shape of the keyed batch layout: state count scales with the
    // key space, not the stream length.
    "streaming_volume_imbalance_bars_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedSidedFileStream(s, dir,
        s"graft_gate_stream_vimbsym_$runId").as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.valueImbalanceBarStream(src, dollar = false,
          ScanQueries.imbAlphaT, ScanQueries.imbAlphaB,
          ScanQueries.symImbInitT, ScanQueries.volImbInitB).toDF(),
        "gate_stream_vimbsym_ids")
      ScanQueries.keyedCompleteBars(withKeyedTradeData(ids, s, dir))
    }),

    // Keyed streaming THRESHOLD bars (round-8 verdict ask #2): the
    // tick/volume/dollar counter machines run one state per REAL symbol
    // with every per-symbol stream straddling the two-batch split —
    // tick_bars_20_sym / volume_bars_60_sym / dollar_bars_2k_sym oracle
    // texts verbatim (the machines are per-symbol by construction;
    // these gates stop pinning symbol = 0).
    "streaming_tick_bars_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedTradeFileStream(s, dir,
        s"graft_gate_stream_ticksym_$runId").as[StreamingBars.TradeIn]
      val ids = drain(
        StreamingBars.tickBarStream(src, ScanQueries.symTickThr).toDF(),
        "gate_stream_ticksym_ids")
      val thr = ScanQueries.symTickThr
      graft.bars.EventBars.ohlcvByBarId(withKeyedTradeData(ids, s, dir),
          Seq("symbol"))
        .where(col("trades") === thr.toLong ||
          (col("bar_id") === 0 && col("trades") === (thr - 1).toLong))
        .select(col("symbol"), col("bar_id"), col("bar_ts"),
          r6(col("open")).as("open"), r6(col("high")).as("high"),
          r6(col("low")).as("low"), r6(col("close")).as("close"),
          r6(col("volume")).as("volume"), col("trades"),
          r6(col("median_trade_size")).as("median_trade_size"),
          q6(col("vwap")).as("vwap"))
    }),

    "streaming_volume_bars_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedTradeFileStream(s, dir,
        s"graft_gate_stream_volsym_$runId").as[StreamingBars.TradeIn]
      val ids = drain(
        StreamingBars.volumeBarStream(src, ScanQueries.symVolThr).toDF(),
        "gate_stream_volsym_ids")
      graft.bars.EventBars.completeBars(withKeyedTradeData(ids, s, dir),
          Seq("symbol"))
        .select(col("symbol"), col("bar_id"), col("bar_ts"),
          r6(col("open")).as("open"), r6(col("close")).as("close"),
          r6(col("volume")).as("volume"), col("trades"))
    }),

    "streaming_dollar_bars_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedTradeFileStream(s, dir,
        s"graft_gate_stream_dolsym_$runId").as[StreamingBars.TradeIn]
      val ids = drain(
        StreamingBars.dollarBarStream(src, ScanQueries.symDolThr).toDF(),
        "gate_stream_dolsym_ids")
      graft.bars.EventBars.completeBars(withKeyedTradeData(ids, s, dir),
          Seq("symbol"))
        .select(col("symbol"), col("bar_id"), col("bar_ts"),
          r6(col("open")).as("open"), r6(col("close")).as("close"),
          r6(col("volume")).as("volume"), col("trades"))
    }),

    // Keyed streaming DIRECTIONAL state machine: per-symbol tick rule at
    // ingest, one (prev-trade, open-bars) state per REAL symbol, daily
    // bars finalized by the global watermark (far-future sentinels) —
    // time_bars_directional_sym's oracle verbatim.
    "streaming_directional_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedSidedFileStream(s, dir,
          s"graft_gate_stream_dirsym_$runId", sentinels = true)
        .as[StreamingBars.SidedSymIn]
      val bars = StreamingBars.directionalStateStream(src, 86400,
        watermarkDelay = "25 hours")
      drain(bars.toDF(), "gate_stream_dir_sym")
        .where(col("bar_ts") < sentinelNs)
        .select(col("symbol"), col("bar_ts"), col("ticks_buy"),
          col("ticks_sell"),
          r6(col("volume_buy")).as("volume_buy"),
          r6(col("volume_sell")).as("volume_sell"),
          r6(col("mean_spread")).as("mean_spread"),
          r6(col("max_spread")).as("max_spread"),
          col("cum_ticks_min"), col("cum_ticks_max"))
    }),

    // Keyed streaming FOOTPRINT levels: the declarative per-(symbol, bar,
    // level) grid over real symbols with per-symbol sides, daily bars —
    // footprint_levels_sym's oracle verbatim (flags post-computed per
    // symbol exactly like the batch twin).
    "streaming_footprint_levels_sym" -> ((s, dir) => {
      val src = splitKeyedSidedFileStream(s, dir,
        s"graft_gate_stream_fplsym_$runId", sentinels = true)
      val grid = drain(
        StreamingBars.footprintStream(src, 86400, 0.01,
          watermarkDelay = Some("1 minute")),
        "gate_stream_fpl_sym")
        .where(col("bar_ts") < sentinelNs)
      graft.bars.Footprints.withImbalanceFlags(grid, 3.0, Seq("symbol"))
        .select(col("symbol"), col("bar_ts"), col("level"),
          r6(col("buy_volume")).as("buy_volume"),
          r6(col("sell_volume")).as("sell_volume"),
          col("buy_ticks"), col("sell_ticks"),
          col("buy_imbalance"), col("sell_imbalance"))
    }),

    // Keyed streaming FOOTPRINT summary: one level grid per (symbol, bar)
    // in state, full neighbor-dependent feature row at watermark
    // finalization — footprint_summary_sym's oracle verbatim (the BigInt
    // micro-unit sums are the batch summary's exact integer arithmetic).
    "streaming_footprint_summary_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedSidedFileStream(s, dir,
          s"graft_gate_stream_fpssym_$runId", sentinels = true)
        .as[StreamingBars.SidedSymIn]
      val out = StreamingBars.footprintSummaryStream(src, 86400, 0.01,
        imbalanceFactor = 3.0, watermarkDelay = "25 hours")
      drain(out.toDF(), "gate_stream_fps_sym")
        .where(col("bar_ts") < sentinelNs)
        .select(col("symbol"), col("bar_ts"),
          col("buy_imbalances_sum"), col("sell_imbalances_sum"),
          col("cot_price_level"), col("imb_max_run_signed"),
          (r6(col("vp_skew")) + lit(0.0)).as("vp_skew"),
          r6(col("vp_gini")).as("vp_gini"))
    }),

    // Remaining keyed measure×machine streaming cells: with these, EVERY
    // event-bar machine (tick/volume/dollar threshold, tick/value
    // imbalance, tick/value run) streams live at the key dimension with
    // its keyed batch oracle verbatim — the full keyed streaming matrix.
    "streaming_imbalance_bars_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedSidedFileStream(s, dir,
        s"graft_gate_stream_imbsym_$runId").as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.imbalanceBarStream(src, ScanQueries.imbAlphaT,
          ScanQueries.imbAlphaB, ScanQueries.symImbInitT,
          ScanQueries.imbInitB).toDF(),
        "gate_stream_imbsym_ids")
      ScanQueries.keyedCompleteBars(withKeyedTradeData(ids, s, dir))
    }),

    "streaming_run_bars_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedSidedFileStream(s, dir,
        s"graft_gate_stream_runsym_$runId").as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.runBarStream(src, ScanQueries.runAlphaT,
          ScanQueries.runAlphaP, ScanQueries.symImbInitT,
          ScanQueries.runInitP).toDF(),
        "gate_stream_runsym_ids")
      ScanQueries.keyedCompleteBars(withKeyedTradeData(ids, s, dir))
    }),

    "streaming_dollar_imbalance_bars_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedSidedFileStream(s, dir,
        s"graft_gate_stream_dimbsym_$runId").as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.valueImbalanceBarStream(src, dollar = true,
          ScanQueries.imbAlphaT, ScanQueries.imbAlphaB,
          ScanQueries.symImbInitT, ScanQueries.dolImbInitB).toDF(),
        "gate_stream_dimbsym_ids")
      ScanQueries.keyedCompleteBars(withKeyedTradeData(ids, s, dir))
    }),

    "streaming_volume_run_bars_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedSidedFileStream(s, dir,
        s"graft_gate_stream_vrunsym_$runId").as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.valueRunBarStream(src, dollar = false,
          ScanQueries.runAlphaT, ScanQueries.runAlphaP, ScanQueries.valAlphaV,
          ScanQueries.symImbInitT, ScanQueries.runInitP,
          ScanQueries.volRunInitV).toDF(),
        "gate_stream_vrunsym_ids")
      ScanQueries.keyedCompleteBars(withKeyedTradeData(ids, s, dir))
    }),

    "streaming_dollar_run_bars_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedSidedFileStream(s, dir,
        s"graft_gate_stream_drunsym_$runId").as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.valueRunBarStream(src, dollar = true,
          ScanQueries.runAlphaT, ScanQueries.runAlphaP, ScanQueries.valAlphaV,
          ScanQueries.symImbInitT, ScanQueries.runInitP,
          ScanQueries.dolRunInitV).toDF(),
        "gate_stream_drunsym_ids")
      ScanQueries.keyedCompleteBars(withKeyedTradeData(ids, s, dir))
    }),

    // Keyed streaming EWMA: one (u, v) recursion per REAL symbol across
    // the batch split — ewma_sym_scan's oracle verbatim (the reset-affine
    // batch scan and the per-symbol sequential recursion agree to ~1e-12,
    // far inside the shared r6 normalization).
    "streaming_ewma_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedTradeFileStream(s, dir,
        s"graft_gate_stream_ewmasym_$runId").as[StreamingBars.TradeIn]
      drain(StreamingBars.ewmaStream(src, ScanQueries.span).toDF(),
        "gate_stream_ewma_sym")
        .select(col("symbol"), col("ts"), col("id"),
          r6(col("ewma")).as("ewma"))
    }),

    // Keyed OUT-OF-ORDER arrival: the late half of EVERY symbol's stream
    // arrives a whole micro-batch before the early half; the buffered
    // directional machine re-sorts each finalized (symbol, bar) by
    // (ts, id) — emitted keyed bars identical to in-order arrival
    // (time_bars_directional_sym's oracle verbatim, daily bars).
    "streaming_directional_unordered_sym" -> ((s, dir) => {
      import s.implicits._
      val sided = sidedTrades(s, dir, Seq("symbol"), col("symbol"))
        .persist(graft.Conf.storageLevel) // median + split writes: 3 passes -> 1
      val st = sided.agg(expr("cast(median(ts) as bigint)"),
        min(col("ts")), max(col("ts"))).head()
      val (mid, lo, hi) = (st.getLong(0), st.getLong(1), st.getLong(2))
      // delay covers the full span so no real trade is late-dropped
      val delay = s"${(hi - lo) / 3600000000000L + 3} hours"
      // the late half arrives first, then the two flush sentinels
      val src = batchFileStream(s, s"graft_gate_stream_dirusym_$runId", Seq(
          "a_late" -> sided.where(col("ts") > mid),
          "b_early" -> sided.where(col("ts") <= mid),
          "c_s1" -> sentinelRow(sided, 0), "d_s2" -> sentinelRow(sided, 1)))
        .as[StreamingBars.SidedSymIn]
      val bars = StreamingBars.directionalBufferedStream(src, 86400,
        watermarkDelay = delay)
      drain(bars.toDF(), "gate_stream_diru_sym")
        .where(col("bar_ts") < sentinelNs)
        .select(col("symbol"), col("bar_ts"), col("ticks_buy"),
          col("ticks_sell"),
          r6(col("volume_buy")).as("volume_buy"),
          r6(col("volume_sell")).as("volume_sell"),
          r6(col("mean_spread")).as("mean_spread"),
          r6(col("max_spread")).as("max_spread"),
          col("cum_ticks_min"), col("cum_ticks_max"))
    }),

    // Streaming DOLLAR RUN bars: the value-run machine (buy/sell dollar
    // sums + four EWMA expectations in state) across the batch split —
    // dollar_run_bars' oracle verbatim.
    "streaming_dollar_run_bars" -> ((s, dir) => {
      import s.implicits._
      val src = splitSidedFileStream(s, dir, s"graft_gate_stream_drun_$runId")
        .as[StreamingBars.SidedSymIn]
      val ids = drain(
        StreamingBars.valueRunBarStream(src, dollar = true,
          ScanQueries.runAlphaT, ScanQueries.runAlphaP, ScanQueries.valAlphaV,
          ScanQueries.runInitT, ScanQueries.runInitP,
          ScanQueries.dolRunInitV).toDF(),
        "gate_stream_drun_ids")
      graft.bars.EventBars.completeBars(withTradeData(ids, s, dir))
        .select(col("bar_id"), col("bar_ts"), r6(col("open")).as("open"),
          r6(col("high")).as("high"), r6(col("low")).as("low"),
          r6(col("close")).as("close"), r6(col("volume")).as("volume"),
          col("trades"))
    }),

    // Streaming EWMA: the pandas ewm(span, adjust=True) recursion as
    // per-symbol O(1) state across the batch split — ewma_scan's oracle
    // verbatim (the sequential u/v recursion and the batch affine scan
    // agree to ~1e-12, far inside the shared r6 normalization).
    "streaming_ewma" -> ((s, dir) => {
      import s.implicits._
      val src = splitTradeFileStream(s, dir, s"graft_gate_stream_ewma_$runId")
        .as[StreamingBars.TradeIn]
      drain(StreamingBars.ewmaStream(src, ScanQueries.span).toDF(),
        "gate_stream_ewma")
        .select(col("ts"), col("id"), r6(col("ewma")).as("ewma"))
    }),

    // Streaming CUSUM event filter (constant threshold): per-symbol
    // (sPos, sNeg, prevPrice) state across the split; emitted events are
    // row-identical to the batch reset-state scan (StreamingSpec), priced
    // via an equi-join back to the canonical trades. cusum_events' oracle
    // verbatim (λ = max(1·2.0, 1e-12) = 2.0).
    "streaming_cusum_events" -> ((s, dir) => {
      import s.implicits._
      val src = splitTradeFileStream(s, dir, s"graft_gate_stream_cus_$runId",
          flush = true)
        .as[StreamingBars.TradeIn]
      drain(StreamingBars.cusumStream(src, 2.0).toDF(),
        "gate_stream_cusum")
        .where(col("isEvent"))
        .select(col("ts"), col("id"))
        .join(Trades.fromEvents(graft.Tables.events(s, dir))
          .select("ts", "id", "price"), Seq("ts", "id"))
        .select(col("ts"), col("id"), r6(col("price")).as("price"))
    }),

    // Keyed streaming CUSUM: cusumStream is per-symbol by construction
    // (groupByKey(symbol)) — this gate feeds it the REAL symbols, so one
    // CUSUM state machine runs live per symbol with every per-symbol
    // stream straddling the two-batch split (cusum_events_sym's oracle
    // verbatim). The machine carries the batch kernel's equal-ts block
    // rule via a one-row lookahead held in state; each symbol's final
    // real row is flushed by the per-symbol heartbeat file (flush=true),
    // and the join back to canonical trades drops the heartbeats.
    "streaming_cusum_events_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedTradeFileStream(s, dir,
          s"graft_gate_stream_cussym_$runId", flush = true)
        .as[StreamingBars.TradeIn]
      drain(StreamingBars.cusumStream(src, 2.0).toDF(),
        "gate_stream_cusum_sym")
        .where(col("isEvent"))
        .select(col("symbol"), col("ts"), col("id"))
        .join(Trades.fromEvents(graft.Tables.events(s, dir))
          .select("ts", "id", "price"), Seq("ts", "id"))
        .select(col("symbol"), col("ts"), col("id"),
          r6(col("price")).as("price"))
    }),

    // Keyed streaming z-score peaks: the published algorithm's native
    // real-time shape (StreamingBars.zPeakStream) over the real symbols,
    // each per-symbol window straddling the two-batch split —
    // z_peaks_sym's oracle verbatim.
    "streaming_z_peaks_sym" -> ((s, dir) => {
      import s.implicits._
      val src = splitKeyedTradeFileStream(s, dir,
        s"graft_gate_stream_zpk_$runId").as[StreamingBars.TradeIn]
      drain(StreamingBars.zPeakStream(src, 20, 3.0).toDF(),
        "gate_stream_zpeaks")
        .where(col("isPeak"))
        .select(col("symbol"), col("ts"), col("id"))
        .join(Trades.fromEvents(graft.Tables.events(s, dir))
          .select("ts", "id", "price"), Seq("ts", "id"))
        .select(col("symbol"), col("ts"), col("id"),
          r6(col("price")).as("price"))
    }),

    // Streaming INTEGRITY ALERTS: per-symbol time-gap + id-gap monitoring
    // as trades arrive (the live shape of the batch inspect_gaps /
    // id-gap scans a 100 TB ingest runs next to its writers). The fixture
    // splits the canonical trades at the median timestamp into TWO files
    // (= two micro-batches under maxFilesPerTrigger=1), so every alert
    // spanning the split proves cross-batch state (the remembered last
    // (ts, id) per symbol) — not just an in-batch sort. No sentinels:
    // the monitor is NoTimeout/append and emits as it folds. The oracle
    // recomputes both alert kinds with per-symbol lag windows.
    "streaming_integrity_alerts" -> ((s, dir) => {
      import s.implicits._
      val ticks = Trades.fromEvents(graft.Tables.events(s, dir))
        .select(col("ts"), col("id"), col("symbol"))
      val mid = ticks.agg(expr("cast(median(ts) as bigint)")).head().getLong(0)
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_gate_stream_integ_$runId").getAbsolutePath
      val p = new org.apache.hadoop.fs.Path(tmp)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val t0 = System.currentTimeMillis()
      writeOneFile(ticks.where(col("ts") <= mid), tmp, "a_early", t0 - 40000)
      writeOneFile(ticks.where(col("ts") > mid), tmp, "b_late", t0 - 20000)
      val src = s.readStream.schema(ticks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp + "/*")
        .as[graft.streaming.StreamingIntegrity.TickIn]
      // per-symbol streams are sparse (~2 trades/day) — the 3-day
      // threshold yields real time gaps, mirroring integrity_time_gaps_sym
      val alerts = graft.streaming.StreamingIntegrity.alerts(
        src, 3L * 86400L * 1000000000L)
      drain(alerts.toDF(), "gate_stream_integrity")
        .select(col("symbol"), col("kind"), col("prev_ts"), col("ts"),
          col("prev_id"), col("id"), col("missing_ids"),
          r6(col("gap_sec")).as("gap_sec"))
    })
  )

  /** One oracle text for BOTH streaming-bars executors (windowed agg and
    * state machine): different physical paths, one bar semantic.
    */
  private val streamBarsOracle: String = {
    val iv = 300L * 1000000000L
    s"""WITH $tradesCte
       |SELECT ((ts + ${iv - 1}) // $iv) * $iv AS bar_ts,
       |       ${rd("first(price ORDER BY ts, id)")} AS open,
       |       ${rd("max(price)")} AS high, ${rd("min(price)")} AS low,
       |       ${rd("last(price ORDER BY ts, id)")} AS close,
       |       ${rd("sum(qty)")} AS volume,
       |       CAST(count(*) AS BIGINT) AS trades,
       |       ${q6Sql(s"${m6Sql("price * qty")} / ${m6Sql("qty")}")} AS vwap
       |FROM trades GROUP BY 1""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "streaming_time_bars_5m" -> streamBarsOracle,
    "streaming_time_bars_state_5m" -> streamBarsOracle,

    // the batch twins' oracle texts VERBATIM — one semantic, two executors
    "streaming_directional_1h" ->
      TradeQueries.oracles("time_bars_directional_1h"),
    "streaming_directional_unordered" ->
      TradeQueries.oracles("time_bars_directional_1h"),
    "streaming_restart_directional_buffered" ->
      TradeQueries.oracles("time_bars_directional_1h"),
    "streaming_directional_agg_1h" -> {
      val iv = 3600L * 1000000000L
      s"""WITH $tradesCte, $sidedCte
         |SELECT ((ts + ${iv - 1}) // $iv) * $iv AS bar_ts,
         |  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ticks_buy,
         |  CAST(sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT) AS ticks_sell,
         |  ${rd("sum(CASE WHEN side = 1 THEN qty ELSE 0.0 END)")} AS volume_buy,
         |  ${rd("sum(CASE WHEN side = -1 THEN qty ELSE 0.0 END)")} AS volume_sell,
         |  ${rd("sum(CASE WHEN side = 1 THEN price * qty ELSE 0.0 END)")} AS dollars_buy,
         |  ${rd("sum(CASE WHEN side = -1 THEN price * qty ELSE 0.0 END)")} AS dollars_sell
         |FROM sided GROUP BY 1""".stripMargin
    },
    "streaming_footprint_summary" ->
      FootprintQueries.oracles("footprint_summary_1h"),
    "streaming_restart_footprint_summary" ->
      FootprintQueries.oracles("footprint_summary_1h"),
    "streaming_footprint_levels" ->
      FootprintQueries.oracles("footprint_levels_1h"),
    "streaming_restart_bars_5m" -> streamBarsOracle,
    "streaming_store_ingest" ->
      TradeQueries.oracles("store_readrange_prune"),
    "streaming_store_ingest_replay" ->
      TradeQueries.oracles("store_readrange_prune"),
    "streaming_store_compact_race" ->
      TradeQueries.oracles("store_readrange_prune"),
    "streaming_dedup_index_append" ->
      DocQueries.streamingIndexAppendOracleSql,
    // engine-side bit-parity gate (same pattern as ann_topk_ivf_*): the
    // oracle pins one all-true row per arriving delta vector
    "streaming_ann_ivf_append" ->
      """SELECT vec_id AS query_id, TRUE AS live_append_matches_memory
        |FROM embeddings WHERE vec_id % 5 = 0""".stripMargin,
    // probe parity must survive the mid-drain cell-file fold bit-exactly
    "streaming_ann_ivf_fold" ->
      """SELECT vec_id AS query_id, TRUE AS live_fold_matches_memory
        |FROM embeddings WHERE vec_id % 5 = 0""".stripMargin,
    // exactly one index row per corpus vector after the replay drain —
    // a double-appended batch would flip its vectors to n_index_rows = 2
    "streaming_ann_ivf_replay" ->
      "SELECT vec_id, 1 AS n_index_rows FROM embeddings",
    "streaming_corpus_e2e" ->
      DocQueries.streamingCorpusE2eOracleSql,
    // the state-compaction drain must land on the base pipeline's exact
    // survivor set — the fold is content-preserving or this hash fails
    "streaming_corpus_state_compact" ->
      DocQueries.streamingCorpusE2eOracleSql,
    // the index-folded drain must land on the base pipeline's exact
    // survivor set — a band row lost/duplicated by the fold shifts batch
    // 2's candidate pairs and fails this hash
    "streaming_corpus_index_fold" ->
      DocQueries.streamingCorpusE2eOracleSql,
    // compaction composed with a mid-batch crash must still replay to the
    // uninterrupted base pipeline's survivor set
    "streaming_corpus_compact_crash_replay" ->
      DocQueries.streamingCorpusE2eOracleSql,
    "streaming_corpus_e2e_full" ->
      DocQueries.streamingCorpusE2eFullOracleSql,
    // the crash-replayed drain must land on the UNINTERRUPTED pipeline's
    // survivor set — the oracle recomputes it from raw documents, so the
    // shared text IS the uninterrupted truth
    "streaming_corpus_e2e_crash_replay" ->
      DocQueries.streamingCorpusE2eFullOracleSql,
    "streaming_tick_bars_300" -> ScanQueries.oracles("tick_bars_300"),
    "streaming_volume_bars_2k" -> ScanQueries.oracles("volume_bars_2k"),
    "streaming_dollar_bars_200k" -> ScanQueries.oracles("dollar_bars_200k"),
    "streaming_tick_bars_sym" -> ScanQueries.oracles("tick_bars_20_sym"),
    "streaming_volume_bars_sym" -> ScanQueries.oracles("volume_bars_60_sym"),
    "streaming_dollar_bars_sym" -> ScanQueries.oracles("dollar_bars_2k_sym"),
    "streaming_directional_sym" ->
      TradeQueries.oracles("time_bars_directional_sym"),
    "streaming_footprint_levels_sym" ->
      FootprintQueries.oracles("footprint_levels_sym"),
    "streaming_footprint_summary_sym" ->
      FootprintQueries.oracles("footprint_summary_sym"),
    "streaming_ewma" -> ScanQueries.oracles("ewma_scan"),
    "streaming_imbalance_bars" -> ScanQueries.oracles("imbalance_bars"),
    "streaming_run_bars" -> ScanQueries.oracles("run_bars"),
    "streaming_restart_run_bars" -> ScanQueries.oracles("run_bars"),
    "streaming_volume_imbalance_bars" ->
      ScanQueries.oracles("volume_imbalance_bars"),
    "streaming_volume_imbalance_bars_sym" ->
      ScanQueries.oracles("volume_imbalance_bars_sym"),
    "streaming_imbalance_bars_sym" ->
      ScanQueries.oracles("imbalance_bars_sym"),
    "streaming_run_bars_sym" -> ScanQueries.oracles("run_bars_sym"),
    "streaming_dollar_imbalance_bars_sym" ->
      ScanQueries.oracles("dollar_imbalance_bars_sym"),
    "streaming_volume_run_bars_sym" ->
      ScanQueries.oracles("volume_run_bars_sym"),
    "streaming_dollar_run_bars_sym" ->
      ScanQueries.oracles("dollar_run_bars_sym"),
    "streaming_ewma_sym" -> ScanQueries.oracles("ewma_sym_scan"),
    "streaming_directional_unordered_sym" ->
      TradeQueries.oracles("time_bars_directional_sym"),
    "streaming_dollar_run_bars" -> ScanQueries.oracles("dollar_run_bars"),
    "streaming_dollar_imbalance_bars" -> ScanQueries.oracles("dollar_imbalance_bars"),
    "streaming_volume_run_bars" -> ScanQueries.oracles("volume_run_bars"),
    "streaming_cusum_events" -> ScanQueries.oracles("cusum_events"),
    "streaming_cusum_events_sym" -> ScanQueries.oracles("cusum_events_sym"),
    "streaming_restart_cusum_sym" -> ScanQueries.oracles("cusum_events_sym"),
    "streaming_z_peaks_sym" -> FeatureQueries.oracles("z_peaks_sym"),

    // both alert kinds recomputed with per-symbol lag windows; the stream
    // emits time_gap before id_gap for a pair that trips both, and the
    // driver's compare is order-insensitive (sorted hash)
    "streaming_integrity_alerts" ->
      s"""WITH $tradesCte,
         |lagged AS (
         |  SELECT symbol, ts, id,
         |         lag(ts) OVER w AS prev_ts, lag(id) OVER w AS prev_id
         |  FROM trades WINDOW w AS (PARTITION BY symbol ORDER BY ts, id)
         |)
         |SELECT symbol, 'time_gap' AS kind, prev_ts, ts, prev_id, id,
         |       CAST(0 AS BIGINT) AS missing_ids,
         |       ${rd("(ts - prev_ts) / 1e9")} AS gap_sec
         |FROM lagged WHERE ts - prev_ts > ${3L * 86400L * 1000000000L}
         |UNION ALL
         |SELECT symbol, 'id_gap' AS kind, prev_ts, ts, prev_id, id,
         |       CAST(id - prev_id - 1 AS BIGINT) AS missing_ids,
         |       0e0 AS gap_sec
         |FROM lagged WHERE id - prev_id > 1""".stripMargin,

    "streaming_dedup_exact" ->
      s"""SELECT DISTINCT
        |  $normMd5Sql AS content_md5
        |FROM documents""".stripMargin,

    // same banding CTEs as dedup_minhash_lsh — the streaming bucket state
    // must reproduce the batch band join's candidate set exactly
    "streaming_dedup_lsh_pairs" ->
      s"""WITH ${Q.toksCte}, ${DocQueries.shCte}, ${DocQueries.minhashBandsCtes}
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a
         |JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
         |  AND a.doc_id < b.doc_id""".stripMargin
  )
}
