package graft

import graft.sources.Store
import graft.bars.TimeBars
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-trip + pruning tests for the partitioned store (SURVEY.md §2.1/M6). */
class StoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private val dayNs = 86400000000000L

  /** 120 days of hourly trades spanning 2024-01-01 .. 2024-04-30. */
  private def tradesDf: DataFrame = {
    val t0 = 1704067200000000000L // 2024-01-01T00:00Z in ns
    (0 until 120 * 24).map { h =>
      (t0 + h * 3600000000000L, h.toLong, 100.0 + (h % 37) * 0.25,
        1.0 + (h % 5), 0L)
    }.toDF("ts", "id", "price", "qty", "symbol")
  }

  test("monthCol: ns one below a month boundary stays in the earlier month") {
    // double division would round 1706745599999999999 ns (ulp 256 at 1.7e18)
    // up to the 2024-02-01 boundary and misbucket the row into month=2024-02
    val boundaryNs = 1706745600000000000L // 2024-02-01T00:00:00Z
    val d = Seq(boundaryNs - 1, boundaryNs).toDF("ts")
      .select(col("ts"), graft.sources.Store.monthCol("ts").as("month"))
      .orderBy("ts").collect().map(_.getString(1))
    assert(d.toSeq == Seq("2024-01", "2024-02"))
  }

  test("monthly save/read round-trip preserves rows exactly") {
    val dir = Files.createTempDirectory("store").toString
    val t = tradesDf
    Store.saveMonthly(t, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == t.count())
    assert(back.select("month").distinct().count() == 4) // Jan..Apr
    val a = t.orderBy("id").collect().map(_.getDouble(2)).toSeq
    val b = back.orderBy("id").collect()
      .map(_.getAs[Double]("price")).toSeq
    assert(a == b)
  }

  test("compact rewrites fragmented months, preserves rows, skips tight ones") {
    val dir = Files.createTempDirectory("store").toString
    val t = tradesDf
    // fragment: five appends → ≥5 files per month
    Store.saveMonthly(t.where(col("id") % 5 === 0), dir)
    (1 to 4).foreach(k =>
      Store.saveMonthly(t.where(col("id") % 5 === k), dir, mode = "append"))
    def filesPerMonth: Map[String, Int] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("month="))
        .map(d => d.getName.stripPrefix("month=") ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val before = filesPerMonth
    assert(before.values.forall(_ >= 5))
    val report = Store.compact(spark, dir) // huge default target → 1 file/month
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(3))).toList
    assert(report.map(_._1).sorted ==
      List("2024-01", "2024-02", "2024-03", "2024-04"))
    assert(report.forall { case (m, fb, fa) => fb == before(m) && fa == 1 })
    val after = filesPerMonth
    assert(after.values.forall(_ == 1))
    // data identical after the rewrite
    val back = spark.read.parquet(dir)
    assert(back.count() == t.count())
    assert(back.orderBy("id").collect().map(_.getAs[Double]("price")).toSeq ==
      t.orderBy("id").collect().map(_.getDouble(2)).toSeq)
    // second pass: everything at target already — no month rewritten
    val report2 = Store.compact(spark, dir)
      .collect().map(r => (r.getInt(1), r.getInt(3))).toList
    assert(report2.forall { case (fb, fa) => fb == 1 && fa == 1 })
  }

  test("compactConcurrent: a file appended after the snapshot survives; rows stay exact") {
    val dir = Files.createTempDirectory("store").toString
    val t = tradesDf
    // fragment the store with the first 4 of 5 slices
    Store.saveMonthly(t.where(col("id") % 5 === 0), dir)
    (1 to 3).foreach(k =>
      Store.saveMonthly(t.where(col("id") % 5 === k), dir, mode = "append"))
    // the race: the 5th slice lands AFTER the snapshot, BEFORE the swap
    val report = Store.compactConcurrent(spark, dir, targetBytes = 1L << 40,
      months = None,
      onAfterSnapshot =
        () => Store.saveMonthly(t.where(col("id") % 5 === 4), dir,
          mode = "append"))
    assert(report.where(col("files_after") < col("files_before")).count() > 0)
    val back = spark.read.parquet(dir)
    assert(back.count() == t.count(), "raced append lost or doubled rows")
    assert(back.orderBy("id").collect().map(_.getAs[Double]("price")).toSeq ==
      t.orderBy("id").collect().map(_.getDouble(2)).toSeq)
    // no staging dirs or journals left behind
    val leftovers = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("_compact_tmp_") ||
        f.getName.startsWith("_graft_compact_journal_"))
    assert(leftovers.isEmpty, s"swap leftovers: ${leftovers.mkString(",")}")
  }

  test("compactConcurrent crash recovery: journaled swap completes, orphan staging is dropped") {
    val dir = Files.createTempDirectory("store").toString
    val t = tradesDf
    Store.saveMonthly(t.where(col("id") % 2 === 0), dir)
    Store.saveMonthly(t.where(col("id") % 2 === 1), dir, mode = "append")
    val root = new java.io.File(dir)
    val month = root.listFiles().filter(_.getName.startsWith("month="))
      .map(_.getName).sorted.head
    val monthDir = new java.io.File(root, month)
    val oldFiles = monthDir.listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(oldFiles.length == 2)
    // hand-stage the month's compacted rows + journal, simulating a crash
    // right after the journal write (= the swap's commit point)
    val tmp = new java.io.File(root, "_compact_tmp_deadbeef")
    spark.read.parquet(oldFiles.toIndexedSeq: _*).repartition(1)
      .write.parquet(tmp.getAbsolutePath)
    val journal = new java.io.File(root, "_graft_compact_journal_deadbeef.txt")
    Files.writeString(journal.toPath,
      (Seq(monthDir.getAbsolutePath, tmp.getAbsolutePath) ++ oldFiles)
        .mkString("\n"))
    // plus an ORPHAN staging dir from a run that never journaled
    val orphan = new java.io.File(root, "_compact_tmp_0badf00d")
    spark.read.parquet(oldFiles.head).limit(3)
      .write.parquet(orphan.getAbsolutePath)
    Store.recoverCompaction(spark, dir)
    assert(!tmp.exists() && !journal.exists() && !orphan.exists())
    assert(oldFiles.forall(p => !new java.io.File(p).exists()),
      "journaled old files must be deleted by recovery")
    val back = spark.read.parquet(dir)
    assert(back.count() == t.count(), "recovery lost or doubled rows")
    // recovery is idempotent on a clean store
    Store.recoverCompaction(spark, dir)
    assert(spark.read.parquet(dir).count() == t.count())
  }

  test("readRangeConsistent is exact at BOTH swap phases; plain read duplicates mid-commit") {
    val dir = Files.createTempDirectory("store").toString
    val t = tradesDf
    Store.saveMonthly(t.where(col("id") % 2 === 0), dir)
    Store.saveMonthly(t.where(col("id") % 2 === 1), dir, mode = "append")
    val root = new java.io.File(dir)
    val month = root.listFiles().filter(_.getName.startsWith("month="))
      .map(_.getName).sorted.head
    val monthDir = new java.io.File(root, month)
    val oldFiles = monthDir.listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    val full = spark.read.parquet(dir)
    val (loNs, hiNs) = (full.agg(min("ts")).head().getLong(0),
      full.agg(max("ts")).head().getLong(0))
    val truth = t.count()
    def consistent() = Store.readRangeConsistent(spark, dir, loNs, hiNs)
    // hand-build a mid-swap state: staged compacted month + INTENT
    // journal, with ONE staged file already moved in under cmpct_ name
    val tmp = new java.io.File(root, "_compact_tmp_cafe01")
    spark.read.parquet(oldFiles.toIndexedSeq: _*).repartition(2)
      .write.parquet(tmp.getAbsolutePath)
    val staged = tmp.listFiles().filter(_.getName.endsWith(".parquet"))
    val journal = new java.io.File(root, "_graft_compact_journal_cafe01.txt")
    Files.writeString(journal.toPath,
      (Seq(monthDir.getAbsolutePath, tmp.getAbsolutePath) ++ oldFiles)
        .mkString("\n"))
    Files.move(staged.head.toPath,
      new java.io.File(monthDir, s"cmpct_cafe01_${staged.head.getName}").toPath)
    // INTENT phase: the moved-in cmpct file must be invisible
    assert(consistent().count() == truth,
      "intent-phase consistent read lost or doubled rows")
    // finish the moves by hand, flip to COMMIT phase
    tmp.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.move(f.toPath,
        new java.io.File(monthDir, s"cmpct_cafe01_${f.getName}").toPath)
    }
    Files.move(journal.toPath,
      new java.io.File(root, "_graft_compact_commit_cafe01.txt").toPath)
    // COMMIT phase: old files still on disk — a plain read sees the
    // month twice, the journal-aware read is exact
    assert(spark.read.parquet(dir).count() > truth,
      "expected the plain read to see mid-commit duplicates")
    assert(consistent().count() == truth,
      "commit-phase consistent read lost or doubled rows")
    // recovery finalizes; both readers agree again
    Store.recoverCompaction(spark, dir)
    assert(spark.read.parquet(dir).count() == truth)
    assert(consistent().count() == truth)
    assert(!new java.io.File(root, "_graft_compact_commit_cafe01.txt").exists())
  }

  // FaultFs (the counting crash-injection filesystem) lives in
  // FaultFs.scala, shared with StateStoreSpec's fold fault grid.

  test("two-journal swap fault grid: recovery restores exact content from EVERY interruption point") {
    // Property: interrupt publishCompaction (journal write → swap →
    // finalize) after its k-th filesystem mutation for EVERY k, run
    // recoverCompaction, and the store must hold exactly the original
    // rows — never a lost old file, never a duplicated month. This pins
    // the protocol exhaustively where the compact-race gate picks two
    // hand-chosen kill points.
    val proto = Files.createTempDirectory("faultproto").toString
    val t = tradesDf
    Store.saveMonthly(t.where(col("id") % 2 === 0), proto)
    Store.saveMonthly(t.where(col("id") % 2 === 1), proto, mode = "append")
    val protoRoot = new java.io.File(proto)
    val monthName = protoRoot.listFiles()
      .filter(_.getName.startsWith("month=")).map(_.getName).sorted.head
    // pre-stage the compacted copy of that month once (the fault grid
    // covers the PUBLISH protocol; staging itself is a plain overwrite)
    val protoOld = new java.io.File(protoRoot, monthName).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    spark.read.parquet(new java.io.File(protoRoot, monthName).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        .toIndexedSeq: _*)
      .repartition(2)
      .write.parquet(new java.io.File(protoRoot, "_compact_tmp_fau1t").toString)
    val truth = t.count()
    def cloneFixture(): java.io.File = {
      val dst = Files.createTempDirectory("faultgrid").toFile
      def cp(src: java.io.File, dest: java.io.File): Unit = {
        if (src.isDirectory) {
          dest.mkdirs()
          src.listFiles().foreach(f => cp(f, new java.io.File(dest, f.getName)))
        } else Files.copy(src.toPath, dest.toPath)
      }
      protoRoot.listFiles().foreach(f => cp(f, new java.io.File(dst, f.getName)))
      dst
    }
    def runAt(failAt: Int): (Int, Boolean) = {
      val dir = cloneFixture()
      val rootP = new org.apache.hadoop.fs.Path(dir.toString)
      val raw = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val fs = new FaultFs(raw, failAt)
      val monthDir = new org.apache.hadoop.fs.Path(rootP, monthName)
      val tmp = new org.apache.hadoop.fs.Path(rootP, "_compact_tmp_fau1t")
      val olds = protoOld.map(n =>
        new org.apache.hadoop.fs.Path(monthDir, n).toString).toIndexedSeq
      val crashed =
        try { Store.publishCompaction(fs, rootP, monthDir, tmp, olds, "fau1t"); false }
        catch { case _: java.io.IOException => true }
      Store.recoverCompaction(spark, dir.toString)
      val back = spark.read.parquet(dir.toString)
      assert(back.count() == truth,
        s"fault at op $failAt: recovery lost or doubled rows")
      assert(back.orderBy("id").collect().map(_.getAs[Double]("price")).toSeq ==
        t.orderBy("id").collect().map(_.getDouble(2)).toSeq,
        s"fault at op $failAt: recovered values differ")
      val leftovers = dir.listFiles().filter(f =>
        f.getName.startsWith("_compact_tmp_") ||
          f.getName.startsWith("_graft_compact_"))
      assert(leftovers.isEmpty,
        s"fault at op $failAt: leftovers ${leftovers.map(_.getName).mkString(",")}")
      (fs.ops, crashed)
    }
    val (totalOps, cleanCrashed) = runAt(Int.MaxValue)
    assert(!cleanCrashed && totalOps >= 7,
      s"clean publish should run ≥7 mutating ops, saw $totalOps")
    (1 to totalOps).foreach { k =>
      val (_, crashed) = runAt(k)
      assert(crashed, s"op $k: expected the injected fault to fire")
    }
  }

  test("swap abort guards: truncated wip draft and vanished staging both keep the old files") {
    val dir = Files.createTempDirectory("store").toString
    val t = tradesDf
    Store.saveMonthly(t.where(col("id") % 2 === 0), dir)
    Store.saveMonthly(t.where(col("id") % 2 === 1), dir, mode = "append")
    val root = new java.io.File(dir)
    val month = root.listFiles().filter(_.getName.startsWith("month="))
      .map(_.getName).sorted.head
    val monthDir = new java.io.File(root, month)
    val oldFiles = monthDir.listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    val truth = t.count()
    // 1. crash mid-journal-write: a TRUNCATED wip draft (would misparse as
    // a partial old-file list if it were live) + its staging dir. Recovery
    // must treat both as pre-commit: delete them, month untouched.
    val tmp = new java.io.File(root, "_compact_tmp_w1p")
    spark.read.parquet(oldFiles.toIndexedSeq: _*).repartition(1)
      .write.parquet(tmp.getAbsolutePath)
    val wip = new java.io.File(root, "_graft_compact_wip_w1p.txt")
    Files.writeString(wip.toPath,
      (Seq(monthDir.getAbsolutePath, tmp.getAbsolutePath) :+ oldFiles.head)
        .mkString("\n").dropRight(7)) // truncated mid old-file line
    Store.recoverCompaction(spark, dir)
    assert(!wip.exists() && !tmp.exists())
    assert(oldFiles.forall(p => new java.io.File(p).exists()),
      "pre-commit recovery must leave the month untouched")
    assert(spark.read.parquet(dir).count() == truth)
    // 2. journaled run whose staging VANISHED with nothing moved in (a
    // concurrent recovery swept the not-yet-journaled staging dir): the
    // swap must ABORT — journal dropped, old files kept — not flip to
    // commit and delete the only remaining copy of the rows.
    val journal = new java.io.File(root, "_graft_compact_journal_gh0st.txt")
    Files.writeString(journal.toPath,
      (Seq(monthDir.getAbsolutePath,
        new java.io.File(root, "_compact_tmp_gh0st").getAbsolutePath) ++
        oldFiles).mkString("\n"))
    Store.recoverCompaction(spark, dir)
    assert(!journal.exists(), "aborted journal must be dropped")
    assert(oldFiles.forall(p => new java.io.File(p).exists()),
      "vanished-staging abort must keep the old files")
    assert(spark.read.parquet(dir).count() == truth)
  }

  test("readRange prunes month partitions and pushes the ts filter") {
    val dir = Files.createTempDirectory("store").toString
    Store.saveMonthly(tradesDf, dir)
    val feb1 = 1706745600000000000L // 2024-02-01T00:00Z
    val df = Store.readRange(spark, dir, feb1, feb1 + 10 * dayNs - 1)
    // only February rows: 10 days of 24 trades
    assert(df.count() == 240)
    val plan = df.queryExecution.executedPlan.toString
    // month predicate must land in PartitionFilters (directory pruning),
    // ts predicate in PushedFilters (row-group stats pruning)
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(month"))
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts"))
  }

  test("bucketed layout: symbol-keyed agg and self-join plan with zero Exchange") {
    val dir = Files.createTempDirectory("bucketed").toString
    // multi-symbol stream: 8 symbols interleaved
    val t = tradesDf.withColumn("symbol", col("id") % 8)
    Store.saveBucketed(t, "storespec_bucketed", dir + "/t",
      buckets = 4, Seq("symbol"), Seq("symbol", "ts", "id"))
    val back = spark.table("storespec_bucketed")
    assert(back.count() == t.count())

    // per-(symbol, day) roll-up: bucket distribution on symbol satisfies the
    // grouping's clustered requirement — the whole agg is map-side, no shuffle
    val agg = back.groupBy(col("symbol"), expr(s"ts div ${dayNs}L").as("day"))
      .agg(count(lit(1)).as("n"), max("price").as("hi"))
    agg.collect()
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), s"agg shuffled:\n$aggPlan")

    // symbol equi-join of two identically-bucketed tables: both sides read
    // co-located — with broadcast disabled (the 100 TB case: neither side
    // small) the join is a sort-merge over bucket distributions with no
    // Exchange of ANY kind; within-bucket sortBy order spares the big
    // side's SortExec too
    Store.saveBucketed(
      t.groupBy("symbol").agg(avg("price").as("ref_price")),
      "storespec_bucketed_dim", dir + "/d",
      buckets = 4, Seq("symbol"), Seq("symbol"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = back.join(spark.table("storespec_bucketed_dim"), "symbol")
        .groupBy("symbol").agg(max(col("price") - col("ref_price")).as("dev"))
      joined.collect()
      val jPlan = joined.queryExecution.executedPlan.toString
      assert(!jPlan.contains("Exchange"), s"join shuffled:\n$jPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS storespec_bucketed")
      spark.sql("DROP TABLE IF EXISTS storespec_bucketed_dim")
    }
  }

  test("append mode adds a new month without rewriting old ones") {
    val dir = Files.createTempDirectory("store").toString
    val t = tradesDf
    Store.saveMonthly(t.where(col("ts") < lit(1706745600000000000L)), dir)
    val janOnly = spark.read.parquet(dir).count()
    Store.saveMonthly(t.where(col("ts") >= lit(1706745600000000000L)), dir,
      mode = "append")
    assert(spark.read.parquet(dir).count() == t.count())
    assert(janOnly < t.count())
  }

  test("CSV ingestion: header/corrupt rows dropped, ms→ns, side, dedup, store") {
    import graft.sources.Ingest
    val csvDir = Files.createTempDirectory("csv").toString
    val storeDir = Files.createTempDirectory("ingested").toString
    // ms timestamps (Jan+Feb 2024), one header line, one corrupt line,
    // one duplicate id; isBuyerMaker=true must become side=-1
    val lines = Seq(
      "id,price,qty,quoteQty,time,isBuyerMaker,isBestMatch", // header noise
      "1,100.5,2.0,201.0,1704067200000,true,1",
      "2,100.6,1.5,150.9,1704067260000,false,1",
      "2,999.0,9.9,0.0,1704067261000,false,1",               // dup id -> dropped
      "garbage,not,a,row,xx,yy,zz",                          // corrupt -> dropped
      "3,100.7,3.0,302.1,1706745600000,True,1")              // Feb, 'True' variant
    Files.write(java.nio.file.Paths.get(csvDir, "dump.csv"),
      String.join("\n", lines: _*).getBytes)
    Ingest.ingest(spark, csvDir, storeDir)
    val got = spark.read.parquet(storeDir)
      .select("ts", "id", "price", "qty", "side", "month")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getInt(4), r.getString(5)))
    assert(got.toSeq == Seq(
      (1704067200000000000L, 1L, 100.5, 2.0, -1, "2024-01"),
      (1704067260000000000L, 2L, 100.6, 1.5, 1, "2024-01"),
      (1706745600000000000L, 3L, 100.7, 3.0, -1, "2024-02")))
  }

  test("readBars daily semantics: end-of-day range expansion + partial-day drop") {
    val tdir = Files.createTempDirectory("store").toString
    val bdir = Files.createTempDirectory("bars").toString
    val t0 = 1704067200000000000L // 2024-01-01T00:00Z
    // 10 full days + a PARTIAL 11th day (12 hours) of hourly trades
    val t = (0 until (10 * 24 + 12)).map { h =>
      (t0 + h * 3600000000000L, h.toLong, 100.0 + h, 1.0, 0L)
    }.toDF("ts", "id", "price", "qty", "symbol")
    Store.saveMonthly(t, tdir)
    Store.materializeBars(spark, tdir, bdir, intervalSec = 3600)
    val end = t0 + 10 * dayNs // a midnight = date-only end (bar/io.py:836)
    // daily resample: the incomplete final day is dropped (bar/io.py:877-885)
    val daily = Store.readBars(spark, bdir, t0, end, barSec = 3600,
      resampleSec = Some(86400))
    val rs = daily.select("rs_ts").orderBy("rs_ts").as[Long].collect().toSeq
    assert(rs.last == end, "partial final day must be dropped")
    // sub-daily read with the same date-only end keeps the whole end day
    val hourly = Store.readBars(spark, bdir, t0, end, barSec = 3600)
    val mxBar = hourly.agg(max("bar_ts")).as[Long].head()
    assert(mxBar > end, "date-only end must expand to end-of-day for 1h bars")
  }

  test("materializeBars + readBars with resample matches direct construction") {
    val tdir = Files.createTempDirectory("store").toString
    val bdir = Files.createTempDirectory("bars").toString
    val t = tradesDf
    Store.saveMonthly(t, tdir)
    Store.materializeBars(spark, tdir, bdir, intervalSec = 3600)
    val lo = 1704067200000000000L
    val hi = lo + 120 * dayNs
    val viaStore = Store.readBars(spark, bdir, lo, hi, barSec = 3600,
      resampleSec = Some(86400))
      .select("rs_ts", "open", "high", "low", "close", "volume", "trades")
      .orderBy("rs_ts").collect().toSeq
    val direct = TimeBars.resample(TimeBars.ohlcv(t, 3600), 3600, 86400)
      .select("rs_ts", "open", "high", "low", "close", "volume", "trades")
      .orderBy("rs_ts").collect().toSeq
    assert(viaStore == direct)
  }

  test("stored LSH band index: delta probe reads band rows, never re-shingles base text") {
    import graft.dedup.Dedup
    import graft.text.TextOps
    val dir = Files.createTempDirectory("dedupidx").toString
    def corpus(ids: Range, tag: String): DataFrame =
      ids.map(i => (i.toLong,
          if (i % 3 == 0) "the quick brown fox jumps over the lazy dog again and again"
          else s"unique $tag text number $i with some filler words here"))
        .toDF("doc_id", "text")
        .withColumn("toks", TextOps.wsTokens(col("text")))
    val base = corpus(0 until 60, "base")
    val delta = corpus(100 until 120, "base") // overlaps base's dup template
    Dedup.writeLshIndex(base, "doc_id", "toks", shingleN = 3, k = 16,
      bands = 8, "storespec_dedup_idx", dir + "/idx", buckets = 4)
    try {
      val stored = Dedup.incrementalLshPairsFrom(
        spark.table("storespec_dedup_idx"), base, delta,
        "doc_id", "toks", 3, 16, 8, threshold = 0.5)
      val recomputed = Dedup.incrementalLshPairs(base, delta,
        "doc_id", "toks", 3, 16, 8, threshold = 0.5)
      // identical results: the index is a layout, not a semantic
      val a = stored.orderBy("id_a", "id_b")
        .select("id_a", "id_b", "n_common").as[(Long, Long, Long)].collect().toSeq
      val b = recomputed.orderBy("id_a", "id_b")
        .select("id_a", "id_b", "n_common").as[(Long, Long, Long)].collect().toSeq
      assert(a.nonEmpty && a === b)
      // the probe replaces the BASE side's minhash banding with a file
      // scan of the bucketed index. The verify stage re-embeds the
      // candidate subtree several times (pairs + both semi-join sides),
      // so absolute Generate counts are plan-shape-dependent — assert
      // RELATIVELY: every embedded copy drops its base-side Generate, so
      // the stored plan must have exactly half the recompute plan's
      // minhash sites, and the index table scan must appear.
      def sites(df: DataFrame): Int =
        "Generate explode\\(minhash_buckets".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      val plan = stored.queryExecution.executedPlan.toString
      assert(sites(stored) * 2 === sites(recomputed) && sites(stored) > 0,
        s"stored=${sites(stored)} recomputed=${sites(recomputed)} minhash sites:\n$plan")
      assert(plan.contains("storespec_dedup_idx"),
        s"probe plan does not scan the stored index:\n$plan")

      // append lifecycle: a second ingest batch's bands land in the SAME
      // table (same bucket spec, new files); a later delta probing the
      // grown index must equal the recompute over base ∪ batch2, and the
      // scan must still read as bucketed
      val batch2 = corpus(200 until 230, "base")
      val delta2 = corpus(300 until 320, "base")
      Dedup.appendLshIndex(batch2, "doc_id", "toks", 3, 16, 8,
        "storespec_dedup_idx", buckets = 4)
      val grown = base.unionByName(batch2)
      val viaIndex = Dedup.incrementalLshPairsFrom(
          spark.table("storespec_dedup_idx"), grown, delta2,
          "doc_id", "toks", 3, 16, 8, threshold = 0.5)
        .orderBy("id_a", "id_b")
        .select("id_a", "id_b", "n_common").as[(Long, Long, Long)].collect().toSeq
      val viaRecompute = Dedup.incrementalLshPairs(grown, delta2,
          "doc_id", "toks", 3, 16, 8, threshold = 0.5)
        .orderBy("id_a", "id_b")
        .select("id_a", "id_b", "n_common").as[(Long, Long, Long)].collect().toSeq
      assert(viaIndex.nonEmpty && viaIndex === viaRecompute)
      // batch2's template docs must be findable THROUGH the append
      assert(viaIndex.exists(_._2 >= 200), "no matches against appended batch")
      val grownPlan = spark.table("storespec_dedup_idx")
        .groupBy("bucket").count()
        .queryExecution.executedPlan.toString
      assert(grownPlan.contains("Bucketed: true"),
        s"appended table lost its bucket spec:\n$grownPlan")
    } finally spark.sql("DROP TABLE IF EXISTS storespec_dedup_idx")
  }

  test("stored LSH index takedown: tombstone probe, broadcast anti-join, compaction") {
    import graft.dedup.Dedup
    import graft.text.TextOps
    val dir = Files.createTempDirectory("dedupdel").toString
    def corpus(ids: Range, tag: String): DataFrame =
      ids.map(i => (i.toLong,
          if (i % 3 == 0) "the quick brown fox jumps over the lazy dog again and again"
          else s"unique $tag text number $i with some filler words here"))
        .toDF("doc_id", "text")
        .withColumn("toks", TextOps.wsTokens(col("text")))
    val base = corpus(0 until 60, "base")
    val delta = corpus(100 until 120, "base")
    val tbl = "storespec_dedup_del"
    Dedup.writeLshIndex(base, "doc_id", "toks", shingleN = 3, k = 16,
      bands = 8, tbl, dir + "/idx", buckets = 4)
    try {
      // without tombstones the active view IS the raw table (no join)
      assert(Dedup.activeLshIndex(spark, tbl).queryExecution.executedPlan
        .toString.contains(tbl))
      // takedown: every template doc with id < 30 (half the dup cluster)
      val doomed = base.where(col("doc_id") % 3 === 0 && col("doc_id") < 30)
      Dedup.deleteFromLshIndex(doomed.select("doc_id"), "doc_id", tbl)
      val kept = base.where(!(col("doc_id") % 3 === 0 && col("doc_id") < 30))
      val probed = Dedup.incrementalLshPairsFrom(
        Dedup.activeLshIndex(spark, tbl), kept, delta,
        "doc_id", "toks", 3, 16, 8, threshold = 0.5)
      val viaIndex = probed.orderBy("id_a", "id_b")
        .select("id_a", "id_b", "n_common").as[(Long, Long, Long)].collect().toSeq
      // deleted docs never surface as base_ids...
      assert(viaIndex.nonEmpty &&
        !viaIndex.exists(p => p._2 % 3 == 0 && p._2 < 30))
      // ...and the survivors equal the recompute over the filtered corpus
      val viaRecompute = Dedup.incrementalLshPairs(kept, delta,
          "doc_id", "toks", 3, 16, 8, threshold = 0.5)
        .orderBy("id_a", "id_b")
        .select("id_a", "id_b", "n_common").as[(Long, Long, Long)].collect().toSeq
      assert(viaIndex === viaRecompute)
      // collect()-then-inspect (AQE resolves at execute): the tombstone
      // anti-join must have broadcast the takedown set, keeping the index
      // side's bucketed scan shuffle-free
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti") && plan.contains(tbl),
        s"no tombstone anti-join over the stored index:\n$plan")
      assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(plan).isDefined,
        s"tombstone set was not broadcast:\n$plan")

      // compaction: physical rewrite into a fresh table; the OLD table's
      // tombstones survive until the post-swap dropLshTombstones, so
      // probes against the old name never see taken-down docs resurface
      Dedup.compactLshIndex(spark, tbl, tbl + "_v2", dir + "/idx_v2",
        buckets = 4)
      assert(spark.catalog.tableExists(Dedup.lshTombstoneTable(tbl)),
        "tombstones must outlive compaction (reader-swap window)")
      val expected = Dedup.activeLshIndex(spark, tbl)
        .orderBy("bucket", "base_id").collect().toSeq
      Dedup.dropLshTombstones(spark, tbl)
      assert(!spark.catalog.tableExists(Dedup.lshTombstoneTable(tbl)))
      val compacted = spark.table(tbl + "_v2")
        .orderBy("bucket", "base_id").collect().toSeq
      assert(compacted === expected && compacted.nonEmpty)
      val compactPlan = spark.table(tbl + "_v2").groupBy("bucket").count()
        .queryExecution.executedPlan.toString
      assert(compactPlan.contains("Bucketed: true"),
        s"compacted table lost its bucket spec:\n$compactPlan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_v2")
      spark.sql(s"DROP TABLE IF EXISTS ${Dedup.lshTombstoneTable(tbl)}")
    }
  }
}
