package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned trade store + catalog (SURVEY.md §2.1, M6).
  *
  * The reference persists trades as monthly HDF5 groups with per-group
  * metadata and an integrity sidecar (bar/data_model.py:420-574), prunes
  * partitions by timestamp range from that metadata (data_model.py:579-594),
  * and maintains derived 1s-bar groups (bar/io.py:441-565). The Spark-native
  * shape is a month-partitioned Parquet layout:
  *
  *  - `month=yyyy-MM` partition directories replace the HDF5 groups;
  *  - Parquet footer min/max stats + partition pruning replace the
  *    hand-rolled metadata pruning — [[readRange]] derives a month predicate
  *    from the ns range so directory-level pruning kicks in before any
  *    footer is read (visible as PartitionFilters in the plan);
  *  - zstd compression replaces blosc:zstd;
  *  - the catalog/integrity reports (H5Inspector, bar/io.py:101-308) are
  *    plain aggregations over the store ([[monthlyStats]]).
  *
  * At 100 TB the month key alone leaves partitions too large; the same
  * layout extends to (symbol, month) with `partitionBy("symbol", "month")`
  * — every function below takes the partition columns from the data, not
  * from a fixed schema.
  */
object Store {

  /** `month` partition value (UTC yyyy-MM) from the canonical ns-long ts.
    * Integer `div`, NOT `/`: Column `/` is double division, and ns epochs
    * (~1.7e18, ulp 256) round a boundary-adjacent ts into the WRONG month
    * — a row written to month M that readRange's exact-arithmetic month
    * predicate then prunes away. All-long arithmetic, same rule as
    * TimeBars.barTs.
    */
  def monthCol(tsName: String): Column =
    expr(s"date_format(timestamp_micros($tsName div 1000L), 'yyyy-MM')")

  /** Partitioned write, the `save_h5` equivalent. `mode` follows the
    * reference's overwrite/append (data_model.py:441); dynamic partition
    * overwrite only rewrites the months present in `df`.
    */
  def saveMonthly(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.withColumn("month", monthCol("ts"))
      .repartition(col("month"))
      .write
      .partitionBy("month")
      .mode(mode)
      .option("compression", "zstd")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)

  /** Time-range scan with explicit partition pruning — the
    * `load_trades_h5` / `_keys_for_timerange` path. The month predicate is
    * derived from the ns range so only intersecting month directories are
    * listed; the ts predicate then pushes into the Parquet row groups.
    */
  def readRange(spark: SparkSession, path: String,
                fromNs: Long, toNs: Long, tsCol: String = "ts"): DataFrame = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM")
      .withZone(java.time.ZoneOffset.UTC)
    val loMonth = fmt.format(java.time.Instant.ofEpochSecond(fromNs / 1000000000L))
    val hiMonth = fmt.format(java.time.Instant.ofEpochSecond(toNs / 1000000000L))
    spark.read.parquet(path)
      .where(col("month").between(loMonth, hiMonth))
      .where(col(tsCol).between(fromNs, toNs))
  }

  /** Catalog report, the `H5Inspector.get_statistics` equivalent: one row
    * per month with row count, ts coverage and value ranges.
    */
  def monthlyStats(trades: DataFrame): DataFrame =
    trades
      .withColumn("month", monthCol("ts"))
      .groupBy("month")
      .agg(
        count(lit(1)).as("rows"),
        min("ts").as("first_ts"),
        max("ts").as("last_ts"),
        min("price").as("min_price"),
        max("price").as("max_price"),
        sum(col("qty").cast("decimal(18,6)")).cast("double").as("total_qty"))

  /** Integrity roll-up, the `get_integrity_summary` equivalent
    * (bar/io.py:225-308): one row per month with id-discontinuity counts,
    * missing-id totals and percentage, and over-threshold time gaps; the
    * reference's `data_integrity_ok` flag is the no-gaps conjunction. Gaps
    * are detected on the (id / ts) order so cross-month discontinuities
    * attribute to the later month, exactly like the reference's
    * per-partition metadata computed at ingest.
    *
    * Empty `partCols` = the reference's single-series semantics; the two
    * lag passes then ride `Trades.lagged` previous-row scans
    * (one parallel shuffle each) and only the tiny per-month summaries
    * join — the data-scaled stream never moves through a single-partition
    * window. At 100 TB pass the symbol column(s) — every window and the
    * roll-up then shuffle by key, parallel across symbols, like
    * `Trades.timeGaps`/`idGaps`.
    */
  def integritySummary(trades: DataFrame, maxGapNs: Long,
                       partCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pc = partCols.map(col)
    val summarized =
      if (partCols.nonEmpty) {
        val wid = Window.partitionBy(pc: _*).orderBy("id")
        val wts = Window.partitionBy(pc: _*).orderBy("ts", "id")
        trades
          .withColumn("month", monthCol("ts"))
          .withColumn("__gap", col("id") - lag("id", 1).over(wid) - 1)
          .withColumn("__tgap", col("ts") - lag("ts", 1).over(wts))
          .groupBy((partCols :+ "month").map(col): _*)
          .agg(
            count(lit(1)).as("rows"),
            min("ts").as("first_ts"),
            max("ts").as("last_ts"),
            sum(when(col("__gap") > 0, col("__gap")).otherwise(0L)).as("missing_ids"),
            sum(when(col("__gap") > 0, 1L).otherwise(0L)).as("discontinuities"),
            sum(when(col("__tgap") > maxGapNs, 1L).otherwise(0L)).as("time_gaps"),
            max(when(col("__tgap") > maxGapNs, col("__tgap")).otherwise(0L)).as("max_time_gap_ns"))
      } else {
        // Unkeyed: two lag scans (id order; ts order) aggregated to
        // per-month partials independently, then an equi-join of the tiny
        // month tables. Cross-month discontinuities attribute to the later
        // month exactly as the window formulation (the lag rides the global
        // order; the month key comes from the current row).
        val idSide = graft.trades.Trades
          .lagged(trades.select(col("id"), col("ts")), Seq("id", "ts"),
            Seq("id"), allowDupOrderKeys = true)
          .withColumn("month", monthCol("ts"))
          .withColumn("__gap", col("id") - col("prev_id") - 1)
          .groupBy(col("month"))
          .agg(
            count(lit(1)).as("rows"),
            min("ts").as("first_ts"),
            max("ts").as("last_ts"),
            sum(when(col("__gap") > 0, col("__gap")).otherwise(0L)).as("missing_ids"),
            sum(when(col("__gap") > 0, 1L).otherwise(0L)).as("discontinuities"))
        val tsSide = graft.trades.Trades
          .lagged(trades.select(col("ts"), col("id")), Seq("ts", "id"),
            Seq("ts"), allowDupOrderKeys = true)
          .withColumn("month", monthCol("ts"))
          .withColumn("__tgap", col("ts") - col("prev_ts"))
          .groupBy(col("month"))
          .agg(
            sum(when(col("__tgap") > maxGapNs, 1L).otherwise(0L)).as("time_gaps"),
            max(when(col("__tgap") > maxGapNs, col("__tgap")).otherwise(0L)).as("max_time_gap_ns"))
        idSide.join(tsSide, Seq("month"))
      }
    summarized
      .withColumn("missing_pct",
        col("missing_ids") * lit(100.0) / (col("missing_ids") + col("rows")))
      .withColumn("data_integrity_ok",
        col("missing_ids") === 0 && col("time_gaps") === 0)
  }

  /** Small-file compaction for a partitioned store. Incremental ingests
    * (`saveMonthly(mode = "append")`) and streaming writers fragment month
    * directories into many small parquet files; at 100 TB the FILE COUNT
    * becomes its own bottleneck — listings, footer reads and task
    * scheduling all scale with it. Each month whose file count exceeds
    * ceil(bytes / targetBytes) is rewritten as exactly that many files;
    * months already at-or-under target are left byte-identical.
    *
    * The DEFAULT path is the race-safe [[compactConcurrent]] — safe under
    * live writers, which is the state a production store is in all day.
    * `quiesced = true` opts into the whole-month dynamic-partition
    * overwrite instead: one atomic job per month (every month either old
    * or new after a crash, no journal machinery, no `cmpct_*` file
    * names), but a file appended by a concurrent writer between the read
    * and the overwrite is SILENTLY DELETED — only use it when no writer
    * can race (the reference's own `process_all` runs quiesced the same
    * way, bar/io.py:441-565).
    *
    * Returns one row per inspected month:
    * (month, files_before, bytes, files_after).
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              months: Option[Seq[String]] = None,
              quiesced: Boolean = false): DataFrame = {
    if (!quiesced) return compactConcurrent(spark, path, targetBytes, months)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val monthDirs = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("month="))
      .filter(d => months.forall(_.contains(d.getPath.getName.stripPrefix("month="))))
      .sortBy(_.getPath.getName)
    val report = monthDirs.map { d =>
      val m = d.getPath.getName.stripPrefix("month=")
      val files = fs.listStatus(d.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.length > nOut) {
        spark.read.parquet(d.getPath.toString)
          .withColumn("month", lit(m))
          .repartition(nOut)
          .write.partitionBy("month").mode("overwrite")
          .option("compression", "zstd")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(path)
        (m, files.length, bytes, nOut)
      } else (m, files.length, bytes, files.length)
    }
    spark.createDataFrame(report.toSeq)
      .toDF("month", "files_before", "bytes", "files_after")
  }

  /** RACE-SAFE month compaction for a store with a LIVE writer — the
    * versioned-swap discipline [[compact]] lacks: [[compact]]'s dynamic
    * partition overwrite is atomic per job but REWRITES THE WHOLE MONTH
    * DIR, so a file appended by a concurrent ingest batch between
    * compaction's read and its overwrite is silently deleted (data loss
    * under exactly the race a production store runs all day). This
    * variant never touches a file it did not snapshot:
    *
    *  1. snapshot the file sets of ALL selected months FIRST — anything a
    *     live writer appends after this point is in no snapshot and is
    *     therefore never rewritten or deleted;
    *  2. per month over target: write the snapshot's rows compacted into
    *     a hidden `_compact_tmp_<run>` staging dir (underscore-prefixed —
    *     invisible to readers);
    *  3. journal the swap (old file list + staging dir) to a hidden root
    *     file — the COMMIT POINT, the same role the catalog rename plays
    *     in [[graft.dedup.Dedup.compactLshIndex]]'s versioned swap;
    *  4. move staged files into the month dir under run-unique names,
    *     delete exactly the snapshot files, drop the journal.
    *
    * Every step after the journal is idempotent-completable:
    * [[recoverCompaction]] (run automatically at entry) finishes moves
    * and deletes from either journal phase after a crash, and removes
    * pre-journal orphan staging dirs (whose months are untouched). A
    * PLAIN reader must not race a swap at all: its duplicate window
    * opens at the FIRST staged file moved into the month dir (intent
    * phase — moved-in `cmpct_*` files are visible to a plain
    * `spark.read.parquet` while every old file still exists) and closes
    * only at the last old-file delete. [[readRangeConsistent]] is the
    * journal-aware reader that is exact at every instant of the swap
    * (it hides `cmpct_*` files while the intent journal exists, and the
    * journaled old files once the commit journal replaces it). A live
    * WRITER needs no coordination at all; that is the property the
    * `streaming_store_compact_race` gate pins.
    */
  def compactConcurrent(spark: SparkSession, path: String,
                        targetBytes: Long = 128L << 20,
                        months: Option[Seq[String]] = None): DataFrame =
    compactConcurrent(spark, path, targetBytes, months, () => ())

  /** [[compactConcurrent]] for ANY single-level hive-partitioned layout —
    * the partition prefix parameterized (e.g. `cell=` for the IVF index's
    * cell dirs, where per-batch live appends land one-file-per-cell-per-
    * batch and the file count otherwise grows with ingest forever). Same
    * journaled two-phase swap per partition dir, same
    * [[recoverCompaction]] self-healing (the journal protocol never looks
    * at the partition prefix). Safe at a foreachBatch entry: files
    * present when batch N starts belong to batches ≤ N−1, whose
    * checkpoint commits are durable — the fold only ever covers
    * committed work.
    */
  def compactPartitioned(spark: SparkSession, path: String,
                         partPrefix: String,
                         targetBytes: Long = 128L << 20): DataFrame =
    compactConcurrent(spark, path, targetBytes, None, () => (), partPrefix)

  private[graft] def compactConcurrent(spark: SparkSession, path: String,
                                       targetBytes: Long,
                                       months: Option[Seq[String]],
                                       onAfterSnapshot: () => Unit): DataFrame =
    compactConcurrent(spark, path, targetBytes, months, onAfterSnapshot,
      "month=")

  private[graft] def compactConcurrent(spark: SparkSession, path: String,
                                       targetBytes: Long,
                                       months: Option[Seq[String]],
                                       onAfterSnapshot: () => Unit,
                                       partPrefix: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(spark, path) // self-heal any crashed prior run
    val monthDirs = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(partPrefix))
      .filter(d => months.forall(_.contains(d.getPath.getName.stripPrefix(partPrefix))))
      .sortBy(_.getPath.getName)
    // phase 1: snapshot every partition's file set before touching anything
    val snaps = monthDirs.map { d =>
      val m = d.getPath.getName.stripPrefix(partPrefix)
      val files = fs.listStatus(d.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      (m, d.getPath, files)
    }
    onAfterSnapshot()
    val report = snaps.map { case (m, monthDir, files) =>
      val bytes = files.map(_.getLen).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.length > nOut) {
        val runId = java.util.UUID.randomUUID().toString.take(8)
        val tmp = new org.apache.hadoop.fs.Path(root, s"_compact_tmp_$runId")
        spark.read.parquet(files.map(_.getPath.toString).toIndexedSeq: _*)
          .repartition(nOut)
          .write.option("compression", "zstd").parquet(tmp.toString)
        publishCompaction(fs, root, monthDir, tmp,
          files.map(_.getPath.toString).toIndexedSeq, runId)
        (m, files.length, bytes, nOut)
      } else (m, files.length, bytes, files.length)
    }
    spark.createDataFrame(report.toSeq)
      .toDF("month", "files_before", "bytes", "files_after")
  }

  private val intentPrefix = "_graft_compact_journal_"
  private val commitPrefix = "_graft_compact_commit_"
  private val wipPrefix = "_graft_compact_wip_"

  /** Journal-then-swap: the publish half of [[compactConcurrent]], from
    * "staging dir is fully written" to "old files deleted". Split out so
    * the fault-grid spec can drive it through a filesystem that fails
    * after op k and prove [[recoverCompaction]] restores exactly-once
    * content from EVERY interruption point.
    *
    * TWO-JOURNAL swap (intent → commit), so a journal-aware reader
    * ([[readRangeConsistent]]) has an EXACT view at every instant: while
    * the INTENT journal exists, moved-in `cmpct_<run>_*` files are
    * invisible and the old files are the truth; the atomic rename to the
    * COMMIT journal flips the view (new files in, the journaled old
    * files out); journal deletion finalizes. Content: month dir name,
    * staging dir, then one old-file path per line.
    *
    * The intent journal itself is created ATOMICALLY: written to a
    * `_graft_compact_wip_*` temp name, then renamed into place — the
    * rename is the commit point. A crash mid-write leaves a (possibly
    * truncated) wip file that [[recoverCompaction]] deletes as
    * pre-commit, never a journal that readJournal could misparse as a
    * partial old-file list (which would commit a subset delete and leave
    * permanent duplicate rows).
    */
  private[graft] def publishCompaction(fs: org.apache.hadoop.fs.FileSystem,
                                       root: org.apache.hadoop.fs.Path,
                                       monthDir: org.apache.hadoop.fs.Path,
                                       tmp: org.apache.hadoop.fs.Path,
                                       oldFiles: Seq[String],
                                       runId: String): Unit = {
    val wip = new org.apache.hadoop.fs.Path(root, s"$wipPrefix$runId.txt")
    val out = fs.create(wip, false)
    out.write((Seq(monthDir.toString, tmp.toString) ++ oldFiles)
      .mkString("\n").getBytes("UTF-8"))
    out.close()
    val journal = new org.apache.hadoop.fs.Path(root,
      s"$intentPrefix$runId.txt")
    StateStore.checkedRename(fs, wip, journal)
    completeSwap(fs, journal)
  }

  private def readJournal(fs: org.apache.hadoop.fs.FileSystem,
                          journal: org.apache.hadoop.fs.Path)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path, Seq[String]) = {
    val in = fs.open(journal)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = txt.split("\n").toSeq
    (new org.apache.hadoop.fs.Path(lines.head),
      new org.apache.hadoop.fs.Path(lines(1)),
      lines.drop(2).filter(_.nonEmpty))
  }

  /** Idempotently drive a journaled swap to completion from either
    * phase. INTENT phase: move remaining staged files into the month dir
    * under run-unique names, drop the staging dir, then ATOMICALLY
    * rename intent → commit (one-file rename — the reader-visible flip).
    * COMMIT phase: delete the journaled old files that still exist, drop
    * the journal.
    */
  private[graft] def completeSwap(fs: org.apache.hadoop.fs.FileSystem,
                                  journal: org.apache.hadoop.fs.Path): Unit = {
    val name = journal.getName
    if (name.startsWith(intentPrefix)) {
      val runId = name.stripPrefix(intentPrefix).stripSuffix(".txt")
      val (monthDir, tmp, _) = readJournal(fs, journal)
      if (fs.exists(tmp)) {
        fs.listStatus(tmp).filter(f => f.isFile &&
            f.getPath.getName.endsWith(".parquet")).foreach { f =>
          val dest = new org.apache.hadoop.fs.Path(monthDir,
            s"cmpct_${runId}_${f.getPath.getName}")
          if (fs.exists(dest)) fs.delete(f.getPath, false) // already moved
          else StateStore.checkedRename(fs, f.getPath, dest)
        }
        fs.delete(tmp, true)
      } else {
        // staging vanished with NOTHING moved in: the compacted copy is
        // gone (e.g. a recovery pass on another process raced this run
        // and swept the staging dir before the journal landed). Flipping
        // to commit would delete the ONLY remaining copy of the month's
        // rows — ABORT instead: drop the journal, keep the old files;
        // this compaction simply never happened. tmp-missing with SOME
        // `cmpct_<run>_*` files present can only mean the moves all
        // completed (tmp is deleted strictly after the last move), so
        // that case falls through to the commit flip.
        val moved = fs.exists(monthDir) && fs.listStatus(monthDir)
          .exists(f => f.isFile &&
            f.getPath.getName.startsWith(s"cmpct_${runId}_"))
        if (!moved) {
          fs.delete(journal, false)
          return
        }
      }
      val commit = new org.apache.hadoop.fs.Path(journal.getParent,
        s"$commitPrefix$runId.txt")
      StateStore.checkedRename(fs, journal, commit)
      completeSwap(fs, commit)
    } else {
      val (_, _, oldFiles) = readJournal(fs, journal)
      oldFiles.map(new org.apache.hadoop.fs.Path(_))
        .foreach(p => if (fs.exists(p)) fs.delete(p, false))
      fs.delete(journal, false)
    }
  }

  /** Crash recovery for [[compactConcurrent]]: delete pre-commit
    * `_graft_compact_wip_*` journal drafts (possibly truncated — the
    * atomic wip→intent rename never happened, so their months were never
    * touched), complete any journaled swap (the journal is the commit
    * point — moves and deletes re-run idempotently; a journal whose
    * staging vanished un-moved ABORTS, keeping the old files), then drop
    * orphan `_compact_tmp_*` staging dirs whose run never journaled. Run
    * automatically at every compactConcurrent entry; safe to call any
    * time — a store with no leftovers is a no-op.
    */
  def recoverCompaction(spark: SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val entries = fs.listStatus(root)
    entries.filter(f => f.isFile && f.getPath.getName.startsWith(wipPrefix))
      .foreach(w => fs.delete(w.getPath, false))
    entries.filter(f => f.isFile &&
        (f.getPath.getName.startsWith(intentPrefix) ||
          f.getPath.getName.startsWith(commitPrefix)))
      .foreach(j => if (fs.exists(j.getPath)) completeSwap(fs, j.getPath))
    val journaled = fs.listStatus(root)
      .filter(f => f.isFile && f.getPath.getName.startsWith(intentPrefix))
      .map(_.getPath.getName.stripPrefix(intentPrefix).stripSuffix(".txt"))
      .toSet
    entries.filter(d => d.isDirectory &&
        d.getPath.getName.startsWith("_compact_tmp_"))
      .filter(d => !journaled.contains(
        d.getPath.getName.stripPrefix("_compact_tmp_")))
      .foreach(d => if (fs.exists(d.getPath)) fs.delete(d.getPath, true))
  }

  /** JOURNAL-AWARE consistent range read — exact at EVERY instant of a
    * concurrent [[compactConcurrent]] swap, where a plain
    * [[readRange]] sees duplicates between the commit flip and the
    * old-file deletes. View rules, validated against a journal snapshot:
    * a run in INTENT phase hides its `cmpct_<run>_*` files (old files
    * are the truth); a run in COMMIT phase hides its journaled old files
    * (the moved-in files are the truth). The journal set is re-listed
    * after the file listing — if it changed (a flip or finalize landed
    * mid-list), the snapshot is retried, so the applied rules always
    * match the files actually listed. No journals (the overwhelmingly
    * common case) delegates to [[readRange]]'s partition-discovery scan.
    */
  def readRangeConsistent(spark: SparkSession, path: String,
                          fromNs: Long, toNs: Long,
                          tsCol: String = "ts"): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def journalState(): Map[String, (String, Set[String])] =
      fs.listStatus(root).filter(_.isFile).flatMap { f =>
        val n = f.getPath.getName
        if (n.startsWith(intentPrefix))
          Some(n.stripPrefix(intentPrefix).stripSuffix(".txt") ->
            ("intent", Set.empty[String]))
        else if (n.startsWith(commitPrefix))
          // the compactor may FINALIZE (delete) a commit journal between
          // our listStatus and this open — a vanished journal means its
          // old files are already deleted, so skipping it is exact; the
          // recheck loop below still retries because the state map changed
          try Some(n.stripPrefix(commitPrefix).stripSuffix(".txt") ->
            ("commit", readJournal(fs, f.getPath)._3
              // qualify for comparison with listStatus paths (which carry
              // the fs scheme, e.g. file:/) regardless of how the writer
              // spelled them in the journal
              .map(s => fs.makeQualified(
                new org.apache.hadoop.fs.Path(s)).toString).toSet))
          catch { case _: java.io.FileNotFoundException => None }
        else None
      }.toMap
    var state = journalState()
    if (state.isEmpty) return readRange(spark, path, fromNs, toNs, tsCol)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM")
      .withZone(java.time.ZoneOffset.UTC)
    val loMonth = fmt.format(java.time.Instant.ofEpochSecond(fromNs / 1000000000L))
    val hiMonth = fmt.format(java.time.Instant.ofEpochSecond(toNs / 1000000000L))
    var attempt = 0
    var files: Seq[String] = Nil
    var settled = false
    while (!settled && attempt < 6) {
      attempt += 1
      val hiddenNew = state.collect {
        case (run, ("intent", _)) => s"cmpct_${run}_" }.toSet
      val hiddenOld = state.values.collect {
        case ("commit", olds) => olds }.flatten.toSet
      files = fs.listStatus(root)
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("month="))
        .filter { d =>
          val m = d.getPath.getName.stripPrefix("month=")
          m >= loMonth && m <= hiMonth
        }
        .flatMap(d => fs.listStatus(d.getPath))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .filter(f => !hiddenNew.exists(f.getPath.getName.startsWith))
        .filter(f => !hiddenOld.contains(
          fs.makeQualified(f.getPath).toString))
        .map(_.getPath.toString).toIndexedSeq
      val recheck = journalState()
      if (recheck == state) settled = true else state = recheck
    }
    require(settled, s"readRangeConsistent: journal set kept changing " +
      s"after $attempt snapshots — compaction churn outpaced the reader")
    if (files.isEmpty)
      return readRange(spark, path, fromNs, toNs, tsCol).where(lit(false))
    spark.read.option("basePath", path).parquet(files: _*)
      .where(col("month").between(loMonth, hiMonth))
      .where(col(tsCol).between(fromNs, toNs))
  }

  /** Bucketed-by-key table layout — the co-located join/aggregate story at
    * 100 TB. Writing trades (and every derived table) bucketed by the symbol
    * key pins a hash distribution INTO the files: any later groupBy/join
    * whose keys start with the bucket column reads that distribution from
    * the catalog and plans with ZERO Exchange — per-symbol bars, TBM's
    * event/trade join, integrity roll-ups all become map-side over one scan.
    * Same role as the reference's one-file-per-symbol HDF5 layout
    * (data_model.py:420-574), but cluster-parallel: a bucket is a unit of
    * scheduling, not a single local file, and `sortBy` pre-orders rows
    * within each bucket so per-symbol windows sort runs of one bucket file
    * instead of the whole partition.
    *
    * Uses the session catalog (in-memory or Hive) with an EXTERNAL path —
    * the parquet files live where every other store table lives; only the
    * bucket spec rides the catalog entry.
    */
  def saveBucketed(df: DataFrame, table: String, path: String,
                   buckets: Int, bucketCols: Seq[String],
                   sortCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // overwrite semantics like saveMonthly: a stale external dir (e.g. a
    // previous JVM's table whose catalog entry died with the session) would
    // otherwise fail CTAS's non-empty-location check
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    // hash-cluster on the bucket columns BEFORE the bucketed write: the
    // writer otherwise emits one file per (task × bucket) — up to
    // tasks·buckets tiny files per write, the many-small-files problem of
    // guide §6 — while a same-hash repartition lands each bucket in one
    // task → exactly one file per bucket (same rows per bucket either
    // way; bucket assignment is the row hash, not the task)
    df.repartition(buckets, bucketCols.map(col): _*)
      .write
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .option("path", path)
      .option("compression", "zstd")
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Derived-bars materialization, the `AddTimeBarH5.process_all`
    * equivalent: build `intervalSec` OHLCV bars from the store and persist
    * them as their own month-partitioned table.
    */
  def materializeBars(spark: SparkSession, tradesPath: String, barsPath: String,
                      intervalSec: Long, mode: String = "overwrite"): Unit = {
    val trades = spark.read.parquet(tradesPath).drop("month")
    val bars = graft.bars.TimeBars.ohlcv(trades, intervalSec)
    bars.withColumn("month", monthCol("bar_ts"))
      .repartition(col("month"))
      .write.partitionBy("month").mode(mode)
      .option("compression", "zstd")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(barsPath)
  }

  /** Derived-bars range reader with optional resample — the
    * `TimeBarReader.read(timeframe=...)` equivalent, including its
    * day-granular range semantics:
    *
    *  - a range end landing exactly on a UTC midnight means "through the
    *    end of that day" (the reference detects a date-only end_time and
    *    expands it by `1 day − 1 µs`, bar/io.py:836-841) — the scan range
    *    widens to `toNs + 1 day − 1`;
    *  - for daily-or-coarser resample targets with such an end, the
    *    incomplete final period is dropped (bar/io.py:877-885). With this
    *    engine's end-aligned period labels the reference's
    *    `index <= end − 1 day` cut on floor labels is exactly
    *    `rs_ts <= toNs`.
    */
  def readBars(spark: SparkSession, barsPath: String, fromNs: Long, toNs: Long,
               barSec: Long, resampleSec: Option[Long] = None): DataFrame = {
    val dayNs = 86400L * 1000000000L
    val dayEnd = toNs % dayNs == 0
    val effTo = if (dayEnd) toNs + dayNs - 1 else toNs
    val base = readRange(spark, barsPath, fromNs, effTo, tsCol = "bar_ts")
    resampleSec match {
      case None => base
      case Some(sec) =>
        val cut = if (sec >= 86400 && dayEnd) Some(toNs) else None
        graft.bars.TimeBars.resample(base.drop("month"), barSec, sec, cut)
    }
  }
}
