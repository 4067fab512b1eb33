package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Per-micro-batch APPEND STATE with exactly-once replay and a compaction
  * lifecycle — the state-dir discipline behind the live corpus pipeline's
  * store / seen-hash tables (`streaming_corpus_e2e*`).
  *
  * Problem shape: a foreachBatch pipeline publishes per-batch state (the
  * survivors store, the seen content-hash set) that the NEXT batch probes.
  * A plain `mode("append")` write has two 100 TB failure modes:
  *
  *  1. EXACTLY-ONCE: a crash between the append and the checkpoint commit
  *     replays the batch, and append-mode double-writes what already
  *     landed (the r12 verdict's last exactly-once hole);
  *  2. FILE COUNT: one-small-file-per-batch grows the dir unboundedly —
  *     the same listing/footer/scheduling bottleneck [[Store.compact]]
  *     exists for, reborn in state dirs.
  *
  * The fix for (1) is LAYOUT, not locking: state lives in HIVE-STYLE
  * batch partitions, `root/batch=<id>/`, and [[publishBatch]] writes each
  * batch's delta with `mode("overwrite")` scoped to ITS OWN partition
  * directory — a replayed batch rewrites byte-equivalent content over
  * itself instead of appending a second copy (the same fix the IVF
  * probes log shipped in r12). Day-0 state goes to `batch=-1`.
  *
  * The fix for (2) is [[compact]]: fold all COMMITTED batch partitions
  * (id ≤ `uptoBatch` — the caller passes `batchId - 1` from inside
  * foreachBatch, where every earlier batch's checkpoint commit is
  * durable, so none of the folded partitions can ever replay) into ONE
  * new generation partition. Generations take strictly DECREASING
  * negative ids (first fold → `batch=-2`, next → `batch=-3`, …): they
  * can never collide with a stream batch id (≥ 0), with `batch=-1`
  * day-0 state, or with a previous generation — which is what makes the
  * journaled swap below replay-idempotent.
  *
  * Fold protocol (journal discipline shared with
  * [[Store.compactConcurrent]]; hash tables and append-only stores are
  * unordered sets, so the swap is trivially content-preserving):
  *
  *  1. write the folded union to a hidden `_state_tmp_<run>` dir;
  *  2. journal (target dir, tmp dir, fold-dir list) — written to a
  *     `_graft_state_wip_*` draft and ATOMICALLY renamed to
  *     `_graft_state_journal_*`: the rename is the commit point, a
  *     truncated draft is deleted as pre-commit by [[recover]];
  *  3. rename tmp → target generation dir (one-rename flip), delete the
  *     folded partitions, drop the journal.
  *
  * Every step after the journal is idempotent-completable: [[recover]]
  * (run automatically by [[read]] and at every [[compact]] entry)
  * finishes the flip and the deletes from any crash point, and a
  * replayed batch's [[publishBatch]] cannot collide with a fold because
  * folds only ever cover batches whose commits are already durable.
  *
  * KNOWN SCHEMA: the store wrote every file under the root itself, so it
  * never asks Spark to infer the schema (a one-task footer-reading job per
  * `spark.read.parquet`, on every probe). [[publishBatch]] records the
  * frame's as-read schema (every field nullable, as file sources relax it)
  * in a `_schema.json` sidecar at the root, and [[read]], [[readBefore]]
  * and [[compact]] pass it to the reader; the `batch` partition column is
  * still discovered from the directory names. Spark's file listing skips
  * every `_`- or `.`-prefixed name, so the sidecar, like the journals and
  * staging dirs here, is invisible to the data read. It is written BEFORE
  * the batch's data, as a complete draft renamed into place, so no
  * partition is ever visible without it and a crash never leaves a partial
  * sidecar; it is rewritten only when a publish changes the schema. A root
  * without a sidecar (written by an older version) falls back to
  * inference.
  */
object StateStore {

  private val tmpPrefix = "_state_tmp_"
  private val wipPrefix = "_graft_state_wip_"
  private val journalPrefix = "_graft_state_journal_"
  private val schemaFile = "_schema.json"
  private val schemaWipPrefix = "_schema_wip_"

  private def fsOf(spark: SparkSession, root: String) = {
    val p = new org.apache.hadoop.fs.Path(root)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Publish one batch's state delta — `mode("overwrite")` scoped to the
    * batch's own partition dir, so a checkpoint-replayed batch rewrites
    * identical content instead of double-appending. `batchId = -1` is the
    * day-0 (pre-stream) state by convention. The schema sidecar (see
    * object doc) is brought up to date before the partition is written.
    */
  def publishBatch(df: DataFrame, root: String, batchId: Long): Unit = {
    recordSchema(df, root)
    df.write.mode("overwrite").parquet(s"$root/batch=$batchId")
  }

  /** Write `df`'s as-read schema to the root's sidecar unless it already
    * holds it: a draft under a `_`-prefixed name, then a rename. Only a
    * schema change replaces an existing sidecar (delete, then rename); a
    * crash between the two leaves no sidecar, and readers infer.
    */
  private def recordSchema(df: DataFrame, root: String): Unit = {
    val (rootP, fs) = fsOf(df.sparkSession, root)
    val schema = GraftSqlBridge.asNullable(df.schema)
    val sidecar = new org.apache.hadoop.fs.Path(rootP, schemaFile)
    if (knownSchema(fs, sidecar).contains(schema)) return
    val wip = new org.apache.hadoop.fs.Path(rootP,
      s"$schemaWipPrefix${java.util.UUID.randomUUID().toString.take(8)}.json")
    val out = fs.create(wip, false)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    if (fs.exists(sidecar)) fs.delete(sidecar, false)
    checkedRename(fs, wip, sidecar)
  }

  private def knownSchema(fs: org.apache.hadoop.fs.FileSystem,
                          sidecar: org.apache.hadoop.fs.Path): Option[StructType] =
    if (!fs.exists(sidecar)) None
    else {
      val in = fs.open(sidecar)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(DataType.fromJson(txt).asInstanceOf[StructType])
    }

  /** A parquet reader for `root`'s files: with the recorded schema when
    * the sidecar exists (no inference job), plain otherwise.
    */
  private def reader(spark: SparkSession, root: String): DataFrameReader = {
    val (rootP, fs) = fsOf(spark, root)
    knownSchema(fs, new org.apache.hadoop.fs.Path(rootP, schemaFile))
      .fold(spark.read)(s => spark.read.schema(s))
  }

  /** The full state: every batch partition plus every folded generation,
    * with the layout's `batch` partition column dropped (state content is
    * an unordered set — which batch a row arrived in is not part of it).
    * Runs [[recover]] first so a crashed fold can never surface a
    * half-swapped view. CONTRACT: call after the stream has drained (or
    * from inside foreachBatch use [[readBefore]]) — a read raced against
    * a live publish can surface the in-flight batch's partially-written
    * partition, which only the as-of read is specified to exclude.
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    recover(spark, root)
    reader(spark, root).parquet(root).drop("batch")
  }

  /** AS-OF state read for batch `batchId`'s probes: only partitions with
    * id < batchId — i.e. day-0 (`batch=-1`), every folded generation
    * (strictly negative, and folds never cover a batch that could still
    * replay) and every EARLIER batch. This is what makes a replayed batch
    * deterministic: its probes can never see its own (crash-published)
    * state, so the survivor set it recomputes is bit-identical to the
    * first attempt's — the other half of [[publishBatch]]'s
    * overwrite-idempotence. The predicate is on the PARTITION column, so
    * it prunes directories, never scans-and-filters.
    */
  def readBefore(spark: SparkSession, root: String, batchId: Long): DataFrame = {
    recover(spark, root)
    reader(spark, root).parquet(root)
      .where(org.apache.spark.sql.functions.col("batch") < batchId)
      .drop("batch")
  }

  /** Fold all partitions with id ≤ `uptoBatch` into one new generation
    * partition (see object doc for the protocol and why `uptoBatch` must
    * only cover checkpoint-committed batches). No-op when fewer than
    * `minDirs` partitions qualify. Returns
    * (foldedPartitions, filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, root: String, uptoBatch: Long,
              targetBytes: Long = 128L << 20,
              minDirs: Int = 2): (Int, Int, Int) = {
    val (rootP, fs) = fsOf(spark, root)
    recover(spark, root)
    val dirs = fs.listStatus(rootP)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("batch="))
      .map(d => (d.getPath.getName.stripPrefix("batch=").toLong, d.getPath))
      .sortBy(_._1)
    val fold = dirs.filter(_._1 <= uptoBatch)
    if (fold.length < minDirs) return (0, 0, 0)
    val files = fold.flatMap { case (_, p) =>
      fs.listStatus(p).filter(f => f.isFile &&
        f.getPath.getName.endsWith(".parquet"))
    }
    if (files.isEmpty) return (0, 0, 0)
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val gen = math.min(dirs.map(_._1).min, -1L) - 1L
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(rootP, s"$tmpPrefix$runId")
    reader(spark, root).parquet(files.map(_.getPath.toString).toIndexedSeq: _*)
      .repartition(nOut)
      .write.option("compression", "zstd").parquet(tmp.toString)
    val target = new org.apache.hadoop.fs.Path(rootP, s"batch=$gen")
    publishFold(fs, rootP, target, tmp, fold.map(_._2.toString), runId)
    val after = fs.listStatus(target).count(f => f.isFile &&
      f.getPath.getName.endsWith(".parquet"))
    (fold.length, files.length, after)
  }

  /** Journal-then-flip: the publish half of [[compact]], from "staging
    * dir is fully written" to "folded partitions deleted". Split out (like
    * [[Store.publishCompaction]]) so the fault-grid spec can drive it
    * through a filesystem that fails after op k and prove [[recover]]
    * restores exactly-once content from EVERY interruption point.
    * Journal content: target generation dir, tmp dir, then one
    * folded-partition path per line — drafted to a wip name and renamed
    * (atomic commit point; a truncated draft is swept pre-commit).
    */
  private[graft] def publishFold(fs: org.apache.hadoop.fs.FileSystem,
                                 rootP: org.apache.hadoop.fs.Path,
                                 target: org.apache.hadoop.fs.Path,
                                 tmp: org.apache.hadoop.fs.Path,
                                 foldDirs: Seq[String],
                                 runId: String): Unit = {
    val wip = new org.apache.hadoop.fs.Path(rootP, s"$wipPrefix$runId.txt")
    val out = fs.create(wip, false)
    out.write((Seq(target.toString, tmp.toString) ++ foldDirs)
      .mkString("\n").getBytes("UTF-8"))
    out.close()
    val journal = new org.apache.hadoop.fs.Path(rootP,
      s"$journalPrefix$runId.txt")
    checkedRename(fs, wip, journal)
    completeFold(fs, journal)
  }

  /** HDFS-semantics rename: surfaces a `false` return (dest exists,
    * src missing, …) as a descriptive IOException instead of letting the
    * caller proceed against a nonexistent path and die of an unrelated
    * FileNotFoundException later (recovery keeps state intact either way
    * — this is about diagnosability). Local RawLocalFileSystem mostly
    * throws on its own; HDFS returns false.
    */
  private[graft] def checkedRename(fs: org.apache.hadoop.fs.FileSystem,
                                     src: org.apache.hadoop.fs.Path,
                                     dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst " +
        "(filesystem returned false; dest may exist or src may be missing)")

  /** Idempotently drive a journaled fold to completion: flip tmp → target
    * generation (a replay where the flip already happened drops the
    * leftover tmp instead), delete the folded partitions, drop the
    * journal. The target is never in the fold set (generation ids
    * strictly decrease), so re-running the deletes can never eat the
    * folded content.
    *
    * ABORT GUARD (mirrors [[Store.completeSwap]]'s vanished-staging case):
    * if the journaled tmp dir is missing AND the target generation was
    * never created, the folded copy is GONE — e.g. another process's
    * [[recover]] swept the pre-journal tmp in the race window between
    * this run's staging write and its journal rename ([[read]] auto-runs
    * recover, so any out-of-process reader can set this up). Falling
    * through to the fold-dir deletes would destroy the ONLY copy of that
    * state; instead the journal is dropped and the fold dirs kept — this
    * compaction simply never happened. tmp-missing WITH the target
    * present can only mean the flip already completed (tmp is renamed,
    * not copied), so that case proceeds to the deletes as before.
    */
  private def completeFold(fs: org.apache.hadoop.fs.FileSystem,
                           journal: org.apache.hadoop.fs.Path): Unit = {
    val in = fs.open(journal)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = txt.split("\n").toSeq
    val target = new org.apache.hadoop.fs.Path(lines.head)
    val tmp = new org.apache.hadoop.fs.Path(lines(1))
    val foldDirs = lines.drop(2).filter(_.nonEmpty)
      .map(new org.apache.hadoop.fs.Path(_))
    if (fs.exists(tmp)) {
      if (fs.exists(target)) fs.delete(tmp, true) // flip already happened
      else checkedRename(fs, tmp, target)
    } else if (!fs.exists(target)) {
      fs.delete(journal, false) // ABORT: folded copy vanished un-flipped
      return
    }
    foldDirs.foreach(p => if (fs.exists(p)) fs.delete(p, true))
    fs.delete(journal, false)
  }

  /** Crash recovery: delete pre-commit wip drafts, complete journaled
    * folds, drop orphan tmp dirs whose run never journaled. Safe to call
    * any time; a clean state dir is a one-listing no-op.
    */
  def recover(spark: SparkSession, root: String): Unit = {
    val (rootP, fs) = fsOf(spark, root)
    if (!fs.exists(rootP)) return
    val entries = fs.listStatus(rootP)
    entries.filter(f => f.isFile && f.getPath.getName.startsWith(wipPrefix))
      .foreach(w => fs.delete(w.getPath, false))
    entries.filter(f => f.isFile &&
        f.getPath.getName.startsWith(journalPrefix))
      .foreach(j => if (fs.exists(j.getPath)) completeFold(fs, j.getPath))
    val journaledTmps = fs.listStatus(rootP)
      .filter(f => f.isFile && f.getPath.getName.startsWith(journalPrefix))
      .map(_.getPath.getName.stripPrefix(journalPrefix).stripSuffix(".txt"))
      .toSet
    entries.filter(d => d.isDirectory &&
        d.getPath.getName.startsWith(tmpPrefix))
      .filter(d => !journaledTmps.contains(
        d.getPath.getName.stripPrefix(tmpPrefix)))
      .foreach(d => if (fs.exists(d.getPath)) fs.delete(d.getPath, true))
  }
}
