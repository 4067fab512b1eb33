package graft.queries

import graft.dedup.{Dedup, Substring}
import graft.queries.DocQueries.{minhashBands, minhashK, shingleN}
import graft.sources.StateStore
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The live corpus pipeline: every arriving micro-batch runs a filter
  * front, then one shared probe-then-append tail — AS-OF exact-dedup
  * probe against the seen hashes → AS-OF LSH probe against the stored
  * band index → staged shard write → publish (store, seen, index).
  * Driven by the `streaming_corpus_*` gates through [[drain]] and by
  * DocBench's `corpus_e2e_live_*` cells through their own batch loop.
  *
  * State discipline (exactly-once under replay): all three state tables
  * publish BATCH-SCOPED — store/seen through StateStore.publishBatch
  * (overwrite of the batch's own partition), the band index through
  * Dedup.appendLshIndexIdempotent (staged bucketed publish under
  * deterministic b<batch>_ names) — and all three probe AS-OF
  * (StateStore.readBefore / src_batch < batchId), so a checkpoint-replayed
  * batch recomputes a bit-identical survivor set and rewrites identical
  * state over itself. A crash at ANY point between publishes replays to
  * exactly-once content.
  */
private[graft] object CorpusPipeline {

  /** The per-batch filter stage ahead of the shared tail. */
  sealed trait Front

  /** Quality + langid, then toks; the exact-dup annotation rides the same
    * `fb` staging write.
    */
  case object Base extends Front

  /** The full production filter suite: PII redaction at entry (everything
    * downstream runs over the scrubbed text) → quality + langid → Gopher
    * repetition (staged `fb0`) → decontamination probe against the static
    * held-out benchmark gram set, bloom-bounded by `benchBloom` → the
    * annotated `fb` write.
    */
  final case class FullSuite(benchBloom: Array[Byte]) extends Front

  private def storeCols(front: Front): Seq[String] =
    Seq("doc_id", "text") ++
      (if (front == Base) Nil else Seq("has_pii")) ++
      Seq("pred_lang", "n_ws_tokens", "quality_score", "shard", "toks")

  /** Wipe `root` and lay down the EMPTY day-0 state: the stored band index
    * `name` (src_batch -1, so batch 0 probes nothing and publishes first),
    * the seen-hash set and the survivors store. `docs` supplies the
    * (doc_id, text) schema only. With `bench` (the held-out split, raw
    * text) it also stages the static decontamination benchmark — its
    * distinct n-gram hashes over REDACTED text (the probe compares
    * post-redaction token streams on both sides) plus the companion
    * xx-gram bloom (a scan-stage pre-filter with no false negatives, so
    * the survivor set equals the unfiltered probe's) — and returns the
    * full-suite front; otherwise the base front.
    */
  def day0(s: SparkSession, docs: DataFrame, name: String, root: String,
           buckets: Int, bench: Option[DataFrame] = None): Front = {
    val pth = new org.apache.hadoop.fs.Path(root)
    val fs = pth.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(pth)) fs.delete(pth, true)
    val front = bench.fold[Front](Base) { raw =>
      val benchDocs = raw
        .select(col("doc_id"), TextOps.redact(col("text")).as("text"))
        .withColumn("toks", TextOps.wsTokens(col("text")))
      Substring.distinctGramHashes(benchDocs, "doc_id", "toks",
          PipeQueries.contamN)
        .select("h").distinct().write.parquet(root + "/bench")
      FullSuite(Substring.gramXxBloom(benchDocs, "toks", PipeQueries.contamN))
    }
    val empty = docs.limit(0).select(col("doc_id"), col("text"),
      TextOps.wsTokens(col("text")).as("toks"))
    Dedup.writeLshIndex(empty, "doc_id", "toks", shingleN, minhashK,
      minhashBands, name, root + "/idx", buckets = buckets,
      srcBatch = Some(-1L))
    StateStore.publishBatch(empty.select(md5(col("text")).as("content_hash")),
      root + "/seen", -1L)
    StateStore.publishBatch(
      empty.select(col("doc_id"), col("text"), lit(false).as("has_pii"),
          lit("").as("pred_lang"), lit(0L).as("n_ws_tokens"),
          lit(0.0).as("quality_score"), lit(0).as("shard"), col("toks"))
        .select(storeCols(front).map(col): _*),
      root + "/store", -1L)
    front
  }

  /** GC the per-batch replay staging dirs (`root/<sub>/<id>`) for batches
    * STRICTLY BEFORE `batchId` — called at every batch's entry. The
    * staging points exist only so a replay of batch N is deterministic
    * (each is rebuilt by overwrite inside N's own body); entering batch N
    * proves batch N−1's checkpoint commit is durable, so no batch ≤ N−1
    * can ever replay and its staging is dead weight. Without this the
    * pipeline retains ~2-3× the arrival volume FOREVER (r13 verdict #1 —
    * the storage twin of the state-dir file-count problem
    * [[graft.sources.StateStore.compact]] solves). Batch N's own staging
    * (a crashed prior attempt's) is deliberately kept: the replay
    * overwrites it stage by stage.
    */
  private def gcReplayStaging(s: SparkSession, root: String,
                              batchId: Long): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    Seq("fb0", "fb", "stage").foreach { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p))
        fs.listStatus(p).filter(_.isDirectory).foreach { d =>
          val id = scala.util.Try(d.getPath.getName.toLong).toOption
          if (id.exists(_ < batchId)) fs.delete(d.getPath, true)
        }
    }
  }

  /** Quality score + language id over `x`'s `text`, keeping English docs
    * scoring ≥ 0.5, then tokenize. The `|| __nd < 0` guard (always false:
    * monotonically_increasing_id is non-negative; the explicit select
    * drops the column) makes the condition non-deterministic so
    * PushDownPredicates cannot SUBSTITUTE the scoring tree through the
    * projection and exchange into a Filter on the single scan task, where
    * it would run single-task and re-evaluate in the projection above
    * (profiled: 4.5 s single-task, 31 cores idle; PlanSpec pins the
    * property). toks is computed BEFORE any keep-first window, in the
    * parallel pre-shuffle projection.
    */
  private def qualityLang(x: DataFrame): DataFrame =
    x.select(x.columns.map(col).toSeq ++
        TextOps.qualityColumns(col("text")) ++
        Seq(TextOps.langIdColumns(col("text")).last,
          monotonically_increasing_id().as("__nd")): _*)
      .where(col("pred_lang") === "en" && col("quality_score") >= 0.5 ||
        col("__nd") < 0)
      .select((x.columns.toSeq ++
        Seq("pred_lang", "n_ws_tokens", "quality_score")).map(col): _*)
      .withColumn("toks", TextOps.wsTokens(col("text")))

  /** One micro-batch: `front`, then the shared tail. Per-row staging
    * points (fb0/fb/stage) are batch-scoped overwrites, so the whole body
    * is replay-deterministic given the AS-OF state reads; committed
    * batches' staging is GC'd at entry ([[gcReplayStaging]]).
    * `buckets`/`maxBucket`/`threshold` tune the band index and probe.
    * Hooks, each firing at one batch: `compactAtBatch` folds committed
    * seen/store partitions, `foldIndexAtBatch` folds committed band-index
    * files (both at entry, before the batch's probes read them), and
    * `crashAtBatch` injects a crash between the seen publish and the index
    * publish — the crash-replay gates' kill point.
    */
  def onBatch(s: SparkSession, name: String, root: String, front: Front,
              buckets: Int = 8, maxBucket: Int = Int.MaxValue,
              threshold: Double = DocQueries.jaccThreshold,
              compactAtBatch: Long = -1L, foldIndexAtBatch: Long = -1L,
              crashAtBatch: Long = -1L)(
      b: Dataset[Row], batchId: Long): Unit = {
    gcReplayStaging(s, root, batchId)
    if (batchId == compactAtBatch) {
      // fold committed batches only (ids ≤ batchId-1 — their checkpoint
      // commits are durable, so none can ever replay into the fold).
      // Idempotent under replay: a crashed batch that already folded
      // finds ONE generation partition ≤ batchId-1 and no-ops (< minDirs)
      StateStore.compact(s, root + "/seen", batchId - 1)
      StateStore.compact(s, root + "/store", batchId - 1)
    }
    if (batchId == foldIndexAtBatch)
      // committed-batch fold of the stored band index: only b<id>_ files
      // with id ≤ batchId-1 (plus day-0/previous generations) — none can
      // ever replay, so the fold can never race a replayed publish's
      // delete-by-prefix sweep
      Dedup.foldLshIndexBatches(s, name, root + "/idx", batchId - 1,
        buckets = buckets, minFiles = 2)
    // the micro-batch arrives as ONE file → one scan partition; an
    // explicit deterministic repartition on doc_id spreads the per-row
    // regex/HOF scoring over the cores (profiled: ~1.6 s single-task
    // stage per batch otherwise — guide §2.5 "one huge unsplittable
    // file"); the shuffled payload is just the batch's text
    val par = math.max(1, s.sparkContext.defaultParallelism)
    val spread = b.repartition(par, col("doc_id"))
    // the filtered batch is STAGED to a batch-scoped file and read back:
    // its subtree appears several times in one plan, and an unpersisted
    // subtree re-executes per appearance. The exact-dedup annotation
    // (content hash + keep-first window) rides the same write — `ann` is
    // consumed by both the survivor chain and the seen publish
    val kept = front match {
      case Base => qualityLang(spread.select("doc_id", "text"))
      case FullSuite(benchBloom) =>
        // redact(raw) must not INLINE into the downstream quality/langid/
        // HOF expressions (no codegen subexpression elimination there —
        // the 3-regex scrub would re-run ~6-8x per row): projections do
        // not collapse across a repartition, so the second exchange makes
        // `text` cross it materialized. has_pii = "redaction changed the
        // text".
        qualityLang(spread
            .select(col("doc_id"), TextOps.redact(col("text")).as("text"),
              (TextOps.redact(col("text")) =!= col("text")).as("has_pii"))
            .repartition(par, col("doc_id")))
          .withColumn("__nd", monotonically_increasing_id())
          .where(TextOps.keepRepetition(col("text"), col("toks")) ||
            col("__nd") < 0)
          .drop("__nd")
          .write.mode("overwrite").parquet(root + s"/fb0/$batchId")
        // staged: the decon probe's contaminated-id set and the anti-join's
        // left side both reference this frame. Only rows the bloom cannot
        // clear pay the gram explode + exact semi-join, both reading the
        // STAGED columnar toks.
        val kr = s.read.parquet(root + s"/fb0/$batchId")
        val contam = Substring.distinctGramHashes(
            kr.where(Substring.mightContainGram(col("toks"),
              PipeQueries.contamN, benchBloom)),
            "doc_id", "toks", PipeQueries.contamN)
          .join(s.read.parquet(root + "/bench"), Seq("h"), "left_semi")
          .select("doc_id").distinct()
        kr.join(contam, Seq("doc_id"), "left_anti")
    }
    Dedup.exactDupAnnotate(kept, "doc_id", "text")
      .write.mode("overwrite").parquet(root + s"/fb/$batchId")
    // 1. exact-dedup probe: keep-first inside the batch (the staged
    // annotation), then drop any hash seen in an EARLIER batch — the
    // AS-OF read keeps a replayed batch from seeing its own
    // crash-published hashes (which would empty its survivor set)
    val ann = s.read.parquet(root + s"/fb/$batchId")
    val seen = StateStore.readBefore(s, root + "/seen", batchId)
    val exSurv = ann.where(!col("is_dup"))
      .join(seen, Seq("content_hash"), "left_anti")
    // 2. LSH probe against the survivors-so-far index, AS-OF via the
    // src_batch scan predicate (a replayed batch matching its own bands
    // would self-jaccard at 1.0 and drop every doc). The store persists
    // toks, so the prior side is a column scan — never re-tokenized.
    s.catalog.refreshTable(name)
    val prior = StateStore.readBefore(s, root + "/store", batchId)
    val pairs = Dedup.incrementalLshPairsFrom(
      s.table(name).where(col("src_batch") < batchId),
      prior.select("doc_id", "toks"),
      exSurv.select("doc_id", "toks"), "doc_id", "toks",
      shingleN, minhashK, minhashBands, threshold, maxBucket)
    // 3. keep/drop + hash-gated shard, STAGED to a batch-scoped path
    // before any state publish (the survivor plan reads the state dirs
    // this batch publishes to; a persist() here silently recomputes
    // against the batch's OWN published hashes)
    exSurv
      .join(pairs.select(col("id_a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .withColumn("shard",
        (graft.ml.Sampling.hash32(col("doc_id"), LmQueries.shardSalt)
          % LmQueries.nShards).cast("int"))
      .write.mode("overwrite").parquet(root + s"/stage/$batchId")
    val surv = s.read.parquet(root + s"/stage/$batchId")
    // 4. publish state, each batch-scoped and replay-idempotent: store
    // (toks persisted for the next batch's LSH prior), seen, then the
    // bands. Seen gets only the batch's UNSEEN hashes (anti-join against
    // the same as-of read the probe used) — it grows with the DISTINCT
    // corpus, not with arrivals, and "every hash has exactly one
    // publishing batch" is a global invariant the crash-replay gates
    // assert
    StateStore.publishBatch(surv.select(storeCols(front).map(col): _*),
      root + "/store", batchId)
    StateStore.publishBatch(
      ann.select("content_hash").distinct()
        .join(seen, Seq("content_hash"), "left_anti"),
      root + "/seen", batchId)
    if (batchId == crashAtBatch)
      throw new RuntimeException(
        "injected crash between the seen publish and the index publish")
    Dedup.appendLshIndexIdempotent(surv.select("doc_id", "toks"),
      "doc_id", "toks", shingleN, minhashK, minhashBands, name,
      root + "/idx", batchId, buckets = buckets)
  }

  /** Drain the gate source `root/src` (one file per micro-batch) through
    * [[onBatch]] with the gate tuning. No state-partition pinning: the
    * pipeline has no Spark state store (its state is the StateStore
    * dirs), and its per-batch bodies are CPU-heavy expression work that
    * needs the cores; the delta-sized per-batch shuffles DO coalesce to
    * their bytes.
    */
  def drain(s: SparkSession, name: String, root: String, schema: StructType,
            front: Front, compactAtBatch: Long = -1L,
            foldIndexAtBatch: Long = -1L, crashAtBatch: Long = -1L): Unit =
    StreamQueries.withBatchCoalesce(s) {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(root + "/src/*")
        .writeStream
        .foreachBatch(onBatch(s, name, root, front,
          compactAtBatch = compactAtBatch, foldIndexAtBatch = foldIndexAtBatch,
          crashAtBatch = crashAtBatch) _)
        .option("checkpointLocation", root + "/chk")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

  /** The gates' output projection over the survivors store (the columns
    * the shared oracles pin; the full suite adds the PII flag and the
    * redacted text's md5).
    */
  def out(s: SparkSession, root: String, front: Front): DataFrame =
    StateStore.read(s, root + "/store").select(
      Seq(col("doc_id"), col("shard"), col("pred_lang"), col("n_ws_tokens"),
        Q.r6(col("quality_score")).as("quality_score")) ++
        (if (front == Base) Nil
         else Seq(col("has_pii"), md5(col("text")).as("redacted_md5"))): _*)
}
