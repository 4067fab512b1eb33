package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact hash dedup,
  * MinHash+LSH near-dup, SimHash near-dup, and n-gram Jaccard verification.
  *
  * Scale design (the point of doing this on Spark):
  *  - exact dedup is ONE shuffle on a 128-bit content hash — never on the
  *    text itself (hash first, shuffle 16 bytes/row, not documents);
  *  - MinHash signatures and band keys are computed map-side inside the scan
  *    stage (pure expressions); the only shuffle is the self-join on
  *    (band, band_key), whose fan-out is bounded by bucket size — hot
  *    buckets (boilerplate docs) are the skew risk, handled by AQE skew
  *    join at runtime;
  *  - candidate verification (exact Jaccard / Hamming) touches only the
  *    candidate pairs, never all O(n²) pairs.
  *
  * The cross-engine hash primitive is md5 (identical hex output on any
  * engine), so every step is oracle-checkable; xxhash64 would be faster but
  * engine-specific.
  */
object Dedup {

  /** Canonical content normalization before exact hashing. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Exact dedup annotation: per doc, its content hash, the size of its
    * identical-content group, the canonical (min) doc id, and whether this
    * row would be dropped by keep-first dedup.
    *
    * @param partCols dedup SCOPE columns (e.g. source/crawl): identical
    *        content in different scopes is NOT a duplicate — the standard
    *        "dedupe within a source, keep across sources" rule. Empty =
    *        corpus-global dedup.
    */
  def exactDupAnnotate(docs: DataFrame, idCol: String, textCol: String,
                       partCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(("content_hash" +: partCols).map(col): _*)
    docs
      .withColumn("content_hash", md5(normalized(col(textCol))))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_dup", col(idCol) > col("canonical_id"))
  }

  /** MinHash signature over word-n-gram shingles: sig[s] is the
    * lexicographic min of md5(s ++ ":" ++ shingle) — k independent
    * permutation approximations, all computed in one projection.
    * (Column-expression form; the scan path [[lshCandidates]] uses the
    * cheaper universal-hash permutations below.)
    */
  def minhashSignature(toks: Column, shingleN: Int, k: Int): Column = {
    val sh = TextOps.shingles(toks, shingleN)
    transform(sequence(lit(0), lit(k - 1)),
      s => array_min(transform(sh, x => md5(concat(s.cast("string"), lit(":"), x)))))
  }

  /** Mersenne prime 2^61−1: (a·h + b) mod P with a, h < 2^31 stays inside
    * a signed 64-bit long — exact on Spark and DuckDB alike.
    */
  val minhashP: Long = 2305843009213693951L

  /** Deterministic 31-bit universal-hash coefficient for permutation `s`
    * (md5-seeded; tag "a" coefficients are forced odd ⇒ nonzero).
    */
  def minhashCoef(tag: String, s: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag:$s".getBytes("UTF-8"))
    val v = ((h(0) & 0xffL) << 24 | (h(1) & 0xffL) << 16 |
      (h(2) & 0xffL) << 8 | (h(3) & 0xffL)) & 0x7fffffffL
    if (tag == "a") v | 1L else v
  }

  /** (band, band_key) rows for LSH banding: k = bands × rowsPerBand; docs
    * agreeing on any full band become candidates.
    */
  def bandRows(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        md5(concat_ws("|", slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand)))).as("band_key")))

  /** LSH candidate pairs (a < b).
    *
    * Execution shape: the whole signature — k universal-hash minima over
    * the shingle set, banded into "band:md5(minima)" bucket keys — rides
    * the MAP side as the native codegen'd
    * [[graft.functions.MinhashBuckets]] expression (one generated loop per
    * doc), so the ONLY shuffle is |docs| × bands bucket rows. The previous
    * form exploded doc × shingle rows through a k-column hash aggregate;
    * its map-side combine already kept that shuffle small, so the rework
    * is mostly a PLAN simplification (one implementation shared with the
    * streaming twin, one fewer wide aggregate; ~20% on the 1.5M-doc
    * fixture of the SYM_SCALING `doc_scaling` lines at 32 cores, within box
    * noise) — the structural point is
    * that batch and stream now band through literally the same expression.
    * Bucket keys are bit-identical across the twins — gate-, spec- and
    * property-pinned. Buckets then emit their pairs directly
    * (`collect_list` over same-key groups — bucket size is the designed
    * skew bound).
    *
    * Permutations are universal hashes (a_s·h + b_s) mod (2^61−1) over ONE
    * md5 per shingle (31-bit prefix) — k integer ops replace k md5 string
    * hashes per shingle.
    *
    * @param maxBucket buckets larger than this are dropped as
    *        non-discriminative (boilerplate/templated corpora): a bucket of
    *        size m emits m(m−1)/2 pairs, so one mega-bucket can dominate the
    *        whole job. Capped docs still pair through their other bands.
    *        Default unbounded (exact banding semantics).
    */
  /** Shared LSH bucket build: (bucket, sorted member ids) for every
    * multi-member band bucket within the size cap. The per-doc signature
    * rides the map side as the native codegen'd
    * [[graft.functions.MinhashBuckets]] expression; the only shuffle is
    * |docs| × bands bucket rows.
    */
  /** (id, bucket) band-key rows — the map-side LSH banding shared by pair
    * emission and cluster assignment.
    */
  private def lshBandRows(docs: DataFrame, idCol: String, toksCol: String,
                          shingleN: Int, k: Int, bands: Int): DataFrame =
    // repartition first: a small corpus arrives as one parquet split, which
    // would serialize the per-doc hash fan-out into a single task; the
    // shuffled payload is just the raw docs, cheap relative to the k·|sh|
    // work it parallelizes.
    docs.repartition(col(idCol))
      .select(col(idCol).as("id"),
        explode(graft.functions.MinhashBuckets.minhashBucketsExpr(
          TextOps.shingles(col(toksCol), shingleN), k, bands)).as("bucket"))

  private def lshBuckets(docs: DataFrame, idCol: String, toksCol: String,
                         shingleN: Int, k: Int, bands: Int,
                         maxBucket: Int): DataFrame =
    // the bucket string embeds the band index, so grouping by it is the
    // (band, band_key) grouping of the previous form
    lshBandRows(docs, idCol, toksCol, shingleN, k, bands)
      .groupBy("bucket")
      .agg(sort_array(collect_list("id")).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)

  def lshCandidates(docs: DataFrame, idCol: String, toksCol: String,
                    shingleN: Int, k: Int, bands: Int,
                    maxBucket: Int = Int.MaxValue): DataFrame = {
    val buckets = lshBuckets(docs, idCol, toksCol, shingleN, k, bands, maxBucket)
    buckets
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids")) - i - 1),
          b => struct(a.as("id_a"), b.as("id_b"))))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** MinHash-LSH cluster assignment WITHOUT pair materialization — the
    * form large-scale corpus dedup actually runs (C4/Pile/BigCode-style:
    * bucket-level union-find, no verify step). A bucket of m docs links its
    * members in a STAR to its minimum id — m−1 edges instead of the
    * m(m−1)/2 candidate pairs — and connected components over the union of
    * all bucket stars yields exactly the same clusters as components over
    * [[lshCandidates]] output (within a bucket, star and clique have the
    * same connectivity; across buckets both union the same groups).
    *
    * That identity is the scale point: a boilerplate mega-bucket of 100k
    * docs contributes 100k−1 edges here vs ~5·10⁹ pairs there, so cluster
    * assignment stays LINEAR in corpus size even under template skew, and
    * `maxBucket` becomes optional rather than load-bearing. Use this when
    * the decision is keep/drop per doc; use [[lshCandidates]] +
    * [[jaccardVerify]] when per-pair similarity scores are the product.
    *
    * The stars are built with a per-bucket min + join back — never a
    * per-bucket collected array (a mega-bucket's member list in one row is
    * exactly the OOM this path exists to avoid); the mega-bucket's edges
    * spread across all tasks holding its band rows.
    *
    * @return (id, component) for every doc that shares ≥1 bucket;
    *         docs in no multi-member bucket are absent (singletons).
    */
  def lshClusters(docs: DataFrame, idCol: String, toksCol: String,
                  shingleN: Int, k: Int, bands: Int,
                  maxBucket: Int = Int.MaxValue): DataFrame = {
    // persisted: consumed by the bucket-stats aggregate AND the edge join —
    // without this the k·|shingles| md5 signature work (the dominant
    // per-doc cost) runs twice
    val br = lshBandRows(docs, idCol, toksCol, shingleN, k, bands)
      .persist(graft.Conf.storageLevel)
    val stats = br.groupBy("bucket")
      .agg(min(col("id")).as("min_id"), count(lit(1)).as("n"))
      .where(col("n") > 1 && col("n") <= maxBucket)
      .select("bucket", "min_id")
    val edges = br.join(stats, "bucket")
      .where(col("id") =!= col("min_id"))
      .select(col("min_id").as("id_a"), col("id").as("id_b"))
      .distinct()
    // connectedComponents materializes its own persisted edge union and
    // localCheckpoints the labels, so the band rows are dead weight after it
    val comp = connectedComponents(edges)
    br.unpersist(blocking = false)
    comp
  }

  /** Exact n-gram Jaccard for candidate pairs: join each side's token
    * array to the pair rows, shingle there and compute |∩| / |∪|. Only
    * candidate pairs pay this cost: a doc that appears in no pair is never
    * shingled, so the corpus-wide cost of the verify stage is one column
    * scan of `(id, toks)`, not a re-shingling of every document.
    *
    * `pairs` is read ONCE (both joins hang off the same pair rows), so a
    * candidate subtree upstream (band rows → bucket join → distinct) is
    * planned once, not once per consumer as with a separate id set.
    * `docs` is one projection that both joins share: when Spark exchanges
    * or broadcasts the docs side, the second join reuses that exchange
    * and docs is scanned once. No forced broadcast: neither side is
    * provably bounded, so AQE broadcasts whichever is small at runtime
    * and the joins otherwise degrade to shuffles instead of an OOM.
    */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                    toksCol: String, shingleN: Int): DataFrame = {
    val d = docs.select(col(idCol), col(toksCol))
    pairs
      .join(d.toDF("id_a", "toks_a"), "id_a")
      .join(d.toDF("id_b", "toks_b"), "id_b")
      .withColumn("sh_a", TextOps.shingles(col("toks_a"), shingleN))
      .withColumn("sh_b", TextOps.shingles(col("toks_b"), shingleN))
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  /** Incremental (delta-vs-base) near-dup detection: which NEW docs
    * duplicate the EXISTING corpus — the asymmetric join an ingest
    * pipeline runs instead of re-deduplicating everything: delta band
    * rows join base band rows only (no delta×delta, no base×base), then
    * exact Jaccard verifies the candidates. Cost scales with |delta| ×
    * bands + candidate count, independent of |base| beyond the band-key
    * join — and the base side's band rows are exactly what a stored
    * dedup index holds: [[writeLshIndex]] materializes them as a bucketed
    * Store table and [[incrementalLshPairsFrom]] probes it, so at 100 TB
    * an ingest batch reads the index, not the corpus (this overload
    * recomputes base bands inline — the one-shot form).
    * Identical docs share every band, so exact dups surface with
    * jaccard 1 — no separate hash pass needed for completeness (a hash
    * fast path is an optimization, not a semantic change).
    *
    * @param maxBucket cap on BASE bucket size: a boilerplate mega-bucket
    *        in the historical corpus otherwise fans every matching delta
    *        doc out m ways. Capped buckets still match through their
    *        other bands.
    * @return (id_a = delta id, id_b = base id, n_common, jaccard) for
    *         candidates with jaccard ≥ threshold.
    */
  def incrementalLshPairs(base: DataFrame, delta: DataFrame, idCol: String,
                          toksCol: String, shingleN: Int, k: Int, bands: Int,
                          threshold: Double,
                          maxBucket: Int = Int.MaxValue): DataFrame =
    incrementalLshPairsFrom(
      lshBandRows(base, idCol, toksCol, shingleN, k, bands)
        .withColumnRenamed("id", "base_id"),
      base, delta, idCol, toksCol, shingleN, k, bands, threshold, maxBucket)

  /** [[incrementalLshPairs]] against an ALREADY-MATERIALIZED base band
    * index `baseBands` (columns `bucket`, `base_id`) — the write-once/
    * read-many ingest shape: the historical corpus's k·|shingles| signature
    * work happened at index-build time ([[writeLshIndex]]), so a delta
    * probe reads band ROWS, not base text. The base text is read as one
    * `(id, toks)` column scan joined to the candidate pairs, and only
    * candidate docs (the ids that actually share a bucket with the delta)
    * are shingled for the exact-Jaccard verify ([[jaccardVerify]]).
    */
  def incrementalLshPairsFrom(baseBands: DataFrame, base: DataFrame,
                              delta: DataFrame, idCol: String,
                              toksCol: String, shingleN: Int, k: Int,
                              bands: Int, threshold: Double,
                              maxBucket: Int = Int.MaxValue): DataFrame = {
    val db = lshBandRows(delta, idCol, toksCol, shingleN, k, bands)
    val bb =
      if (maxBucket == Int.MaxValue) baseBands
      else baseBands.join(
        baseBands.groupBy("bucket").agg(count(lit(1)).as("__bs"))
          .where(col("__bs") <= maxBucket).drop("__bs"),
        Seq("bucket"))
    val cand = db.join(bb, Seq("bucket"))
      .select(col("id").as("id_a"), col("base_id").as("id_b"))
      .distinct()
    jaccardVerify(cand, base.unionByName(delta), idCol, toksCol, shingleN)
      .where(col("jaccard") >= threshold)
  }

  /** Materialize a corpus's LSH band rows as a bucketed Store table — the
    * dedup twin of `Similarity.ivfIndexWrite`: index = LAYOUT. Band rows
    * are written `bucketBy(bucket)` so a later delta probe's equi-join on
    * `bucket` reads the stored hash distribution from the catalog and
    * plans with zero Exchange on the index side, and `sortBy(bucket)`
    * keeps each bucket's rows contiguous inside its files. At 100 TB the
    * historical index is appended per ingest batch ([[appendLshIndex]])
    * and the corpus text is never re-shingled.
    */
  /** @param srcBatch when set, every band row carries a `src_batch`
    *        column (day-0 convention: -1). A foreachBatch pipeline that
    *        publishes with [[appendLshIndexIdempotent]] then probes
    *        AS-OF with `where(src_batch < batchId)` — a scan-stage
    *        predicate, no shuffle — so a replayed batch can never match
    *        its own crash-published bands (self-jaccard = 1 would mark
    *        every replayed doc a duplicate of itself).
    */
  def writeLshIndex(base: DataFrame, idCol: String, toksCol: String,
                    shingleN: Int, k: Int, bands: Int,
                    table: String, path: String, buckets: Int = 32,
                    srcBatch: Option[Long] = None): Unit = {
    val rows = lshBandRows(base, idCol, toksCol, shingleN, k, bands)
      .withColumnRenamed("id", "base_id")
    graft.sources.Store.saveBucketed(
      srcBatch.fold(rows)(b => rows.withColumn("src_batch", lit(b))),
      table, path, buckets, Seq("bucket"), Seq("bucket", "base_id"))
  }

  /** Append one ingest batch's band rows to an EXISTING stored index —
    * the write-once/append-many lifecycle: each arriving batch first
    * probes the index ([[incrementalLshPairsFrom]]), then appends its own
    * bands so the next batch sees it. The append reuses the table's
    * bucket spec (same hash distribution, new files per bucket), so probe
    * joins keep planning Exchange-free on the index side; periodic
    * [[graft.sources.Store.compact]]-style file compaction bounds the
    * file count, exactly as for the trades store. `buckets` must match
    * the table's existing spec — Spark's `saveAsTable` append rejects a
    * mismatch loudly rather than silently corrupting the distribution.
    */
  def appendLshIndex(batch: DataFrame, idCol: String, toksCol: String,
                     shingleN: Int, k: Int, bands: Int,
                     table: String, buckets: Int = 32): Unit =
    lshBandRows(batch, idCol, toksCol, shingleN, k, bands)
      .withColumnRenamed("id", "base_id")
      // one file per bucket per append, not per (task × bucket) — same
      // clustering rationale as Store.saveBucketed
      .repartition(buckets, col("bucket"))
      .write
      .bucketBy(buckets, "bucket")
      .sortBy("bucket", "base_id")
      .mode("append")
      .format("parquet")
      .saveAsTable(table)

  /** REPLAY-IDEMPOTENT batch append into a stored band index — closes the
    * one double-append window [[appendLshIndex]] leaves in a foreachBatch
    * loop: plain append-mode `saveAsTable` re-appends the whole batch when
    * a crash lands between the append and the checkpoint commit, silently
    * duplicating band rows (a duplicated band inflates its doc into every
    * later candidate set). Protocol, per batch:
    *
    *  1. STAGE the batch's band rows as a batch-scoped bucketed table
    *     (same bucket spec — bucket ids depend only on the column hash
    *     and count, so staged file names carry the right `_NNNNN` bucket
    *     tags) — `saveBucketed` overwrites, so a replay re-stages
    *     identically;
    *  2. DELETE any `b<batchId>_*` files in the index dir — sweeps every
    *     file a previous (crashed) publish of THIS batch moved in;
    *  3. RENAME each staged file into the index dir under the
    *     deterministic `b<batchId>_<stagedName>` prefix (Spark's bucket-id
    *     filename parse anchors at the `_NNNNN` suffix, so the prefix is
    *     transparent), then drop the staging table.
    *
    * A crash at ANY point replays to exactly one copy of the batch's
    * bands: re-staging is overwrite, step 2 removes partial or complete
    * prior publishes, step 3 re-moves the fresh staging. Single-writer
    * (the foreachBatch loop) like every state publish in the pipeline;
    * readers in OTHER batches see the flip at their `refreshTable`.
    */
  def appendLshIndexIdempotent(batch: DataFrame, idCol: String,
                               toksCol: String, shingleN: Int, k: Int,
                               bands: Int, table: String, indexPath: String,
                               batchId: Long, buckets: Int = 32): Unit = {
    val spark = batch.sparkSession
    val stageTable = s"${table}__stage_b$batchId"
    val stagePath = s"${indexPath}__stage_b$batchId"
    // src_batch rides every published band row so probes can read AS-OF
    // (see writeLshIndex's srcBatch doc); against a table created without
    // the column it is ignored at read time (table schema wins)
    graft.sources.Store.saveBucketed(
      lshBandRows(batch, idCol, toksCol, shingleN, k, bands)
        .withColumnRenamed("id", "base_id")
        .withColumn("src_batch", lit(batchId)),
      stageTable, stagePath, buckets, Seq("bucket"), Seq("bucket", "base_id"))
    val idxP = new org.apache.hadoop.fs.Path(indexPath)
    val fs = idxP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(idxP)
      .filter(f => f.isFile && f.getPath.getName.startsWith(s"b${batchId}_"))
      .foreach(f => fs.delete(f.getPath, false))
    val stageP = new org.apache.hadoop.fs.Path(stagePath)
    fs.listStatus(stageP)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        graft.sources.StateStore.checkedRename(fs, f.getPath,
          new org.apache.hadoop.fs.Path(idxP, s"b${batchId}_${f.getPath.getName}"))
      }
    spark.sql(s"DROP TABLE IF EXISTS $stageTable")
    fs.delete(stageP, true)
    spark.catalog.refreshTable(table)
  }

  /** IN-STREAM committed-batch fold of a stored band index — the
    * file-count lifecycle for [[appendLshIndexIdempotent]]'s per-batch
    * publishes (r13 verdict #2: `b<batch>_*` files otherwise accumulate
    * in the index dir forever — the listing/footer bottleneck
    * [[graft.sources.StateStore.compact]] solves for state dirs, reborn
    * in the index). Called at a batch's ENTRY inside foreachBatch with
    * `uptoBatch = batchId - 1`: every batch ≤ that id has a durable
    * checkpoint commit, so none can replay — folding their files can
    * never race a replayed publish's delete-by-`b<id>_` sweep, and the
    * `src_batch` column rides each ROW, so the folded rows keep
    * answering the as-of probes (`src_batch < batchId` is a scan
    * predicate on data, not a filename convention).
    *
    * Protocol: (1) re-bucket the foldable files (batch files with id ≤
    * `uptoBatch`, plus prefix-less day-0 files and `cmpct_*` previous
    * generations — all committed by construction) into a staging table
    * with the index's own bucket spec — bucket ids depend only on the
    * column hash and count, so staged files carry the right `_NNNNN`
    * tags; (2) publish through [[graft.sources.Store.publishCompaction]]
    * — the two-journal swap whose every-mutating-op fault grid is proven
    * in StoreSpec — moving staged files in under `cmpct_<run>_` names
    * (never collides with a `b<id>_` sweep) and deleting the folded
    * originals. [[graft.sources.Store.recoverCompaction]] at entry
    * self-heals any crashed prior fold before the batch's probes read.
    * Single-writer like every state publish here.
    *
    * @return (foldedFiles, filesAfter) — (0, n) when fewer than
    *         `minFiles` qualify.
    */
  def foldLshIndexBatches(spark: org.apache.spark.sql.SparkSession,
                          table: String, indexPath: String, uptoBatch: Long,
                          buckets: Int = 32, minFiles: Int = 8): (Int, Int) = {
    graft.sources.Store.recoverCompaction(spark, indexPath)
    val idxP = new org.apache.hadoop.fs.Path(indexPath)
    val fs = idxP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bPat = "^b(-?\\d+)_".r
    def parquetFiles() = fs.listStatus(idxP)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val fold = parquetFiles().filter { f =>
      bPat.findFirstMatchIn(f.getPath.getName) match {
        case Some(m) => m.group(1).toLong <= uptoBatch
        case None => true // day-0 write or a previous generation's cmpct_*
      }
    }
    if (fold.length < minFiles) return (0, parquetFiles().length)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val stagePath = s"$indexPath/_compact_tmp_$runId"
    val stageTable = s"${table}__fold_stage"
    graft.sources.Store.saveBucketed(
      spark.read.parquet(fold.map(_.getPath.toString).toIndexedSeq: _*),
      stageTable, stagePath, buckets, Seq("bucket"), Seq("bucket", "base_id"))
    graft.sources.Store.publishCompaction(fs, idxP, idxP,
      new org.apache.hadoop.fs.Path(stagePath),
      fold.map(_.getPath.toString).toIndexedSeq, runId)
    spark.sql(s"DROP TABLE IF EXISTS $stageTable")
    spark.catalog.refreshTable(table)
    (fold.length, parquetFiles().length)
  }

  /** The stored index's tombstone table name — one per index table. */
  def lshTombstoneTable(table: String): String = s"${table}__tombstones"

  /** DELETE documents from a stored band index — the takedown lifecycle a
    * real LLM corpus runs (DMCA/PII removals): O(|ids|) appended tombstone
    * rows, NOT an index rewrite. [[activeLshIndex]] consults the tombstone
    * table at probe time, so removed docs stop surfacing as `base_id`s
    * immediately; [[compactLshIndex]] later folds tombstones into a
    * physical rewrite. Idempotent (re-deleting an id is a no-op set-wise;
    * `distinct` keeps the tombstone table minimal per call).
    */
  def deleteFromLshIndex(ids: DataFrame, idCol: String, table: String): Unit =
    ids.select(col(idCol).cast("long").as("base_id")).distinct()
      .write.mode("append").format("parquet")
      .saveAsTable(lshTombstoneTable(table))

  /** The stored band index MINUS tombstoned documents — what every probe
    * should read. No tombstone table (nothing ever deleted) → the raw
    * index, zero overhead. With tombstones: a left-anti join on `base_id`
    * whose build side is the (takedown-sized, compaction-bounded)
    * tombstone set — AQE broadcasts it at any realistic size, so the
    * index side keeps its bucketed zero-Exchange scan (StoreSpec pins the
    * executed plan).
    */
  def activeLshIndex(spark: org.apache.spark.sql.SparkSession,
                     table: String): DataFrame = {
    val idx = spark.table(table)
    if (!spark.catalog.tableExists(lshTombstoneTable(table))) idx
    else idx.join(spark.table(lshTombstoneTable(table)),
      Seq("base_id"), "left_anti")
  }

  /** Fold tombstones into a physical rewrite: the active rows land as a
    * FRESH bucketed table (same layout as [[writeLshIndex]]). `newTable`
    * must differ from `table` — Spark cannot atomically rewrite a table
    * it is scanning (the path wipe would race the read); production
    * swaps the reader over by name (view/catalog rename), the same
    * versioned-swap every large-scale index rebuild uses.
    *
    * The OLD table's tombstones stay intact (mirroring
    * [[graft.ml.Similarity.ivfCompact]]): until the reader swap lands,
    * probes still hit the old name, and dropping tombstones here would
    * make [[activeLshIndex]](old) revert to the raw index — taken-down
    * (PII/DMCA) docs would resurface in that window. Call
    * [[dropLshTombstones]] on the old table AFTER the swap.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
                      table: String, newTable: String, path: String,
                      buckets: Int = 32): Unit = {
    require(newTable != table,
      "compactLshIndex rewrites into a NEW table (versioned swap)")
    graft.sources.Store.saveBucketed(activeLshIndex(spark, table),
      newTable, path, buckets, Seq("bucket"), Seq("bucket", "base_id"))
  }

  /** Post-swap cleanup: drop the old index's tombstone table once no
    * reader resolves the old name. Separate from [[compactLshIndex]] so
    * taken-down docs can never resurface between compact and swap.
    */
  def dropLshTombstones(spark: org.apache.spark.sql.SparkSession,
                        table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${lshTombstoneTable(table)}")

  /** Quality-prioritized canonical selection over near-dup clusters — the
    * keep decision production corpus dedup ships (keep the BEST document
    * of each cluster, not the smallest id; cf. CCNet/Gopher-style
    * pipelines that rank duplicates by quality before dropping).
    *
    * `scored` carries one row per document (`idCol`, `scoreCol`); `comp`
    * is [[connectedComponents]] output (`id`, `component`) — docs absent
    * from `comp` are singletons and keep themselves. Within a cluster the
    * kept doc is argmax(score) with ascending-id tie-break (exact
    * duplicates score identically, so the tie-break fires routinely).
    * One first_value window over the cluster-partitioned shuffle — no
    * driver collection, cluster count never materializes anywhere.
    *
    * @return (idCol, cluster_id, kept_id, keep) — `keep` marks the one
    *         survivor per cluster.
    */
  def keepBest(scored: DataFrame, comp: DataFrame, idCol: String,
               scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    scored.select(col(idCol), col(scoreCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), col(scoreCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
      .withColumn("kept_id", first(col(idCol)).over(w))
      .select(col(idCol), col("cluster_id"), col("kept_id"),
        (col(idCol) === col("kept_id")).as("keep"), col(scoreCol))
  }

  /** EXACT n-gram Jaccard similarity self-join: every pair with
    * J(sh(a), sh(b)) ≥ threshold, no approximation — the deterministic
    * sibling of [[lshCandidates]] (which trades exactness for a fixed
    * signature cost).
    *
    * Scale shape (AllPairs/PPJoin prefix filtering, Bayardo et al. WWW'07;
    * reference has no equivalent — this is pipeline-scale surface):
    * brute force is O(n²) in documents; instead each doc sorts its shingle
    * set by GLOBAL document frequency (rarest first, shingle string
    * tie-break) and emits only its first |sh| − ⌈t·|sh|⌉ + 1 shingles as
    * join keys — any pair with J ≥ t provably shares one of these prefix
    * keys, so the candidate join touches rare shingles almost exclusively
    * (a shingle shared by half the corpus never lands in a prefix unless a
    * doc is nearly all boilerplate). Candidates then pay one exact
    * [[jaccardVerify]]; a length filter (J ≥ t ⟹ t·|a| ≤ |b| ≤ |a|/t)
    * prunes before the verify join.
    *
    * Shuffles: shingle document-frequency groupBy, the df join back onto
    * the exploded shingles (both corpus-scaled but row-narrow: (id, hash)
    * pairs), the per-doc regroup, the prefix-key self-join, and the verify
    * joins — all equi-joins/aggregations on keys Catalyst shuffles
    * hash-partitioned; nothing is ever all-pairs. The per-doc shingle sets
    * are computed ONCE and persisted at [[graft.Conf.storageLevel]]
    * (MEMORY_AND_DISK locally, DISK_ONLY at TB scale) — the df pass, the
    * prefix pass and the verify stage all read that one layout instead of
    * re-shingling the corpus three times.
    *
    * threshold must be exactly representable in binary (0.5, 0.25, …) so
    * ⌈t·|sh|⌉ is exact integer arithmetic on every engine — enforced.
    * A corpus with a near-identical boilerplate mega-cluster has a
    * QUADRATIC true answer here (every template pair clears the
    * threshold) — no pair-listing algorithm beats that; route keep/drop
    * decisions on such corpora through [[lshClusters]] instead.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, toksCol: String,
                        shingleN: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    require(math.ceil(threshold * 64) == threshold * 64,
      s"threshold must be an exact binary fraction (k/64), got $threshold")
    val sh = docs.repartition(col(idCol))
      .select(col(idCol).as("id"),
        TextOps.shingles(col(toksCol), shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      .persist(graft.Conf.storageLevel)
    val ex = sh.select(col("id"), explode(col("sh")).as("s"))
    val df = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // rarest-first canonical order; prefix = the shingles a matching pair
    // MUST share at least one of (both-side probe-prefix form)
    val prefix = ex.join(df, "s")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ord"))
      .select(col("id"), size(col("ord")).as("m"),
        slice(col("ord"), lit(1),
          (size(col("ord")) - ceil(lit(threshold) * size(col("ord"))) + 1)
            .cast("int")).as("pre"))
      .select(col("id"), col("m"), explode(col("pre.s")).as("s"))
    val cand = prefix.as("l")
      .join(prefix.as("r"),
        col("l.s") === col("r.s") && col("l.id") < col("r.id") &&
          col("l.m") * threshold <= col("r.m") &&
          col("r.m") * threshold <= col("l.m"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    // verify against the SAME persisted shingle layout (no re-shingling)
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .select("id_a", "id_b", "n_common", "jaccard")
      .where(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected pair list — the "which doc
    * survives" step of a dedup pipeline: near-dup PAIRS (from
    * [[ngramJaccardPairs]], [[lshCandidates]]+verify, or
    * [[simhashPairs]]) become per-doc cluster assignments, so keep-first
    * dedup can drop everything but each cluster's canonical doc.
    *
    * Min-label propagation WITH pointer jumping: every vertex starts as
    * its own label; each round (1) labels flow across edges and each
    * vertex keeps the minimum seen, then (2) every vertex shortcuts to
    * its label's label (lbl ← min(lbl, lbl(lbl)) — valid because lbl(v)
    * is always a same-component vertex, so lbl(lbl(v)) is too). The
    * shortcut halves remaining chain distance per round, so convergence
    * is O(log diameter) instead of O(diameter) — a 10⁶-long dup chain
    * converges in ~20 rounds and the default `maxIter` 30 (guarding
    * 2³⁰-diameter graphs) can never silently return unconverged labels
    * on a real corpus; near-dup graphs (star/clique-shaped) still take
    * 2-3. Each round is two joins + one groupBy(min) on (vertex, label)
    * longs; checkpointing truncates the per-round lineage so the plan
    * does not grow with iterations.
    *
    * Cluster durability & driver round-trips: with
    * `SPARK_GRAFT_CHECKPOINT_DIR` set ([[graft.Conf.checkpointDir]]) each
    * round's labels go through a RELIABLE `Dataset.checkpoint` (persisted
    * first so the checkpoint write reads the cache instead of recomputing
    * the round) and survive executor loss — `localCheckpoint` blocks
    * don't, which on a 100 TB run turns one lost executor into a
    * job-killer. The convergence check rides a `LongAccumulator` filled
    * DURING the materialization pass, so the driver issues ONE action per
    * round, not checkpoint + count. Accumulator double-counting on task
    * retry is harmless here: the label step is deterministic, so any
    * nonzero count — however inflated — means a real change, and zero is
    * exact (every partition ran at least once and added its true count).
    *
    * @return (id, component) — component = min vertex id reachable.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    // one checkpoint round: reliable (fault-tolerant dir) when configured,
    // executor-local otherwise. Reliable rounds each get their OWN subdir
    // and the PREVIOUS round's files are deleted once the new snapshot
    // lands (truncated lineage makes round k depend only on round k's
    // files) — a 100 TB run would otherwise accumulate ~rounds ×
    // label-table snapshots for the job's whole life
    // (spark.cleaner.referenceTracking.cleanCheckpoints is off by default
    // and reliable checkpoints survive the JVM). The LAST round's subdir
    // intentionally remains: it backs the returned frame. NOTE: reliable
    // mode mutates the SparkContext-global checkpoint dir per round —
    // serialize concurrent connectedComponents calls in that mode (the
    // per-call cc_<uuid> prefix keeps their FILES apart either way).
    // TIERED EXECUTION: the edge set of a dedup graph is METADATA-sized —
    // it holds duplicate PAIRS, not documents (star clustering emits m−1
    // edges per bucket), so even a 100 TB corpus's near-dup graph is
    // typically 10⁶-10⁸ edges, and gate/bench-scale graphs are 10²-10⁵.
    // Below `spark.graft.cc.driverMaxEdges` (default 2e6, an EXPLICIT
    // bound — this is not a collect on unbounded data) the whole
    // computation is a driver-side union-find: one count + one bounded
    // collect instead of 2-4 checkpointed join rounds, ~10-20× faster at
    // bench scale and bit-identical (union-by-min-root + path compression
    // yields component = min reachable id, the same fixpoint). Above the
    // bound, the distributed pointer-jumping loop below handles graphs of
    // any size.
    val eps = edges.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .persist(graft.Conf.storageLevel)
    val driverMax = sys.props.get("spark.graft.cc.driverMaxEdges")
      .map(_.toLong).getOrElse(2000000L)
    val driverLocalMaxLabels =
      sys.props.get("spark.graft.cc.localRelationMaxLabels")
        .map(_.toInt).getOrElse(100000)
    val nEdges = eps.count()
    if (nEdges <= driverMax) {
      import spark.implicits._
      val es = eps.as[(Long, Long)].collect()
      eps.unpersist(blocking = false)
      val parent = new scala.collection.mutable.LongMap[Long](
        math.max(16, es.length * 2))
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        // union by MIN root: the surviving root is always the smaller
        // vertex id, so every final root IS its component's min id
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val verts = new scala.collection.mutable.LongMap[Unit](
        math.max(16, es.length * 2))
      es.foreach { case (a, b) => verts(a) = (); verts(b) = () }
      Dedup.lastCcRounds = 0
      // distribute the result, SIZED: below `driverLocalMaxLabels` the
      // label set rides as a LocalRelation — a few hundred KB on the plan
      // tree, and the planner keeps its EXACT size stats so the downstream
      // labels join broadcasts for free (gate/bench-scale graphs are
      // 10²-10⁵ labels). Near the 2e6-edge bound the set is ~4M tuples —
      // tens of MB that would ride EVERY downstream serialized plan — so
      // above the threshold it becomes an RDD-backed Dataset living once
      // on the executors like any other relation.
      val pairs = verts.keysIterator.map(v => (v, find(v))).toArray
      if (pairs.length <= driverLocalMaxLabels) {
        return spark.createDataset(pairs.toIndexedSeq).toDF("id", "component")
      }
      val nParts = math.min(32, 1 + pairs.length / 250000)
      return spark.createDataset(
          spark.sparkContext.parallelize(pairs.toIndexedSeq, nParts))
        .toDF("id", "component")
    }
    var prevCkptSub: Option[org.apache.hadoop.fs.Path] = None
    var roundNo = 0
    // the SparkContext checkpoint dir is GLOBAL state: remember the
    // caller's setting so convergence can put it back (round-7 advice —
    // leaving it pointed at cc_<uuid>/round_<last> silently redirected any
    // later checkpoint user under our private subdir)
    val priorCkptDir = spark.sparkContext.getCheckpointDir
    lazy val ccRunDir = graft.Conf.checkpointDir.map(d =>
      s"$d/cc_${java.util.UUID.randomUUID().toString.take(8)}")
    def ckpt(df: DataFrame): DataFrame = ccRunDir match {
      case Some(run) =>
        val sub = new org.apache.hadoop.fs.Path(s"$run/round_$roundNo")
        roundNo += 1
        spark.sparkContext.setCheckpointDir(sub.toString)
        df.persist(graft.Conf.storageLevel)
        val out = df.checkpoint()
        df.unpersist(blocking = false)
        prevCkptSub.foreach { p =>
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
        prevCkptSub = Some(sub)
        out
      case None => df.localCheckpoint()
    }
    // long vertex ids throughout (the typed convergence map depends on it;
    // every caller's ids are integral)
    val und = eps.toDF("src", "dst")
      .union(eps.toDF("d", "s").select(col("s").as("src"), col("d").as("dst")))
      .persist()
    // seed labels one propagation step ahead: lbl₀ = min(self, neighbors)
    // — one groupBy instead of distinct + an identity round, and small
    // graphs converge one full iteration (3 joins + checkpoint) earlier.
    // Valid because any start ≥ the component min that only decreases
    // reaches the same fixpoint.
    var labels = ckpt(und.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("lbl")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val incoming = und.join(labels, und("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("cand"))
      val stepped = labels.join(incoming, labels("id") === incoming("dst"), "left")
        .select(labels("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("cand"), col("lbl"))).as("slbl"))
      // pointer jump: follow my label's label (labels are vertex ids, so
      // the hop is a self-join; min keeps monotonicity)
      val hop = stepped.select(col("id").as("h_id"), col("slbl").as("h_lbl"))
      val next = stepped.join(hop, stepped("slbl") === hop("h_id"), "left")
        .select(stepped("id"), col("prev"),
          least(col("slbl"), coalesce(col("h_lbl"), col("slbl"))).as("nlbl"))
      // fold the convergence count into the materialization itself: the
      // narrow typed map rides the checkpoint write (3 longs per row —
      // negligible next to the round's joins) and drops `prev` from the
      // checkpointed payload
      val acc = spark.sparkContext.longAccumulator(s"cc_changed_$iter")
      import spark.implicits._
      val counted = next.as[(Long, Long, Long)].mapPartitions { it =>
        it.map { case (id, prev, nlbl) =>
          if (nlbl < prev) acc.add(1L)
          (id, nlbl)
        }
      }.toDF("id", "lbl")
      labels = ckpt(counted)
      changed = acc.value
      iter += 1
    }
    Dedup.lastCcRounds = iter
    // reliable mode: restore the caller's checkpoint dir (the final
    // round's files stay valid — checkpointed RDDs remember their own
    // path; the global dir only steers FUTURE checkpoint calls) and
    // expose the retained run dir so callers can delete it once the
    // returned frame is consumed or re-persisted. A caller that had NO
    // dir set gets UNSET restored too: setCheckpointDir wraps its
    // argument in Option(...), so null cleanly clears the global state
    // (probed on Spark 4.1 — the docs don't advertise it, the code does).
    if (ccRunDir.isDefined) {
      spark.sparkContext.setCheckpointDir(priorCkptDir.orNull)
      Dedup.lastCcCheckpointDir = ccRunDir
    }
    und.unpersist()
    eps.unpersist(blocking = false)
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** Diagnostics only: rounds the most recent [[connectedComponents]] call
    * on this driver took to converge (includes the final fixpoint-verify
    * round; 0 on the driver union-find tier). Read by DocSpec's tier
    * checks; the `cc_rounds` cells of the SYM_SCALING `doc_scaling` lines
    * record it at scale. Not part of any result.
    */
  @volatile var lastCcRounds: Int = 0

  /** The retained cc_<uuid> run dir of the most recent RELIABLE-mode
    * [[connectedComponents]] call — it backs that call's returned frame
    * (the final round's checkpoint files), so it cannot be deleted
    * eagerly. Callers that have fully consumed (or re-persisted) the
    * result delete it via this handle; None when reliable mode was never
    * used on this driver.
    */
  @volatile var lastCcCheckpointDir: Option[String] = None

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  private val hexDigits = "0123456789abcdef"

  /** 64-bit SimHash over (multiset) tokens, emitted as a 16-hex-char string.
    *
    * Token hash = first 16 hex chars of md5; per bit position the ±1
    * contributions are summed with a conditional aggregate (integer math —
    * exactly reproducible on any engine); sign of the sum is the output bit.
    * One explode + one groupBy(doc) shuffle; the 64 sums are a single
    * partial-aggregated pass.
    */
  def simhash(docs: DataFrame, idCol: String, toksCol: String): DataFrame = {
    // Repartition before the token explode for the same single-split
    // reason as [[lshCandidates]]; then reduce the 16-hex string to TWO
    // 32-bit ints once per token — the 64 per-bit sums are pure integer
    // shifts on those, keeping the generated aggregate small and fast.
    val tok = docs.repartition(col(idCol))
      .select(col(idCol).as("id"), explode(col(toksCol)).as("t"))
      .withColumn("h", md5(col("t")))
      .withColumn("hi", conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
      .withColumn("lo", conv(substring(col("h"), 9, 8), 16, 10).cast("long"))
    val withNibs = (0 until 16).foldLeft(tok) { (d, j) =>
      val src = if (j < 8) col("hi") else col("lo")
      d.withColumn(s"n$j", shiftright(src, 4 * (7 - (j % 8))).bitwiseAND(lit(15L)).cast("int"))
    }
    val sums = (0 until 64).map { b =>
      val j = b / 4; val s = 3 - (b % 4)
      sum(shiftright(col(s"n$j"), s).bitwiseAND(lit(1)) * 2 - 1).as(s"s$b")
    }
    val agg = withNibs.groupBy("id").agg(sums.head, sums.tail: _*)
    val hexArr = array(hexDigits.map(c => lit(c.toString)): _*)
    val nibChars = (0 until 16).map { j =>
      val nib = (0 until 4).map { i =>
        when(col(s"s${4 * j + i}") > 0, 1 << (3 - i)).otherwise(0)
      }.reduce(_ + _)
      element_at(hexArr, nib + 1)
    }
    agg.select(col("id"), concat(nibChars: _*).as("simhash"))
  }

  /** Hamming distance between two 16-hex-char SimHashes (pure expression):
    * two 32-bit halves per operand → XOR → popcount, instead of 16 per-nibble
    * string conversions per side.
    */
  def hammingHex(a: Column, b: Column): Column = {
    def half(c: Column, pos: Int) = conv(substring(c, pos, 8), 16, 10).cast("long")
    (bit_count(half(a, 1).bitwiseXOR(half(b, 1))) +
      bit_count(half(a, 9).bitwiseXOR(half(b, 9)))).cast("int")
  }

  /** Near-dup pairs by SimHash: pigeonhole banding (16 hex chars → `bands`
    * equal slices; Hamming ≤ h bits flips ≤ h nibbles, so any pair within
    * maxHamming < bands shares a full band) makes the candidate join an
    * equi-join, then exact Hamming verification filters.
    *
    * Default 4 bands of 16 bits: wider band keys collapse bucket sizes
    * quadratically vs 8×8-bit banding — correlated corpora (the skew case)
    * otherwise pile into few 8-bit buckets and the candidate join goes
    * near-quadratic. Hamming is verified BEFORE the distinct so the
    * dedup shuffle only carries surviving pairs.
    *
    * @param maxBucket band buckets larger than this are dropped as
    *        non-discriminative before the self-join — a boilerplate/template
    *        cluster of m near-identical docs otherwise lands in ONE bucket
    *        per band and the join emits ~m²·bands rows (the same mega-bucket
    *        argument as [[lshCandidates]]). Capped docs can still pair
    *        through their other, surviving bands; pigeonhole completeness
    *        (any pair ≤ maxHamming shares a full band) then holds only
    *        through those. Default unbounded (exact banding semantics).
    */
  def simhashPairs(sh: DataFrame, maxHamming: Int, bands: Int = 4,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming < bands, "pigeonhole completeness needs maxHamming < bands")
    val width = 16 / bands
    // cache the banded table: both sides of the self-join below would
    // otherwise recompute the full upstream simhash aggregation. It is
    // (bands) rows × ~30 bytes per doc — small at any corpus size worth
    // self-joining.
    val b0 = sh.select(col("id"), col("simhash"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          i => struct(i.as("band"),
            col("simhash").substr(i * width + lit(1), lit(width)).as("bk")))).as("x"))
      .select(col("id"), col("simhash"), col("x.band").as("band"), col("x.bk").as("bk"))
      .cache()
    val b =
      if (maxBucket == Int.MaxValue) b0
      else b0.join(
        b0.groupBy("band", "bk").agg(count(lit(1)).as("__bs"))
          .where(col("__bs") <= maxBucket).drop("__bs"),
        Seq("band", "bk"))
    val l = b.as("l"); val r = b.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bk") === col("r.bk") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        hammingHex(col("l.simhash"), col("r.simhash")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
