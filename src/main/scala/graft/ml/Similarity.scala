package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: normalize vectors ONCE map-side (cosine becomes a plain
  * dot product). Pairwise scoring runs as a broadcast-one-side +
  * `mapPartitions` tight loop over primitive arrays — the expression-level
  * alternative (`aggregate`/`zip_with` lambdas) is CodegenFallback
  * (interpreted) and benchmarked ~20× slower, and a pair-explosion join
  * would shuffle O(pairs · dim) doubles. The broadcast side must fit in
  * executor memory — for corpus × corpus jobs beyond that, block the
  * broadcast side and union the per-block results (same kernel, outer
  * loop over blocks).
  *
  * Dot products accumulate in index order, so results are bit-identical
  * to the sequential oracle.
  */
object Similarity {

  /** Sum of an array<double> column, sequential order (expression form —
    * fine for one-off scalar uses; the hot paths below use typed loops).
    */
  private def asum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column =
    asum(zip_with(a, b, (x, y) => x * y))

  def norm(a: Column): Column = sqrt(asum(transform(a, x => x * x)))

  /** Cast float vector to double and scale to unit norm (zero vectors pass
    * through so downstream dot products yield 0, not NaN).
    */
  def normalized(a: Column): Column = {
    val d = transform(a, x => x.cast("double"))
    val n = norm(d)
    when(n > 0.0, transform(d, x => x / n)).otherwise(d)
  }

  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** (id, unit-vector) typed view of an embedding table. */
  private def unitVecs(df: DataFrame, idCol: String, vecCol: String) = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("id"), normalized(col(vecCol)).as("nv"))
      .as[(Long, Array[Double])]
  }

  /** All pairs (a < b) with cosine ≥ threshold — the embedding near-dup
    * primitive, EXACT variant.
    *
    * Distributed block self-join: rows are hashed into `ceil(n/blockRows)`
    * id-blocks; each row is replicated to every block-PAIR bucket containing
    * its block, then each bucket task materializes its ≤ 2·blockRows rows
    * and runs the tight pairwise loop. No driver collect, no broadcast of
    * the corpus; per-task memory is bounded by `blockRows`, and compute /
    * shuffle spread over B(B+1)/2 tasks. All-pairs is inherently O(n²) —
    * at corpus scale use [[lshNearDupPairs]] (approximate) instead.
    */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, blockRows: Int = 4096): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val v = unitVecs(emb, idCol, vecCol)
    val n = emb.count() // row count only — don't pay a normalization pass
    val nB = math.max(1, math.ceil(n.toDouble / blockRows).toInt)
    // block by a MIXED id hash: raw id mod nB concentrates shard-allocated
    // or stride-patterned ids into few blocks, breaking the per-task bound
    def blockOf(id: Long): Int =
      java.lang.Math.floorMod(scala.util.hashing.byteswap64(id), nB.toLong).toInt
    v.flatMap { case (id, vec) =>
        val b = blockOf(id)
        Iterator.range(0, nB).map { o =>
          val (i, j) = if (o < b) (o, b) else (b, o)
          (i * nB + j, id, vec)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val i = key / nB; val j = key % nB
        val rows = it.map(r => (r._2, r._3)).toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var a = 0
        while (a < rows.length) {
          val (ida, va) = rows(a)
          val ba = blockOf(ida)
          var bi = a + 1
          while (bi < rows.length) {
            val (idb, vb) = rows(bi)
            // a pair is owned by exactly one bucket: the one keyed by its
            // own (sorted) block pair — skip same-block pairs in mixed
            // buckets so nothing is emitted twice
            val bb = blockOf(idb)
            if (i == j || ba != bb) {
              val c = dotArr(va, vb)
              if (c >= threshold) {
                if (ida < idb) out += ((ida, idb, c)) else out += ((idb, ida, c))
              }
            }
            bi += 1
          }
          a += 1
        }
        out.iterator
      }.toDF("id_a", "id_b", "cos")
  }

  /** Exact near-dup pairs RESTRICTED to a deterministic probe sample: the
    * `nProbes` ids with the smallest mixed hash (same fixed pseudo-random
    * sample rule as [[kmeansCentroids]]' seeds) are broadcast, and the
    * corpus streams ONCE scoring each row against every probe — O(n·probes)
    * instead of the all-pairs O(n²). This is the bounded ground truth for
    * recall gates over [[lshNearDupPairs]]: at any corpus size the cost is
    * one scan, so the gate query itself survives the scale-up it is meant
    * to certify. Pairs where both ends are probes are emitted once (owned
    * by the lower probe id).
    */
  def probeNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, nProbes: Int = 256): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val v = unitVecs(emb, idCol, vecCol)
    val probes = v
      .map { case (id, vec) => (scala.util.hashing.byteswap64(id), id, vec) }
      .toDF("h", "id", "v").orderBy("h", "id").limit(nProbes)
      .as[(Long, Long, Array[Double])].collect()
      .map { case (_, id, vec) => (id, vec) }
    val probeIds = probes.map(_._1).toSet
    val bc = spark.sparkContext.broadcast(probes)
    val bcIds = spark.sparkContext.broadcast(probeIds)
    v.mapPartitions { it =>
      val ps = bc.value
      val pid = bcIds.value
      it.flatMap { case (id, vec) =>
        val isProbe = pid.contains(id)
        ps.iterator.flatMap { case (p, pv) =>
          // probe-probe pairs would be seen from both corpus rows; the
          // higher-id row (paired against the lower probe) owns the pair
          if (p == id || (isProbe && p > id)) Iterator.empty
          else {
            val c = dotArr(pv, vec)
            if (c >= threshold) {
              val (a, b) = if (p < id) (p, id) else (id, p)
              Iterator.single((a, b, c))
            } else Iterator.empty
          }
        }
      }
    }.toDF("id_a", "id_b", "cos")
  }

  /** Approximate near-dup pairs via sign-LSH banding: candidates = pairs
    * sharing ≥1 signature band (id-only equi-self-join, vectors stay out of
    * the band shuffle), then exact-cosine verification of candidates only.
    * Recall < 1 by construction (property-tested vs [[nearDupPairs]]) —
    * this is the 100 TB path; tune `nPlanes`/`bandBits` to the threshold
    * (more bands → higher recall, more candidates).
    *
    * @param maxBucket band buckets larger than this are dropped as
    *        non-discriminative before the self-join: a cluster of m
    *        near-identical vectors (boilerplate embeddings) shares every
    *        sign band and would emit ~m²·bands candidate rows. Capped
    *        vectors still pair through smaller bands. Default unbounded.
    */
  def lshNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nPlanes: Int = 64, bandBits: Int = 4,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val planes = hyperplanes(nPlanes, vecDim(emb, vecCol))
    // persisted: the bucket-size filter and BOTH sides of the candidate
    // self-join consume the band rows, and the verify joins read the
    // normalized vectors twice — without the persists the O(n·nPlanes·dim)
    // signature/normalization pass re-runs per consumer
    val bands0 = lshBandRows(emb, idCol, vecCol, planes, bandBits)
      .toDF("id", "band", "bk").persist(graft.Conf.storageLevel)
    val bands =
      if (maxBucket == Int.MaxValue) bands0
      else bands0.join(
        bands0.groupBy("band", "bk").agg(count(lit(1)).as("__bs"))
          .where(col("__bs") <= maxBucket).drop("__bs"),
        Seq("band", "bk"))
    val cand = bands.select(col("id").as("id_a"), col("band"), col("bk"))
      .join(bands.select(col("id").as("id_b"), col("band"), col("bk")),
        Seq("band", "bk"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val nv = unitVecs(emb, idCol, vecCol).persist(graft.Conf.storageLevel)
    cand
      .join(nv.toDF("id_a", "va"), "id_a")
      .join(nv.toDF("id_b", "vb"), "id_b")
      .select(col("id_a").cast("long"), col("id_b").cast("long"), col("va"), col("vb"))
      .as[(Long, Long, Array[Double], Array[Double])]
      .map { case (a, b, va, vb) => (a, b, dotArr(va, vb)) }
      .toDF("id_a", "id_b", "cos")
      .where(col("cos") >= threshold)
  }

  /** Corpus-side cell assignment hot loop: allocation-free linear argmax
    * over the codebook (lowest cell id on ties — the same rule as the
    * probe-side sort), instead of a per-row boxed sortBy.
    */
  private def bestCell(cs: Array[(Long, Array[Double])], v: Array[Double]): Long = {
    // -Inf sentinel + first-cell id fallback: NaN dots fail every
    // comparison and are SKIPPED (same semantics as the kmeans Lloyd
    // loop's assignment), and an all-NaN row still lands on a real
    // codebook cell id instead of the old literal 0. Seeding bestD from
    // cs(0)'s dot would instead poison the whole scan when centroid 0 is
    // NaN (NaN > NaN and d > NaN are both false).
    var best = cs(0)._1; var bestD = Double.NegativeInfinity; var c = 0
    while (c < cs.length) {
      val d = dotArr(v, cs(c)._2)
      if (d > bestD || (d == bestD && cs(c)._1 < best)) {
        bestD = d; best = cs(c)._1
      }
      c += 1
    }
    best
  }

  /** Embedding dimensionality observed on the first row. */
  private def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Deterministic spherical k-means codebook for [[ivfTopK]]: seeds are
    * the `nlist` corpus vectors with the smallest mixed id hash (a fixed
    * pseudo-random sample — no RNG state), then `iters` distributed Lloyd
    * rounds. Each round broadcasts only the codebook and reduces the
    * per-cell vector sums map-side (reduceByKey → an nlist-row shuffle),
    * so the cost is `iters` corpus scans regardless of corpus size. Means
    * re-normalize to unit length (cosine = dot on unit vectors); empty
    * cells keep their previous centroid. Returns (cellId, centroid) with
    * cellId = seed rank — plug straight into ivfTopK's `centroids`.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, iters: Int = 5): Array[(Long, Array[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // persist the normalized view: the seed pass + every Lloyd round scans
    // it, and re-normalizing the corpus iters+1 times would dominate
    val cv = unitVecs(corpus, idCol, vecCol).persist()
    var cents: Array[Array[Double]] = cv
      .map { case (id, v) => (scala.util.hashing.byteswap64(id), id, v) }
      .toDF("h", "id", "v").orderBy("h", "id").limit(nlist)
      .as[(Long, Long, Array[Double])].collect().map(_._3)
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val sums = cv.rdd.map { case (_, v) =>
        val cs = bc.value
        var best = 0; var bestD = Double.NegativeInfinity; var c = 0
        while (c < cs.length) {
          val d = dotArr(v, cs(c))
          if (d > bestD) { bestD = d; best = c }
          c += 1
        }
        (best, (v, 1L))
      }.reduceByKey { (x: (Array[Double], Long), y: (Array[Double], Long)) =>
        val (a, na) = x; val (b, nb) = y
        var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }
        (a, na + nb)
      }.collect()
      val next = cents.map(_.clone())
      sums.foreach { case (cell, (s, n)) =>
        var i = 0; var nrm = 0.0
        while (i < s.length) { s(i) /= n; nrm += s(i) * s(i); i += 1 }
        nrm = math.sqrt(nrm)
        if (nrm > 0) {
          i = 0; while (i < s.length) { s(i) /= nrm; i += 1 }
          next(cell) = s
        }
      }
      bc.destroy()
      cents = next
    }
    cv.unpersist(blocking = false)
    cents.zipWithIndex.map { case (v, i) => (i.toLong, v) }
  }

  /** IVF(-flat) approximate top-k — the inverted-file alternative to
    * [[lshTopK]]: a small deterministic centroid codebook partitions the
    * corpus into `nlist` cells map-side (only the centroids broadcast, the
    * corpus streams once); each query probes its `nprobe` nearest cells and
    * scores exact cosine ONLY against vectors assigned there. Candidate
    * generation is an equi-join on the cell id, so vectors never enter a
    * pairwise shuffle. Recall < 1 by construction (cells are Voronoi-ish
    * regions of unit vectors); raise `nprobe` toward `nlist` to trade speed
    * for recall. The default codebook is the `nlist` lowest-id corpus
    * vectors — deterministic and oracle-friendly; pass
    * [[kmeansCentroids]]' output as `centroids` for production recall
    * (same plan shape, recall property-tested in DocSpec).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 32, nprobe: Int = 8,
              centroids: Array[(Long, Array[Double])] = null): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cv = unitVecs(corpus, idCol, vecCol)
    val cents =
      if (centroids != null) centroids
      else cv.orderBy("id").limit(nlist).collect() // nlist rows only
    val bc = spark.sparkContext.broadcast(cents)
    def nearestCells(cs: Array[(Long, Array[Double])], n: Int, v: Array[Double]) =
      cs.map { case (cid, cvec) => (cid, dotArr(v, cvec)) }
        .sortBy { case (cid, d) => (-d, cid) }.take(n).map(_._1)
    val assigned = cv.map { case (id, v) => (bestCell(bc.value, v), id, v) }
      .toDF("cell", "neighbor_id", "nv")
    // queries collected ONCE: probes derive driver-side, the vector map broadcasts
    val qArr = unitVecs(queries, idCol, vecCol).collect()
    val probes = broadcast(qArr.toSeq
      .flatMap { case (qid, v) => nearestCells(cents, nprobe, v).map(c => (qid, c)) }
      .toDF("query_id", "cell"))
    val qMap = spark.sparkContext.broadcast(qArr.toMap)
    val scored = assigned.join(probes, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("nv"))
      .as[(Long, Long, Array[Double])]
      .map { case (qid, nid, nv) => (qid, nid, dotArr(qMap.value(qid), nv)) }
      .toDF("query_id", "neighbor_id", "cos")
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** As-read schemas of the parquet IVF index directories (file sources
    * read every field nullable). The index writes these directories
    * itself, so its reads pass the schema instead of launching a
    * footer-inference job per read. `cells` lists the data columns only:
    * the `cell` partition column is discovered from the directory names,
    * exactly as an inferred read discovers it.
    */
  private[graft] val ivfCellsSchema = StructType.fromDDL("id BIGINT, nv ARRAY<DOUBLE>")
  private[graft] val ivfCentroidsSchema = StructType.fromDDL("cell BIGINT, cvec ARRAY<DOUBLE>")
  private[graft] val ivfTombstonesSchema = StructType.fromDDL("id BIGINT")

  private def ivfCells(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame =
    spark.read.schema(ivfCellsSchema).parquet(s"$dir/cells")

  private def ivfCentroids(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Array[(Long, Array[Double])] = {
    import spark.implicits._
    spark.read.schema(ivfCentroidsSchema).parquet(s"$dir/centroids")
      .as[(Long, Array[Double])].collect().sortBy(_._1)
  }

  /** Materialize an IVF index as a PARQUET LAYOUT: unit-normalized vectors
    * written `partitionBy(cell)` (cell = nearest centroid), centroids
    * alongside. This is ANN as Spark-native storage design — the "index" is
    * directory structure, so a query never touches more than its probed
    * cells: at 100 TB of embeddings a `cell IN (probes)` scan reads
    * nprobe/nlist of the data and Catalyst shows it as PartitionFilters
    * (spec-asserted), the same pruning contract as the trades store.
    * Index build is one write; incremental append = writing new rows into
    * their cell directories.
    */
  /** (cell, id, nv) assignment of unit vectors to their nearest centroid —
    * the shared kernel of [[ivfIndexWrite]] and [[ivfIndexAppend]]
    * (deterministic lowest-id tie-break, like [[ivfTopK]]'s bestCell).
    */
  private def assignCells(emb: DataFrame, idCol: String, vecCol: String,
                          centroids: Array[(Long, Array[Double])]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    unitVecs(emb, idCol, vecCol)
      .map { case (id, v) =>
        val cs = bc.value
        var best = 0L; var bestD = Double.NegativeInfinity
        var i = 0
        while (i < cs.length) {
          val d = dotArr(v, cs(i)._2)
          if (d > bestD || (d == bestD && cs(i)._1 < best)) { best = cs(i)._1; bestD = d }
          i += 1
        }
        (best, id, v)
      }
      .toDF("cell", "id", "nv")
  }

  def ivfIndexWrite(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[(Long, Array[Double])], dir: String): Unit = {
    assignCells(emb, idCol, vecCol, centroids)
      // hash-cluster by cell before the partitioned write: one file per
      // cell instead of one per (task × cell) — guide §6's hash
      // distribution-mode; probe-side PartitionFilters pruning unchanged
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells")
    val spark = emb.sparkSession
    import spark.implicits._
    centroids.toSeq.toDF("cell", "cvec")
      .write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** APPEND an embedding batch to an existing parquet IVF index: new
    * vectors are assigned to the EXISTING cells (centroids read back from
    * the index — the stored codebook is the contract) and their rows land
    * as new files inside the matching cell directories. This is the ingest
    * lifecycle of the index-as-layout design: no re-clustering, no rewrite
    * of historical cells — one partitioned append per batch, exactly the
    * trades store's append-then-compact shape. The cost is codebook DRIFT:
    * appended data follows the old centroids, so cell populations skew as
    * the distribution moves; IvfAppendDrift measures the recall impact vs
    * a full re-cluster (SYM_SCALING `ivf_append_drift` line) — the
    * re-cluster cadence is an operational knob, not a correctness issue
    * (probes stay exact for whatever codebook the index declares).
    */
  def ivfIndexAppend(emb: DataFrame, idCol: String, vecCol: String,
                     dir: String): Unit = {
    assignCells(emb, idCol, vecCol, ivfCentroids(emb.sparkSession, dir))
      // one file per touched cell per batch (same clustering rationale as
      // ivfIndexWrite) — also what keeps the per-batch append cost and
      // the fold's file-count growth ∝ touched cells, not tasks × cells
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$dir/cells")
  }

  /** DELETE vectors from a stored IVF index — the takedown lifecycle the
    * ANN index shares with the dedup band index (removing a document's
    * embedding must stop it surfacing as a neighbor immediately):
    * O(|ids|) appended tombstone rows under `dir/tombstones`, NOT a cell
    * rewrite. [[ivfIndexTopK]] consults the tombstones at probe time;
    * [[ivfCompact]] later folds them into a physical rewrite. Idempotent
    * set-wise (`distinct` keeps each call's rows minimal).
    */
  def ivfIndexDelete(ids: DataFrame, idCol: String, dir: String): Unit =
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .write.mode("append").parquet(s"$dir/tombstones")

  private def ivfTombstones(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.schema(ivfTombstonesSchema).parquet(s"$dir/tombstones"))
    else None
  }

  /** IN-STREAM committed-batch FILE fold for the live IVF ingest loop —
    * the file-count lifecycle for [[ivfIndexAppend]]'s per-batch appends
    * (r13 verdict #2's "same story for the IVF cell layout"): every
    * arriving micro-batch lands one-file-per-touched-cell, so a
    * long-running ingest grows the cell dirs' file count with ARRIVALS
    * forever. Called at a batch's ENTRY inside foreachBatch: the files
    * present then belong to batches whose checkpoint commits are durable
    * (≤ batchId−1), so the fold only ever covers committed appends — it
    * can never eat a batch that might still replay. Delegates to
    * [[graft.sources.Store.compactPartitioned]]: per `cell=N` dir, the
    * same two-journal swap the StoreSpec fault grid proves, with
    * [[graft.sources.Store.recoverCompaction]] self-healing any crashed
    * prior fold at entry. Distinct from [[ivfCompact]], which is the
    * BATCH tombstone-rewrite (versioned dir swap) — this fold keeps the
    * dir, the rows, and the probes' partition pruning untouched.
    */
  def ivfFoldCells(spark: org.apache.spark.sql.SparkSession, dir: String,
                   targetBytes: Long = 128L << 20): DataFrame =
    graft.sources.Store.compactPartitioned(spark, s"$dir/cells", "cell=",
      targetBytes)

  /** Fold tombstones into a physical rewrite: the index lands as a FRESH
    * partitioned index under `newDir` (same layout as [[ivfIndexWrite]]).
    * Only DIRTY cells — those holding a tombstoned vector — are rewritten,
    * minus their dead rows; every clean cell's files and the centroids
    * (the codebook is unchanged) are copied file by file, with no Spark
    * job. Finding the dirty cells is one semi-join of the cells against
    * the (takedown-sized) tombstones, and only runs when a tombstone
    * directory exists, so an index with no deletions compacts by copying
    * alone. `newDir` must differ: production swaps readers over by
    * path/catalog rename, the same versioned swap as the dedup index's
    * [[graft.dedup.Dedup.compactLshIndex]].
    */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
                 newDir: String): Unit = {
    require(newDir != dir, "ivfCompact rewrites into a NEW dir (versioned swap)")
    import spark.implicits._
    val src = new org.apache.hadoop.fs.Path(s"$dir/cells")
    val dst = new org.apache.hadoop.fs.Path(s"$newDir/cells")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tomb = ivfTombstones(spark, dir).map(_.select(col("id")))
    val dirty = tomb.fold(Set.empty[Long])(t =>
      ivfCells(spark, dir).join(t, Seq("id"), "left_semi")
        .select(col("cell").cast("long")).as[Long].collect().toSet)
    if (fs.exists(dst)) fs.delete(dst, true)
    for (t <- tomb if dirty.nonEmpty)
      ivfCells(spark, dir).where(col("cell").isin(dirty.toSeq: _*))
        .join(t, Seq("id"), "left_anti")
        .write.partitionBy("cell").parquet(dst.toString)
    fs.mkdirs(dst)
    def copy(from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path) =
      org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, to, false, fs.getConf)
    fs.listStatus(src)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("cell=") &&
        !dirty(d.getPath.getName.stripPrefix("cell=").toLong))
      .foreach(d => copy(d.getPath, new org.apache.hadoop.fs.Path(dst, d.getPath.getName)))
    val cents = new org.apache.hadoop.fs.Path(s"$newDir/centroids")
    if (fs.exists(cents)) fs.delete(cents, true)
    copy(new org.apache.hadoop.fs.Path(s"$dir/centroids"), cents)
  }

  /** Top-k through the parquet IVF index: centroids load driver-side
    * (nlist rows), probe cells derive per query, and the scan reads ONLY
    * `cell IN (probes)` — partition-pruned at the source. Tombstoned
    * vectors ([[ivfIndexDelete]]) drop via a left-anti join whose build
    * side is the (takedown-sized) tombstone set — AQE broadcasts it, so
    * the pruned cell scan stays the plan's only data-scaled read. Same
    * candidate sets as [[ivfTopK]] with the same centroids/nprobe over
    * the live rows, so results are bit-identical to the in-memory path
    * (the parity the gates assert).
    */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                   queries: DataFrame, idCol: String, vecCol: String,
                   k: Int, nprobe: Int = 8): DataFrame = {
    import spark.implicits._
    val cents = ivfCentroids(spark, dir)
    def nearestCells(n: Int, v: Array[Double]) =
      cents.map { case (cid, cvec) => (cid, dotArr(v, cvec)) }
        .sortBy { case (cid, d) => (-d, cid) }.take(n).map(_._1)
    val qArr = unitVecs(queries, idCol, vecCol).collect()
    val probePairs = qArr.toSeq
      .flatMap { case (qid, v) => nearestCells(nprobe, v).map(c => (qid, c)) }
    val cells = probePairs.map(_._2).distinct.sorted
    val probes = broadcast(probePairs.toDF("query_id", "cell"))
    val qMap = spark.sparkContext.broadcast(qArr.toMap)
    val pruned = ivfCells(spark, dir)
      .where(col("cell").isin(cells: _*)) // -> PartitionFilters, prunes dirs
    val scan = ivfTombstones(spark, dir).fold(pruned)(t =>
      pruned.join(t.select(col("id")), Seq("id"), "left_anti"))
    scan.join(probes, Seq("cell"))
      .where(col("query_id") =!= col("id"))
      .select(col("query_id").cast("long"), col("id").cast("long"), col("nv"))
      .as[(Long, Long, Array[Double])]
      .map { case (qid, nid, nv) => (qid, nid, dotArr(qMap.value(qid), nv)) }
      .toDF("query_id", "neighbor_id", "cos")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Brute-force cosine top-k: broadcast the (small) query set, stream the
    * corpus once keeping a bounded per-query top-k per partition, then take
    * the exact global top-k from the tiny candidate union. Ordering
    * (cos desc, neighbor id asc) is applied identically in the partial and
    * final stages, so the result is exact and deterministic.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qArr = unitVecs(queries, idCol, vecCol).collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(qArr)
    val partial = unitVecs(corpus, idCol, vecCol).mapPartitions { it =>
      val qs = bc.value
      // per-query bounded heap with the WORST candidate on top (dequeued
      // first): worse = lower cos, then higher neighbor id
      val ord: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
        def compare(x: (Double, Long), y: (Double, Long)): Int = {
          val c = java.lang.Double.compare(y._1, x._1)
          if (c != 0) c else java.lang.Long.compare(x._2, y._2)
        }
      }
      val heaps = Array.fill(qs.length)(scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
      it.foreach { case (nid, nv) =>
        var qi = 0
        while (qi < qs.length) {
          val (qid, qv) = qs(qi)
          if (qid != nid) {
            val c = dotArr(qv, nv)
            val h = heaps(qi)
            if (h.size < k) h.enqueue((c, nid))
            else {
              val (wc, wid) = h.head
              if (c > wc || (c == wc && nid < wid)) { h.dequeue(); h.enqueue((c, nid)) }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (c, nid) => (qs(qi)._1, nid, c) }
      }
    }.toDF("query_id", "neighbor_id", "cos")
    partial
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Deterministic random hyperplanes: component d of plane p is an md5-seeded
    * uniform in [-1, 1]. Driver-side constants, shipped via broadcast.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, d) =>
      val h = mdig.digest(s"plane:$p:$d".getBytes("UTF-8"))
      val u = ((h(0) & 0xffL) << 24 | (h(1) & 0xffL) << 16 |
        (h(2) & 0xffL) << 8 | (h(3) & 0xffL)).toDouble / (1L << 32).toDouble
      u * 2.0 - 1.0
    }
  }

  /** Sign-bit LSH band keys as a typed Dataset (id, band, bandKey). */
  private def lshBandRows(df: DataFrame, idCol: String, vecCol: String,
                          planes: Array[Array[Double]], bandBits: Int) = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(planes)
    val nBands = planes.length / bandBits
    unitVecs(df, idCol, vecCol).flatMap { case (id, v) =>
      val pl = bc.value
      val bits = Array.tabulate(pl.length)(p => if (dotArr(v, pl(p)) > 0.0) 1 else 0)
      Iterator.range(0, nBands).map { b =>
        var key = 0; var i = 0
        while (i < bandBits) { key |= bits(b * bandBits + i) << i; i += 1 }
        (id, b, key)
      }
    }.toDF("id", "band", "bk")
  }

  /** Embedding cluster assignment with VERIFIED star edges — the vector
    * twin of [[graft.dedup.Dedup.lshClusters]]: per sign-LSH band bucket,
    * each member links to the bucket's min id (m−1 edges, never m(m−1)/2
    * pairs, never a collected member array), each star edge is verified by
    * exact cosine ≥ threshold BEFORE it enters the graph, and connected
    * components over the surviving edges yield per-vector cluster ids.
    *
    * Semantics: precision is structural (every edge in the graph is a true
    * ≥-threshold pair, so every cluster is connected through verified
    * near-dups); recall is approximate twice — a pair can miss every
    * shared band (sign-LSH recall) or share a bucket whose min-id hub is
    * similar to neither (star recall). That trade is what keeps the job
    * LINEAR under boilerplate skew: a mega-cluster of m identical vectors
    * costs m−1 cosine evaluations instead of m²/2, so `maxBucket` is
    * optional here. For per-pair scores use [[lshNearDupPairs]].
    */
  def lshEmbeddingClusters(emb: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nPlanes: Int = 64,
                           bandBits: Int = 16,
                           maxBucket: Int = Int.MaxValue): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val planes = hyperplanes(nPlanes, vecDim(emb, vecCol))
    // persisted: bucket stats + star join both consume it — without this
    // the nPlanes dot products per vector run twice
    val br = lshBandRows(emb, idCol, vecCol, planes, bandBits)
      .persist(graft.Conf.storageLevel)
    val stats = br.groupBy("band", "bk")
      .agg(min(col("id")).as("min_id"), count(lit(1)).as("n"))
      .where(col("n") > 1 && col("n") <= maxBucket)
      .select("band", "bk", "min_id")
    val star = br.join(stats, Seq("band", "bk"))
      .where(col("id") =!= col("min_id"))
      .select(col("min_id").as("id_a"), col("id").as("id_b"))
      .distinct()
    val nv = unitVecs(emb, idCol, vecCol)
    val verified = star
      .join(nv.toDF("id_a", "va"), "id_a")
      .join(nv.toDF("id_b", "vb"), "id_b")
      .select(col("id_a").cast("long"), col("id_b").cast("long"), col("va"), col("vb"))
      .as[(Long, Long, Array[Double], Array[Double])]
      .map { case (a, b, va, vb) => (a, b, dotArr(va, vb)) }
      .toDF("id_a", "id_b", "cos")
      .where(col("cos") >= threshold)
      .select("id_a", "id_b")
    // CC materializes its persisted edge union + checkpointed labels — the
    // band rows are dead weight after it
    val comp = graft.dedup.Dedup.connectedComponents(verified)
    br.unpersist(blocking = false)
    comp
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup over
    * an embedding column — a k-means codebook partitions the corpus into
    * cells map-side (only centroids broadcast), then WITHIN each cell a
    * vector is dropped when a lower-id cell-mate sits at or above the
    * cosine threshold (the paper's keep-one-per-similar-group, made
    * deterministic by id order). Cross-cell near-dups are deliberately
    * not compared — that locality is the operator's whole scaling story:
    * cost is Σ|cell|² over cells instead of n², the pairing is an
    * equi-join on the cell id (AQE splits skewed cells), and nlist grows
    * with the corpus so cells stay bounded. Returns one row per vector:
    * (id, cell, is_dropped).
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               centroids: Array[(Long, Array[Double])],
               threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val assigned = unitVecs(emb, idCol, vecCol)
      .map { case (id, v) =>
        val cs = bc.value
        var best = 0L; var bestD = Double.NegativeInfinity
        var i = 0
        while (i < cs.length) {
          val d = dotArr(v, cs(i)._2)
          if (d > bestD || (d == bestD && cs(i)._1 < best)) {
            best = cs(i)._1; bestD = d
          }
          i += 1
        }
        (best, id, v)
      }
      .toDF("cell", "id", "nv")
      // both sides of the within-cell self-join read this; without the
      // persist the normalization + assignment map runs twice
      .persist(graft.Conf.storageLevel)
    // right side fully renamed: both frames share a lineage, and
    // dataframe-tagged references trip the ambiguous-self-join detector
    val mates = assigned.select(col("cell").as("__m_cell"),
      col("id").as("__m_id"), col("nv").as("__m_nv"))
    val dropped = assigned
      .join(mates, col("cell") === col("__m_cell") && col("__m_id") < col("id"))
      .select(col("id").cast("long"), col("nv"), col("__m_nv"))
      .as[(Long, Array[Double], Array[Double])]
      .map { case (id, a, b) => (id, dotArr(a, b)) }
      .toDF("id", "cos")
      .where(col("cos") >= threshold)
      .select("id").distinct()
      .withColumn("__drop", lit(true))
    assigned.select("id", "cell")
      .join(dropped, Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("__drop"), lit(false)).as("is_dropped"))
  }

  /** LSH-bucketed approximate top-k: candidates = corpus rows sharing ≥1
    * signature band with a query (id-only equi-join — vectors never enter
    * the shuffle); exact cosine rank within candidates. Recall < 1 by
    * construction — the scale path when brute force is too expensive;
    * recall is property-tested against [[bruteForceTopK]].
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int = 16, bandBits: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val planes = hyperplanes(nPlanes, vecDim(corpus, vecCol))
    val qBands = broadcast(lshBandRows(queries, idCol, vecCol, planes, bandBits)
      .withColumnRenamed("id", "query_id"))
    val cBands = lshBandRows(corpus, idCol, vecCol, planes, bandBits)
      .withColumnRenamed("id", "neighbor_id")
    val cand = cBands.join(qBands, Seq("band", "bk"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val qMap = spark.sparkContext.broadcast(
      unitVecs(queries, idCol, vecCol).collect().toMap)
    val scored = cand.join(unitVecs(corpus, idCol, vecCol)
        .toDF("neighbor_id", "nv"), "neighbor_id")
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"), col("nv"))
      .as[(Long, Long, Array[Double])]
      .map { case (qid, nid, nv) => (qid, nid, dotArr(qMap.value(qid), nv)) }
      .toDF("query_id", "neighbor_id", "cos")
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }
}
