package graft

import graft.dedup.Dedup
import graft.ml.Similarity
import graft.text.{Bpe, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Skew/scale harness for the dedup/LSH family over a [[DocFixture]]
  * corpus (millions of rows with an injected boilerplate mega-cluster):
  * runs the three banded near-dup operators WITH their `maxBucket` caps at
  * several core counts and records wall time + surviving pair counts.
  * Without the caps the mega-bucket emits ~10¹⁰ candidate pairs and none
  * of these finish — the point of the fixture is measuring that the caps
  * and the 4×16-bit banding keep the job linear under exactly the skew
  * they were designed for. The `corpus_e2e_live_*` cells run the shipped
  * live corpus pipeline ([[graft.queries.CorpusPipeline.onBatch]], the
  * `streaming_corpus_*` gates' per-batch body) over the same fixture.
  *
  * Usage: SPARK_GRAFT_DOC_FIXTURE=<dir> [SPARK_GRAFT_DOC_CPUS=8,32]
  *        runMain graft.DocBench
  * Prints one JSONL line:
  *   {"metric":"doc_scaling","fixture":…,"max_bucket":…,
  *    "runs":{"8":{q:sec},…},"pairs":{q:n}}
  */
object DocBench {
  private val shingleN = 3
  private val minhashK = 16
  private val minhashBands = 8
  private val maxBucket = 512

  /** The live ingest-dedup loop at fixture scale: stored band index on
    * the 70% "historical" corpus, then the remaining 30% arrives in
    * `nBatches` equal batches — each probes the index for near-dups
    * against everything before it, then appends its own bands (the
    * streaming_dedup_index_append gate's loop). Returns total verified
    * pairs; cost per batch stays delta-scaled (band rows read from the
    * bucketed index, base text never re-shingled).
    */
  private def ingestBatches(spark: SparkSession,
                            docs: org.apache.spark.sql.DataFrame,
                            nBatches: Int): Long = {
    val salted = docs.withColumn("__h",
      graft.ml.Sampling.hash32(col("doc_id"), "ingest"))
    val step = 0.3 / nBatches
    val cut = (i: Int) => ((0.7 + step * i) * 4294967296.0).toLong
    val base = salted.where(col("__h") < cut(0))
    val table = s"docbench_ingest_idx$nBatches"
    val dir = java.nio.file.Files
      .createTempDirectory("docbench_idx").toString
    // fixed bucket count: the index layout must not vary with the
    // measuring core count, or the 8-vs-32 cells compare different
    // physical indexes
    Dedup.writeLshIndex(base, "doc_id", "toks", shingleN,
      minhashK, minhashBands, table, dir, buckets = 32)
    var seen = base.select("doc_id", "text", "toks")
    var pairs = 0L
    try {
    for (i <- 1 to nBatches) {
      val batch = salted
        .where(col("__h") >= cut(i - 1) && col("__h") < cut(i))
        .select("doc_id", "text", "toks")
      pairs += Dedup.incrementalLshPairsFrom(spark.table(table),
        seen, batch, "doc_id", "toks", shingleN, minhashK,
        minhashBands, threshold = 0.7, maxBucket = maxBucket).count()
      Dedup.appendLshIndex(batch, "doc_id", "toks", shingleN,
        minhashK, minhashBands, table, buckets = 32)
      seen = seen.unionByName(batch)
    }
    pairs
    } finally pendingCleanup += dir
  }

  /** The live corpus pipeline at fixture scale: the SHIPPED per-batch body
    * of the `streaming_corpus_*` gates ([[graft.queries.CorpusPipeline]]
    * — overwrite-scoped publishes, as-of probes, idempotent index
    * publish) driven by this loop instead of a stream, with the fixture's
    * index tuning (32 buckets, probe capped at `maxBucket`, jaccard 0.7).
    * The first `trainFrac` of the corpus (by salted hash) arrives in
    * `nBatches` hash-split batches; a held-out rest becomes the static
    * decontamination benchmark and selects the full-suite front. The
    * fixture's template mega-cluster spans both splits, so decon really
    * fires: every arriving boiler doc overlaps the benchmark. `batchIdx`
    * overrides the arrival order for adversarial cells (e.g. the
    * mega-cluster concentrated in ONE batch). Returns total surviving
    * docs.
    */
  private def corpusE2eBatches(spark: SparkSession,
                               docs: org.apache.spark.sql.DataFrame,
                               nBatches: Int,
                               batchIdx: Option[org.apache.spark.sql.Column] = None,
                               tag: String = "",
                               trainFrac: Double = 1.0): Long = {
    import graft.queries.CorpusPipeline
    val salted = docs.withColumn("__h",
      graft.ml.Sampling.hash32(col("doc_id"), "live"))
    val cut = (i: Int) =>
      ((i.toDouble / nBatches) * trainFrac * 4294967296.0).toLong
    val table = s"docbench_live_idx$nBatches$tag"
    val root = java.nio.file.Files
      .createTempDirectory("docbench_live").toString
    try {
      val front = CorpusPipeline.day0(spark, docs, table, root, buckets = 32,
        bench = Option.when(trainFrac < 1.0)(
          salted.where(col("__h") >= cut(nBatches))))
      for (i <- 1 to nBatches) {
        val inBatch = batchIdx match {
          case Some(bi) => bi === (i - 1)
          case None => col("__h") >= cut(i - 1) && col("__h") < cut(i)
        }
        CorpusPipeline.onBatch(spark, table, root, front, buckets = 32,
          maxBucket = maxBucket, threshold = 0.7)(salted.where(inBatch), i)
      }
      graft.sources.StateStore.read(spark, root + "/store").count()
    } finally {
      // the state dirs hold full survivor-corpus text per cell — at 1.5M
      // docs × 3 cells × 2 cpu configs that is multiple GB of /tmp per
      // DocBench run if leaked. Deletion is DEFERRED to the harness (after
      // the cell's timed region): multi-GB recursive deletes are not part
      // of the pipeline under measurement.
      pendingCleanup += root
    }
  }

  /** Dirs queued by cells for deletion AFTER their timed region. */
  private val pendingCleanup = scala.collection.mutable.ListBuffer[String]()

  /** Recursive temp-dir delete (best-effort — a bench cell must never
    * fail on cleanup).
    */
  private def rmrf(spark: SparkSession, p: String): Unit =
    try {
      val pth = new org.apache.hadoop.fs.Path(p)
      pth.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(pth, true)
    } catch {
      case NonFatal(e) =>
        System.err.println(
          s"DOCBENCH cleanup of $p failed: ${e.getClass.getName}: ${e.getMessage}")
    }

  /** Drain [[pendingCleanup]] — called by the harness outside timing. */
  private def drainCleanup(spark: SparkSession): Unit = {
    pendingCleanup.foreach(rmrf(spark, _))
    pendingCleanup.clear()
  }

  def main(args: Array[String]): Unit = {
    val fixture = sys.env.getOrElse("SPARK_GRAFT_DOC_FIXTURE", "target/docfix")
    val cpuList = sys.env.getOrElse("SPARK_GRAFT_DOC_CPUS", "8,32")
      .split(",").map(_.trim.toInt).toSeq
    val only = sys.env.get("SPARK_GRAFT_DOC_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    var pairCounts = Map.empty[String, Long]
    val runs = cpuList.map { cpus =>
      val spark = Conf.engineDefaults(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false"))
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      def docs = spark.read.parquet(s"$fixture/documents.parquet")
        .withColumn("toks", TextOps.wsTokens(col("text")))
      def embs = spark.read.parquet(s"$fixture/embeddings.parquet")
      val queries: Seq[(String, () => Long)] = Seq(
        "dedup_minhash_lsh_capped" -> (() =>
          Dedup.jaccardVerify(
              Dedup.lshCandidates(docs, "doc_id", "toks", shingleN,
                minhashK, minhashBands, maxBucket),
              docs, "doc_id", "toks", shingleN)
            .where(col("jaccard") >= 0.7).count()),
        "dedup_simhash_pairs_capped" -> (() =>
          Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "toks"),
            maxHamming = 3, bands = 4, maxBucket = maxBucket).count()),
        // 4×16-bit bands (NOT the 16×4-bit default): at 200k vectors a
        // 4-bit key space has 16 buckets/band — every bucket is a
        // mega-bucket and the cap empties the candidate set (measured:
        // 0 pairs). Wide bands give 65k keys/band: noise spreads thin,
        // the boilerplate cluster still concentrates and is capped, and
        // the planted cos≈0.999 pairs survive. Banding width must track
        // corpus size and threshold — the classic LSH tuning rule.
        "dedup_embedding_lsh_capped" -> (() =>
          Similarity.lshNearDupPairs(embs, "vec_id", "embedding",
            threshold = 0.9, nPlanes = 64, bandBits = 16,
            maxBucket = maxBucket).count()),
        // UNCAPPED on purpose: star edges keep the mega-bucket linear
        // (m−1 edges), so cluster assignment survives the exact skew that
        // makes uncapped pair enumeration infeasible above.
        "dedup_lsh_clusters_uncapped" -> (() => {
          val n = Dedup.lshClusters(docs, "doc_id", "toks", shingleN,
            minhashK, minhashBands).count()
          pairCounts += ("cc_rounds_lsh_clusters" -> Dedup.lastCcRounds.toLong)
          n
        }),
        // keep-best canonical selection on top of the uncapped union-find:
        // the boilerplate mega-cluster becomes ONE window partition of
        // ~10⁵ rows — measures that the argmax-quality survivor pick stays
        // a single narrow-row window pass under exactly that skew.
        "dedup_keep_best_lsh" -> (() => {
          val comp = Dedup.lshClusters(docs, "doc_id", "toks", shingleN,
            minhashK, minhashBands)
          val scored = docs.select(
            Seq(col("doc_id")) ++ TextOps.qualityColumns(col("text")): _*)
            .select(col("doc_id"), col("quality_score"))
          Dedup.keepBest(scored, comp, "doc_id", "quality_score")
            .where(col("keep")).count()
        }),
        "dedup_emb_clusters_uncapped" -> (() =>
          Similarity.lshEmbeddingClusters(embs, "vec_id", "embedding",
            threshold = 0.9, nPlanes = 64, bandBits = 16).count()),
        // Statistical-LM family under the fixture's VOCABULARY EXPLOSION:
        // noise docs carry globally-unique tokens, so the unigram/bigram
        // count tables grow toward corpus scale (~60M grams at 1.5M docs)
        // — exactly the regime where "broadcast the model" stops being
        // true and the scoring join must shuffle. Measures that the LM
        // operators degrade to parallel shuffle joins, not OOM.
        "lm_perplexity_bigvocab" -> (() =>
          graft.text.LangModel.bigramScore(docs, docs, "doc_id", "toks", 0.5)
            .count()),
        "nb_source_bigvocab" -> (() =>
          graft.text.LangModel.nbPredict(docs, "doc_id", "toks", "source",
            c => round(c, 6)).count()),
        // BPE over the fixture: the ^[a-z]+$ filter drops the synthetic
        // unique tokens, so this measures the corpus-scale vocab groupBy
        // feeding a small merge loop (the production shape).
        "bpe_train5" -> (() =>
          Bpe.train(Bpe.wordVocab(docs, "toks"), 5).length.toLong),
        // production-scale merge-loop certification: 1000 merges with the
        // flat BpeSegmentExpr rank table. The fixture's alphabetic vocab is
        // only ~68 words (the noise tokens are synthetic and filtered), so
        // compound it (vocab × vocab, freq f1·f2) for merge material — the
        // corpus-scale cost (the 1.5M-doc vocab groupBy) and the
        // vocab-bound loop shape are unchanged. r6's chained-fold segment
        // was O(k²) expression work and un-analyzable at this depth.
        "bpe_train1000_expanded" -> (() => {
          val base = Bpe.wordVocab(docs, "toks")
          val vocab = base.union(
              base.select(col("word").as("w1"), col("freq").as("f1"))
                .crossJoin(base.select(col("word").as("w2"), col("freq").as("f2")))
                .select(concat(col("w1"), col("w2")).as("word"),
                  (col("f1") * col("f2")).as("freq")))
            .groupBy("word").agg(sum("freq").as("freq"))
          Bpe.train(vocab, 1000).length.toLong
        }),
        // the live ingest-dedup loop at 1.5M docs (see [[ingestBatches]])
        "dedup_index_ingest_3batches" -> (() => ingestBatches(spark, docs, 3)),
        // the BATCH-SIZE LEVER (round-8 verdict ask #6): the same 30% of
        // the corpus ingested as ONE probe+append instead of three. The
        // 3-batch cell scales poorly with cores because PER-BATCH fixed
        // costs (index table refresh + bucketed append commit) dominate at
        // fixture scale; (t_3batches − t_1batch)/2 reads the per-batch
        // fixed cost straight off the record, and the 1-batch cell is what
        // a deployment that buffers arrivals into larger micro-batches
        // (StreamBench's maxFilesPerTrigger lever) actually pays.
        "dedup_index_ingest_1batch" -> (() => ingestBatches(spark, docs, 1)),
        // the FULL live corpus pipeline (streaming_corpus_e2e's chain) at
        // 1.5M docs in 3 arriving batches — quality/langid → exact probe →
        // capped LSH probe-then-append → shard, per batch
        "corpus_e2e_live_3batches" -> (() => corpusE2eBatches(spark, docs, 3)),
        // the FULL production filter suite live at 1.5M docs — the scale
        // line for streaming_corpus_e2e_full: the 90% train split arrives
        // in 3 batches, each running redact → quality/langid → repetition
        // → benchmark-gram decon → exact probe → capped LSH
        // probe-then-append → shard. The template mega-cluster spans both
        // splits, so decon drops every arriving boiler doc (benchmark
        // overlap at 10⁵ scale) BEFORE the LSH probe — the production
        // interplay of the two skew defenses.
        "corpus_e2e_live_full_3batches" -> (() => corpusE2eBatches(spark,
          docs, 3, tag = "full", trainFrac = 0.9)),
        // BATCH-SIZE SCALING of the full-suite pipeline (r12 verdict ask
        // #5): the SAME train corpus in 6 and 12 arriving batches. s/doc
        // vs batch count reads the per-batch fixed cost (state reads,
        // index refresh, staging commits) straight off the record — the
        // micro-batch sizing lever a production ingest tunes
        // (maxFilesPerTrigger / buffer-then-commit).
        "corpus_e2e_live_full_6batches" -> (() => corpusE2eBatches(spark,
          docs, 6, tag = "full6", trainFrac = 0.9)),
        "corpus_e2e_live_full_12batches" -> (() => corpusE2eBatches(spark,
          docs, 12, tag = "full12", trainFrac = 0.9)),
        // ADVERSARIAL ARRIVAL ORDER: the ~12.5% template mega-cluster
        // arrives concentrated in the FIRST batch (instead of hash-spread
        // across all three). Batch 1 appends the mega-bucket's ~10⁵ band
        // rows into the stored index, so batches 2 and 3 probe an index
        // that CARRIES the mega-bucket — the capped probe (bb ≤ maxBucket)
        // must exclude it and keep per-batch cost delta-scaled; an
        // uncapped probe would join every later template-ish doc against
        // 10⁵ index rows. Non-boiler docs keep the same hash split, so the
        // cell is comparable to corpus_e2e_live_3batches above.
        // the otherwise-branch CLAMPS to batch 2: 3 × floor(2^32/3) =
        // 2^32 − 1 exactly, so the max salted hash would floor-divide to
        // index 3 and silently never arrive — the base cell's cut(3) =
        // 2^32 includes it, and the two cells must see the same corpus
        "corpus_e2e_live_hotbatch" -> (() => corpusE2eBatches(spark, docs, 3,
          batchIdx = Some(
            when(col("text").startsWith(DocFixture.template), lit(0))
              .otherwise(least(
                floor(col("__h") / lit(((1.0 / 3) * 4294967296.0).toLong)),
                lit(2)).cast("int"))),
          tag = "hot")),
        "bm25_topk_fixture" -> (() =>
          graft.text.LangModel.bm25TopK(docs, "doc_id", "toks",
            Seq(1 -> "hash join merge", 2 -> "window agg stream",
              3 -> "this website uses cookies"), 10, c => round(c, 6))
            .count()),
        // the full corpus-prep pipeline (quality/lang filter → exact dedup
        // → UNCAPPED bucket union-find keep-first) against the mega-cluster
        // corpus; returns surviving docs
        "corpus_clean_lsh_uncapped" -> (() => {
          val scored = docs.select(
            Seq(col("doc_id"), col("text"), col("toks")) ++
              TextOps.qualityColumns(col("text")) ++
              Seq(TextOps.langIdColumns(col("text")).last): _*)
          val kept = scored
            .where(col("pred_lang") === "en" && col("quality_score") >= 0.5)
          val exact = Dedup.exactDupAnnotate(kept, "doc_id", "text")
            .where(!col("is_dup"))
          val comp = Dedup.lshClusters(exact, "doc_id", "toks",
              shingleN, minhashK, minhashBands)
            .withColumnRenamed("id", "doc_id")
          exact.join(comp, Seq("doc_id"), "left")
            .where(col("component").isNull || col("component") === col("doc_id"))
            .count()
        }))
      val times = queries.filter { case (n, _) => only.forall(_.contains(n)) }
          .flatMap { case (name, run) =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
        Thread.sleep(300)
        val t0 = System.nanoTime()
        val res = try {
          val n = run()
          pairCounts += (name -> n)
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(e) =>
          System.err.println(
            s"DOCBENCH $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          None
        }
        drainCleanup(spark) // multi-GB state dirs, deleted OUTSIDE timing
        res
      }
      spark.stop()
      (cpus, times)
    }
    val runsJson = runs.map { case (cpus, times) =>
      "\"" + cpus + "\":" + times.map { case (k, v) => s"\"$k\":$v" }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val pairsJson = pairCounts.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    println(s"""{"metric":"doc_scaling","fixture":"$fixture","max_bucket":$maxBucket,"runs":$runsJson,"pairs":$pairsJson}""")
  }
}
