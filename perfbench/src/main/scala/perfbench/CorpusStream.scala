package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.dedup.Dedup
import graft.ml.Similarity
import graft.sources.StateStore
import graft.text.TextOps
import Workload.{now, repeat}

/** Closed-loop drain over seeded document + embedding batches, one file per
  * micro-batch through a Structured Streaming `foreachBatch` query run to
  * completion (`AvailableNow`). Each batch: quality filter → exact dedup →
  * MinHash LSH against the stored index (and within the batch) → publish
  * survivors, seen hashes and bands → IVF append and top-k over the batch's
  * survivors; after each batch but the last it folds the state stores and compacts the IVF
  * index.
  */
final class CorpusStream extends Workload {
  val name = "corpus_stream"
  private val shingleN = 3
  private val k = 16
  private val bands = 8
  private val jacc = 0.5
  /** State folds and IVF compaction run after every this many batches. */
  private val compactEvery = 1
  private var batches = 6
  private var info: Gen.CorpusInfo = _
  private var last: File = _
  private var dir: File = _
  var sizes: Map[String, Double] = Map.empty

  def generate(d: File, seed: Long, tiny: Boolean, seconds: Int): Unit = {
    batches = if (tiny) 1 else 2
    val per = if (tiny) 60 else 150
    new File(d, "docs").mkdirs()
    info = Gen.corpus(seed, batches, per, 24,
      b => new java.io.FileOutputStream(docFile(d, b)),
      b => new java.io.FileOutputStream(new File(d, s"emb_$b.csv")))
    // the file source orders a drain by (modification time, path)
    (0 until batches).foreach(b => docFile(d, b).setLastModified(1704067200000L + b * 1000L))
    sizes = Map("rows" -> info.docs.toDouble, "batches" -> batches.toDouble,
      "near_dup_share" -> info.nearDupShare, "boilerplate_share" -> info.boilerShare,
      "bytes" -> info.bytes.toDouble)
  }

  private def docFile(d: File, b: Int) = new File(d, f"docs/docs_$b%03d.tsv")
  private val docSchema = "doc_id long, text string"

  private def emb(spark: SparkSession, b: Int): DataFrame =
    spark.read.schema("vec_id long, vec string").option("header", "true")
      .csv(new File(dir, s"emb_$b.csv").getAbsolutePath)
      .select(col("vec_id"), split(col("vec"), ";").cast("array<double>").as("vec"))

  def measure(spark: SparkSession, tr: Tracer, d: File, work: File,
              seconds: Double, minUnits: Int): Measured = {
    dir = d
    val par = math.max(1, spark.sparkContext.defaultParallelism)
    var candidates = 0L
    var verified = 0L
    var prev: Option[File] = None
    val (runs, w0, w1) = repeat(seconds, minUnits) { rep =>
      Workload.unpersistAll(spark)
      prev.foreach(Main.deleteTree)
      val root = new File(work, s"rep${rep}_${now()}").getAbsolutePath
      prev = Some(new File(root))
      val idx = s"pb_idx_${tr.runId}_$rep"
      val t0 = now()
      // day-0 state: empty band index, seen set and survivor store
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(docSchema))
        .withColumn("toks", TextOps.wsTokens(col("text")))
      tr.span("dedup")(Dedup.writeLshIndex(empty, "doc_id", "toks", shingleN, k, bands,
        idx, s"$root/idx", buckets = 8, srcBatch = Some(-1L)))
      tr.span("sources") {
        StateStore.publishBatch(empty.select(md5(col("text")).as("content_hash")), s"$root/seen", -1L)
        StateStore.publishBatch(empty.select(col("doc_id"), col("text"), col("toks")), s"$root/store", -1L)
      }
      val cents = tr.span("ml")(Similarity.kmeansCentroids(emb(spark, 0), "vec_id", "vec", nlist = 16, iters = 3))
      var ivf = s"$root/ivf0"
      val perBatch = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var created = t0
      def onBatch(batch: DataFrame, id: Long): Unit = {
        val b = id.toInt
        // text: quality + language filter, staged once
        tr.span("text")(batch.repartition(par, col("doc_id"))
          .select(Seq(col("doc_id"), col("text")) ++ TextOps.qualityColumns(col("text")) :+
            TextOps.langIdColumns(col("text")).last: _*)
          .where(col("pred_lang") === "en" && col("quality_score") >= 0.5)
          .select(col("doc_id"), col("text"), TextOps.wsTokens(col("text")).as("toks"))
          .write.parquet(s"$root/fb/$b"))
        val kept = spark.read.parquet(s"$root/fb/$b")
        // dedup: exact keep-first within the batch, then seen-before
        tr.span("dedup")(Dedup.exactDupAnnotate(kept, "doc_id", "text").write.parquet(s"$root/ann/$b"))
        val ann = spark.read.parquet(s"$root/ann/$b")
        val seen = StateStore.readBefore(spark, s"$root/seen", b)
        val exSurv = ann.where(!col("is_dup")).join(seen, Seq("content_hash"), "left_anti")
          .select("doc_id", "text", "toks", "content_hash")
        // dedup: near duplicates against the stored index and inside the batch
        spark.catalog.refreshTable(idx)
        val prior = StateStore.readBefore(spark, s"$root/store", b)
        val cross = tr.frame("dedup")(Dedup.incrementalLshPairsFrom(
          spark.table(idx).where(col("src_batch") < b), prior.select("doc_id", "toks"),
          exSurv.select("doc_id", "toks"), "doc_id", "toks", shingleN, k, bands, 0.0)
          .persist(graft.Conf.storageLevel))
        val intra = tr.frame("dedup")(Dedup.jaccardVerify(
          Dedup.lshCandidates(exSurv, "doc_id", "toks", shingleN, k, bands),
          exSurv, "doc_id", "toks", shingleN).persist(graft.Conf.storageLevel))
        if (tr.enabled) {
          candidates += cross.count() + intra.count()
          verified += cross.where(col("jaccard") >= jacc).count() +
            intra.where(col("jaccard") >= jacc).count()
        }
        val drop = cross.where(col("jaccard") >= jacc).select(col("id_a").as("doc_id"))
          .union(intra.where(col("jaccard") >= jacc).select(col("id_b").as("doc_id"))).distinct()
        tr.span("dedup")(exSurv.join(drop, Seq("doc_id"), "left_anti")
          .write.parquet(s"$root/stage/$b"))
        val surv = spark.read.parquet(s"$root/stage/$b")
        // sources: publish survivors and newly seen hashes
        tr.span("sources") {
          StateStore.publishBatch(surv.select("doc_id", "text", "toks"), s"$root/store", b)
          StateStore.publishBatch(ann.select("content_hash").distinct()
            .join(seen, Seq("content_hash"), "left_anti"), s"$root/seen", b)
        }
        tr.span("dedup")(Dedup.appendLshIndexIdempotent(surv.select("doc_id", "toks"),
          "doc_id", "toks", shingleN, k, bands, idx, s"$root/idx", b, buckets = 8))
        // ml: index the survivors' embeddings and probe their neighbors
        val se = emb(spark, b).join(surv.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        tr.span("ml") {
          if (b == 0) Similarity.ivfIndexWrite(se, "vec_id", "vec", cents, ivf)
          else Similarity.ivfIndexAppend(se, "vec_id", "vec", ivf)
          Similarity.ivfIndexTopK(spark, ivf, se, "vec_id", "vec", k = 5, nprobe = 4)
            .write.parquet(s"$root/nb/$b")
        }
        val published = now()
        val n = spark.read.parquet(s"$root/stage/$b").count()
        if ((b + 1) % compactEvery == 0 && b < batches - 1) {
          tr.span("sources") {
            StateStore.compact(spark, s"$root/store", b)
            StateStore.compact(spark, s"$root/seen", b)
          }
          val next = s"$root/ivf${b + 1}"
          tr.span("ml")(Similarity.ivfCompact(spark, ivf, next))
          ivf = next
        }
        Workload.unpersistAll(spark)
        perBatch += ((created, published, n))
        // closed loop: the next batch is handed in when this one is published
        created = now()
      }
      tr.span("streaming") {
        spark.readStream.schema(docSchema).option("sep", "\t").option("header", "true")
          .option("maxFilesPerTrigger", 1).csv(new File(dir, "docs").getAbsolutePath)
          .writeStream.option("checkpointLocation", s"$root/chk")
          .trigger(Trigger.AvailableNow())
          .foreachBatch(onBatch _).start().awaitTermination()
      }
      val t1 = now()
      last = new File(root)
      val out = StateStore.read(spark, s"$root/store").select(col("doc_id"), md5(col("text")).as("m"))
      (t0, t1, perBatch, Workload.digest(out))
    }
    val extras =
      if (tr.enabled) Map("dedup.verified_per_candidate" ->
        (if (candidates > 0) verified.toDouble / candidates else 0.0))
      else Map.empty[String, Double]
    Measured(
      lineage = runs.map { case (t0, t1, _, _) => (t1 - t0) / 1000.0 },
      latencies = runs.flatMap(_._3.toSeq.flatMap { case (c, p, n) => Seq.fill(n.toInt)((p - c) / 1000.0) }),
      commits = runs.flatMap(_._3.toSeq.map { case (c, p, _) => (p, c) }),
      windowStart = w0, windowEnd = w1,
      digests = runs.map(_._4), extras = extras)
  }

  def checks(spark: SparkSession, digests: Seq[String]): Seq[Check] = {
    val root = last.getAbsolutePath
    val store = StateStore.read(spark, s"$root/store")
    val pairs = Dedup.jaccardVerify(Dedup.lshCandidates(store, "doc_id", "toks", shingleN, k, bands),
      store, "doc_id", "toks", shingleN).where(col("jaccard") >= jacc).count()
    val n = store.count()
    val distinct = store.select(md5(Dedup.normalized(col("text")))).distinct().count()
    // planted embedding twins whose original is indexed find it at rank 1
    val nb = spark.read.parquet((0 until batches).map(b => s"$root/nb/$b"): _*).where(col("rank") === 1)
      .select(col("query_id"), col("cos")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ids = store.select("doc_id").collect().map(_.getLong(0)).toSet
    val twins = info.twins.filter { case (t, o) => ids(t) && ids(o) }
    val missed = twins.count { case (t, _) => !nb.get(t).exists(_ > 0.9999) }
    Seq(
      Check("survivors published", n > 0, s"$n docs"),
      Check("no verified pair survives the corpus stream", pairs == 0, s"$pairs pairs"),
      Check("no exact duplicate survives", distinct == n, s"$distinct distinct of $n"),
      Check("planted embedding twins are each other's top neighbor", missed == 0,
        s"$missed of ${twins.size} missed"),
      Workload.sameDigests(digests))
  }

  val dominantLayers: Seq[String] = Seq("dedup", "text", "ml")
}
