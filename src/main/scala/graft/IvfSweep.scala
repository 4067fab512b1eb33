package graft

import graft.ml.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** (nlist, nprobe) tuning sweep for the IVF-kmeans ANN path over the
  * [[DocFixture]] embeddings (200k × 64): per config, measures codebook
  * build time, query wall time and per-query recall@k against the
  * brute-force truth — the evidence line for choosing the gate's
  * (nlist, nprobe) and its recall floor.
  *
  * Usage: SPARK_GRAFT_DOC_FIXTURE=<dir> [SPARK_GRAFT_IVF_CONFIGS=32:16,64:32]
  *        runMain graft.IvfSweep
  * Prints one JSONL line:
  *   {"metric":"ivf_sweep","fixture":…,"k":…,"queries":…,
  *    "configs":[{"nlist":…,"nprobe":…,"train_sec":…,"query_sec":…,
  *                "recall_min":…,"recall_mean":…},…]}
  */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val fixture = sys.env.getOrElse("SPARK_GRAFT_DOC_FIXTURE", "target/docfix")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = 5
    val nQueries = 64
    val configs = sys.env.getOrElse("SPARK_GRAFT_IVF_CONFIGS",
        "32:16,64:16,64:32,128:32,128:64,256:64")
      .split(",").toSeq.map { s =>
        val Array(a, b) = s.trim.split(":"); (a.toInt, b.toInt)
      }
    val spark = Conf.engineDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = spark.read.parquet(s"$fixture/embeddings.parquet")
      .persist(Conf.storageLevel)
    val q = e.where(col("vec_id") < nQueries).persist(Conf.storageLevel)
    q.count(); e.count()
    val truth = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .persist(Conf.storageLevel)
    truth.count()
    // kth-best true cosine per query: the tie-aware bar — an approx
    // neighbor at least this close is as good as a "true" one even if its
    // id differs (the fixture's planted near-identical clusters make
    // id-set recall punish arbitrary tie selection)
    val kth = truth.groupBy("query_id").agg(min("cos").as("__kth"))
      .persist(Conf.storageLevel)
    kth.count()
    def recallOf(approx: org.apache.spark.sql.DataFrame): (Double, Double, Double, Double) = {
      val r = truth.select("query_id", "neighbor_id")
        .join(approx.select(col("query_id"), col("neighbor_id"),
          lit(1).as("__hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((count(col("__hit")).cast("double") / count(lit(1))).as("rec"))
        .agg(min("rec"), avg("rec")).head()
      // split by query hardness: a query whose kth-best TRUE cosine is
      // high has genuine near neighbors (the planted clusters) and IVF
      // must find them; a noise query's "neighbors" are uniform in cell
      // space and recall ≈ nprobe/nlist by construction — no tuning
      // short of exhaustive probing moves it
      val eff = approx.join(kth, "query_id")
        .groupBy("query_id")
        .agg(first("__kth").as("__kth"),
          (sum(when(col("cos") >= col("__kth") - 1e-9, 1)
            .otherwise(0)).cast("double") / lit(k)).as("rec"))
        .agg(min(when(col("__kth") >= 0.8, col("rec"))),
          avg(when(col("__kth") >= 0.8, col("rec")))).head()
      // a corpus without planted clusters has NO close-neighbor queries:
      // the conditional aggregates come back null — report -1, not an NPE
      def d(i: Int): Double = if (eff.isNullAt(i)) -1.0 else eff.getDouble(i)
      (r.getDouble(0), r.getDouble(1), d(0), d(1))
    }
    val rows = configs.map { case (nlist, nprobe) =>
      val t0 = System.nanoTime()
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        nlist = nlist, iters = 5)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val approx = Similarity.ivfTopK(q, e, "vec_id", "embedding", k,
        nprobe = nprobe, centroids = cents)
        .select("query_id", "neighbor_id", "cos").persist()
      approx.count()
      val tQuery = (System.nanoTime() - t1) / 1e9
      val (rMin, rMean, eMin, eMean) = recallOf(approx)
      approx.unpersist(blocking = false)
      System.err.println(f"IVFSWEEP nlist=$nlist nprobe=$nprobe " +
        f"train=$tTrain%.2f query=$tQuery%.2f id_recall_min=$rMin%.3f mean=$rMean%.3f " +
        f"close_nb_min=$eMin%.3f mean=$eMean%.3f")
      f"""{"nlist":$nlist,"nprobe":$nprobe,"train_sec":$tTrain%.3f,"query_sec":$tQuery%.3f,"recall_min":$rMin%.4f,"recall_mean":$rMean%.4f,"close_nb_recall_min":$eMin%.4f,"close_nb_recall_mean":$eMean%.4f}"""
    }
    println(s"""{"metric":"ivf_sweep","fixture":"$fixture","k":$k,"queries":$nQueries,"configs":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
