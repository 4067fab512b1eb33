package graft

import graft.ml.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Codebook-drift measurement for the IVF index APPEND lifecycle
  * ([[graft.ml.Similarity.ivfIndexAppend]]): the 80% "historical" split
  * trains the codebook and builds the stored index, the 20% batch is
  * appended under that OLD codebook, and recall@k against the brute-force
  * truth over the full corpus is compared with a FULL RE-CLUSTER index
  * (codebook retrained on everything). The gap is the price of skipping
  * the re-cluster — the evidence line for choosing a re-cluster cadence.
  *
  * Usage: SPARK_GRAFT_DOC_FIXTURE=<dir> runMain graft.IvfAppendDrift
  * Prints one JSONL line:
  *   {"metric":"ivf_append_drift","k":…,"queries":…,
  *    "appended":{"recall_mean":…,"close_nb_recall_min":…,…},
  *    "reclustered":{…}}
  */
object IvfAppendDrift {
  def main(args: Array[String]): Unit = {
    val fixture = sys.env.getOrElse("SPARK_GRAFT_DOC_FIXTURE", "target/docfix")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = 5
    val nQueries = 64
    val nlist = 64
    val nprobe = 16
    val spark = Conf.engineDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val e = spark.read.parquet(s"$fixture/embeddings.parquet")
      .persist(Conf.storageLevel)
    val base = e.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val delta = e.where(pmod(col("vec_id"), lit(5)) === 0)
    val q = e.where(col("vec_id") < nQueries).persist(Conf.storageLevel)
    q.count(); e.count()
    val truth = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .persist(Conf.storageLevel)
    val kth = truth.groupBy("query_id").agg(min("cos").as("__kth"))
      .persist(Conf.storageLevel)
    kth.count()
    // IvfSweep's tie-aware recall split by query hardness (close-neighbor
    // queries must stay at recall 1.0; noise queries sit at ~nprobe/nlist
    // by construction under ANY codebook)
    def recallOf(approx: DataFrame): Map[String, Double] = {
      val r = truth.select("query_id", "neighbor_id")
        .join(approx.select(col("query_id"), col("neighbor_id"),
          lit(1).as("__hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((count(col("__hit")).cast("double") / count(lit(1))).as("rec"))
        .agg(min("rec"), avg("rec")).head()
      val eff = approx.join(kth, "query_id")
        .groupBy("query_id")
        .agg(first("__kth").as("__kth"),
          (sum(when(col("cos") >= col("__kth") - 1e-9, 1)
            .otherwise(0)).cast("double") / lit(k)).as("rec"))
        .agg(min(when(col("__kth") >= 0.8, col("rec"))),
          avg(when(col("__kth") >= 0.8, col("rec")))).head()
      def d(i: Int): Double =
        if (eff.isNullAt(i)) -1.0 else eff.getDouble(i)
      Map("recall_min" -> r.getDouble(0), "recall_mean" -> r.getDouble(1),
        "close_nb_recall_min" -> d(0), "close_nb_recall_mean" -> d(1))
    }
    def fmt(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1)
        .map { case (kk, v) => s""""$kk":${math.rint(v * 10000) / 10000}""" }
        .mkString("{", ",", "}")

    // appended index: codebook from the historical split only
    val dir = java.nio.file.Files.createTempDirectory("ivfdrift").toString
    val oldCents = Similarity.kmeansCentroids(base, "vec_id", "embedding",
      nlist = nlist, iters = 5)
    Similarity.ivfIndexWrite(base, "vec_id", "embedding", oldCents, dir)
    Similarity.ivfIndexAppend(delta, "vec_id", "embedding", dir)
    val appended = recallOf(Similarity.ivfIndexTopK(spark, dir, q,
      "vec_id", "embedding", k, nprobe = nprobe))

    // full re-cluster: codebook retrained on everything
    val newCents = Similarity.kmeansCentroids(e, "vec_id", "embedding",
      nlist = nlist, iters = 5)
    val reclustered = recallOf(Similarity.ivfTopK(q, e, "vec_id", "embedding",
      k, nprobe = nprobe, centroids = newCents))

    println(s"""{"metric":"ivf_append_drift","fixture":"$fixture","k":$k,""" +
      s""""queries":$nQueries,"nlist":$nlist,"nprobe":$nprobe,""" +
      s""""delta_frac":0.2,"appended":${fmt(appended)},""" +
      s""""reclustered":${fmt(reclustered)}}""")
    spark.stop()
  }
}
