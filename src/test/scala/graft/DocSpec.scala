package graft

import graft.dedup.Dedup
import graft.ml.Similarity
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the training-data pipeline operators: hand-computed
  * dedup cases and the ANN recall property the approximate LSH path must
  * satisfy vs brute force.
  */
class DocSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private def docsDf(texts: (Long, String)*): DataFrame =
    texts.toDF("doc_id", "text")

  test("exact dedup groups whitespace-normalized identical docs") {
    val d = docsDf(
      1L -> "Hello   world",
      2L -> "hello world",
      3L -> " HELLO WORLD \n",
      4L -> "something else")
    val out = Dedup.exactDupAnnotate(d, "doc_id", "text")
      .select("doc_id", "group_size", "canonical_id", "is_dup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(out == Set((1L, 3L, 1L, false), (2L, 3L, 1L, true),
      (3L, 3L, 1L, true), (4L, 1L, 4L, false)))
  }

  test("minhash LSH finds a high-jaccard near-dup pair and skips disjoint docs") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"w$i").mkString(" ") + " w99"
    val other = (100 to 130).map(i => s"v$i").mkString(" ")
    val d = docsDf(1L -> base, 2L -> nearDup, 3L -> other)
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val cand = Dedup.lshCandidates(d, "doc_id", "toks", 3, 16, 8)
    val verified = Dedup.jaccardVerify(cand, d, "doc_id", "toks", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(verified.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.8 })
    assert(!verified.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("minhash LSH maxBucket drops mega-buckets but keeps other-band pairs") {
    // 20 identical docs -> every band is one bucket of 20
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val d = docsDf((1L to 20L).map(_ -> base): _*)
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val uncapped = Dedup.lshCandidates(d, "doc_id", "toks", 3, 16, 8).count()
    assert(uncapped == 20L * 19 / 2)
    val capped = Dedup.lshCandidates(d, "doc_id", "toks", 3, 16, 8, maxBucket = 10).count()
    assert(capped == 0, "all buckets exceed the cap -> no candidates")
    // mixed corpus: a small near-dup pair must survive the cap that kills
    // the boilerplate cluster
    val nearA = (1 to 29).map(i => s"v$i").mkString(" ")
    val nearB = (1 to 28).map(i => s"v$i").mkString(" ") + " v99"
    val mixed = docsDf(((1L to 20L).map(_ -> base) ++ Seq(100L -> nearA, 101L -> nearB)): _*)
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val pairs = Dedup.lshCandidates(mixed, "doc_id", "toks", 3, 16, 8, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L)))
  }

  test("simhash pairs maxBucket drops the boilerplate cluster, keeps others") {
    // 12 identical docs share every 16-bit band -> four buckets of 12;
    // a separate near-identical pair lives in its own small buckets
    val boiler = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearA = (1 to 40).map(i => s"v$i").mkString(" ")
    val nearB = (1 to 39).map(i => s"v$i").mkString(" ") + " v99"
    val d = docsDf(((1L to 12L).map(_ -> boiler) ++
        Seq(100L -> nearA, 101L -> nearB)): _*)
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val sh = Dedup.simhash(d, "doc_id", "toks")
    val uncapped = Dedup.simhashPairs(sh, maxHamming = 3).count()
    assert(uncapped >= 12L * 11 / 2, s"identical cluster must pair: $uncapped")
    val capped = Dedup.simhashPairs(sh, maxHamming = 3, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a <= 12 && b <= 12 },
      s"mega-bucket pairs must be dropped: $capped")
    assert(capped.contains((100L, 101L)),
      s"small-bucket near-dup pair must survive the cap: $capped")
  }

  test("embedding LSH maxBucket drops the identical-vector cluster") {
    val boiler = Array.tabulate(16)(i => math.sin(i).toFloat)
    def noise(seed: Int) =
      Array.tabulate(16)(i => (((seed * 31 + i * 7) % 13) - 6).toFloat / 3f)
    val near = Array.tabulate(16)(i => noise(77)(i) + 0.01f * i)
    val rows = (1L to 12L).map(id => (id, boiler)) ++
      Seq(100L -> noise(77), 101L -> near, 200L -> noise(3), 201L -> noise(9))
    val e = rows.toDF("vec_id", "embedding")
    val uncapped = Similarity.lshNearDupPairs(e, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.exists { case (a, b) => a <= 12 && b <= 12 })
    val capped = Similarity.lshNearDupPairs(e, "vec_id", "embedding", 0.95,
        maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a <= 12 && b <= 12 },
      s"identical-vector mega-bucket must be dropped: $capped")
    assert(capped.contains((100L, 101L)),
      s"small-bucket near-dup pair must survive: $capped")
  }

  test("simhash: identical docs collide, near-identical docs are close") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val tweaked = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val d = docsDf(1L -> base, 2L -> base, 3L -> tweaked)
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val sh = Dedup.simhash(d, "doc_id", "toks").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L).length == 16 && sh(1L).matches("[0-9a-f]{16}"))
    val ham = spark.sql(s"SELECT 1").select(
      Dedup.hammingHex(lit(sh(1L)), lit(sh(3L))).as("h")).head().getInt(0)
    assert(ham > 0 && ham <= 16, s"hamming $ham should be small for 38/40 shared tokens")
  }

  test("langid picks the language with most stopword hits, ties alphabetical") {
    val d = docsDf(
      1L -> "the cat and the dog is in a house",
      2L -> "el perro y la casa es un lugar en madrid",
      3L -> "xyz qrs tuv") // zero everywhere → tie → 'de' (alphabetical first)
    val out = d.select(col("doc_id"),
        TextOps.langIdColumns(col("text")).last)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "de")
  }

  test("ANN: LSH top-k recall vs brute force on clustered vectors") {
    // 8 clusters of 12 vectors each: cluster centroid ± small deterministic noise
    val dim = 64
    def vec(cluster: Int, i: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        val base = if (d % 8 == cluster % 8) 1.0f else 0.1f
        base + 0.05f * (((cluster * 31 + i * 17 + d * 7) % 11) - 5)
      }
    val rows = for (c <- 0 until 8; i <- 0 until 12)
      yield ((c * 12 + i).toLong, vec(c, i).toSeq)
    val e = rows.toDF("vec_id", "embedding")
    val queries = e.where(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall $recall too low (found ${approx.size} pairs)")
  }

  test("ANN: IVF top-k recall vs brute force on clustered vectors") {
    val dim = 64
    def vec(cluster: Int, i: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        val base = if (d % 8 == cluster % 8) 1.0f else 0.1f
        base + 0.05f * (((cluster * 31 + i * 17 + d * 7) % 11) - 5)
      }
    val rows = for (c <- 0 until 8; i <- 0 until 12)
      yield ((c * 12 + i).toLong, vec(c, i).toSeq)
    val e = rows.toDF("vec_id", "embedding")
    val queries = e.where(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(queries, e, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 6)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low (found ${ivf.size} pairs)")
  }

  test("ANN: IVF with k-means centroids reaches high recall on clustered vectors") {
    val dim = 64
    def vec(cluster: Int, i: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        val base = if (d % 8 == cluster % 8) 1.0f else 0.1f
        base + 0.05f * (((cluster * 31 + i * 17 + d * 7) % 11) - 5)
      }
    val rows = for (c <- 0 until 8; i <- 0 until 12)
      yield ((c * 12 + i).toLong, vec(c, i).toSeq)
    val e = rows.toDF("vec_id", "embedding")
    val queries = e.where(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", 16, iters = 5)
    val ivf = Similarity.ivfTopK(queries, e, "vec_id", "embedding", 5,
        nprobe = 6, centroids = cents)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"k-means IVF recall $recall too low (found ${ivf.size} pairs)")
  }

  test("blocked nearDupPairs matches single-block result and emits no duplicates") {
    val dim = 16
    def vec(cluster: Int, i: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        val base = if (d % 4 == cluster % 4) 1.0f else 0.1f
        base + 0.05f * (((cluster * 31 + i * 17 + d * 7) % 11) - 5)
      }
    val rows = for (c <- 0 until 4; i <- 0 until 10)
      yield ((c * 10 + i).toLong, vec(c, i).toSeq)
    val e = rows.toDF("vec_id", "embedding")
    def pairs(blockRows: Int) =
      Similarity.nearDupPairs(e, "vec_id", "embedding", 0.8, blockRows)
        .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
    val single = pairs(1000) // 1 block: plain in-task double loop
    val blocked = pairs(7)   // 6 blocks: replicated block-pair buckets
    assert(single.nonEmpty)
    assert(blocked.length == blocked.toSet.size, "duplicate pair emitted")
    assert(single.toSet == blocked.toSet)
    assert(blocked.forall { case (a, b, _) => a < b })
  }

  test("probeNearDupPairs: exact pairs restricted to the deterministic probe sample") {
    val dim = 16
    def vec(cluster: Int, i: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        val base = if (d % 4 == cluster % 4) 1.0f else 0.1f
        base + 0.05f * (((cluster * 31 + i * 17 + d * 7) % 11) - 5)
      }
    val rows = for (c <- 0 until 4; i <- 0 until 10)
      yield ((c * 10 + i).toLong, vec(c, i).toSeq)
    val e = rows.toDF("vec_id", "embedding")
    val full = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty)
    // every-id-is-a-probe: the sampled truth IS the full truth, once each
    val all = Similarity.probeNearDupPairs(e, "vec_id", "embedding", 0.8, nProbes = 1000)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length == all.toSet.size, "duplicate pair emitted")
    assert(all.toSet == full)
    // bounded sample: exactly the full-truth pairs touching a probe id
    val probeIds = rows.map(_._1)
      .sortBy(id => (scala.util.hashing.byteswap64(id), id)).take(16).toSet
    val sub = Similarity.probeNearDupPairs(e, "vec_id", "embedding", 0.8, nProbes = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sub.length == sub.toSet.size, "duplicate pair emitted")
    assert(sub.toSet == full.filter { case (a, b) => probeIds(a) || probeIds(b) })
    assert(sub.forall { case (a, b) => a < b })
  }

  test("LSH nearDupPairs: subset of exact pairs, high recall on clustered vectors") {
    val dim = 64
    def vec(cluster: Int, i: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        val base = if (d % 8 == cluster % 8) 1.0f else 0.1f
        base + 0.05f * (((cluster * 31 + i * 17 + d * 7) % 11) - 5)
      }
    val rows = for (c <- 0 until 8; i <- 0 until 12)
      yield ((c * 12 + i).toLong, vec(c, i).toSeq)
    val e = rows.toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshNearDupPairs(e, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(approx.subsetOf(exact), "LSH verify must never emit a below-threshold pair")
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH near-dup recall $recall too low (${approx.size}/${exact.size})")
  }

  test("cosine is exact on hand vectors") {
    val d = Seq((1L, Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)),
      (2L, Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)),
      (3L, Seq(3.0f, 4.0f), Seq(3.0f, 4.0f)))
      .toDF("id", "a", "b")
      .select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(d(1L)) < 1e-12)
    assert(math.abs(d(2L) - 1.0) < 1e-12)
    assert(math.abs(d(3L) - 1.0) < 1e-12)
  }

  test("ngram jaccard prefix filter loses no pair vs brute force") {
    // deterministic corpus of overlapping word sequences: doc i covers
    // words [i, i+14] over a 40-word vocabulary -> a smooth range of true
    // jaccard values across pairs, plus two exact dups and one disjoint doc
    val rows = (0 until 25).map { i =>
      (i.toLong, (i until i + 15).map(w => s"w${w % 40}").mkString(" "))
    } ++ Seq(100L -> "z1 z2 z3 z4 z5 z6", 101L -> "z1 z2 z3 z4 z5 z6",
      200L -> "q1 q2 q3 q4 q5")
    val d = docsDf(rows: _*).withColumn("toks", TextOps.wsTokens(col("text")))
    for (t <- Seq(0.25, 0.5, 0.75)) {
      val fast = Dedup.ngramJaccardPairs(d, "doc_id", "toks", 3, t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val sh = d.select(col("doc_id"),
        TextOps.shingles(col("toks"), 3).as("sh")).where(size(col("sh")) > 0)
      val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
            (size(col("a.sh")) + size(col("b.sh")) -
              size(array_intersect(col("a.sh"), col("b.sh"))))).as("j"))
        .where(col("j") >= t)
        .select("a.doc_id", "b.doc_id").as[(Long, Long)].collect().toSet
      assert(fast == brute, s"threshold $t: prefix-filtered != brute")
      if (t == 0.5) assert(fast.contains(100L -> 101L) && !fast.exists(p => p._1 == 200L || p._2 == 200L))
    }
  }

  test("ngram jaccard rejects non-binary thresholds") {
    val d = docsDf(1L -> "a b c d").withColumn("toks", TextOps.wsTokens(col("text")))
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(d, "doc_id", "toks", 3, 0.3)
    }
  }

  test("connected components labels chains, cliques and leaves singletons out") {
    // chain 1-2-3-4, clique {10,11,12}, pair {20,21}; vertex 30 never appears
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L).forall(comp(_) == 20L))
    assert(!comp.contains(30L))
  }

  test("IVF parquet index: pruned scan, bit-identical to in-memory IVF") {
    val dim = 64
    def vec(cluster: Int, i: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        val base = if (d % 8 == cluster % 8) 1.0f else 0.1f
        base + 0.05f * (((cluster * 31 + i * 17 + d * 7) % 11) - 5)
      }
    val rows = for (c <- 0 until 8; i <- 0 until 12)
      yield ((c * 12 + i).toLong, vec(c, i).toSeq)
    val e = rows.toDF("vec_id", "embedding")
    val q = e.where(col("vec_id") < 6)
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 8, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.ivfIndexWrite(e, "vec_id", "embedding", cents, dir)
    val store = Similarity.ivfIndexTopK(spark, dir, q, "vec_id", "embedding", 5, nprobe = 2)
    val mem = Similarity.ivfTopK(q, e, "vec_id", "embedding", 5, nprobe = 2, centroids = cents)
    val sRows = store.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val mRows = mem.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(sRows == mRows, "store path must reproduce the in-memory IVF exactly")
    // the probe restriction must reach the scan as directory pruning
    val plan = store.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").matches("(?s).*PartitionFilters:\\[.*cell.*"),
      "cell IN (probes) must land in PartitionFilters")
  }

  test("IVF takedown: tombstoned vectors vanish from probes; compact folds them physically") {
    val dim = 64
    def vec(cluster: Int, i: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        val base = if (d % 8 == cluster % 8) 1.0f else 0.1f
        base + 0.05f * (((cluster * 31 + i * 17 + d * 7) % 11) - 5)
      }
    val rows = for (c <- 0 until 8; i <- 0 until 12)
      yield ((c * 12 + i).toLong, vec(c, i).toSeq)
    val e = rows.toDF("vec_id", "embedding")
    val q = e.where(col("vec_id") < 6)
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 8, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfdel").toString
    Similarity.ivfIndexWrite(e, "vec_id", "embedding", cents, dir)
    Similarity.ivfIndexDelete(e.where(col("vec_id") % 3 === 0).select("vec_id"),
      "vec_id", dir)
    val kept = e.where(col("vec_id") % 3 =!= 0)
    def canon(df: DataFrame): Set[(Long, Int, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val active = Similarity.ivfIndexTopK(spark, dir, q, "vec_id", "embedding", 5, nprobe = 3)
    val mem = canon(Similarity.ivfTopK(q, kept, "vec_id", "embedding", 5,
      nprobe = 3, centroids = cents))
    assert(canon(active) == mem,
      "active index must equal in-memory IVF over the filtered corpus")
    assert(!canon(active).exists(_._3 % 3 == 0), "tombstoned ids must not surface")
    // pruning must survive the tombstone anti-join
    val plan = active.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").matches("(?s).*PartitionFilters:\\[.*cell.*"),
      "cell IN (probes) must still land in PartitionFilters")
    // compaction: versioned-swap rewrite drops dead rows AND tombstones
    val dir2 = java.nio.file.Files.createTempDirectory("ivfdel2").toString
    Similarity.ivfCompact(spark, dir, dir2)
    assert(canon(Similarity.ivfIndexTopK(spark, dir2, q, "vec_id", "embedding",
      5, nprobe = 3)) == mem, "compacted index must answer identically")
    val ids2 = spark.read.parquet(dir2 + "/cells").select("id")
      .as[Long].collect().toSet
    assert(ids2.forall(_ % 3 != 0) && ids2 == kept.select("vec_id").as[Long].collect().toSet,
      "compacted cells must hold exactly the live rows")
    assert(!new java.io.File(dir2 + "/tombstones").exists,
      "compacted index carries no tombstones")
  }

  test("lshEmbeddingClusters: tight duplicate groups co-cluster, precision is structural") {
    // 3 groups of exact duplicates (+ tiny last-dim jitter keeping cos >
    // 0.999) and 6 spread singletons; verified stars must recover exactly
    // the duplicate groups at a tight threshold
    val dim = 32
    def base(g: Int): Array[Float] =
      Array.tabulate(dim)(d => if (d % 4 == g) 1.0f else 0.05f * ((g * 13 + d) % 7))
    val rows =
      (for (g <- 0 until 3; i <- 0 until 4) yield {
        val v = base(g).clone(); v(dim - 1) = v(dim - 1) + 0.0005f * i
        ((g * 10 + i).toLong, v.toSeq)
      }) ++ (for (s <- 0 until 6) yield {
        // hash-decorrelated directions (sinusoids of one frequency alias)
        ((100 + s).toLong, Array.tabulate(dim) { d =>
          (((scala.util.hashing.byteswap32(s * 101 + d) % 1000) / 500.0) - 1.0).toFloat
        }.toSeq)
      })
    val e = rows.toDF("vec_id", "embedding")
    val comp = Similarity.lshEmbeddingClusters(e, "vec_id", "embedding",
        threshold = 0.999, bandBits = 8)
      .as[(Long, Long)].collect().toMap
    for (g <- 0 until 3; i <- 0 until 4)
      assert(comp(g * 10L + i) == g * 10L, s"member $g/$i must join its group head")
    assert(!(100L until 106L).exists(comp.contains), "singletons stay out")
  }

  test("lshClusters equals components over materialized candidate pairs") {
    // two near-dup families + noise docs: star edges per bucket must yield
    // exactly the clusters the full candidate-pair graph yields
    val famA = (0 to 3).map(i => (i.toLong,
      (1 to 30).map(w => s"w$w").mkString(" ") + s" extra$i"))
    val famB = (10 to 12).map(i => (i.toLong,
      (1 to 25).map(w => s"v$w").mkString(" ") + s" tail$i"))
    val noise = (20 to 24).map(i => (i.toLong,
      (1 to 20).map(w => s"n${i}_$w").mkString(" ")))
    val d = docsDf(famA ++ famB ++ noise: _*)
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val viaStars = Dedup.lshClusters(d, "doc_id", "toks", 3, 16, 8)
      .as[(Long, Long)].collect().toMap
    val pairs = Dedup.lshCandidates(d, "doc_id", "toks", 3, 16, 8)
    val viaPairs = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(viaStars == viaPairs)
    assert(viaStars.nonEmpty && viaStars.keySet.forall(_ <= 12L),
      "noise docs must not cluster")
  }

  test("incremental dedup joins delta against base only") {
    val share = (1 to 30).map(i => s"w$i").mkString(" ")
    val base = docsDf(1L -> share, 2L -> ((1 to 28).map(i => s"w$i").mkString(" ") + " x y"))
      .withColumn("toks", TextOps.wsTokens(col("text")))
    // delta: one near-dup of base, one exact internal delta pair (10, 11),
    // one disjoint doc — only the base match may be reported
    val delta = docsDf(
      10L -> (share + " z1"), 11L -> (share + " z1"),
      12L -> (100 to 130).map(i => s"q$i").mkString(" "))
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val out = Dedup.incrementalLshPairs(base, delta, "doc_id", "toks",
        3, 16, 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.forall { case (a, b) => a >= 10L && b < 10L },
      s"pairs must be delta-vs-base only, got $out")
    assert(out.contains(10L -> 1L) && out.contains(11L -> 1L),
      "both delta copies of the shared text must match base doc 1")
    assert(!out.exists(p => p._1 == 12L), "disjoint delta doc matches nothing")
  }

  test("hash-gated sampling: deterministic, per-stratum rates, zero shuffles") {
    import graft.ml.Sampling
    val rows = (0 until 2000).map(i => (i.toLong, (i % 4).toString))
    val df = rows.toDF("id", "cls")
    val rates = Map("0" -> 0.5, "1" -> 1.0, "2" -> 0.0)
    val s1 = Sampling.stratifiedSample(df, "id", "cls", rates, "t")
    val s2 = Sampling.stratifiedSample(df, "id", "cls", rates, "t")
    val ids1 = s1.select("id").as[Long].collect().toSet
    assert(ids1 == s2.select("id").as[Long].collect().toSet, "must be deterministic")
    val byCls = s1.groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(byCls("1") == 500, "rate-1.0 stratum keeps every row")
    assert(!byCls.contains("2") && !byCls.contains("3"),
      "rate-0 and unlisted strata drop entirely")
    assert(math.abs(byCls("0") - 250) < 60, s"rate-0.5 stratum kept ${byCls("0")}/500")
    // selection must stay a map-side predicate — no shuffle anywhere
    assert(!s1.queryExecution.executedPlan.toString.contains("Exchange"),
      "stratified sampling must not shuffle")
    // different salt -> different (but still deterministic) selection
    val ids3 = Sampling.stratifiedSample(df, "id", "cls", rates, "u")
      .select("id").as[Long].collect().toSet
    assert(ids1 != ids3)
  }

  test("splitAssign: every row in exactly one split, fractions roughly honored") {
    import graft.ml.Sampling
    val df = (0 until 5000).map(_.toLong).toDF("id")
    val out = Sampling.splitAssign(df, "id", "sp",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 5000, "partition covers every row")
    assert(math.abs(counts("train") - 4000) < 200)
    assert(math.abs(counts("val") - 500) < 120)
    assert(math.abs(counts("test") - 500) < 120)
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(df, "id", "sp", Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  /** Force the DISTRIBUTED pointer-jumping tier for the scope of `f`
    * (small test graphs otherwise take the driver union-find fast path).
    */
  private def forceDistributedCc[T](f: => T): T = {
    System.setProperty("spark.graft.cc.driverMaxEdges", "0")
    try f finally System.clearProperty("spark.graft.cc.driverMaxEdges")
  }

  test("connected components: pointer jumping converges a 300-chain inside maxIter 30") {
    // diameter 299 — plain min-propagation would need 299 rounds and
    // silently return unconverged labels at maxIter 30; pointer jumping
    // needs ~log2(299) ≈ 9. Forced onto the distributed tier: the chain
    // shape is exactly what the loop must converge at corpus scale.
    val n = 300
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val comp = forceDistributedCc {
      Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    }
    assert((1 to n).forall(i => comp(i.toLong) == 1L))
    // the same chain through the driver fast path: identical labels
    val fast = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(fast == comp)
  }

  test("connected components match union-find truth on random graphs (both tiers)") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 80
      val es = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // independent union-find truth (different code from the production
      // fast path: array-based, no path compression)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = (0 until n).map(i => i.toLong ->
        (0 until n).filter(j => find(j) == find(i)).min.toLong).toMap
      val touched = es.flatMap(e => Seq(e._1, e._2)).toSet
      // tier 1: driver fast path (default for graphs this small)
      val comp = Dedup.connectedComponents(es.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      // tier 2: distributed pointer jumping, forced
      val dist = forceDistributedCc {
        Dedup.connectedComponents(es.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
      }
      assert(comp.keySet == touched, s"seed $seed: vertex set mismatch")
      touched.foreach { v =>
        assert(comp(v) == truth(v), s"seed $seed: vertex $v -> ${comp(v)}, want ${truth(v)}")
      }
      assert(dist == comp, s"seed $seed: tiers disagree")
    }
  }

  test("connected components: driver-tier result representation is SIZED at the label bound") {
    // below `localRelationMaxLabels` the result is a LocalRelation (exact
    // size stats → downstream labels join broadcasts for free); above it,
    // RDD-backed — near the real 2e6-edge bound a LocalRelation would
    // embed ~4M tuples into every downstream serialized plan tree. Pin
    // BOTH representations at the bound: n labels with the threshold at n
    // stays local (<=), threshold at n-1 goes distributed.
    val n = 50
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    System.setProperty("spark.graft.cc.driverMaxEdges", (n - 1).toString)
    try {
      System.setProperty("spark.graft.cc.localRelationMaxLabels", n.toString)
      val local = Dedup.connectedComponents(edges)
      assert(Dedup.lastCcRounds == 0, "expected the driver union-find tier")
      assert(local.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
        "small driver-tier CC result should be a LocalRelation (size stats)")
      assert((1 to n).forall(i =>
        local.as[(Long, Long)].collect().toMap.apply(i.toLong) == 1L))

      System.setProperty("spark.graft.cc.localRelationMaxLabels", (n - 1).toString)
      val dist = Dedup.connectedComponents(edges)
      assert(Dedup.lastCcRounds == 0, "expected the driver union-find tier")
      val plan = dist.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LocalRelation"),
        s"over-bound driver-tier CC result embedded as LocalRelation:\n$plan")
      val comp = dist.as[(Long, Long)].collect().toMap
      assert((1 to n).forall(i => comp(i.toLong) == 1L))
    } finally {
      System.clearProperty("spark.graft.cc.driverMaxEdges")
      System.clearProperty("spark.graft.cc.localRelationMaxLabels")
    }
  }

  test("connected components: reliable-checkpoint mode matches localCheckpoint results") {
    // the cluster-durable path: labels go through Dataset.checkpoint into
    // a fault-tolerant dir instead of executor-local blocks — results must
    // be identical, and checkpoint files must actually land in the dir
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val edges = ((1 until 40).map(i => (i.toLong, (i + 1).toLong)) ++
      Seq((100L, 101L), (101L, 102L), (200L, 100L))).toDF("id_a", "id_b")
    forceDistributedCc { // checkpointing exists only on the distributed tier
      val local = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
      System.setProperty("spark.graft.checkpoint.dir", dir)
      val priorDir = spark.sparkContext.getCheckpointDir
      try {
        val reliable = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
        assert(reliable === local)
        def files(p: java.io.File): Seq[java.io.File] =
          Option(p.listFiles).toSeq.flatten.flatMap(f =>
            if (f.isDirectory) files(f) else Seq(f))
        assert(files(new java.io.File(dir)).nonEmpty,
          "reliable mode wrote no checkpoint files")
        // the caller's checkpoint-dir state is restored EXACTLY — unset
        // stays unset (the r9 caveat: leaving it pointed at the last CC
        // round dir silently redirected later checkpoint users)
        assert(spark.sparkContext.getCheckpointDir == priorDir,
          s"checkpoint dir not restored: ${spark.sparkContext.getCheckpointDir} vs $priorDir")
      } finally System.clearProperty("spark.graft.checkpoint.dir")
    }
  }

  test("repetitionStats: top/dup n-gram coverage on hand-computed docs") {
    import org.apache.spark.sql.functions._
    // "a b a b a b": 2-grams = [a b, b a, a b, b a, a b]
    //   counts: "a b"×3, "b a"×2 → top = 3·3 = 9; dup = 3·3 + 2·3 = 15
    // "x y z": 2-grams = [x y, y z] all unique → top = 3, dup = 0
    // "q": one truncated 2-gram "q" → top = 1, dup = 0
    val d = docsDf(1L -> "a b a b a b", 2L -> "x y z", 3L -> "q")
      .select(col("doc_id"), TextOps.wsTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextOps.repetitionStats(TextOps.shinglesAll(col("toks"), 2)).as("s"))
      .select(col("doc_id"), col("s.top"), col("s.dup"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(d == Set((1L, 9L, 15L), (2L, 3L, 0L), (3L, 1L, 0L)))
  }

  test("keepBest: argmax-quality survivor per cluster, id tie-break, singletons keep themselves") {
    import org.apache.spark.sql.functions._
    // cluster {1,2,3}: doc 2 scores highest → kept; cluster {4,5}: equal
    // scores (exact duplicates) → min-id 4 kept; 6 is a singleton
    val scored = Seq((1L, 0.3), (2L, 0.9), (3L, 0.5),
      (4L, 0.7), (5L, 0.7), (6L, 0.1)).toDF("doc_id", "q")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "component")
    val out = Dedup.keepBest(scored, comp, "doc_id", "q")
      .select("doc_id", "cluster_id", "kept_id", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(out == Set(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (4L, 4L, 4L, true), (5L, 4L, 4L, false),
      (6L, 6L, 6L, true)))
  }

  test("stored-index ingest sequencing: probe before append hides within-batch dups, next batch sees them") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("probeseq").toString
    val tX = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tY = "one two three four five six seven eight nine ten eleven"
    def mk(rows: (Long, String)*): DataFrame =
      rows.toDF("doc_id", "text")
        .withColumn("toks", TextOps.wsTokens(col("text")))
    val base = mk(1L -> tX, 2L -> "totally unrelated filler content words here")
    val batch1 = mk(10L -> tX, 11L -> tY, 12L -> tY)
    val batch2 = mk(20L -> tY)
    Dedup.writeLshIndex(base, "doc_id", "toks", shingleN = 3, k = 16,
      bands = 8, "docspec_probe_seq", tmp + "/idx", buckets = 2)
    def probe(store: DataFrame, batch: DataFrame): Set[(Long, Long)] =
      Dedup.incrementalLshPairsFrom(spark.table("docspec_probe_seq"),
          store, batch, "doc_id", "toks", 3, 16, 8, threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val p1 = probe(base, batch1)
    Dedup.appendLshIndex(batch1, "doc_id", "toks", 3, 16, 8,
      "docspec_probe_seq", buckets = 2)
    val p2 = probe(base.unionByName(batch1), batch2)
    // batch 1: the base dup surfaces; the 11↔12 within-batch pair is
    // invisible — the probe ran before batch 1's own bands landed
    assert(p1 == Set(10L -> 1L))
    // batch 2: both copies of the template appended by batch 1 surface
    assert(p2 == Set(20L -> 11L, 20L -> 12L))
  }

  test("repetitionStats: empty token array yields zero coverage") {
    import org.apache.spark.sql.functions._
    val d = docsDf(1L -> "   ")
      .select(col("doc_id"), TextOps.wsTokens(col("text")).as("toks"))
      .select(TextOps.repetitionStats(TextOps.shinglesAll(col("toks"), 3)).as("s"))
      .select(col("s.top"), col("s.dup"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(d.toSeq == Seq((0L, 0L)))
  }

  test("streaming corpus gates: every hook and crash variant reproduces its " +
      "uninterrupted pipeline's rows") {
    // the six gates drive one pipeline body; each group shares one DuckDB
    // oracle, so compaction, index folds and crash replays must leave
    // exactly the plain drain's survivor rows
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    def rows(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq
    try {
      Seq(
        Seq("streaming_corpus_e2e", "streaming_corpus_state_compact",
          "streaming_corpus_index_fold", "streaming_corpus_compact_crash_replay"),
        Seq("streaming_corpus_e2e_full", "streaming_corpus_e2e_crash_replay")
      ).foreach { group =>
        val ref = rows(group.head)
        assert(ref.nonEmpty, s"${group.head} kept no docs")
        group.tail.foreach(q =>
          assert(rows(q) == ref, s"$q diverged from ${group.head}"))
      }
    } finally {
      val runId = graft.queries.StreamQueries.runId
      new java.io.File(sys.props("java.io.tmpdir")).listFiles()
        .filter(f => f.getName.startsWith("graft_gate_sc") &&
          f.getName.endsWith(s"_$runId"))
        .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
    }
  }

  /** Plan walks that descend into adaptive query stages; a
    * `ReusedExchange` is a leaf, so a reused subtree counts once.
    */
  private object PlanNodes
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The formulation `jaccardVerify` had before it read `pairs` once: the
    * pairs' ids (read twice more, one branch per side) semi-join `docs`
    * down before shingling.
    */
  private def jaccardVerifyIdSet(pairs: DataFrame, docs: DataFrame,
                                 idCol: String, toksCol: String,
                                 shingleN: Int): DataFrame = {
    val ids = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val sh = docs.join(ids, col(idCol) === col("id"), "leftsemi")
      .select(col(idCol).as("id"),
        TextOps.shingles(col(toksCol), shingleN).as("sh"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  private def verifyRows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted(Ordering.Tuple4(Ordering.Long, Ordering.Long,
        Ordering.Long, Ordering.Double.TotalOrdering))

  test("jaccardVerify equals the id-set formulation it replaced, as raw doubles") {
    val tmp = java.nio.file.Files.createTempDirectory("jverify").toString
    try {
      def toks(i: Int, n: Int): Seq[String] = (0 until n).map(j => s"w${(i * 7 + j * 3) % 23}")
      // far more docs than pairs, plus an empty doc and one shorter than shingleN
      val rows = (1 to 3000).map(i => (i.toLong, toks(i, 6 + i % 9))) ++
        Seq(5000L -> Seq.empty[String], 5001L -> Seq("a", "b"))
      rows.toDF("doc_id", "toks").write.parquet(tmp + "/docs")
      rows.take(120).toDF("doc_id", "toks").write.parquet(tmp + "/sample")
      val docs = spark.read.parquet(tmp + "/docs")
      val edge = Seq(
        1L -> 2L, 1L -> 2L, 1L -> 2L, // duplicate pair rows
        3L -> 26L, 4L -> 27L, 10L -> 2999L,
        5000L -> 7L, 5000L -> 5001L, 5001L -> 8L, 5000L -> 5000L,
        9L -> 9999L, 8888L -> 11L, 7777L -> 6666L) // ids missing from docs
        .toDF("id_a", "id_b")
      // candidate pairs as the pipeline makes them, plus the edge cases
      val cand = Dedup.lshCandidates(spark.read.parquet(tmp + "/sample"),
        "doc_id", "toks", 3, 16, 8)
      for (pairs <- Seq(edge, cand, cand.unionByName(edge))) {
        val got = Dedup.jaccardVerify(pairs, docs, "doc_id", "toks", 3)
        val want = verifyRows(jaccardVerifyIdSet(pairs, docs, "doc_id", "toks", 3))
        assert(verifyRows(got) == want)
      }
      val want = verifyRows(jaccardVerifyIdSet(edge, docs, "doc_id", "toks", 3))
      assert(want.count(p => p._1 == 1L && p._2 == 2L) == 3 &&
        !want.exists(p => p._1 >= 6666L || p._2 >= 6666L) &&
        want.exists(p => p._1 == 5000L && p._2 == 5001L && p._4 == 0.0) &&
        want.exists(p => p._1 == 5000L && p._2 == 5000L && p._4 == 1.0),
        s"fixture lost a case: $want")
      // behind a candidate subtree, both join sides share one (id, toks)
      // scan of docs
      val got = Dedup.jaccardVerify(cand, docs, "doc_id", "toks", 3)
      assert(got.collect().nonEmpty)
      val plan = got.queryExecution.executedPlan
      val scans = PlanNodes.collect(plan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.endsWith("/docs")) => f
      }
      assert(scans.size == 1, s"docs scanned ${scans.size} times:\n$plan")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("incrementalLshPairsFrom plans its candidate subtree once and no SortAggregate") {
    val tmp = java.nio.file.Files.createTempDirectory("lshonce").toString
    val table = "docspec_lsh_once"
    try {
      def mk(lo: Int, hi: Int, path: String): DataFrame = {
        (lo until hi).map(i => (i.toLong, (0 until 12).map(j => s"w${(i % 17 * 5 + j) % 40}")))
          .toDF("doc_id", "toks").write.parquet(path)
        spark.read.parquet(path)
      }
      val base = mk(0, 60, tmp + "/base")
      val delta = mk(100, 130, tmp + "/delta")
      Dedup.writeLshIndex(base, "doc_id", "toks", 3, 16, 8, table, tmp + "/idx", buckets = 2)
      val out = Dedup.incrementalLshPairsFrom(spark.table(table), base, delta,
        "doc_id", "toks", 3, 16, 8, threshold = 0.5)
      assert(out.collect().nonEmpty, "fixture must produce verified pairs")
      val plan = out.queryExecution.executedPlan
      // the delta's band rows are the only Generate: one per planned copy
      // of the candidate subtree
      val gens = PlanNodes.collect(plan) {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }
      assert(gens.size == 1, s"candidate subtree planned ${gens.size} times:\n$plan")
      val sortAggs = PlanNodes.collect(plan) {
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }
      assert(sortAggs.isEmpty, s"SortAggregate in the probe:\n$plan")
      val baseScans = PlanNodes.collect(plan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.endsWith("/base")) => f
      }
      assert(baseScans.size == 1, s"base docs scanned ${baseScans.size} times:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  /** 8 clusters × 12 vectors (the IVF tests' fixture). */
  private def ivfFixture(): DataFrame = {
    val dim = 64
    def vec(cluster: Int, i: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        val base = if (d % 8 == cluster % 8) 1.0f else 0.1f
        base + 0.05f * (((cluster * 31 + i * 17 + d * 7) % 11) - 5)
      }
    (for (c <- 0 until 8; i <- 0 until 12)
      yield ((c * 12 + i).toLong, vec(c, i).toSeq)).toDF("vec_id", "embedding")
  }

  test("IVF schema constants equal the inferred schemas of the index directories") {
    val e = ivfFixture()
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfschema").toString
    try {
      Similarity.ivfIndexWrite(e.where(col("vec_id") < 50), "vec_id", "embedding", cents, dir)
      Similarity.ivfIndexAppend(e.where(col("vec_id") >= 50), "vec_id", "embedding", dir)
      Similarity.ivfIndexDelete(e.where(col("vec_id") % 7 === 0), "vec_id", dir)
      val cells = spark.read.parquet(dir + "/cells").schema
      assert(org.apache.spark.sql.types.StructType(cells.filterNot(_.name == "cell")) ==
        Similarity.ivfCellsSchema)
      assert(spark.read.schema(Similarity.ivfCellsSchema).parquet(dir + "/cells").schema == cells,
        "the known-schema read must still discover the cell partition column")
      assert(spark.read.parquet(dir + "/centroids").schema == Similarity.ivfCentroidsSchema)
      assert(spark.read.parquet(dir + "/tombstones").schema == Similarity.ivfTombstonesSchema)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ivfCompact: copying clean cells answers like the full rewrite, with and without tombstones") {
    val e = ivfFixture()
    val q = e.where(col("vec_id") % 12 < 2)
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 8, iters = 4)
    val tmp = java.nio.file.Files.createTempDirectory("ivfcopy").toString
    // the rewrite-every-cell compaction ivfCompact replaced
    def rewrite(dir: String, newDir: String): Unit = {
      val cells = spark.read.parquet(s"$dir/cells")
      val live =
        if (!new java.io.File(s"$dir/tombstones").exists) cells
        else cells.join(spark.read.parquet(s"$dir/tombstones").select("id"), Seq("id"), "left_anti")
      live.write.mode("overwrite").partitionBy("cell").parquet(s"$newDir/cells")
      spark.read.parquet(s"$dir/centroids").write.mode("overwrite").parquet(s"$newDir/centroids")
    }
    def topK(dir: String): Set[(Long, Int, Long, Double)] =
      Similarity.ivfIndexTopK(spark, dir, q, "vec_id", "embedding", 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    def cellRows(dir: String): Set[(Long, Long, Seq[Double])] =
      spark.read.parquet(s"$dir/cells").select(col("cell").cast("long"), col("id"), col("nv"))
        .as[(Long, Long, Seq[Double])].collect().toSet
    def files(dir: String, cell: String): Set[String] =
      Option(new java.io.File(s"$dir/cells/$cell").list()).toSet.flatten
        .filter(_.endsWith(".parquet"))
    try {
      val dir = tmp + "/v0"
      Similarity.ivfIndexWrite(e.where(col("vec_id") < 60), "vec_id", "embedding", cents, dir)
      Similarity.ivfIndexAppend(e.where(col("vec_id") >= 60), "vec_id", "embedding", dir)
      Similarity.ivfCompact(spark, dir, tmp + "/copy0")
      rewrite(dir, tmp + "/rewrite0")
      assert(topK(tmp + "/copy0") == topK(tmp + "/rewrite0") &&
        topK(tmp + "/copy0") == topK(dir))
      assert(cellRows(tmp + "/copy0") == cellRows(tmp + "/rewrite0"))
      val cellNames = new java.io.File(dir + "/cells").list().filter(_.startsWith("cell=")).sorted
      assert(cellNames.length > 1)
      assert(cellNames.forall(c => files(dir, c) == files(tmp + "/copy0", c)),
        "with no tombstones every cell is copied file by file")
      // tombstone two vectors of ONE cell: that cell is rewritten, the rest copied
      val byCell = spark.read.parquet(dir + "/cells").select(col("cell").cast("long"), col("id"))
        .as[(Long, Long)].collect().groupBy(_._1)
      val (dirtyCell, members) = byCell.filter(_._2.length > 2).minBy(_._1)
      Similarity.ivfIndexDelete(members.take(2).map(_._2).toSeq.toDF("vec_id"), "vec_id", dir)
      Similarity.ivfCompact(spark, dir, tmp + "/copy1")
      rewrite(dir, tmp + "/rewrite1")
      val live = topK(tmp + "/copy1")
      assert(live == topK(tmp + "/rewrite1") && live == topK(dir))
      assert(cellRows(tmp + "/copy1") == cellRows(tmp + "/rewrite1"))
      assert(!cellRows(tmp + "/copy1").exists(r => members.take(2).exists(_._2 == r._2)))
      assert(files(tmp + "/copy1", s"cell=$dirtyCell").intersect(files(dir, s"cell=$dirtyCell")).isEmpty,
        "the dirty cell must be rewritten")
      assert(cellNames.filter(_ != s"cell=$dirtyCell")
        .forall(c => files(dir, c) == files(tmp + "/copy1", c)), "clean cells must be copied")
      assert(!new java.io.File(tmp + "/copy1/tombstones").exists)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }
}
