package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Boilerplate-skewed corpus fixture for [[DocBench]]: explodes the source
  * `documents` (and `embeddings`) tables to millions of rows with an
  * injected TEMPLATE MEGA-CLUSTER — the adversarial shape the dedup/LSH
  * family's `maxBucket` caps and 4×16-bit banding were designed for
  * (boilerplate-heavy web corpora: ToS pages, cookie banners, templated
  * listings).
  *
  * Row classes (deterministic by global id `gid`; `rep == 0` wins the
  * when-chain so every original survives — a boiler-class test first
  * would swallow the rep-0 originals of even doc_ids, gid = nRep·even ≡ 0
  * (mod 8), which is exactly how the planted pair class was once lost):
  *  - `rep == 0`: the original corpus row (organic near-dups preserved).
  *  - `gid % 8 == 0` (~12.5% of replicas): the fixed 40-token template
  *    plus ONE unique token — near-identical docs whose minhash/simhash
  *    band signatures collide into buckets of ~10⁵ (the mega-bucket).
  *    Embedding twin: one fixed constant vector.
  *  - `rep == 1` on every (20k+5)th family: original text + one token — a
  *    genuine bounded near-dup pair per family (output sanity > 0). The
  *    odd residue keeps rep 1's gid = nRep·doc_id + 1 off the boiler
  *    class for even nRep (same residue argument as the embedding twin).
  *  - everything else: 40 globally-unique tokens (noise — singleton
  *    buckets). Embedding twin: noise-dominated jitter of the original
  *    (sibling cosine far below threshold, so the true pair set stays
  *    bounded — a corpus of exact-duplicate vectors has a quadratic
  *    ANSWER, which no engine can make linear).
  *
  * Usage: runMain graft.DocFixture [srcDir] [outDir] [nRepDocs] [nRepEmb]
  * Defaults give 5000×300 = 1.5M docs and 2000×100 = 200k vectors.
  */
object DocFixture {
  val template: String =
    "this website uses cookies to improve your experience please accept " +
      "the terms of service and the privacy policy all rights reserved " +
      "copyright notice applies to every page of this site contact support " +
      "for assistance with account access and billing questions thank you " +
      "for visiting"

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/docfix")
    val nRep = args.lift(2).map(_.toInt).getOrElse(300)
    // 2000×100 = 200k vectors: the LSH verify joins ship two 64-double
    // arrays per candidate (~n²/keyspace pairs) — 200k keeps the 8-core
    // run in minutes while the mega-bucket skew story is unchanged
    val nRepEmb = args.lift(3).map(_.toInt).getOrElse(100)
    val spark = Conf.engineDefaults(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    spark.read.parquet(s"$src/documents.parquet")
      .withColumn("rep", explode(lit((0 until nRep).toArray)))
      .withColumn("gid", col("doc_id") * nRep + col("rep"))
      .withColumn("text",
        when(col("rep") === 0, col("text"))
        .when(col("gid") % 8 === 0,
          concat(lit(template + " u"), col("gid")))
        .when(col("rep") === 1 && col("doc_id") % 20 === 5,
          concat(col("text"), lit(" nd"), col("gid")))
        .otherwise(concat_ws(" ",
          transform(sequence(lit(0), lit(39)),
            i => concat(lit("u"), col("gid"), lit("x"), i)))))
      .select(col("gid").as("doc_id"), col("text"), col("lang"),
        col("source"), length(col("text")).as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    spark.read.parquet(s"$src/embeddings.parquet")
      .withColumn("rep", explode(lit((0 until nRepEmb).toArray)))
      .withColumn("gid", col("vec_id") * nRepEmb + col("rep"))
      .withColumn("embedding",
        // rep == 0 first for the same original-preservation reason as the
        // documents side (even-family rep-0 gids are ≡ 0 mod 8)
        when(col("rep") === 0, col("embedding"))
        .when(col("gid") % 8 === 0,
          expr("transform(sequence(0, size(embedding) - 1), " +
            "i -> cast(sin(i) as float))"))
        // reps 1 AND 2 of every (20k+5)th family are tiny jitters of the
        // same original — a bounded set of TRUE high-cosine pairs
        // (cos ≈ 0.999 to each other) that the capped LSH must still find
        // (recall-under-skew evidence). v ≡ 5 (mod 20) is odd, so for the
        // default (even) rep counts gid = nRep·v + r stays off the
        // gid % 8 == 0 boiler class — neither endpoint is swallowed into
        // the constant cluster.
        .when(col("rep").isin(1, 2) && col("vec_id") % 20 === 5,
          expr("transform(embedding, (x, i) -> " +
            "cast(x + (pmod(hash(gid, i), 9) - 4) / 400.0 as float))"))
        .otherwise(expr("transform(embedding, (x, i) -> cast(x * 0.2 + " +
          "(pmod(hash(gid, i), 1000) - 500) / 500.0 as float))")))
      .select(col("gid").as("vec_id"), col("embedding"), col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val nd = spark.read.parquet(s"$out/documents.parquet").count()
    val ne = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(s"""{"metric":"doc_fixture","src":"$src","out":"$out","docs":$nd,"embeddings":$ne}""")
    spark.stop()
  }
}
