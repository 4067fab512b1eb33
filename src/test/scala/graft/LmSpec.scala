package graft

import graft.text.{Bpe, LangModel, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed cases for the language-model operators: BPE merge
  * training (classic low/lower/newest/widest vocabulary from Sennrich et
  * al. 2016 §3), the merge fold's left-to-right non-overlap semantics,
  * add-k bigram perplexity, and TF-IDF ranking.
  */
class LmSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  test("bpe merge fold is left-to-right non-overlapping") {
    val out = Seq(Tuple1(Seq("a", "a", "a", "a", "a"))).toDF("syms")
      .select(Bpe.applyMerge(col("syms"), "a", "a").as("m"))
      .as[Seq[String]].head()
    assert(out === Seq("aa", "aa", "a"))
    // merged symbol is not re-examined within the pass
    val out2 = Seq(Tuple1(Seq("a", "b", "b"))).toDF("syms")
      .select(Bpe.applyMerge(col("syms"), "a", "b").as("m"))
      .as[Seq[String]].head()
    assert(out2 === Seq("ab", "b"))
  }

  test("bpe trains the classic vocabulary in frequency order") {
    // Sennrich's example shape: es (6+3=9) wins first, then est (9),
    // then lo (5+2=7) ...
    val vocab = Seq(
      ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "freq")
    val ms = Bpe.train(vocab, 4)
    assert(ms.map(m => (m.left, m.right, m.freq)) === Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L)))
    assert(ms.map(_.step) === Seq(1, 2, 3, 4))
  }

  test("bpe train stops when no pairs remain") {
    val vocab = Seq(("ab", 3L)).toDF("word", "freq")
    val ms = Bpe.train(vocab, 5)
    // "ab" → one merge (a,b), then single-symbol words have no pairs
    assert(ms.map(m => (m.left, m.right, m.freq)) === Seq(("a", "b", 3L)))
  }

  test("bpe encode applies trained merges and passes unknown words through") {
    val vocab = Seq(("low", 5L), ("lowest", 3L)).toDF("word", "freq")
    val ms = Bpe.train(vocab, 2) // (l,o) 8 → (lo,w) 8
    assert(ms.map(m => (m.left, m.right)) === Seq(("l", "o"), ("lo", "w")))
    val d = Seq((1L, "low lowest 42")).toDF("doc_id", "text")
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val out = Bpe.encode(d, "doc_id", "toks", Bpe.segment(vocab, ms))
      .select("doc_id", "n_syms").as[(Long, Long)].head()
    // low → [low], lowest → [low,e,s,t], "42" not in vocab → [42]
    assert(out === ((1L, 1L + 4L + 1L)))
  }

  test("bpe segment expression equals the sequential fold chain") {
    // Trained merge lists are well-formed by construction (each side a
    // char or an earlier product) — the precondition under which the
    // greedy lowest-rank expression is equivalent to replaying the
    // training passes in order. Pin it on randomly-generated vocab,
    // including words the training never saw.
    for ((seed, alpha, nMerges) <- Seq((42, 3, 15), (7, 2, 25), (1234, 5, 10))) {
      val rnd = new scala.util.Random(seed)
      def word(maxLen: Int): String =
        (1 to (1 + rnd.nextInt(maxLen))).map(_ => ('a' + rnd.nextInt(alpha)).toChar).mkString
      val vocab = (1 to 200).map(_ => (word(8), 1L + rnd.nextInt(20)))
        .groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
        .toDF("word", "freq")
      val ms = Bpe.train(vocab, nMerges)
      assert(ms.nonEmpty, s"seed $seed")
      val probe = (vocab.select("word").as[String].collect() ++
        (1 to 300).map(_ => word(14))).distinct.toSeq.toDF("word")
        .withColumn("freq", lit(1L))
      val fast = Bpe.segment(probe, ms).orderBy("word")
        .as[(String, Seq[String])].collect()
      val slow = Bpe.segmentFold(probe, ms).orderBy("word")
        .as[(String, Seq[String])].collect()
      assert(fast.toSeq === slow.toSeq, s"seed $seed")
    }
    // code-point parity: the expression must split like the fold's
    // regexp "." (code points), not by UTF-16 char — an astral-plane
    // symbol (surrogate pair) stays one symbol under zero merges
    val astral = Seq(Tuple2("a😀b", 1L)).toDF("word", "freq")
    val f = Bpe.segment(astral, Nil).as[(String, Seq[String])].head()
    val g = Bpe.segmentFold(astral, Nil).as[(String, Seq[String])].head()
    assert(f === g && f._2 === Seq("a", "😀", "b"))
  }

  test("bpe 500-merge training runs with flat plan depth on the sf0.01 vocab") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("toks", TextOps.wsTokens(lower(col("text"))))
    // the synthetic corpus has only ~31 distinct words (≈89 learnable
    // merges) — expand it deterministically with compound words (vocab ×
    // vocab, freq = f1·f2) so 500 merges have material; the trainer still
    // runs the full distributed loop on the expanded frame
    val base = Bpe.wordVocab(docs, "toks")
    val vocab = base.union(
        base.select(col("word").as("w1"), col("freq").as("f1"))
          .crossJoin(base.select(col("word").as("w2"), col("freq").as("f2")))
          .select(concat(col("w1"), col("w2")).as("word"),
            (col("f1") * col("f2")).as("freq")))
      .groupBy("word").agg(sum("freq").as("freq"))
      .persist()
    try {
      val ms = Bpe.train(vocab, 500)
      assert(ms.size === 500)
      // well-formed: every side is a single char or an earlier product
      val produced = scala.collection.mutable.Set.empty[String]
      ms.foreach { m =>
        assert(m.left.length == 1 || produced.contains(m.left), m)
        assert(m.right.length == 1 || produced.contains(m.right), m)
        assert(m.freq > 0)
        produced += (m.left + m.right)
      }
      // merge freqs are non-increasing in a fixed corpus? NOT in general
      // (a merge can create a pair more frequent than later originals) —
      // assert only the flat-plan property: the 500-merge apply plan is
      // the same 1-node expression as the 5-merge one.
      val deep = Bpe.segment(vocab, ms).queryExecution.analyzed.treeString
      val shallow = Bpe.segment(vocab, ms.take(5)).queryExecution.analyzed.treeString
      assert(deep.length < shallow.length + 64,
        s"segment plan grew with merge count: ${deep.length} vs ${shallow.length}")
    } finally vocab.unpersist(blocking = false)
  }

  test("bigram perplexity matches the hand computation") {
    // corpus: "a b a b" and "a b" — bigrams: (a b)×3, (b a)×1
    // unigrams: a×3, b×3; V=2; k=0.5
    // P(b|a) = (3+.5)/(3+1) = 0.875 ; P(a|b) = (1+.5)/(3+1) = 0.375
    val d = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val rows = LangModel.bigramScore(d, d, "doc_id", "toks", 0.5)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "log_prob", "ppl")
      .as[(Long, Long, Double, Double)].collect()
    val lpb = math.log(0.875); val lpa = math.log(0.375)
    assert(rows(0)._1 === 1L && rows(0)._2 === 3L)
    assert(math.abs(rows(0)._3 - (2 * lpb + lpa)) < 1e-12)
    assert(math.abs(rows(0)._4 - math.exp(-(2 * lpb + lpa) / 3)) < 1e-12)
    assert(rows(1)._2 === 1L)
    assert(math.abs(rows(1)._3 - lpb) < 1e-12)
  }

  test("bm25 matches the hand computation and ranks exact") {
    // corpus: d1 = "x x y", d2 = "x", d3 = "z z"; query "x y"
    // N=3, avglen = 2; df(x)=2, df(y)=1
    val d = Seq((1L, "x x y"), (2L, "x"), (3L, "z z"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val rows = LangModel.bm25TopK(d, "doc_id", "toks",
        Seq(1 -> "x y"), 10, identity)
      .orderBy("rank").select("rank", "doc_id", "score")
      .as[(Int, Long, Double)].collect()
    val k1 = 1.2; val b = 0.75
    def w(tf: Long, df: Long, len: Long): Double =
      math.log(1.0 + (3 - df + 0.5) / (df + 0.5)) * tf * (k1 + 1) /
        (tf + k1 * (1 - b + b * len / 2.0))
    val s1 = w(2, 2, 3) + w(1, 1, 3) // d1: x twice + y once
    val s2 = w(1, 2, 1)              // d2: x once
    assert(rows.map(_._2) === Array(1L, 2L))
    assert(math.abs(rows(0)._3 - s1) < 1e-12)
    assert(math.abs(rows(1)._3 - s2) < 1e-12)
  }

  test("naive bayes separates obvious classes and scores by the formula") {
    // class a docs say "x", class b docs say "y" — self-prediction must
    // recover the labels perfectly
    val d = Seq((1L, "x x", "a"), (2L, "x", "a"), (3L, "y y", "b"), (4L, "y", "b"))
      .toDF("doc_id", "text", "source")
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val out = LangModel.nbPredict(d, "doc_id", "toks", "source", identity)
      .orderBy("doc_id")
      .select("doc_id", "source", "pred_label", "score")
      .as[(Long, String, String, Double)].collect()
    assert(out.map(r => r._2 == r._3).forall(identity))
    // doc 1 under class a: ln(2/4) + 2·ln(1/(3+2)) + 2·ln(3+1)
    val expect = math.log(0.5) + 2 * math.log(1.0 / 5) + 2 * math.log(4.0)
    assert(math.abs(out(0)._4 - expect) < 1e-12)
  }

  test("shuffle shards is a deterministic permutation with dense positions") {
    val d = (0L until 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val a = graft.ml.Sampling.shuffleShards(d, "doc_id", "s1", 4)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect()
    val b = graft.ml.Sampling.shuffleShards(d.repartition(7), "doc_id", "s1", 4)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(a.sortBy(_._1).toSeq === b.sortBy(_._1).toSeq) // layout-stable
    // positions are 0..n-1 dense within each shard
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq)
    }
    assert(a.map(_._1).distinct.length === 100)
  }

  test("dsir importance weights favor in-domain documents") {
    // identical docs share a weight, and the in-domain doc outranks the
    // out-of-domain one (absolute >1/<1 is not asserted: with a
    // micro-vocabulary the k/(k·V) smoothing floor is not small)
    val d = Seq(
      (1L, "x z x z x z", "t"), (2L, "x z x z x z", "t"),
      (3L, "y w y w y w", "o"), (4L, "y w y w y w", "o"), (5L, "y w x z y w", "o"))
      .toDF("doc_id", "text", "source")
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val w = LangModel.importanceWeights(d,
        d.where(col("source") === "t"), "doc_id", "toks", 0.5)
      .select("doc_id", "weight").as[(Long, Double)].collect().toMap
    assert(w(1L) === w(2L))
    assert(w(3L) === w(4L))
    assert(w(1L) > w(3L))
    // the mixed doc sits between the pure in- and out-of-domain ones
    assert(w(5L) > w(3L) && w(5L) < w(1L))
  }

  test("tfidf ranks the distinguishing term first") {
    // "x" appears in every doc (df=3 → smooth idf = ln(4/4)+1 = 1);
    // "y" only in doc 1 (df=1 → idf = ln(4/2)+1)
    val d = Seq((1L, "x y y"), (2L, "x"), (3L, "x"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val top = LangModel.tfidfTopK(d, "doc_id", "toks", 1, identity)
      .where(col("doc_id") === 1)
      .select("term", "tf", "df", "tfidf")
      .as[(String, Long, Long, Double)].head()
    assert(top._1 === "y" && top._2 === 2L && top._3 === 1L)
    assert(math.abs(top._4 - 2 * (math.log(2.0) + 1)) < 1e-12)
    // doc 2's only term is x with tfidf exactly 1.0
    val x2 = LangModel.tfidf(d, "doc_id", "toks")
      .where(col("doc_id") === 2).select("tfidf").as[Double].head()
    assert(math.abs(x2 - 1.0) < 1e-12)
  }
}
