package graft

import graft.dedup.Substring
import graft.text.{Chunking, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge coverage for the training-sequence prep operators (spans /
  * decontamination / chunking / packing / PII) — the cases the sf gates
  * can't isolate: island merging, within-doc-only repeats, short docs,
  * boundary chunks, offset zero-points, redaction order.
  */
class PipeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private def withToks(d: DataFrame): DataFrame =
    d.withColumn("toks", TextOps.wsTokens(col("text")))

  test("dupSpanIntervals merges overlapping and adjacent spans, ignores within-doc repeats") {
    // docs 1 and 2 share tokens 0..4 ("a b c d e") → with n=3, dup gram
    // positions 0,1,2 in both docs merge into one island [0, 5).
    // doc 3 repeats its own trigram twice but shares nothing cross-doc →
    // no island (cross-doc criterion).
    val d = withToks(Seq(
      (1L, "a b c d e x y z"),
      (2L, "a b c d e p q r"),
      (3L, "m n o m n o m n o")).toDF("doc_id", "text"))
    val out = Substring.dupSpanIntervals(d, "doc_id", "toks", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(out == Set((1L, 0, 5, 5), (2L, 0, 5, 5)))
  }

  test("dupSpanIntervals keeps disjoint islands separate") {
    // shared prefix AND shared suffix with a private middle: two islands.
    val d = withToks(Seq(
      (1L, "a b c PRIVATE1 q r s"),
      (2L, "a b c PRIVATE2 q r s")).toDF("doc_id", "text"))
    val out = Substring.dupSpanIntervals(d, "doc_id", "toks", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(out == Set((1L, 0, 3), (1L, 4, 7), (2L, 0, 3), (2L, 4, 7)))
  }

  test("spanCoverage reports zero for clean and short docs, flags heavy dup") {
    val d = withToks(Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"), // full dup of 1 → frac 1.0
      (3L, "u v"), // shorter than n → no grams, frac 0
      (4L, "completely different tokens here now ok yes sure fine done"))
      .toDF("doc_id", "text"))
    val out = Substring.spanCoverage(d, "doc_id", "toks", 3, 0.3)
      .select("doc_id", "n_tokens", "n_dup_tokens", "dup_frac", "keep_substring")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap2
    assert(out(1L) == (10L, 10L, 1.0, false))
    assert(out(2L) == (10L, 10L, 1.0, false))
    assert(out(3L) == (2L, 0L, 0.0, true))
    assert(out(4L) == (10L, 0L, 0.0, true))
  }

  private implicit class Tup5Ops(rows: Array[(Long, Long, Long, Double, Boolean)]) {
    def toMap2: Map[Long, (Long, Long, Double, Boolean)] =
      rows.map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
  }

  test("contamination counts distinct-gram overlap and keeps gram-less docs") {
    val corpus = withToks(Seq(
      (1L, "the quick brown fox jumps"), // shares "the quick brown" w/ bench
      (2L, "nothing in common at all"),
      (3L, "xy")) // < n tokens → 0 grams, still present
      .toDF("doc_id", "text"))
    val bench = withToks(Seq(
      (100L, "the quick brown cat sat")).toDF("doc_id", "text"))
    val out = Substring.contamination(corpus, bench, "doc_id", "toks", 3)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out(1L) == ((3L, 1L, true))) // grams: tqb/qbf/bfj; overlap: tqb
    assert(out(2L) == ((3L, 0L, false)))
    assert(out(3L) == ((0L, 0L, false)))
  }

  test("gram bloom pre-filter: no false negatives; bloom-bounded probe = exact probe") {
    // every truly-contaminated doc MUST pass mightContainGram (a bloom
    // never misses an inserted key), so pre-filter→exact-probe yields the
    // same contaminated set as the unfiltered probe — the property the
    // live pipeline's bloom-bounded decon stage rests on
    val n = 3
    val corpus = withToks((1L to 60L).map { i =>
      if (i % 7 == 0) (i, s"shared benchmark phrase alpha beta $i")
      else (i, s"unique doc ${i}a ${i}b ${i}c ${i}d ${i}e")
    }.toDF("doc_id", "text"))
    val bench = withToks(Seq(
      (100L, "shared benchmark phrase alpha beta gamma")).toDF("doc_id", "text"))
    val benchHashes = Substring.distinctGramHashes(bench, "doc_id", "toks", n)
      .select("h").distinct()
    val bloom = Substring.gramXxBloom(bench, "toks", n)
    val exact = Substring.contamination(corpus, bench, "doc_id", "toks", n)
      .where(col("contaminated")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(exact == (1L to 60L).filter(_ % 7 == 0).toSet)
    val pre = corpus.where(
      Substring.mightContainGram(col("toks"), n, bloom))
    val preIds = pre.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(preIds), "bloom pre-filter dropped a true hit")
    val bounded = Substring.distinctGramHashes(pre, "doc_id", "toks", n)
      .join(benchHashes, Seq("h"), "left_semi")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(bounded == exact, "bloom-bounded probe diverged from exact probe")
    // short docs (< n tokens) are provably clean and must not pass
    val short = withToks(Seq((200L, "xy")).toDF("doc_id", "text"))
    assert(short.where(Substring.mightContainGram(col("toks"), n, bloom))
      .count() == 0L)
    // the BIT CAP bounds the constant's payload (the task-binary story)
    // and can NEVER introduce a false negative — only a higher fpp.
    // fpp 1e-20 makes the optimal size exceed the 256-bit cap even for
    // this tiny gram set, so the cap provably engages.
    val wide = Substring.gramXxBloom(bench, "toks", n, fpp = 1e-20)
    val capped = Substring.gramXxBloom(bench, "toks", n, fpp = 1e-20,
      maxBits = 256L)
    assert(capped.length < wide.length && capped.length < 200,
      s"capped bloom should be ~32 bytes + header, got ${capped.length}")
    val cappedPre = corpus.where(
        Substring.mightContainGram(col("toks"), n, capped))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(cappedPre),
      "bit-capped bloom pre-filter dropped a true hit")
  }

  test("chunks: stride windows with short final chunk; empty doc emits none") {
    val d = withToks(Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "")).toDF("doc_id", "text"))
    val out = Chunking.chunks(d, "doc_id", "toks", chunkSize = 4, stride = 3)
      .select("doc_id", "chunk_idx", "chunk_start", "n_chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    // starts 0,3,6,9 → sizes 4,4,4,1
    assert(out == Set((1L, 0, 0, 4L), (1L, 1, 3, 4L), (1L, 2, 6, 4L), (1L, 3, 9, 1L)))
  }

  test("packOffsets: per-shard zero-based offsets and straddling bin ids") {
    val d = Seq(
      ("s1", 1L, 100), ("s1", 2L, 200), ("s1", 3L, 50),
      ("s2", 10L, 300)).toDF("source", "doc_id", "nt")
    val out = Chunking.packOffsets(d, "doc_id", "nt", Seq("source"), ctx = 256)
      .select("source", "doc_id", "start_offset", "bin_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set(
      ("s1", 1L, 0L, 0L), ("s1", 2L, 100L, 0L), ("s1", 3L, 300L, 1L),
      ("s2", 10L, 0L, 0L)))
    assertThrows[IllegalArgumentException] {
      Chunking.packOffsets(d, "doc_id", "nt", Nil, 256)
    }
  }

  test("semDedup drops higher-id within-cell near-dups, keeps cross-cell ones") {
    import graft.ml.Similarity
    val cents = Array(0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0))
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)), // cell 0, canonical
      (2L, Seq(1.0f, 0.0f)), // identical, higher id → dropped
      (3L, Seq(0.0f, 1.0f)), // cell 1, alone → kept
      (4L, Seq(0.9f, 0.436f)), // cell 0, cos≈0.90 to id 1 → below thr, kept
      (5L, Seq(0.70f, 0.715f)), // cell 1 …
      (6L, Seq(0.715f, 0.70f))) // … cell 0: cos(5,6)≈0.9998 but cross-cell → both kept
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(e, "vec_id", "embedding", cents, 0.95)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) == ((0L, false)))
    assert(out(2L) == ((0L, true)))
    assert(out(3L) == ((1L, false)))
    assert(out(4L) == ((0L, false)))
    assert(out(5L) == ((1L, false)))
    assert(out(6L) == ((0L, false)))
  }

  test("mixtureResample: rate-1 cap keeps all, absent domain drops all, rerun-stable") {
    import graft.ml.Sampling
    val d = (1L to 200L).map(i => (i, if (i <= 100) "a" else if (i <= 180) "b" else "c"))
      .toDF("id", "dom")
    // weights only a/b; a's target far above its supply → rate caps at 1
    val out = Sampling.mixtureResample(d, "id", "dom",
      Map("a" -> 100.0, "b" -> 1.0), budgetFrac = 0.9, salt = "t")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDom = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDom("a") == 100) // capped at rate 1: every row kept
    assert(!byDom.contains("c")) // unweighted domain dropped entirely
    // b's rate = 0.9·200·(1/101)/80 ≈ 0.022 → a thin deterministic sample
    assert(byDom.getOrElse("b", 0) < 20)
    val again = Sampling.mixtureResample(d, "id", "dom",
      Map("a" -> 100.0, "b" -> 1.0), budgetFrac = 0.9, salt = "t")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSet == again.toSet)
  }

  test("piiColumns counts and redacts all three pattern families") {
    val d = Seq(
      (1L, "mail a.b-c@foo.io and 10.0.0.1 plus 555-123-4567 end"),
      (2L, "no pii here")).toDF("doc_id", "text")
    val out = d.select(Seq(col("doc_id")) ++ TextOps.piiColumns(col("text")): _*)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((1L, 1L, 1L, true)))
    assert(out(2L) == ((0L, 0L, 0L, false)))
    // redaction is order-safe: the email is replaced before the IP pass,
    // so its dotted domain can't be half-eaten
    val red = d.where(col("doc_id") === 1)
      .select(regexp_replace(regexp_replace(regexp_replace(col("text"),
        TextOps.emailRe, "<EMAIL>"), TextOps.phoneRe, "<PHONE>"),
        TextOps.ipv4Re, "<IP>"))
      .head().getString(0)
    assert(red == "mail <EMAIL> and <IP> plus <PHONE> end")
  }
}
