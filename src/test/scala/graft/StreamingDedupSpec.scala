package graft

import graft.dedup.Dedup
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.{BandedDoc, CandidatePair}
import graft.text.TextOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch/streaming dedup parity: the ingest-time twins must agree with the
  * batch operators — same content key, same band buckets, capped pairing.
  */
class StreamingDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  case class DocIn(docId: Long, text: String, tsMs: Long)

  private val t0 = 1700000000000L // ms epoch

  test("exact dedup stream: first arrival passes, in-window copies drop") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[DocIn]
    val src = ms.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val q = StreamingDedup.exactDedupStream(src, "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    // same normalized content: casing/whitespace differences still dedup
    ms.addData(Seq(
      DocIn(1, "the quick brown fox", t0),
      DocIn(2, "another document entirely", t0 + 1000),
      DocIn(3, "The  quick brown   FOX", t0 + 2000)))
    q.processAllAvailable()
    ms.addData(Seq(
      DocIn(4, "the quick brown fox", t0 + 60000), // still within window
      DocIn(5, "a third distinct text", t0 + 61000)))
    q.processAllAvailable()
    val passed = spark.table("dedup_out").select("docId")
      .as[Long].collect().toSet
    q.stop()
    assert(passed == Set(1L, 2L, 5L))
  }

  test("per-row minhash buckets yield the batch lshCandidates pair set") {
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta iota", // near-dup of 1
      3L -> "one two three four five six seven eight nine",
      4L -> "one two three four five six seven eight ten", // near-dup of 3
      5L -> "completely different content with no overlap at all here")
    val docs = texts.toDF("doc_id", "text")
      .withColumn("toks", TextOps.wsTokens(col("text")))
    val batchPairs = Dedup.lshCandidates(docs, "doc_id", "toks",
        shingleN = 3, k = 16, bands = 8)
      .as[(Long, Long)].collect().toSet
    // stream-side band keys, run through the SAME pairing logic in batch
    // mode (flatMapGroupsWithState on a batch Dataset: state starts empty,
    // each bucket-group folds once) — band-key parity makes the pair sets
    // equal after cross-band dedup
    val banded = docs.select(col("doc_id").as("docId"),
        explode(StreamingDedup.minhashBuckets(col("toks"), 3, 16, 8)).as("bucket"))
      .as[BandedDoc]
    val streamPairs = StreamingDedup.lshCandidateStream(banded, maxBucket = 100)
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    assert(batchPairs.nonEmpty) // the fixture must actually exercise pairing
    assert(streamPairs == batchPairs)
  }

  test("MinhashBuckets expression: codegen path equals interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Seq("alpha beta gamma delta epsilon", "alpha beta", "x", "")
    val df = texts.toDF("text").withColumn("toks", TextOps.wsTokens(col("text")))
    // DataFrame path runs the generated code inside the projection
    val viaCodegen = df
      .select(StreamingDedup.minhashBuckets(col("toks"), 2, 16, 8).as("b"))
      .as[Seq[String]].collect().toSeq
    // direct expression eval is the interpreted nullSafeEval path
    val shingled = df.select(TextOps.shingles(col("toks"), 2).as("s"))
      .as[Seq[String]].collect().toSeq
    val viaEval = shingled.map { sh =>
      val arr = ArrayData.toArrayData(sh.map(UTF8String.fromString).toArray)
      graft.functions.MinhashBuckets(
          Literal.create(arr, ArrayType(StringType)), 16, 8)
        .eval(null).asInstanceOf[ArrayData]
        .toObjectArray(StringType).map(_.toString).toSeq
    }
    assert(viaCodegen == viaEval)
    // every doc is banded: shingles degenerate to one whole-text shingle
    // for short docs (TextOps.shingles), so each row gets `bands` buckets
    assert(viaCodegen.forall(b => b.size == 8 && b.forall(_.contains(":"))))
    // a genuinely empty input array (not reachable via shingles) is the
    // defensive no-bucket case
    val empty = graft.functions.MinhashBuckets(
        Literal.create(ArrayData.toArrayData(Array.empty[UTF8String]),
          ArrayType(StringType)), 16, 8)
      .eval(null).asInstanceOf[ArrayData]
    assert(empty.numElements() == 0)
  }

  test("lsh candidate stream: cross-batch pairing, saturated buckets stop") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[BandedDoc]
    val q = StreamingDedup.lshCandidateStream(ms.toDS(), maxBucket = 3)
      .writeStream.format("memory").queryName("cand_out")
      .outputMode("append").start()
    ms.addData(Seq(BandedDoc("b1", 1L), BandedDoc("b1", 2L), BandedDoc("b1", 3L),
      BandedDoc("b2", 10L)))
    q.processAllAvailable()
    // b1 is at the cap: doc 4 must pair with nothing and not displace state;
    // b2 pairs across batches from remembered state
    ms.addData(Seq(BandedDoc("b1", 4L), BandedDoc("b2", 11L)))
    q.processAllAvailable()
    val got = spark.table("cand_out")
      .as[CandidatePair].collect().map(p => (p.id_a, p.id_b)).toSet
    q.stop()
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
  }
}
