package graft

import graft.bars.{EventBars, TimeBars}
import graft.features.VolumeProfile
import graft.trades.Trades
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards: the scale properties the operators promise
  * (hash aggregation, no nested-loop joins) must survive refactors.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private def trades(n: Int): DataFrame =
    (0 until n).map { i =>
      (i.toLong * 100000000L, i.toLong, 100.0 + (i % 7) * 0.01, 1.0 + (i % 3))
    }.toDF("ts", "id", "price", "qty")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("time-bar OHLCV aggregates hash-based (no SortAggregate)") {
    val p = plan(TimeBars.ohlcv(trades(5000), 300, fillEmpty = false))
    assert(!p.contains("SortAggregate"), s"SortAggregate in plan:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate in plan:\n$p")
  }

  test("event-bar OHLCV aggregates hash-based (no SortAggregate)") {
    val ids = trades(5000).withColumn("bar_id", expr("id div 500"))
    val p = plan(EventBars.ohlcvByBarId(ids))
    assert(!p.contains("SortAggregate"), s"SortAggregate in plan:\n$p")
  }

  test("rolling volume profile joins equi (no BroadcastNestedLoopJoin)") {
    val t = Trades.withTickRuleSide(trades(5000))
    val fp = graft.bars.Footprints.build(t, 300, 0.01, 3.0)
    val p = plan(VolumeProfile.rolling(fp, 300, 6))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$p")
  }

  test("two-pass OHLCV equals struct-keyed reference on tie-heavy data") {
    // many equal-ts trades: 10 prints per timestamp, distinct ids
    val t = (0 until 2000).map { i =>
      ((i / 10).toLong * 1000000000L, i.toLong, 100.0 + (i % 13) * 0.01, 1.0)
    }.toDF("ts", "id", "price", "qty")
    val twoPass = TimeBars.ohlcv(t, 60, fillEmpty = false)
      .select("bar_ts", "open", "close")
    val ref = t.withColumn("bar_ts", TimeBars.barTs(60L * 1000000000L))
      .groupBy("bar_ts").agg(
        min_by(col("price"), struct(col("ts"), col("id"))).as("open"),
        max_by(col("price"), struct(col("ts"), col("id"))).as("close"))
    val a = twoPass.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val b = ref.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(a == b)
  }

  private def symTrades(n: Int): DataFrame =
    (0 until n).map { i =>
      (i.toLong * 100000000L, i.toLong, 100.0 + (i % 7) * 0.01, 1.0 + (i % 3),
        (i % 8).toLong)
    }.toDF("ts", "id", "price", "qty", "symbol")

  test("keyed sequential scans shuffle by symbol, not a single range partition") {
    val p = plan(graft.features.Ewm.rsiExact(symTrades(4000), "price", 14,
      Seq("ts", "id"), keyCols = Seq("symbol")))
    assert(p.contains("hashpartitioning(symbol"),
      s"keyed scan must hash-partition by symbol:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"keyed scan must not fall back to a global range sort:\n$p")
  }

  test("keyed time decay partitions by symbol — no single-partition exchange") {
    val ew = (0 until 400).map { i =>
      ((i % 8).toLong, i.toLong * 1000000000L, i.toLong, 0.1 + (i % 5) * 0.05)
    }.toDF("symbol", "event_ts", "event_id", "avg_uniqueness")
    val p = plan(graft.labels.Weights.withTimeDecay(ew, 0.5, Seq("symbol")))
    assert(p.contains("hashpartitioning(symbol"),
      s"keyed decay must hash-partition by symbol:\n$p")
    assert(!p.contains("SinglePartition"),
      s"keyed decay must not move the event table to one partition:\n$p")
  }

  test("global time decay runs on the affine scan — no Window operator") {
    val ew = (0 until 400).map { i =>
      (i.toLong * 1000000000L, i.toLong, 0.1 + (i % 5) * 0.05)
    }.toDF("event_ts", "event_id", "avg_uniqueness")
      // a shuffle in the lineage mirrors the real chain (groupBy upstream)
      .repartition(col("event_id"))
    val p = plan(graft.labels.Weights.withTimeDecay(ew, 0.5))
    assert(!p.contains("Window"),
      s"global decay must not use a window (single-partition sort):\n$p")
  }

  test("keyed class balance joins broadcast — no single-partition exchange") {
    val lw = (0 until 400).map { i =>
      ((i % 8).toLong, i.toLong, (i % 3) - 1, 0.5 + (i % 7) * 0.1)
    }.toDF("symbol", "event_id", "label", "base")
    val cb = graft.labels.Weights.withClassBalance(lw, "base", Seq("symbol"))
    // the class-table hints are AQE's call now (keyed tables are unbounded
    // in principle) — collect() so AQE resolves the measured-size broadcast
    cb.collect()
    val p = cb.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"AQE should broadcast the small class table:\n$p")
    assert(!p.contains("Window"), s"class balance must not use windows:\n$p")
  }

  test("keyed OHLCV with fill partitions grid+fill by symbol") {
    val p = plan(TimeBars.ohlcv(symTrades(4000), 60, fillEmpty = true,
      partCols = Seq("symbol")))
    assert(p.contains("hashpartitioning(symbol"),
      s"keyed ohlcv must hash-partition by symbol:\n$p")
    assert(!p.contains("SinglePartition"),
      s"keyed ohlcv must not single-partition the grid/fill:\n$p")
    assert(!p.contains("SortAggregate"), s"SortAggregate in plan:\n$p")
  }

  test("keyed integrity summary partitions its windows by symbol") {
    val p = plan(graft.sources.Store.integritySummary(
      symTrades(4000), 3600L * 1000000000L, Seq("symbol")))
    assert(p.contains("hashpartitioning(symbol"),
      s"keyed integrity summary must hash-partition by symbol:\n$p")
    assert(!p.contains("SinglePartition"),
      s"keyed integrity summary must not single-partition the stream:\n$p")
  }

  test("unkeyed concurrency/eventWeights sweeps run on the scan — no Window") {
    val t = trades(2000)
    val ev = t.where(col("id") % 29 === 0).select(
      col("ts").as("event_ts"), col("id").as("event_id"),
      (col("ts") + lit(5000000000L)).as("touch_ts"))
    val pc = plan(graft.labels.Weights.concurrency(t, ev))
    assert(!pc.contains("Window"),
      s"unkeyed concurrency must not use a window (single-partition sort):\n$pc")
    val pw = plan(graft.labels.Weights.eventWeights(t, ev))
    assert(!pw.contains("Window"),
      s"unkeyed eventWeights must not use a window (single-partition sort):\n$pw")
  }

  test("TBM pass-2 touch joins broadcast under AQE with no forced hint") {
    // The join code carries NO broadcast() hint (an event-scaled table is
    // not provably broadcastable at 100 TB) — at small scale AQE must still
    // pick a broadcast hash join from the measured sizes, so the perf shape
    // is pinned without the OOM-prone hint.
    val t = trades(8000)
    val lab = graft.labels.TripleBarrier.label(
      t, graft.labels.TripleBarrier.syntheticEvents(t),
      2.0, 1.5, vertBarrierSec = 600.0)
    lab.collect()
    val p = lab.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"AQE should broadcast the touch join at small scale:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in TBM plan:\n$p")
  }

  test("keyed eventWeights tiers: default windows by symbol; skewSafe has no window") {
    val t = symTrades(4000)
    val ev = t.where(col("id") % 37 === 0).select(
      col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
      (col("ts") + lit(1000000000L)).as("touch_ts"))
    // default tier: codegen'd per-key window (fast on even keys), keyed —
    // never a single-partition sort
    val p = plan(graft.labels.Weights.eventWeights(t, ev, Seq("symbol")))
    assert(p.contains("hashpartitioning(symbol"),
      s"keyed sweep must hash-partition by symbol:\n$p")
    assert(!p.contains("SinglePartition"),
      s"keyed sweep must not move the stream to one partition:\n$p")
    // skew-safe tier: reset-affine range-partitioned scan — a heavy key
    // splits across partitions; no per-key window anywhere in the plan
    val ps = plan(graft.labels.Weights.eventWeights(t, ev, Seq("symbol"),
      skewSafe = Some(true)))
    assert(!ps.contains("Window"),
      s"skew-safe keyed sweep must not use a per-key window:\n$ps")
    assert(!ps.contains("SinglePartition"),
      s"skew-safe keyed sweep must not single-partition the stream:\n$ps")
    val pcs = plan(graft.labels.Weights.concurrency(t, ev, Seq("symbol"),
      skewSafe = Some(true)))
    assert(!pcs.contains("Window"),
      s"skew-safe keyed concurrency must not use a per-key window:\n$pcs")
  }

  test("keyed sweep AUTO tier: even keys pick the window tier, a hot key picks skew-safe") {
    import spark.implicits._
    // even keys across more partitions than keys → hottest key ≈ one
    // even share → window tier
    val even = symTrades(4000)
    val evE = even.where(col("id") % 37 === 0).select(
      col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
      (col("ts") + lit(1000000000L)).as("touch_ts"))
    val pe = plan(graft.labels.Weights.eventWeights(even, evE, Seq("symbol")))
    assert(graft.labels.Weights.lastAutoSkewSafe.contains(false),
      "auto probe on even keys should pick the window tier")
    assert(pe.contains("Window"), s"auto-even should be the window tier:\n$pe")
    // one key carries ~90% of rows. At the MEASURED crossover factor (48
    // even core shares — SkewBench r12: the window tier wins even a
    // 78%-hot fixture at 32 cores, since one long sorted run amortizes
    // to ~3us/row vs the scan's 119-250us/row-core) a local[4] box can
    // never prefer the scan tier (max key <= n << 12n), which is itself
    // correct; lower the factor to 2 via the override to exercise the
    // switch, and check tier parity on the same frame.
    val hot = (0L until 4000L).map { i =>
      val sym = if (i % 10 != 0) 7L else i % 4
      (i * 1000000L, i, 100.0 + (i % 13) * 0.1, 1.0, sym)
    }.toDF("ts", "id", "price", "qty", "symbol")
    val evH = hot.where(col("id") % 37 === 0).select(
      col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
      (col("ts") + lit(1000000000L)).as("touch_ts"))
    val atDefault = graft.labels.Weights.eventWeights(hot, evH, Seq("symbol"))
    assert(graft.labels.Weights.lastAutoSkewSafe.contains(false),
      "factor-16 on 4 cores can never prefer the scan tier (correctly)")
    assert(plan(atDefault).contains("Window"))
    System.setProperty("spark.graft.weights.autoTierFactor", "2")
    try {
      val auto = graft.labels.Weights.eventWeights(hot, evH, Seq("symbol"))
      val ph = plan(auto)
      assert(graft.labels.Weights.lastAutoSkewSafe.contains(true),
        "auto probe on a 90% hot key at factor 2 should pick skew-safe")
      assert(!ph.contains("Window"), s"auto-hot should be the scan tier:\n$ph")
      val windowForced = graft.labels.Weights.eventWeights(hot, evH,
        Seq("symbol"), skewSafe = Some(false))
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("symbol"), col("event_id"),
          round(col("avg_uniqueness"), 9).as("u"),
          round(col("return_attribution"), 9).as("r"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3))).toSet
      assert(canon(auto) == canon(windowForced),
        "the two tiers must agree bit-for-bit under r9 rounding")
    } finally System.clearProperty("spark.graft.weights.autoTierFactor")
  }

  test("BPE encode: no forced broadcast; AQE broadcasts a small vocab") {
    // The segmentation is vocab-bound (unbounded at corpus scale) so the
    // hint must be AQE's call, not hard-coded. Pin that the small-scale
    // plan still gets the broadcast so perf doesn't silently change.
    val docs = (0 until 500).map { i =>
      (i.toLong, Seq("alpha", "beta", "gamma", s"w${i % 40}"))
    }.toDF("doc_id", "toks")
    val vocab = graft.text.Bpe.wordVocab(docs, "toks")
    val merges = Seq(graft.text.Bpe.Merge(1, "a", "l", 1L))
    val enc = graft.text.Bpe.encode(docs, "doc_id", "toks",
      graft.text.Bpe.segment(vocab, merges))
    enc.collect()
    val p = enc.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"AQE should broadcast the vocab segmentation at small scale:\n$p")
  }

  test("frame sampling: per-doc max rides a window, no data-scaled broadcast") {
    val media = (0 until 64).map { i =>
      (i.toLong, Array.fill[Byte](100 + i)(i.toByte))
    }.toDF("doc_id", "payload")
    val fs = graft.multimodal.Multimodal.frameSample(
      graft.multimodal.Multimodal.frames(media, 16))
    val p = plan(fs)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      s"frame sampling must not broadcast a one-row-per-document table:\n$p")
    assert(p.contains("hashpartitioning(doc_id"),
      s"frame sampling window must hash-partition by doc_id:\n$p")
  }

  test("keyed TBM off the bucketed store: trades side reaches the range join shuffle-free") {
    // the 100 TB daily-labeling job shape (tbm_labels_sym_store gate):
    // trades bucketed by symbol feed event derivation, the per-symbol
    // end-of-data cutoff aggregation AND the path join without a single
    // hashpartitioning Exchange on the trades lineage — the bucket spec
    // satisfies every symbol-subset clustering requirement.
    val t0 = (0 until 20000).map { i =>
      (i.toLong * 100000000L, i.toLong, 100.0 + (i % 7) * 0.01,
        1.0 + (i % 3), (i % 5).toLong)
    }.toDF("ts", "id", "price", "qty", "symbol")
    val dir = java.nio.file.Files.createTempDirectory("tbmbkt").toString
    graft.sources.Store.saveBucketed(t0, "planspec_tbm_bkt", dir + "/t",
      8, Seq("symbol"), Seq("symbol", "ts", "id"))
    try {
      def chain(t: DataFrame) = {
        val ev = t.where(col("id") % 29 === 0).select(
          col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
          col("price").as("p0"),
          (lit(0.05) + (col("id") % 7).cast("double") * lit(0.01)).as("tgt"))
        graft.labels.TripleBarrier.label(t, ev, 2.0, 1.5,
          vertBarrierSec = 600.0, minCloseSec = 0.0, minRet = 0.02,
          isMeta = false, partCols = Seq("symbol"))
      }
      // collect()-then-inspect: AQE resolves join strategies at execute
      val bkt = chain(spark.table("planspec_tbm_bkt"))
      bkt.collect()
      val pB = bkt.queryExecution.executedPlan.toString
      val raw = chain(t0)
      raw.collect()
      val pR = raw.queryExecution.executedPlan.toString
      def nEx(p: String) = "Exchange hashpartitioning".r.findAllIn(p).length
      // measured on this fixture: 2 vs 14 — assert the relative collapse
      // (absolute counts are plan-shape-dependent), plus the bucketed
      // scans actually engaging
      assert(nEx(pB) * 2 < nEx(pR),
        s"bucketed TBM kept too many shuffles: bucketed=${nEx(pB)} raw=${nEx(pR)}\n$pB")
      assert(pB.contains("Bucketed: true") &&
        pB.contains("SelectedBucketsCount"),
        s"TBM chain is not reading the bucketed layout:\n$pB")
    } finally spark.sql("DROP TABLE IF EXISTS planspec_tbm_bkt")
  }

  test("nd-guarded filters stay above the scoring projection (no pushdown " +
      "through the repartition barrier)") {
    // The corpus pipelines' per-batch bodies rely on two plan properties
    // (CorpusPipeline.onBatch): (1) projections do NOT collapse
    // across a RepartitionByExpression, so an exchange is a materialization
    // barrier for an expensive expression (redact must not inline into the
    // downstream scoring), and (2) a filter whose condition carries an
    // always-false non-deterministic `|| __nd < 0` guard is NOT pushed
    // below the projection that computes its inputs — without the guard,
    // PushDownPredicates substitutes the whole expression tree into a
    // Filter at the single-partition scan. Pin both against Catalyst
    // changes with the same shape the pipeline uses.
    import graft.text.TextOps
    val docs = (0 until 64).map(i => (i.toLong, s"some text $i with words"))
      .toDF("doc_id", "text")
    val scored = docs.repartition(4, col("doc_id"))
      .select(col("doc_id"), TextOps.redact(col("text")).as("text"))
      .repartition(4, col("doc_id"))
      .select(
        Seq(col("doc_id"), col("text")) ++ TextOps.qualityColumns(col("text")) ++
          Seq(monotonically_increasing_id().as("__nd")): _*)
      .where(col("quality_score") >= 0.5 || col("__nd") < 0)
      .select("doc_id", "text", "quality_score")
    val opt = scored.queryExecution.optimizedPlan
    val filters = opt.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(filters.nonEmpty, s"no Filter survived:\n$opt")
    // every Filter must sit ABOVE both repartitions: no Filter may have a
    // scan (LocalRelation/LogicalRDD) as a descendant without an
    // intervening RepartitionByExpression
    filters.foreach { f =>
      val hasRepartitionBelow = f.child.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
      }.nonEmpty
      assert(hasRepartitionBelow,
        s"filter was pushed below the repartition barrier:\n$opt")
      // and the substituted scoring tree must not appear in the condition:
      // the condition references the COMPUTED column, not a re-derived
      // redact/HOF tree over the raw text (`<EMAIL>` fingerprints redact;
      // `lambdafunction` fingerprints the quality HOFs)
      val cond = f.condition.toString
      assert(!cond.contains("<EMAIL>") && !cond.contains("lambdafunction"),
        s"scoring tree substituted into the filter condition:\n$cond")
    }
    // the redact projection must appear exactly once, below the second
    // repartition (no inlining into the scoring projection above it)
    val projTexts = opt.collect {
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project
          if pr.projectList.exists(_.toString.contains("<EMAIL>")) => pr
    }
    assert(projTexts.length == 1,
      s"redact should be computed in exactly one projection, found " +
        s"${projTexts.length}:\n$opt")
  }
}
