package graft

import graft.bars.{EventBars, TimeBars}
import graft.features.{Dsl, Ewm}
import graft.labels.{TripleBarrier, Weights}
import graft.sources.Store
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Spark's generated-class cache, sized by [[Conf.engineDefaults]], and
  * the one session factory that applies it.
  */
class CodegenCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  /** Three days of trades, one every 30 s, on a seeded random walk. */
  private def tradesDf: DataFrame = {
    val rnd = new scala.util.Random(11)
    val t0 = 1704067200000000000L // 2024-01-01T00:00Z in ns
    var p = 100.0
    (0 until 8640).map { i =>
      p *= math.exp(0.002 * rnd.nextGaussian())
      (t0 + i * 30000000000L, i.toLong, p, 1.0 + (i % 5), 0L)
    }.toDF("ts", "id", "price", "qty", "symbol")
  }

  /** One unit of the unkeyed trade lineage: store → 5m bars → DSL features
    * → EW σ → CUSUM events → triple-barrier labels → uniqueness and decay
    * weights, written as parquet under `dir`; returns the output rows.
    */
  private def lineage(trades: DataFrame, dir: String): Long = {
    Store.saveMonthly(trades, s"$dir/store")
    val stored = Store.readRange(spark, s"$dir/store", 0L, Long.MaxValue)
      .drop("month").persist(Conf.storageLevel)
    val bars = TimeBars.ohlcv(stored, 300, fillEmpty = false)
    val close = Dsl.col("close")
    val ret = close.logRet(1)
    val feats = Seq(ret, close.sma(20), ret.rollStd(20), close.ewma(20),
      close.zscore(50), close.rollMax(50))
    val fm = Dsl.build(bars, feats, Seq("bar_ts", "close", "volume"))
      .persist(Conf.storageLevel)
    val btr = fm.select(col("bar_ts").as("ts"), col("bar_ts").as("id"),
        col("close").as("price"), col("volume").as("qty"))
      .withColumn("__lp", log(col("price")))
    val sig = Ewm.ewmstExact(btr, "__lp", 3600.0, out = "sigma").drop("__lp")
    val ev = EventBars.cusumEventIds(sig, "sigma", 1.0, 5e-4)
      .where(col("is_event")).select(col("ts").as("event_ts"),
        col("id").as("event_id"), col("price").as("p0"), col("sigma").as("tgt"))
      .persist(Conf.storageLevel)
    val lab = TripleBarrier.label(stored, ev, 2.0, 1.5, vertBarrierSec = 7200.0)
      .persist(Conf.storageLevel)
    val w = Weights.withTimeDecay(Weights.eventWeights(stored, lab), lastWeight = 0.5)
    w.join(fm.select(col("bar_ts").as("event_ts") +: feats.map(f => col(f.name)): _*),
        Seq("event_ts"), "left")
      .write.parquet(s"$dir/out")
    Seq(stored, fm, ev, lab).foreach(_.unpersist(blocking = true))
    spark.read.parquet(s"$dir/out").count()
  }

  test("every session is built by Conf.localSession over the engine defaults") {
    // split so this file does not match its own pattern
    val pattern = "SparkSession.builder" + "("
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val dir = new java.io.File(root)
      assert(dir.isDirectory, s"run from the repo root: $root not found")
      org.apache.commons.io.FileUtils
        .listFiles(dir, Array("scala"), true).toArray.toSeq
        .map(_.asInstanceOf[java.io.File])
        .flatMap { f =>
          val n = Files.readString(f.toPath)
            .split(java.util.regex.Pattern.quote(pattern), -1).length - 1
          Seq.fill(n)(f.getName)
        }
    }
    assert(hits == Seq("Conf.scala"),
      s"session builders outside Conf.localSession: ${hits.mkString(", ")}")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("a repeated trade lineage reuses its generated classes instead of recompiling") {
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    val root = Files.createTempDirectory("codegen-cache")
    try {
      val trades = tradesDf
      val c0 = compiled.getCount
      val rows1 = lineage(trades, s"$root/run1")
      val c1 = compiled.getCount
      val rows2 = lineage(trades, s"$root/run2")
      val c2 = compiled.getCount
      info(s"compilations: first run ${c1 - c0}, second run ${c2 - c1}")
      assert(rows1 > 0 && rows1 == rows2)
      // In a fresh JVM the first run compiles 137 classes, more than Spark's
      // default cache (100 entries) holds, so at that size the second run
      // compiles nearly all of them again (129). The first run's count is
      // not asserted: suites that ran earlier in this JVM may already have
      // compiled some of the same classes.
      assert(c2 - c1 <= 10,
        s"second run compiled ${c2 - c1} classes (first run: ${c1 - c0})")
    } finally {
      val f = root.toFile
      if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    }
  }
}
