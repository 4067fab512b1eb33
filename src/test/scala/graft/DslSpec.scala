package graft

import graft.features.{Dsl, Feature}
import graft.features.FSpec._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip + naming + execution tests for the feature DSL (SURVEY.md
  * §2.10 — mirrors the reference's serialization tests, tests/features/
  * test_feature_serialization_*.py).
  */
class DslSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private val pipeline: Seq[Feature] = Seq(
    Dsl.col("close").logRet(1),
    Dsl.col("close").sma(3),
    (Dsl.col("close") / Dsl.col("vwap") - Dsl.const(1)).clip(-0.5, 0.5),
    Dsl.col("volume").zscore(3).abs,
    (Dsl.col("close").lag(2) + Dsl.const(0.25)).log,
    Dsl.col("volume").ewma(10) min Dsl.col("volume").rollMax(4))

  test("JSON round-trip is lossless for every node type") {
    val json = Dsl.toJson(pipeline)
    val back = Dsl.fromJson(json)
    assert(back.map(_.spec) == pipeline.map(_.spec))
    // and a second serialization is byte-identical (stable codec)
    assert(Dsl.toJson(back) == json)
  }

  test("auto-naming follows the reference convention") {
    assert(Dsl.col("close").sma(20).name == "close_sma_20")
    assert((Dsl.col("a") + Dsl.col("b")).name == "add(a,b)")
    assert(Dsl.col("close").logRet(1).name == "close_logret_1")
    assert(Dsl.col("x").lag(5).name == "x_lag_5")
    assert((Dsl.col("x") * Dsl.const(2)).name == "mul(x,2)")
  }

  test("build computes the same values as direct column expressions") {
    val df = Seq(
      (1L, 10.0, 10.0, 2.0), (2L, 11.0, 10.5, 3.0), (3L, 12.0, 11.0, 4.0),
      (4L, 11.5, 11.2, 2.5), (5L, 12.5, 11.8, 5.0))
      .toDF("bar_ts", "close", "vwap", "volume")
    val feats = Seq(Dsl.col("close").sma(3), Dsl.col("close").ret(1))
    val out = Dsl.build(df, Dsl.fromJson(Dsl.toJson(feats)), Seq("bar_ts"))
      .orderBy("bar_ts").collect()
    val sma = out.map(r => Option(r.getAs[java.lang.Double]("close_sma_3")).map(_.toDouble))
    assert(sma(0).isEmpty && sma(1).isEmpty)
    assert(math.abs(sma(2).get - 11.0) < 1e-12)
    assert(math.abs(sma(4).get - 12.0) < 1e-12)
    val ret = out.map(r => Option(r.getAs[java.lang.Double]("close_ret_1")).map(_.toDouble))
    assert(ret(0).isEmpty)
    assert(math.abs(ret(1).get - 0.1) < 1e-12)
  }

  test("unknown op in JSON is rejected") {
    intercept[IllegalArgumentException] {
      Dsl.fromJson("""[{"op":"mystery","x":{"op":"col","col":"c"}}]""")
    }
  }

  test("registered external function round-trips by name and executes") {
    Dsl.register("double_it", c => c * 2)
    val f = Dsl.col("close").call("double_it")
    assert(f.name == "double_it(close)")
    val back = Dsl.fromJson(Dsl.toJson(Seq(f)))
    assert(back.map(_.spec) == Seq(f.spec))
    val df = Seq((1L, 10.0)).toDF("bar_ts", "close")
    val out = Dsl.build(df, back, Seq("bar_ts")).collect().head
    assert(out.getDouble(1) == 20.0)
    // unregistered names are rejected at compile time, not silently null
    intercept[IllegalArgumentException] {
      Dsl.build(df, Seq(Dsl.col("close").call("nope")), Nil).collect()
    }
  }

  test("parameterized external function serializes its args (transforms.py:1668-1805)") {
    Dsl.registerParam("scale_pow", (c, args) =>
      org.apache.spark.sql.functions.pow(c * args(0), args(1)))
    val f = Dsl.col("close").call("scale_pow", 2.0, 3.0)
    assert(f.name == "scale_pow(close,2,3)")
    val json = Dsl.toJson(Seq(f))
    assert(json.contains(""""args":[2.0,3.0]"""), json)
    val back = Dsl.fromJson(json)
    assert(back.map(_.spec) == Seq(f.spec))
    assert(Dsl.toJson(back) == json) // lossless both ways
    val df = Seq((1L, 5.0)).toDF("bar_ts", "close")
    val out = Dsl.build(df, back, Seq("bar_ts")).collect().head
    assert(out.getDouble(1) == 1000.0) // (5*2)^3
    // arg-count misuse of a no-arg registration fails loudly
    Dsl.register("noargs", c => c)
    intercept[IllegalArgumentException] {
      Dsl.build(df, Seq(Dsl.col("close").call("noargs", 1.0)), Nil).collect()
    }
  }

  test("multi-input call with kwargs round-trips (ExternalFunction input_cols/kwargs)") {
    import org.apache.spark.sql.functions.{pow => spow}
    Dsl.registerExt("scaled_diff", (cs, args, kw) =>
      spow(cs(0) - cs(1), args.head) * kw("scale"))
    val f = Dsl.call("scaled_diff", Seq(Dsl.col("high"), Dsl.col("low")),
      args = Seq(2.0), kwargs = Seq("scale" -> 0.5))
    assert(f.name == "scaled_diff(high,low,2,scale=0.5)")
    val json = Dsl.toJson(Seq(f))
    assert(json.contains(""""xs":["""), json)
    assert(json.contains(""""kwargs":{"scale":0.5}"""), json)
    val back = Dsl.fromJson(json)
    assert(back.map(_.spec) == Seq(f.spec))
    assert(Dsl.toJson(back) == json)
    val df = Seq((1L, 7.0, 3.0)).toDF("bar_ts", "high", "low")
    val out = Dsl.build(df, back, Seq("bar_ts")).collect().head
    assert(out.getDouble(1) == 8.0) // (7-3)^2 * 0.5
    // single-input legacy "x" JSON still parses
    Dsl.register("ident", c => c)
    val legacy = Dsl.fromJson(
      """[{"op":"call","fn":"ident","x":{"op":"col","col":"high"}}]""")
    assert(legacy.head.spec ==
      graft.features.FSpec.FCall("ident", Seq(graft.features.FSpec.FCol("high"))))
  }

  test("string kwargs round-trip and dispatch (ExternalFunction string params)") {
    import org.apache.spark.sql.functions.{sqrt => ssqrt, log => slog}
    Dsl.registerExtFull("mode_scale", (cs, _, kw, skw) => skw("mode") match {
      case "sqrt" => ssqrt(cs(0) * kw("k"))
      case "log"  => slog(cs(0) * kw("k"))
      case other  => throw new IllegalArgumentException(s"mode $other")
    })
    val f = Dsl.call("mode_scale", Seq(Dsl.col("close")),
      kwargs = Seq("k" -> 4.0), skwargs = Seq("mode" -> "sqrt"))
    assert(f.name == "mode_scale(close,k=4,mode=sqrt)")
    val json = Dsl.toJson(Seq(f))
    assert(json.contains(""""skwargs":{"mode":"sqrt"}"""), json)
    val back = Dsl.fromJson(json)
    assert(back.map(_.spec) == Seq(f.spec))
    assert(Dsl.toJson(back) == json)
    val df = Seq((1L, 9.0)).toDF("bar_ts", "close")
    val out = Dsl.build(df, back, Seq("bar_ts")).collect().head
    assert(out.getDouble(1) == 6.0) // sqrt(9*4)
    // escapes survive the round-trip
    val esc = Dsl.call("mode_scale", Seq(Dsl.col("close")),
      kwargs = Seq("k" -> 1.0), skwargs = Seq("mode" -> "a\"b\\c"))
    assert(Dsl.fromJson(Dsl.toJson(Seq(esc))).map(_.spec) == Seq(esc.spec))
    // numeric-only registrations reject string kwargs loudly
    Dsl.registerExt("numeric_only", (cs, _, _) => cs.head)
    intercept[IllegalArgumentException] {
      Dsl.build(df, Seq(Dsl.call("numeric_only", Seq(Dsl.col("close")),
        skwargs = Seq("mode" -> "x"))), Nil).collect()
    }
  }

  test("non-finite call parameters are rejected at construction") {
    intercept[IllegalArgumentException] {
      Dsl.col("close").call("powc", Double.NaN)
    }
    intercept[IllegalArgumentException] {
      Dsl.col("close").callKw("powc", "k" -> Double.PositiveInfinity)
    }
  }

  test("built-in zscore_peaks resolves through JSON and matches zScorePeaks") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 40).map(i =>
        (i.toLong, if (i == 30) 50.0 else 10.0 + (i % 3) * 0.1))
      .toDF("bar_ts", "close")
    val feats = Seq(
      Dsl.col("close").callKw("zscore_peaks", "n" -> 5.0, "threshold" -> 3.0))
    val parsed = Dsl.fromJson(Dsl.toJson(feats))
    assert(parsed.map(_.spec) == feats.map(_.spec))
    assert(feats.head.name == "zscore_peaks(close,n=5,threshold=3)")
    val viaDsl = Dsl.build(df, parsed, Seq("bar_ts")).orderBy("bar_ts")
      .collect().map(_.getDouble(1)).toSeq
    val direct = graft.features.Features
      .zScorePeaks(df, "close", 5, 3.0, Seq("bar_ts"))
      .orderBy("bar_ts").collect()
      .map(r => if (r.getAs[Boolean]("is_peak")) 1.0 else 0.0).toSeq
    assert(viaDsl == direct)
    assert(viaDsl(29) == 1.0, "the spike row must flag as a peak")
  }

  test("BarSpec JSON round-trips losslessly for every machine kind") {
    import graft.features.BarSpec
    import graft.features.BarSpec._
    val specs: Seq[BarSpec] = Seq(
      TickBars(300), VolumeBars(2000.0), DollarBars(200000.0),
      TickImbalanceBars(0.05, 0.05, 200.0, 0.05),
      ValueImbalanceBars(dollar = false, 0.05, 0.05, 200.0, 0.3),
      ValueImbalanceBars(dollar = true, 0.05, 0.05, 200.0, 20.0),
      TickRunBars(0.05, 0.05, 200.0, 0.5),
      ValueRunBars(dollar = true, 0.05, 0.05, 0.05, 200.0, 0.5, 200.0))
    specs.foreach { sp =>
      val parsed = BarSpec.fromJson(sp.toJson)
      assert(parsed == sp, s"round-trip drift for $sp")
      assert(parsed.toJson == sp.toJson)
    }
    intercept[IllegalArgumentException] {
      BarSpec.fromJson("""{"bars":"mystery","threshold":1}""")
    }
    intercept[IllegalArgumentException] { VolumeBars(Double.NaN) }
    // malformed configs must fail with a NAMED parse error, not a raw
    // index/NoSuchElement exception
    val missing = intercept[IllegalArgumentException] {
      BarSpec.fromJson("""{"bars":"imbalance","alphaB":0.05,"initT":200,"initB":0.05}""")
    }
    assert(missing.getMessage.contains("missing field alphaT"), missing.getMessage)
    val unterminated = intercept[IllegalArgumentException] {
      BarSpec.fromJson("""{"bars":"tick""")
    }
    assert(unterminated.getMessage.contains("unterminated string"), unterminated.getMessage)
    val truncated = intercept[IllegalArgumentException] {
      BarSpec.fromJson("""{"bars":"tick","threshold":300""")
    }
    assert(truncated.getMessage.contains("truncated input"), truncated.getMessage)
    val badNum = intercept[IllegalArgumentException] {
      BarSpec.fromJson("""{"bars":"volume","threshold":..}""")
    }
    assert(badNum.getMessage.contains("bad number"), badNum.getMessage)
  }

  test("BarSpec build dispatches to the same machine as direct EventBars") {
    import graft.features.BarSpec
    val trades = (1 to 120).map { i =>
      (1700000000000000000L + i * 1000000000L, i.toLong,
        100.0 + (i % 7) * 0.3 - (i % 3) * 0.2, 1.0 + (i % 4),
        if (i % 2 == 0) 1 else -1)
    }.toDF("ts", "id", "price", "qty", "side")
    val spec = BarSpec.fromJson(
      """{"bars":"value_imbalance","dollar":false,"alphaT":0.5,"alphaB":0.5,"initT":6,"initB":1}""")
    val viaSpec = spec.build(trades).orderBy("ts", "id")
      .select("id", "bar_id", "bar_closed").collect().toSeq
    val direct = graft.bars.EventBars
      .valueImbalanceBarIds(trades, dollar = false, 0.5, 0.5, 6.0, 1.0)
      .orderBy("ts", "id").select("id", "bar_id", "bar_closed")
      .collect().toSeq
    assert(viaSpec == direct)
    assert(viaSpec.exists(_.getBoolean(2)), "fixture must close at least one bar")
  }

  /** Raw-double equality: both NULL, or equal values (NaN equals NaN). */
  private def sameDouble(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case _ => false
  }

  private def shuffleCount(rdd: org.apache.spark.rdd.RDD[_]): Int =
    rdd.dependencies.map {
      case d: org.apache.spark.ShuffleDependency[_, _, _] => 1 + shuffleCount(d.rdd)
      case d => shuffleCount(d.rdd)
    }.sum

  test("ewma(span 100) matches the exact adjust=True recursion to 1e-9") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(3)
    var px = 100.0
    val df = (1 to 1500).map { i =>
      px *= math.exp(0.01 * rnd.nextGaussian()); (i.toLong, px)
    }.toDF("bar_ts", "close")
    val viaDsl = Dsl.build(df, Seq(Dsl.col("close").ewma(100)), Seq("bar_ts"))
      .orderBy("bar_ts").collect().map(_.getDouble(1))
    val exact = graft.features.Ewm.ewmaExact(
        df.withColumn("ts", col("bar_ts")).withColumn("id", col("bar_ts")), "close", 100)
      .orderBy("bar_ts").collect().map(_.getAs[Double]("ewma"))
    assert(viaDsl.length == exact.length)
    val worst = viaDsl.zip(exact).map { case (a, b) => math.abs(a - b) / math.abs(b) }.max
    assert(worst <= 1e-9, s"max relative error $worst")
  }

  test("window kernel equals the Catalyst window columns at any partitioning") {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    import graft.features.{Ewm, Features}
    val rnd = new scala.util.Random(5)
    // a 600-bar and a 150-bar series; v carries nulls (never on a series'
    // first bar: an all-null frame has no Catalyst ewma to compare with)
    val rows = Seq("a" -> 600, "b" -> 150).flatMap { case (sym, len) =>
      var px = 50.0
      (1 to len).map { i =>
        px *= math.exp(0.02 * rnd.nextGaussian())
        val v: Option[Double] =
          if (i % 23 == 7 || i % 41 == 12) None else Some(1 + math.floor(rnd.nextDouble() * 9))
        (sym, i.toLong * 300 + (if (sym == "a") 0 else 7), px, v)
      }
    }
    val all = rows.toDF("sym", "bar_ts", "close", "v")
    val one = all.where(col("sym") === "a")

    def dslOps(f: Feature): Seq[Feature] = Seq(f.sma(5), f.rollStd(7), f.rollMin(4),
      f.rollMax(6), f.rollMedian(5), f.rollMedian(6), f.ewma(10), f.ewma(30),
      f.zscore(8), f.burst(5), f.lag(3), f.ret(2), f.logRet(1))
    def refOps(c: Column, p: Seq[String]): Seq[Column] = {
      val w = Features.w(p)
      def full(n: Int, agg: Column => Column) = Features.full(n, agg(c).over(Features.rows(n, p)), p)
      Seq(Features.sma(c, 5, p), full(7, stddev_samp), full(4, min), full(6, max),
        Features.rollingMedian(c, 5, p), Features.rollingMedian(c, 6, p),
        Ewm.ewmaWindowed(c, 10, Ewm.ewmaWindowK(10), p),
        Ewm.ewmaWindowed(c, 30, Ewm.ewmaWindowK(30), p),
        Features.zscore(c, 8, ddof = 0, p = p), Features.burstRatio(c, 5, p),
        lag(c, 3).over(w), c / lag(c, 2).over(w) - 1, log(c / lag(c, 1).over(w)))
    }
    val x = Dsl.col("close")
    val v = Dsl.col("v")
    val feats = dslOps(x) ++ dslOps(v) ++ Seq(
      x.logRet(1).rollStd(20), v.zscore(3).abs, v.ewma(10) min v.rollMax(4))
    // without an ewma the preview is only the 20-row window-over-window chain
    val chain = Seq(x.logRet(1).rollStd(20), x.lag(3))
    def collect(df: DataFrame, names: Seq[String]): Seq[Seq[Any]] =
      df.orderBy("sym", "bar_ts").select(names.map(n => col(s"`$n`")): _*)
        .collect().map(_.toSeq).toSeq
    def reference(df: DataFrame, p: Seq[String], fs: Seq[Feature]): Seq[Seq[Any]] = {
      val w = Features.w(p)
      val base = df.withColumn("__lr", log(col("close") / lag(col("close"), 1).over(w)))
      val refs = refOps(col("close"), p) ++ refOps(col("v"), p) ++ Seq(
        Features.full(20, stddev_samp(col("__lr")).over(Features.rows(20, p)), p),
        abs(Features.zscore(col("v"), 3, ddof = 0, p = p)),
        least(Ewm.ewmaWindowed(col("v"), 10, Ewm.ewmaWindowK(10), p),
          Features.full(4, max(col("v")).over(Features.rows(4, p)), p)))
      collect(base.select(Seq(col("sym"), col("bar_ts")) ++
        refs.zip(feats).map { case (c, f) => c.as(f.name) }: _*), fs.map(_.name))
    }
    def viaDsl(df: DataFrame, p: Seq[String], fs: Seq[Feature], parts: Int): Seq[Seq[Any]] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val out = Dsl.build(df, fs, Seq("sym", "bar_ts"), p)
      assert(!out.queryExecution.executedPlan.toString.contains("Window"),
        out.queryExecution.executedPlan.toString)
      assert(shuffleCount(out.rdd) == 1, "the kernel pays one layout shuffle")
      if (p.isEmpty && parts == 5)
        assert(out.rdd.getNumPartitions >= 3, "unkeyed layout spans >= 3 ranges")
      collect(out, fs.map(_.name))
    }
    def sameRows(a: Seq[Seq[Any]], b: Seq[Seq[Any]], fs: Seq[Feature], what: String)(
        eq: (Any, Any) => Boolean) = {
      assert(a.length == b.length, what)
      a.zip(b).zipWithIndex.foreach { case ((ra, rb), i) =>
        ra.zip(rb).zip(fs).foreach { case ((ca, cb), f) =>
          assert(eq(ca, cb), s"$what: row $i ${f.name}: $ca vs $cb")
        }
      }
    }
    val bits = (a: Any, b: Any) => (a, b) match {
      case (x: Double, y: Double) =>
        java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
      case _ => a == b
    }
    try {
      for ((df, p, fs) <- Seq((one, Nil, feats), (one, Nil, chain), (all, Seq("sym"), feats))) {
        val ref = reference(df, p, fs)
        val k1 = viaDsl(df, p, fs, 1)
        val k5 = viaDsl(df, p, fs, 5)
        sameRows(k1, ref, fs, s"kernel vs Catalyst, keys=$p")(sameDouble)
        sameRows(k5, k1, fs, s"5 vs 1 partitions, keys=$p")(bits)
        assert(k1.exists(_.forall(_ != null)), "fixture must warm every window")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }
}
