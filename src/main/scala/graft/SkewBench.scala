package graft

import graft.features.Scan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Key-skew resilience harness — the 100 TB question the uniform
  * [[SymBench]] fixture can't ask: real trade corpora have heavy-hitter
  * symbols (one instrument carrying most of the volume), and a keyed
  * sequential operator laid out as one-task-per-key serializes the whole
  * heavy key on one core no matter how many the cluster has.
  *
  * The harness times the SAME per-symbol EWMA recursion through both keyed
  * layouts on two fixtures:
  *
  *  - `seq`    — `Scan.seqDouble(keyCols = symbol)`: shuffle by key, one
  *               sequential kernel run per key (the layout every keyed
  *               `_sym` twin with non-affine state uses);
  *  - `affine` — `Ewm.ewmaExact(keyCols = symbol)`: ONE range-partitioned
  *               scan ordered by (symbol, ts, id) with a=0 reset
  *               coefficients at key boundaries — a heavy key splits
  *               across partitions and parallelizes WITHIN the key.
  *
  * Fixtures replicate the sf trades `copies` times (ids rebased so
  * (symbol, ts, id) stays unique): `uniform` maps every copy to a fresh
  * symbol; `skew` maps `heavy` of them onto symbol 0 (≈ heavy/copies of
  * all rows on ONE key — the heavy-hitter shape). Expected result, and
  * the reason both layouts exist: seq ≈ affine on uniform; on skew, seq
  * degrades toward serial-heavy-key wall time while affine stays at the
  * uniform figure.
  *
  * Beyond the EW family, `SPARK_GRAFT_SKEW_OPS` (default "ewma,tbm") adds
  * the heaviest keyed consumer — the TBM LABEL CHAIN (per-symbol
  * triple-barrier walk + uniqueness/attribution sweep, the
  * tbm_labels_sym → label_weights_sym composition) — as `{kind}_tbm`
  * cells on the same fixtures. The question it answers: does the hot
  * symbol serialize the barrier walk, or does the bucketed range join's
  * (symbol, time-bucket) key split the heavy key's work across tasks?
  *
  * Usage: [SPARK_GRAFT_SF_DIR=…] [SPARK_GRAFT_SKEW_COPIES=32]
  *        [SPARK_GRAFT_SKEW_HEAVY=25] [SPARK_GRAFT_SKEW_CPUS=32]
  *        [SPARK_GRAFT_SKEW_REPS=2] [SPARK_GRAFT_SKEW_OPS=ewma,tbm]
  *        runMain graft.SkewBench
  * Prints one JSONL line: {"metric":"skew_scaling",…}
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SKEW_COPIES", "32").trim.toInt
    val heavy = sys.env.getOrElse("SPARK_GRAFT_SKEW_HEAVY", "25").trim.toInt
    val cpuList = sys.env.getOrElse("SPARK_GRAFT_SKEW_CPUS", "32")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_SKEW_REPS", "2").trim.toInt
    val span = 100
    val q = 1.0 - 2.0 / (span + 1.0)

    // ---- fixtures (own session, untimed)
    val fixtures = Seq("uniform" -> "target/skewfix_uniform",
      "skew" -> "target/skewfix_skew")
    val rowsPerFixture: Long = {
      val spark = Conf.engineDefaults(SparkSession.builder()
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val base = graft.trades.Trades.fromEvents(Tables.events(spark, sfDir))
        .select("ts", "id", "price", "qty", "symbol")
      val idSpan = base.agg(max("id")).first().getLong(0) + 1L
      val rep = base.withColumn("k", explode(sequence(lit(0), lit(copies - 1))))
        .withColumn("id", col("id") + col("k") * lit(idSpan))
      fixtures.foreach { case (kind, path) =>
        val sym =
          if (kind == "uniform") col("k").cast("long")
          else when(col("k") < heavy, 0L).otherwise(col("k").cast("long"))
        rep.select(col("ts"), col("id"), col("price"), col("qty"),
            sym.as("symbol"))
          .repartition(32)
          .write.mode("overwrite").parquet(path)
      }
      val n = spark.read.parquet(fixtures.head._2).count()
      spark.stop()
      n
    }

    // one auto-tier pick per wauto CELL, keyed "cpus_kind" (not an ordered
    // list appended per rep — reps > 1 duplicated entries and broke the
    // pick-to-cell attribution)
    val autoPicks = scala.collection.mutable.LinkedHashMap[String, String]()
    val runs = cpuList.map { cpus =>
      val spark = Conf.engineDefaults(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")

      def seqLayout(t: DataFrame): DataFrame =
        Scan.seqDouble(t, Seq("ts", "id"), "ewma", Seq("symbol")) {
          (schema, rows) =>
            val pIdx = schema.fieldIndex("price")
            var u = 0.0; var v = 0.0
            rows.map { r =>
              val y = r.getDouble(pIdx)
              u = y + q * u; v = 1 + q * v
              (r, u / v)
            }
        }
      def affineLayout(t: DataFrame): DataFrame =
        graft.features.Ewm.ewmaExact(t, "price", span, keyCols = Seq("symbol"))
      // the per-key codegen WINDOW tier (O(ewmaWindowK(span))/row HOF) and
      // the auto tier that must land on min(win, affine) on both fixtures
      def ewinLayout(t: DataFrame): DataFrame =
        graft.features.Ewm.ewmaWindowedKeyed(t, "price", span,
          keyCols = Seq("symbol"))
      def eautoLayout(t: DataFrame): DataFrame =
        graft.features.Ewm.ewmaKeyed(t, "price", span,
          keyCols = Seq("symbol"))
      // the keyed TBM chain (tbm_labels_sym's event recipe + the
      // label_weights_sym sweep) — the engine's heaviest keyed consumer
      def tbmChain(t: DataFrame): DataFrame = {
        val ev = t.where(col("id") % 29 === 0).select(
          col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
          col("price").as("p0"),
          (lit(0.05) + (col("id") % 7).cast("double") * lit(0.01)).as("tgt"))
        val lab = graft.labels.TripleBarrier.label(t, ev, 2.0, 1.5,
          vertBarrierSec = 7 * 86400.0, minCloseSec = 0.0, minRet = 0.02,
          isMeta = false, partCols = Seq("symbol"))
        graft.labels.Weights.eventWeights(t, lab, Seq("symbol"))
          .withColumnRenamed("avg_uniqueness", "ewma") // shared count column
      }
      // label-only cell: attributes hot-key cost between the barrier walk
      // (bucketed range join) and the weights sweep. Default = AUTO bucket
      // subdivision (probe-derived, r12 verdict ask #7); `label8` forces
      // the old constant 8 for the comparison.
      def labelOnly(subdiv: Option[Int])(t: DataFrame): DataFrame = {
        val ev = t.where(col("id") % 29 === 0).select(
          col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
          col("price").as("p0"),
          (lit(0.05) + (col("id") % 7).cast("double") * lit(0.01)).as("tgt"))
        graft.labels.TripleBarrier.label(t, ev, 2.0, 1.5,
          vertBarrierSec = 7 * 86400.0, minCloseSec = 0.0, minRet = 0.02,
          isMeta = false, partCols = Seq("symbol"), bucketSubdiv = subdiv)
          .withColumnRenamed("ret", "ewma")
      }
      // the weights sweep ALONE through all three tier choices — the
      // auto cell must land at min(win, safe) on BOTH fixtures (uniform:
      // window tier wins; 75%-hot key: skew-safe wins). The auto probe's
      // pick is recorded ONCE per cell in the `cpus_kind`-keyed map below
      // (recording inside this fn ran once per REP and misattributed
      // picks to cells — r12 ADVICE).
      def weightsSweep(tier: Option[Boolean])(t: DataFrame): DataFrame = {
        val ev = t.where(col("id") % 29 === 0).select(
          col("symbol"), col("ts").as("event_ts"), col("id").as("event_id"),
          (col("ts") + lit(7200000000000L)).as("touch_ts"))
        graft.labels.Weights.eventWeights(t, ev, Seq("symbol"),
            skewSafe = tier)
          .withColumnRenamed("avg_uniqueness", "ewma")
      }
      val ops = sys.env.getOrElse("SPARK_GRAFT_SKEW_OPS", "ewma,tbm")
        .split(",").map(_.trim).toSet
      val layouts =
        (if (ops("ewma")) Seq("seq" -> (seqLayout _), "affine" -> (affineLayout _))
         else Nil) ++
        (if (ops("ewin")) Seq("ewin" -> (ewinLayout _)) else Nil) ++
        (if (ops("eauto")) Seq("eauto" -> (eautoLayout _)) else Nil) ++
        (if (ops("tbm")) Seq("tbm" -> (tbmChain _)) else Nil) ++
        (if (ops("label")) Seq("label" -> (labelOnly(None) _)) else Nil) ++
        (if (ops("label8")) Seq("label8" -> (labelOnly(Some(8)) _)) else Nil) ++
        // the cores-derived cap question (r13 verdict #6): label64 is what
        // the old constant cap allowed a high-core cluster; label100 is
        // what the 2·cores cap permits at 128 cores on a 78%-hot key
        // (⌈128·0.78⌉ = 100). Flat-or-better label100 on THIS box shows
        // the added fan-out costs nothing; the structural win (hot-key
        // de-serialization) needs the big cluster the cap now admits.
        (if (ops("label64")) Seq("label64" -> (labelOnly(Some(64)) _)) else Nil) ++
        (if (ops("label100")) Seq("label100" -> (labelOnly(Some(100)) _)) else Nil) ++
        (if (ops("weights"))
          Seq("wauto" -> (weightsSweep(None) _),
            "wwin" -> (weightsSweep(Some(false)) _),
            "wsafe" -> (weightsSweep(Some(true)) _))
         else Nil)

      // JIT/codegen WARMUP before any timed cell: the first heavy cell in
      // a fresh session otherwise pays whole-stage codegen compilation +
      // parquet reader init (measured ~14 s on the TBM cells — enough to
      // invert a paired comparison). Each layout runs once on a 50k-row
      // slice, untimed.
      layouts.foreach { case (_, mk) =>
        try mk(spark.read.parquet(fixtures.head._2).limit(50000))
          .select(count(col("ewma"))).first()
        catch { case NonFatal(e) =>
          System.err.println(s"warm-up layout failed: ${e.getClass.getName}")
        }
      }
      val cells = for {
        (kind, path) <- fixtures
        (layout, mk) <- layouts
      } yield {
        val secs = (1 to reps).map { _ =>
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          val t = spark.read.parquet(path)
          val t0 = System.nanoTime()
          // force full materialization of the scan output
          mk(t).select(count(col("ewma"))).first()
          (System.nanoTime() - t0) / 1e9
        }
        if (layout == "wauto" || layout == "eauto")
          autoPicks += (s"${cpus}_${kind}_$layout" ->
            graft.labels.Weights.lastAutoSkewSafe
              .map(s => if (s) "safe" else "window").getOrElse("?"))
        s"${kind}_$layout" -> secs.min
      }
      // stop per iteration (like SymBench/StreamBench): getOrCreate would
      // otherwise return the previous local[N] session and mislabel cells
      spark.stop()
      (cpus, cells)
    }

    val runsJson = runs.map { case (cpus, cells) =>
      "\"" + cpus + "\":" + cells.map { case (k, v) => s"\"$k\":$v" }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val picksJson = autoPicks
      .map { case (k, v) => s"\"$k\":\"$v\"" }.mkString("{", ",", "}")
    println(s"""{"metric":"skew_scaling","sf":"$sfDir","copies":$copies,"heavy":$heavy,"rows":$rowsPerFixture,"reps":$reps,"auto_picks":$picksJson,"runs":$runsJson}""")
  }
}
