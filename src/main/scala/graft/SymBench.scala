package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Key-dimension scaling harness: runs the per-symbol (`_sym`) gate queries
  * and their single-series counterparts at several local[N] core counts,
  * with a fresh SparkSession per N so JIT-warm caches don't leak across
  * runs. The keyed variants shuffle by symbol (1500 keys at sf0.1) and
  * should speed up with cores; the single-series variants are order-total
  * by reference semantics and stay flat — which is the point: at 100 TB
  * parallelism comes from the key dimension, exactly as the reference's
  * own per-series loops would be sharded.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_SYM_CPUS=4,32 runMain graft.SymBench
  * Prints one JSON line: {"metric":"sym_scaling","sf":…,"runs":{"4":{q:sec},…}}
  *
  * With SPARK_GRAFT_SYM_FIXTURE=<dir> (a [[SymFixture]] output), the keyed
  * queries read the symbol-exploded fixture — 32 symbols × the full stream,
  * enough per-key work to measure core scaling — while the single-series
  * queries keep reading SPARK_GRAFT_SF_DIR (order-total by reference
  * semantics: they should stay flat, which is the point of the comparison).
  */
object SymBench {
  private val keyed = Seq(
    "f_rsi_wilder14_sym", "tbm_labels_sym", "label_weights_sym",
    "label_concurrency_sym", "time_bars_directional_sym",
    // the skew-safe tier of the two keyed sweeps (reset-affine
    // range-partitioned scan) — measured beside the codegen-window default
    // so the two-tier gap is on record at every fixture scale
    "label_weights_sym_safe", "label_concurrency_sym_safe",
    // the sequential keyed machines: per-symbol reset kernels on the
    // key-shuffled scan — parallelism IS the key dimension. One entry per
    // machine FAMILY (tick-imbalance, value-imbalance, tick-run,
    // value-run) — the sibling measures share the kernel shape.
    "cusum_events_sym", "volume_imbalance_bars_sym",
    "imbalance_bars_sym", "run_bars_sym", "dollar_run_bars_sym",
    // round-8 windowed filter at the key dimension
    "z_peaks_sym")
  private val singleSeries = Seq(
    "f_rsi_wilder14", "tbm_labels", "label_weights", "label_concurrency",
    "cusum_events", "volume_imbalance_bars",
    "imbalance_bars", "run_bars", "dollar_run_bars", "z_peaks_5m")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fixture = sys.env.get("SPARK_GRAFT_SYM_FIXTURE")
    val cpuList = sys.env.getOrElse("SPARK_GRAFT_SYM_CPUS", "4,32")
      .split(",").map(_.trim.toInt).toSeq
    // single-series first: the heavy keyed queries leave GC debris that
    // would otherwise inflate the small order-total runs measured after them
    // SPARK_GRAFT_SYM_QUERIES (csv) subsets a line-of-record run to the
    // queries under study — full sweeps on the fixture are long
    val subset = sys.env.get("SPARK_GRAFT_SYM_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = (singleSeries ++ keyed)
      .filter(n => subset.forall(_.contains(n)))
    def dirFor(name: String): String =
      if (name.endsWith("_sym") || name.endsWith("_sym_safe"))
        fixture.getOrElse(sfDir)
      else sfDir

    // shuffle-partition override for large fixtures: at 10^8 rows, cpus(32)
    // partitions means ~3M-row in-memory sorts per task × 32 concurrent —
    // heap-bound in one JVM. A real cluster sizes shuffle partitions to
    // data (AQE coalesces back); SPARK_GRAFT_SYM_SHUFFLE is that knob here.
    val shuffleParts = sys.env.get("SPARK_GRAFT_SYM_SHUFFLE").map(_.trim.toInt)
    val runs = cpuList.map { cpus =>
      val spark = Conf.engineDefaults(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", shuffleParts.getOrElse(cpus))
        .config("spark.ui.enabled", "false")).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      // warm the JIT on an untimed query so core-count runs compare plans,
      // not JVM state (first run of the JVM pays codegen + classloading)
      try SparkEntry.queries("time_bars_5m")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"warm-up query failed: ${e.getClass.getName}")
      }
      // failures are tracked, not swallowed: a missing query name or dataset
      // would otherwise report its time-to-exception as a legitimate scaling
      // number. Failed queries are dropped from the timings and listed.
      var failedHere = List.empty[String]
      // SPARK_GRAFT_SYM_REPS > 1 reports the min of COLD reps per query
      // (state reset before each), the same noise defense as Bench: a
      // co-tenant burst once read 9x on a single-rep scaling line. Default
      // 1 because fixture sweeps are long; use 2+ for lines of record.
      val reps = sys.env.getOrElse("SPARK_GRAFT_SYM_REPS", "1").toInt
      val times = names.flatMap { n =>
        val ts = (1 to reps).flatMap { _ =>
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          System.gc()
          // async broadcast/shuffle cleanup must not contend with the next
          // query's IO inside its timed region (same isolation as Bench)
          Thread.sleep(300)
          val t0 = System.nanoTime()
          try {
            SparkEntry.queries(n)(spark, dirFor(n))
              .write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch {
            case NonFatal(e) =>
              System.err.println(s"$n failed: ${e.getClass.getName}: ${e.getMessage}")
              if (!failedHere.contains(n)) failedHere ::= n
              None
          }
        }
        // a query that failed on ANY rep is excluded from timings even if
        // another rep succeeded — a min over a partially-failed set is not
        // a trustworthy number, and reporting it under both `runs` and
        // `failed` made the record contradict itself
        if (ts.nonEmpty && !failedHere.contains(n)) Some(n -> ts.min) else None
      }
      spark.stop()
      (cpus, times, failedHere.sorted)
    }

    val runsJson = runs.map { case (cpus, times, _) =>
      "\"" + cpus + "\":" +
        times.map { case (n, t) => "\"" + n + "\":" + t }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val failed = runs.flatMap { case (cpus, _, fs) => fs.map(f => s"$cpus:$f") }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"sym_scaling","sf":"$sfDir","runs":$runsJson,"failed":$failedJson}""")
    if (failed.nonEmpty)
      System.err.println(s"SYMBENCH FAILURES: ${failed.mkString(", ")}")
  }
}
