package graft
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // engine defaults (checksum-off, AQE advisory coalescing) live in
    // Conf.engineDefaults so bench/verify/profilers always share them
    val spark = Conf.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    Conf.resolveStatePartitions(spark, sfDir)
    // JIT/codegen warmup (the reference's perf numbers are likewise
    // JIT-warm): touch each input table and exercise one shuffle + one
    // window so the first measured query isn't charged JVM startup.
    Seq("events", "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1000)
        .groupBy(org.apache.spark.sql.functions.spark_partition_id())
        .count().count()
      catch { case NonFatal(e) =>
        System.err.println(s"warm-up read of $t failed: ${e.getClass.getName}")
      }
    }
    try {
      import org.apache.spark.sql.expressions.Window
      spark.range(1000)
        .withColumn("r", org.apache.spark.sql.functions.row_number()
          .over(Window.orderBy(col("id")))).count()
    } catch { case NonFatal(e) =>
      System.err.println(s"window warm-up failed: ${e.getClass.getName}")
    }
    // optional comma-separated subset + repeat count for local iteration.
    // reps > 1 reports the min of COLD runs: state is reset (cache cleared,
    // RDDs unpersisted) before every rep, so min-of-N is comparable to the
    // driver's single-rep gate — it averages out JIT/GC noise, not caches.
    // DEFAULT 2: the official (driver-run) record must defend itself
    // against co-tenant box noise — BENCH_r05's single-rep record showed
    // two queries ~20× their isolated cost from exactly that. Min-of-2
    // cold keeps the record within ~1.5× of an isolated re-run.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // the iterative-CC family swings 6-13 s under co-tenancy (round-robin
    // checkpoint round trips amplify scheduler noise) — one extra cold rep
    // keeps the committed record within ~1.3x of isolated minimums
    // (round-8 verdict ask #7)
    val ccFamily = Set("dedup_clusters", "dedup_keep_best")
    def repsFor(name: String): Int =
      if (ccFamily(name)) math.max(reps, 3) else reps
    val selected = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // noop sink, NOT count(): a count-only action lets Catalyst prune the
    // query's own output columns (and skips materializing .cache() calls
    // entirely), so count-mode times measured row counting, not the
    // operator. The noop write computes every output column — the number a
    // real consumer would pay.
    // Per-query isolation: every rep starts with an empty CacheManager and
    // no persisted RDDs. Without this, each query's internal .cache() stays
    // registered for the rest of the run, and the accumulated memory/GC
    // pressure lands on whichever query happens to run later — BENCH_r03's
    // per-query attribution was off by up to 8x from exactly this. The
    // clear + gc happen OUTSIDE the timed region.
    def resetState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      // broadcast/shuffle cleanup is GC-driven and ASYNC: give the
      // ContextCleaner a beat so the previous query's deletions don't
      // contend with the next query's IO inside its timed region
      Thread.sleep(300)
    }
    // FIXED-WORK CALIBRATION ROW: a pure CPU + one-shuffle job (no I/O,
    // no state, partition count pinned so the work is byte-identical
    // across runs and rounds) measured with the suite's own min-of-2 cold
    // discipline. The record can then defend itself against co-tenant box
    // noise: a reader normalizes cross-round per-query deltas by the
    // calibration delta before calling anything a regression (round-11's
    // driver record carried 2.5-4.4x phantom regressions an isolated
    // re-run erased).
    def calibrate(): Double = {
      resetState()
      import org.apache.spark.sql.functions.{xxhash64, pmod, lit, sum, count}
      val t0 = System.nanoTime()
      spark.range(0, 200000000L, 1, 64)
        .select(xxhash64(col("id")).as("h"))
        .groupBy(pmod(col("h"), lit(1024)).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("h").cast("decimal(38,0)")).as("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val calibration = Seq(calibrate(), calibrate()).min
    var failed = List.empty[String]
    var spreads = Map.empty[String, Double]
    val results = selected.flatMap { case (name, fn) =>
      // failed reps contribute no timing: a fast exception would otherwise
      // deflate the min and the total while the query sits in `failed`.
      def rep(): Option[Double] = {
        resetState()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case NonFatal(e) =>
            System.err.println(s"$name failed: ${e.getClass.getName}: ${e.getMessage}")
            if (!failed.contains(name)) failed ::= name
            None
        }
      }
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      (1 to repsFor(name)).foreach(_ => rep().foreach(times += _))
      // ADAPTIVE REPS: a rep-to-rep spread beyond ~1.5x is co-tenant
      // noise, not the query (the calibrated noise bound min-of-2 was
      // sized for) — keep adding cold reps until the spread of the best
      // two settles under 1.5x, capped at 4 total. The extra-ATTEMPT
      // bound (not just successful-times bound) matters: a query that
      // starts failing mid-run (disk full, OOM) returns None forever,
      // `times` never grows, and an unbounded loop would hang the suite.
      var extraAttempts = 0
      while (times.length >= 2 && times.length < 4 && extraAttempts < 4 &&
          times.sorted.take(2).max / times.min > 1.5) {
        extraAttempts += 1
        rep().foreach(times += _)
      }
      if (times.nonEmpty) {
        if (times.length >= 2)
          spreads += (name ->
            math.rint(times.max / times.min * 100) / 100)
        Some(name -> times.min)
      } else None
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val spreadsJson = spreads.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","calibration":$calibration,"rep_spreads":$spreadsJson,"failed":$failedJson}"""
    // ORDER MATTERS (round-14 verdict #2): the driver parses the LAST
    // stdout line, and for two rounds it parsed the compact summary —
    // whose `queries` was replaced by a detail_file pointer — leaving
    // PERF/scaling blind (n_common = 0). Print the summary FIRST and the
    // full per-query JSON as the FINAL line so per-query comparison and
    // the scaling block work again. The BENCH_LOCAL.json sidecar keeps
    // carrying the complete record for humans and tail-truncated readers.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir","calibration":$calibration,"failed":$failedJson,"detail_file":"BENCH_LOCAL.json"}"""
    println(summary)
    // stdout gets truncated by callers that keep only a tail — persist the
    // complete line so every run's numbers stay machine-readable. The
    // DEFAULT path is the repo's benchmark of record: only a FULL-suite run
    // AT THE RECORD SCALE FACTOR may overwrite it. Subset runs persist
    // NOTHING (stdout + a stderr notice only — they would silently clobber
    // the last full record); full runs at another sf (a sf0.01 smoke once
    // overwrote the sf0.1 record) land in a sf-suffixed file;
    // SPARK_GRAFT_BENCH_OUT overrides explicitly.
    val recordSf = sys.env.getOrElse("SPARK_GRAFT_RECORD_SF", "sf0.1")
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").orElse {
      if (only.nonEmpty) None
      else if (sfName == recordSf) Some("BENCH_LOCAL.json")
      else Some(s"BENCH_LOCAL.$sfName.json")
    }
    outPath match {
      case Some(path) =>
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(path), json + "\n")
        catch { case NonFatal(e) =>
          System.err.println(
            s"BENCH_LOCAL write failed: ${e.getClass.getName}: ${e.getMessage}")
        }
      case None =>
        System.err.println(
          "subset run: BENCH_LOCAL.json untouched (set SPARK_GRAFT_BENCH_OUT to persist)")
    }
    if (failed.nonEmpty)
      System.err.println(s"BENCH FAILURES: ${failed.sorted.mkString(", ")}")
    // LAST stdout line on purpose — the driver parses it; it must carry
    // the per-query timings (see the order comment above)
    println(json)
    spark.stop()
  }
}
