package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <dir> [--report <dir>]
  *
  * Sets up once (session start, seeded inputs, warm-up) and reports that
  * as `setup_s`, then measures the workload for `--seconds`.
  * `--trace 0` prints the end-to-end metrics; `--trace 1` splits the window
  * into an untraced and a traced half and prints the per-layer metrics.
  * The last stdout line is the JSON result; the exit code is non-zero when
  * any operation or output check failed.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: File, tiny: Boolean, report: Option[File])

  def parse(a: Array[String]): Args = {
    def opt(k: String) = a.indexOf(k) match {
      case -1 => None
      case i => a.lift(i + 1)
    }
    Args(opt("--workload").getOrElse(sys.error("--workload is required")),
      opt("--seed").map(_.toLong).getOrElse(1L),
      opt("--seconds").map(_.toInt).getOrElse(10),
      opt("--trace").contains("1"),
      new File(opt("--root").getOrElse(sys.error("--root is required"))),
      tiny = false,
      report = opt("--report").map(new File(_)))
  }

  def session(root: File, cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(root, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(root, "chk").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.ui.retainedExecutions", "100000")
      .config("spark.ui.retainedJobs", "100000")
    val s = graft.Conf.engineDefaults(b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try run(a) catch {
      case e: Exception =>
        System.err.println(s"perfbench: ${a.workload} failed: $e")
        e.printStackTrace()
        2
    }
    sys.exit(code)
  }

  /** Runs one benchmark invocation and prints the result; returns the exit code. */
  def run(a: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val w = Workload(a.workload)
    // One set-up per run: session start, seeded inputs, and the warm-up (a
    // unit on smaller inputs, which loads the classes and JIT-compiles the
    // lineage). Only the first set-up in a JVM pays for that; a second one
    // would time a warm restart, another quantity, at the cost of a
    // measured unit, so setup_s is steadied by the median over runs.
    SparkSession.getActiveSession.foreach(_.stop())
    val t0 = System.nanoTime()
    val spark = session(a.root, cores)
    val t1 = System.nanoTime()
    val warm = new File(a.root, "warm"); warm.mkdirs()
    w.generate(warm, a.seed + 1000003L, tiny = true, 2)
    w.measure(spark, new Tracer(spark, enabled = false), warm, new File(a.root, "warmwork"),
      seconds = 0, minUnits = 1)
    val t2 = System.nanoTime()
    val dir = new File(a.root, "in"); dir.mkdirs()
    w.generate(dir, a.seed, a.tiny, a.seconds)
    Workload.unpersistAll(spark)
    Seq(warm, new File(a.root, "warmwork")).foreach(deleteTree)
    val t3 = System.nanoTime()
    val setupTime = (t3 - t0) / 1e9
    System.err.println(f"perfbench setup: $setupTime%.2f s (session ${(t1 - t0) / 1e9}%.2f, " +
      f"warm-up ${(t2 - t1) / 1e9}%.2f, inputs ${(t3 - t2) / 1e9}%.2f)")
    val work = new File(a.root, "work")
    // the window starts from a collected heap, as each unit after the first does
    System.gc()
    LiveHeap.start()
    // an untraced run measures units until the window has passed and at
    // least two ran, so lineage_s is a median of two or more; a traced run
    // measures one half untraced and one traced over the same inputs; the
    // digest check compares every unit
    val untraced = w.measure(spark, new Tracer(spark, enabled = false), dir, work,
      if (a.trace) a.seconds / 2.0 else a.seconds.toDouble, minUnits = if (a.trace) 1 else 2)
    val traced = if (!a.trace) None else {
      val tr = new Tracer(spark, enabled = true)
      tr.listener.attach(spark)
      Workload.unpersistAll(spark)
      val m = w.measure(spark, tr, dir, work, a.seconds / 2.0, minUnits = 1)
      tr.listener.detach(spark)
      Some((tr, m))
    }
    System.err.println("perfbench units: " + untraced.lineage.map(x => f"$x%.3f").mkString(" ") + " s")
    val peakHeap = LiveHeap.peakMb
    val share = traced.toSeq.flatMap { case (tr, _) => layerShare(w, tr.layerStats(1)) }
    share.foreach(c => System.err.println(s"perfbench ${c.name}: ${c.detail}"))
    val checks = w.checks(spark, untraced.digests ++ traced.toSeq.flatMap(_._2.digests)) ++ share
    val attempted = untraced.lineage.size + traced.map(_._2.lineage.size).getOrElse(0) + checks.size
    val failed = checks.count(!_.ok)
    checks.filterNot(_.ok).foreach(c => System.err.println(s"CHECK FAILED: ${c.name}: ${c.detail}"))

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => endToEnd(untraced, setupTime, peakHeap)
      case Some((tr, m)) =>
        val units = if (w.isInstanceOf[BarsStream]) 1 else m.lineage.size
        val stats = tr.layerStats(units) ++ m.extras
        val overhead = Stats.median(m.lineage) - Stats.median(untraced.lineage)
        val all = stats + ("bench.trace_overhead_s" -> overhead)
        val rows = Trace.metricUnits.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
        a.report.foreach(f => writeReport(f, a, w, rows, tr))
        rows
    }
    val failedFrac = failed.toDouble / math.max(1, attempted)
    System.err.println(f"perfbench ${a.workload}: seed ${a.seed} attempted $attempted failed $failed " +
      f"failed_frac $failedFrac%.4f sizes ${w.sizes.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    spark.stop()
    if (failed == 0) 0 else 1
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def endToEnd(m: Measured, setup: Double, peakHeap: Double): Seq[(String, Double, String)] = {
    val lat = if (m.latencies.isEmpty) Seq(0.0) else m.latencies
    val (p50, _, _) = Stats.tailPercentile(lat, 50)
    val (p99, used, n) = Stats.tailPercentile(lat, 99)
    System.err.println(s"perfbench bar latency: p$used over $n samples reported as bar_latency_p99_s")
    val backlog = Stats.median(Stats.backlogSamples(m.windowStart, m.windowEnd, 100, m.commits) match {
      case Seq() => Seq(0.0)
      case s => s
    })
    Seq(
      ("setup_s", setup, "s"),
      ("lineage_s", Stats.median(m.lineage), "s"),
      ("bar_latency_p50_s", p50, "s"),
      ("bar_latency_p99_s", p99, "s"),
      ("backlog_s", backlog, "s"),
      ("peak_heap_mb", peakHeap, "MB"))
  }

  /** The layers a workload claims to exercise must hold most task CPU. */
  def layerShare(w: Workload, stats: Map[String, Double]): Seq[Check] =
    if (w.dominantLayers.isEmpty) Nil
    else {
      val cpu = Trace.Layers.map(l => l -> stats.getOrElse(s"$l.task_cpu_s", 0.0)).toMap
      val share = w.dominantLayers.map(cpu).sum / math.max(1e-9, cpu.values.sum)
      Seq(Check(s"${w.dominantLayers.mkString("+")} hold most task CPU", share > 0.5,
        f"share $share%.3f of ${cpu.values.sum}%.2f s"))
    }

  private def writeReport(f: File, a: Args, w: Workload, rows: Seq[(String, Double, String)],
                          tr: Tracer): Unit = {
    f.mkdirs()
    val byName = rows.map(r => r._1 -> r._2).toMap
    val head = "| layer | " + Trace.LayerStats.mkString(" | ") + " |"
    val sep = "|" + Seq.fill(Trace.LayerStats.size + 1)("---").mkString("|") + "|"
    val body = Trace.Layers.map { l =>
      s"| $l | " + Trace.LayerStats.map(s => f"${byName(s"$l.$s")}%.4g").mkString(" | ") + " |"
    }
    val extras = Trace.Extras.map { case (n, u) => f"- `$n` = ${byName(n)}%.6g $u" }
    val md = (Seq(s"# ${a.workload} traced run (seed ${a.seed}, ${a.seconds} s)", "",
      "Per measured unit; layers that do no work on this workload read 0.", "", head, sep) ++
      body ++ Seq("") ++ extras :+ "").mkString("\n")
    java.nio.file.Files.write(new File(f, s"trace_${a.workload}.md").toPath, md.getBytes("UTF-8"))
    java.nio.file.Files.write(new File(f, s"spans_${a.workload}.jsonl").toPath,
      tr.spansJson().getBytes("UTF-8"))
    System.err.println(md)
  }
}
