package perfbench

import java.io.{File, FileOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload's measured window produced. Times are epoch ms. */
final case class Measured(
    lineage: Seq[Double],          // seconds per unit (rep, drain or micro-batch)
    latencies: Seq[Double],        // seconds per emitted bar / published doc
    commits: Seq[(Long, Long)],    // (commit time, creation time of newest input)
    windowStart: Long,
    windowEnd: Long,
    digests: Seq[String],          // output digest per rep
    extras: Map[String, Double])   // per-layer extras the workload measures

/** One output check: a failed check counts as a failed operation. */
final case class Check(name: String, ok: Boolean, detail: String = "")

trait Workload {
  def name: String

  /** Input sizes for the record (rows, symbols, skew share, bytes). */
  def sizes: Map[String, Double]

  /** Writes the seeded inputs under `dir`; `tiny` for warm-up and smoke runs. */
  def generate(dir: File, seed: Long, tiny: Boolean, seconds: Int): Unit

  /** Runs units over the inputs in `dir` until `seconds` have passed (and
    * at least `minUnits` ran). Scratch goes under `work`.
    */
  def measure(spark: SparkSession, tr: Tracer, dir: File, work: File,
              seconds: Double, minUnits: Int): Measured

  /** Output checks over the last measured unit's outputs; `digests` are the
    * output digests of every unit of the run.
    */
  def checks(spark: SparkSession, digests: Seq[String]): Seq[Check]

  /** Layers that must hold most of the task CPU in a traced run. */
  def dominantLayers: Seq[String]
}

object Workload {

  val all: Seq[String] = Seq("series_bulk", "symbols_skew", "bars_stream", "corpus_stream")

  def apply(name: String): Workload = name match {
    case "series_bulk" => new SeriesBulk
    case "symbols_skew" => new SymbolsSkew
    case "bars_stream" => new BarsStream
    case "corpus_stream" => new CorpusStream
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def now(): Long = System.currentTimeMillis()

  /** Repeat `unit` until the window has passed and `minUnits` ran. After
    * each unit, outside its timing and before its cached frames are
    * released, the live heap is sampled (see [[LiveHeap]]).
    */
  def repeat[T](seconds: Double, minUnits: Int)(unit: Int => T): (Seq[T], Long, Long) = {
    val w0 = now()
    val out = mutable.ArrayBuffer[T]()
    while (now() - w0 < seconds * 1000 || out.size < minUnits) {
      out += unit(out.size)
      LiveHeap.sample()
    }
    (out.toSeq, w0, now())
  }

  /** Order-independent digest of a table: row count and the sum of a
    * 64-bit hash over every column, doubles rounded to 6 decimals as the
    * program's oracle compares them (the unkeyed weight scans differ in the
    * last bit between identical runs).
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType)
        round(nanvl(col(f.name), lit(null).cast("double")), 6)
      else col(f.name)
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def write(f: File)(body: FileOutputStream => Unit): Unit = {
    f.getParentFile.mkdirs()
    val o = new FileOutputStream(f)
    try body(o) finally o.close()
  }

  def unpersistAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def sameDigests(ds: Seq[String]): Check =
    Check("digest identical across reps", ds.distinct.size == 1, ds.distinct.mkString(" | "))
}

/** Peak old-generation heap after GC: a full collection at the end of each
  * unit, while the unit's persisted frames are still cached, then the old
  * pool's collection usage from its MXBean. Sampling at a fixed point of
  * the lineage keeps the figure free of GC timing.
  */
object LiveHeap {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  @volatile private var sampling = false

  /** Samples from here on, starting from zero: the warm-up is not sampled. */
  def start(): Unit = { peak = 0L; sampling = true }

  def sample(): Unit = if (sampling) {
    // the first collection queues unreachable broadcasts and shuffles for
    // Spark's cleaner, which frees their blocks asynchronously; the second
    // collection then sees only what the unit still holds
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .foreach(p => Option(p.getCollectionUsage).foreach(u => peak = math.max(peak, u.getUsed)))
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
