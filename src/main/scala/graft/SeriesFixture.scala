package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Long single-series scale fixture: concatenates N time-shifted copies of
  * the source events stream into ONE continuous series (ids re-based per
  * copy, timestamps shifted by the source span), so the UNKEYED
  * reference-default operators — whose round-6 rework moved them from
  * single-partition windows onto pinned scans — can be measured at 10×
  * the data on a single series. At sf0.1 those paths are job-overhead
  * bound; this fixture provides the work per overhead to show DATA and
  * CORE scaling of the scans themselves.
  *
  * The shift is a multiple of 1 µs (the canonical view quantizes ns → µs,
  * data_model parity — see `Trades.fromEvents`), so (ts, id) stays unique
  * across copies.
  *
  * Usage: runMain graft.SeriesFixture [srcDir] [outDir] [nCopies]
  */
object SeriesFixture {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/seriesfix")
    val nCopies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Conf.engineDefaults(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables.events(spark, src)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val b = e.agg(min("ts").as("mn"), max("ts").as("mx"),
      max("event_id").as("mi")).first()
    val spanNs = ((b.getLong(1) - b.getLong(0)) / 1000000L + 1L) * 1000000L
    val idStep = b.getLong(2) + 1L
    e.withColumn("rep", explode(lit((0 until nCopies).toArray)))
      .select(
        (col("event_id") + col("rep") * idStep).as("event_id"),
        (col("ts") + col("rep").cast("long") * spanNs).as("ts"),
        col("user_id"), col("value"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val n = spark.read.parquet(s"$out/events.parquet").count()
    println(s"""{"metric":"series_fixture","src":"$src","out":"$out","copies":$nCopies,"rows":$n}""")
    spark.stop()
  }
}
