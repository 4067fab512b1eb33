package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Symbol-exploded scale fixture for [[SymBench]]: replicates the source
  * events table N times with `user_id` (= the engine's symbol) rewritten to
  * the replica index, so every symbol carries the FULL single-series stream.
  * The synthetic sf0.1 table has ~1500 symbols at ~2 trades/day — far too
  * little per-key work for the keyed TBM/weights scans to show core
  * scaling; this fixture gives 32 symbols × 100k rows, the shape where the
  * key dimension is the parallelism axis (exactly the 100 TB layout).
  *
  * Only the four columns the trades view reads are materialized
  * (event_id, ts, user_id, value); `ts` stays a raw ns long, which
  * `Tables.events` reads identically to the driver's TIMESTAMP(NANOS).
  *
  * Usage: runMain graft.SymFixture [srcDir] [outDir] [nSym]
  */
object SymFixture {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/symfix")
    val nSym = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = Conf.engineDefaults(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.events(spark, src)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("rep", explode(lit((0 until nSym).toArray)))
      .select(col("event_id"), col("ts"), col("rep").cast("long").as("user_id"),
        col("value"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    println(s"""{"metric":"sym_fixture","src":"$src","out":"$out","n_sym":$nSym}""")
    spark.stop()
  }
}
