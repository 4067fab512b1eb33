package graft

import org.apache.spark.sql.SparkSession

/** The test JVM's one Spark session: local[4] with 4 shuffle partitions
  * over [[Conf.engineDefaults]]. Every spec takes its session from here, so
  * whichever suite runs first — and so sizes Spark's JVM-wide generated-class
  * cache — builds it with the engine configuration of the mains.
  */
object TestSession {
  lazy val spark: SparkSession = Conf.engineDefaults(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")).getOrCreate()
}
