package graft
import org.apache.spark.sql.SparkSession
/** Dev scratch: print one query's executed plan. */
object ShowPlan {
  def main(args: Array[String]): Unit = {
    val spark = Conf.engineDefaults(SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(args(0))(spark, args(1))
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
