package org.apache.spark.sql

/** Reads the SQL status store (kept on the `private[sql]`-typed classic
  * session) for the write commands' "number of written files" metric.
  */
object PerfbenchSqlBridge {
  def writtenFiles(spark: SparkSession, executionIds: Set[Long]): Double = {
    val store = spark.asInstanceOf[classic.SparkSession].sharedState.statusStore
    executionIds.toSeq.filter(_ >= 0).map { id =>
      store.execution(id).map { ex =>
        val ids = ex.metrics.filter(_.name == "number of written files")
          .map(_.accumulatorId).toSet
        store.executionMetrics(id).collect {
          case (acc, v) if ids(acc) => scala.util.Try(v.trim.replace(",", "").toDouble).getOrElse(0.0)
        }.sum
      }.getOrElse(0.0)
    }.sum
  }
}
