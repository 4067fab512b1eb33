package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev scratch: run one query end-to-end (noop sink, like Bench) with a
  * job listener and print every Spark job's wall time + call site — the
  * quick way to see where a multi-job gate's seconds actually go.
  * runMain graft.JobProfile <sfDir> <name> [cpus]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val name = args(1)
    val spark = Conf.localSession(if (args.length > 2) args(2).toInt else 32)
    // `k=v;k=v` session conf overrides, set after start: a static conf
    // fails loudly here instead of being ignored by getOrCreate
    sys.env.get("GRAFT_PROFILE_CONF").toSeq.flatMap(_.split(";"))
      .map(_.split("=", 2)).filter(_.length == 2)
      .foreach(kv => spark.conf.set(kv(0), kv(1)))
    Conf.resolveStatePartitions(spark, sfDir)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(j.stageInfos.lastOption.map(_.name)).getOrElse("?")
        jobs.put(j.jobId, (j.time, site))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(j.jobId)
        if (st != null) done.add((j.jobId, j.time - st._1, st._2))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        if (wall > sys.env.getOrElse("GRAFT_PROFILE_STAGE_MS", "400").toInt) {
          val m = si.taskMetrics
          println(f"    stage ${si.stageId}%4d wall ${wall / 1e3}%6.2f s " +
            f"tasks ${si.numTasks}%4d exec ${m.executorRunTime / 1e3}%7.2f s " +
            f"cpu ${m.executorCpuTime / 1e9}%7.2f s " +
            f"gc ${m.jvmGCTime / 1e3}%5.2f s " +
            f"fetchWait ${m.shuffleReadMetrics.fetchWaitTime / 1e3}%5.2f s " +
            f"spillMem ${m.memoryBytesSpilled >> 20}%4d MB " +
            f"spillDisk ${m.diskBytesSpilled >> 20}%4d MB " +
            f"peakExecMem ${m.peakExecutionMemory >> 20}%4d MB " +
            f"| ${si.name.take(60)}")
        }
      }
    })
    // warm run: JIT + codegen + parquet footer caches, like Bench's warmup
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    done.clear()
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    val rows = done.asScala.toSeq.sortBy(_._1)
    println(f"== $name total ${total}%.2f s, ${rows.size} jobs, " +
      f"job-sum ${rows.map(_._2).sum / 1e3}%.2f s")
    rows.foreach { case (id, ms, site) =>
      println(f"job $id%4d ${ms / 1e3}%7.3f s  $site")
    }
    spark.stop()
  }
}
