package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** Engine-wide tuning knobs read from the environment. */
object Conf {

  /** Engine session defaults shared by every session (the mains, the test
    * session and perfbench's harness) so bench, verify and tests always
    * execute under the SAME engine configuration:
    *
    *  - checkpoint-file checksums OFF by default (r14: Spark 4.1 writes +
    *    awaits a companion checksum file for EVERY checkpoint/state file —
    *    the measured top off-CPU block across the streaming gates;
    *    exactly-once rests on rename-commit + the replay gates). Opt back
    *    in with `SPARK_GRAFT_CHECKPOINT_CHECKSUM=true`.
    *  - AQE partition coalescing KEEPS Spark's `parallelismFirst=true`
    *    default, env-overridable. The r15 hypothesis (guide §2.2) was that
    *    honoring the advisory size (`parallelismFirst=false`) would cut
    *    the 32-task fixed cost of tiny post-shuffle stages; the measured
    *    back-to-back A/B over 25 batch queries at 32 cpus said the
    *    OPPOSITE — 18.4 s → 19.8 s (0.93×; worst: dedup_exact 0.65×,
    *    trades_canonical 0.73×, q4_semi_anti 0.73×) — because at sf0.1
    *    the post-shuffle operators still have real per-row work (windows,
    *    sorts, joins) that a 1-task coalesced stage serializes for longer
    *    than 32-task scheduling costs. Both knobs stay parameterized
    *    (`SPARK_GRAFT_AQE_PARALLELISM_FIRST`,
    *    `SPARK_GRAFT_ADVISORY_PARTITION_BYTES`) for cluster tuning. The
    *    foreachBatch pipeline drains ignore the first knob: they always
    *    run `parallelismFirst=false` (StreamQueries.withBatchCoalesce).
    *  - Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`)
    *    holds 1000 classes instead of Spark's 100. The working set is
    *    larger than 100: with Spark's `CodegenMetrics` counted per unit of
    *    the seeded benchmark, one unit of the unkeyed trade lineage
    *    (ingest → bars → DSL features → EW σ → CUSUM → triple-barrier
    *    labels → weights) compiles about 240 classes and one two-batch
    *    corpus drain about 270, so at 100 entries every repeated lineage,
    *    micro-batch or oracle rep evicted what the one before compiled and
    *    compiled it all again. At 1000 (about 4× one unit) a repeated unit
    *    compiles 16–30 (trade lineage) and 9–42 (corpus) classes — those
    *    whose code embeds a data-derived literal — and the cache grows the
    *    heap by a few MB. It is a constant, not an env var or option:
    *    the cache is static, sized once per JVM when `CodeGenerator` first
    *    loads, so only the FIRST session built in a JVM decides it and a
    *    setting on any later session does nothing. Every session in the
    *    repo is built by [[localSession]], which goes through this
    *    function, for that reason.
    *
    * Returns the builder for chaining.
    */
  def engineDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        sys.env.getOrElse("SPARK_GRAFT_CHECKPOINT_CHECKSUM", "false"))
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"))
      .config("spark.sql.codegen.cache.maxEntries", 1000L)

  /** The repo's one session builder: a `local[cpus]` session over
    * [[engineDefaults]] with `cpus` shuffle partitions, the UI off and
    * WARN logging — for the mains and the test session alike.
    */
  def localSession(cpus: Int): SparkSession = {
    val spark = engineDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Streaming STATE partition count for the gate fixtures, resolved once
    * per session from the input volume (guide §2: make partitioning
    * scale-adaptive — never a constant tuned for one box). AQE cannot fix
    * streaming plans (it is disabled there), so without this every
    * micro-batch stateful operator inherits `shuffle.partitions = cpus`:
    * 32 state-store partitions → 32 delta files per store per micro-batch
    * for inputs of a few MB (the r14 32-core regression's root cause).
    *
    * Derivation: one state partition per 32 MB of input, clamped to
    * [1, cores]; `SPARK_GRAFT_STATE_PARTITIONS` overrides. At 100 TB the
    * clamp selects `cores`, i.e. exactly today's behavior; production
    * deployments size it to keyspace/volume with the env. Stored on the
    * session as `spark.graft.statePartitions`; the streaming gates read it
    * via [[statePartitions]] and leave `shuffle.partitions` untouched for
    * batch queries. Within one gate the value is constant (env + input
    * fixed), so a restart on the same checkpoint always sees the same
    * state partition count — the Structured Streaming invariant.
    */
  def resolveStatePartitions(spark: SparkSession, sfDir: String): Unit = {
    val n = sys.env.get("SPARK_GRAFT_STATE_PARTITIONS").map(_.toInt)
      .getOrElse {
        val bytes =
          try {
            val p = new org.apache.hadoop.fs.Path(sfDir)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
          } catch { case NonFatal(_) => 0L }
        val byData = ((bytes + (32L << 20) - 1) / (32L << 20)).toInt
        math.max(1, math.min(byData, spark.sparkContext.defaultParallelism))
      }
    spark.conf.set("spark.graft.statePartitions", n.toString)
  }

  /** The resolved state partition count; falls back to the session's
    * current `shuffle.partitions` (i.e. no behavior change) when
    * [[resolveStatePartitions]] was never called — ScalaTest sessions.
    */
  def statePartitions(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.statePartitions").map(_.toInt)
      .getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Storage level for the engine's internal persists: the per-event TBM
    * table and the cached event-weights tables. MEMORY_AND_DISK by
    * default (local iteration); set `SPARK_GRAFT_STORAGE=DISK_ONLY`
    * when the cached tables approach
    * executor memory (TB-scale inputs) so the persists never compete with
    * shuffle/aggregation working memory — SYM_SCALING.json records the
    * 256-symbol fixture run certifying the chain under that setting.
    */
  val storageLevel: StorageLevel =
    StorageLevel.fromString(
      sys.env.getOrElse("SPARK_GRAFT_STORAGE", "MEMORY_AND_DISK"))

  /** Reliable-checkpoint directory for iterative jobs (connected
    * components). Unset (local iteration): `localCheckpoint` — fastest,
    * but blocks live on executors, so a lost executor kills the job. Set
    * to a fault-tolerant path (HDFS/object store) on a real cluster: each
    * round's labels are written through [[org.apache.spark.sql.Dataset#checkpoint]]
    * and survive executor loss — the difference between a 100 TB dedup
    * run restarting a round and restarting from zero.
    * A `def` reading the `spark.graft.checkpoint.dir` system property
    * first so specs can toggle the mode in-process.
    */
  def checkpointDir: Option[String] =
    sys.props.get("spark.graft.checkpoint.dir")
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
}
