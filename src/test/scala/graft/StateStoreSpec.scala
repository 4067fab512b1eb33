package graft

import graft.sources.StateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Exactly-once replay + compaction lifecycle for per-batch append state
  * (the live corpus pipeline's store/seen tables) and the
  * replay-idempotent stored-LSH-index publish.
  */
class StateStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private def delta(b: Int, n: Int): DataFrame =
    (0 until n).map(i => (b * 1000L + i, s"doc_${b}_$i")).toDF("doc_id", "h")

  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    // decimal(38,0) sum: xxhash64 longs overflow an ANSI bigint sum
    val r = df.agg(count(lit(1)),
      sum(xxhash64(col("doc_id"), col("h")).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  test("publishBatch replay rewrites its own partition — no double-append") {
    val root = Files.createTempDirectory("state").toString
    StateStore.publishBatch(delta(-1, 0), root, -1) // day-0 empty
    StateStore.publishBatch(delta(0, 5), root, 0)
    StateStore.publishBatch(delta(1, 7), root, 1)
    val before = fingerprint(StateStore.read(spark, root))
    assert(before._1 == 12)
    // checkpoint-replayed batch 1: same content, same partition
    StateStore.publishBatch(delta(1, 7), root, 1)
    assert(fingerprint(StateStore.read(spark, root)) == before,
      "replayed publish must not change state content")
  }

  test("read and readBefore pass the recorded schema: inferred rows and schema, zero Spark jobs") {
    val root = Files.createTempDirectory("stateschema").toString
    try {
      // array and struct columns, so a nullability mismatch would show
      def wide(b: Int, n: Int): DataFrame = delta(b, n)
        .withColumn("toks", array(col("h"), lit("x")))
        .withColumn("meta", struct(col("doc_id").as("d"), lit(b).as("b")))
      StateStore.publishBatch(wide(-1, 0), root, -1) // day-0 empty
      StateStore.publishBatch(wide(0, 5), root, 0)
      StateStore.publishBatch(wide(1, 7), root, 1)
      StateStore.compact(spark, root, uptoBatch = 0)
      assert(new java.io.File(root, "_schema.json").isFile)
      val sc = spark.sparkContext
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      def opened(): Seq[DataFrame] = {
        sc.addSparkListener(listener)
        try {
          org.apache.spark.GraftTestBridge.drainListenerBus(sc)
          jobs.set(0)
          val frames = Seq(StateStore.read(spark, root),
            StateStore.readBefore(spark, root, 1),
            StateStore.readBefore(spark, root, 2))
          frames.foreach(_.schema)
          org.apache.spark.GraftTestBridge.drainListenerBus(sc)
          frames
        } finally sc.removeSparkListener(listener)
      }
      def rows(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      val inferred = spark.read.parquet(root)
      val want = Seq(inferred, inferred.where(col("batch") < 1),
        inferred.where(col("batch") < 2)).map(_.drop("batch"))
      val got = opened()
      assert(jobs.get == 0, s"known-schema reads launched ${jobs.get} jobs")
      got.zip(want).foreach { case (g, w) =>
        assert(g.schema == w.schema)
        assert(rows(g) == rows(w))
      }
      assert(rows(got(1)).length == 5 && rows(got(0)).length == 12)
      // a root without the sidecar (an older writer's) still reads, by inference
      new java.io.File(root).listFiles()
        .filter(_.getName.contains("_schema.json")).foreach(_.delete())
      val legacy = opened()
      assert(jobs.get > 0, "an inferred read is expected to launch a job")
      legacy.zip(want).foreach { case (g, w) =>
        assert(g.schema == w.schema && rows(g) == rows(w))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("compact folds committed partitions into one generation; content exact; replay still safe") {
    val root = Files.createTempDirectory("state").toString
    StateStore.publishBatch(delta(-1, 3), root, -1)
    (0 to 3).foreach(b => StateStore.publishBatch(delta(b, 4 + b), root, b))
    val before = fingerprint(StateStore.read(spark, root))
    def dirNames = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
    assert(dirNames.length == 5)
    // inside foreachBatch(3): batches ≤ 2 are checkpoint-committed
    val (folded, fb, fa) = StateStore.compact(spark, root, uptoBatch = 2)
    assert(folded == 4 && fb >= 4 && fa <= fb)
    assert(dirNames == Seq("batch=-2", "batch=3"),
      s"expected one generation + the open batch, got $dirNames")
    assert(fingerprint(StateStore.read(spark, root)) == before,
      "fold must preserve state content exactly")
    // batch 3 was NOT folded (uncommitted): its replay still lands on its
    // own partition and cannot double-count against the generation
    StateStore.publishBatch(delta(3, 7), root, 3)
    assert(fingerprint(StateStore.read(spark, root)) == before)
    // a later fold takes the NEXT generation id (-3), never colliding
    StateStore.publishBatch(delta(4, 2), root, 4)
    StateStore.compact(spark, root, uptoBatch = 3)
    assert(dirNames == Seq("batch=-3", "batch=4"))
    val after2 = fingerprint(StateStore.read(spark, root))
    assert(after2._1 == before._1 + 2)
  }

  test("fold crash recovery: journaled flip completes; wip drafts and orphan tmps are swept pre-commit") {
    val root = Files.createTempDirectory("state").toString
    StateStore.publishBatch(delta(0, 5), root, 0)
    StateStore.publishBatch(delta(1, 5), root, 1)
    val truth = fingerprint(StateStore.read(spark, root))
    val rootF = new java.io.File(root)
    // hand-build a crashed fold: tmp holds the folded copy, journal is
    // live, partitions not yet deleted (= crash right after the journal
    // rename)
    val tmp = new java.io.File(rootF, "_state_tmp_c0ffee")
    spark.read.parquet(root).drop("batch").repartition(1)
      .write.parquet(tmp.getAbsolutePath)
    val target = new java.io.File(rootF, "batch=-2")
    val folds = rootF.listFiles().filter(_.getName.startsWith("batch="))
      .map(_.getAbsolutePath).sorted
    Files.writeString(
      new java.io.File(rootF, "_graft_state_journal_c0ffee.txt").toPath,
      (Seq(target.getAbsolutePath, tmp.getAbsolutePath) ++ folds)
        .mkString("\n"))
    // plus a truncated wip draft and an orphan tmp from older runs
    Files.writeString(
      new java.io.File(rootF, "_graft_state_wip_dead.txt").toPath, "trunc")
    new java.io.File(rootF, "_state_tmp_orphan").mkdirs()
    assert(fingerprint(StateStore.read(spark, root)) == truth,
      "read-side recovery must complete the fold and stay exact")
    val names = rootF.listFiles().map(_.getName).toSet
    assert(names.contains("batch=-2"))
    assert(!names.exists(_.startsWith("_state_tmp_")) &&
      !names.exists(_.startsWith("_graft_state_")),
      s"leftovers: $names")
    // idempotent on a clean dir
    StateStore.recover(spark, root)
    assert(fingerprint(StateStore.read(spark, root)) == truth)
  }

  test("fold abort guard: vanished staging with no target keeps the fold dirs (the only copy)") {
    // The race: another process's recover() (read() auto-runs it) sweeps
    // this run's pre-journal tmp as an orphan, then the journal lands.
    // completeFold must ABORT — drop the journal, keep the batch
    // partitions — not fall through to the fold-dir deletes and destroy
    // the only remaining copy of that state. Mirrors Store.completeSwap's
    // vanished-staging case (which this same grid discipline surfaced).
    val root = Files.createTempDirectory("state").toString
    StateStore.publishBatch(delta(0, 5), root, 0)
    StateStore.publishBatch(delta(1, 5), root, 1)
    val truth = fingerprint(StateStore.read(spark, root))
    val rootF = new java.io.File(root)
    val folds = rootF.listFiles().filter(_.getName.startsWith("batch="))
      .map(_.getAbsolutePath).sorted
    // journal references a tmp that does NOT exist and a target that was
    // never created
    Files.writeString(
      new java.io.File(rootF, "_graft_state_journal_gh0st.txt").toPath,
      (Seq(new java.io.File(rootF, "batch=-2").getAbsolutePath,
        new java.io.File(rootF, "_state_tmp_gh0st").getAbsolutePath) ++
        folds).mkString("\n"))
    StateStore.recover(spark, root)
    val names = rootF.listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith("_graft_state_")),
      "aborted journal must be dropped")
    assert(names.contains("batch=0") && names.contains("batch=1"),
      "abort must keep the folded partitions — they are the only copy")
    assert(fingerprint(StateStore.read(spark, root)) == truth,
      "state content must survive the aborted fold untouched")
  }

  test("fold fault grid: recovery restores exact content from EVERY interruption point") {
    // Property (same grid as StoreSpec's two-journal swap, which found
    // two real protocol bugs): interrupt publishFold (journal draft →
    // atomic rename → flip → deletes) after its k-th filesystem mutation
    // for EVERY k, run recover, and the state dir must hold exactly the
    // original rows — never a lost partition, never a doubled fold.
    val proto = Files.createTempDirectory("statefaultproto").toString
    StateStore.publishBatch(delta(-1, 3), proto, -1)
    (0 to 2).foreach(b => StateStore.publishBatch(delta(b, 4 + b), proto, b))
    val protoRoot = new java.io.File(proto)
    // truth BEFORE staging: read() auto-runs recover, which would sweep
    // the not-yet-journaled staging tmp as an orphan (exactly the race
    // the abort guard exists for — but here it would just gut the fixture)
    val truth = fingerprint(StateStore.read(spark, proto))
    // pre-stage the folded copy once (the grid covers the PUBLISH
    // protocol; staging itself is a plain overwrite a crash just orphans)
    spark.read.parquet(proto).drop("batch").repartition(1)
      .write.parquet(new java.io.File(protoRoot, "_state_tmp_fau1t").toString)
    val foldNames = protoRoot.listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    def cloneFixture(): java.io.File = {
      val dst = Files.createTempDirectory("statefaultgrid").toFile
      def cp(src: java.io.File, dest: java.io.File): Unit = {
        if (src.isDirectory) {
          dest.mkdirs()
          src.listFiles().foreach(f => cp(f, new java.io.File(dest, f.getName)))
        } else Files.copy(src.toPath, dest.toPath)
      }
      protoRoot.listFiles().foreach(f => cp(f, new java.io.File(dst, f.getName)))
      dst
    }
    def runAt(failAt: Int): (Int, Boolean) = {
      val dir = cloneFixture()
      val rootP = new org.apache.hadoop.fs.Path(dir.toString)
      val raw = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val fs = new FaultFs(raw, failAt)
      val crashed =
        try {
          StateStore.publishFold(fs, rootP,
            new org.apache.hadoop.fs.Path(rootP, "batch=-2"),
            new org.apache.hadoop.fs.Path(rootP, "_state_tmp_fau1t"),
            foldNames.map(n =>
              new org.apache.hadoop.fs.Path(rootP, n).toString).toIndexedSeq,
            "fau1t")
          false
        } catch { case _: java.io.IOException => true }
      StateStore.recover(spark, dir.toString)
      assert(fingerprint(StateStore.read(spark, dir.toString)) == truth,
        s"fault at op $failAt: recovery lost or doubled state rows")
      val leftovers = dir.listFiles().filter(f =>
        f.getName.startsWith("_state_tmp_") ||
          f.getName.startsWith("_graft_state_"))
      assert(leftovers.isEmpty,
        s"fault at op $failAt: leftovers ${leftovers.map(_.getName).mkString(",")}")
      (fs.ops, crashed)
    }
    val (totalOps, cleanCrashed) = runAt(Int.MaxValue)
    assert(!cleanCrashed && totalOps >= 6,
      s"clean fold publish should run ≥6 mutating ops, saw $totalOps")
    (1 to totalOps).foreach { k =>
      val (_, crashed) = runAt(k)
      assert(crashed, s"op $k: expected the injected fault to fire")
    }
  }

  test("foldLshIndexBatches: committed batches fold content-exact; the open batch and its replay sweep survive") {
    import graft.dedup.Dedup
    val dir = Files.createTempDirectory("lshfold").toString
    val name = "statespec_lsh_fold"
    def docs(lo: Int, hi: Int): DataFrame =
      (lo until hi).map { i =>
        (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 40}"))
      }.toDF("doc_id", "toks")
    Dedup.writeLshIndex(docs(0, 10), "doc_id", "toks",
      shingleN = 3, k = 16, bands = 4, name, dir + "/idx", buckets = 4,
      srcBatch = Some(-1L))
    (1 to 3).foreach(b => Dedup.appendLshIndexIdempotent(
      docs(b * 10, b * 10 + 10), "doc_id", "toks", shingleN = 3, k = 16,
      bands = 4, name, dir + "/idx", batchId = b, buckets = 4))
    def fp(): (Long, java.math.BigDecimal) = {
      spark.catalog.refreshTable(name)
      val r = spark.table(name).agg(count(lit(1)),
        sum(xxhash64(col("base_id"), col("bucket"), col("src_batch"))
          .cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val truth = fp()
    val idxDir = new java.io.File(dir + "/idx")
    def names() = idxDir.listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName)
    val before = names().length
    // inside foreachBatch(3): batches ≤ 2 are committed
    val (folded, after) = Dedup.foldLshIndexBatches(spark, name, dir + "/idx",
      uptoBatch = 2, buckets = 4, minFiles = 2)
    assert(folded >= 2 && after < before,
      s"fold must shrink the file count ($before -> $after)")
    assert(fp() == truth, "fold must preserve band rows exactly (incl. src_batch)")
    val n = names()
    assert(!n.exists(f => f.startsWith("b1_") || f.startsWith("b2_")),
      s"committed batch files must fold away: ${n.mkString(",")}")
    assert(n.exists(_.startsWith("cmpct_")) && n.exists(_.startsWith("b3_")),
      s"expected generation + open-batch files, got: ${n.mkString(",")}")
    // the OPEN batch's crash replay still lands exactly-once on the folded
    // index: its delete-by-b3_ sweep cannot touch generation files
    Dedup.appendLshIndexIdempotent(docs(30, 40), "doc_id", "toks",
      shingleN = 3, k = 16, bands = 4, name, dir + "/idx", batchId = 3,
      buckets = 4)
    assert(fp() == truth, "open-batch replay over a folded index drifted")
    // as-of probes still prune by src_batch (a data column, not a filename)
    assert(spark.table(name).where(col("src_batch") < 3).count() ==
      truth._1 - 10 * 4)
    // bucket distribution survives the cmpct_ renames: bucket-keyed agg
    // plans with zero Exchange on the stored side
    val agg = spark.table(name).groupBy("bucket").agg(count(lit(1)).as("c"))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "bucket distribution lost after the fold")
    // a SECOND fold that also covers the (now committed) batch 3 folds
    // generation + b3 into the next generation — the steady-state loop
    val (folded2, after2) = Dedup.foldLshIndexBatches(spark, name,
      dir + "/idx", uptoBatch = 3, buckets = 4, minFiles = 2)
    assert(folded2 >= 2 && after2 <= after && fp() == truth)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("appendLshIndexIdempotent: a replayed batch publish leaves the index byte-identical") {
    import graft.dedup.Dedup
    val dir = Files.createTempDirectory("lshidem").toString
    val name = "statespec_lsh_idem"
    def docs(lo: Int, hi: Int): DataFrame =
      (lo until hi).map { i =>
        (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 40}"))
      }.toDF("doc_id", "toks")
    Dedup.writeLshIndex(docs(0, 20), "doc_id", "toks",
      shingleN = 3, k = 16, bands = 4, name, dir + "/idx", buckets = 4)
    def fp(): (Long, java.math.BigDecimal) = {
      spark.catalog.refreshTable(name)
      // schema is (base_id, bucket) — the bucket string embeds the band
      val r = spark.table(name).agg(count(lit(1)),
        sum(xxhash64(col("base_id"), col("bucket"))
          .cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val base = fp()
    Dedup.appendLshIndexIdempotent(docs(20, 30), "doc_id", "toks",
      shingleN = 3, k = 16, bands = 4, name, dir + "/idx", batchId = 1,
      buckets = 4)
    val once = fp()
    assert(once._1 == base._1 + 10 * 4, "batch bands missing from the index")
    // crash-replay: the same batch publishes again — content must not move
    Dedup.appendLshIndexIdempotent(docs(20, 30), "doc_id", "toks",
      shingleN = 3, k = 16, bands = 4, name, dir + "/idx", batchId = 1,
      buckets = 4)
    assert(fp() == once, "replayed publish duplicated band rows")
    // ...including after a PARTIAL prior publish (half the files moved in,
    // then a crash): fabricate it by deleting one b1_ file, then replay
    val idxDir = new java.io.File(dir + "/idx")
    val b1 = idxDir.listFiles().filter(_.getName.startsWith("b1_"))
    assert(b1.nonEmpty)
    b1.head.delete()
    assert(fp() != once) // index is now visibly partial
    Dedup.appendLshIndexIdempotent(docs(20, 30), "doc_id", "toks",
      shingleN = 3, k = 16, bands = 4, name, dir + "/idx", batchId = 1,
      buckets = 4)
    assert(fp() == once, "replay after a partial publish must restore exactly-once")
    // the published files still read as ONE bucketed table: a bucket-keyed
    // aggregation over the index plans with zero Exchange
    val agg = spark.table(name).groupBy("bucket")
      .agg(count(lit(1)).as("n"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucket distribution lost after file moves:\n$plan")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }
}
