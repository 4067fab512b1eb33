package graft.features

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ordered-scan executors for the reference's sequential/stateful kernels
  * (SURVEY.md §4.3 "custom" buckets 1-2, §7.0 `OrderedScan`).
  *
  * Two execution strategies, chosen by the algebra of the state:
  *
  *  1. [[affine]] — EXACT distributed prefix scan for *scalar-affine*
  *     recurrences s' = a·s + b per state component (EWMA/EWMS/EWMST,
  *     steady-state Wilder). Affine maps compose associatively, so each
  *     range partition summarizes itself in O(1) state, a driver fold
  *     stitches boundaries, and a second pass emits — two passes, no global
  *     sort, scales to any data size (the per-partition summary is 2 doubles
  *     per state component).
  *
  *  2. [[keyOrdered]] + a caller's `mapPartitions` kernel — for
  *     reset-on-trigger state machines (CUSUM filter/indexer, volume/dollar
  *     bar ids) whose state is NOT mergeable (finmlkit/bar/logic.py:87-221).
  *     These are order-total per series: parallelism comes from the key
  *     (symbol) dimension, matching the reference's own constraint.
  */
object Scan {

  /** Shared KEY-OCCUPANCY PROBE for auto-tier selection (Weights sweeps,
    * EW keyed scans, the TBM bucket width): (hottest key's row count,
    * total rows) from one map-side-combined aggregation — the
    * |keys|-sized partial tables are the only shuffle payload.
    *
    * CACHED per (canonical plan, partCols, session): a chain that probes
    * the same frame twice (label_weights_sym calls concurrency +
    * eventWeights on one trades lineage) pays ONE probe pass — the
    * measured 102M-tier auto-vs-forced delta in SYM_SCALING r12 was
    * entirely the second probe. The cache keys on the ANALYZED plan's
    * semantic hash, so two lineages that normalize to the same plan share
    * an entry while any real change (filter, different table) misses.
    * Bounded (128 entries, cleared wholesale) — probe results are cheap
    * to recompute; staleness is impossible for immutable inputs and
    * bounded by one probe for re-written paths (same trade-off as AQE
    * statistics).
    */
  object SkewProbe {
    @volatile var lastAutoSkewSafe: Option[Boolean] = None
    /** Number of probe aggregations actually executed (cache misses) —
      * spec hook for the one-probe-per-chain guarantee.
      */
    private[graft] val probeRuns = new java.util.concurrent.atomic.AtomicLong
    // key: (semanticHash, full schema, partCols, session). semanticHash is
    // a 32-bit Int — two live frames CAN collide (birthday bound ~2^16
    // frames, but a probe cache hands a collision straight to tier
    // selection, silently mis-tiering the victim). The schema is a free
    // structural discriminator already on the driver (no extra scan):
    // colliding frames with different columns — the overwhelmingly likely
    // collision shape across operator families — now miss instead.
    private[graft] val cache =
      new java.util.concurrent.ConcurrentHashMap[
        (Int, org.apache.spark.sql.types.StructType, Seq[String], Int),
        (Long, Long)]()

    private[graft] def cacheKey(df: DataFrame, partCols: Seq[String])
        : (Int, org.apache.spark.sql.types.StructType, Seq[String], Int) =
      (df.queryExecution.analyzed.semanticHash(), df.schema, partCols,
        System.identityHashCode(df.sparkSession))

    def occupancy(df: DataFrame, partCols: Seq[String]): (Long, Long) = {
      val key = cacheKey(df, partCols)
      val hit = cache.get(key)
      if (hit != null) return hit
      probeRuns.incrementAndGet()
      val st = df.groupBy(partCols.map(col): _*)
        .agg(count(lit(1)).as("c"))
        .agg(max("c").as("mx"), sum("c").as("n")).head()
      val res =
        if (st.isNullAt(0)) (0L, 0L) else (st.getLong(0), st.getLong(1))
      if (cache.size >= 128) cache.clear()
      cache.put(key, res)
      res
    }

    /** Test/bench hook: drop every cached probe. */
    def invalidate(): Unit = cache.clear()
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Layout a frame so each key's rows are contiguous and ordered: shuffle
    * by key, sort (key, order...) within partitions. A sequential kernel can
    * then stream each key-run with O(1) memory.
    */
  def keyOrdered(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val sortCols = (keyCols ++ orderCols).map(col)
    if (keyCols.isEmpty)
      df.repartitionByRange(1, orderCols.map(col): _*)
        .sortWithinPartitions(orderCols.map(col): _*)
    else
      df.repartition(keyCols.map(col): _*).sortWithinPartitions(sortCols: _*)
  }

  /** Split a partition iterator into contiguous per-key runs so sequential
    * kernels restart (state reset) at every key change. With empty keyIdxs
    * the whole partition is one run. Requires the [[keyOrdered]] layout
    * (each key's rows contiguous within the partition).
    */
  def keyRuns(it: Iterator[Row], keyIdxs: Seq[Int]): Iterator[Iterator[Row]] =
    if (keyIdxs.isEmpty) {
      if (it.hasNext) Iterator.single(it) else Iterator.empty
    } else new Iterator[Iterator[Row]] {
      // per-row cost matters: this sits on the hot path of every keyed
      // sequential kernel, so compare field-by-field in a while loop
      // instead of building a fresh key collection per hasNext call
      private val idxs = keyIdxs.toArray
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): Iterator[Row] = {
        val k = new Array[Any](idxs.length)
        var i = 0
        while (i < idxs.length) { k(i) = buf.head.get(idxs(i)); i += 1 }
        new Iterator[Row] {
          def hasNext: Boolean = buf.hasNext && {
            val h = buf.head
            var i = 0
            var eq = true
            while (eq && i < idxs.length) { eq = k(i) == h.get(idxs(i)); i += 1 }
            eq
          }
          def next(): Row = buf.next()
        }
      }
    }

  /** Ordered sequential scan appending one double column — for kernels
    * whose state is neither affine nor reset-free (seeded Wilder RSI/ADX).
    * Order-total per series by construction (the reference has the same
    * constraint); with `keyCols` the kernel restarts per key and the scan
    * shuffles by key — parallel across symbols, as the reference's
    * per-series loops are.
    */
  def seqDouble(df: DataFrame, orderCols: Seq[String], out: String,
                keyCols: Seq[String] = Nil)(
      kernel: (StructType, Iterator[Row]) => Iterator[(Row, Double)]): DataFrame = {
    val sorted = keyOrdered(df, keyCols, orderCols)
    val schema = sorted.schema
    val keyIdxs = keyCols.map(schema.fieldIndex)
    val outSchema = StructType(schema.fields :+ StructField(out, DoubleType))
    sorted.mapPartitions { it =>
      keyRuns(it, keyIdxs).flatMap(run =>
        kernel(schema, run).map { case (r, v) => Row.fromSeq(r.toSeq :+ v) })
    }(Encoders.row(outSchema)).toDF()
  }

  /** True when the frame's lineage contains an operator that executes as a
    * shuffle (join / aggregate / window / global sort / repartition), or
    * may: a frame built over an RDD (`createDataFrame(rdd, …)`, including
    * the output of [[affine]] itself and of `Dsl.build`) is a leaf whose
    * RDD lineage the logical plan cannot see, so it counts as shuffled. A
    * shuffled lineage can replay rows in a DIFFERENT order when a lost
    * block recomputes (map-output fetch order is nondeterministic), which
    * breaks [[affine]]'s cached two-phase layout contract — such inputs
    * default to pinned mode instead of relying on caller opt-in.
    */
  private[graft] def lineageHasShuffle(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
    df.queryExecution.optimizedPlan.exists {
      case _: Aggregate | _: Join | _: Window | _: Sort => true
      case _: RepartitionOperation => true
      case _: LogicalRDD | _: ExternalRDD[_] => true
      case _ => false
    }
  }

  /** One scalar-affine state component: s' = a·s + b. */
  final case class Affine(a: Double, b: Double) {
    /** Composition: apply `this` AFTER `prev`. */
    def after(prev: Affine): Affine = Affine(a * prev.a, a * prev.b + b)
    def apply(s: Double): Double = a * s + b
  }

  /** Exact distributed scan for a vector of independent scalar-affine
    * recurrences over a globally `orderCol`-ordered frame.
    *
    * COST NOTE (pinned / auto-pinned mode): the range bounds are sampled
    * from a column-pruned projection of `df` BEFORE the main shuffle pass —
    * the input lineage is evaluated TWICE (once to sample bounds, once to
    * shuffle). When the upstream chain is expensive, persist `df` first (or
    * pass a cheap equivalent); the sample projection reads only the order
    * keys, so a persisted input makes the extra pass near-free.
    *
    * @param coefs   per-row affine coefficients for each state component;
    *                receives the row and the previous row (null for the
    *                partition's first row — resolved exactly via the
    *                boundary handoff, see `prevFields`)
    * @param init    initial state vector
    * @param emit    output value from (stateAfterUpdate, row)
    *                (coefficients MAY depend on the previous row, e.g. Δt
    *                decay: each partition's first row is always excluded
    *                from the phase-A summary and replayed on the driver
    *                with its true neighbor — there is no opt-out flag)
    * @param numParts scan partitions; <= 0 (default) derives from the input
    *                (max of cluster parallelism and input partitions) so the
    *                scan widens with data instead of pinning 32
    * @param storage persistence for the sorted frame both phases must see
    *                identically (phase B replays phase A's exact layout —
    *                a recompute with different row order would break the
    *                boundary handoff). Defaults to [[graft.Conf.storageLevel]]
    *                (MEMORY_AND_DISK; SPARK_GRAFT_STORAGE=DISK_ONLY at TB
    *                scale so the scan never competes with the executors'
    *                working memory). On a cluster, a lost
    *                persisted block recomputes from lineage: the range
    *                sampler's seed is deterministic per partition index, so
    *                the rebuilt layout is identical PROVIDED `df`'s own
    *                lineage is deterministic (scans + narrow ops are; an
    *                upstream shuffle with nondeterministic row order is
    *                not — checkpoint such inputs first, or set `pinned`).
    *                The persisted layout stays registered after the scan
    *                (phase B reads it lazily); long-running sessions
    *                issuing many cached-mode scans should
    *                `spark.catalog.clearCache()` between batches — the
    *                pinned mode (and every auto-pinned scan) persists
    *                nothing.
    * @param pinned  fully deterministic mode: nothing is persisted; the
    *                input is shuffled ONCE through a FROZEN partitioner
    *                (range bounds sampled a single time on the driver, then
    *                plain constants) and sorted by the unique order keys, so
    *                partition membership is a pure function of the key and
    *                the within-partition order is total — a recompute after
    *                block loss provably rebuilds phase A's exact layout even
    *                if the upstream shuffle replays rows in a different
    *                order. Phase B reuses the same shuffle files (the map
    *                stage is skipped), so exactness costs ONE shuffle —
    *                the choice at TB scale when the input lineage is not
    *                deterministic. Requires non-null, UNIQUE order keys
    *                (ts, id) — asserted during phase A (duplicates would
    *                make the sort order nondeterministic under recompute).
    *                AUTO-SELECTED (even when passed false) whenever the
    *                input lineage contains a shuffle, or is a frame over
    *                an RDD (see [[lineageHasShuffle]]), and the order keys
    *                are integral: a recomputed shuffle replays rows in
    *                nondeterministic order, so the cached path's layout
    *                contract cannot be trusted there.
    */
  def affine(
      df: DataFrame,
      orderCols: Seq[String],
      nStates: Int,
      coefs: (Row, Row) => Array[Affine],
      init: Array[Double],
      emit: (Array[Double], Row) => Any,
      outName: String,
      outType: DataType = DoubleType,
      numParts: Int = 0,
      storage: org.apache.spark.storage.StorageLevel = graft.Conf.storageLevel,
      pinned: Boolean = false): DataFrame =
    affineWithFinal(df, orderCols, nStates, coefs, init, emit, outName,
      outType, numParts, storage, pinned)._1

  /** [[affine]] + the scan's FINAL state vector (the driver fold already
    * computes it for free — it is the state after the last row). Callers
    * that need a global total alongside the prefix scan (e.g. time-decay
    * weights: cum and Σ of the same column) read it here instead of paying
    * a second aggregation pass.
    */
  private[graft] def affineWithFinal(
      df: DataFrame,
      orderCols: Seq[String],
      nStates: Int,
      coefs: (Row, Row) => Array[Affine],
      init: Array[Double],
      emit: (Array[Double], Row) => Any,
      outName: String,
      outType: DataType = DoubleType,
      numParts: Int = 0,
      storage: org.apache.spark.storage.StorageLevel = graft.Conf.storageLevel,
      pinned: Boolean = false): (DataFrame, Array[Double]) = {

    val parts =
      if (numParts > 0) numParts
      else math.max(df.sparkSession.sparkContext.defaultParallelism,
        df.rdd.getNumPartitions)
    // auto-pin: a shuffle in the input lineage makes the cached layout
    // untrustworthy under block loss (see `pinned` scaladoc); non-integral
    // order keys can't pin and keep the cached path (plus its caveats)
    val integralKeys = orderCols.forall { c =>
      val dt = df.schema(c).dataType
      dt == LongType || dt == IntegerType
    }
    val autoPinned = !pinned && integralKeys && lineageHasShuffle(df)
    val usePinned = pinned || autoPinned
    if (autoPinned)
      log.info(s"affine scan '$outName': shuffled lineage detected — " +
        "auto-selecting the pinned (deterministic re-shuffle) layout; " +
        "order keys must be unique (asserted in phase A)")

    // ---- the ONE layout both phases read --------------------------------
    // cached mode: DataFrame range shuffle + persist (deterministic-lineage
    //   caveat in the `storage` scaladoc). pinned mode: a single RDD shuffle
    //   through a frozen partitioner; phase B re-reads the same shuffle
    //   files, so no second shuffle is paid.
    val keyIdxs = orderCols.map(df.schema.fieldIndex).toArray
    val layout: org.apache.spark.rdd.RDD[Row] =
      if (usePinned) pinnedLayoutRdd(df, orderCols, parts)
      else
        df.repartitionByRange(parts, orderCols.map(col): _*)
          .sortWithinPartitions(orderCols.map(col): _*).persist(storage)
          .rdd

    val summaries = phaseASummaries(layout, keyIdxs, nStates, coefs,
      assertUnique = usePinned, outName, orderCols)
    val (incomingSeq, prevLastSeq, state) =
      foldIncoming(summaries, nStates, coefs, init)
    val m = summaries.length

    val spark = df.sparkSession
    val outSchema = StructType(df.schema.fields :+ StructField(outName, outType))
    if (m == 0)
      return (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema),
        state)

    // ---- phase B: replay with exact incoming state -----------------------
    // Reads the SAME layout as phase A: the persisted blocks in cached mode,
    // the already-written shuffle files in pinned mode (map stage skipped).
    val bState = spark.sparkContext.broadcast((incomingSeq, prevLastSeq))
    val replay: (Int, Iterator[Row]) => Iterator[Row] = { (idx, it) =>
      val (inc, prevArr) = bState.value
      val st = inc(idx).clone()
      var prev: Row = prevArr(idx)
      it.map { r =>
        val cs = coefs(r, prev)
        var i = 0
        while (i < nStates) { st(i) = cs(i)(st(i)); i += 1 }
        prev = r
        Row.fromSeq(r.toSeq :+ emit(st, r))
      }
    }
    val pidToIdx = summaries.map(_._1).zipWithIndex.toMap
    val outRdd = layout.mapPartitionsWithIndex { (pid, it) =>
      pidToIdx.get(pid) match {
        case Some(idx) => replay(idx, it)
        case None      => Iterator.empty // empty in phase A ⇒ empty here
      }
    }
    (spark.createDataFrame(outRdd, outSchema), state)
  }

  /** The pinned layout: ONE RDD shuffle through a frozen RangePartitioner
    * whose bounds are sampled once on the driver and then serialized as
    * constants into the shuffle dependency — partition membership is a pure
    * function of the key, independent of upstream row order, so a recompute
    * after block loss provably rebuilds the same layout. The sampling pass
    * reads a column-pruned projection of the input (only the order keys):
    * ANY bounds partition correctly — sampling affects balance, not
    * membership — so the cheaper evaluation is free accuracy-wise.
    *
    * Integral keys only: LexKeyOrdering compares via Java Comparable, which
    * agrees with Spark's sort order for longs/ints but NOT for strings
    * (UTF8 byte order vs UTF-16 code units) or doubles (-0.0).
    */
  private def pinnedLayoutRdd(df: DataFrame, orderCols: Seq[String],
                              parts: Int): org.apache.spark.rdd.RDD[Row] = {
    orderCols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt == LongType || dt == IntegerType,
        s"pinned affine scan requires integral order keys; '$c' is $dt")
    }
    val keyIdxs = orderCols.map(df.schema.fieldIndex).toArray
    val keyOf = (r: Row) => {
      val a = new Array[AnyRef](keyIdxs.length)
      var i = 0
      while (i < keyIdxs.length) {
        a(i) = r.get(keyIdxs(i)).asInstanceOf[AnyRef]; i += 1
      }
      a
    }
    implicit val keyOrd: Ordering[Array[AnyRef]] = new LexKeyOrdering
    val nKeys = keyIdxs.length
    val keySample = df.select(orderCols.map(col): _*).rdd.map { r =>
      val a = new Array[AnyRef](nKeys)
      var i = 0
      while (i < nKeys) { a(i) = r.get(i).asInstanceOf[AnyRef]; i += 1 }
      (a, null)
    }
    val partitioner = new org.apache.spark.RangePartitioner(parts, keySample)
    df.rdd.map(r => (keyOf(r), r))
      .repartitionAndSortWithinPartitions(partitioner).map(_._2)
  }

  /** Phase A: per-partition (partId, firstRow, lastRow, composed affine map
    * of rows[1..]). The first row is excluded because its coefficients may
    * depend on the previous partition's last row — the driver fold replays
    * it with the true neighbor. Partition ids are bound with
    * mapPartitionsWithIndex at the RDD level (not TaskContext
    * .getPartitionId): a downstream coalesce would fuse several input
    * partitions into one task and lie about the id. With `assertUnique`
    * the pass also asserts order-key uniqueness (duplicates are adjacent
    * after the sort, and the partitioner routes equal keys to the same
    * partition, so an adjacent compare is a complete check).
    */
  private def phaseASummaries(layout: org.apache.spark.rdd.RDD[Row],
      keyIdxs: Array[Int], nStates: Int, coefs: (Row, Row) => Array[Affine],
      assertUnique: Boolean, outName: String, orderCols: Seq[String])
      : Array[(Int, Row, Row, Array[Affine])] = {
    val nOrderKeys = keyIdxs.length
    layout.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val first = rows.next()
        var prev = first
        val comp = Array.fill(nStates)(Affine(1.0, 0.0))
        while (rows.hasNext) {
          val r = rows.next()
          if (assertUnique) {
            var eq = true
            var i = 0
            while (eq && i < nOrderKeys) {
              eq = r.get(keyIdxs(i)) == prev.get(keyIdxs(i)); i += 1
            }
            require(!eq, s"pinned affine scan '$outName' requires UNIQUE " +
              s"order keys, found duplicate (${orderCols.mkString(", ")}) = " +
              s"(${keyIdxs.map(r.get).mkString(", ")})")
          }
          val cs = coefs(r, prev)
          var i = 0
          while (i < nStates) { comp(i) = cs(i).after(comp(i)); i += 1 }
          prev = r
        }
        Iterator.single((pid, first, prev, comp))
      }
    }.collect().sortBy(_._1)
  }

  /** Driver fold: incoming state per non-empty partition, in order —
    * replays each partition's FIRST row (whose coefficients may depend on
    * the previous partition's last row), then applies the composed map.
    * Returns (incoming states, previous-partition last rows, final state).
    */
  private def foldIncoming(summaries: Array[(Int, Row, Row, Array[Affine])],
      nStates: Int, coefs: (Row, Row) => Array[Affine], init: Array[Double])
      : (Array[Array[Double]], Array[Row], Array[Double]) = {
    val m = summaries.length
    val incomingSeq = new Array[Array[Double]](m)
    val prevLastSeq = new Array[Row](m)
    var state = init.clone()
    var prevLast: Row = null
    var si = 0
    while (si < m) {
      val (_, first, _, comp) = summaries(si)
      incomingSeq(si) = state.clone()
      prevLastSeq(si) = prevLast
      val cs = coefs(first, prevLast)
      var i = 0
      while (i < nStates) { state(i) = cs(i)(state(i)); i += 1 }
      i = 0
      while (i < nStates) { state(i) = comp(i)(state(i)); i += 1 }
      prevLast = summaries(si)._3
      si += 1
    }
    (incomingSeq, prevLastSeq, state)
  }

  /** TWO chained affine scans sharing ONE pinned layout — for recurrences
    * whose stage-2 coefficients read a stage-1 state value (e.g. the AFML
    * sample-weight sweep: conc is a running sum, and cum_u accumulates
    * 1/conc — not expressible as independent affine components in one
    * pass, because a per-partition summary of Σ 1/(conc_in + prefix) is
    * not affine in the unknown incoming conc_in).
    *
    * Exactness costs ONE shuffle and three passes over its files:
    *   A1  summarize stage 1 (composed maps)      → driver fold 1
    *   A2  replay stage 1 exactly, summarize stage 2 → driver fold 2
    *   B   replay both stages, emit
    * All passes read the same frozen-partitioner shuffle files (map stage
    * skipped), so recompute after block loss rebuilds the identical layout
    * — the same determinism contract as pinned [[affine]]. Requires
    * non-null UNIQUE integral order keys (asserted in A1).
    *
    * COST NOTE: as with pinned [[affine]], range bounds are sampled from a
    * column-pruned projection BEFORE the shuffle — the input lineage is
    * evaluated twice; persist expensive inputs first.
    *
    * @param coefs1 stage-1 coefficients from (row, prevRow) — prevRow is
    *               null only before the very first row of the scan
    * @param coefs2 stage-2 coefficients from (row, stage-1 state AFTER the
    *               row's stage-1 update)
    * @param emit   output from (state1, state2, row), both post-update
    */
  private[graft] def affine2(
      df: DataFrame,
      orderCols: Seq[String],
      n1: Int,
      coefs1: (Row, Row) => Array[Affine],
      init1: Array[Double],
      n2: Int,
      coefs2: (Row, Array[Double]) => Array[Affine],
      init2: Array[Double],
      emit: (Array[Double], Array[Double], Row) => Any,
      outName: String,
      outType: DataType,
      numParts: Int = 0): DataFrame =
    affine2WithFinal(df, orderCols, n1, coefs1, init1, n2, coefs2, init2,
      emit, outName, outType, numParts)._1

  /** [[affine2]] + both stages' FINAL state vectors — the driver folds
    * already compute them; callers needing global totals alongside the
    * prefix scan (e.g. normalization scalars over a decay-weighted column)
    * read them here instead of paying a separate aggregation pass over the
    * scan's output lineage.
    */
  private[graft] def affine2WithFinal(
      df: DataFrame,
      orderCols: Seq[String],
      n1: Int,
      coefs1: (Row, Row) => Array[Affine],
      init1: Array[Double],
      n2: Int,
      coefs2: (Row, Array[Double]) => Array[Affine],
      init2: Array[Double],
      emit: (Array[Double], Array[Double], Row) => Any,
      outName: String,
      outType: DataType,
      numParts: Int = 0): (DataFrame, Array[Double], Array[Double]) = {
    val spark = df.sparkSession
    val parts =
      if (numParts > 0) numParts
      else math.max(spark.sparkContext.defaultParallelism,
        df.rdd.getNumPartitions)
    val keyIdxs = orderCols.map(df.schema.fieldIndex).toArray
    val layout = pinnedLayoutRdd(df, orderCols, parts)

    val summaries = phaseASummaries(layout, keyIdxs, n1, coefs1,
      assertUnique = true, outName, orderCols)
    val (incoming1, prevLast1, fin1) = foldIncoming(summaries, n1, coefs1, init1)
    val m = summaries.length
    val outSchema = StructType(df.schema.fields :+ StructField(outName, outType))
    if (m == 0)
      return (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema),
        fin1, init2.clone())

    val b1 = spark.sparkContext.broadcast((incoming1, prevLast1))
    val pidToIdx = summaries.map(_._1).zipWithIndex.toMap

    // ---- phase A2: exact stage-1 replay, stage-2 composition ------------
    // incoming1 is exact, so stage-2 coefficients are concrete for EVERY
    // row — the composed map covers the whole partition (no first-row
    // exclusion) and fold 2 is a plain map application.
    val comp2s = layout.mapPartitionsWithIndex { (pid, it) =>
      pidToIdx.get(pid) match {
        case None => Iterator.empty
        case Some(idx) =>
          val (inc, pl) = b1.value
          val st1 = inc(idx).clone()
          var prev: Row = pl(idx)
          val comp = Array.fill(n2)(Affine(1.0, 0.0))
          it.foreach { r =>
            val cs1 = coefs1(r, prev)
            var i = 0
            while (i < n1) { st1(i) = cs1(i)(st1(i)); i += 1 }
            val cs2 = coefs2(r, st1)
            i = 0
            while (i < n2) { comp(i) = cs2(i).after(comp(i)); i += 1 }
            prev = r
          }
          Iterator.single((idx, comp))
      }
    }.collect().sortBy(_._1)

    val incoming2 = new Array[Array[Double]](m)
    var st2 = init2.clone()
    comp2s.foreach { case (idx, comp) =>
      incoming2(idx) = st2.clone()
      var i = 0
      while (i < n2) { st2(i) = comp(i)(st2(i)); i += 1 }
    }

    // ---- phase B: replay both stages with exact incoming state ----------
    val b2 = spark.sparkContext.broadcast(incoming2)
    val outRdd = layout.mapPartitionsWithIndex { (pid, it) =>
      pidToIdx.get(pid) match {
        case None => Iterator.empty
        case Some(idx) =>
          val (inc, pl) = b1.value
          val st1 = inc(idx).clone()
          val s2 = b2.value(idx).clone()
          var prev: Row = pl(idx)
          it.map { r =>
            val cs1 = coefs1(r, prev)
            var i = 0
            while (i < n1) { st1(i) = cs1(i)(st1(i)); i += 1 }
            val cs2 = coefs2(r, st1)
            i = 0
            while (i < n2) { s2(i) = cs2(i)(s2(i)); i += 1 }
            prev = r
            Row.fromSeq(r.toSeq :+ emit(st1, s2, r))
          }
      }
    }
    (spark.createDataFrame(outRdd, outSchema), fin1, st2)
  }

  /** Previous-ROW access over a total integral order, distributed: the
    * pinned layout's boundary handoff already threads each partition's
    * predecessor row, so a lag-style operator needs NO affine state at all
    * — `out(row, prevRow)` sees the exact previous row (null before the
    * very first), with full-precision longs (an affine double state would
    * corrupt ns epochs > 2^53). One shuffle, two passes over its files;
    * requires non-null UNIQUE integral order keys (asserted).
    *
    * `allowDupOrderKeys` skips the uniqueness assertion for callers whose
    * OUTPUT is invariant under any permutation of equal-key rows — true
    * exactly when every value `out` reads from `prevRow` is an order-key
    * column (equal-key rows then agree on everything observable, so the
    * ambiguous within-block order cannot leak into results, including
    * across a block-loss recompute). Integrity/diagnostic scans use this:
    * duplicate trade ids are the corruption they exist to REPORT, not a
    * precondition violation to crash on.
    */
  private[graft] def withPrevRow(
      df: DataFrame,
      orderCols: Seq[String],
      out: (Row, Row) => Any,
      outName: String,
      outType: DataType,
      numParts: Int = 0,
      allowDupOrderKeys: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numParts > 0) numParts
      else math.max(spark.sparkContext.defaultParallelism,
        df.rdd.getNumPartitions)
    val keyIdxs = orderCols.map(df.schema.fieldIndex).toArray
    val layout = pinnedLayoutRdd(df, orderCols, parts)
    val noStates = (_: Row, _: Row) => Array.empty[Affine]
    val summaries = phaseASummaries(layout, keyIdxs, 0, noStates,
      assertUnique = !allowDupOrderKeys, outName, orderCols)
    val (_, prevLastSeq, _) =
      foldIncoming(summaries, 0, noStates, Array.empty)
    val outSchema = StructType(df.schema.fields :+ StructField(outName, outType))
    if (summaries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    val bPrev = spark.sparkContext.broadcast(prevLastSeq)
    val pidToIdx = summaries.map(_._1).zipWithIndex.toMap
    val outRdd = layout.mapPartitionsWithIndex { (pid, it) =>
      pidToIdx.get(pid) match {
        case None => Iterator.empty
        case Some(idx) =>
          var prev: Row = bPrev.value(idx)
          it.map { r =>
            val o = out(r, prev)
            prev = r
            Row.fromSeq(r.toSeq :+ o)
          }
      }
    }
    spark.createDataFrame(outRdd, outSchema)
  }

  /** Lexicographic ordering over boxed, non-null order-key vectors. */
  private class LexKeyOrdering extends Ordering[Array[AnyRef]] {
    def compare(x: Array[AnyRef], y: Array[AnyRef]): Int = {
      var i = 0
      while (i < x.length) {
        val c = x(i).asInstanceOf[Comparable[AnyRef]].compareTo(y(i))
        if (c != 0) return c
        i += 1
      }
      0
    }
  }

}
