package graft.features

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  GenericInternalRow, InterpretedOrdering, JoinedRow, SortOrder}
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
  *     stitches boundaries, and a second pass emits — two passes over one
  *     frozen range layout, no global sort, scales to any data size (the
  *     per-partition summary is 2 doubles per state component). The
  *     passes run on `InternalRow`; [[affine2]] chains two such scans and
  *     [[withPrevRow]] threads the previous row with no state.
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

  /** One scalar-affine state component: s' = a·s + b. */
  final case class Affine(a: Double, b: Double) {
    /** Composition: apply `this` AFTER `prev`. */
    def after(prev: Affine): Affine = Affine(a * prev.a, a * prev.b + b)
    def apply(s: Double): Double = a * s + b
  }


  /** Catalyst's ascending order (nulls first) over `cols` of `schema`'s
    * rows: the order the scan layout sorts by. Two rows compare equal
    * exactly when they agree on `cols`.
    */
  private[graft] def ordering(schema: StructType, cols: Seq[String]): Ordering[InternalRow] =
    new InterpretedOrdering(cols.map { c =>
      val i = schema.fieldIndex(c)
      SortOrder(BoundReference(i, schema(i).dataType, schema(i).nullable), Ascending)
    })

  /** Key-run start test for reset-at-key scans over `schema`'s rows: true
    * when `keyCols` is non-empty and the row is the scan's first (`prev`
    * null) or differs from `prev` on a key column (nulls equal).
    */
  private[graft] def keyChanged(schema: StructType, keyCols: Seq[String])
      : (InternalRow, InternalRow) => Boolean =
    if (keyCols.isEmpty) (_, _) => false
    else {
      val ord = ordering(schema, keyCols)
      (r, prev) => prev == null || ord.compare(r, prev) != 0
    }

  /** Exact distributed scan for a vector of independent scalar-affine
    * recurrences over a globally `orderCols`-ordered frame.
    *
    * LAYOUT. Every scan here reads one frozen range layout:
    *  - the input executes once, through its `queryExecution.toRdd` (AQE
    *    materializes every exchange of the input there); the bound sample
    *    and the routing shuffle both read that RDD;
    *  - the bounds are a pure function of the order-key multiset: the
    *    64·parts keys with the smallest xxhash64, sorted, then evenly
    *    spaced picks. They enter the plan as struct literals;
    *  - rows route with `repartitionById` on a binary search over the
    *    bounds, in Catalyst's own order (the one `sortWithinPartitions`
    *    uses), into `spark.sql.shuffle.partitions` partitions (`numParts`
    *    overrides), each sorted by `orderCols`;
    *  - that frame is read through ONE `queryExecution.toRdd`, so every
    *    pass re-reads the same shuffle files. Nothing is persisted.
    * Partition membership is a pure function of the key, and with unique
    * order keys so is the order within a partition: a recompute after
    * block loss rebuilds the exact layout the earlier passes saw, and two
    * runs over the same data compose their affine maps in the same
    * grouping, so they return bit-identical doubles. Order keys must be
    * UNIQUE (asserted in phase A); any orderable types work.
    *
    * PASSES. Phase A collects per partition the first row, the last row
    * and the composed map of rows[1..]; a driver fold replays each first
    * row with its true predecessor (coefficients may read the previous
    * row, e.g. Δt decay) and yields every partition's incoming state;
    * phase B replays each partition from it and emits. All passes run on
    * `InternalRow`, and the output returns as an `InternalRow` frame.
    *
    * @param coefs   per-row coefficients of each state component from the
    *                row and the previous row (null before the scan's first)
    * @param init    initial state vector
    * @param emit    the output value, a Catalyst internal value of
    *                `outType` (a boxed primitive, `InternalRow` for a
    *                struct, null), from (stateAfterUpdate, row)
    * @param numParts scan partitions; <= 0 (default) reads
    *                `spark.sql.shuffle.partitions`
    */
  def affine(
      df: DataFrame,
      orderCols: Seq[String],
      nStates: Int,
      coefs: (InternalRow, InternalRow) => Array[Affine],
      init: Array[Double],
      emit: (Array[Double], InternalRow) => Any,
      outName: String,
      outType: DataType = DoubleType,
      numParts: Int = 0): DataFrame =
    scan(df, orderCols, numParts, unique = true, outName, outType,
      nStates, coefs, init, 0, noStage2, Array.emptyDoubleArray,
      (s, _, r, _, _) => emit(s, r))._1

  /** [[affine]] + the scan's FINAL state vector (the state after the last
    * row, which the driver fold computes before phase B). `emit` receives
    * it as its third argument, so an output that needs a global total
    * alongside the prefix (e.g. time-decay weights: cum and Σ of the same
    * column) is computed in the replay, with no second aggregation pass
    * and no data-derived literal in the plan.
    */
  private[graft] def affineWithFinal(
      df: DataFrame,
      orderCols: Seq[String],
      nStates: Int,
      coefs: (InternalRow, InternalRow) => Array[Affine],
      init: Array[Double],
      emit: (Array[Double], InternalRow, Array[Double]) => Any,
      outName: String,
      outType: DataType = DoubleType,
      numParts: Int = 0): (DataFrame, Array[Double]) = {
    val (out, fin, _) = scan(df, orderCols, numParts, unique = true, outName,
      outType, nStates, coefs, init, 0, noStage2, Array.emptyDoubleArray,
      (s, _, r, _, f) => emit(s, r, f))
    (out, fin)
  }

  /** TWO chained affine scans on one layout — for recurrences whose
    * stage-2 coefficients read a stage-1 state value (e.g. the AFML
    * sample-weight sweep: conc is a running sum, and cum_u accumulates
    * 1/conc — not expressible as independent affine components in one
    * pass, because a per-partition summary of Σ 1/(conc_in + prefix) is
    * not affine in the unknown incoming conc_in).
    *
    * One shuffle, three passes over its files:
    *   A1  summarize stage 1 (composed maps)         → driver fold 1
    *   A2  replay stage 1 exactly, summarize stage 2 → driver fold 2
    *   B   replay both stages, emit
    * Same layout and determinism contract as [[affine]].
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
      coefs1: (InternalRow, InternalRow) => Array[Affine],
      init1: Array[Double],
      n2: Int,
      coefs2: (InternalRow, Array[Double]) => Array[Affine],
      init2: Array[Double],
      emit: (Array[Double], Array[Double], InternalRow) => Any,
      outName: String,
      outType: DataType,
      numParts: Int = 0): DataFrame =
    affine2WithFinal(df, orderCols, n1, coefs1, init1, n2, coefs2, init2,
      emit, outName, outType, numParts)._1

  /** [[affine2]] + both stages' FINAL state vectors — the driver folds
    * already compute them; callers needing global totals alongside the
    * prefix scan read them here instead of paying a separate aggregation
    * pass over the scan's output lineage.
    */
  private[graft] def affine2WithFinal(
      df: DataFrame,
      orderCols: Seq[String],
      n1: Int,
      coefs1: (InternalRow, InternalRow) => Array[Affine],
      init1: Array[Double],
      n2: Int,
      coefs2: (InternalRow, Array[Double]) => Array[Affine],
      init2: Array[Double],
      emit: (Array[Double], Array[Double], InternalRow) => Any,
      outName: String,
      outType: DataType,
      numParts: Int = 0): (DataFrame, Array[Double], Array[Double]) =
    scan(df, orderCols, numParts, unique = true, outName, outType,
      n1, coefs1, init1, n2, coefs2, init2, (s1, s2, r, _, _) => emit(s1, s2, r))

  /** Previous-ROW access over a total order, distributed: the layout's
    * boundary handoff already threads each partition's predecessor row,
    * so a lag-style operator needs NO affine state at all —
    * `out(row, prevRow)` sees the exact previous row (null before the
    * very first), with full-precision longs (an affine double state would
    * corrupt ns epochs > 2^53). One shuffle, two passes over its files;
    * requires UNIQUE order keys (asserted).
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
      out: (InternalRow, InternalRow) => Any,
      outName: String,
      outType: DataType,
      numParts: Int = 0,
      allowDupOrderKeys: Boolean = false): DataFrame =
    scan(df, orderCols, numParts, unique = !allowDupOrderKeys, outName, outType,
      0, (_, _) => Array.empty[Affine], Array.emptyDoubleArray,
      0, noStage2, Array.emptyDoubleArray, (_, _, r, p, _) => out(r, p))._1

  private val noStage2: (InternalRow, Array[Double]) => Array[Affine] =
    (_, _) => Array.empty[Affine]

  /** s(i) ← maps(i)(s(i)) for every component. */
  private def advance(maps: Array[Affine], s: Array[Double]): Unit = {
    var i = 0
    while (i < s.length) { s(i) = maps(i)(s(i)); i += 1 }
  }

  /** comp(i) ← maps(i) after comp(i) for every component. */
  private def compose(maps: Array[Affine], comp: Array[Affine]): Unit = {
    var i = 0
    while (i < comp.length) { comp(i) = maps(i).after(comp(i)); i += 1 }
  }

  /** The engine behind every entry point (passes in [[affine2]]'s
    * scaladoc; A2 is skipped when `n2` is 0). `emit` reads (state1,
    * state2, row, prevRow, final state1).
    */
  private def scan(
      df: DataFrame, orderCols: Seq[String], numParts: Int, unique: Boolean,
      outName: String, outType: DataType,
      n1: Int, coefs1: (InternalRow, InternalRow) => Array[Affine], init1: Array[Double],
      n2: Int, coefs2: (InternalRow, Array[Double]) => Array[Affine], init2: Array[Double],
      emit: (Array[Double], Array[Double], InternalRow, InternalRow, Array[Double]) => Any)
      : (DataFrame, Array[Double], Array[Double]) = {
    val spark = df.sparkSession
    val schema = df.schema
    val outSchema = StructType(schema.fields :+ StructField(outName, outType))
    val keyOrd = ordering(schema, orderCols)
    val keyIdxs = orderCols.map(schema.fieldIndex)
    // the driver-side jobs run as SQL executions of the input, so their
    // tasks share the session's executor class loader (and with it the
    // generated-class cache) with every other query of the session
    def execution[T](body: => T): T =
      GraftSqlBridge.withExecution(df, s"scan $outName")(body)
    val rows = execution(layout(df, orderCols, numParts))

    // ---- phase A1: (pid, first row, last row, composed map of rows[1..])
    val summaries = execution(rows.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next().copy()
        var prev = first
        val comp = Array.fill(n1)(Affine(1.0, 0.0))
        while (it.hasNext) {
          val r = it.next()
          // equal keys are adjacent after the sort: an adjacent compare
          // is a complete check
          require(!unique || keyOrd.compare(r, prev) != 0,
            s"affine scan '$outName' requires UNIQUE order keys, found " +
              s"duplicate (${orderCols.mkString(", ")}) = " +
              s"(${keyIdxs.map(i => r.get(i, schema(i).dataType)).mkString(", ")})")
          compose(coefs1(r, prev), comp)
          prev = r.copy()
        }
        Iterator.single((pid, first, prev, comp))
      }
    }.collect()).sortBy(_._1)
    val m = summaries.length

    // ---- driver fold 1: incoming stage-1 state and predecessor row of
    // each non-empty partition, in order
    val inc1 = new Array[Array[Double]](m)
    val prevLast = new Array[InternalRow](m)
    val fin1 = init1.clone()
    var last: InternalRow = null
    summaries.indices.foreach { si =>
      val (_, first, lastRow, comp) = summaries(si)
      inc1(si) = fin1.clone()
      prevLast(si) = last
      advance(coefs1(first, last), fin1)
      advance(comp, fin1)
      last = lastRow
    }
    if (m == 0)
      return (GraftSqlBridge.internalDataFrame(spark,
        spark.sparkContext.emptyRDD[InternalRow], outSchema), fin1, init2.clone())
    val idxOf = summaries.map(_._1).zipWithIndex.toMap

    // ---- phase A2: exact stage-1 replay, stage-2 composition. inc1 is
    // exact, so stage-2 coefficients are concrete for EVERY row — the
    // composed map covers the whole partition and fold 2 is a plain map
    // application.
    val fin2 = init2.clone()
    val inc2 = Array.fill(m)(Array.emptyDoubleArray)
    if (n2 > 0) {
      val comps = execution(rows.mapPartitionsWithIndex { (pid, it) =>
        idxOf.get(pid).iterator.map { idx =>
          val s1 = inc1(idx).clone()
          var prev = prevLast(idx)
          val comp = Array.fill(n2)(Affine(1.0, 0.0))
          it.foreach { r =>
            advance(coefs1(r, prev), s1)
            compose(coefs2(r, s1), comp)
            prev = r.copy()
          }
          (idx, comp)
        }
      }.collect()).sortBy(_._1)
      comps.foreach { case (idx, comp) =>
        inc2(idx) = fin2.clone()
        advance(comp, fin2)
      }
    }

    // ---- phase B: replay both stages with exact incoming state, emit
    val out = rows.mapPartitionsWithIndex { (pid, it) =>
      idxOf.get(pid) match {
        case None => Iterator.empty // empty in phase A ⇒ empty here
        case Some(idx) =>
          val s1 = inc1(idx).clone()
          val s2 = inc2(idx).clone()
          var prev = prevLast(idx)
          val value = new GenericInternalRow(1)
          val joined = new JoinedRow
          it.map { r =>
            advance(coefs1(r, prev), s1)
            if (n2 > 0) advance(coefs2(r, s1), s2)
            value.update(0, emit(s1, s2, r, prev, fin1))
            prev = r.copy()
            joined(r, value): InternalRow
          }
      }
    }
    (GraftSqlBridge.internalDataFrame(spark, out, outSchema), fin1, fin2)
  }

  /** The frozen range layout of [[affine]]'s scaladoc, as the RDD every
    * pass reads.
    */
  private def layout(df: DataFrame, orderCols: Seq[String],
                     numParts: Int): RDD[InternalRow] = {
    val spark = df.sparkSession
    val parts =
      if (numParts > 0) numParts
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val in = GraftSqlBridge.internalDataFrame(spark, df.queryExecution.toRdd, df.schema)
    val keys = orderCols.map(col)
    val sample = in.select(keys: _*).orderBy(xxhash64(keys: _*) +: keys: _*)
      .limit(64 * parts).orderBy(keys: _*).collect()
    val types = orderCols.map(c => df.schema(c).dataType)
    val bounds =
      if (sample.isEmpty) IndexedSeq.empty[Column]
      else (1 until parts).map(i => sample((i.toLong * sample.length / parts).toInt))
        .distinct.map(b => struct(orderCols.indices.map(i =>
          lit(b.get(i)).cast(types(i)).as(orderCols(i))): _*))
    // partition p holds the keys in (bounds(p - 1), bounds(p)]
    val key = struct(keys: _*)
    def pid(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(key <= bounds(mid), pid(lo, mid)).otherwise(pid(mid + 1, hi))
      }
    in.repartitionById(parts, pid(0, bounds.length))
      .sortWithinPartitions(keys: _*).queryExecution.toRdd
  }
}
