package graft.features

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, BoundReference,
  Expression, JoinedRow, MutableProjection, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

/** The typed ordered pass behind [[Dsl.build]]'s built-in window nodes
  * (`FRoll`, `FLag` and the lag inside `FRet`): ONE `mapPartitions` over
  * `InternalRow` advances every window slot in dependency order, each
  * from its own ring buffer, where a Catalyst lowering would stack one
  * window frame per feature.
  *
  * Layout — one shuffle either way:
  *  - keyed: [[Scan.keyOrdered]] — each key's rows contiguous and ordered
  *    by bar_ts; every slot restarts at each key run;
  *  - unkeyed: a frozen range layout over bar_ts into
  *    `spark.sql.shuffle.partitions` partitions, each sorted. A phase-A job
  *    collects each partition's last L rows (L = the longest lookback
  *    chain over the slots); each partition then replays the L rows that
  *    precede it — possibly spanning several earlier partitions — before
  *    emitting its own, so a frame crossing a partition boundary sees
  *    exactly the rows a global window would (the MapWithPartitionPreview
  *    pattern). Outputs do not depend on the partition count.
  *
  * Every slot recomputes its aggregate over the ring in row order with the
  * operation sequence of the Catalyst column it replaces — Average's
  * sum/count, CentralMomentAgg's Welford update, Least/Greatest, the
  * sorted collected frame, [[Ewm.ewmaWindowed]]'s StrictMath.pow-weighted
  * fold over K = [[Ewm.ewmaWindowK]] rows — so the values equal those
  * window columns bit for bit (DslSpec holds the differential test).
  * Rolling outputs are DOUBLE; a lag keeps its input's type. An ewma whose
  * frame holds no value is NULL (the Catalyst fold divided 0 by 0, an ANSI
  * error).
  */
private[features] object RollKernel {

  /** A built-in window: `op` over the last `n` rows (ewma: span `n`) of
    * `input`, a Column over the working row — the input frame's columns
    * plus the outputs of the slots registered before this one.
    */
  final case class Slot(op: String, n: Int, input: Column)

  def slotName(i: Int): String = s"__dsl_w$i"

  /** `in` ⧺ one column per slot, ordered by (keys, bar_ts). */
  def run(in: DataFrame, slots: Seq[Slot], keys: Seq[String]): DataFrame = {
    val spark = in.sparkSession
    val base = in.schema.fields.toSeq
    val nBase = base.length
    val ops = slots.map(_.op).toArray
    val ns = slots.map(_.n).toArray
    // bind each slot's input to the working row as it stands before it
    val exprs = new Array[Expression](slots.length)
    val fields = scala.collection.mutable.ArrayBuffer[StructField]()
    slots.zipWithIndex.foreach { case (s, i) =>
      val c = if (s.op == "lag") s.input else s.input.cast(DoubleType)
      val rel = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), StructType(base ++ fields))
      exprs(i) = rel.select(c).queryExecution.analyzed match {
        case Project(Seq(e), l: LocalRelation) =>
          BindReferences.bindReference(e match {
            case a: Alias => a.child
            case other => other
          }, l.output)
        case other => throw new IllegalArgumentException(
          s"the input of window node ${s.op}(${s.n}) must be row-wise over " +
            s"the frame and earlier window nodes, got plan ${other.nodeName} " +
            "(a registered windowed call cannot feed a built-in window)")
      }
      fields += StructField(slotName(i),
        if (s.op == "lag") exprs(i).dataType else DoubleType)
    }
    val types = fields.map(_.dataType).toArray
    val outSchema = StructType(base ++ fields)

    // rows a slot needs before its own: its frame plus its inputs' chains
    val look = new Array[Int](slots.length)
    slots.indices.foreach { i =>
      val own = ops(i) match {
        case "lag"  => ns(i)
        case "ewma" => Ewm.ewmaWindowK(ns(i)) - 1
        case _      => ns(i) - 1
      }
      val deps = exprs(i).collect {
        case b: BoundReference if b.ordinal >= nBase => look(b.ordinal - nBase)
      }
      look(i) = own + deps.foldLeft(0)(math.max)
    }
    val lookback = look.max

    // ONE toRdd: its range bounds are sampled once, when the shuffle
    // dependency is built, so phase A, phase B and any recompute read the
    // same frozen layout; AQE never coalesces a numbered repartition
    val layout: RDD[InternalRow] =
      if (keys.nonEmpty) Scan.keyOrdered(in, keys, Seq("bar_ts")).queryExecution.toRdd
      else in.repartitionByRange(spark.conf.get("spark.sql.shuffle.partitions").toInt,
          col("bar_ts")).sortWithinPartitions("bar_ts").queryExecution.toRdd

    // phase A (unkeyed): each partition's preview = the `lookback` rows
    // before it, assembled on the driver from every partition's tail
    val previews =
      if (keys.nonEmpty || lookback == 0) None
      else {
        val tails = layout.mapPartitionsWithIndex { (pid, it) =>
          val q = new java.util.ArrayDeque[InternalRow](lookback)
          it.foreach { r =>
            if (q.size == lookback) q.removeFirst()
            q.addLast(r.copy())
          }
          Iterator.single((pid, q.toArray(new Array[InternalRow](0))))
        }.collect().sortBy(_._1)
        var before = Vector.empty[InternalRow]
        val pv = tails.map { case (_, tail) =>
          val p = before.toArray
          before = (before ++ tail).takeRight(lookback)
          p
        }
        Some(spark.sparkContext.broadcast(pv))
      }

    val keyRefs = keys.map { k =>
      val i = in.schema.fieldIndex(k)
      BoundReference(i, base(i).dataType, base(i).nullable)
    }
    val outRefs = outSchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    }
    val out = layout.mapPartitionsWithIndex { (pid, it) =>
      val pass = new Pass(ops, ns, exprs, types, pid)
      previews.foreach(_.value(pid).foreach(pass.step))
      val keyOf = UnsafeProjection.create(keyRefs)
      val emit = UnsafeProjection.create(outRefs)
      var runKey: UnsafeRow = null
      it.map { r =>
        if (keyRefs.nonEmpty) {
          val k = keyOf(r)
          if (runKey == null || k != runKey) { pass.reset(); runKey = k.copy() }
        }
        emit(pass.step(r)): InternalRow
      }
    }
    GraftSqlBridge.internalDataFrame(spark, out, outSchema)
  }

  /** One task's slot states over the working row (input ⧺ slot values). */
  private final class Pass(ops: Array[String], ns: Array[Int],
                           exprs: Array[Expression], types: Array[DataType],
                           pid: Int) {
    private val slotRow = new SpecificInternalRow(types.toSeq)
    private val working = new JoinedRow()
    private val inputs = exprs.map { e =>
      val p = MutableProjection.create(Seq(e))
      p.initialize(pid)
      p.target(new SpecificInternalRow(Seq(e.dataType)))
    }
    private val wins: Array[Win] = ops.indices.map { i =>
      if (ops(i) == "lag") new LagWin(ns(i), types(i)): Win
      else new RollWin(ops(i), ns(i))
    }.toArray

    def reset(): Unit = wins.foreach(_.reset())

    /** Advance every slot by row `r`; returns the working row. */
    def step(r: InternalRow): InternalRow = {
      working(r, slotRow)
      var i = 0
      while (i < wins.length) {
        wins(i).step(inputs(i)(working), slotRow, i)
        i += 1
      }
      working
    }
  }

  private abstract class Win {
    def reset(): Unit
    /** Push field 0 of `in` (this row's input) and write the slot's value
      * for this row into `out(o)`.
      */
    def step(in: InternalRow, out: InternalRow, o: Int): Unit
  }

  /** lag(x, n): the input n rows back, null before the run has n rows. */
  private final class LagWin(n: Int, dt: DataType) extends Win {
    private val ring = new Array[Any](n)
    private var head = 0
    private var size = 0
    def reset(): Unit = { head = 0; size = 0 }
    def step(in: InternalRow, out: InternalRow, o: Int): Unit = {
      if (size == n) out.update(o, ring(head)) else out.setNullAt(o)
      ring(head) = if (in.isNullAt(0)) null else InternalRow.copyValue(in.get(0, dt))
      head = (head + 1) % n
      if (size < n) size += 1
    }
  }

  /** sma / std / min / max / median / zscore / burst over the last n rows,
    * NULL until the frame holds n rows (median and burst: n non-null
    * values); ewma over the last K = ewmaWindowK(span) rows from row 1.
    */
  private final class RollWin(op: String, n: Int) extends Win {
    private val cap = if (op == "ewma") Ewm.ewmaWindowK(n) else n
    private val vs = new Array[Double](cap)
    private val ok = new Array[Boolean](cap)
    private var head = 0 // next write slot; the oldest value once full
    private var size = 0
    // the non-null frame values in ascending order (median, burst)
    private val sorted = if (op == "median" || op == "burst") new Array[Double](n) else null
    private var nSorted = 0
    // ewma: q^j for j = 0..K, the exact StrictMath.pow terms of the
    // Catalyst fold, tabulated once
    private val q = 1.0 - 2.0 / (n + 1.0)
    private val qPow =
      if (op == "ewma") Array.tabulate(cap + 1)(j => StrictMath.pow(q, j.toDouble)) else null

    def reset(): Unit = { head = 0; size = 0; nSorted = 0 }

    def step(in: InternalRow, out: InternalRow, o: Int): Unit = {
      val isNull = in.isNullAt(0)
      val x = if (isNull) 0.0 else in.getDouble(0)
      if (sorted != null) {
        if (size == cap && ok(head)) unsort(vs(head))
        if (!isNull) insort(x)
      }
      vs(head) = x
      ok(head) = !isNull
      head = (head + 1) % cap
      if (size < cap) size += 1
      isNul = false
      val v = op match {
        case "ewma" => ewma()
        case _ if size < n => nul
        case "sma"    => avg()
        case "std"    => welford(sample = true)
        case "min"    => extreme(max = false)
        case "max"    => extreme(max = true)
        case "median" => median()
        case "zscore" =>
          val sd = welford(sample = false)
          if (isNul || isNull || sd == 0.0) nul else (x - avg()) / sd
        case "burst" =>
          val m = median()
          if (isNul || isNull || m == 0.0) nul else x / m
        case other => throw new IllegalArgumentException(s"roll op $other")
      }
      if (isNul) out.setNullAt(o) else out.setDouble(o, v)
    }

    // set by a value helper that yields NULL (a genuine NaN stays a value,
    // as Catalyst's aggregates propagate it)
    private var isNul = false
    private def nul: Double = { isNul = true; 0.0 }

    private def oldest: Int = { val s = head - size; if (s < 0) s + cap else s }

    /** Average: sum = 0.0 + x… in frame order, / count. */
    private def avg(): Double = {
      var s = 0.0
      var c = 0L
      var k = oldest
      var j = 0
      while (j < size) {
        if (ok(k)) { s += vs(k); c += 1 }
        k += 1; if (k == cap) k = 0
        j += 1
      }
      if (c == 0) nul else s / c.toDouble
    }

    /** CentralMomentAgg's update (n, avg, m2), then stddev_samp (NULL for
      * fewer than two values) or stddev_pop.
      */
    private def welford(sample: Boolean): Double = {
      var cnt = 0.0
      var mean = 0.0
      var m2 = 0.0
      var k = oldest
      var j = 0
      while (j < size) {
        if (ok(k)) {
          val newN = cnt + 1.0
          val delta = vs(k) - mean
          val deltaN = delta / newN
          mean = mean + deltaN
          m2 = m2 + delta * (delta - deltaN)
          cnt = newN
        }
        k += 1; if (k == cap) k = 0
        j += 1
      }
      if (cnt == 0.0 || (sample && cnt == 1.0)) nul
      else if (sample) math.sqrt(m2 / (cnt - 1.0))
      else math.sqrt(m2 / cnt)
    }

    /** Least/Greatest fold: a later value replaces only when strictly
      * smaller (larger) under SQL double order (NaN largest, -0.0 = 0.0).
      */
    private def extreme(max: Boolean): Double = {
      var has = false
      var m = 0.0
      var k = oldest
      var j = 0
      while (j < size) {
        if (ok(k)) {
          val v = vs(k)
          val c = if (m == v) 0 else java.lang.Double.compare(m, v)
          if (!has || (if (max) c < 0 else c > 0)) { m = v; has = true }
        }
        k += 1; if (k == cap) k = 0
        j += 1
      }
      if (has) m else nul
    }

    private def median(): Double =
      if (nSorted < n) nul
      else if (n % 2 == 1) sorted(n / 2)
      else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0

    private def insort(x: Double): Unit = {
      var at = java.util.Arrays.binarySearch(sorted, 0, nSorted, x)
      if (at < 0) at = -at - 1
      System.arraycopy(sorted, at, sorted, at + 1, nSorted - at)
      sorted(at) = x
      nSorted += 1
    }

    private def unsort(x: Double): Unit = {
      val at = java.util.Arrays.binarySearch(sorted, 0, nSorted, x)
      System.arraycopy(sorted, at + 1, sorted, at, nSorted - at - 1)
      nSorted -= 1
    }

    /** Ewm.ewmaWindowed: the m non-null frame values weighted q^(m−1−i),
      * summed from the oldest, over (1 − q^m)/(1 − q); NULL when m = 0.
      */
    private def ewma(): Double = {
      var m = 0
      var k = oldest
      var j = 0
      while (j < size) { if (ok(k)) m += 1; k += 1; if (k == cap) k = 0; j += 1 }
      if (m == 0) nul
      else {
        var u = 0.0
        var i = 0
        k = oldest
        j = 0
        while (j < size) {
          if (ok(k)) { u = u + vs(k) * qPow(m - 1 - i); i += 1 }
          k += 1; if (k == cap) k = 0
          j += 1
        }
        u / ((1.0 - qPow(m)) / (1.0 - q))
      }
    }
  }
}
