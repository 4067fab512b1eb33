package graft.labels

import graft.features.Scan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sample-weight pipeline (finmlkit/label/weights.py) — AFML ch.4 weights
  * re-expressed with a sweep-line concurrency (linear, no interval-join
  * explosion) + one bounded range join for the per-event means.
  */
object Weights {

  /** The tier the last auto-probed keyed sweep chose (None until a sweep
    * with `skewSafe = None` runs) — bench harnesses read it to record
    * which tier auto selection picked.
    */
  def lastAutoSkewSafe: Option[Boolean] = Scan.SkewProbe.lastAutoSkewSafe

  /** AUTO TIER SELECTION for the keyed sweeps. Crossover model: the
    * window tier's wall is its serialized hottest key, maxKeyRows ×
    * c_win; the reset-affine scan's is (totalRows / cores) × c_scan.
    * MEASURED constants (SYM_SCALING r11/r12): parallel window per
    * row-per-core 15 µs at the 102M uniform tier (vs scan 250 µs — the
    * 12.7–20.2× gap), and a SERIALIZED 2.5M-row hot key runs ≤3 µs/row
    * (SkewBench r12 weights cells: under a 78%-on-one-key fixture the
    * window tier still WINS, 7.5 s vs the scan's 11.7 — one long sorted
    * run amortizes better than many small keys). c_scan/c_win(serialized)
    * lands between ~16 and ~40 across the two tiers measured, so the
    * scan only pays once the hottest key exceeds default-factor 48 even
    * CORE shares — unreachable on a ≤48-core box (maxKey ≤ n), by
    * MEASUREMENT the right call there, and exactly the regime a
    * 1000-core cluster DOES reach (a >5%-of-corpus key). Override via
    * `spark.graft.weights.autoTierFactor`. The occupancy probe is CACHED
    * per (plan, partCols, cores) — one chain calling
    * concurrency + eventWeights on the same trades frame pays it ONCE
    * (the whole 102M-tier auto-vs-forced delta in SYM_SCALING r12 was
    * the second probe). Callers that KNOW their skew can still force a
    * tier with `skewSafe = Some(...)`.
    */
  private def autoSkewSafe(trades: DataFrame,
                           partCols: Seq[String]): Boolean = {
    val cores = math.max(1,
      trades.sparkSession.sparkContext.defaultParallelism)
    val factor = sys.props.get("spark.graft.weights.autoTierFactor")
      .map(_.toLong).getOrElse(48L)
    val (mx, n) = Scan.SkewProbe.occupancy(trades, partCols)
    val safe = mx > factor * n / cores
    Scan.SkewProbe.lastAutoSkewSafe = Some(safe)
    safe
  }

  private def resolveTier(trades: DataFrame, partCols: Seq[String],
                          skewSafe: Option[Boolean]): Boolean =
    skewSafe.getOrElse(partCols.nonEmpty && autoSkewSafe(trades, partCols))

  /** Per-trade concurrency: how many event intervals [event_ts, touch_ts]
    * (both ends inclusive, weights.py:34-38) cover each trade row.
    * Sweep-line: +1 at event_ts (before the trade marker at equal ts),
    * −1 at touch_ts ordered after it — one sort, no join.
    *
    * DOCUMENTED DEVIATION: intervals are timestamp-sliced, the reference
    * slices by trade index (concurrency[start_idx:end_idx+1]). With
    * µs-quantized equal-ts prints, trades sharing the endpoint timestamps
    * but with ids outside the (event, touch) trade pair are included here
    * and excluded by the reference. Replicating index semantics would need
    * the touch TRADE id threaded through the labeler; the DuckDB oracles
    * mirror the timestamp-slice definition used here.
    */
  def concurrency(trades: DataFrame, labeled: DataFrame,
                  partCols: Seq[String] = Nil,
                  skewSafe: Option[Boolean] = None): DataFrame = {
    // partCols (e.g. symbol) must be present on BOTH trades and labeled;
    // the sweep then partitions by it — shuffle-parallel across symbols
    // (empty = reference single-series order, which runs on the exact
    // distributed affine scan: the running sum s' = s + d is affine, so
    // the FULL trade stream never moves through a single partition).
    //
    // KEYED TIERS: the default per-key WINDOW is whole-stage-codegen fast
    // but serializes each key's stream on one task — right for the common
    // many-roughly-even-keys corpus (measured ~5-20× faster per row than
    // the scan closures at the 102M-row uniform tier). `Some(true)`
    // switches to a reset-affine range-partitioned scan (the
    // Ewm.ewmaExact layout): a heavy-hitter key splits across partitions
    // and parallelizes WITHIN the key — the choice when one symbol
    // carries most of the volume (SkewBench's measured 19× class).
    // `None` (default) AUTO-selects from a key-occupancy probe — see
    // [[autoSkewSafe]].
    val pc = partCols.map(col)
    val safe = resolveTier(trades, partCols, skewSafe)
    if (partCols.nonEmpty && !safe) {
      val deltas =
        labeled.select(pc :+ col("event_ts").as("ts") :+ lit(0).as("ord") :+ lit(1L).as("d"): _*)
          .unionByName(labeled.select(
            pc :+ col("touch_ts").as("ts") :+ lit(2).as("ord") :+ lit(-1L).as("d"): _*))
      val stream = trades.select(pc :+ col("ts") :+ lit(1).as("ord") :+ lit(0L).as("d") :+
          col("id") :+ col("price"): _*)
        .unionByName(deltas.withColumn("id", lit(null).cast("long"))
          .withColumn("price", lit(null).cast("double")))
      val w = Window.partitionBy(pc: _*).orderBy("ts", "ord")
        .rowsBetween(Window.unboundedPreceding, 0)
      stream
        .withColumn("concurrency", sum("d").over(w))
        .where(col("ord") === 1)
        .select(pc :+ col("ts") :+ col("id") :+ col("price") :+ col("concurrency"): _*)
    } else if (partCols.nonEmpty) {
      // skew-safe tier: markers take id := event_id so the scan's order
      // keys are total, unique and integral; tie order within an equal
      // (ts, ord) group cannot change any output (trade rows carry d = 0,
      // and conc is only read at trade rows, which sort after every
      // equal-ts marker of their ord class).
      require(labeled.columns.contains("event_id"),
        "keyed skew-safe concurrency sweep needs an event_id column for " +
          "the deterministic scan order (partCols, ts, ord, event_id)")
      val deltas =
        labeled.select(pc :+ col("event_ts").as("ts") :+ lit(0).as("ord") :+
            col("event_id").as("id") :+ lit(1L).as("d"): _*)
          .unionByName(labeled.select(
            pc :+ col("touch_ts").as("ts") :+ lit(2).as("ord") :+
              col("event_id").as("id") :+ lit(-1L).as("d"): _*))
          .withColumn("price", lit(null).cast("double"))
      val stream = trades.select(pc :+ col("ts") :+ lit(1).as("ord") :+
          col("id") :+ lit(0L).as("d") :+ col("price"): _*)
        .unionByName(deltas)
      val sch = stream.schema
      val dIdx = sch.fieldIndex("d")
      val newKey = Scan.keyChanged(sch, partCols)
      Scan.affine(stream, partCols ++ Seq("ts", "ord", "id"), nStates = 1,
          coefs = (r, prev) => {
            val nk = newKey(r, prev)
            val d = r.getLong(dIdx).toDouble
            if (nk) Array(Scan.Affine(0.0, d)) else Array(Scan.Affine(1.0, d))
          },
          init = Array(0.0),
          emit = (s, _) => s(0).toLong,
          outName = "concurrency", outType = LongType)
        .where(col("ord") === 1)
        .select(pc :+ col("ts") :+ col("id") :+ col("price") :+ col("concurrency"): _*)
    } else {
      // Markers ride the scan with id := event_id so (ts, ord, id) is a
      // total UNIQUE key (the scan layout's determinism contract). Tie
      // order within an equal (ts, ord) group cannot change any output
      // row: trade rows all carry d = 0, and the cumulative sum
      // at a trade row includes every marker sorting before it regardless
      // of intra-group order.
      require(labeled.columns.contains("event_id"),
        "unkeyed concurrency sweep needs an event_id column for the " +
          "deterministic scan order (ts, ord, event_id)")
      val deltas =
        labeled.select(col("event_ts").as("ts"), lit(0).as("ord"),
            col("event_id").as("id"), lit(1L).as("d"))
          .unionByName(labeled.select(col("touch_ts").as("ts"), lit(2).as("ord"),
            col("event_id").as("id"), lit(-1L).as("d")))
          .withColumn("price", lit(null).cast("double"))
      val stream = trades.select(col("ts"), lit(1).as("ord"), col("id"),
          lit(0L).as("d"), col("price"))
        .unionByName(deltas)
      val dIdx = stream.schema.fieldIndex("d")
      Scan.affine(stream, Seq("ts", "ord", "id"), nStates = 1,
          coefs = (r, _) => Array(Scan.Affine(1.0, r.getLong(dIdx).toDouble)),
          init = Array(0.0),
          emit = (s, _) => s(0).toLong,
          outName = "concurrency", outType = LongType)
        .where(col("ord") === 1)
        .select(col("ts"), col("id"), col("price"), col("concurrency"))
    }
  }

  /** Per-event average uniqueness = mean(1/concurrency) over the event's
    * covered trade rows [event_ts, touch_ts] (weights.py:7-49), plus the
    * return attribution |Σ logret/concurrency| (weights.py:52-103).
    *
    * Linear sweep instead of an event×trades interval join: prefix sums of
    * 1/conc and logret/conc over the time-ordered trades, then each event's
    * interval sum is the difference of the prefix at its two endpoint
    * markers (start marker sorts before equal-ts trades → left-inclusive;
    * end marker after → right-inclusive). No join blow-up; with `partCols`
    * (e.g. symbol, present on BOTH inputs) the sweep shuffles by key —
    * parallel across symbols, matching the reference's per-series order
    * constraint (label/weights.py:7-103).
    *
    * Scale shape of the UNKEYED (reference single-series) path: the sweep
    * runs on [[Scan.affine2]] — conc / prev-price / row-count are stage-1
    * affine states, and the cum_u / cum_r prefix sums (whose increments
    * read conc) are stage 2 over the same scan layout. One shuffle,
    * three passes over its files, no single-partition window on the
    * trade-scaled stream; only the |events|-sized marker extract moves
    * through the final hash aggregation.
    */
  def eventWeights(trades: DataFrame, labeled: DataFrame,
                   partCols: Seq[String] = Nil,
                   skewSafe: Option[Boolean] = None): DataFrame = {
    val pc = partCols.map(col)
    val nullL = lit(null).cast("long")
    val nullD = lit(null).cast("double")
    def at(kind: Int, c: String) = max(when(col("kind") === kind, col(c)))
    val safe = resolveTier(trades, partCols, skewSafe)
    if (partCols.nonEmpty && !safe) {
      // Default keyed tier — fully fused per-key WINDOW sweep: the
      // concurrency deltas, the previous-trade price (for log returns)
      // and all three prefix sums ride ONE (ts, ord, id) ordering —
      // consecutive Window operators with the same spec reuse the sort,
      // so the whole pipeline costs a single keyed sort, entirely inside
      // whole-stage codegen. Each key's stream runs on one task: right
      // for many-roughly-even-keys corpora, wrong for heavy hitters —
      // see `skewSafe` (concurrency's scaladoc has the measured numbers).
      val tr = trades.select(pc ++ Seq(col("ts"), lit(1).as("ord"), col("id"),
        col("price"), lit(0L).as("d"), nullL.as("event_id"),
        nullL.as("event_ts"), nullL.as("touch_ts"),
        lit(null).cast("int").as("kind")): _*)
      def marker(tsCol: String, ord: Int, kind: Int, d: Long) =
        labeled.select(pc ++ Seq(col(tsCol).as("ts"), lit(ord).as("ord"), nullL.as("id"),
          nullD.as("price"), lit(d).as("d"), col("event_id"), col("event_ts"),
          col("touch_ts"), lit(kind).as("kind")): _*)
      val stream = tr
        .unionByName(marker("event_ts", 0, 0, 1L))
        .unionByName(marker("touch_ts", 2, 1, -1L))

      val ord = Window.partitionBy(pc: _*).orderBy("ts", "ord", "id")
      val sweep = ord.rowsBetween(Window.unboundedPreceding, 0)
      val before = ord.rowsBetween(Window.unboundedPreceding, -1)
      val cum = stream
        .withColumn("conc", sum("d").over(sweep))
        .withColumn("prev_price", last("price", ignoreNulls = true).over(before))
        // try_divide: a zero/invalid previous print yields NULL (not an ANSI
        // error), which the conc-guard below already maps to a 0 contribution
        .withColumn("logret", log(try_divide(col("price"), col("prev_price"))))
        // conc = 0 ⇔ the trade is covered by no event interval, so it can
        // never contribute to any event's sum — 0 keeps the prefix exact
        // (and avoids ANSI divide-by-zero on sparse data).
        .withColumn("u", when(col("ord") === 1,
          when(col("conc") > 0, lit(1.0) / col("conc")).otherwise(0.0)))
        .withColumn("r", when(col("ord") === 1,
          when(col("conc") > 0 && !isnan(col("logret")) && col("logret").isNotNull,
            col("logret") / col("conc")).otherwise(0.0)))
        .withColumn("cum_u", sum("u").over(sweep))
        .withColumn("cum_r", sum("r").over(sweep))
        .withColumn("cum_n", count("u").over(sweep))
        .where(col("ord") =!= 1)

      cum.groupBy(pc :+ col("event_id"): _*).agg(
          max("event_ts").as("event_ts"), max("touch_ts").as("touch_ts"),
          coalesce(at(0, "cum_u"), lit(0.0)).as("u0"), at(1, "cum_u").as("u1"),
          coalesce(at(0, "cum_r"), lit(0.0)).as("r0"), at(1, "cum_r").as("r1"),
          coalesce(at(0, "cum_n"), lit(0L)).as("n0"), at(1, "cum_n").as("n1"))
        .where(col("n1") > col("n0"))
        .select(pc ++ Seq(col("event_id"), col("event_ts"), col("touch_ts"),
          ((col("u1") - col("u0")) / (col("n1") - col("n0"))).as("avg_uniqueness"),
          abs(col("r1") - col("r0")).as("return_attribution")): _*)
    } else if (partCols.nonEmpty) {
      // Skew-safe keyed tier — reset-affine sweep on the SAME two-stage
      // scan as the unkeyed branch: a heavy-hitter symbol splits
      // across range partitions instead of serializing on one task. The
      // scan orders by (partCols, ts, ord, id) and every state resets
      // with a = 0 coefficients at key boundaries; stage 2 learns about
      // the boundary through a stage-1 FLAG state (1.0 exactly on each
      // key's first row — stage-2 coefficients see stage-1 state, not
      // the previous row). Markers take id := event_id so the order keys
      // are total, unique and integral; intra-(ts, ord) tie order cannot
      // change outputs for the same reasons as the unkeyed branch.
      require(labeled.columns.contains("event_id"),
        "keyed skew-safe eventWeights sweep needs an event_id column for " +
          "the deterministic scan order (partCols, ts, ord, event_id)")
      val tr = trades.select(pc ++ Seq(col("ts"), lit(1).as("ord"), col("id"),
        col("price"), lit(0L).as("d"), nullL.as("event_id"),
        nullL.as("event_ts"), nullL.as("touch_ts"),
        lit(null).cast("int").as("kind")): _*)
      def marker(tsCol: String, ord: Int, kind: Int, d: Long) =
        labeled.select(pc ++ Seq(col(tsCol).as("ts"), lit(ord).as("ord"),
          col("event_id").as("id"), nullD.as("price"), lit(d).as("d"),
          col("event_id"), col("event_ts"),
          col("touch_ts"), lit(kind).as("kind")): _*)
      val stream = tr
        .unionByName(marker("event_ts", 0, 0, 1L))
        .unionByName(marker("touch_ts", 2, 1, -1L))

      val sch = stream.schema
      val ordIdx = sch.fieldIndex("ord")
      val priceIdx = sch.fieldIndex("price")
      val dIdx = sch.fieldIndex("d")
      val newKey = Scan.keyChanged(sch, partCols)
      val keep = Scan.Affine(1.0, 0.0)
      val zero = Scan.Affine(0.0, 0.0)
      // stage 1: conc (running Σd), prev-trade seen flag + held price,
      // trade-row count, and the key-boundary flag for stage 2 — all
      // RESET (a = 0) on each key's first row so no state crosses keys
      val coefs1 = (r: InternalRow, prev: InternalRow) => {
        val nk = newKey(r, prev)
        val d = r.getLong(dIdx).toDouble
        val conc = if (nk) Scan.Affine(0.0, d) else Scan.Affine(1.0, d)
        val (seen, held) =
          if (nk) (zero, zero)
          else if (prev.getInt(ordIdx) == 1)
            (Scan.Affine(0.0, 1.0), Scan.Affine(0.0, prev.getDouble(priceIdx)))
          else (keep, keep)
        val isTrade = r.getInt(ordIdx) == 1
        val n =
          if (nk) Scan.Affine(0.0, if (isTrade) 1.0 else 0.0)
          else if (isTrade) Scan.Affine(1.0, 1.0) else keep
        val flag = Scan.Affine(0.0, if (nk) 1.0 else 0.0)
        Array(conc, seen, held, n, flag)
      }
      // stage 2: cum_u / cum_r prefix sums — increments read stage-1 conc
      // and the held previous price, with the unkeyed branch's guards
      // (conc <= 0 → 0; no previous trade / zero prev price / non-finite
      // log-ratio → 0); a = 0 on key-first rows resets the sums
      val coefs2 = (r: InternalRow, st1: Array[Double]) => {
        val a = if (st1(4) == 1.0) 0.0 else 1.0
        def aff(inc: Double) = Scan.Affine(a, inc)
        if (r.getInt(ordIdx) != 1) Array(aff(0.0), aff(0.0))
        else {
          val conc = st1(0)
          if (conc <= 0) Array(aff(0.0), aff(0.0))
          else {
            val u = 1.0 / conc
            val rInc =
              if (st1(1) != 1.0 || st1(2) == 0.0) 0.0
              else {
                val lr = math.log(r.getDouble(priceIdx) / st1(2))
                if (lr.isNaN || lr.isInfinite) 0.0 else lr / conc
              }
            Array(aff(u), aff(rInc))
          }
        }
      }
      val outType = StructType(Seq(
        StructField("cum_u", DoubleType), StructField("cum_r", DoubleType),
        StructField("cum_n", LongType)))
      val scanned = Scan.affine2(stream, partCols ++ Seq("ts", "ord", "id"),
        n1 = 5, coefs1, init1 = Array(0.0, 0.0, 0.0, 0.0, 0.0),
        n2 = 2, coefs2, init2 = Array(0.0, 0.0),
        emit = (st1, st2, _) => InternalRow(st2(0), st2(1), st1(3).toLong),
        outName = "__sw", outType = outType)

      scanned.where(col("ord") =!= 1)
        .groupBy(pc :+ col("event_id"): _*).agg(
          max("event_ts").as("event_ts"), max("touch_ts").as("touch_ts"),
          coalesce(at(0, "__sw.cum_u"), lit(0.0)).as("u0"), at(1, "__sw.cum_u").as("u1"),
          coalesce(at(0, "__sw.cum_r"), lit(0.0)).as("r0"), at(1, "__sw.cum_r").as("r1"),
          coalesce(at(0, "__sw.cum_n"), lit(0L)).as("n0"), at(1, "__sw.cum_n").as("n1"))
        .where(col("n1") > col("n0"))
        .select(pc ++ Seq(col("event_id"), col("event_ts"), col("touch_ts"),
          ((col("u1") - col("u0")) / (col("n1") - col("n0"))).as("avg_uniqueness"),
          abs(col("r1") - col("r0")).as("return_attribution")): _*)
    } else {
      // Unkeyed sweep on the two-stage scan. Markers take
      // id := event_id so (ts, ord, id) is total and unique;
      // intra-group tie order cannot change outputs (markers contribute 0
      // to u/r/n, trades contribute 0 to conc, and the extracted cum_*
      // values sit at marker rows whose prefix is tie-order invariant).
      require(labeled.columns.contains("event_id"),
        "unkeyed eventWeights sweep needs an event_id column for the " +
          "deterministic scan order (ts, ord, event_id)")
      val tr = trades.select(col("ts"), lit(1).as("ord"), col("id"),
        col("price"), lit(0L).as("d"), nullL.as("event_id"),
        nullL.as("event_ts"), nullL.as("touch_ts"),
        lit(null).cast("int").as("kind"))
      def marker(tsCol: String, ord: Int, kind: Int, d: Long) =
        labeled.select(col(tsCol).as("ts"), lit(ord).as("ord"),
          col("event_id").as("id"), nullD.as("price"), lit(d).as("d"),
          col("event_id"), col("event_ts"), col("touch_ts"),
          lit(kind).as("kind"))
      val stream = tr
        .unionByName(marker("event_ts", 0, 0, 1L))
        .unionByName(marker("touch_ts", 2, 1, -1L))

      val sch = stream.schema
      val ordIdx = sch.fieldIndex("ord")
      val priceIdx = sch.fieldIndex("price")
      val dIdx = sch.fieldIndex("d")
      val keep = Scan.Affine(1.0, 0.0)
      // stage 1: conc (running Σd), prev-trade seen flag + price (a held
      // state, NEVER seeded with NaN: a = 0 set maps would turn 0·NaN + b
      // into NaN and poison every later hold), trade-row count
      val coefs1 = (r: InternalRow, prev: InternalRow) => {
        val conc = Scan.Affine(1.0, r.getLong(dIdx).toDouble)
        val (seen, held) =
          if (prev != null && prev.getInt(ordIdx) == 1)
            (Scan.Affine(0.0, 1.0), Scan.Affine(0.0, prev.getDouble(priceIdx)))
          else (keep, keep)
        val n =
          if (r.getInt(ordIdx) == 1) Scan.Affine(1.0, 1.0) else keep
        Array(conc, seen, held, n)
      }
      // stage 2: cum_u / cum_r prefix sums — increments read stage-1 conc
      // and the held previous price, mirroring the keyed branch's guards:
      // conc <= 0 → 0; no previous trade / zero prev price (try_divide
      // NULL) / NaN log-ratio → 0.
      val coefs2 = (r: InternalRow, st1: Array[Double]) => {
        if (r.getInt(ordIdx) != 1) Array(keep, keep)
        else {
          val conc = st1(0)
          if (conc <= 0) Array(keep, keep)
          else {
            val u = 1.0 / conc
            val rInc =
              if (st1(1) != 1.0 || st1(2) == 0.0) 0.0
              else {
                val lr = math.log(r.getDouble(priceIdx) / st1(2))
                // isInfinite too: a zero-price CURRENT print gives
                // log(0) = -Inf (not NaN) and would poison every later
                // cum_r; Spark-side log() yields NULL there, guarded the
                // same way on the keyed branch
                if (lr.isNaN || lr.isInfinite) 0.0 else lr / conc
              }
            Array(Scan.Affine(1.0, u), Scan.Affine(1.0, rInc))
          }
        }
      }
      val outType = StructType(Seq(
        StructField("cum_u", DoubleType), StructField("cum_r", DoubleType),
        StructField("cum_n", LongType)))
      val scanned = Scan.affine2(stream, Seq("ts", "ord", "id"),
        n1 = 4, coefs1, init1 = Array(0.0, 0.0, 0.0, 0.0),
        n2 = 2, coefs2, init2 = Array(0.0, 0.0),
        emit = (st1, st2, _) => InternalRow(st2(0), st2(1), st1(3).toLong),
        outName = "__sw", outType = outType)

      scanned.where(col("ord") =!= 1)
        .select(col("event_id"), col("event_ts"), col("touch_ts"), col("kind"),
          col("__sw.cum_u").as("cum_u"), col("__sw.cum_r").as("cum_r"),
          col("__sw.cum_n").as("cum_n"))
        .groupBy(col("event_id")).agg(
          max("event_ts").as("event_ts"), max("touch_ts").as("touch_ts"),
          coalesce(at(0, "cum_u"), lit(0.0)).as("u0"), at(1, "cum_u").as("u1"),
          coalesce(at(0, "cum_r"), lit(0.0)).as("r0"), at(1, "cum_r").as("r1"),
          coalesce(at(0, "cum_n"), lit(0L)).as("n0"), at(1, "cum_n").as("n1"))
        .where(col("n1") > col("n0"))
        .select(col("event_id"), col("event_ts"), col("touch_ts"),
          ((col("u1") - col("u0")) / (col("n1") - col("n0"))).as("avg_uniqueness"),
          abs(col("r1") - col("r0")).as("return_attribution"))
    }
  }

  /** Linear time decay over cumulative avg-uniqueness (weights.py:106-142):
    * newest = 1, oldest = lastWeight; negative lastWeight erases the oldest
    * portion (clipped at 0).
    *
    * Scale shape: events grow with trades (~1/29 here), so neither the
    * cumulative sum nor the grand total may ride a single-partition window.
    *  - `partCols` nonEmpty (per-symbol decay): plain keyed windows —
    *    shuffle-parallel across symbols.
    *  - `partCols` empty (the reference's single-series semantics): the
    *    cumulative sum is the affine recurrence s' = s + avgU, so it runs on
    *    [[graft.features.Scan.affineWithFinal]] (two passes, O(1) driver
    *    state, no global sort); the grand total IS the scan's final fold
    *    state — free, no extra aggregation pass — and `time_decay` is
    *    computed in the scan's replay from it, so the plan carries no
    *    data-derived literal. The scan materializes the exchanges of
    *    `eventWeights` once; its bound sample and its routing shuffle each
    *    re-run only the input's last (post-exchange) stage, so persist
    *    `eventWeights` first only when that stage is expensive.
    */
  def withTimeDecay(eventWeights: DataFrame, lastWeight: Double,
                    partCols: Seq[String] = Nil): DataFrame = {
    if (partCols.nonEmpty) {
      val pc = partCols.map(col)
      val w = Window.partitionBy(pc: _*).orderBy("event_ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      val all = Window.partitionBy(pc: _*)
      val slope =
        if (lastWeight >= 0) (lit(1.0) - lastWeight) / col("__total")
        else lit(1.0) / (lit(lastWeight + 1.0) * col("__total"))
      eventWeights
        .withColumn("__total", sum("avg_uniqueness").over(all))
        .withColumn("__cum", sum("avg_uniqueness").over(w))
        .withColumn("time_decay",
          greatest(lit(if (lastWeight < 0) 0.0 else Double.NegativeInfinity),
            lit(1.0) - slope * col("__total") + slope * col("__cum")))
        .drop("__total", "__cum")
    } else {
      val uIdx = eventWeights.schema.fieldIndex("avg_uniqueness")
      val floor = if (lastWeight < 0) 0.0 else Double.NegativeInfinity
      Scan.affineWithFinal(
        eventWeights, Seq("event_ts", "event_id"), nStates = 1,
        coefs = (r, _) => {
          val u = if (r.isNullAt(uIdx)) 0.0 else r.getDouble(uIdx)
          Array(Scan.Affine(1.0, u))
        },
        init = Array(0.0),
        // the keyed branch's column formula with __total = fin(0) and
        // __cum = s(0), evaluated in the same operation order; the floor
        // is taken like Catalyst's greatest (NaN above all, -0.0 = 0.0)
        emit = (s, _, fin) => {
          val total = fin(0)
          val slope =
            if (lastWeight >= 0) (1.0 - lastWeight) / total
            else 1.0 / ((lastWeight + 1.0) * total)
          val v = (1.0 - slope * total) + slope * s(0)
          if (SQLOrderingUtil.compareDoubles(v, floor) > 0) v else floor
        },
        outName = "time_decay")._1
    }
  }

  /** Class-balance weights (weights.py:146-187): per-class weighted counts →
    * classWeight = total/(nClasses·classSum), 0 for an empty class
    * (weights.py:181); final = base·classWeight.
    *
    * Two tiny aggregations + a broadcast join back — the class table is
    * |classes|·|keys| rows, so the event table itself never moves through a
    * single partition (SURVEY §2.8's prescription).
    */
  def withClassBalance(labeledWeights: DataFrame, baseCol: String,
                       partCols: Seq[String] = Nil): DataFrame = {
    val pc = partCols.map(col)
    val grp = (partCols :+ "label").map(col)
    val perClass = labeledWeights.groupBy(grp: _*)
      .agg(sum(baseCol).as("__class_sum"))
    val totals = perClass.groupBy(pc: _*)
      .agg(sum("__class_sum").as("__total"),
        count(lit(1)).as("__n_classes"))
    val cls =
      // unkeyed totals is ONE row — the sanctioned scalar broadcast. The
      // keyed table is |keys| rows (unbounded in principle): no forced
      // hint — AQE broadcasts while measured small, shuffle-joins past it.
      if (partCols.isEmpty) perClass.crossJoin(broadcast(totals))
      else perClass.join(totals, partCols)
    val clsW = cls.select(grp :+
      when(col("__class_sum") > 0,
        col("__total") / (col("__n_classes") * col("__class_sum")))
        .otherwise(0.0).as("class_weight"): _*)
    // LEFT join: a NULL label (or NULL key column) never equi-matches, and
    // an inner join would silently drop such rows. Unlabeled events keep
    // their row with class_weight 0 — the reference's empty-class weight.
    // clsW is |classes|·|keys| rows — AQE's call for the same reason.
    labeledWeights.join(clsW, partCols :+ "label", "left")
      .withColumn("class_weight", coalesce(col("class_weight"), lit(0.0)))
      .withColumn("weight", col(baseCol) * col("class_weight"))
  }
}
