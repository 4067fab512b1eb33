package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Scan.Affine

/** The recursive exponentially-weighted family (SURVEY.md §4.3 bucket 1):
  * EWMA / EW-std (span), time-decay EW-std (half-life), Wilder smoothing.
  *
  * Exact variants run on [[Scan.affine]] — every recursion here is a vector
  * of independent scalar-affine updates, so the distributed two-pass scan
  * reproduces the reference's sequential kernels to the last few ulps at
  * any partition count (the composed maps group the products differently),
  * and bit-for-bit across runs over the same data and partition count:
  *
  *   ewma  (core/ma.py:6-43):           u' = q·u + y ; v' = q·v + 1
  *   ewms  (core/volatility.py:9-69):   S_w' = q·S_w + 1 ; S_w2' = q²·S_w2 + 1
  *                                      S_y' = q·S_y + y ; S_y2' = q·S_y2 + y²
  *   ewmst (core/volatility.py:139-219): same with α_t = 1 − exp(−Δt/halfLife)
  *
  * Windowed (truncated-tail) EWMA variants exist for the DuckDB oracle and
  * the feature DSL: with K chosen so the dropped tail q^K is below 1e-9
  * ([[Ewm.ewmaWindowK]]), the truncated sum differs from the exact
  * recursion by far less than the 1e-6 output rounding.
  */
object Ewm {

  // ---------------------------------------------------------------------
  // Exact distributed scans
  // ---------------------------------------------------------------------

  /** pandas ewm(span, adjust=True).mean() — exact, distributed.
    *
    * With `keyCols`, the per-key recursion rides ONE range-partitioned
    * global scan ordered by (keyCols, ts, id) with reset-at-key-boundary
    * coefficients (a=0 annihilates the previous key's state — resets are
    * affine, so the cross-partition composition stays exact). This is the
    * SKEW-IMMUNE keyed layout: a heavy-hitter symbol splits across range
    * partitions and parallelizes WITHIN the key, where the per-key-shuffle
    * layout (Scan.seqDouble) would serialize the whole key on one task.
    */
  def ewmaExact(df: DataFrame, valueCol: String, span: Int,
                out: String = "ewma", numParts: Int = 0,
                keyCols: Seq[String] = Nil): DataFrame = {
    val q = 1.0 - 2.0 / (span + 1.0)
    val vIdx = df.schema.fieldIndex(valueCol)
    val newKey = Scan.keyChanged(df.schema, keyCols)
    Scan.affine(
      df, keyCols ++ Seq("ts", "id"), nStates = 2,
      coefs = (r, prev) => {
        // null/NaN rows decay both sums without contributing (pandas
        // ignore_na=False adjust=True semantics; getDouble throws on null)
        val y = if (r.isNullAt(vIdx)) Double.NaN else r.getDouble(vIdx)
        val nan = java.lang.Double.isNaN(y)
        if (newKey(r, prev)) {
          if (nan) Array(Affine(0.0, 0.0), Affine(0.0, 0.0))
          else Array(Affine(0.0, y), Affine(0.0, 1.0))
        }
        else if (nan) Array(Affine(q, 0.0), Affine(q, 0.0))
        else Array(Affine(q, y), Affine(q, 1.0))
      },
      init = Array(0.0, 0.0),
      emit = (s, _) => if (s(1) <= 0.0) Double.NaN else s(0) / s(1),
      outName = out, numParts = numParts)
  }

  /** pandas ewm(span, adjust=True).std() (bias=False) — exact, distributed. */
  def ewmsExact(df: DataFrame, valueCol: String, span: Int,
                out: String = "ewms", numParts: Int = 0,
                keyCols: Seq[String] = Nil): DataFrame = {
    val q = 1.0 - 2.0 / (span + 1.0)
    val vIdx = df.schema.fieldIndex(valueCol)
    val newKey = Scan.keyChanged(df.schema, keyCols)
    Scan.affine(
      df, keyCols ++ Seq("ts", "id"), nStates = 4,
      coefs = (r, prev) => {
        val y = if (r.isNullAt(vIdx)) Double.NaN else r.getDouble(vIdx)
        val (w, wy, wyy) = if (java.lang.Double.isNaN(y)) (0.0, 0.0, 0.0) else (1.0, y, y * y)
        // reset-at-key-boundary (see ewmaExact): a=0 annihilates the
        // previous key's state, keeping the range-partitioned scan exact
        // and skew-immune under heavy-hitter keys
        if (newKey(r, prev))
          Array(Affine(0.0, w), Affine(0.0, w), Affine(0.0, wy), Affine(0.0, wyy))
        else
          Array(Affine(q, w), Affine(q * q, w), Affine(q, wy), Affine(q, wyy))
      },
      init = Array(0.0, 0.0, 0.0, 0.0),
      emit = (s, _) => {
        val (sw, sw2, sy, syy) = (s(0), s(1), s(2), s(3))
        if (sw <= 0.0) Double.NaN
        else {
          val mean = sy / sw
          val denom = sw - sw2 / sw
          if (denom <= 0.0) Double.NaN
          else math.sqrt(math.max((syy / sw - mean * mean) * sw / denom, 0.0))
        }
      },
      outName = out, numParts = numParts)
  }

  /** Time-decay EW std with α_t = 1 − exp(−Δt/halfLife), adjust=True
    * bias=False, σ floor — `ewmst` (core/volatility.py:139-219). The decay
    * coefficient depends on the PREVIOUS row's timestamp: Scan.affine hands
    * the true neighbor across partition boundaries, keeping it exact.
    */
  def ewmstExact(df: DataFrame, valueCol: String, halfLifeSec: Double,
                 sigmaFloor: Double = 1e-12, out: String = "ewmst",
                 numParts: Int = 0): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    val tIdx = df.schema.fieldIndex("ts")
    Scan.affine(
      df, Seq("ts", "id"), nStates = 4,
      coefs = (r, prev) => {
        if (prev == null) {
          // first row overall: no Δt — state stays at init (a=1, b=0)
          Array.fill(4)(Affine(1.0, 0.0))
        } else {
          val dt = (r.getLong(tIdx) - prev.getLong(tIdx)) / 1e9
          val alpha = 1.0 - math.exp(-dt / halfLifeSec)
          val om = 1.0 - alpha
          // null value (e.g. log of a zero/invalid print) = NaN row:
          // decays the state without contributing, like the reference's
          // NaN handling (getDouble throws on null)
          val y = if (r.isNullAt(vIdx)) Double.NaN else r.getDouble(vIdx)
          if (java.lang.Double.isNaN(y))
            Array(Affine(om, 0.0), Affine(om * om, 0.0), Affine(om, 0.0), Affine(om, 0.0))
          else
            Array(Affine(om, alpha), Affine(om * om, alpha * alpha),
                  Affine(om, alpha * y), Affine(om, alpha * y * y))
        }
      },
      init = Array(0.0, 0.0, 0.0, 0.0),
      emit = (s, r) => {
        val (v, v2, sy, syy) = (s(0), s(1), s(2), s(3))
        if (v <= 0.0) Double.NaN
        else {
          val mean = sy / v
          val varRaw = syy / v - mean * mean
          val denom = v - v2 / v
          val vr = if (denom > 0.0 && varRaw > 0.0) varRaw * (v / denom) else 0.0
          math.max(math.sqrt(vr), sigmaFloor)
        }
      },
      outName = out, numParts = numParts)
  }

  /** Zero-mean time-decay EW std — `ewmst_mean0`
    * (core/volatility.py:72-136): σ_t² = U_t/V_t with
    * U_t = α_t·y_t² + (1−α_t)·U_{t−1}, V_t = α_t + (1−α_t)·V_{t−1},
    * α_t = 1 − exp(−Δt/halfLife); NaN/null y rows decay both states
    * without contributing. First row (no Δt) emits NaN.
    */
  def ewmstMean0Exact(df: DataFrame, valueCol: String, halfLifeSec: Double,
                      sigmaFloor: Double = 1e-12, out: String = "ewmst0",
                      numParts: Int = 0): DataFrame = {
    val vIdx = df.schema.fieldIndex(valueCol)
    val tIdx = df.schema.fieldIndex("ts")
    Scan.affine(
      df, Seq("ts", "id"), nStates = 2,
      coefs = (r, prev) => {
        if (prev == null) {
          Array.fill(2)(Affine(1.0, 0.0))
        } else {
          val dt = (r.getLong(tIdx) - prev.getLong(tIdx)) / 1e9
          val alpha = 1.0 - math.exp(-dt / halfLifeSec)
          val om = 1.0 - alpha
          val y = if (r.isNullAt(vIdx)) Double.NaN else r.getDouble(vIdx)
          if (java.lang.Double.isNaN(y)) Array(Affine(om, 0.0), Affine(om, 0.0))
          else Array(Affine(om, alpha * y * y), Affine(om, alpha))
        }
      },
      init = Array(0.0, 0.0),
      emit = (s, _) => {
        val (u, v) = (s(0), s(1))
        if (v <= 0.0) Double.NaN
        else math.max(math.sqrt(math.max(u / v, 0.0)), sigmaFloor)
      },
      outName = out, numParts = numParts)
  }

  /** [[ewmstMean0Exact]] over log-returns of `priceCol`, with the return
    * computed INSIDE the scan from the previous row (the kernel already
    * receives it for the Δt decay) — no global lag window, so the one
    * remaining single-partition pass of the ewmst0 pipeline disappears.
    * Row 1 has no Δt and no return: identity, exactly like feeding a
    * NULL first `y` to [[ewmstMean0Exact]].
    */
  def ewmstMean0LogRet(df: DataFrame, priceCol: String, halfLifeSec: Double,
                       sigmaFloor: Double = 1e-12, out: String = "ewmst0",
                       numParts: Int = 0): DataFrame = {
    val pIdx = df.schema.fieldIndex(priceCol)
    val tIdx = df.schema.fieldIndex("ts")
    Scan.affine(
      df, Seq("ts", "id"), nStates = 2,
      coefs = (r, prev) => {
        if (prev == null) {
          Array.fill(2)(Affine(1.0, 0.0))
        } else {
          val dt = (r.getLong(tIdx) - prev.getLong(tIdx)) / 1e9
          val alpha = 1.0 - math.exp(-dt / halfLifeSec)
          val om = 1.0 - alpha
          val p = if (r.isNullAt(pIdx)) Double.NaN else r.getDouble(pIdx)
          val p0 = if (prev.isNullAt(pIdx)) Double.NaN else prev.getDouble(pIdx)
          val y = math.log(p / p0) // NaN/±Inf on invalid prints
          if (java.lang.Double.isNaN(y) || java.lang.Double.isInfinite(y))
            Array(Affine(om, 0.0), Affine(om, 0.0))
          else Array(Affine(om, alpha * y * y), Affine(om, alpha))
        }
      },
      init = Array(0.0, 0.0),
      emit = (s, _) => {
        val (u, v) = (s(0), s(1))
        if (v <= 0.0) Double.NaN
        else math.max(math.sqrt(math.max(u / v, 0.0)), sigmaFloor)
      },
      outName = out, numParts = numParts)
  }

  // ---------------------------------------------------------------------
  // Windowed (oracle-checkable) Column variants
  // ---------------------------------------------------------------------

  /** Truncated-window EWMA as a pure Column expression: a K-row collected
    * frame folded with weights q^(K−1−i). Matches the exact recursion to
    * ~q^K relative error, so K must grow with the span: q^400 ≈ 4e-18 at
    * span 20 but 3e-4 at span 100. [[ewmaWindowK]] gives the K that holds
    * 1e-9 at any span; callers state K explicitly.
    *
    * NULL semantics caveat: collect_list drops nulls, so a null inside
    * the frame re-indexes the weights over the SURVIVORS — pandas
    * `ignore_na=True` — whereas [[ewma]]'s exact scan implements
    * `ignore_na=False` (a null row still decays the sums). The two agree
    * exactly on null-free input (every gate); feed null-bearing series
    * through the exact scan when the distinction matters.
    */
  def ewmaWindowed(c: Column, span: Int, k: Int,
                   p: Seq[String] = Nil): Column =
    ewmaOverFrame(c, span, k, Features.w(p))

  private def ewmaOverFrame(c: Column, span: Int, k: Int,
                            w0: org.apache.spark.sql.expressions.WindowSpec)
      : Column = {
    val q = 1.0 - 2.0 / (span + 1.0)
    val arr = collect_list(c).over(w0.rowsBetween(-(k - 1), 0))
    val u = aggregate(
      transform(arr, (y, i) => y * pow(lit(q), size(arr) - 1 - i)),
      lit(0.0), (acc, x) => acc + x)
    // v = sum_{j=0}^{m-1} q^j in closed form
    val v = (lit(1.0) - pow(lit(q), size(arr))) / lit(1.0 - q)
    u / v
  }

  /** Truncation depth at which the windowed EWMA matches the exact
    * recursion through 1e-6 output rounding: the dropped tail mass is
    * q^K, and q^K < 1e-9 needs K ≈ 10.4·span (K = 400 suffices only for
    * span ≤ ~38 — the "q^400 ≈ 4e-18" margin is a span-20 number).
    */
  def ewmaWindowK(span: Int): Int = math.max(64, math.ceil(10.4 * span).toInt)

  /** Keyed EWMA through the per-key WINDOW tier: whole-stage-codegen
    * HOF fold over a truncated per-key frame — each key's stream
    * serializes on one task (the Weights-sweep window-tier layout), and
    * every row pays O(K = [[ewmaWindowK]]) fused multiply-adds where the
    * reset-affine scan pays O(1). Exact to < 1e-9 relative (below the
    * 1e-6 oracle rounding) on null-free input.
    */
  def ewmaWindowedKeyed(df: DataFrame, valueCol: String, span: Int,
                        out: String = "ewma", keyCols: Seq[String] = Nil,
                        orderCols: Seq[String] = Seq("ts", "id")): DataFrame = {
    val w0 = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(orderCols.map(col): _*)
    df.withColumn(out,
      ewmaOverFrame(col(valueCol), span, ewmaWindowK(span), w0))
  }

  /** Keyed EWMA with AUTO tier selection — the EW-family twin of the
    * Weights sweeps' `skewSafe = None` (r12 verdict ask #2):
    *
    *  - `Some(true)` → [[ewmaExact]]'s reset-affine range-partitioned
    *    scan: O(1)/row, a heavy-hitter key parallelizes WITHIN the key;
    *  - `Some(false)` → [[ewmaWindowedKeyed]]'s per-key codegen window:
    *    O(ewmaWindowK(span))/row, each key serialized on one task;
    *  - `None` → the MEASURED answer, which for the EW family is the
    *    scan tier at any realistic span: unlike the Weights sweeps
    *    (O(1)/row window work — window wins even at 78%-on-one-key), the
    *    EW window tier pays a ~10.4·span-element HOF fold per row.
    *    SKEW_SCALING r13 (400k rows, 32 cores, span 100): window tier
    *    73.3 s uniform / 143.8 s skew vs the scan's 1.80 / 0.62 —
    *    40–230×; scaling the fold linearly in K, the window only breaks
    *    even below span ≈ 1, and r11's seq-vs-affine line already had
    *    the scan beating the per-key SHUFFLE layout 2×/19×. So `None`
    *    takes the scan without spending a probe. The crossover is left
    *    overridable (`spark.graft.ewm.windowTierMaxSpan`, default 0):
    *    spans at or under it probe key occupancy through the shared
    *    cached [[Scan.SkewProbe]] (one probe per (plan, keys) per chain)
    *    and pick the window tier on even keys — the hook for a deployment
    *    whose own measurement disagrees, and the spec's cache harness.
    */
  def ewmaKeyed(df: DataFrame, valueCol: String, span: Int,
                out: String = "ewma", keyCols: Seq[String] = Nil,
                orderCols: Seq[String] = Seq("ts", "id"),
                skewSafe: Option[Boolean] = None): DataFrame = {
    require(keyCols.nonEmpty, "ewmaKeyed is the keyed entry point")
    val safe = skewSafe.getOrElse {
      val spanCap = sys.props.get("spark.graft.ewm.windowTierMaxSpan")
        .map(_.toInt).getOrElse(0)
      val s =
        if (span > spanCap) true
        else {
          val cores = math.max(1,
            df.sparkSession.sparkContext.defaultParallelism)
          val factor = sys.props.get("spark.graft.weights.autoTierFactor")
            .map(_.toLong).getOrElse(48L)
          val (mx, n) = Scan.SkewProbe.occupancy(df, keyCols)
          mx > factor * n / cores
        }
      Scan.SkewProbe.lastAutoSkewSafe = Some(s)
      s
    }
    if (safe) ewmaExact(df, valueCol, span, out, keyCols = keyCols)
    else ewmaWindowedKeyed(df, valueCol, span, out, keyCols, orderCols)
  }

  /** Exact seeded Wilder RSI (core/momentum.py:25-65): seed = simple mean of
    * the first w gains/losses, then avg' = ((w−1)avg + x)/w;
    * NaN before row w and whenever avg_loss = 0.
    */
  def rsiExact(df: DataFrame, closeCol: String, w: Int,
               orderCols: Seq[String], out: String = "rsi",
               keyCols: Seq[String] = Nil): DataFrame =
    Scan.seqDouble(df, orderCols, out, keyCols) { (schema, rows) =>
      val cIdx = schema.fieldIndex(closeCol)
      var i = -1
      var prev = Double.NaN
      var sumG = 0.0
      var sumL = 0.0
      var avgG = Double.NaN
      var avgL = Double.NaN
      rows.map { r =>
        val c = r.getDouble(cIdx)
        i += 1
        val v =
          if (i == 0) Double.NaN
          else {
            val d = c - prev
            if (i <= w) {
              if (d > 0) sumG += d else sumL += -d
              if (i == w) {
                avgG = sumG / w; avgL = sumL / w
                if (avgL > 0) 100.0 - 100.0 / (1.0 + avgG / avgL) else Double.NaN
              } else Double.NaN
            } else {
              val g = if (d > 0) d else 0.0
              val l = if (d < 0) -d else 0.0
              avgG = ((w - 1) * avgG + g) / w
              avgL = ((w - 1) * avgL + l) / w
              if (avgL > 0) 100.0 - 100.0 / (1.0 + avgG / avgL) else Double.NaN
            }
          }
        prev = c
        (r, v)
      }
    }

  /** Exact Wilder-smoothed ATR: TR per row, seed = SMA of the first w TRs,
    * then ((w−1)·atr + tr)/w (core/volatility.py:352-437, EMA flavor).
    */
  def atrWilderExact(df: DataFrame, w: Int, orderCols: Seq[String],
                     out: String = "atr",
                     keyCols: Seq[String] = Nil): DataFrame =
    Scan.seqDouble(df, orderCols, out, keyCols) { (schema, rows) =>
      val hIdx = schema.fieldIndex("high")
      val lIdx = schema.fieldIndex("low")
      val cIdx = schema.fieldIndex("close")
      var i = -1
      var prevClose = Double.NaN
      var acc = 0.0
      var atr = Double.NaN
      rows.map { r =>
        val (h, l, c) = (r.getDouble(hIdx), r.getDouble(lIdx), r.getDouble(cIdx))
        i += 1
        val tr = if (i == 0) h - l
          else math.max(h - l, math.max(math.abs(h - prevClose), math.abs(l - prevClose)))
        val v =
          if (i < w - 1) { acc += tr; Double.NaN }
          else if (i == w - 1) { acc += tr; atr = acc / w; atr }
          else { atr = ((w - 1) * atr + tr) / w; atr }
        prevClose = c
        (r, v)
      }
    }

  /** Exact ADX (core/trend.py:8-96): Wilder-smoothed TR/±DM sums → DI → DX
    * → Wilder-smoothed ADX (zeros before warm-up, like the reference).
    */
  def adxExact(df: DataFrame, len: Int, orderCols: Seq[String],
               out: String = "adx",
               keyCols: Seq[String] = Nil): DataFrame =
    Scan.seqDouble(df, orderCols, out, keyCols) { (schema, rows) =>
      val hIdx = schema.fieldIndex("high")
      val lIdx = schema.fieldIndex("low")
      val cIdx = schema.fieldIndex("close")
      var i = -1
      var prevH, prevL, prevC = Double.NaN
      var sTr, sPdm, sMdm = 0.0
      var dxAcc = 0.0
      var adx = 0.0
      rows.map { r =>
        val (h, l, c) = (r.getDouble(hIdx), r.getDouble(lIdx), r.getDouble(cIdx))
        i += 1
        var dx = 0.0
        if (i >= 1) {
          val tr = math.max(h - l, math.max(math.abs(h - prevC), math.abs(l - prevC)))
          val hd = h - prevH
          val ld = prevL - l
          val pdm = if (hd > ld && hd > 0) hd else 0.0
          val mdm = if (ld > hd && ld > 0) ld else 0.0
          if (i <= len) {
            sTr += tr; sPdm += pdm; sMdm += mdm
          } else {
            sTr = sTr - sTr / len + tr
            sPdm = sPdm - sPdm / len + pdm
            sMdm = sMdm - sMdm / len + mdm
          }
          if (i >= len && sTr > 0) {
            val pdi = 100.0 * sPdm / sTr
            val mdi = 100.0 * sMdm / sTr
            if (pdi + mdi > 0) dx = 100.0 * math.abs(pdi - mdi) / (pdi + mdi)
          }
        }
        val v =
          if (i >= len && i <= 2 * len - 1) {
            dxAcc += dx
            if (i == 2 * len - 1) { adx = dxAcc / len; adx } else 0.0
          } else if (i >= 2 * len) {
            adx = (adx * (len - 1) + dx) / len
            adx
          } else 0.0
        prevH = h; prevL = l; prevC = c
        (r, v)
      }
    }
}
