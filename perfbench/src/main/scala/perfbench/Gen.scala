package perfbench

import java.io.{BufferedWriter, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. Each writes text bytes that depend only on the
  * seed and the size arguments (no locale, no clock), so the same seed
  * gives byte-identical inputs. One generator runs at a time, on the
  * calling thread.
  */
object Gen {

  /** Fixed-point decimal text of `units / 10^decimals`, locale-free. */
  def fixed(units: Long, decimals: Int): String = {
    if (decimals == 0) return units.toString
    val neg = units < 0
    val a = math.abs(units)
    val scale = math.pow(10, decimals).toLong
    val frac = (a % scale).toString
    (if (neg) "-" else "") + (a / scale) + "." + ("0" * (decimals - frac.length)) + frac
  }

  private def writer(out: OutputStream) =
    new BufferedWriter(new OutputStreamWriter(out, UTF_8), 1 << 16)

  /** Log-price random walk with two volatility regimes: every 5000 steps,
    * 1500 volatile steps follow 3500 calm ones, so CUSUM fires in bursts and
    * every barrier kind gets touched. The regime clock is fixed (the seed
    * moves only the path), which keeps the work per run alike across seeds.
    * Prices are whole cents.
    */
  final class Walk(rng: SplittableRandom, startPx: Double,
                   calm: Double = 2e-4, volatile: Double = 1.2e-3) {
    private var logPx = math.log(startPx)
    private var step = 0L
    def nextCents(): Long = {
      val hot = step % 5000 >= 3500
      step += 1
      logPx += gauss(rng) * (if (hot) volatile else calm)
      math.max(1L, math.round(math.exp(logPx) * 100.0))
    }
  }

  def gauss(rng: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (no shared java.util.Random state)
    val u1 = math.max(rng.nextDouble(), 1e-300)
    val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Trade size in thousandths, heavy-tailed. */
  def qtyMilli(rng: SplittableRandom): Long =
    1L + math.floor(-math.log(math.max(rng.nextDouble(), 1e-300)) * 800.0).toLong

  /** Summary a trade generator hands back for the output checks. */
  final case class TradeInfo(rows: Long, bytes: Long, tsBySymbol: Map[Long, Array[Long]],
                             qtyMilliBySymbol: Map[Long, Long])

  private final class Counting(out: OutputStream) extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = { out.write(b); n += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); n += len
    }
    override def flush(): Unit = out.flush()
  }

  /** One continuous single-symbol series as a Binance aggTrades CSV dump
    * (id, price, qty, quoteQty, time ms, isBuyerMaker, isBestMatch), no
    * header. `meanDtMs` sets the span: n·meanDtMs.
    */
  def seriesCsv(seed: Long, n: Int, meanDtMs: Double, out: OutputStream): TradeInfo = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val walk = new Walk(rng, 100.0)
    val cnt = new Counting(out)
    val w = writer(cnt)
    val ts = new Array[Long](n)
    var tMs = 1704067200000L // 2024-01-01T00:00Z
    var qtot = 0L
    var i = 0
    while (i < n) {
      tMs += math.floor(-math.log(math.max(rng.nextDouble(), 1e-300)) * meanDtMs).toLong
      val px = walk.nextCents()
      val q = qtyMilli(rng)
      qtot += q
      w.write(s"${i + 1},${fixed(px, 2)},${fixed(q, 3)},0,$tMs,${rng.nextBoolean()},true\n")
      ts(i) = tMs * 1000000L
      i += 1
    }
    w.flush()
    TradeInfo(n, cnt.n, Map(0L -> ts), Map(0L -> qtot))
  }

  /** Per-symbol trade counts: symbol 0 holds `heavyShare` of `n`, the rest
    * follow a Zipf(1.1) law over ranks 1..symbols-1 (at least 20 each).
    */
  def zipfCounts(n: Int, symbols: Int, heavyShare: Double): Array[Int] = {
    val heavy = math.round(n * heavyShare).toInt
    val w = (1 until symbols).map(r => 1.0 / math.pow(r, 1.1))
    val tot = w.sum
    val rest = w.map(x => math.max(20, math.floor((n - heavy) * x / tot).toInt))
    (heavy +: rest).toArray
  }

  /** Multi-symbol trades over a common time span as CSV with a header
    * (symbol, id, ts ns, price, qty); symbol counts from [[zipfCounts]].
    */
  def symbolsCsv(seed: Long, n: Int, symbols: Int, heavyShare: Double,
                 spanMs: Long, out: OutputStream): TradeInfo = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val counts = zipfCounts(n, symbols, heavyShare)
    val cnt = new Counting(out)
    val w = writer(cnt)
    w.write("symbol,id,ts,price,qty\n")
    var id = 1L
    val tsBy = Map.newBuilder[Long, Array[Long]]
    val qBy = Map.newBuilder[Long, Long]
    counts.zipWithIndex.foreach { case (c, s) =>
      val walk = new Walk(rng, 20.0 + 5.0 * (s % 40))
      val meanDt = spanMs.toDouble / c
      val ts = new Array[Long](c)
      var tMs = 1704067200000L
      var qtot = 0L
      var i = 0
      while (i < c) {
        tMs += math.floor(-math.log(math.max(rng.nextDouble(), 1e-300)) * meanDt).toLong
        val px = walk.nextCents()
        val q = qtyMilli(rng)
        qtot += q
        w.write(s"$s,$id,${tMs * 1000000L},${fixed(px, 2)},${fixed(q, 3)}\n")
        ts(i) = tMs * 1000000L
        id += 1; i += 1
      }
      tsBy += s.toLong -> ts
      qBy += s.toLong -> qtot
    }
    w.flush()
    TradeInfo(counts.map(_.toLong).sum, cnt.n, tsBy.result(), qBy.result())
  }

  /** Open-loop trade feed: file k covers event time
    * [eventStart + k·eventPerFile, eventStart + (k+1)·eventPerFile) with
    * `rowsPerFile` trades spread over `symbols` symbols (symbol 0 heavy).
    * Files are CSV with a header (ts ns, id, price, qty, symbol).
    */
  final class Feed(seed: Long, symbols: Int, rowsPerFile: Int,
                   eventPerFileNs: Long, heavyShare: Double) {
    val eventStartNs: Long = 1704067200000000000L
    private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    private val walks = Array.tabulate(symbols)(s => new Walk(rng, 50.0 + s))
    /** Cumulative symbol shares: symbol 0 `heavyShare`, the rest Zipf(1.1). */
    private val cum = {
      val zipf = (1 until symbols).map(r => 1.0 / math.pow(r, 1.1))
      val w = heavyShare +: zipf.map(_ * (1.0 - heavyShare) / zipf.sum)
      w.scanLeft(0.0)(_ + _).tail.toArray
    }
    private var nextId = 1L
    /** (first id, last id) and symbol-0 (min ts, max ts) of each file. */
    val files = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()

    def file(k: Int): Array[Byte] = {
      require(k == files.length, "feed files are generated in order")
      val lo = eventStartNs + k * eventPerFileNs
      val ts = Array.fill(rowsPerFile)(lo + (rng.nextDouble() * eventPerFileNs).toLong).sorted
      val sb = new StringBuilder("ts,id,price,qty,symbol\n")
      val first = nextId
      var min0 = Long.MaxValue
      var max0 = Long.MinValue
      ts.foreach { t =>
        val u = rng.nextDouble()
        var s = 0
        while (s < symbols - 1 && cum(s) < u) s += 1
        if (s == 0) { min0 = math.min(min0, t); max0 = math.max(max0, t) }
        sb.append(t).append(',').append(nextId).append(',')
          .append(fixed(walks(s).nextCents(), 2)).append(',')
          .append(fixed(qtyMilli(rng), 3)).append(',').append(s).append('\n')
        nextId += 1
      }
      files += ((first, nextId - 1, min0, max0))
      sb.toString.getBytes(UTF_8)
    }
  }

  // -------------------------------------------------------------------
  // documents and embeddings
  // -------------------------------------------------------------------

  private val enStop = Seq("the", "a", "an", "and", "of", "to", "is", "in")
  private val frStop = Seq("le", "la", "et", "les", "des", "est", "un", "en")
  private val reserved = graft.text.TextOps.stopwords.values.flatten.toSet

  val boilerplate: Seq[String] =
    ("this website uses cookies to improve your experience please accept the " +
      "terms of service and the privacy policy all rights reserved copyright " +
      "notice applies to every page of this site contact support for " +
      "assistance with account access and billing questions").split(" ").toSeq

  /** Sizes and planted shares of one corpus. */
  final case class CorpusInfo(docs: Int, batches: Int, bytes: Long,
                              nearDupShare: Double, boilerShare: Double,
                              twins: Seq[(Long, Long)])

  /** Corpus batches: per batch one TSV of (doc_id, text) and one CSV of
    * (vec_id, ';'-joined embedding). Doc classes: fresh English text,
    * near-duplicates (1-2 token edits) and exact copies of earlier docs, a
    * boilerplate mega-cluster (fixed template + one unique token),
    * low-quality and French docs the quality filter drops. 3% of vectors
    * are exact twins of an earlier fresh doc's vector.
    */
  def corpus(seed: Long, batches: Int, docsPerBatch: Int, dim: Int,
             docsOut: Int => OutputStream, embOut: Int => OutputStream): CorpusInfo = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 4)
    val vocab = {
      val b = scala.collection.mutable.LinkedHashSet[String]()
      while (b.size < 6000) {
        val len = 3 + rng.nextInt(7)
        val w = new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
        if (!reserved(w)) b += w
      }
      b.toIndexedSeq
    }
    val centers = Array.fill(16, dim)(gauss(rng))
    val fresh = scala.collection.mutable.ArrayBuffer[(Long, Array[String], Array[Double])]()
    val twins = Seq.newBuilder[(Long, Long)]
    var bytes = 0L
    var uniq = 0L
    def word(): String = if (rng.nextDouble() < 0.28) enStop(rng.nextInt(enStop.length))
      else vocab(rng.nextInt(vocab.length))
    (0 until batches).foreach { b =>
      val dw = writer(docsOut(b))
      val ew = writer(embOut(b))
      dw.write("doc_id\ttext\n")
      ew.write("vec_id,vec\n")
      (0 until docsPerBatch).foreach { i =>
        val id = b.toLong * 1000000L + i
        val u = rng.nextDouble()
        val c = centers(rng.nextInt(centers.length))
        var vec = Array.tabulate(dim)(d => c(d) + 0.35 * gauss(rng))
        val toks: Array[String] =
          if (u < 0.10 && fresh.nonEmpty) { // near-duplicate of an earlier doc
            val src = fresh(rng.nextInt(fresh.length))._2.clone()
            src(rng.nextInt(src.length)) = vocab(rng.nextInt(vocab.length))
            src :+ vocab(rng.nextInt(vocab.length))
          } else if (u < 0.15 && fresh.nonEmpty) // exact copy
            fresh(rng.nextInt(fresh.length))._2
          else if (u < 0.20) { // boilerplate mega-cluster
            uniq += 1
            (boilerplate :+ s"ref${uniq}x").toArray
          } else if (u < 0.27) // low quality: digits and symbols
            Array.fill(4 + rng.nextInt(8))(
              if (rng.nextBoolean()) rng.nextInt(100000).toString else "#$%")
          else if (u < 0.29) // French
            Array.fill(40 + rng.nextInt(40))(
              if (rng.nextDouble() < 0.4) frStop(rng.nextInt(frStop.length))
              else vocab(rng.nextInt(vocab.length)))
          else {
            val t = Array.fill(40 + rng.nextInt(80))(word())
            if (rng.nextDouble() < 0.03 && fresh.nonEmpty) {
              val o = fresh(rng.nextInt(fresh.length))
              vec = o._3
              twins += ((id, o._1))
            }
            fresh += ((id, t, vec))
            t
          }
        val line = s"$id\t${toks.mkString(" ")}\n"
        dw.write(line)
        val v = vec.map(x => fixed(math.round(x * 1e6), 6)).mkString(";")
        ew.write(s"$id,$v\n")
        bytes += line.length + v.length
      }
      dw.flush(); ew.flush()
    }
    CorpusInfo(batches * docsPerBatch, batches, bytes, 0.15, 0.05, twins.result())
  }
}
