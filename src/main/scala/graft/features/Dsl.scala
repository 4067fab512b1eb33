package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{greatest, least, lit}
import org.apache.spark.sql.{functions => F}

/** The feature-pipeline DSL (SURVEY.md §2.10) — the Spark-native equivalent
  * of the reference's `Feature`/`FeatureKit` surface (feature/kit.py:13-461,
  * 724-1085) and its JSON pipeline serialization (feature/kit.py:959-979,
  * feature/utils.py:132-303).
  *
  * A [[FSpec]] is a pure value tree; [[Dsl.build]] runs a pipeline as ONE
  * typed ordered pass ([[RollKernel]]): every built-in window node becomes
  * a ring-buffer slot of a single `mapPartitions` over the bars laid out by
  * bar_ts (range partitions with a preview of the preceding rows when
  * unkeyed, key runs when keyed), evaluated in dependency order and shared
  * by every feature that uses it — the job the reference hand-rolls with
  * its name-keyed column cache and Kahn topological sort
  * (feature/kit.py:985-1012). Element-wise nodes and registered calls stay
  * Catalyst expressions, so their null and ANSI semantics are Spark's.
  * Output names reproduce the reference's auto-naming convention
  * (`close_sma_20`, `add(x,y)`; feature/base.py:485-492,1262) so a
  * name-keyed cache contract survives.
  *
  * JSON codec is hand-rolled over a minimal recursive grammar — no
  * reflection, no external libraries; [[Dsl.fromJson]] inverts
  * [[Dsl.toJson]] exactly (round-trip tested in DslSpec).
  */
sealed trait FSpec

object FSpec {
  case class FCol(col: String) extends FSpec
  case class FConst(v: Double) extends FSpec {
    // NaN/Infinity serialize as bare invalid-JSON tokens — same rule FCall
    // enforces for its numeric params; reject at construction so toJson
    // output always round-trips
    require(!v.isNaN && !v.isInfinite, s"FConst must be finite, got $v")
  }
  /** abs / log / log1p / sqrt / neg */
  case class FUnary(op: String, x: FSpec) extends FSpec
  /** add / sub / mul / div / min / max */
  case class FBinary(op: String, a: FSpec, b: FSpec) extends FSpec
  case class FClip(x: FSpec, lo: Double, hi: Double) extends FSpec {
    require(!lo.isNaN && !lo.isInfinite && !hi.isNaN && !hi.isInfinite,
      s"FClip bounds must be finite, got [$lo, $hi]")
  }
  case class FLag(x: FSpec, n: Int) extends FSpec
  /** n-period return, simple or log */
  case class FRet(x: FSpec, n: Int, isLog: Boolean) extends FSpec
  /** sma / std / min / max / median / ewma / zscore / burst over n rows */
  case class FRoll(op: String, x: FSpec, n: Int) extends FSpec
  /** named function from [[Dsl.register]]/[[Dsl.registerParam]]/
    * [[Dsl.registerExt]]/[[Dsl.registerExtFull]] — the `ExternalFunction`
    * equivalent (transforms.py:1668-1805): serialized by registry name plus
    * its positional numeric args, named numeric kwargs and named STRING
    * kwargs (the reference serializes arbitrary kwargs incl. string enums
    * like mode flags, feature/utils.py:132-303), over one or more input
    * specs (the reference passes multiple `input_cols` as positional
    * arguments, transforms.py:1770-1780), so a parameterized multi-input
    * call round-trips through JSON like the reference's pipeline configs.
    * `kwargs`/`skwargs` are ordered Seqs so the JSON form is deterministic.
    *
    * Numeric parameters must be FINITE: Double.toString renders NaN/±Inf
    * as bare unquoted tokens — invalid JSON that would fail toJson's own
    * round-trip — so non-finite values are rejected at construction.
    */
  case class FCall(fn: String, xs: Seq[FSpec], args: Seq[Double] = Nil,
                   kwargs: Seq[(String, Double)] = Nil,
                   skwargs: Seq[(String, String)] = Nil) extends FSpec {
    require((args ++ kwargs.map(_._2)).forall(v => !v.isNaN && !v.isInfinite),
      s"FCall($fn): NaN/Infinity parameters cannot round-trip through JSON " +
        s"(args=$args, kwargs=$kwargs)")
  }
}

/** User-facing wrapper with the reference's operator surface. */
case class Feature(spec: FSpec) {
  import FSpec._
  def +(o: Feature): Feature = Feature(FBinary("add", spec, o.spec))
  def -(o: Feature): Feature = Feature(FBinary("sub", spec, o.spec))
  def *(o: Feature): Feature = Feature(FBinary("mul", spec, o.spec))
  def /(o: Feature): Feature = Feature(FBinary("div", spec, o.spec))
  def min(o: Feature): Feature = Feature(FBinary("min", spec, o.spec))
  def max(o: Feature): Feature = Feature(FBinary("max", spec, o.spec))
  def abs: Feature = Feature(FUnary("abs", spec))
  def log: Feature = Feature(FUnary("log", spec))
  def log1p: Feature = Feature(FUnary("log1p", spec))
  def sqrt: Feature = Feature(FUnary("sqrt", spec))
  def clip(lo: Double, hi: Double): Feature = Feature(FClip(spec, lo, hi))
  def lag(n: Int): Feature = Feature(FLag(spec, n))
  def ret(n: Int = 1): Feature = Feature(FRet(spec, n, isLog = false))
  def logRet(n: Int = 1): Feature = Feature(FRet(spec, n, isLog = true))
  def sma(n: Int): Feature = Feature(FRoll("sma", spec, n))
  def rollStd(n: Int): Feature = Feature(FRoll("std", spec, n))
  def rollMin(n: Int): Feature = Feature(FRoll("min", spec, n))
  def rollMax(n: Int): Feature = Feature(FRoll("max", spec, n))
  def rollMedian(n: Int): Feature = Feature(FRoll("median", spec, n))
  def ewma(span: Int): Feature = Feature(FRoll("ewma", spec, span))
  def zscore(n: Int): Feature = Feature(FRoll("zscore", spec, n))
  def burst(n: Int): Feature = Feature(FRoll("burst", spec, n))
  def call(fn: String, args: Double*): Feature =
    Feature(FCall(fn, Seq(spec), args.toSeq))
  def callKw(fn: String, kwargs: (String, Double)*): Feature =
    Feature(FCall(fn, Seq(spec), Nil, kwargs.toSeq))
  def callStrKw(fn: String, skwargs: (String, String)*): Feature =
    Feature(FCall(fn, Seq(spec), Nil, Nil, skwargs.toSeq))
  def name: String = Dsl.nameOf(spec)
}

object Dsl {
  import FSpec._

  def col(c: String): Feature = Feature(FCol(c))
  def const(v: Double): Feature = Feature(FConst(v))

  /** Named-function registry — the `ExternalFunction` surface: pipelines
    * serialize the NAME, the input specs, the positional numeric ARGS and
    * the named KWARGS (transforms.py:1668-1805); deserialization resolves
    * the name here, so a JSON plan only runs functions the receiving
    * engine explicitly registered, with the serialized parameters
    * re-applied.
    */
  private val registry = new java.util.concurrent.ConcurrentHashMap[
    String,
    (Seq[Column], Seq[Double], Map[String, Double], Map[String, String], Seq[String]) => Column]()

  /** Register a unary no-parameter function (serialized args/kwargs and
    * extra inputs are rejected loudly).
    */
  def register(name: String, f: Column => Column): Unit =
    registry.put(name, (cs, args, kw, skw, _) => {
      require(cs.length == 1 && args.isEmpty && kw.isEmpty && skw.isEmpty,
        s"DSL function '$name' is unary with no parameters, got " +
          s"${cs.length} inputs, args=$args, kwargs=$kw, skwargs=$skw")
      f(cs.head)
    })

  /** Register a unary function with positional numeric parameters. */
  def registerParam(name: String, f: (Column, Seq[Double]) => Column): Unit =
    registry.put(name, (cs, args, kw, skw, _) => {
      require(cs.length == 1 && kw.isEmpty && skw.isEmpty,
        s"DSL function '$name' is unary/positional, got ${cs.length} " +
          s"inputs, kwargs=$kw, skwargs=$skw")
      f(cs.head, args)
    })

  /** Multi-input numeric `ExternalFunction` form: multiple input columns
    * (positional, like the reference's `input_cols`), positional args,
    * named numeric kwargs. String kwargs are rejected — use
    * [[registerExtFull]] for functions taking string/enum parameters.
    */
  def registerExt(name: String,
      f: (Seq[Column], Seq[Double], Map[String, Double]) => Column): Unit =
    registry.put(name, (cs, args, kw, skw, _) => {
      require(skw.isEmpty,
        s"DSL function '$name' takes no string kwargs, got $skw")
      f(cs, args, kw)
    })

  /** The complete `ExternalFunction` call shape (transforms.py:1668-1805):
    * multiple input columns, positional numeric args, named numeric kwargs
    * AND named string kwargs (the reference accepts arbitrary kwargs — a
    * string enum such as a mode flag serializes with the call and
    * round-trips through the JSON pipeline config, feature/utils.py:132-303).
    */
  def registerExtFull(name: String,
      f: (Seq[Column], Seq[Double], Map[String, Double], Map[String, String]) => Column): Unit =
    registry.put(name, (cs, args, kw, skw, _) => f(cs, args, kw, skw))

  /** Windowed registration: like [[registerExtFull]] but the function
    * also receives the pipeline's partition columns (build's `p`), so
    * stateful/window transforms join the serializable surface with the
    * same keyed layout as the built-in rolls.
    */
  def registerWindowed(name: String,
      f: (Seq[Column], Seq[Double], Map[String, Double], Map[String, String], Seq[String]) => Column): Unit =
    registry.put(name, f)

  // Built-in windowed transforms beyond the FRoll grammar — registered
  // here so every engine instance resolves them without gate-side setup
  // (the reference ships its transform registry the same way,
  // feature/utils.py:132-303). zscore_peaks: the z_score_peak_filter
  // decision flag as a 0/1 double (Features.zScorePeaksCol), kwargs
  // n (window) and threshold.
  registerWindowed("zscore_peaks", (cs, args, kw, skw, p) => {
    require(cs.length == 1 && args.isEmpty && skw.isEmpty,
      s"zscore_peaks(x, n=, threshold=): got ${cs.length} inputs, " +
        s"args=$args, skwargs=$skw")
    Features.zScorePeaksCol(cs.head, kw("n").toInt, kw("threshold"), p)
  })

  /** Multi-input call builder (the `input_cols: Sequence[str]` shape). */
  def call(fn: String, inputs: Seq[Feature], args: Seq[Double] = Nil,
           kwargs: Seq[(String, Double)] = Nil,
           skwargs: Seq[(String, String)] = Nil): Feature =
    Feature(FCall(fn, inputs.map(_.spec), args, kwargs, skwargs))

  private def resolveCall(name: String)
      : (Seq[Column], Seq[Double], Map[String, Double], Map[String, String], Seq[String]) => Column = {
    val f = registry.get(name)
    require(f != null, s"unregistered DSL function '$name'")
    f
  }

  /** Reference-style auto-naming (feature/base.py:485-492,1262). */
  def nameOf(s: FSpec): String = s match {
    case FCol(c)          => c
    case FConst(v)        => if (v == v.floor && !v.isInfinite) v.toLong.toString else v.toString
    case FUnary(op, x)    => s"$op(${nameOf(x)})"
    case FBinary(op, a, b)=> s"$op(${nameOf(a)},${nameOf(b)})"
    case FClip(x, lo, hi) => s"clip(${nameOf(x)},$lo,$hi)"
    case FLag(x, n)       => s"${nameOf(x)}_lag_$n"
    case FRet(x, n, true) => s"${nameOf(x)}_logret_$n"
    case FRet(x, n, false)=> s"${nameOf(x)}_ret_$n"
    case FRoll(op, x, n)  => s"${nameOf(x)}_${op}_$n"
    case FCall(fn, xs, as, kw, skw) =>
      val parts = xs.map(nameOf) ++ as.map(a => nameOf(FConst(a))) ++
        kw.map { case (k, v) => s"$k=${nameOf(FConst(v))}" } ++
        skw.map { case (k, v) => s"$k=$v" }
      s"$fn(${parts.mkString(",")})"
  }

  /** The `FeatureKit.build` equivalent: retained columns ∪ one aliased
    * column per feature, over the input's rows ordered by bar_ts (within
    * each key of `p`).
    *
    * Built-in window nodes — `FRoll`, `FLag`, and the lag inside `FRet` —
    * become slots of ONE [[RollKernel]] pass (deduplicated, so a node shared
    * by several features runs once); everything else stays Catalyst:
    *  - a window node's window-free input (beyond a bare column or
    *    constant) is a column of a pre-projection before the kernel's
    *    layout, so registered windowed calls there (`zscore_peaks`) stay
    *    Catalyst windows over the input;
    *  - element-wise nodes between window nodes are Catalyst expressions
    *    the kernel binds to its working row;
    *  - nodes above the last window node (including registered windowed
    *    calls) are Catalyst columns of the final select over the kernel's
    *    output.
    * A pipeline without window nodes is that final select alone.
    */
  def build(df: DataFrame, feats: Seq[Feature], retain: Seq[String],
            p: Seq[String] = Nil): DataFrame = {
    val slots = scala.collection.mutable.ArrayBuffer[RollKernel.Slot]()
    val slotOf = scala.collection.mutable.HashMap[(String, Int, FSpec), Column]()
    val pre = scala.collection.mutable.LinkedHashMap[FSpec, String]()

    def windowed(s: FSpec): Boolean = s match {
      case _: FLag | _: FRet | _: FRoll => true
      case FCol(_) | FConst(_)          => false
      case FUnary(_, x)                 => windowed(x)
      case FBinary(_, a, b)             => windowed(a) || windowed(b)
      case FClip(x, _, _)               => windowed(x)
      case FCall(_, xs, _, _, _)        => xs.exists(windowed)
    }
    def slot(op: String, x: FSpec, n: Int): Column = {
      require(n >= 1, s"window length must be >= 1, got $op($n)")
      slotOf.getOrElse((op, n, x), {
        // the input lowers first, so every slot follows the slots it reads
        val c = RollKernel.Slot(op, n, lower(x, inKernel = true))
        slots += c
        val ref = F.col(RollKernel.slotName(slots.length - 1))
        slotOf((op, n, x)) = ref
        ref
      })
    }
    def lower(s: FSpec, inKernel: Boolean): Column = s match {
      case FCol(_) | FConst(_) => elementwise(s, p, lower(_, inKernel))
      case _ if !windowed(s) =>
        if (inKernel) F.col(pre.getOrElseUpdate(s, s"__dsl_p${pre.size}"))
        else elementwise(s, p, lower(_, inKernel))
      case FLag(x, n)  => slot("lag", x, n)
      case FRet(x, n, isLog) =>
        val c = lower(x, inKernel)
        val l = slot("lag", x, n)
        if (isLog) F.log(c / l) else c / l - 1
      case FRoll(op, x, n) =>
        require(rollOps(op), s"roll op $op")
        slot(op, x, n)
      case _ => elementwise(s, p, lower(_, inKernel))
    }

    val outs = feats.map(f => lower(f.spec, inKernel = false).as(f.name))
    val select = retain.map(F.col) ++ outs
    if (slots.isEmpty) df.select(select: _*)
    else {
      val in = df.select(F.col("*") +: pre.toSeq.map { case (s, name) =>
        elementwise(s, p, lower(_, inKernel = false)).as(name)
      }: _*)
      RollKernel.run(in, slots.toSeq, p).select(select: _*)
    }
  }

  private val rollOps =
    Set("sma", "std", "min", "max", "median", "ewma", "zscore", "burst")

  /** One element-wise node as a Catalyst Column, its children lowered by
    * `go` (window nodes are [[build]]'s kernel slots, never lowered here).
    */
  private def elementwise(s: FSpec, p: Seq[String], go: FSpec => Column): Column =
    s match {
      case FCol(c)   => F.col(c)
      case FConst(v) => lit(v)
      case FUnary("abs", x)   => F.abs(go(x))
      case FUnary("log", x)   => F.log(go(x))
      case FUnary("log1p", x) => F.log1p(go(x))
      case FUnary("sqrt", x)  => F.sqrt(go(x))
      case FUnary("neg", x)   => -go(x)
      case FUnary(op, _)      => throw new IllegalArgumentException(s"unary op $op")
      case FBinary("add", a, b) => go(a) + go(b)
      case FBinary("sub", a, b) => go(a) - go(b)
      case FBinary("mul", a, b) => go(a) * go(b)
      case FBinary("div", a, b) => go(a) / go(b)
      case FBinary("min", a, b) => least(go(a), go(b))
      case FBinary("max", a, b) => greatest(go(a), go(b))
      case FBinary(op, _, _)    => throw new IllegalArgumentException(s"binary op $op")
      case FClip(x, lo, hi) => least(greatest(go(x), lit(lo)), lit(hi))
      case FCall(fn, xs, as, kw, skw) =>
        resolveCall(fn)(xs.map(go), as, kw.toMap, skw.toMap, p)
      case w => throw new IllegalArgumentException(s"window node $w is not element-wise")
    }

  // --- JSON codec --------------------------------------------------------

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  private def j(s: FSpec): String = s match {
    case FCol(c)    => s"""{"op":"col","col":"${esc(c)}"}"""
    case FConst(v)  => s"""{"op":"const","v":$v}"""
    case FUnary(op, x)     => s"""{"op":"${esc(op)}","x":${j(x)}}"""
    case FBinary(op, a, b) => s"""{"op":"${esc(op)}","a":${j(a)},"b":${j(b)}}"""
    case FClip(x, lo, hi)  => s"""{"op":"clip","x":${j(x)},"lo":$lo,"hi":$hi}"""
    case FLag(x, n)        => s"""{"op":"lag","x":${j(x)},"n":$n}"""
    case FRet(x, n, isLog) => s"""{"op":"ret","x":${j(x)},"n":$n,"log":$isLog}"""
    case FRoll(op, x, n)   => s"""{"op":"roll","roll":"${esc(op)}","x":${j(x)},"n":$n}"""
    case FCall(fn, xs, as, kw, skw) =>
      val in =
        if (xs.length == 1) s""""x":${j(xs.head)}"""
        else s""""xs":${xs.map(j).mkString("[", ",", "]")}"""
      val tail =
        (if (as.nonEmpty) Seq(s""""args":${as.mkString("[", ",", "]")}""") else Nil) ++
        (if (kw.nonEmpty)
          Seq(s""""kwargs":{${kw.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString(",")}}""")
         else Nil) ++
        (if (skw.nonEmpty)
          Seq(s""""skwargs":{${skw.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")}}""")
         else Nil)
      (s"""{"op":"call","fn":"${esc(fn)}",$in""" +: tail).mkString("", ",", "}")
  }

  def toJson(feats: Seq[Feature]): String =
    feats.map(f => j(f.spec)).mkString("[", ",", "]")

  /** Minimal recursive-descent JSON parser for the [[j]] grammar. */
  def fromJson(s: String): Seq[Feature] = {
    val p = new JParser(s)
    val out = p.parseArray()
    out.map(Feature(_))
  }

  private val unaryOps = Set("abs", "log", "log1p", "sqrt", "neg")
  private val binaryOps = Set("add", "sub", "mul", "div", "min", "max")

  private final class JParser(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = {
      ws(); require(i < s.length && s(i) == c, s"expected '$c' at $i"); i += 1
    }
    private def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => sb += '\n'; case '"' => sb += '"'; case '\\' => sb += '\\'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    private def parseNumber(): Double = {
      ws()
      val start = i
      while (i < s.length && (s(i).isDigit || "+-.eE".contains(s(i)))) i += 1
      s.substring(start, i).toDouble
    }
    private def parseNumObject(): Seq[(String, Double)] = {
      expect('{')
      ws()
      if (s(i) == '}') { i += 1; return Nil }
      val buf = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      var done = false
      while (!done) {
        ws()
        val k = parseString()
        expect(':')
        buf += (k -> parseNumber())
        ws()
        if (s(i) == ',') i += 1 else { expect('}'); done = true }
      }
      buf.toSeq
    }
    private def parseStrObject(): Seq[(String, String)] = {
      expect('{')
      ws()
      if (s(i) == '}') { i += 1; return Nil }
      val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var done = false
      while (!done) {
        ws()
        val k = parseString()
        expect(':')
        ws()
        buf += (k -> parseString())
        ws()
        if (s(i) == ',') i += 1 else { expect('}'); done = true }
      }
      buf.toSeq
    }
    private def parseNumArray(): Seq[Double] = {
      expect('[')
      ws()
      if (s(i) == ']') { i += 1; return Nil }
      val buf = scala.collection.mutable.ArrayBuffer[Double]()
      var done = false
      while (!done) {
        buf += parseNumber()
        ws()
        if (s(i) == ',') i += 1 else { expect(']'); done = true }
      }
      buf.toSeq
    }
    private def parseBool(): Boolean = {
      ws()
      if (s.startsWith("true", i)) { i += 4; true }
      else { require(s.startsWith("false", i)); i += 5; false }
    }
    def parseArray(): Seq[FSpec] = {
      expect('[')
      ws()
      if (s(i) == ']') { i += 1; return Nil }
      val buf = scala.collection.mutable.ArrayBuffer[FSpec]()
      var done = false
      while (!done) {
        buf += parseObject()
        ws()
        if (s(i) == ',') i += 1 else { expect(']'); done = true }
      }
      buf.toSeq
    }
    def parseObject(): FSpec = {
      expect('{')
      val fields = scala.collection.mutable.LinkedHashMap[String, Any]()
      var done = false
      while (!done) {
        ws()
        val k = parseString()
        expect(':')
        ws()
        // "xs" is an array of SPECS and "kwargs" an object of numbers —
        // both would misparse under the generic value dispatch below
        val v: Any = k match {
          case "xs"      => parseArray()
          case "kwargs"  => parseNumObject()
          case "skwargs" => parseStrObject()
          case _ => s(i) match {
            case '{' => parseObject()
            case '"' => parseString()
            case 't' | 'f' => parseBool()
            case '[' => parseNumArray()
            case _ => parseNumber()
          }
        }
        fields(k) = v
        ws()
        if (s(i) == ',') i += 1 else { expect('}'); done = true }
      }
      val op = fields("op").asInstanceOf[String]
      op match {
        case "col"   => FCol(fields("col").asInstanceOf[String])
        case "const" => FConst(fields("v").asInstanceOf[Double])
        case "clip"  => FClip(fields("x").asInstanceOf[FSpec],
          fields("lo").asInstanceOf[Double], fields("hi").asInstanceOf[Double])
        case "lag"   => FLag(fields("x").asInstanceOf[FSpec],
          fields("n").asInstanceOf[Double].toInt)
        case "ret"   => FRet(fields("x").asInstanceOf[FSpec],
          fields("n").asInstanceOf[Double].toInt, fields("log").asInstanceOf[Boolean])
        case "roll"  => FRoll(fields("roll").asInstanceOf[String],
          fields("x").asInstanceOf[FSpec], fields("n").asInstanceOf[Double].toInt)
        case "call"  => FCall(fields("fn").asInstanceOf[String],
          fields.get("xs").map(_.asInstanceOf[Seq[FSpec]])
            .getOrElse(Seq(fields("x").asInstanceOf[FSpec])),
          fields.get("args").map(_.asInstanceOf[Seq[Double]]).getOrElse(Nil),
          fields.get("kwargs").map(_.asInstanceOf[Seq[(String, Double)]])
            .getOrElse(Nil),
          fields.get("skwargs").map(_.asInstanceOf[Seq[(String, String)]])
            .getOrElse(Nil))
        case u if unaryOps(u)  => FUnary(u, fields("x").asInstanceOf[FSpec])
        case b if binaryOps(b) => FBinary(b, fields("a").asInstanceOf[FSpec],
          fields("b").asInstanceOf[FSpec])
        case other => throw new IllegalArgumentException(s"unknown op $other")
      }
    }
  }
}
