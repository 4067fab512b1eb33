package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the driver-facing query/oracle pairs.
  *
  * Conventions that make Spark results hash-match the DuckDB oracle:
  *  - every floating output is `r6` (NaN→NULL, round to 6 decimals) on BOTH
  *    sides — window/agg summation-order ulp noise disappears at 1e-6;
  *  - money-scale sums go through DECIMAL(18,6) accumulation (exact, order
  *    independent) and are cast to DOUBLE once at the end;
  *  - integer aggregates are cast to BIGINT on the DuckDB side (DuckDB
  *    sum(int) returns HUGEINT which pandas can't hash-match to int64);
  *  - every result carries a unique key column for row alignment.
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Render a double as a DuckDB DOUBLE literal. Bare decimal literals parse
    * as DECIMAL, and DECIMAL→DOUBLE conversion is lossy above ~15 significant
    * digits; scientific notation forces a direct DOUBLE parse.
    */
  def D(x: Double): String = {
    val s = x.toString
    if (s.contains('e') || s.contains('E')) s else s + "e0"
  }

  /** NaN→null then round(6): the canonical float output normalizer. */
  def r6(c: Column): Column = round(nanvl(c, lit(null).cast("double")), 6)

  /** DuckDB-side mirror of [[r6]]. */
  def rd(sql: String): String =
    s"round(CASE WHEN isnan(CAST(($sql) AS DOUBLE)) THEN NULL ELSE ($sql) END, 6)"

  /** Exact decimal sum cast to double — Spark side. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  /** Exact decimal sum cast to double — DuckDB side. */
  def dsumSql(expr: String): String =
    s"CAST(sum(CAST(($expr) AS DECIMAL(18,6))) AS DOUBLE)"

  /** Exact integer micro-unit sum as double — ORACLE MIRROR of the
    * engine's floor(x·1e6 + 0.5) quantization (TimeBars.ohlcvAgg
    * vwap, resample recombination). Unlike a DECIMAL(18,6) cast — whose
    * rounding implementations differ between the engines on knife-edge
    * doubles (Spark: shortest-decimal string; DuckDB: the ·1e6 product)
    * — floor(x·1e6 + 0.5) is a fixed IEEE op tree both engines evaluate
    * bit-identically. Half-up for the non-negative inputs these sums see.
    */
  def m6Sql(expr: String): String =
    s"CAST(sum(CAST(floor(($expr) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)"

  /** Engine-neutral 6-dp output quantization — floor(x·1e6 + 0.5)/1e6 as
    * one fixed IEEE op tree, for NON-NEGATIVE outputs that are exact
    * rationals of integer sums (the m6-summed vwaps): such values land
    * exactly ON .5e-6 boundaries routinely, where [[r6]]'s two engine
    * implementations fork (Spark rounds the shortest-decimal string,
    * DuckDB the ·1e6 product). This tree gives bit-identical doubles on
    * both engines for any input. [[q6Sql]] is the DuckDB mirror.
    */
  def q6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  def q6Sql(expr: String): String = s"floor(($expr) * 1e6 + 0.5) / 1e6"

  /** lower-cased whitespace tokens CTE over documents — ORACLE MIRROR of
    * TextOps.wsTokens. ONE definition: the doc/LM/pipeline oracle files all
    * tokenize through this, so the mirror can never drift per file.
    */
  val toksCte: String =
    """toks AS (
      |  SELECT doc_id, text,
      |         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents
      |)""".stripMargin

  /** full 32-bit value of the md5 hex prefix in column `m` — ORACLE MIRROR
    * of Sampling.hash32 (needs `m` in scope); one definition for the same
    * no-drift reason as [[toksCte]].
    */
  val hex32Sql: String = (1 to 8).map { i =>
    s"(instr('0123456789abcdef', substr(m, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
  }.mkString("(", " + ", ")")

  /** md5 of the whitespace-normalized lower-cased document text — ORACLE
    * MIRROR of `md5(Dedup.normalized(text))`, the exact-dedup content
    * key. ONE definition for every gate that partitions or filters by
    * content identity (dedup_exact*, corpus_clean*, streaming dedup), for
    * the same no-drift reason as [[toksCte]].
    */
  val normMd5Sql: String =
    """md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"""

  /** The canonical trades CTE over the synthetic events table (DuckDB).
    * Mirrors graft.trades.Trades.fromEvents exactly: ns epoch longs, price =
    * value, qty synthesized from the id, and non-positive prices dropped
    * (invalid prints — see the fromEvents scaladoc; without the filter the
    * sf0.1 fixture's six zero-price events crash DuckDB's ln()).
    */
  val tradesCte: String =
    """trades AS (
      |  SELECT epoch_ns(ts) AS ts, event_id AS id, value AS price,
      |         CAST(1.0 AS DOUBLE) + CAST(event_id % 97 AS DOUBLE) * CAST(0.1 AS DOUBLE) AS qty,
      |         user_id AS symbol
      |  FROM events
      |  WHERE value > 0
      |)""".stripMargin

  /** Tick-rule side CTE chain (DuckDB) — mirrors Trades.withTickRuleSide. */
  val sidedCte: String =
    """sided AS (
      |  SELECT ts, id, price, qty, symbol,
      |         coalesce(last_value(tick IGNORE NULLS) OVER (
      |           ORDER BY ts, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS side
      |  FROM (
      |    SELECT *, CASE WHEN abs(dp) > 1e-12 THEN CAST(sign(dp) AS INT) END AS tick
      |    FROM (SELECT *, price - lag(price) OVER (ORDER BY ts, id) AS dp FROM trades)
      |  )
      |)""".stripMargin


  /** symbol-keyed twin of [[sidedCte]] — the per-symbol tick rule. ONE
    * definition for every *_sym gate that mirrors
    * Trades.withTickRuleSide(partCols): an epsilon or tie-break fix lands
    * in all of them at once.
    */
  val symSidedCte: String =
    """sided AS (
      |  SELECT ts, id, price, qty, symbol,
      |         coalesce(last_value(tick IGNORE NULLS) OVER (
      |           PARTITION BY symbol ORDER BY ts, id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS side
      |  FROM (
      |    SELECT *, CASE WHEN abs(dp) > 1e-12 THEN CAST(sign(dp) AS INT) END AS tick
      |    FROM (SELECT *, price - lag(price) OVER (PARTITION BY symbol ORDER BY ts, id) AS dp FROM trades)
      |  )
      |)""".stripMargin

  /** OHLCV bars CTE (DuckDB) with empty-bar fill — mirrors TimeBars.ohlcv.
    * Produces CTE `bars(bar_ts, open, high, low, close, volume, trades,
    * median_trade_size, vwap)`.
    */
  def barsCte(intervalSec: Long): String = {
    val iv = intervalSec * 1000000000L
    s"""bars0 AS (
       |  SELECT ((ts + ${iv - 1}) // $iv) * $iv AS bar_ts,
       |         first(price ORDER BY ts, id) AS open, max(price) AS high, min(price) AS low,
       |         last(price ORDER BY ts, id) AS close, sum(qty) AS volume,
       |         CAST(count(*) AS BIGINT) AS trades,
       |         median(qty) AS median_trade_size,
       |         ${m6Sql("price * qty")} / ${m6Sql("qty")} AS vwap
       |  FROM trades GROUP BY 1
       |), bounds AS (
       |  SELECT (min(ts) // $iv + 1) * $iv AS lo,
       |         ((max(ts) + ${iv - 1}) // $iv) * $iv AS hi
       |  FROM trades
       |), grid AS (
       |  SELECT unnest(generate_series(lo, hi, $iv)) AS bar_ts FROM bounds
       |), bars AS (
       |  SELECT bar_ts,
       |         coalesce(open, pc) AS open, coalesce(high, pc) AS high,
       |         coalesce(low, pc) AS low, coalesce(close, pc) AS close,
       |         coalesce(volume, 0.0) AS volume,
       |         coalesce(trades, 0) AS trades,
       |         coalesce(median_trade_size, 0.0) AS median_trade_size,
       |         coalesce(vwap, 0.0) AS vwap
       |  FROM (
       |    SELECT g.bar_ts AS bar_ts, b.open, b.high, b.low, b.close, b.volume,
       |           b.trades, b.median_trade_size, b.vwap,
       |           last_value(b.close IGNORE NULLS) OVER (
       |             ORDER BY g.bar_ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc
       |    FROM grid g LEFT JOIN bars0 b ON g.bar_ts = b.bar_ts
       |  )
       |)""".stripMargin
  }
}
