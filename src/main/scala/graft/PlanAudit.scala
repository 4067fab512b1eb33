package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Dev tool: sweep every SparkEntry query's physical plan for scale
  * anti-patterns. Not part of the driver contract — run with
  * `sbt "runMain graft.PlanAudit <sfDir>"`.
  *
  * An UNconditioned BroadcastNestedLoopJoin is the sanctioned 1-row
  * scalar-broadcast crossJoin (global max ts / θ threshold / GCD scale) —
  * O(n·1), fine at any scale. A CONDITIONED one is a range-predicate join
  * Spark couldn't turn into an equi-join — O(n·m), flagged.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Conf.engineDefaults(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // A BNLJ is sanctioned only as the scalar crossJoin(broadcast(1-row
    // agg)) pattern: Cross type AND a keyless aggregate somewhere in the
    // BUILD subtree (a pushed filter may still appear as its condition —
    // O(n·1), fine). Non-Cross types, or a Cross against anything that is
    // not a scalar aggregate, are O(n·m) — flagged. Checked on the actual
    // physical tree (descending through AQE wrappers and cached plans): a
    // string-window scan misjudges build sides that print far below a
    // deeply nested streamed subtree.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.catalyst.plans.Cross
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children
    }
    def anyNode(p: SparkPlan)(f: SparkPlan => Boolean): Boolean =
      f(p) || kids(p).exists(anyNode(_)(f))
    def scalarAgg(p: SparkPlan): Boolean = anyNode(p) {
      case h: HashAggregateExec       => h.groupingExpressions.isEmpty
      case o: ObjectHashAggregateExec => o.groupingExpressions.isEmpty
      case s: SortAggregateExec       => s.groupingExpressions.isEmpty
      case _ => false
    }
    def badBnlj(plan: SparkPlan): Boolean = anyNode(plan) {
      case b: BroadcastNestedLoopJoinExec =>
        val build = b.buildSide match {
          case BuildRight => b.right
          case BuildLeft  => b.left
        }
        b.joinType != Cross || !scalarAgg(build)
      case _ => false
    }

    // Single-partition order anti-pattern: an unkeyed WindowExec (Spark's
    // own "No Partition Defined" degradation), or a SortExec fed — through
    // narrow operators — by a shuffle into ONE partition (SinglePartition
    // or any 1-partition scheme; this is `repartitionByRange(1, …)` /
    // `Scan.keyOrdered`'s keyless branch). A 1-partition exchange feeding a
    // keyless FINAL aggregate is fine (it moves tiny partial-agg rows) and
    // is not matched here because no Sort/Window sits above it.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def singlePartShuffleBelow(p: SparkPlan): Boolean = {
      def go(n: SparkPlan): Boolean = n match {
        case e: ShuffleExchangeExec =>
          e.outputPartitioning == SinglePartition ||
            e.outputPartitioning.numPartitions == 1
        case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => false
        case _: WindowExec | _: SortExec => false // nested op owns its input
        case other => kids(other).exists(go)
      }
      kids(p).exists(go)
    }
    def singlePartOrder(plan: SparkPlan): Boolean = anyNode(plan) {
      case w: WindowExec           => w.partitionSpec.isEmpty
      case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
      case s: SortExec             => singlePartShuffleBelow(s)
      case _ => false
    }

    // Sanctioned single-partition orders — every entry names WHY the input
    // is bounded or the order is inherently total; anything NOT listed that
    // trips the detector is a scale regression.
    val barGrid = "bar-grid input: bounded by the bar calendar (orders below " +
      "trade scale); keyed twin covers multi-series"
    val resetKernel = "reset-on-trigger kernel: state not mergeable, order-" +
      "total per series by reference semantics; keyed twin is the scale path"
    val tickRule = "tick-rule carry window: MEASURED tradeoff (Trades.scala) " +
      "— scan variant 2x slower end-to-end at sf0.1; keyed twin is the " +
      "multi-series layout"
    val limited = "limit-bounded sample (reference itself caps at 10k rows)"
    val boundedRollup = "boundary roll-up: input is the per-partition " +
      "summary (≤ 1 row per task), not the data-scaled stream"
    val allow: Map[String, String] = Map(
      // feature families over the 5m/1h/1d bar grids
      "f_returns" -> barGrid, "f_sma_zscore" -> barGrid,
      "f_bollinger_parkinson" -> barGrid, "f_stoch_atr" -> barGrid,
      "f_volatility" -> barGrid, "f_vwap_corr" -> barGrid,
      "f_trend" -> barGrid, "f_cusum_break" -> barGrid,
      "f_hurst_apen" -> barGrid,
      "f_daily_gap" -> barGrid, "f_bar_duration" -> barGrid,
      "f_rsi_wilder14" -> barGrid, "f_atr_wilder14" -> barGrid,
      "f_adx14" -> barGrid, "f_vpin_flow" -> barGrid,
      "feature_dsl_roundtrip" -> barGrid,
      "vp_bucketed_day" -> barGrid, "vp_developing_day" -> barGrid,
      "vp_poc_day" -> barGrid, "vp_rolling_6h" -> barGrid,
      "vp_value_area_day" -> barGrid,
      "footprint_levels_1h" -> tickRule, "footprint_summary_1h" -> tickRule,
      "footprint_slack" -> tickRule,
      "trades_canonical" -> tickRule, "trades_split_merge" -> tickRule,
      "time_bars_directional_1h" -> tickRule,
      "cusum_events" -> resetKernel, "cusum_events_adaptive" -> resetKernel,
      "cusum_bars" -> resetKernel, "cusum_slack" -> resetKernel,
      "volume_bars_2k" -> resetKernel, "dollar_bars_200k" -> resetKernel,
      "tick_bars_300" -> resetKernel,
      "imbalance_bars" -> resetKernel, "run_bars" -> resetKernel,
      "volume_imbalance_bars" -> resetKernel,
      // same machine as volume_imbalance_bars, reconstructed from JSON
      "bar_config_roundtrip" -> resetKernel,
      "dollar_imbalance_bars" -> resetKernel,
      "volume_run_bars" -> resetKernel, "dollar_run_bars" -> resetKernel,
      "tick_size_gcd" -> limited, "tick_size_median_legacy" -> limited,
      "z_peaks_5m" -> barGrid, "z_peaks_slack" -> barGrid,
      "integrity_ts_order" -> boundedRollup)

    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val physical = fn(spark, sfDir).queryExecution.executedPlan
        val plan = physical.toString
        val spo =
          if (!singlePartOrder(physical)) None
          else if (allow.contains(name)) Some(s"single-part-order[allowed]")
          else Some("single-part-order")
        val hits = Seq(
          if (badBnlj(physical)) Some("non-scalar-BNLJ") else None,
          if (plan.contains("CartesianProduct")) Some("CartesianProduct") else None,
          if (plan.contains("SortAggregate")) Some("SortAggregate") else None,
          spo).flatten
        val verdict = if (hits.isEmpty) "clean" else hits.mkString(",")
        if (hits.exists(!_.endsWith("[allowed]"))) bad += 1
        println(s"AUDIT $name: $verdict")
      } catch {
        case NonFatal(e) =>
          bad += 1
          println(s"AUDIT $name: ERROR ${e.getClass.getSimpleName}")
      }
    }
    println(s"AUDIT-SUMMARY unallowed-flags=$bad")
    spark.stop()
  }
}
