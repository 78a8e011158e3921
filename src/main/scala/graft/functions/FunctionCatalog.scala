package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._

/** The seven aggregate functions of the rule DSL, mapped onto Spark's built-in
  * (codegen'd, partial+final) aggregates — no UDAFs in the hot path.
  *
  * Reference dispatch: aggregation/metric_holder.go:67-82; implementations in
  * aggregation/{sum,counting,avg,min,max,delta,rate}_metric.go.
  *
  * Semantic decisions (SURVEY.md §2.1):
  *  - delta/rate use deterministic EVENT-TIME order — the native
  *    hash-aggregable [[ValueAtTimeBound]] first/last-by-(ts, value) aggregate
  *    (min_by/max_by were REJECTED: struct buffer → SortAggregate; see
  *    TimeBoundValue.scala) — not the reference's arrival order
  *    (aggregation/delta_metric.go:28-30 overwrites unconditionally).
  *  - single-point windows: delta = 0 (max_by == min_by) and rate = 0, instead
  *    of the reference's degenerate `0 - v` / `v·1000/ts`
  *    (aggregation/delta_metric.go:24-36, aggregation/rate_metric.go:26-43).
  */
object FunctionCatalog {

  /** The reference's seven functions (aggregation/metric_holder.go:67-82). */
  val referenceNames: Set[String] = Set("sum", "count", "avg", "min", "max", "delta", "rate")

  /** Additive extensions a monitoring pipeline wants beyond the reference:
    * spread and tail percentiles, plus the arrival-order bit-compat modes. */
  val extensionNames: Set[String] =
    Set("stddev", "p50", "p95", "p99", "delta_arrival", "rate_arrival")

  val names: Set[String] = referenceNames ++ extensionNames

  /** Functions whose value depends on the order rows reach their aggregate
    * in ([[ArrivalOrder]]). */
  val arrivalOrder: Set[String] = Set("delta_arrival", "rate_arrival")

  /** Aggregate column for `function` over a measurement column and its
    * event-time column (epoch milliseconds, double). */
  def aggregate(function: String, value: Column, tsMs: Column): Column =
    finish(function, slots(function, value, tsMs).toMap)

  /** The named aggregates `function` reads. Rules with different functions
    * share a slot of the same name, so one aggregate over one buffer serves
    * a whole rule config. */
  def slots(function: String, value: Column, tsMs: Column): Seq[(String, Column)] =
    function match {
      case "sum"   => Seq("sum" -> sum(value))
      // counts rows, ignores value (aggregation/counting_metric.go:19-29)
      case "count" => Seq("count" -> count(lit(1)))
      case "avg"   => Seq("avg" -> avg(value))
      case "min"   => Seq("min" -> min(value))
      case "max"   => Seq("max" -> max(value))
      // Native ValueAtTimeBound aggregate: deterministic lexicographic
      // (ts, value) bound (equal-ts ties break by value, so results don't
      // depend on partition merge order) held in two primitive double buffer
      // slots — hash-aggregable, unlike max(struct)/max_by which carry a
      // struct buffer and force the rule pipeline into Sort+SortAggregate on
      // both exchange sides
      case "delta" => Seq("first" -> firstByTime(value, tsMs), "last" -> lastByTime(value, tsMs))
      case "rate"  =>
        slots("delta", value, tsMs) ++ Seq("min_ts" -> min(tsMs), "max_ts" -> max(tsMs))
      case "stddev" => Seq("stddev" -> stddev_samp(value))
      case "p50"    => Seq("p50" -> percentile(value, lit(0.5)))
      case "p95"    => Seq("p95" -> percentile(value, lit(0.95)))
      case "p99"    => Seq("p99" -> percentile(value, lit(0.99)))
      // arrival-order bit-compat modes (SURVEY §7.3) — see ArrivalOrder
      case "delta_arrival" => Seq("delta_arrival" -> ArrivalOrder.delta(value, tsMs))
      case "rate_arrival"  => Seq("rate_arrival" -> ArrivalOrder.rate(value, tsMs))
      case other =>
        throw new IllegalArgumentException(s"unknown aggregation function: $other")
    }

  /** `function`'s value from its [[slots]]. */
  def finish(function: String, slot: String => Column): Column =
    function match {
      // emitted as double for wire parity (metric value is float64)
      case "count" => slot("count").cast("double")
      // last-by-event-time minus first-by-event-time; 0 for 1-point windows
      case "delta" => slot("last") - slot("first")
      case "rate"  =>
        // delta per second: delta / ((lastTs - firstTs)/1000)
        // (aggregation/rate_metric.go:36-42); 0 when the window has a single
        // point / zero time span (divide-by-zero guard)
        when(slot("max_ts") === slot("min_ts"), lit(0.0))
          .otherwise((slot("last") - slot("first")) /
            ((slot("max_ts") - slot("min_ts")) / lit(1000.0)))
      // single-row groups have no sample spread — emit 0.0, not a null metric
      // value (downstream envelope consumers expect a double)
      case "stddev" => coalesce(slot("stddev"), lit(0.0))
      case other    => slot(other)
    }

  private def lastByTime(value: Column, tsMs: Column): Column =
    GraftBridge.column(ValueAtTimeBound(GraftBridge.expression(value),
      GraftBridge.expression(tsMs), latest = true).toAggregateExpression())

  private def firstByTime(value: Column, tsMs: Column): Column =
    GraftBridge.column(ValueAtTimeBound(GraftBridge.expression(value),
      GraftBridge.expression(tsMs), latest = false).toAggregateExpression())
}
