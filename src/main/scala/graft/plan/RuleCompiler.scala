package graft.plan

import graft.functions.FunctionCatalog
import graft.model.AggregationSpec
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import scala.reflect.runtime.universe.TypeTag

/** Compiles a rule config ([[AggregationSpec]]s) into ONE DataFrame plan for
  * batch and streaming inputs alike — match → window aggregate (→ rollup) →
  * envelope projection — in place of the reference's per-row interpreter
  * (aggregation/aggregation_rule.go:49-139): pushdown, partial+final hash
  * aggregation and codegen come for free, and the shuffle is hash-partitioned
  * by (window, rule, tenant, grouped dims), which the hand-rolled `MetricCache`
  * (aggregation/caching.go:17-28) could never be. */
object RuleCompiler {

  /** Column names used between stages. */
  private val WindowCol = "w"
  private val TenantCol = "tenant_id"
  private val ValueCol = "agg_value"
  private val RuleCol = "rule"
  private val KeysCol = "keys"
  private val SizeCol = "window_us"
  private def dimCol(k: String) = s"dim_$k"

  /** A dimension, typed as `map_entries` types a dimension map's entries. */
  private case class Dim(key: String, value: String)

  /** A rule's stage-1 operands, listed in the match table under its metric
    * name: F2's pairs, F3's pairs and ""-keys, F4's keys, and its window. */
  private case class Candidate(rule: String, filtered: Seq[Dim], rejected: Seq[Dim],
      rejectedKeys: Seq[String], grouped: Seq[String], windowUs: Long)

  /** A rule's stage-3 operands: the positions of its rollup keys among its
    * grouped values (all of them for a rule without a rollup), and the
    * rollup's window. */
  private case class Rollup(positions: Seq[Int], windowUs: Long)

  /** A rule's stage-4 operands: its output name, and its dimension names with
    * the filtered values that precede the emitted grouped values. */
  private case class Emit(name: String, dimKeys: Seq[String], fixedValues: Seq[String])

  /** The full F1–F4 row predicate of `MatchesMetric`
    * (aggregation/aggregation_rule.go:141-176), as one Column. */
  def matchPredicate(spec: AggregationSpec): Column = {
    val dims = col("metric.dimensions")
    // F1 — required name equality (aggregation/aggregation_rule.go:143-146)
    val f1 = col("metric.name") === lit(spec.filteredMetricName)
    // F2 — conjunctive dimension equality; absent key ⇒ no match
    // (aggregation/aggregation_rule.go:178-190)
    val f2 = spec.filteredDimensions.map { case (k, v) => dims.getItem(k) === lit(v) }
      .reduceOption(_ && _).getOrElse(lit(true))
    // F3 — reject if any (k,v) matches; v == "" rejects ANY value of key k
    // (aggregation/aggregation_rule.go:192-201). An ABSENT KEY must not
    // reject (coalesce(false) around the null-propagating terms), but a rule
    // that declares rejectedDimensions drops nil-dims metrics outright
    // (aggregation/aggregation_rule.go:157-160), hence the isNotNull guard.
    val f3 =
      if (spec.rejectedDimensions.isEmpty) lit(true)
      else {
        val anyReject = spec.rejectedDimensions.map {
          case (k, "") => coalesce(map_contains_key(dims, lit(k)), lit(false))
          case (k, v)  => coalesce(dims.getItem(k) === lit(v), lit(false))
        }.reduce(_ || _)
        dims.isNotNull && !anyReject
      }
    // F4 — every grouped key must be present, else the row is filtered (NOT
    // grouped under null) (aggregation/aggregation_rule.go:166-173, 203-215)
    val f4 = spec.groupedDimensions.map(k => map_contains_key(dims, lit(k)))
      .reduceOption(_ && _).getOrElse(lit(true))
    f1 && f2 && f3 && f4
  }

  /** One rule's matched rows (stage 1) plus a `dim_<key>` column per grouped
    * dimension: the input of the sliding path and the filter-only queries. */
  def prepare(spec: AggregationSpec)(df: DataFrame): DataFrame =
    // no window is read before the aggregate, so the size given is unused
    matchRules(Seq(spec -> 0L))(df).drop(SizeCol)
      .select(col("*") +: keyColumns(spec.groupedDimensions): _*)

  /** Per-rule tumbling window aggregation over [[prepare]]'s output. */
  def aggregate(spec: AggregationSpec, windowSizeSec: Long)(df: DataFrame): DataFrame =
    aggregateSliding(spec, windowSizeSec, windowSizeSec)(df)

  /** Per-rule rollup over [[aggregate]]'s output: [[rollupRules]] for one rule. */
  def rollup(spec: AggregationSpec, ruleWindowSec: Long)(df: DataFrame): DataFrame =
    dimColumns(spec.rollup.get.groupedDimensions)(rollupRules(Seq(spec -> ruleWindowSec))(
      df.select(col(WindowCol), lit(spec.name).as(RuleCol), col(TenantCol),
        keysArray(spec.groupedDimensions.map(k => col(dimCol(k)))).as(KeysCol), col(ValueCol))))

  /** Whole rule, batch path: the one-rule case of [[compileAll]]. */
  def compile(spec: AggregationSpec, windowSizeSec: Long): DataFrame => DataFrame =
    compileAll(Seq(spec -> windowSizeSec))

  /** [[compile]] before its projection — window struct, tenant, dim_*
    * columns, agg_value — for tests and SQL-oracle comparison. */
  def compileGrouped(spec: AggregationSpec, windowSizeSec: Long): DataFrame => DataFrame =
    df => dimColumns(emittedDims(spec))(aggregateRules(Seq(spec -> windowSizeSec), None)(df))

  /** SLIDING-window variant (graft extension — the reference only tumbles):
    * each event lands in size/slide overlapping windows, epoch-aligned on
    * the slide. Spark plans `window(col, size, slide)` as an Expand BELOW the
    * partial aggregation, so the fan-out never reaches the one exchange. */
  def compileGroupedSliding(spec: AggregationSpec, windowSizeSec: Long,
      slideSec: Long): DataFrame => DataFrame =
    df => aggregateSliding(spec, windowSizeSec, slideSec)(prepare(spec)(df))

  /** The sliding aggregation over [[prepare]]'s output (a streaming caller
    * inserts its watermark in between). */
  def aggregateSliding(spec: AggregationSpec, windowSizeSec: Long,
      slideSec: Long)(prepared: DataFrame): DataFrame = {
    require(slideSec >= 1 && windowSizeSec % slideSec == 0,
      s"window $windowSizeSec must be a multiple of slide $slideSec")
    dimColumns(spec.groupedDimensions)(aggregateStage(prepared,
      window(col("event_ts"), s"$windowSizeSec seconds", s"$slideSec seconds").as(WindowCol),
      col(KeysCol), Seq(spec.name -> spec.function), col("value"), col("ts_ms")))
  }

  /** A WHOLE RULE CONFIG as one plan — the reference's loop over every rule
    * per parsed message (server.go:316-320), declaratively, with the rules as
    * data, as the reference keeps them: each stage reads a rule's operands
    * from a literal table keyed by metric or rule name, so the plan and its
    * generated code are the same for 5 rules or 500.
    *  1. one scan and parse; one lookup on `metric.name` lists the rules an
    *     envelope may match, one generic F1–F4 predicate keeps those it does
    *     ([[matchPredicate]] per rule is the reference), one row per match;
    *  1. one group-by (window, rule, tenant, grouped values) over one buffer
    *     of the slots the config's functions read ([[FunctionCatalog.slots]]),
    *     each rule's value one CASE over the config's functions; and one for
    *     each rule with an arrival-order function;
    *  1. if any rule has a rollup, a second group-by for every rule (a rule
    *     without one passes through a one-row identity group);
    *  1. each rule's name and dimensions, and `creation_time` from the wall
    *     clock as each row is emitted (server.go:228) — never a literal, so
    *     the generated code is the same on every pass and Spark's codegen
    *     cache serves it.
    *
    * So one exchange per aggregate stage, whatever the number of rules.
    * Rules may differ in window size; rule names key the plan and must be
    * unique. */
  def compileAll(specs: Seq[(AggregationSpec, Long)]): DataFrame => DataFrame =
    df => project(specs.map(_._1))(aggregateRules(specs, None)(df))

  /** [[compileAll]] for an unbounded source: all rules share one window size
    * and one `withWatermark(event_ts, windowLagSec)` inserted after matching,
    * so append mode emits a window once the shared watermark passes it. */
  def compileStreaming(specs: Seq[AggregationSpec], windowSizeSec: Long,
      windowLagSec: Long): DataFrame => DataFrame =
    df => project(specs)(aggregateRules(specs.map(_ -> windowSizeSec), Some(windowLagSec))(df))

  /** Stages 1-3 of [[compileAll]]: (w, rule, tenant_id, keys, agg_value). */
  private def aggregateRules(specs: Seq[(AggregationSpec, Long)], watermarkLagSec: Option[Long])(
      df: DataFrame): DataFrame = {
    // before any table is built: a table keeps one entry per name
    val names = specs.map(_._1.name)
    require(names.nonEmpty && names.distinct.size == names.size,
      s"unique rule names required: $names")
    // window() drops rows without an event time; so must a per-rule window
    val matched = matchRules(specs)(df).filter(col("event_ts").isNotNull)
    val rows = watermarkLagSec.fold(matched)(lag => matched.withWatermark("event_ts", s"$lag seconds"))
    val grouped = aggregateStage(rows, windowKey(rows, "event_ts", col(SizeCol)), col(KeysCol),
      specs.map { case (s, _) => s.name -> s.function }, col("value"), col("ts_ms"))
    if (specs.exists(_._1.rollup.isDefined)) rollupRules(specs)(grouped) else grouped
  }

  /** Stage 1: one row per (envelope, rule it matches), behind one pushed-down
    * filter on the config's metric names. The match table lists each metric
    * name's rules; the generic F1–F4 predicate reads the row's rule's
    * operands where [[matchPredicate]] has them as literals. */
  private[graft] def matchRules(specs: Seq[(AggregationSpec, Long)])(df: DataFrame): DataFrame = {
    val table = typedLit(specs.groupBy(_._1.filteredMetricName).map { case (m, rules) =>
      m -> rules.map { case (s, w) =>
        val (anyValue, pairs) = s.rejectedDimensions.toSeq.partition(_._2.isEmpty)
        Candidate(s.name, s.filteredDimensions.toSeq.map(Dim.tupled), pairs.map(Dim.tupled),
          anyValue.map(_._1), s.groupedDimensions, w * 1000000L)
      }
    })
    val c = col("c")
    val dims = col("dims")
    // a nil map has no entries; F3 tells it from an empty one
    val present = coalesce(dims, typedLit(Map.empty[String, String]))
    val f2 = size(array_except(c("filtered"), map_entries(present))) === 0
    val f3 = size(c("rejected")) + size(c("rejectedKeys")) === 0 || dims.isNotNull &&
      !arrays_overlap(c("rejected"), map_entries(present)) &&
      !arrays_overlap(c("rejectedKeys"), map_keys(present))
    val f4 = size(array_except(c("grouped"), map_keys(present))) === 0
    df.filter(oneOf(col("metric.name"), specs.map(_._1.filteredMetricName).distinct))
      .select(explode(table(col("metric.name"))).as("c"), col("metric.dimensions").as("dims"),
        coalesce(col("meta").getItem("tenantId"), lit("")).as(TenantCol),
        (col("metric.timestamp") / 1000).cast("timestamp").as("event_ts"),
        col("metric.timestamp").as("ts_ms"), col("metric.value").as("value"))
      .filter(f2 && f3 && f4)
      .select(c("rule").as(RuleCol), col(TenantCol), col("event_ts"), col("ts_ms"), col("value"),
        nonNull(transform(c("grouped"), k => dims(k))).as(KeysCol), c("windowUs").as(SizeCol))
  }

  /** `value IN (names)`: an equality for one name, which a scan pushes as
    * one, else a hash set, one expression however many names. */
  private def oneOf(value: Column, names: Seq[String]): Column =
    if (names.size == 1) value === names.head
    else GraftBridge.column(InSet(GraftBridge.expression(value),
      names.map(n => UTF8String.fromString(n): Any).toSet))

  /** Stage 3: re-aggregate each rule's rows by its rollup key (⊆ grouped
    * dims) with the rollup's function (aggregation/aggregation_rule.go:86-134),
    * at the window start as event time (aggregation/aggregation_rule.go:73,117). */
  private def rollupRules(specs: Seq[(AggregationSpec, Long)])(df: DataFrame): DataFrame = {
    // a coarse window not aligned to the rule's would take data from outside its bounds
    for ((s, w) <- specs; rw <- s.rollup.flatMap(_.windowSizeSec))
      require(rw >= w && rw % w == 0,
        s"Rule ${s.name}: rollup.windowSize ($rw s) must be a multiple of the rule window ($w s)")
    val rollup = ruleTable(specs.map { case (s, w) =>
      val grouped = s.groupedDimensions
      s.name -> Rollup(
        s.rollup.fold[Seq[Int]](grouped.indices)(_.groupedDimensions.map(grouped.indexOf)),
        // graft extension: a rollup may re-window into COARSER tumbling windows
        s.rollup.flatMap(_.windowSizeSec).getOrElse(w) * 1000000L)
    })
    aggregateStage(df, windowKey(df, WindowCol, rollup("windowUs")),
      nonNull(transform(rollup("positions"), i => col(KeysCol)(i))),
      specs.map { case (s, _) => s.name -> s.rollup.fold("max")(_.function) },
      col(ValueCol), col(WindowCol).getField("start").cast("double") * 1000)
  }

  /** One group-by (window, rule, tenant, keys) computing each rule's function
    * of (value, tsMs) from one buffer, the value one CASE over the functions.
    * Slots are in name order, not config order: a streaming checkpoint's
    * state rows are matched to the buffer by position, so reordering the
    * rules must not reorder the buffer.
    *
    * An arrival-order function's value depends on the order its rows are
    * merged in, which Spark keeps only while a partition's aggregate holds few
    * groups (past `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * it merges later rows before earlier ones). So each rule using one keeps
    * an aggregate of its own, as a one-rule plan has, in rule-name order:
    * other rules' groups do not count against the threshold, but the rule's
    * order still holds only up to 128 groups of its own per partition. */
  private def aggregateStage(df: DataFrame, window: Column, keys: Column,
      functions: Seq[(String, String)], value: Column, tsMs: Column): DataFrame = {
    val (own, shared) = functions.partition(f => FunctionCatalog.arrivalOrder(f._2))
    val function = ruleTable(functions)
    // a column, not a grouping expression: a watermark governs only a key
    // that is an attribute carrying the event-time metadata
    val keyed = df.withColumn("window_key", window)
    (shared +: own.sortBy(_._1).map(Seq(_))).filter(_.nonEmpty).map { fns =>
      val in =
        if (fns.size == functions.size) keyed
        else if (fns == shared) keyed.filter(!function.isin(FunctionCatalog.arrivalOrder.toSeq: _*))
        else keyed.filter(col(RuleCol) === fns.head._1)
      val fs = fns.map(_._2).distinct.sorted
      val slots = fs.flatMap(f => FunctionCatalog.slots(f, value, tsMs)).distinctBy(_._1)
        .sortBy(_._1).map { case (n, c) => c.as(s"slot_$n") }
      val values = fs.map(f => f -> FunctionCatalog.finish(f, n => col(s"slot_$n")))
      // the last function is the ELSE
      val result = if (values.size == 1) values.head._2
        else values.init.tail.foldLeft(when(function === values.head._1, values.head._2)) {
          case (c, (f, v)) => c.when(function === f, v)
        }.otherwise(values.last._2)
      in.groupBy(col("window_key").as(WindowCol), col(RuleCol), col(TenantCol), keys.as(KeysCol))
        .agg(slots.head, slots.tail: _*)
        .select(col(WindowCol), col(RuleCol), col(TenantCol), col(KeysCol), result.as(ValueCol))
    }.reduce(_ unionByName _)
  }

  /** Each row's tumbling window over `time`, of its own rule's `sizeUs` (so
    * a config may mix sizes), computed as window() computes it: start =
    * t − pmod(t, size) in µs, a window column read at its last instant. It
    * keeps `time`'s event-time metadata, so the watermark governs it. */
  private def windowKey(df: DataFrame, time: String, sizeUs: Column): Column = {
    val t = if (!df.schema(time).dataType.isInstanceOf[StructType]) unix_micros(col(time))
      else unix_micros(col(time).getField("end")) - 1
    val start = t - pmod(t, sizeUs)
    struct(timestamp_micros(start).as("start"), timestamp_micros(start + sizeUs).as("end"))
      .as(WindowCol, df.schema(time).metadata)
  }

  /** Stage 4: envelope projection (P1–P3, aggregation/metric_holder.go:44-64):
    * timestamp = window START in ms (aggregation/aggregation_rule.go:73), meta =
    * {tenantId → key}, creation_time the wall clock at emission (server.go:228).
    * Dimensions: the filtered ones sorted by key, then the emitted grouped
    * keys in declared order; a key in both takes the grouped (actual) value,
    * as the reference's map overwrite does (aggregation/metric_holder.go:49-59). */
  private def project(specs: Seq[AggregationSpec])(df: DataFrame): DataFrame = {
    val emit = ruleTable(specs.map { s =>
      val emitted = emittedDims(s)
      val fixed = s.filteredDimensions.toSeq.filterNot(d => emitted.contains(d._1)).sortBy(_._1)
      s.name -> Emit(s.aggregatedMetricName, fixed.map(_._1) ++ emitted, fixed.map(_._2))
    })
    df.select(
      struct(
        emit("name").as("name"),
        map_from_arrays(emit("dimKeys"), concat(emit("fixedValues"), col(KeysCol))).as("dimensions"),
        (col(WindowCol).getField("start").cast("double") * 1000).as("timestamp"),
        col(ValueCol).cast("double").as("value"),
        map().cast("map<string,string>").as("value_meta")).as("metric"),
      map(lit("tenantId"), col(TenantCol)).as("meta"),
      wallClockMs().as("creation_time"))
  }

  /** Epoch milliseconds when a row is computed: nondeterministic, so never
    * folded into a per-query literal. */
  private val wallClockMs = udf(() => System.currentTimeMillis()).asNondeterministic()

  private def emittedDims(spec: AggregationSpec): Seq[String] =
    spec.rollup.map(_.groupedDimensions).getOrElse(spec.groupedDimensions)

  /** Each row's rule's entry in a literal table of `rows`, keyed by rule name. */
  private def ruleTable[T: TypeTag](rows: Seq[(String, T)]): Column =
    typedLit(rows.toMap).apply(col(RuleCol))

  /** Grouped values are a state key that checkpoints hold as non-null. */
  private def nonNull(keys: Column): Column = coalesce(keys, keysArray(Nil))

  private def keysArray(values: Seq[Column]): Column =
    if (values.isEmpty) typedLit(Seq.empty[String]) else array(values: _*)

  private def keyColumns(dims: Seq[String]): Seq[Column] =
    dims.indices.map(i => col(KeysCol).getItem(i).as(dimCol(dims(i))))

  /** One rule's grouped values as `dim_<key>` columns. */
  private def dimColumns(dims: Seq[String])(df: DataFrame): DataFrame =
    df.select(Seq(col(WindowCol), col(TenantCol)) ++ keyColumns(dims) :+ col(ValueCol): _*)
}
