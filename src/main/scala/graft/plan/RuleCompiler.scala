package graft.plan

import graft.functions.FunctionCatalog
import graft.model.AggregationSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  private def dimCol(k: String) = s"dim_$k"

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
    matchRules(Seq(spec))(df).select(col("*") +: keyColumns(spec.groupedDimensions): _*)

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
    * per parsed message (server.go:316-320), declaratively: 1. one scan and
    * parse, each envelope exploded into one row per rule it matches; 2. one
    * group-by (window, rule, tenant, grouped values) over one buffer of the
    * slots the config's functions read ([[FunctionCatalog.slots]]), and one
    * for each rule with an arrival-order function;
    * 3. if any rule has a rollup, a second group-by for every rule (a rule
    * without one passes through a one-row identity group); 4. each rule's
    * projection, by a CASE on the rule name. So one exchange per aggregate
    * stage, whatever the number of rules. Rules may differ in window size;
    * rule names key the plan and must be unique. */
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
    val names = specs.map(_._1.name)
    require(names.nonEmpty && names.distinct.size == names.size,
      s"unique rule names required: $names")
    // window() drops rows without an event time; so must a per-rule window
    val matched = matchRules(specs.map(_._1))(df).filter(col("event_ts").isNotNull)
    val rows = watermarkLagSec.fold(matched)(lag => matched.withWatermark("event_ts", s"$lag seconds"))
    val grouped = aggregateStage(rows,
      windowKey(rows, "event_ts", specs.map { case (s, w) => s.name -> w }), col(KeysCol),
      specs.map { case (s, _) => s.name -> s.function }, col("value"), col("ts_ms"))
    if (specs.exists(_._1.rollup.isDefined)) rollupRules(specs)(grouped) else grouped
  }

  /** Stage 1: one row per (envelope, rule it matches), F1–F4 by
    * [[matchPredicate]] behind one pushed-down `metric.name IN (...)`. */
  private def matchRules(specs: Seq[AggregationSpec])(df: DataFrame): DataFrame = {
    val rules = array(specs.map(s => when(matchPredicate(s), lit(s.name))): _*)
    df.filter(col("metric.name").isin(specs.map(_.filteredMetricName).distinct: _*))
      .select(explode(filter(rules, _.isNotNull)).as(RuleCol), col("metric.dimensions").as("dims"),
        coalesce(col("meta").getItem("tenantId"), lit("")).as(TenantCol),
        (col("metric.timestamp") / 1000).cast("timestamp").as("event_ts"),
        col("metric.timestamp").as("ts_ms"), col("metric.value").as("value"))
      .select(col(RuleCol), col(TenantCol), col("event_ts"), col("ts_ms"), col("value"),
        byRule(specs.map(s => s.name ->
          keysArray(s.groupedDimensions.map(col("dims").getItem)))).as(KeysCol))
  }

  /** Stage 3: re-aggregate each rule's rows by its rollup key (⊆ grouped
    * dims) with the rollup's function (aggregation/aggregation_rule.go:86-134),
    * at the window start as event time (aggregation/aggregation_rule.go:73,117). */
  private def rollupRules(specs: Seq[(AggregationSpec, Long)])(df: DataFrame): DataFrame = {
    // a coarse window not aligned to the rule's would take data from outside its bounds
    for ((s, w) <- specs; rw <- s.rollup.flatMap(_.windowSizeSec))
      require(rw >= w && rw % w == 0,
        s"Rule ${s.name}: rollup.windowSize ($rw s) must be a multiple of the rule window ($w s)")
    val keys = byRule(specs.map { case (s, _) =>
      s.name -> s.rollup.fold(col(KeysCol))(r => keysArray(
        r.groupedDimensions.map(k => col(KeysCol).getItem(s.groupedDimensions.indexOf(k)))))
    })
    // graft extension: a rollup may re-window into COARSER tumbling windows
    val window = windowKey(df, WindowCol, specs.map { case (s, w) =>
      s.name -> s.rollup.flatMap(_.windowSizeSec).getOrElse(w) })
    aggregateStage(df, window, keys,
      specs.map { case (s, _) => s.name -> s.rollup.fold("max")(_.function) },
      col(ValueCol), col(WindowCol).getField("start").cast("double") * 1000)
  }

  /** One group-by (window, rule, tenant, keys) computing each rule's function
    * of (value, tsMs) from one buffer. Slots are in name order, not config
    * order: a streaming checkpoint's state rows are matched to the buffer by
    * position, so reordering the rules must not reorder the buffer.
    *
    * An arrival-order function's value depends on the order its rows are
    * merged in, which Spark keeps only while a partition's aggregate holds few
    * groups (past `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * it merges later rows before earlier ones). So each rule using one keeps
    * an aggregate of its own, as a one-rule plan has, in rule-name order. */
  private def aggregateStage(df: DataFrame, window: Column, keys: Column,
      functions: Seq[(String, String)], value: Column, tsMs: Column): DataFrame = {
    val (own, shared) = functions.partition(f => FunctionCatalog.arrivalOrder(f._2))
    // a column, not a grouping expression: a watermark governs only a key
    // that is an attribute carrying the event-time metadata
    val keyed = df.withColumn("window_key", window)
    (shared +: own.sortBy(_._1).map(Seq(_))).filter(_.nonEmpty).map { fns =>
      val in =
        if (fns.size == functions.size) keyed else keyed.filter(col(RuleCol).isin(fns.map(_._1): _*))
      val slots = fns.flatMap(f => FunctionCatalog.slots(f._2, value, tsMs)).distinctBy(_._1)
        .sortBy(_._1).map { case (n, c) => c.as(s"slot_$n") }
      in.groupBy(col("window_key").as(WindowCol), col(RuleCol), col(TenantCol), keys.as(KeysCol))
        .agg(slots.head, slots.tail: _*)
        .select(col(WindowCol), col(RuleCol), col(TenantCol), col(KeysCol),
          byRule(fns.map { case (r, f) => r -> FunctionCatalog.finish(f, n => col(s"slot_$n")) })
            .as(ValueCol))
    }.reduce(_ unionByName _)
  }

  /** Each row's tumbling window over `time`, of its own rule's size (so a
    * config may mix sizes), computed as window() computes it: start =
    * t − pmod(t, size) in µs, a window column read at its last instant. It
    * keeps `time`'s event-time metadata, so the watermark governs it. */
  private def windowKey(df: DataFrame, time: String, sizes: Seq[(String, Long)]): Column = {
    val t = if (!df.schema(time).dataType.isInstanceOf[StructType]) unix_micros(col(time))
      else unix_micros(col(time).getField("end")) - 1
    val size = byRule(sizes.map { case (r, s) => r -> lit(s * 1000000L) })
    val start = t - pmod(t, size)
    struct(timestamp_micros(start).as("start"), timestamp_micros(start + size).as("end"))
      .as(WindowCol, df.schema(time).metadata)
  }

  /** Stage 4: envelope projection (P1–P3, aggregation/metric_holder.go:44-64):
    * timestamp = window START in ms (aggregation/aggregation_rule.go:73), meta =
    * {tenantId → key}, creation_time stamped at emission (server.go:228). */
  private def project(specs: Seq[AggregationSpec])(df: DataFrame): DataFrame =
    df.select(
      struct(
        byRule(specs.map(s => s.name -> lit(s.aggregatedMetricName))).as("name"),
        byRule(specs.map(s => s.name -> dimensions(s))).as("dimensions"),
        (col(WindowCol).getField("start").cast("double") * 1000).as("timestamp"),
        col(ValueCol).cast("double").as("value"),
        map().cast("map<string,string>").as("value_meta")).as("metric"),
      map(lit("tenantId"), col(TenantCol)).as("meta"),
      unix_millis(current_timestamp()).as("creation_time"))

  /** Filtered dimensions sorted by key, then the emitted grouped keys in
    * declared order; a key in both takes the grouped (actual) value, as the
    * reference's map overwrite does (aggregation/metric_holder.go:49-59). */
  private def dimensions(spec: AggregationSpec): Column = {
    val emitted = emittedDims(spec)
    val entries = spec.filteredDimensions.toSeq
      .filterNot { case (k, _) => emitted.contains(k) }.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) } ++
      emitted.indices.flatMap(i => Seq(lit(emitted(i)), col(KeysCol).getItem(i)))
    if (entries.isEmpty) map().cast("map<string,string>") else map(entries: _*)
  }

  private def emittedDims(spec: AggregationSpec): Seq[String] =
    spec.rollup.map(_.groupedDimensions).getOrElse(spec.groupedDimensions)

  private def keysArray(values: Seq[Column]): Column =
    if (values.isEmpty) typedLit(Seq.empty[String]) else array(values: _*)

  private def keyColumns(dims: Seq[String]): Seq[Column] =
    dims.indices.map(i => col(KeysCol).getItem(i).as(dimCol(dims(i))))

  /** One rule's grouped values as `dim_<key>` columns. */
  private def dimColumns(dims: Seq[String])(df: DataFrame): DataFrame =
    df.select(Seq(col(WindowCol), col(TenantCol)) ++ keyColumns(dims) :+ col(ValueCol): _*)

  /** Each rule's column, picked by the row's rule name (the last is the ELSE). */
  private def byRule(cases: Seq[(String, Column)]): Column =
    if (cases.size == 1) cases.head._2
    else cases.init.tail.foldLeft(when(col(RuleCol) === cases.head._1, cases.head._2)) {
      case (c, (rule, v)) => c.when(col(RuleCol) === rule, v)
    }.otherwise(cases.last._2)
}
