package graft

import graft.model.{AggregationSpec, Metric, MetricEnvelope, RollupSpec}
import graft.plan.RuleCompiler
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Batch semantics of the compiled rule plan against hand-computed fixtures,
  * including the reference publisher grid (tools/publisher.go:66-90) and the
  * §2.1 edge cases. */
class RuleCompilerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def env(name: String, dims: Map[String, String], tsMs: Double,
      value: Double, tenant: String = "tenant-a"): MetricEnvelope =
    MetricEnvelope(Metric(name, dims, tsMs, value, Map.empty),
      Map("tenantId" -> tenant), 0L)

  private def df(envs: MetricEnvelope*): DataFrame = envs.toDF()

  /** The publisher grid: 3 services × 2 hostnames, value 2.0, 1s cadence for
    * 10 s starting at an epoch-aligned boundary. */
  private def publisherGrid(startSec: Long = 1000000000L): Seq[MetricEnvelope] =
    for {
      tick <- 0 until 10
      service <- 0 until 3
      hostname <- 0 until 2
    } yield env("metric2",
      Map("service" -> service.toString, "hostname" -> hostname.toString),
      (startSec + tick) * 1000.0, 2.0)

  private val agg2 = AggregationSpec(name = "Aggregation2", function = "avg",
    filteredMetricName = "metric2",
    groupedDimensions = Seq("hostname", "service"),
    aggregatedMetricName = "aggregated-metric2")

  test("publisher grid → Aggregation2 yields 6 groups of avg 2.0 per window") {
    val out = RuleCompiler.compile(agg2, 10L)(df(publisherGrid(): _*))
      .select($"metric.name", $"metric.dimensions", $"metric.timestamp", $"metric.value")
      .collect()
    assert(out.length == 6)
    out.foreach { r =>
      assert(r.getString(0) == "aggregated-metric2")
      assert(r.getDouble(3) == 2.0)
      assert(r.getDouble(2) == 1000000000000.0) // window start ms
      val dims = r.getMap[String, String](1)
      assert(dims.keySet == Set("hostname", "service"))
    }
  }

  test("window assignment is epoch-aligned: floor(ts_ms / (1000*size))") {
    // timestamps straddling a 10s boundary land in different windows
    val envs = Seq(
      env("m", Map("h" -> "x"), 1000000009999.0, 1.0), // window idx 100000000
      env("m", Map("h" -> "x"), 1000000010000.0, 5.0)) // window idx 100000001
    val sp = agg2.copy(filteredMetricName = "m", groupedDimensions = Seq("h"),
      function = "sum")
    val out = RuleCompiler.compileGrouped(sp, 10L)(df(envs: _*))
      .select($"w.start".cast("long"), $"agg_value").as[(Long, Double)]
      .collect().toMap
    assert(out == Map(1000000000L -> 1.0, 1000000010L -> 5.0))
  }

  test("F2 filtered dimensions: conjunctive equality, absent key fails") {
    val sp = agg2.copy(filteredMetricName = "m", groupedDimensions = Seq.empty,
      filteredDimensions = Map("svc" -> "a", "env" -> "prod"), function = "count")
    val envs = Seq(
      env("m", Map("svc" -> "a", "env" -> "prod"), 0.0, 1.0), // match
      env("m", Map("svc" -> "a", "env" -> "dev"), 0.0, 1.0),  // wrong value
      env("m", Map("svc" -> "a"), 0.0, 1.0))                  // missing key
    val out = RuleCompiler.compileGrouped(sp, 10L)(df(envs: _*)).collect()
    assert(out.length == 1 && out.head.getAs[Double]("agg_value") == 1.0)
  }

  test("F3 rejected dimensions: value match rejects, \"\" rejects any value") {
    val sp = agg2.copy(filteredMetricName = "m", groupedDimensions = Seq.empty,
      rejectedDimensions = Map("bad" -> "1", "blocked" -> ""), function = "count")
    val envs = Seq(
      env("m", Map("ok" -> "1"), 0.0, 1.0),                // kept
      env("m", Map("bad" -> "1"), 0.0, 1.0),               // rejected: value match
      env("m", Map("bad" -> "2"), 0.0, 1.0),               // kept: value differs
      env("m", Map("blocked" -> "anything"), 0.0, 1.0))    // rejected: wildcard
    val out = RuleCompiler.compileGrouped(sp, 10L)(df(envs: _*)).collect()
    assert(out.length == 1 && out.head.getAs[Double]("agg_value") == 2.0)
  }

  test("F4 grouped-key presence: rows missing a grouped dim are filtered, not null-grouped") {
    val envs = Seq(
      env("metric2", Map("hostname" -> "h", "service" -> "s"), 0.0, 2.0),
      env("metric2", Map("hostname" -> "h"), 0.0, 99.0)) // no `service` → dropped
    val out = RuleCompiler.compileGrouped(agg2, 10L)(df(envs: _*)).collect()
    assert(out.length == 1 && out.head.getAs[Double]("agg_value") == 2.0)
  }

  test("nil dimensions map: dropped by rules declaring rejectedDimensions, kept otherwise") {
    // reference: RejectedDimensions != nil && Dimensions == nil → no match
    // (aggregation_rule.go:157-160); a rule with NO dimension predicates at
    // all accepts nil-dims metrics (only the name filter applies)
    val nilDims = Seq(MetricEnvelope(
      Metric("m", null, 0.0, 1.0, Map.empty), Map("tenantId" -> "t"), 0L))
    val rejecting = agg2.copy(filteredMetricName = "m", groupedDimensions = Seq.empty,
      rejectedDimensions = Map("bad" -> "1", "blocked" -> ""), function = "count")
    assert(RuleCompiler.compileGrouped(rejecting, 10L)(df(nilDims: _*)).collect().isEmpty)
    val nameOnly = agg2.copy(filteredMetricName = "m", groupedDimensions = Seq.empty,
      function = "count")
    val out = RuleCompiler.compileGrouped(nameOnly, 10L)(df(nilDims: _*)).collect()
    assert(out.length == 1 && out.head.getAs[Double]("agg_value") == 1.0)
  }

  test("JSON with missing fields parses to Go zero values, nil dims stay null") {
    import graft.sources.EnvelopeJson
    val raw = Seq(
      """{"metric": {"name": "m"}}""",
      """{"metric": {"value": 7.5, "timestamp": 1000.0}}""").toDF("value")
    val rows = EnvelopeJson.parse(raw)
      .select($"metric.name", $"metric.timestamp", $"metric.value",
        $"metric.dimensions".isNull, $"creation_time")
      .as[(String, Double, Double, Boolean, Long)].collect().toSet
    assert(rows == Set(
      ("m", 0.0, 0.0, true, 0L),
      ("", 1000.0, 7.5, true, 0L)))
  }

  test("rollup re-aggregates group results with an independent function") {
    // per-host avg → per-service sum (docs/aggregations.md:61-71 example)
    val sp = AggregationSpec(name = "Aggregation3", function = "avg",
      filteredMetricName = "m", groupedDimensions = Seq("hostname", "service"),
      aggregatedMetricName = "agg3",
      rollup = Some(RollupSpec("sum", Seq("service"))))
    val envs = Seq(
      env("m", Map("hostname" -> "h1", "service" -> "s"), 0.0, 2.0),
      env("m", Map("hostname" -> "h1", "service" -> "s"), 1000.0, 4.0), // h1 avg 3
      env("m", Map("hostname" -> "h2", "service" -> "s"), 2000.0, 5.0)) // h2 avg 5
    val out = RuleCompiler.compile(sp, 10L)(df(envs: _*))
      .select($"metric.value", $"metric.dimensions").collect()
    assert(out.length == 1)
    assert(out.head.getDouble(0) == 8.0) // sum of host avgs
    assert(out.head.getMap[String, String](1).keySet == Set("service"))
  }

  test("rollup windows must be a multiple of the rule window") {
    val sp = agg2.copy(rollup = Some(RollupSpec("sum", Seq.empty, Some(90L))))
    val e = intercept[IllegalArgumentException] {
      RuleCompiler.compileGrouped(sp, 60L)(df(publisherGrid(): _*))
    }
    assert(e.getMessage.contains("must be a multiple"))
    // equal and exact-multiple sizes are fine
    RuleCompiler.compileGrouped(
      sp.copy(rollup = Some(RollupSpec("sum", Seq.empty, Some(120L)))), 60L)(
      df(publisherGrid(): _*)).collect()
  }

  test("tenantId partitions groups and is reconstructed in output meta") {
    val envs = Seq(
      env("metric2", Map("hostname" -> "h", "service" -> "s"), 0.0, 1.0, tenant = "t1"),
      env("metric2", Map("hostname" -> "h", "service" -> "s"), 0.0, 3.0, tenant = "t2"))
    val out = RuleCompiler.compile(agg2, 10L)(df(envs: _*))
      .select($"meta".getItem("tenantId"), $"metric.value").as[(String, Double)]
      .collect().toMap
    assert(out == Map("t1" -> 1.0, "t2" -> 3.0))
  }

  test("a dim both filtered and grouped emits once with the actual value (no duplicate key)") {
    val sp = agg2.copy(filteredDimensions = Map("service" -> "s"),
      groupedDimensions = Seq("hostname", "service"))
    val envs = Seq(env("metric2", Map("hostname" -> "h", "service" -> "s"), 0.0, 2.0))
    val dims = RuleCompiler.compile(sp, 10L)(df(envs: _*))
      .select($"metric.dimensions").as[Map[String, String]].head()
    assert(dims == Map("hostname" -> "h", "service" -> "s"))
  }

  test("output envelope carries filtered dims plus grouped dim values") {
    val sp = agg2.copy(filteredDimensions = Map("env" -> "prod"))
    val envs = Seq(env("metric2",
      Map("hostname" -> "h", "service" -> "s", "env" -> "prod"), 0.0, 2.0))
    val dims = RuleCompiler.compile(sp, 10L)(df(envs: _*))
      .select($"metric.dimensions").as[Map[String, String]].head()
    assert(dims == Map("env" -> "prod", "hostname" -> "h", "service" -> "s"))
  }

  test("creation_time is the wall clock when a row is emitted, not when the plan was built") {
    val out = RuleCompiler.compileAll(Seq(agg2 -> 10L, agg2.copy(name = "Count",
      function = "count", aggregatedMetricName = "count-metric2") -> 10L))(df(publisherGrid(): _*))
    out.queryExecution.executedPlan
    Thread.sleep(20)
    val from = System.currentTimeMillis()
    val stamps = out.collect().map(_.getAs[Long]("creation_time"))
    val to = System.currentTimeMillis()
    assert(stamps.length == 12)
    assert(stamps.forall(t => from <= t && t <= to), s"${stamps.toSeq} outside [$from, $to]")
  }

  test("a config of every function emits each rule's own rows") {
    // one rule per function over the same rows, plus a percentile rollup: 168
    // groups, past the object aggregate's sort fallback; one partition keeps
    // the arrival-order functions' input order fixed
    val rules = graft.functions.FunctionCatalog.names.toSeq.sorted.map(f =>
      agg2.copy(name = s"rule-$f", function = f, aggregatedMetricName = s"agg-$f")) :+
      agg2.copy(name = "rollup-p50", function = "delta", aggregatedMetricName = "agg-rollup",
        rollup = Some(RollupSpec("p50", Seq("service"))))
    val input = df((for (tick <- 0 until 10; s <- 0 until 3; h <- 0 until 2) yield
      env("metric2", Map("service" -> s.toString, "hostname" -> h.toString),
        (1000000000L + tick) * 1000.0, ((tick * 7 + s * 3 + h) % 5).toDouble)): _*).coalesce(1)
    def rows(out: DataFrame) =
      out.select($"metric.name", $"metric.dimensions", $"metric.timestamp", $"metric.value")
        .as[(String, Map[String, String], Double, Double)].collect().toSeq
    val all = rows(RuleCompiler.compileAll(rules.map(_ -> 5L))(input))
    assert(all.map(_._1).toSet == rules.map(_.aggregatedMetricName).toSet)
    assert(all.sortBy(_.toString) ==
      rules.flatMap(r => rows(RuleCompiler.compile(r, 5L)(input))).sortBy(_.toString))
  }
}
