package graft

import graft.model.{AggregationSpec, Metric, MetricEnvelope, RollupSpec}
import graft.streaming.StreamRunner
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Streaming end-to-end through MemoryStream: append-mode emission on
  * watermark advance, late-data drop, and the chained-stateful rollup —
  * the streaming analog of the reference's publisher scenario
  * (tools/publisher.go + config windowSize=10s windowLag=2s). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def env(name: String, dims: Map[String, String], tsMs: Double,
      value: Double): MetricEnvelope =
    MetricEnvelope(Metric(name, dims, tsMs, value, Map.empty),
      Map("tenantId" -> "tenant-a"), 0L)

  private val agg2 = AggregationSpec(name = "Aggregation2", function = "avg",
    filteredMetricName = "metric2",
    groupedDimensions = Seq("hostname", "service"),
    aggregatedMetricName = "aggregated-metric2")

  /** Run a compiled streaming rule over batches of envelopes, return the
    * emitted (dims, value, tsMs) rows from the append-mode sink. */
  private def runStream(spec: AggregationSpec, windowSizeSec: Long,
      lagSec: Long, batches: Seq[Seq[MetricEnvelope]],
      queryName: String): Seq[(Map[String, String], Double, Double)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[MetricEnvelope]
    val out = StreamRunner.buildStreaming(spec, windowSizeSec, lagSec)(input.toDF())
    val q = out.writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(queryName)
        .select($"metric.dimensions", $"metric.value", $"metric.timestamp")
        .as[(Map[String, String], Double, Double)].collect().toSeq
    } finally q.stop()
  }

  test("publisher grid: each closed 10s window emits 6 groups of avg 2.0", SlowTest) {
    val base = 1000000000L // epoch-aligned seconds
    val grid = for {
      tick <- 0 until 10; service <- 0 until 3; host <- 0 until 2
    } yield env("metric2",
      Map("service" -> service.toString, "hostname" -> host.toString),
      (base + tick) * 1000.0, 2.0)
    // second batch advances event time past window end + lag → closes window 1
    val closer = Seq(env("metric2",
      Map("service" -> "0", "hostname" -> "0"), (base + 13) * 1000.0, 2.0))
    val rows = runStream(agg2, 10L, 2L, Seq(grid, closer), "pub_grid")
    assert(rows.length == 6)
    assert(rows.forall(_._2 == 2.0))
    assert(rows.forall(_._3 == base * 1000.0)) // output ts = window start ms
    assert(rows.map(_._1).toSet ==
      (for (s <- 0 until 3; h <- 0 until 2)
        yield Map("service" -> s.toString, "hostname" -> h.toString)).toSet)
  }

  test("data later than the watermark is dropped (divergence §2.1.4: no resurrection)", SlowTest) {
    val base = 2000000000L
    val batches = Seq(
      Seq(env("metric2", Map("service" -> "0", "hostname" -> "0"), base * 1000.0, 2.0)),
      // advance watermark far past the first window
      Seq(env("metric2", Map("service" -> "0", "hostname" -> "0"), (base + 100) * 1000.0, 4.0)),
      // late point for the first (already emitted) window → must be dropped
      Seq(env("metric2", Map("service" -> "0", "hostname" -> "0"), (base + 1) * 1000.0, 999.0)),
      // close the second window too
      Seq(env("metric2", Map("service" -> "0", "hostname" -> "0"), (base + 200) * 1000.0, 6.0)))
    val rows = runStream(agg2, 10L, 2L, batches, "late_drop")
    val byWindow = rows.map(r => r._3 -> r._2).toMap
    assert(byWindow(base * 1000.0) == 2.0) // late 999.0 never re-emitted
    assert(byWindow((base + 100) * 1000.0) == 4.0)
  }

  test("publisher rate stream has the reference grid shape (S4)", SlowTest) {
    val out = StreamRunner.publisherStream(spark, rowsPerSecond = 60)
    val q = out.writeStream.format("memory").queryName("pub_src")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (spark.table("pub_src").isEmpty && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(200)
      }
      import spark.implicits._
      val rows = spark.table("pub_src")
        .select($"metric.name", $"metric.dimensions", $"metric.value")
        .as[(String, Map[String, String], Double)].collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_._1 == "metric2"))
      assert(rows.forall(_._3 == 2.0))
      assert(rows.forall { case (_, d, _) =>
        d.keySet == Set("service", "hostname") &&
          d("service").toInt >= 0 && d("service").toInt < 3 &&
          d("hostname").toInt >= 0 && d("hostname").toInt < 2
      })
    } finally q.stop()
  }

  test("arrival-order delta/rate golden stream replicates reference first/last semantics", SlowTest) {
    // one envelope per micro-batch = strict, reproducible arrival order; the
    // arrival sequence deliberately disagrees with event-time order (the
    // earliest-timestamped point arrives SECOND), so the reference's
    // first-processed/last-processed semantics (aggregation/delta_metric.go:
    // 28-30) produce a different answer than the event-time default
    val base = 3000000000L
    val dims = Map("service" -> "0", "hostname" -> "0")
    val batches = Seq(
      Seq(env("metric2", dims, (base + 5) * 1000.0, 2.0)), // first arrival
      Seq(env("metric2", dims, (base + 1) * 1000.0, 6.0)), // earliest event time
      Seq(env("metric2", dims, (base + 7) * 1000.0, 3.0)), // last arrival
      Seq(env("metric2", dims, (base + 13) * 1000.0, 9.9))) // next window: closes w1
    val drows = runStream(
      agg2.copy(name = "ArrDelta", function = "delta_arrival",
        aggregatedMetricName = "delta-arrival"), 10L, 2L, batches, "arr_delta")
    // reference: last-arrived − first-arrived = 3.0 − 2.0 (event-time order
    // would give 3.0 − 6.0 = −3.0)
    assert(drows == Seq((dims, 1.0, base * 1000.0)))
    val rrows = runStream(
      agg2.copy(name = "ArrRate", function = "rate_arrival",
        aggregatedMetricName = "rate-arrival"), 10L, 2L, batches, "arr_rate")
    val expRate = (3.0 - 2.0) / ((((base + 7) * 1000.0) - ((base + 5) * 1000.0)) / 1000.0)
    assert(rrows == Seq((dims, expRate, base * 1000.0)))
  }

  test("arrival-order single-point degenerates survive streaming state (kept reference bug)", SlowTest) {
    // a window that only ever saw one point was never UpdateValue'd in the
    // reference: delta = 0 − v, rate = v·1000/ts (SURVEY §2.1.1)
    val base = 3100000000L
    val dims = Map("service" -> "0", "hostname" -> "0")
    val tsMs = (base + 5) * 1000.0
    val batches = Seq(
      Seq(env("metric2", dims, tsMs, 42.0)),
      Seq(env("metric2", dims, (base + 13) * 1000.0, 1.0)))
    val drows = runStream(
      agg2.copy(name = "ArrDelta1", function = "delta_arrival",
        aggregatedMetricName = "delta-arrival"), 10L, 2L, batches, "arr_delta1")
    assert(drows == Seq((dims, -42.0, base * 1000.0)))
    val rrows = runStream(
      agg2.copy(name = "ArrRate1", function = "rate_arrival",
        aggregatedMetricName = "rate-arrival"), 10L, 2L, batches, "arr_rate1")
    assert(rrows == Seq((dims, (0.0 - 42.0) / ((0.0 - tsMs) / 1000.0), base * 1000.0)))
  }

  test("streaming heavy hitters: top-k emitted once when the watermark closes the window", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 3200000000L
    def ev(user: String, sec: Long) = env("metric2",
      Map("user_id" -> user, "service" -> "0", "hostname" -> "0"),
      (base + sec) * 1000.0, 1.0)
    val input = MemoryStream[MetricEnvelope]
    val out = graft.operators.HeavyHitters.byWindowStreaming(
      input.toDF(), windowSizeSec = 10L, dimKey = "user_id", k = 2, lagSec = 2L)
    val q = out.writeStream.format("memory").queryName("hh_stream")
      .outputMode("append").start()
    try {
      // window [base, base+10): a×3, b×2, c×1
      input.addData(Seq(ev("a", 1), ev("b", 2), ev("a", 3)))
      q.processAllAvailable()
      input.addData(Seq(ev("c", 4), ev("a", 5), ev("b", 6)))
      q.processAllAvailable()
      assert(spark.table("hh_stream").count() == 0) // window still open
      // advance the watermark past window end + lag → exactly-once emission
      input.addData(Seq(ev("z", 20)))
      q.processAllAvailable()
      val rows = spark.table("hh_stream")
        .as[(Long, String, String, Long, Long)].collect().toSet
      assert(rows == Set(
        (base, "tenant-a", "a", 3L, 1L),
        (base, "tenant-a", "b", 2L, 2L)))
      // advancing further must not re-emit window 1 (state removed on
      // timeout); the z-probe's own later window emitting is expected
      input.addData(Seq(ev("z", 40)))
      q.processAllAvailable()
      assert(spark.table("hh_stream")
        .filter($"window_start" === base).count() == 2)
    } finally q.stop()
  }

  test("streaming heavy hitters: space-saving cap keeps frequent values under eviction", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 3300000000L
    def ev(user: String, sec: Long) = env("metric2",
      Map("user_id" -> user, "service" -> "0", "hostname" -> "0"),
      (base + sec) * 1000.0, 1.0)
    val input = MemoryStream[MetricEnvelope]
    // maxTracked=3 forces evictions: "hot" (×20) must survive a parade of 10
    // one-off values. Intra-group fold order is NOT an API guarantee, so the
    // assertions stick to order-independent space-saving properties: the
    // truly frequent value wins rank 1, its estimate never undercounts
    // (count inheritance only ever adds), and the overestimate is bounded by
    // what 10 churned singletons can bequeath
    val out = graft.operators.HeavyHitters.byWindowStreaming(
      input.toDF(), windowSizeSec = 10L, dimKey = "user_id", k = 1,
      lagSec = 2L, maxTracked = 3)
    val q = out.writeStream.format("memory").queryName("hh_cap")
      .outputMode("append").start()
    try {
      input.addData(Seq.fill(20)(ev("hot", 1)) ++ (1 to 10).map(i => ev(s"one$i", 2)))
      q.processAllAvailable()
      input.addData(Seq(ev("z", 20))) // close window 1
      q.processAllAvailable()
      val top = spark.table("hh_cap").filter($"window_start" === base)
        .select($"value", $"n", $"rank").as[(String, Long, Long)].collect().toSeq
      assert(top.length == 1 && top.head._1 == "hot" && top.head._3 == 1L,
        s"expected hot at rank 1, got $top")
      assert(top.head._2 >= 20L && top.head._2 <= 31L,
        s"estimate ${top.head._2} outside space-saving bounds [20, 31]")
    } finally q.stop()
  }

  test("streaming windowed cardinality: HLL sketch emitted on window close", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 3400000000L
    def ev(user: String, sec: Long) = env("metric2",
      Map("user_id" -> user, "service" -> "0", "hostname" -> "0"),
      (base + sec) * 1000.0, 1.0)
    val input = MemoryStream[MetricEnvelope]
    val out = graft.operators.HeavyHitters.approxDistinctByWindowStreaming(
      input.toDF(), windowSizeSec = 10L, dimKey = "user_id", lagSec = 2L)
    val q = out.writeStream.format("memory").queryName("hh_card")
      .outputMode("append").start()
    try {
      // 40 distinct users, each twice, split across two batches
      input.addData((1 to 40).map(i => ev(s"u$i", 1)))
      q.processAllAvailable()
      input.addData((1 to 40).map(i => ev(s"u$i", 5)))
      q.processAllAvailable()
      assert(spark.table("hh_card").isEmpty) // window still open
      input.addData(Seq(ev("z", 20)))
      q.processAllAvailable()
      val n = spark.table("hh_card").filter($"window_start" === base)
        .select($"n_distinct").as[Long].head()
      // HLL at rsd=0.05: generous 3σ-ish bound around 40
      assert(math.abs(n - 40L) <= 6, s"HLL estimate $n too far from 40")
    } finally q.stop()
  }

  test("streaming sessionization: sessions close when the watermark passes the gap", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val input = MemoryStream[MetricEnvelope]
    val base = 1000000000L
    def e(tsSec: Long, u: String, v: Double) = env("m", Map("user_id" -> u),
      tsSec * 1000.0, v)
    val withWm = graft.operators.Sessions
      .sessionizeStreaming(input.toDF(), gapSec = 60L, lagSec = 5L)
      .select((col("session_start_us") / 1000000L).cast("long").as("s"), col("key"),
        col("n_events"), col("sum_value"))
    val q = withWm.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // u1: two events 30 s apart (one session); u2: one event
      input.addData(Seq(e(base, "u1", 1.0), e(base + 30, "u1", 2.0), e(base, "u2", 5.0)))
      q.processAllAvailable()
      // advance event time far past gap + lateness → all sessions close
      input.addData(Seq(e(base + 1000, "u3", 9.0)))
      q.processAllAvailable()
      val rows = spark.table("sess_stream")
        .as[(Long, String, Long, Double)].collect().toSet
      assert(rows == Set((base, "u1", 2L, 3.0), (base, "u2", 1L, 5.0)))
    } finally q.stop()
  }

  test("windowed aggregation runs on the RocksDB state store (EngineConfig default)", SlowTest) {
    val conf = graft.spec.EngineConfig()
    assert(conf.stateStore == "rocksdb")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, conf.stateStoreProviderClass)
    try {
      val base = 2000000000L
      val rows = runStream(agg2, 10L, 2L, Seq(
        Seq(env("metric2", Map("hostname" -> "h", "service" -> "s"), base * 1000.0, 4.0),
          env("metric2", Map("hostname" -> "h", "service" -> "s"), (base + 1) * 1000.0, 6.0)),
        Seq(env("metric2", Map("hostname" -> "h", "service" -> "s"), (base + 30) * 1000.0, 1.0))),
        "rocksdb_stream")
      assert(rows == Seq((Map("hostname" -> "h", "service" -> "s"), 5.0, base * 1000.0)))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("observability listener counts input rows and flags stalled queries") {
    import graft.streaming.Observability
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val obs = Observability.attach(spark, windowSizeSec = 1)
    val input = MemoryStream[MetricEnvelope]
    val out = StreamRunner.buildStreaming(agg2, 10L, 2L)(input.toDF())
    val q = out.writeStream.format("memory").queryName("obs_q")
      .outputMode("append").start()
    try {
      val base = 4000000000L
      input.addData(Seq(
        env("metric2", Map("service" -> "0", "hostname" -> "0"), base * 1000.0, 2.0),
        env("metric2", Map("service" -> "0", "hostname" -> "0"), (base + 50) * 1000.0, 2.0)))
      q.processAllAvailable()
      // listener events are delivered asynchronously; wait for the counter
      val deadline = System.currentTimeMillis() + 10000
      while (obs.snapshot.get("obs_q").forall(_._1 == 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val (in, _) = obs.snapshot("obs_q")
      assert(in >= 2) // both rows counted (O3 in_messages)
      // O2: a RUNNING query with silence exceeding one windowSize is stalled
      assert(obs.stalledQueries(System.currentTimeMillis() + 60000).contains("obs_q"))
      q.stop()
      val deadline2 = System.currentTimeMillis() + 10000
      while (obs.stalledQueries(System.currentTimeMillis() + 60000).contains("obs_q") &&
        System.currentTimeMillis() < deadline2) Thread.sleep(100)
      // terminated queries keep counters but never read as stalled
      assert(!obs.stalledQueries(System.currentTimeMillis() + 60000).contains("obs_q"))
      assert(obs.snapshot.contains("obs_q"))
    } finally { scala.util.Try(q.stop()); spark.streams.removeListener(obs) }
  }

  test("prometheus bridge serves the reference's two counters over HTTP") {
    import graft.streaming.Observability
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val obs = Observability.attach(spark, windowSizeSec = 1)
    val input = MemoryStream[MetricEnvelope]
    val out = StreamRunner.buildStreaming(agg2, 10L, 2L)(input.toDF())
    val q = out.writeStream.format("memory").queryName("prom_q")
      .outputMode("append").start()
    val port = obs.serveMetrics()
    try {
      val base = 4000000000L
      input.addData(Seq(
        env("metric2", Map("service" -> "0", "hostname" -> "0"), base * 1000.0, 2.0)))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 10000
      while (obs.snapshot.get("prom_q").forall(_._1 == 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      // scrape like Prometheus would: plain GET on /metrics
      val body = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port/metrics")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        try {
          assert(conn.getResponseCode == 200)
          assert(conn.getContentType.startsWith("text/plain"))
          new String(conn.getInputStream.readAllBytes(), "UTF-8")
        } finally conn.disconnect()
      }
      assert(body.contains("# TYPE graft_in_messages_total counter"), body)
      assert(body.contains("# TYPE graft_out_messages_total counter"), body)
      val in = """graft_in_messages_total\{query="prom_q"\} (\d+)""".r
      val got = in.findFirstMatchIn(body).map(_.group(1).toLong)
      assert(got.exists(_ >= 1), s"expected a nonzero in-counter for prom_q:\n$body")
      assert(body.contains("""graft_out_messages_total{query="prom_q"}"""), body)
    } finally {
      scala.util.Try(q.stop()); obs.stopMetrics()
      spark.streams.removeListener(obs)
    }
  }

  test("streaming rollup into coarser windows (re-windowed chained aggregation)", SlowTest) {
    val sp = AggregationSpec(name = "ReWindow", function = "avg",
      filteredMetricName = "m", groupedDimensions = Seq("hostname"),
      aggregatedMetricName = "agg_rw",
      rollup = Some(RollupSpec("sum", Seq.empty, Some(60L)))) // 10s → 1min
    val base = 6000000000L // minute-aligned
    val batches = Seq(
      Seq(
        env("m", Map("hostname" -> "h1"), base * 1000.0, 2.0),        // 10s win 1
        env("m", Map("hostname" -> "h1"), (base + 15) * 1000.0, 4.0), // 10s win 2
        env("m", Map("hostname" -> "h2"), (base + 25) * 1000.0, 6.0)),// 10s win 3
      Seq(env("m", Map("hostname" -> "h9"), (base + 300) * 1000.0, 1.0)),
      Seq(env("m", Map("hostname" -> "h9"), (base + 600) * 1000.0, 1.0)))
    val rows = runStream(sp, 10L, 2L, batches, "rewin_stream")
    val first = rows.filter(_._3 == base * 1000.0)
    assert(first.length == 1)
    assert(first.head._2 == 12.0) // sum of the three 10s sub-averages (2+4+6)
  }

  test("checkpoint recovery: restart resumes state without duplicate emission (O1)", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString
    val input = MemoryStream[MetricEnvelope]
    val base = 5000000000L
    // file sink: the memory sink refuses checkpoint recovery
    def start() = StreamRunner.buildStreaming(agg2, 10L, 2L)(input.toDF())
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    try {
      input.addData(Seq(
        env("metric2", Map("service" -> "0", "hostname" -> "0"), base * 1000.0, 2.0),
        env("metric2", Map("service" -> "0", "hostname" -> "0"), (base + 1) * 1000.0, 4.0)))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint; close the window with later data
    val q2 = start()
    try {
      input.addData(Seq(
        env("metric2", Map("service" -> "0", "hostname" -> "0"), (base + 60) * 1000.0, 8.0)))
      q2.processAllAvailable()
      input.addData(Seq(
        env("metric2", Map("service" -> "0", "hostname" -> "0"), (base + 120) * 1000.0, 1.0)))
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .select($"metric.timestamp", $"metric.value").as[(Double, Double)]
        .collect().toSeq
      // window 1 (avg of 2.0 and 4.0 — pre-restart state survived) emitted once
      assert(rows.filter(_._1 == base * 1000.0) == Seq((base * 1000.0, 3.0)))
      // window 2 emitted once after the restart
      assert(rows.filter(_._1 == (base + 60) * 1000.0) == Seq(((base + 60) * 1000.0, 8.0)))
    } finally q2.stop()
  }

  test("streaming heavy hitters: flatMapGroupsWithState state survives checkpoint restart", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hh-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-hh-out").toString
    val input = MemoryStream[MetricEnvelope]
    val base = 5100000000L
    def ev(user: String, sec: Long) = env("metric2",
      Map("user_id" -> user, "service" -> "0", "hostname" -> "0"),
      (base + sec) * 1000.0, 1.0)
    def start() = graft.operators.HeavyHitters.byWindowStreaming(
        input.toDF(), windowSizeSec = 10L, dimKey = "user_id", k = 2, lagSec = 2L)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // pre-restart counts: a×2, b×1 — kept only in the custom state store
    val q1 = start()
    try {
      input.addData(Seq(ev("a", 1), ev("b", 2), ev("a", 3)))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart; add one more b and close the window — the emitted top-k must
    // reflect PRE-restart counts merged with post-restart ones
    val q2 = start()
    try {
      input.addData(Seq(ev("b", 4), ev("a", 5)))
      q2.processAllAvailable()
      input.addData(Seq(ev("z", 20)))
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .filter($"window_start" === base)
        .select($"value", $"n", $"rank").as[(String, Long, Long)]
        .collect().toSet
      assert(rows == Set(("a", 3L, 1L), ("b", 2L, 2L)),
        s"state lost or duplicated across restart: $rows")
    } finally q2.stop()
  }

  test("streaming rollup: chained stateful aggregation in append mode", SlowTest) {
    val sp = AggregationSpec(name = "Aggregation3", function = "avg",
      filteredMetricName = "m", groupedDimensions = Seq("hostname", "service"),
      aggregatedMetricName = "agg3",
      rollup = Some(RollupSpec("sum", Seq("service"))))
    val base = 3000000000L
    val batches = Seq(
      Seq(
        env("m", Map("hostname" -> "h1", "service" -> "s"), base * 1000.0, 2.0),
        env("m", Map("hostname" -> "h1", "service" -> "s"), (base + 1) * 1000.0, 4.0),
        env("m", Map("hostname" -> "h2", "service" -> "s"), (base + 2) * 1000.0, 5.0)),
      Seq(env("m", Map("hostname" -> "h9", "service" -> "s"), (base + 60) * 1000.0, 1.0)),
      Seq(env("m", Map("hostname" -> "h9", "service" -> "s"), (base + 120) * 1000.0, 1.0)))
    val rows = runStream(sp, 10L, 2L, batches, "roll_stream")
    val first = rows.filter(_._3 == base * 1000.0)
    assert(first.length == 1)
    assert(first.head._2 == 8.0) // avg(2,4)=3 + avg(5)=5
    assert(first.head._1 == Map("service" -> "s"))
  }

  test("stream-stream interval join: clicks in the hour before each purchase, keyed state", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[MetricEnvelope]
    val ev = input.toDF().select(
      col("metric.name").as("name"),
      (col("metric.timestamp") / 1000).cast("timestamp").as("ts"),
      col("metric.dimensions").getItem("user_id").as("user"),
      col("metric.value").as("value"))
    val purchases = ev.filter(col("name") === "purchase")
      .select(col("user"), col("ts").as("p_ts"), col("value").as("p_value"))
    val clicks = ev.filter(col("name") === "click")
      .select(col("user").as("c_user"), col("ts").as("c_ts"),
        col("value").as("c_value"))
    val joined = graft.streaming.StreamJoins.intervalJoin(
      purchases, clicks, "user", "c_user", "p_ts", "c_ts",
      lookbackSec = 3600L, watermarkSec = 60L)
    val q = joined.writeStream.format("memory").queryName("sj_interval")
      .outputMode("append").start()
    try {
      val base = 1000000000L
      def e(name: String, user: String, tSec: Long, v: Double) =
        env(name, Map("user_id" -> user), (base + tSec) * 1000.0, v)
      input.addData(Seq(
        e("click", "u1", -1800, 1.0), // 30 min before → matches
        e("click", "u1", 0, 2.0), // same instant → inclusive match
        e("click", "u1", 600, 3.0), // AFTER the purchase → no match
        e("click", "u2", -60, 4.0), // right time, other user → no match
        e("click", "u1", -7200, 5.0), // 2 h before → outside lookback
        e("purchase", "u1", 0, 100.0)))
      q.processAllAvailable()
      val got = spark.table("sj_interval")
        .select($"p_value", $"c_value").as[(Double, Double)].collect().toSet
      assert(got == Set((100.0, 1.0), (100.0, 2.0)))
    } finally q.stop()
  }

  // ---- streaming dedup (round-12: the ingest story) ----

  private def docTs(sec: Long) = new java.sql.Timestamp(sec * 1000)

  test("streaming exact dedup: first fingerprint arrival survives, in-horizon duplicates drop") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = graft.streaming.StreamingDedup.exactDedupStream(
      input.toDF().toDF("doc_id", "text", "event_ts"), lagSec = 100L)
    val q = out.writeStream.format("memory").queryName("sd_exact")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        (1L, "alpha beta", docTs(10)),
        (2L, "gamma delta", docTs(11))))
      q.processAllAvailable()
      input.addData(Seq(
        (3L, "alpha beta", docTs(12)),  // exact dup of doc 1 -> dropped
        (4L, "epsilon zeta", docTs(13))))
      q.processAllAvailable()
      val kept = spark.table("sd_exact").select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 4L), s"got $kept")
    } finally q.stop()
  }

  test("streaming near-dup alerts: identical text alerts, distinct text and replays do not", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val out = graft.streaming.StreamingDedup.nearDupAlerts(
      input.toDF().toDF("doc_id", "text", "event_ts"),
      n = 3, k = 16, bands = 4, threshold = 0.5,
      lagSec = 5L, ttlSec = 100000L)
    val q = out.writeStream.format("memory").queryName("sd_alerts")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        (1L, base, docTs(10)),
        (2L, "completely different words about spark plans here", docTs(11))))
      q.processAllAvailable()
      input.addData(Seq(
        (3L, base, docTs(12)),              // identical -> est 1.0 alert vs 1
        (1L, base, docTs(13)),              // replay of doc 1 -> NO alert
        (4L, "yet another unrelated text on query optimizers", docTs(14))))
      q.processAllAvailable()
      val alerts = spark.table("sd_alerts")
        .select($"doc_id", $"prior_id", $"est_jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(alerts.map(a => (a._1, a._2)) == Set((3L, 1L)), s"got $alerts")
      assert(alerts.forall(_._3 == 1.0))
    } finally q.stop()
  }

  test("streaming near-dup alerts: state survives checkpoint restart", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sd-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-sd-out").toString
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val base = "one two three four five six seven eight nine ten eleven twelve"
    def start() = graft.streaming.StreamingDedup.nearDupAlerts(
        input.toDF().toDF("doc_id", "text", "event_ts"),
        n = 3, k = 16, bands = 4, threshold = 0.5,
        lagSec = 5L, ttlSec = 100000L)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(Seq((1L, base, docTs(10))))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData(Seq((2L, base, docTs(20)))) // near-dup of PRE-restart doc
      q2.processAllAvailable()
      val alerts = spark.read.parquet(outDir)
        .select($"doc_id", $"prior_id").as[(Long, Long)].collect().toSet
      assert(alerts == Set((2L, 1L)), s"state lost across restart: $alerts")
    } finally q2.stop()
  }

  test("streaming semantic dedup: per-batch cell-pair union equals the " +
      "one-shot frozen-cell pairs, restart-safe", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sem-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-sem-out").toString
    val storeDir = java.nio.file.Files.createTempDirectory("graft-sem-store")
      .resolve("store").toString
    // clustered corpus → rich intra-cluster pairs; the FROZEN centroid
    // generation is an arbitrary external artifact (first 4 vectors,
    // unit-normalized driver-side)
    val all = RecallBench.clusteredCorpus(spark, 120L, 16, 4, 0.4)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).toSeq
    val centroids: Seq[Seq[Double]] = all.take(4).map { case (_, v) =>
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.foldLeft(0.0)((a, x) => a + x * x))
      d.map(_ / n).toSeq
    }
    val thr = 0.5
    val (b1, rest) = all.splitAt(40)
    val (b2, b3) = rest.splitAt(40)
    val input = MemoryStream[(Long, Array[Float])]
    def start() = graft.streaming.StreamingDedup.semanticPairsSink(
      input.toDF().toDF("vec_id", "embedding"), centroids, thr,
      storeDir, outDir, ckpt).start()
    val q1 = start()
    try {
      input.addData(b1); q1.processAllAvailable()
      input.addData(b2); q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start() // restart: the store carries the horizon
    try {
      input.addData(b3); q2.processAllAvailable()
    } finally q2.stop()
    val streamed = spark.read.parquet(s"$outDir/batch_id=*")
      .select($"id_a", $"id_b", $"cell".cast("long"), $"cosine")
      .as[(Long, Long, Long, Double)].collect().toSet
    val oneShot = graft.operators.Dedup.semanticPairsFrozen(
        all.toDF("vec_id", "embedding"), centroids, thr)
      .select($"id_a", $"id_b", $"cell".cast("long"), $"cosine")
      .as[(Long, Long, Long, Double)].collect().toSet
    spark.catalog.clearCache() // semanticPairsFrozen persists its unit relation
    assert(streamed.nonEmpty, "fixture produced no pairs — test is vacuous")
    assert(streamed == oneShot,
      s"missing=${(oneShot -- streamed).take(3)} extra=${(streamed -- oneShot).take(3)}")
  }

  test("streaming incremental dedup sink: unbounded horizon via the seen store, restart-safe", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-inc-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-inc-out").toString
    val seenDir = java.nio.file.Files.createTempDirectory("graft-inc-seen")
      .resolve("store").toString // non-existent leaf: first batch bootstraps
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    def start() = graft.streaming.StreamingDedup.incrementalDedupSink(
      input.toDF().toDF("doc_id", "text", "event_ts"),
      seenDir, outDir, ckpt).start()
    val q1 = start()
    try {
      input.addData(Seq(
        (1L, "doc one", docTs(1)),
        (2L, "doc two", docTs(2)),
        (3L, "doc one", docTs(3)))) // in-batch dup: smaller id wins
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start() // restart: horizon must survive via the parquet store
    try {
      input.addData(Seq(
        (4L, "doc one", docTs(10)),   // dup of batch-1 doc -> dropped
        (5L, "doc three", docTs(11))))
      q2.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .select($"doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 5L), s"got $kept")
      // the seen store accumulated exactly the survivor texts
      val seen = spark.read.parquet(seenDir).select($"text").as[String].collect().toSet
      assert(seen == Set("doc one", "doc two", "doc three"))
    } finally q2.stop()
  }

  test("streaming KMV distinct: exact below k, emitted once at window close", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 3400000000L
    def ev(user: String, sec: Long) = env("metric2",
      Map("user_id" -> user, "service" -> "0", "hostname" -> "0"),
      (base + sec) * 1000.0, 1.0)
    val input = MemoryStream[MetricEnvelope]
    val out = graft.operators.Sketches.kmvDistinctStreaming(
      input.toDF(), windowSizeSec = 10L, dimKey = "user_id", k = 8, lagSec = 2L)
    val q = out.writeStream.format("memory").queryName("kmv_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq(ev("a", 1), ev("b", 2), ev("a", 3)))
      q.processAllAvailable()
      input.addData(Seq(ev("c", 4), ev("b", 5)))
      q.processAllAvailable()
      assert(spark.table("kmv_stream").count() == 0) // window still open
      input.addData(Seq(ev("z", 20))) // watermark past end + lag
      q.processAllAvailable()
      val rows = spark.table("kmv_stream")
        .as[(Long, String, Long)].collect().toSet
      assert(rows == Set((base, "tenant-a", 3L)),
        s"3 distinct users across batches must estimate exactly 3: $rows")
      input.addData(Seq(ev("z", 40))) // must not re-emit (state removed)
      q.processAllAvailable()
      assert(spark.table("kmv_stream").filter($"window_start" === base).count() == 1)
    } finally q.stop()
  }

  test("streaming KMV distinct: above k the emission replays the batch estimator bit-for-bit", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 3500000000L
    def ev(user: String, sec: Long) = env("metric2",
      Map("user_id" -> user, "service" -> "0", "hostname" -> "0"),
      (base + sec) * 1000.0, 1.0)
    val users = Seq("u1", "u2", "u3", "u4", "u5", "u6", "u7")
    // model replay: the same PolyHash64 fold + unsigned bottom-k + estimator
    def ph(s: String): Long = graft.functions.PolyHash64.mix(
      s.getBytes("UTF-8").foldLeft(0L)((h, b) =>
        h * graft.functions.PolyHash64.B + (b & 0xffL)))
    val expected = graft.operators.Sketches.kmvEstimate64(
      users.map(ph).distinct
        .sortBy(h => BigInt(java.lang.Long.toUnsignedString(h))).take(2).toArray, 2)
    val input = MemoryStream[MetricEnvelope]
    val out = graft.operators.Sketches.kmvDistinctStreaming(
      input.toDF(), windowSizeSec = 10L, dimKey = "user_id", k = 2, lagSec = 2L)
    val q = out.writeStream.format("memory").queryName("kmv_stream2")
      .outputMode("append").start()
    try {
      // split across batches so the bottom-k actually merges through state
      input.addData(users.take(3).zipWithIndex.map { case (u, i) => ev(u, i + 1L) })
      q.processAllAvailable()
      input.addData(users.drop(3).zipWithIndex.map { case (u, i) => ev(u, i + 5L) })
      q.processAllAvailable()
      input.addData(Seq(ev("z", 25)))
      q.processAllAvailable()
      val rows = spark.table("kmv_stream2")
        .filter($"window_start" === base)
        .as[(Long, String, Long)].collect().toSet
      assert(rows == Set((base, "tenant-a", expected)),
        s"streaming emission must equal the model estimate $expected: $rows")
    } finally q.stop()
  }

  test("streaming HLL distinct: emission equals the batch estimator over the same rows", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 3600000000L
    def ev(user: String, sec: Long) = env("metric3",
      Map("user_id" -> user, "service" -> "0", "hostname" -> "0"),
      (base + sec) * 1000.0, 1.0)
    val users = Seq("u1", "u2", "u3", "u4", "u5", "u6", "u7", "u2", "u3")
    // the BATCH operator over a static frame of the same values is the model
    val expected = graft.operators.Sketches.hllDistinct(
        users.map(u => ("g", u)).toDF("g", "uid"),
        Seq("g"), org.apache.spark.sql.functions.col("uid"), p = 8)
      .as[(String, Long)].head()._2
    val input = MemoryStream[MetricEnvelope]
    val out = graft.operators.Sketches.hllDistinctStreaming(
      input.toDF(), windowSizeSec = 10L, dimKey = "user_id", p = 8, lagSec = 2L)
    val q = out.writeStream.format("memory").queryName("hll_stream")
      .outputMode("append").start()
    try {
      // split across batches so registers merge through the state store
      input.addData(users.take(4).zipWithIndex.map { case (u, i) => ev(u, i + 1L) })
      q.processAllAvailable()
      assert(spark.table("hll_stream").count() == 0) // window still open
      input.addData(users.drop(4).zipWithIndex.map { case (u, i) => ev(u, i + 5L) })
      q.processAllAvailable()
      input.addData(Seq(ev("z", 25))) // watermark past end + lag
      q.processAllAvailable()
      val rows = spark.table("hll_stream")
        .filter($"window_start" === base)
        .as[(Long, String, Long)].collect().toSet
      assert(rows == Set((base, "tenant-a", expected)),
        s"streaming emission must equal the batch estimate $expected: $rows")
      // 7 distinct values, linear-counting branch: the estimate is near-exact
      assert(math.abs(expected - 7L) <= 1, s"tiny-set estimate off: $expected")
      input.addData(Seq(ev("z", 45))) // must not re-emit (state removed)
      q.processAllAvailable()
      assert(spark.table("hll_stream").filter($"window_start" === base).count() == 1)
    } finally q.stop()
  }

  test("streaming CDC apply: foreachBatch merges each micro-batch into the snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the streaming ingest story for Snapshot.mergeChanges: each micro-batch
    // is a changeset (possibly uncompacted — ver resolves), applied to the
    // current snapshot generation and written as the next one. Generations
    // are immutable parquet dirs — the restart/exactly-once story is the
    // batch id gating the generation swap (idempotent re-apply).
    val input = MemoryStream[(Long, String, Boolean, Long)]
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(s"$dir/gen0")
    val gen = new java.util.concurrent.atomic.AtomicInteger(0)
    val apply: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, _) => {
      val cur = spark.read.parquet(s"$dir/gen${gen.get}")
      graft.operators.Snapshot.mergeChanges(
          cur, batch.toDF("k", "s", "del", "ver"), "k", "del", Some("ver"))
        .write.parquet(s"$dir/gen${gen.incrementAndGet()}")
    }
    val q = input.toDF().writeStream.foreachBatch(apply).start()
    try {
      // batch 1: update key 2 (two versions — the later must win), insert 3
      input.addData((2L, "b1", false, 1L), (2L, "b2", false, 2L), (3L, "c", false, 1L))
      q.processAllAvailable()
      // batch 2: delete key 1, update key 3
      input.addData((1L, "", true, 3L), (3L, "c2", false, 3L))
      q.processAllAvailable()
      val fin = spark.read.parquet(s"$dir/gen${gen.get}")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(fin == Seq((2L, "b2"), (3L, "c2")),
        s"final snapshot wrong: $fin (generations=${gen.get})")
      assert(gen.get == 2, s"one generation per micro-batch: ${gen.get}")
    } finally q.stop()
  }

  test("streaming sliding windows: overlapping emissions close on the watermark", SlowTest) {
    import graft.plan.RuleCompiler
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1000000000L // epoch-aligned seconds (multiple of 10)
    val spec = agg2.copy(groupedDimensions = Seq.empty)
    val input = MemoryStream[MetricEnvelope]
    // 10 s windows sliding by 5 s: an event at base+7 belongs to windows
    // starting base+0 and base+5
    val out = RuleCompiler.aggregateSliding(spec, 10L, 5L)(
      RuleCompiler.prepare(spec)(input.toDF())
        .withWatermark("event_ts", "2 seconds"))
    val q = out.writeStream.format("memory").queryName("slide_sink")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        env("metric2", Map.empty, (base + 7) * 1000.0, 3.0),
        env("metric2", Map.empty, (base + 8) * 1000.0, 5.0)))
      q.processAllAvailable()
      // advance event time far past both windows' ends + lag → both close
      input.addData(Seq(env("metric2", Map.empty, (base + 40) * 1000.0, 1.0)))
      q.processAllAvailable()
      val rows = spark.table("slide_sink")
        .select($"w.start".cast("long"), $"agg_value")
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
      // the two events land in BOTH overlapping windows: avg 4.0 each
      assert(rows == Seq((base, 4.0), (base + 5, 4.0)), s"got $rows")
    } finally q.stop()
  }

  test("streaming export manifest: per-batch manifests merge to the batch manifest", SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the manifest is MERGEABLE by construction: counts add, and the
    // checksum is a sum mod 2^64 — so streaming ingest can maintain the
    // integrity record per micro-batch and cell-wise-combine, landing on
    // exactly the one-shot batch manifest over the union of all batches
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val (b1, rest) = rows.splitAt(rows.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    val input = MemoryStream[(Long, String)]
    val m64 = BigInt(1) << 64
    val acc = scala.collection.mutable.Map[Long, (Long, Long, BigInt)]()
    val apply: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, _) =>
      graft.operators.Sampling.exportManifest(
          batch.toDF("doc_id", "text"), numShards = 8)
        .collect().foreach { r =>
          val (s, d, t, c) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          val cu = BigInt(c) + (if (c < 0) m64 else BigInt(0))
          val prev = acc.getOrElse(s, (0L, 0L, BigInt(0)))
          acc(s) = (prev._1 + d, prev._2 + t, (prev._3 + cu) % m64)
        }
    val q = input.toDF().writeStream.foreachBatch(apply).start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    val merged = acc.toSeq.sortBy(_._1).map { case (s, (d, t, cu)) =>
      val signed = if (cu >= (BigInt(1) << 63)) cu - m64 else cu
      (s, d, t, signed.toLong)
    }
    val oneShot = graft.operators.Sampling.exportManifest(
        rows.toDF("doc_id", "text"), numShards = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(merged == oneShot)
  }

  test("streaming Bradley–Terry: per-batch fold lands on the one-shot fit", SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // judgments over items 1..5, deliberately including a never-winner (5)
    // and repeated pairs, split across three micro-batches
    val all = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (2L, 1L), (1L, 4L), (1L, 5L), (2L, 4L), (3L, 5L), (1L, 2L), (2L, 3L))
    val (b1, rest) = all.splitAt(4)
    val (b2, b3) = rest.splitAt(4)
    val base = java.nio.file.Files.createTempDirectory("graft-bt").toString
    val input = MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamingPreference.bradleyTerrySink(
        input.toDF().toDF("winner", "loser"),
        s"$base/state", s"$base/out", s"$base/ckpt", iters = 4)
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$base/out/batch_id=2")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val oneShot = graft.operators.Preference.bradleyTerry(
        all.toDF("winner", "loser"), iters = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
    // intermediate batch 0 must equal a one-shot fit over b1 alone
    val s0 = spark.read.parquet(s"$base/out/batch_id=0")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val o0 = graft.operators.Preference.bradleyTerry(
        b1.toDF("winner", "loser"), iters = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(s0 == o0, s"batch-0 strengths diverge: $s0 vs $o0")
  }

  test("GenStore: a replayed batch folds idempotently; restart resumes the count table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gen").toString
    def d(rows: (String, Long)*) = rows.toSeq.toDF("k", "n")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().toMap
    assert(m(graft.streaming.GenStore.fold(spark, dir, 0,
      d("a" -> 2L, "b" -> 1L), Seq("k"), "n")) == Map("a" -> 2L, "b" -> 1L))
    // replay of batch 0 (failure before checkpoint commit): same prior
    // (none), same result — never a double count
    assert(m(graft.streaming.GenStore.fold(spark, dir, 0,
      d("a" -> 2L, "b" -> 1L), Seq("k"), "n")) == Map("a" -> 2L, "b" -> 1L))
    assert(m(graft.streaming.GenStore.fold(spark, dir, 1,
      d("a" -> 1L, "c" -> 5L), Seq("k"), "n")) ==
      Map("a" -> 3L, "b" -> 1L, "c" -> 5L))
    // replay of batch 1 reads gen=0, not its own partial write
    assert(m(graft.streaming.GenStore.fold(spark, dir, 1,
      d("a" -> 1L, "c" -> 5L), Seq("k"), "n")) ==
      Map("a" -> 3L, "b" -> 1L, "c" -> 5L))
    // a later batch prunes generations older than its prior
    graft.streaming.GenStore.fold(spark, dir, 2, d("a" -> 1L), Seq("k"), "n")
    val gens = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(gens == Set("gen=1", "gen=2"), s"pruning left: $gens")
  }

  test("streaming agreement screen: per-batch fold lands on the one-shot report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // repeated pairs in both directions so majority shares do real work
    val all = Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (2L, 3L), (2L, 3L), (2L, 3L), (3L, 2L))
    val (b1, b2) = all.splitAt(4)
    val base = java.nio.file.Files.createTempDirectory("graft-agr").toString
    val input = MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamingPreference.agreementSink(
        input.toDF().toDF("winner", "loser"),
        s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    val streamed = sorted(spark.read.parquet(s"$base/out/batch_id=1"))
    val oneShot = sorted(graft.operators.Preference.pairAgreement(
      all.toDF("winner", "loser")))
    assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
    // the (2,3) pair's majority share is 3/4 — the noisy pair surfaces
    assert(streamed.exists(r => r._1 == 2 && r._2 == 3 && r._6 == 0.75))
  }

  test("streaming Krippendorff: per-batch fold lands on the one-shot alpha, " +
      "across a checkpoint restart", SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // mixed-direction pairs so the alpha's disagreement sums do real work
    val all = Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L), (1L, 3L),
      (2L, 3L), (3L, 2L), (4L, 3L))
    val (b1, b2) = all.splitAt(4)
    val base = java.nio.file.Files.createTempDirectory("graft-kri").toString
    val input = MemoryStream[(Long, Long)]
    def start() = graft.streaming.StreamingPreference.krippendorffSink(
        input.toDF().toDF("winner", "loser"),
        s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    // restart between the batches: the post-restart refit must continue
    // the count store (the GenStore lineage contract)
    val q1 = start()
    try { input.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { input.addData(b2); q2.processAllAvailable() } finally q2.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long, Option[Double])].collect().toSeq
    val streamed = rows(spark.read.parquet(s"$base/out/batch_id=1"))
    val oneShot = rows(graft.operators.Preference.krippendorffAlpha(
      all.toDF("winner", "loser")))
    assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
    // the intermediate batch is the one-shot over its own prefix too
    val mid = rows(spark.read.parquet(s"$base/out/batch_id=0"))
    val midShot = rows(graft.operators.Preference.krippendorffAlpha(
      b1.toDF("winner", "loser")))
    assert(mid == midShot, s"mid=$mid midShot=$midShot")
  }

  test("streaming Bradley–Terry: checkpoint restart resumes the pair store", SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 2L))
    val (b1, b2) = all.splitAt(3)
    val base = java.nio.file.Files.createTempDirectory("graft-btr").toString
    val input = MemoryStream[(Long, Long)]
    // same checkpoint across restarts — the batchId lineage the gen store
    // keys on lives there (the O1 restart-test pattern)
    def start() = graft.streaming.StreamingPreference.bradleyTerrySink(
        input.toDF().toDF("winner", "loser"),
        s"$base/state", s"$base/out", s"$base/ckpt", iters = 3)
      .start()
    val q1 = start()
    try { input.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { input.addData(b2); q2.processAllAvailable() } finally q2.stop()
    // the post-restart batch continues the pair store: its strengths are
    // the one-shot fit over BOTH batches' judgments
    val restarted = spark.read.parquet(s"$base/out/batch_id=1")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val oneShot = graft.operators.Preference.bradleyTerry(
        all.toDF("winner", "loser"), iters = 3)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(restarted == oneShot, s"restarted=$restarted oneShot=$oneShot")
  }

  test("streaming PSI drift: per-batch fold lands on the one-shot report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-psi").toString
    // baseline: lengths centered low; stream: drifting upward across batches
    val baseline = Seq.tabulate(40)(i => (i.toLong, (i % 5) * 100L + 10))
    baseline.toDF("doc_id", "n_chars").write.parquet(s"$base/baseline")
    val all = Seq.tabulate(60)(i => (1000L + i, (i % 8) * 100L + 10))
    val (b1, rest) = all.splitAt(20)
    val (b2, b3) = rest.splitAt(20)
    import org.apache.spark.sql.functions.{least, expr, lit}
    val bucket = least(expr("n_chars div 100"), lit(19L))
    val input = MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamingDrift.psiSink(
        input.toDF().toDF("doc_id", "n_chars"), bucket,
        s"$base/baseline", s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"bucket", $"n_old", $"n_new",
        org.apache.spark.sql.functions.round($"psi_contrib", 9).as("c"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val streamed = norm(spark.read.parquet(s"$base/out/batch_id=2"))
    val oneShot = norm(graft.operators.Profiling.psiDrift(
      spark.read.parquet(s"$base/baseline"), all.toDF("doc_id", "n_chars"),
      bucket))
    assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
    // drift direction sanity: buckets 5..7 exist only in the stream side
    assert(streamed.count(r => r._1 >= 5 && r._2 == 0 && r._3 > 0) == 3)
  }

  test("streaming calibration: per-batch fold lands on the one-shot diagram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-cal").toString
    // (conf-centipoints, label): accuracy decouples from confidence in
    // the later batches — the drift this monitor exists to catch
    val all = Seq.tabulate(60)(i =>
      ((i % 100).toLong, (i % 3) == 0))
    val (b1, rest) = all.splitAt(20)
    val (b2, b3) = rest.splitAt(20)
    import org.apache.spark.sql.functions.{col, lit}
    val input = MemoryStream[(Long, Boolean)]
    val q = graft.streaming.StreamingCalibration.calibrationSink(
        input.toDF().toDF("c100", "y"),
        conf = col("c100").cast("double") / lit(100.0),
        label = col("y"), bins = 10,
        s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    // final generation == one-shot diagram over every row seen,
    // bit-for-bit (counts fold exactly; the ratios recompute from them)
    val streamed = norm(spark.read.parquet(s"$base/out/batch_id=2"))
    val oneShot = norm(graft.operators.Eval.calibrationBins(
      all.toDF("c100", "y").select(
        (col("c100").cast("double") / lit(100.0)).as("conf"),
        col("y").as("label")), bins = 10))
    assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
    // and batch 0 equals the one-shot over b1 alone
    val s0 = norm(spark.read.parquet(s"$base/out/batch_id=0"))
    val o0 = norm(graft.operators.Eval.calibrationBins(
      b1.toDF("c100", "y").select(
        (col("c100").cast("double") / lit(100.0)).as("conf"),
        col("y").as("label")), bins = 10))
    assert(s0 == o0, s"s0=$s0 o0=$o0")
  }

  test("streaming corpus BLEU: pooled sums fold to the one-shot score") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-bleu").toString
    val all = Seq(
      ("the cat sat on the mat", "the cat on a mat"),
      ("a b c d e", "a b c d f"),
      ("p q r s", "p q r s"),
      ("x y", "y x"),
      ("one two three four", "one two three five"),
      ("m n o p q r", "m n o p q r"))
    val (b1, rest) = all.splitAt(2)
    val (b2, b3) = rest.splitAt(2)
    val input = MemoryStream[(String, String)]
    import org.apache.spark.sql.functions.lit
    val q = graft.streaming.StreamingGenEval.bleuSink(
        input.toDF().toDF("cand", "ref"),
        stateDir = s"$base/state", outDir = s"$base/out",
        checkpointDir = s"$base/ckpt")
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Double, Double, Double, Double, Double, Double)]
      .collect().toSeq
    // the accumulated score is BIT-identical to the one-shot corpus BLEU
    // over every pair seen — the pooled sums fold exactly, the arithmetic
    // is the same from-sums function
    val streamed = norm(spark.read.parquet(s"$base/out/batch_id=2"))
    val oneShot = norm(graft.operators.Eval.corpusBleu(
      graft.operators.Eval.generationPairStatsFast(
        all.toDF("cand", "ref").withColumn("__id", lit(0L)),
        idCol = "__id")))
    assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
    // and batch 0 equals the one-shot over b1 alone
    val s0 = norm(spark.read.parquet(s"$base/out/batch_id=0"))
    val o0 = norm(graft.operators.Eval.corpusBleu(
      graft.operators.Eval.generationPairStatsFast(
        b1.toDF("cand", "ref").withColumn("__id", lit(0L)),
        idCol = "__id")))
    assert(s0 == o0, s"s0=$s0 o0=$o0")
  }

  test("streaming manifest: per-batch fold lands on the one-shot manifest", SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val (b1, rest) = rows.splitAt(rows.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    val base = java.nio.file.Files.createTempDirectory("graft-man").toString
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingManifest.manifestSink(
        input.toDF().toDF("doc_id", "text"), numShards = 8,
        s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // the final generation's manifest is BIT-identical to a one-shot
    // exportManifest over every row seen — counts, tokens and the
    // wrap-around checksum all fold exactly
    val streamed = sorted(spark.read.parquet(s"$base/out/batch_id=2"))
    val oneShot = sorted(graft.operators.Sampling.exportManifest(
      rows.toDF("doc_id", "text"), numShards = 8))
    assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
    // and the intermediate batch 0 equals the one-shot over b1 alone
    val s0 = sorted(spark.read.parquet(s"$base/out/batch_id=0"))
    val o0 = sorted(graft.operators.Sampling.exportManifest(
      b1.toDF("doc_id", "text"), numShards = 8))
    assert(s0 == o0, s"batch-0 manifest diverges: $s0 vs $o0")
  }

  test("streaming CMS: the folded cell matrix equals the one-shot sketch " +
      "and batch estimates carry the over-estimate guarantee") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // a skewed key stream: key 7 floods (every 3rd row), the rest spread
    val all = Seq.tabulate(300)(i => if (i % 3 == 0) 7L else (i % 50).toLong)
    val (b1, rest) = all.splitAt(100)
    val (b2, b3) = rest.splitAt(100)
    val base = java.nio.file.Files.createTempDirectory("graft-cms").toString
    val input = MemoryStream[Long]
    val q = graft.streaming.StreamingSketch.cmsSink(
        input.toDF().toDF("user_id"), col("user_id"), d = 4, w = 32,
        s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    // 1. the accumulated cell matrix after the last batch is BIT-identical
    //    to a one-shot cmsBuild over every row seen
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long, Long)].collect().sortBy(c => (c._1, c._2)).toSeq
    val folded = cells(spark.read.parquet(s"$base/state/gen=2"))
    val oneShot = cells(graft.operators.Sketches.cmsBuild(
      all.toDF("user_id"), col("user_id"), d = 4, w = 32))
    assert(folded == oneShot, s"folded=$folded oneShot=$oneShot")
    // 2. the batch-2 report equals one-shot estimates of b3's keys against
    //    the full sketch, and every estimate >= the key's true total count
    val est = spark.read.parquet(s"$base/out/batch_id=2")
      .as[(Long, Long)].collect().toMap
    val expected = graft.operators.Sketches.cmsEstimate(
        graft.operators.Sketches.cmsBuild(
          all.toDF("user_id"), col("user_id"), d = 4, w = 32),
        b3.distinct.toDF("key"), "key", d = 4, w = 32)
      .as[(Long, Long)].collect().toMap
    assert(est == expected)
    val truth = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(est.forall { case (k, e) => e >= truth(k) },
      "CMS estimate must never under-count")
    // the flood key's estimate is visibly dominant among the batch keys
    assert(est(7L) == est.values.max)
  }

  test("streaming CMS: checkpoint restart resumes the cell store", SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val all = Seq.tabulate(200)(i => (i % 31).toLong)
    val (b1, b2) = all.splitAt(100)
    val base = java.nio.file.Files.createTempDirectory("graft-cmsr").toString
    val input = MemoryStream[Long]
    def start() = graft.streaming.StreamingSketch.cmsSink(
        input.toDF().toDF("user_id"), col("user_id"), d = 4, w = 32,
        s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    val q1 = start()
    try { input.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { input.addData(b2); q2.processAllAvailable() } finally q2.stop()
    val restarted = spark.read.parquet(s"$base/state/gen=1")
      .as[(Int, Long, Long)].collect().sortBy(c => (c._1, c._2)).toSeq
    val oneShot = graft.operators.Sketches.cmsBuild(
        all.toDF("user_id"), col("user_id"), d = 4, w = 32)
      .as[(Int, Long, Long)].collect().sortBy(c => (c._1, c._2)).toSeq
    assert(restarted == oneShot, s"restarted=$restarted oneShot=$oneShot")
  }

  test("streaming VAD: per-batch fold lands on the one-shot shard rollup, " +
      "undecodable docs counted", SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real planted-silence WAVs + one undecodable byte blob in batch 2
    val ids = (0L until 60L).toDF("doc_id")
    val wavs = graft.operators.Multimodal.synthesizeAudioSilence(spark, ids)
      .map(r => (r._1, r._2)).collect().toSeq :+ (9999L, Array[Byte](1, 2, 3))
    val (b1, rest) = wavs.splitAt(20)
    val (b2, b3) = rest.splitAt(20)
    val base = java.nio.file.Files.createTempDirectory("graft-vad").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.StreamingVad.vadRatioSink(
        input.toDF().toDF("doc_id", "media"), win = 64,
        thrMeanSq = 1000000L, numShards = 8,
        s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long, Long, Option[Double])]
        .collect().sortBy(_._1).toSeq
    val streamed = sorted(spark.read.parquet(s"$base/out/batch_id=2"))
    val oneShot = sorted(graft.operators.Multimodal.vadShardRollup(spark,
      wavs.toDF("doc_id", "media"), win = 64, thrMeanSq = 1000000L,
      numShards = 8))
    assert(streamed == oneShot, s"streamed=$streamed oneShot=$oneShot")
    // the undecodable blob is counted in its shard, contributing no samples
    assert(streamed.map(_._3).sum == 1L)
    // intermediate batch 0 equals the one-shot over b1 alone
    val s0 = sorted(spark.read.parquet(s"$base/out/batch_id=0"))
    val o0 = sorted(graft.operators.Multimodal.vadShardRollup(spark,
      b1.toDF("doc_id", "media"), win = 64, thrMeanSq = 1000000L,
      numShards = 8))
    assert(s0 == o0, s"batch-0 rollup diverges: $s0 vs $o0")
  }

  test("streaming VAD: checkpoint restart resumes the shard store", SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ids = (0L until 40L).toDF("doc_id")
    val wavs = graft.operators.Multimodal.synthesizeAudioSilence(spark, ids)
      .map(r => (r._1, r._2)).collect().toSeq
    val (b1, b2) = wavs.splitAt(20)
    val base = java.nio.file.Files.createTempDirectory("graft-vadr").toString
    val input = MemoryStream[(Long, Array[Byte])]
    def start() = graft.streaming.StreamingVad.vadRatioSink(
        input.toDF().toDF("doc_id", "media"), win = 64,
        thrMeanSq = 1000000L, numShards = 8,
        s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    val q1 = start()
    try { input.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { input.addData(b2); q2.processAllAvailable() } finally q2.stop()
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long, Long, Option[Double])]
        .collect().sortBy(_._1).toSeq
    val restarted = sorted(spark.read.parquet(s"$base/out/batch_id=1"))
    val oneShot = sorted(graft.operators.Multimodal.vadShardRollup(spark,
      wavs.toDF("doc_id", "media"), win = 64, thrMeanSq = 1000000L,
      numShards = 8))
    assert(restarted == oneShot, s"restarted=$restarted oneShot=$oneShot")
  }

  test("streaming manifest: checkpoint restart resumes the shard store", SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.size / 2)
    val base = java.nio.file.Files.createTempDirectory("graft-manr").toString
    val input = MemoryStream[(Long, String)]
    // same checkpoint across restarts — the batchId lineage the gen store
    // keys on lives there (the O1 restart-test pattern)
    def start() = graft.streaming.StreamingManifest.manifestSink(
        input.toDF().toDF("doc_id", "text"), numShards = 8,
        s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    val q1 = start()
    try { input.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { input.addData(b2); q2.processAllAvailable() } finally q2.stop()
    val restarted = spark.read.parquet(s"$base/out/batch_id=1")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val oneShot = graft.operators.Sampling.exportManifest(
        rows.toDF("doc_id", "text"), numShards = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(restarted == oneShot, s"restarted=$restarted oneShot=$oneShot")
  }

  test("streaming blocklist: per-batch fold lands on the one-shot audit " +
      "across a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pats = Seq("aa", "abc", "bc")
    val rows = Seq((1L, "aaaa"), (2L, "xabcx"), (3L, "no hits"),
      (4L, null.asInstanceOf[String]), (5L, "bc aa bc"), (6L, "abcabc"))
    val (b1, b2) = rows.splitAt(3)
    val base = java.nio.file.Files.createTempDirectory("graft-blk").toString
    val input = MemoryStream[(Long, String)]
    // same checkpoint + stateDir across restarts (the GenStore contract)
    def start() = graft.streaming.StreamingBlocklist.blocklistSink(
        input.toDF().toDF("doc_id", "text"), pats,
        s"$base/state", s"$base/out", s"$base/ckpt")
      .start()
    val q1 = start()
    try { input.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { input.addData(b2); q2.processAllAvailable() } finally q2.stop()
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val restarted = sorted(spark.read.parquet(s"$base/out/batch_id=1"))
    val oneShot = sorted(
      graft.operators.TextAnalysis.blocklistHits(
          rows.toDF("doc_id", "text"), pats)
        .groupBy("pattern").agg(
          sum("hits").as("hits"), count(lit(1)).as("n_docs")))
    assert(restarted == oneShot, s"restarted=$restarted oneShot=$oneShot")
    // hand totals: aa → 3+1 over docs {1,5}; abc → 1+2 over {2,6};
    // bc → 1+2+2 over {2,5,6}
    assert(restarted.map(t => t._1 -> t._2).toMap ==
      Map("aa" -> 4L, "abc" -> 3L, "bc" -> 5L), s"totals: $restarted")
    // the intermediate batch equals the one-shot over b1 alone
    val s0 = sorted(spark.read.parquet(s"$base/out/batch_id=0"))
    val o0 = sorted(
      graft.operators.TextAnalysis.blocklistHits(b1.toDF("doc_id", "text"), pats)
        .groupBy("pattern").agg(
          sum("hits").as("hits"), count(lit(1)).as("n_docs")))
    assert(s0 == o0, s"batch-0 audit diverges: $s0 vs $o0")
  }

  // ---- the service: the shipped rule config as one query (StreamRunner.start)

  private lazy val shipped = graft.spec.SpecLoader.loadValidated(
    getClass.getResource("/aggregation-specifications.yaml").getPath)

  /** An emitted envelope less its creation_time:
    * (name, dimensions, timestamp, value, tenant). */
  private type Emitted = (String, Map[String, String], Double, Double, String)

  private def emitted(df: org.apache.spark.sql.DataFrame): Seq[Emitted] = {
    import spark.implicits._
    df.select($"metric.name", $"metric.dimensions", $"metric.timestamp", $"metric.value",
      $"meta".getItem("tenantId")).as[Emitted].collect().toSeq.sortBy(_.toString)
  }

  /** Input for 1 s windows and a 1 s lag: batch `s` carries every shipped
    * rule's metric for three hosts at three instants of second `s`, plus
    * stragglers of second `s - 1` within the lag, so every rule's event time
    * advances together. Two trailing batches, far ahead, close every earlier
    * window whatever the micro-batch timing. */
  private def serviceBatches(baseSec: Long, secs: Int): Seq[Seq[MetricEnvelope]] = {
    val service = Map("test-01" -> "a", "test-02" -> "b", "inactive-host" -> "a")
    def at(ms: Long, v: Double) = for (i <- 0 to 4; (h, svc) <- service.toSeq) yield
      env(s"metric$i", Map("hostname" -> h, "service" -> svc, "cluster" -> "test-cluster-01"),
        (baseSec * 1000 + ms).toDouble, v + i)
    (0 until secs).map { s =>
      Seq(0L, 300L, 600L).flatMap(o => at(s * 1000L + o, s + o / 100.0)) ++
        (if (s > 0) at(s * 1000L - 200, -1.0) else Nil)
    } ++ Seq(at(100000L, 0.0), at(100500L, 0.0))
  }

  /** Runs the service core over MemoryStream into a parquet file sink, one
    * micro-batch per input batch; stops after batch `restartAfter` and
    * restarts from the checkpoint with the rules `restartWith`. */
  private def runService(batches: Seq[Seq[MetricEnvelope]], restartAfter: Int = -1,
      restartWith: Seq[AggregationSpec] = shipped,
      ckpt: String = java.nio.file.Files.createTempDirectory("graft-svc-ckpt").toString): Seq[Emitted] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-svc-out").toString
    val input = MemoryStream[MetricEnvelope]
    def start(specs: Seq[AggregationSpec]) = StreamRunner.start(specs, input.toDF(), 1L, 1L, ckpt)(
      _.writeStream.format("parquet").option("path", out))
    var q = start(shipped)
    try batches.zipWithIndex.foreach { case (b, i) =>
      input.addData(b)
      q.processAllAvailable()
      if (i == restartAfter) { q.stop(); q = start(restartWith) }
    } finally q.stop()
    emitted(spark.read.parquet(out))
  }

  /** One query per rule through `buildStreaming`, into memory sinks. */
  private def runPerRule(specs: Seq[AggregationSpec],
      batches: Seq[Seq[MetricEnvelope]]): Seq[Emitted] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    specs.flatMap { sp =>
      val input = MemoryStream[MetricEnvelope]
      val name = s"per_rule_${sp.name}"
      val q = StreamRunner.buildStreaming(sp, 1L, 1L)(input.toDF())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        emitted(spark.table(name))
      } finally q.stop()
    }.sortBy(_.toString)
  }

  test("service: the shipped config as one query emits the per-rule queries' rows", SlowTest) {
    val batches = serviceBatches(7000000000L, 4)
    val service = runService(batches)
    assert(service.map(_._1).distinct.sorted == shipped.map(_.aggregatedMetricName).sorted)
    assert(service == runPerRule(shipped, batches))
  }

  test("service: a rollup into coarser windows shares the query with the other rules", SlowTest) {
    val rewindow = AggregationSpec(name = "ReWindow", function = "avg",
      filteredMetricName = "metric3", groupedDimensions = Seq("hostname", "service"),
      aggregatedMetricName = "aggregated-rewindow",
      rollup = Some(RollupSpec("sum", Seq("service"), Some(2L))))
    val specs = shipped :+ rewindow
    val batches = serviceBatches(7050000000L, 5)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[MetricEnvelope]
    val q = graft.plan.RuleCompiler.compileStreaming(specs, 1L, 1L)(input.toDF())
      .writeStream.format("memory").queryName("svc_rewindow").outputMode("append").start()
    val service = try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      emitted(spark.table("svc_rewindow"))
    } finally q.stop()
    assert(service.exists(r => r._1 == "aggregated-rewindow" && r._3 % 2000 == 0))
    assert(service == runPerRule(specs, batches))
  }

  test("service: a restart from the checkpoint emits what an uninterrupted run emits", SlowTest) {
    val batches = serviceBatches(7100000000L, 4)
    val uninterrupted = runService(batches)
    assert(uninterrupted.map(_._1).distinct.size == shipped.size)
    // one row per (rule output, dimensions, window, tenant): nothing duplicated
    assert(uninterrupted.map(r => (r._1, r._2, r._3, r._5)).distinct.size == uninterrupted.size)
    assert(runService(batches, restartAfter = 2) == uninterrupted)
  }

  test("service: a restart with the rules reordered resumes the same state", SlowTest) {
    // the rollup rule first: in config order its `sum` would take the rollup
    // buffer's first slot and `avg` the window buffer's first
    val reordered = shipped(3) +: shipped.filterNot(_ == shipped(3)).reverse
    val batches = serviceBatches(7150000000L, 4)
    assert(runService(batches, restartAfter = 2, restartWith = reordered) == runService(batches))
  }

  test("service: the shipped config keeps the state layout its checkpoints hold", SlowTest) {
    // key and value schemas of the rollup (0) and window (1) aggregates, as
    // the `statestore` reader reads them back from a checkpoint: a change
    // here makes a restart from an existing checkpoint fail or misread state
    val ckpt = java.nio.file.Files.createTempDirectory("graft-svc-layout").toString
    runService(serviceBatches(7160000000L, 2), ckpt = ckpt)
    def layout(op: Int) = {
      val s = spark.read.format("statestore").option("operatorId", op.toLong).load(ckpt).schema
      Seq("key", "value").map(f => s(f).dataType.asInstanceOf[org.apache.spark.sql.types.StructType])
    }
    def field(name: String, tpe: String, nullable: Boolean, meta: String = "{}") =
      s"""{"name":"$name","type":$tpe,"nullable":$nullable,"metadata":$meta}"""
    def struct(fields: String*) = s"""{"type":"struct","fields":[${fields.mkString(",")}]}"""
    val window = field("window_key", struct(field("start", "\"timestamp\"", true),
      field("end", "\"timestamp\"", true)), false, """{"spark.watermarkDelayMs":1000}""")
    def key(keys: String) = struct(window, field("rule", "\"string\"", true),
      field("tenant_id", "\"string\"", false),
      field(keys, """{"type":"array","elementType":"string","containsNull":true}""", false))
    def double(n: String) = field(n, "\"double\"", true)
    // the layout existing checkpoints of the shipped config hold
    assert(layout(0).map(_.json) == Seq(key("_groupingexpression"),
      struct(double("max"), double("sum"))))
    assert(layout(1).map(_.json) == Seq(key("keys"), struct(double("sum"),
      field("count", "\"long\"", true), field("count", "\"long\"", false), double("sum"))))
  }

  test("service: creation_time is the wall clock of the micro-batch that emits the row", SlowTest) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-svc-clock").toString
    val input = MemoryStream[MetricEnvelope]
    // each micro-batch's stamps and the wall-clock interval it was emitted in
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Seq[Long])]
    val emit: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) => {
      val from = System.currentTimeMillis()
      val stamps = df.collect().toSeq.map(_.getAs[Long]("creation_time"))
      batches.add((from, System.currentTimeMillis(), stamps))
    }
    val q = StreamRunner.start(shipped, input.toDF(), 1L, 1L, ckpt)(_.writeStream.foreachBatch(emit))
    try serviceBatches(7180000000L, 3).foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    val all = batches.asScala.toSeq
    assert(all.exists(_._3.nonEmpty))
    all.foreach { case (from, to, stamps) =>
      assert(stamps.forall(t => from <= t && t <= to), s"$stamps outside [$from, $to]")
    }
  }

  test("service: percentile and arrival-order rules share the query with the others", SlowTest) {
    val specs = shipped ++ Seq(
      AggregationSpec(name = "Arrival", function = "delta_arrival", filteredMetricName = "metric1",
        groupedDimensions = Seq("hostname"), aggregatedMetricName = "aggregated-arrival"),
      AggregationSpec(name = "P95", function = "p95", filteredMetricName = "metric2",
        groupedDimensions = Seq("hostname"), aggregatedMetricName = "aggregated-p95"),
      AggregationSpec(name = "RollupP50", function = "max", filteredMetricName = "metric4",
        groupedDimensions = Seq("hostname", "service"), aggregatedMetricName = "aggregated-p50",
        rollup = Some(RollupSpec("p50", Seq("service")))))
    val batches = serviceBatches(7170000000L, 4)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[MetricEnvelope]
    val q = graft.plan.RuleCompiler.compileStreaming(specs, 1L, 1L)(input.toDF())
      .writeStream.format("memory").queryName("svc_mixed").outputMode("append").start()
    val service = try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      emitted(spark.table("svc_mixed"))
    } finally q.stop()
    assert(service.map(_._1).toSet == specs.map(_.aggregatedMetricName).toSet)
    assert(service == runPerRule(specs, batches))
  }

  test("service: one watermark for all rules drops a row behind another rule's events", SlowTest) {
    val baseMs = 7200000000000L
    def m(i: Int, ms: Long) = env(s"metric$i",
      Map("hostname" -> "test-01", "service" -> "a", "cluster" -> "test-cluster-01"),
      (baseMs + ms).toDouble, 1.0)
    val batches = Seq(
      Seq(m(0, 200), m(2, 200)),
      Seq(m(0, 10200)), // metric0 moves the shared watermark to 9.2 s
      Seq(m(2, 5200)),  // metric2's own events never passed 0.2 s
      Seq(m(0, 100000), m(2, 100000)),
      Seq(m(0, 100500), m(2, 100500)))
    def windows(rows: Seq[Emitted]) =
      rows.filter(_._1 == "aggregated-metric2").map(_._3 - baseMs).sorted
    assert(windows(runService(batches)) == Seq(0.0))
    // a query of its own keeps the row: its watermark follows metric2 alone
    assert(windows(runPerRule(Seq(shipped(2)), batches)) == Seq(0.0, 5000.0))
  }

  test("the service session sizes shuffle partitions to its context, not Spark's 200") {
    // a new session has SQL conf of its own: the shared session is untouched
    val before = spark.conf.get(Main.ShufflePartitions)
    val s = spark.newSession()
    s.conf.set(Main.ShufflePartitions, "200")
    val sc = spark.sparkContext
    val sized = Main.sizeShuffle(s).conf.get(Main.ShufflePartitions)
    assert(sized == sc.getConf.get(Main.ShufflePartitions, sc.defaultParallelism.toString))
    assert(sized != "200")
    assert(spark.conf.get(Main.ShufflePartitions) == before)
  }
}
