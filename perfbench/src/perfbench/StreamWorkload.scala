package perfbench

import graft.spec.{EngineConfig, SpecLoader}
import graft.streaming.{Observability, StreamRunner}

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** `stream_service`: the five shipped rules run by `StreamRunner.run` exactly
  * as `graft.Main` runs them, over the stand-in `kafka` source and sink.
  *
  * The load is a closed loop with one client: it hands over a fixed-size
  * batch, waits until the sink has received every row of the windows that
  * the batch closes (as the checker computes them), then hands over the
  * next. A handover's latency runs from the handover to the arrival of the
  * last of those rows.
  *
  * Time is compressed against the reference config (10 s windows, 2 s lag):
  * windows of 1 s and a lag of 1 s. Handover k carries event times in
  * [k s, k s + 0.8 s), a tenth of them from the previous slot (out of order,
  * within the lag), and one "clock" envelope per rule at (k+1) s - 150 ms,
  * so each rule's watermark ends at k s - 150 ms and handover k closes
  * exactly window k-2 of every rule, with 150 ms margins on both sides. */
object StreamWorkload {
  val BatchEnvelopes = 2000
  val WarmupHandovers = 4
  val HandoverLeadMs = 30L
  val WindowMs = 1000L
  val BaseMs = 1700000000000L

  /** Copy of src/test/resources/aggregation-specifications.yaml in the
    * checker's terms; the run fails if `SpecLoader` reads anything else. */
  val shipped: Seq[Rule] = Seq(
    Rule("Aggregation0", "count", "metric0", out = "aggregated-metric0"),
    Rule("Aggregation1", "sum", "metric1", filtered = Seq("hostname" -> "test-01"),
      out = "aggregated-metric1"),
    Rule("Aggregation2", "avg", "metric2", grouped = Seq("hostname", "service"),
      out = "aggregated-metric2"),
    Rule("Aggregation3", "avg", "metric3", grouped = Seq("hostname", "service"),
      out = "aggregated-metric3", rollup = Some(("sum", Seq("service"), None))),
    Rule("Aggregation4", "count", "metric4", filtered = Seq("cluster" -> "test-cluster-01"),
      rejected = Seq("hostname" -> "inactive-host", "device" -> ""), grouped = Seq("hostname"),
      out = "aggregated-metric4"))
  val SpecPath = "src/test/resources/aggregation-specifications.yaml"

  /** Handover k's envelopes (None = a corrupt line) in hand-over order. */
  def handover(g: Gen, k: Int): Seq[(Array[Byte], Option[Env])] = {
    val slot = BaseMs + k * WindowMs
    val clockDims = Some(Map("hostname" -> "test-01", "service" -> "0", "cluster" -> "test-cluster-01"))
    val clocks = shipped.map(r => Env(r.metric, clockDims, slot + WindowMs - 150, g.value(), Some("tenant-a")))
    val rest = Seq.fill(BatchEnvelopes - clocks.size) {
      val name = if (g.chance(0.6)) s"metric${g.int(5)}" else s"other.${g.int(50)}"
      val late = k > 0 && g.chance(0.1)
      g.env(name, (if (late) slot - WindowMs else slot) + g.int(16) * 50L)
    }
    val all = (clocks ++ rest).map { e =>
      if (g.chance(0.01)) Wire.corrupt(e, g.int(3)).getBytes(UTF_8) -> None
      else Wire.envelope(e).getBytes(UTF_8) -> Some(e)
    }
    // a seeded shuffle, so clocks and late rows sit anywhere in the batch
    val arr = all.toArray
    for (i <- arr.indices.reverse.dropRight(1)) {
      val j = g.int(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.toSeq
  }

  def run(a: Args): Result = {
    val trace = new Trace(a.trace)
    val g = new Gen(a.seed)
    val ref = new RefLoop.Stream(shipped, WindowMs, 1000L)
    // inputs and expected rows made up front, for more handovers than fit:
    // a handover spans at least two 1 s triggers
    val planned = WarmupHandovers + a.seconds + 2
    val batches = (0 until planned).map { k =>
      val h = handover(g, k)
      (h.map(_._1), ref.handover(h.flatMap(_._2)))
    }
    Topics.reset()
    val config = EngineConfig(windowSize = 1L, windowLag = 1L, consumerTopic = "metrics",
      producerTopic = "aggregated-metrics", kafkaBootstrapServers = "standin:9092",
      checkpointRoot = a.work.resolve(s"checkpoints-${a.seed}-${System.nanoTime()}").toUri.toString)
    val in = Topics(config.consumerTopic)
    val out = Topics(config.producerTopic)
    val seen = Array.fill(out.partitions)(0L)

    // ---- set-up: session request → first timed handover ----
    val t0 = System.nanoTime()
    val spark = trace.span("session.start")(Main.session(a.work))
    val tSession = System.nanoTime()
    val jobs = new JobMeter
    spark.sparkContext.addSparkListener(jobs)
    val specs = trace.span("spec.load")(SpecLoader.loadValidated(SpecPath))
    require(specs == shipped.map(_.toSpec), s"SpecLoader read a different config: $specs")
    val tSpec = System.nanoTime()
    val obs = Observability.attach(spark, config.windowSize)
    val meter = new BatchMeter
    spark.streams.addListener(meter)
    val queries = trace.span("streams.start")(StreamRunner.run(spark, specs,
      servers = config.kafkaBootstrapServers, inTopic = config.consumerTopic,
      outTopic = config.producerTopic, windowSizeSec = config.windowSize,
      windowLagSec = config.windowLag, checkpointRoot = config.checkpointRoot))

    var correct = true
    /** Hands over batch k and waits for the rows it closes: the time in ms
      * from the handover to the last of them, and whether all arrived in
      * time (else the time waited). */
    def handoverAndWait(k: Int): (Double, Boolean) = trace.span("handover") {
      val (bytes, expected) = batches(k)
      val pending = mutable.HashMap.empty[RefLoop.Key, Double] ++= expected.map(r => r.key -> r.value)
      // idle queries poll their source at whole seconds of the wall clock
      // (the 1 s processing-time trigger); handing over just before one
      // keeps the trigger's phase out of the latency
      Thread.sleep(1000 - (System.currentTimeMillis() + HandoverLeadMs) % 1000)
      val t = in.appendAll(bytes)
      var last = t
      val deadline = t + 60000000000L
      while (pending.nonEmpty && System.nanoTime() < deadline) {
        out.poll(seen, 50).foreach { case (b, at) =>
          Check.decode(b) match {
            case Right(r) if pending.get(r.key).exists(RefLoop.close(_, r.value)) =>
              pending.remove(r.key); last = math.max(last, at)
            case other =>
              correct = false
              System.err.println(s"[perfbench] handover $k: unexpected output $other")
          }
        }
      }
      if (pending.isEmpty) {
        System.err.println(f"[perfbench] handover $k: ${(last - t) / 1e6}%.1f ms")
        ((last - t) / 1e6, true)
      } else {
        System.err.println(s"[perfbench] handover $k: ${pending.size} rows missing, e.g. ${pending.head}")
        ((System.nanoTime() - t) / 1e6, false)
      }
    }

    trace.span("warmup")((0 until WarmupHandovers).foreach(handoverAndWait))
    val setupS = (System.nanoTime() - t0) / 1e9

    // ---- timed handovers ----
    val lat = Seq.newBuilder[Double]
    var attempted = 0L
    var failed = 0L
    val jobs0 = jobs.totals(spark)
    val batch0 = meter.totals(spark)
    val loop0 = System.nanoTime()
    var busyMs = 0.0
    var k = WarmupHandovers
    while (k < planned && (attempted == 0 || System.nanoTime() - loop0 < a.seconds * 1000000000L)) {
      val (ms, ok) = handoverAndWait(k)
      busyMs += ms
      if (ok) lat += ms else failed += 1
      attempted += 1
      k += 1
    }
    val handed = attempted * BatchEnvelopes

    val layers: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else {
        val j = jobs.totals(spark) - jobs0
        val b1 = meter.totals(spark)
        val n = attempted.toDouble
        def phase(p: String) = (b1.phases.getOrElse(p, 0L) - batch0.phases.getOrElse(p, 0L)) / n
        Seq(
          ("session.start_s", (tSession - t0) / 1e9, "s"),
          ("spec.load_ms", (tSpec - tSession) / 1e6, "ms"),
          ("sources.scans_per_envelope", (b1.inputRows - batch0.inputRows).toDouble / handed, "ratio"),
          ("streaming.queries", spark.streams.active.length.toDouble, "count"),
          ("streaming.micro_batches_per_handover", (b1.batches - batch0.batches) / n, "count"),
          ("streaming.trigger_ms", phase("triggerExecution"), "ms"),
          ("streaming.add_batch_ms", phase("addBatch"), "ms"),
          ("streaming.query_planning_ms", phase("queryPlanning"), "ms"),
          ("streaming.wal_commit_ms", phase("walCommit"), "ms"),
          ("streaming.commit_offsets_ms", phase("commitOffsets"), "ms"),
          ("streaming.latest_offset_ms", phase("latestOffset"), "ms"),
          ("streaming.task_s", j.taskMs / n / 1000, "s"),
          ("streaming.state_rows", b1.stateRows.toDouble, "count"),
          ("streaming.state_mb", b1.stateBytes / 1048576.0, "MB"),
          ("streaming.state_commit_ms", (b1.stateCommitMs - batch0.stateCommitMs) / n, "ms"),
          ("streaming.rows_dropped_by_watermark", b1.dropped.toDouble, "count"))
      }
    val jvm = Seq(("jvm.gc_s", Jvm.gcSeconds, "s"), ("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB"))
    val counters = obs.snapshot
    queries.foreach(_.stop())
    spark.stop()
    trace.write(a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
    System.err.println(s"[perfbench] in/out messages per query: $counters")

    val latencies = lat.result()
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      // the loop's wall time less the client's waits for the trigger instant
      ("eps", handed / (busyMs / 1000), "1/s"),
      ("latency_p50_ms", Main.median(latencies), "ms"),
      ("rss_peak_mb", Jvm.rssPeakMb, "MB"))
    Main.result(a, correct, attempted, failed, endToEnd, layers ++ jvm)
  }
}
