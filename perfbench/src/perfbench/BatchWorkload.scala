package perfbench

import graft.model.AggregationSpec
import graft.plan.RuleCompiler
import graft.sources.EnvelopeJson
import graft.spec.SpecLoader
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** `batch_rule_config`: a seeded JSON-lines corpus through
  * `EnvelopeJson.parse` → `RuleCompiler.compileAll` over a 25-rule config →
  * `EnvelopeJson.serialize` → collect, timed over repeated passes after a
  * warm-up pass. Each pass builds its plan afresh, as a batch job would. */
object BatchWorkload {
  val Envelopes = 20000
  val WindowSec = 60L
  val SpanMs: Long = 20 * 60 * 1000L
  val BaseMs = 1700000000000L

  private val fns = Vector("sum", "count", "avg", "min", "max", "delta", "rate")

  /** 25 rules in the five shipped shapes, cycling through the seven
    * reference functions; the rollup shape varies its rollup, one of them
    * into a coarser (300 s) window. */
  val rules: Seq[Rule] = (0 until 25).map { i =>
    val base = Rule(name = s"Aggregation$i", fn = fns(i % 7), metric = s"metric$i",
      out = s"aggregated-metric$i")
    i % 5 match {
      case 0 => base
      case 1 => base.copy(filtered = Seq("hostname" -> "test-01"))
      case 2 => base.copy(grouped = Seq("hostname", "service"))
      case 3 =>
        val (g, w) = i match {
          case 8 => (Seq("service"), Some(300L))
          case 18 => (Seq.empty, None)
          case 23 => (Seq("hostname"), None)
          case _ => (Seq("service"), None)
        }
        base.copy(grouped = Seq("hostname", "service"), rollup = Some((fns((i + 3) % 7), g, w)))
      case _ => base.copy(filtered = Seq("cluster" -> "test-cluster-01"),
        rejected = Seq("hostname" -> "inactive-host", "device" -> ""), grouped = Seq("hostname"))
    }
  }

  /** The corpus: about 30% of envelopes name a rule's metric, the rest one
    * of 200 names no rule matches; 1% of lines are corrupt. Event times are
    * multiples of 250 ms over 20 minutes, so windows hold equal-ts ties. */
  def corpus(seed: Long, n: Int): (Array[String], Array[Env]) = {
    val g = new Gen(seed)
    val envs = Array.fill(n) {
      val name = if (g.chance(0.3)) s"metric${g.int(25)}" else s"other.${g.int(200)}"
      g.env(name, BaseMs + g.int((SpanMs / 250).toInt) * 250L)
    }
    val lines = envs.indices.map { i =>
      if (g.chance(0.01)) { val l = Wire.corrupt(envs(i), g.int(3)); envs(i) = null; l }
      else Wire.envelope(envs(i))
    }.toArray
    (lines, envs)
  }

  def run(a: Args): Result = {
    val trace = new Trace(a.trace)
    val (lines, envs) = corpus(a.seed, Envelopes)
    // one part file per core, as a topic dump with one file per partition
    val corpusPath = Files.createDirectories(a.work.resolve(s"batch-${a.seed}"))
    lines.grouped((lines.length + Main.Cores - 1) / Main.Cores).zipWithIndex.foreach { case (part, i) =>
      Files.write(corpusPath.resolve(f"part-$i%03d.jsonl"), part.toSeq.asJava, UTF_8)
    }
    val yamlPath = a.work.resolve("batch-rules.yaml")
    Files.write(yamlPath, Rule.yaml(rules).getBytes(UTF_8))
    val expected = RefLoop.batch(rules, WindowSec * 1000, envs.iterator.filter(_ != null))

    // ---- set-up: session request → first timed pass ----
    val t0 = System.nanoTime()
    val spark = trace.span("session.start")(Main.session(a.work))
    val tSession = System.nanoTime()
    val jobs = new JobMeter
    spark.sparkContext.addSparkListener(jobs)
    val specs = trace.span("spec.load")(SpecLoader.loadValidated(yamlPath.toString))
    require(specs == rules.map(_.toSpec), s"SpecLoader read a different config: $specs")
    val tSpec = System.nanoTime()
    val withWindows = specs.map(_ -> WindowSec)
    val path = corpusPath.toString

    /** One pass: build the plan, run it, collect the encoded envelopes. */
    def pass(): (Array[String], Double) = trace.span("pass") {
      val ts = System.nanoTime()
      val out = trace.span("plan.build") {
        val df = EnvelopeJson.serialize(RuleCompiler.compileAll(withWindows)(
          EnvelopeJson.parse(spark.read.text(path))))
        df.queryExecution.executedPlan
        df
      }
      val buildMs = (System.nanoTime() - ts) / 1e6
      val rows = trace.span("execute")(out.collect().map(_.getString(0)))
      (rows, buildMs)
    }
    def check(rows: Array[String]): Option[String] = {
      val decoded = rows.map(r => Check.decode(r.getBytes(UTF_8)))
      decoded.collectFirst { case Left(e) => e }
        .orElse(Check.compare(expected, decoded.collect { case Right(r) => r }.toSeq))
    }

    val warmErr = trace.span("warmup")(check(pass()._1))
    warmErr.foreach(e => System.err.println(s"[perfbench] warm-up pass: $e"))
    val setupS = (System.nanoTime() - t0) / 1e9

    // ---- timed passes ----
    val passS = Seq.newBuilder[Double]
    val buildMs = Seq.newBuilder[Double]
    var attempted = 0L
    var correct = warmErr.isEmpty
    val before = jobs.totals(spark)
    val loop0 = System.nanoTime()
    var outsideS = 0.0
    while (attempted == 0 || System.nanoTime() - loop0 < a.seconds * 1000000000L) {
      val w0 = System.currentTimeMillis()
      val t = System.nanoTime()
      val (rows, b) = pass()
      val s = (System.nanoTime() - t) / 1e9
      attempted += 1
      System.err.println(f"[perfbench] pass $attempted: $s%.3f s, plan $b%.0f ms")
      passS += s
      buildMs += b
      if (a.trace) outsideS += jobs.outsideJobs(spark, w0, System.currentTimeMillis())
      check(rows).foreach { e =>
        correct = false
        System.err.println(s"[perfbench] pass $attempted: $e")
      }
    }
    val perPass = jobs.totals(spark) - before
    val passes = passS.result()
    val n = attempted.toDouble

    val layers: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else {
        val cuts = Cuts(spark, path, withWindows, trace)
        Seq(
          ("session.start_s", (tSession - t0) / 1e9, "s"),
          ("spec.load_ms", (tSpec - tSession) / 1e6, "ms"),
          ("sources.decode_s", cuts.decode, "s"),
          ("sources.encode_s", cuts.encode - cuts.project, "s"),
          ("sources.corrupt_dropped", cuts.dropped.toDouble, "count"),
          ("sources.scans_per_envelope", perPass.inputRecords / n / lines.length, "ratio"),
          ("plan.build_ms", Main.median(buildMs.result()), "ms"),
          ("plan.match_s", cuts.matched - cuts.decode, "s"),
          ("plan.aggregate_s", cuts.aggregated - cuts.matched, "s"),
          ("plan.rollup_s", cuts.rolledUp - cuts.aggregated, "s"),
          ("plan.project_s", cuts.project - cuts.rolledUp, "s"),
          ("plan.jobs", perPass.jobs / n, "count"),
          ("plan.stages", perPass.stages / n, "count"),
          ("plan.tasks", perPass.tasks / n, "count"),
          ("plan.task_s", perPass.taskMs / n / 1000, "s"),
          ("plan.gc_s", perPass.gcMs / n / 1000, "s"),
          ("plan.outside_jobs_s", outsideS / n, "s"),
          ("plan.shuffle_write_mb", perPass.shuffleWriteBytes / n / 1048576, "MB"),
          ("plan.shuffle_records", perPass.shuffleWriteRecords / n, "count"))
      }
    trace.write(a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
    val jvm = Seq(("jvm.gc_s", Jvm.gcSeconds, "s"), ("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB"))
    spark.stop()

    val medianS = Main.median(passes)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("eps", lines.length / medianS, "1/s"),
      ("latency_p50_ms", medianS * 1000, "ms"),
      ("rss_peak_mb", Jvm.rssPeakMb, "MB"))
    Main.result(a, correct, attempted, 0L, endToEnd, layers ++ jvm)
  }
}

/** Cumulative cuts built from the public stage functions, each run to the
  * `noop` sink: decode; + rule match and key extraction; + window aggregate;
  * + rollup; + projection (`compileAll` itself); + encode. A layer's cost is
  * the difference between two adjacent cuts, each the faster of two runs. */
final case class Cuts(decode: Double, matched: Double, aggregated: Double, rolledUp: Double,
    project: Double, encode: Double, dropped: Long)

object Cuts {
  def apply(spark: SparkSession, path: String, specs: Seq[(AggregationSpec, Long)],
      trace: Trace): Cuts = {
    def parsed = EnvelopeJson.parse(spark.read.text(path))
    def union(f: (AggregationSpec, Long) => DataFrame => DataFrame): DataFrame = {
      val p = parsed
      specs.map { case (s, w) => f(s, w)(p) }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    def prepared(s: AggregationSpec, w: Long)(df: DataFrame) = RuleCompiler.prepare(s)(df)
    def aggregated(s: AggregationSpec, w: Long)(df: DataFrame) =
      RuleCompiler.aggregate(s, w)(prepared(s, w)(df))
    def rolled(s: AggregationSpec, w: Long)(df: DataFrame) =
      if (s.rollup.isDefined) RuleCompiler.rollup(s, w)(aggregated(s, w)(df)) else aggregated(s, w)(df)
    def time(name: String)(df: => DataFrame): Double = (1 to 2).map { _ =>
      val t = System.nanoTime()
      trace.span(name)(df.write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t) / 1e9
    }.min
    val lines = spark.read.text(path).count()
    val kept = parsed.count()
    Cuts(
      decode = time("cut.decode")(parsed),
      matched = time("cut.match")(union(prepared)),
      aggregated = time("cut.aggregate")(union(aggregated)),
      rolledUp = time("cut.rollup")(union(rolled)),
      project = time("cut.project")(RuleCompiler.compileAll(specs)(parsed)),
      encode = time("cut.encode")(EnvelopeJson.serialize(RuleCompiler.compileAll(specs)(parsed))),
      dropped = lines - kept)
  }
}

/** The per-layer metric names every traced run reports; a layer the
  * workload does not exercise reads 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "spec.load_ms" -> "ms",
    "sources.decode_s" -> "s", "sources.encode_s" -> "s", "sources.corrupt_dropped" -> "count",
    "sources.scans_per_envelope" -> "ratio",
    "plan.build_ms" -> "ms", "plan.match_s" -> "s", "plan.aggregate_s" -> "s",
    "plan.rollup_s" -> "s", "plan.project_s" -> "s", "plan.jobs" -> "count",
    "plan.stages" -> "count", "plan.tasks" -> "count", "plan.task_s" -> "s", "plan.gc_s" -> "s",
    "plan.outside_jobs_s" -> "s", "plan.shuffle_write_mb" -> "MB", "plan.shuffle_records" -> "count",
    "streaming.queries" -> "count", "streaming.micro_batches_per_handover" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.task_s" -> "s", "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.state_commit_ms" -> "ms", "streaming.rows_dropped_by_watermark" -> "count",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB")

  def complete(measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val m = measured.map(x => x._1 -> x).toMap
    require(m.keySet.subsetOf(all.map(_._1).toSet), s"unlisted layer metric in ${m.keySet}")
    all.map { case (n, u) => m.getOrElse(n, (n, 0.0, u)) }
  }
}
