package perfbench

import graft.spec.EngineConfig
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** What one run measured: operations attempted and failed, whether every
  * completed one matched the checker, and (name, value, unit) metrics. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session as `graft.Main` builds it (GraftExtensions, UTC, the
    * EngineConfig default state store), with the settings a spark-submit
    * deployment passes: local[nproc] and nproc shuffle partitions. */
  def session(work: Path): SparkSession = SparkSession.builder()
    .appName("monasca-aggregator-spark")
    .master(s"local[$Cores]")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.sql.GraftExtensions")
    .config("spark.sql.streaming.stateStore.providerClass", EngineConfig().stateStoreProviderClass)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The run's result: end-to-end metrics untraced; per-layer metrics
    * traced, when the end-to-end figures of the traced run go to
    * `spans-<workload>-<seed>-e2e.jsonl` beside its spans (their gap to an
    * untraced run is the tracing overhead). */
  def result(a: Args, correct: Boolean, attempted: Long, failed: Long,
      endToEnd: Seq[(String, Double, String)], layers: => Seq[(String, Double, String)]): Result = {
    val e2e = Result(correct, attempted, failed, endToEnd)
    if (!a.trace) e2e
    else {
      Files.write(a.work.resolve(s"spans-${a.workload}-${a.seed}-e2e.jsonl"), e2e.json.getBytes("UTF-8"))
      Result(correct, attempted, failed, Layers.complete(layers))
    }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("work")).toAbsolutePath)
    Files.createDirectories(args.work)
    val result = args.workload match {
      case "batch_rule_config" => BatchWorkload.run(args)
      case "stream_service" => StreamWorkload.run(args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println("PERFBENCH_RESULT " + result.json)
    System.out.flush()
    sys.exit(0)
  }
}
