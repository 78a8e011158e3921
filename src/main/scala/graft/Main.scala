package graft

import graft.spec.{EngineConfig, SpecLoader}
import graft.streaming.{Observability, StreamRunner}
import org.apache.spark.sql.SparkSession

/** The deployable service — the equivalent of the reference's `main`
  * (server.go:338-416): load config + aggregation specs, run the whole
  * config as one checkpointed Kafka→Kafka streaming query with observability
  * attached, and exit nonzero if the query fails, so the orchestrator
  * restarts it.
  *
  * Usage: graft.Main [config.yaml] [aggregation-specifications.yaml]
  * (requires the spark-sql-kafka connector on the classpath and a reachable
  * broker; everything below the Kafka source/sink is tested through
  * MemoryStream.)
  */
object Main {
  val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The service's session settings, all but the shuffle partition count,
    * which [[sizeShuffle]] sets once the context exists. */
  def settings(config: EngineConfig): Map[String, String] =
    Map("spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.sql.GraftExtensions",
      "spark.sql.streaming.stateStore.providerClass" -> config.stateStoreProviderClass)

  def session(config: EngineConfig): SparkSession =
    sizeShuffle(SparkSession.builder().appName("monasca-aggregator-spark")
      .config(settings(config)).getOrCreate())

  /** Sets the shuffle partition count, which is the number of state stores
    * per stateful operator, to the session's parallelism unless the
    * deployment's conf (spark-submit `--conf`) sets it. Spark restores the
    * count from an existing checkpoint's offset log, so it takes effect only
    * on a fresh checkpoint. */
  def sizeShuffle(spark: SparkSession): SparkSession = {
    val sc = spark.sparkContext
    spark.conf.set(ShufflePartitions, sc.getConf.get(ShufflePartitions, sc.defaultParallelism.toString))
    spark
  }

  def main(args: Array[String]): Unit = {
    val config = args.headOption.map(EngineConfig.load).getOrElse(EngineConfig())
    val specs = SpecLoader.loadValidated( // fatal on invalid, like the reference
      args.lift(1).getOrElse("aggregation-specifications.yaml"))
    val spark = session(config)
    val obs = Observability.attach(spark, config.windowSize)
    val Seq(query) = StreamRunner.run(spark, specs, config.kafkaBootstrapServers,
      config.consumerTopic, config.producerTopic, config.windowSize, config.windowLag,
      config.checkpointRoot)
    sys.addShutdownHook {
      scala.util.Try(query.stop())
      println(s"counters at shutdown: ${obs.snapshot}")
    }
    try query.awaitTermination()
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] streaming query failed: ${e.getMessage}")
        sys.exit(1)
    }
  }
}
