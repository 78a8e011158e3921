package graft.streaming

import graft.model.AggregationSpec
import graft.plan.RuleCompiler
import graft.sources.KafkaIO
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Structured-Streaming execution of a compiled rule config — the
  * replacement for the reference's main loop (server.go:338-416):
  *  - windowSize ticker (server.go:204-210, 377-388, W3) →
  *    `Trigger.ProcessingTime(windowSize)`; emission instants are not
  *    epoch-aligned, window contents and bounds are (SURVEY.md §7.4.1);
  *  - windowLag emission cutoff (server.go:213-218, W2) →
  *    `withWatermark(event_ts, windowLag)` + append mode: a window is emitted
  *    once, when the watermark passes its end, and its state evicted
  *    (W4, server.go:291-305);
  *  - data later than an emitted window is dropped, where the reference
  *    re-emits a partial duplicate (SURVEY.md §2.1.4) — a deliberate divergence.
  *
  * The whole config is ONE query ([[RuleCompiler.compileStreaming]]): each
  * micro-batch reads and parses the source once into one window aggregate
  * (and a second when a rule has a rollup) — one incremental plan over one
  * versioned state store, as in *Structured Streaming* (SIGMOD 2018).
  * Every micro-batch plans that query afresh, but the rules are literal
  * tables in it and `creation_time` is the wall clock at emission, so the
  * generated code is the same in every micro-batch and compiled once.
  * Against a query per rule:
  *  - one watermark for all rules (latest event time of any rule less the
  *    lag): a row more than windowLag behind another rule's events is late.
  *    The reference, too, has one cutoff for all rules (server.go:213-218);
  *  - one failure domain: `SpecLoader.loadValidated` rejects bad rules at
  *    load, so failures come from the source, sink or executors, which
  *    per-rule queries shared anyway;
  *  - one checkpoint, `<checkpointRoot>/aggregator`, not one per rule. To
  *    upgrade, start from the old checkpoints' last committed offsets (the
  *    newest `offsets/` entry, as Kafka `startingOffsets`), or accept a replay
  *    from `earliest` that re-emits windows already emitted;
  *  - if a rule has a rollup, rules without one keep one-row identity groups
  *    in the second aggregate's state;
  *  - the state layout belongs to the config, not to each rule. State is keyed
  *    by rule name and the buffer's slots are in name order, so adding,
  *    removing or reordering rules that use the functions already in the
  *    config restarts from the checkpoint. A change to the set of functions
  *    or rollup functions, the first or last rollup, or a rule with an
  *    arrival-order function (which has an aggregate of its own) changes the
  *    buffer or the stateful operators and needs a fresh checkpoint (upgrade
  *    as above).
  */
object StreamRunner {

  /** Name of the service's query and of its checkpoint directory. */
  val QueryName = "aggregator"

  /** One rule's streaming plan over any envelope-schema stream: the one-rule
    * case of the service's plan. */
  def buildStreaming(spec: AggregationSpec, windowSizeSec: Long, windowLagSec: Long)(
      envelopes: DataFrame): DataFrame =
    RuleCompiler.compileStreaming(Seq(spec), windowSizeSec, windowLagSec)(envelopes)

  /** The service over any envelope stream: the whole config as one
    * checkpointed append-mode query, written by `sink` (format and options). */
  def start(specs: Seq[AggregationSpec], envelopes: DataFrame, windowSizeSec: Long,
      windowLagSec: Long, checkpoint: String)(sink: DataFrame => DataStreamWriter[Row]): StreamingQuery =
    sink(RuleCompiler.compileStreaming(specs, windowSizeSec, windowLagSec)(envelopes))
      .option("checkpointLocation", checkpoint).outputMode("append")
      .trigger(Trigger.ProcessingTime(s"$windowSizeSec seconds")).queryName(QueryName).start()

  /** The Kafka→Kafka deployment, equivalent of the whole reference service:
    * [[start]] between the Kafka source and sink. */
  def run(spark: SparkSession, specs: Seq[AggregationSpec], servers: String,
      inTopic: String, outTopic: String, windowSizeSec: Long, windowLagSec: Long,
      checkpointRoot: String): Seq[StreamingQuery] = {
    val checkpoint = s"$checkpointRoot/$QueryName"
    Seq(start(specs, KafkaIO.readEnvelopes(spark, servers, inTopic), windowSizeSec,
      windowLagSec, checkpoint)(KafkaIO.writeEnvelopes(_, servers, outTopic, checkpoint)))
  }

  /** S4 — test-data generator with the reference publisher's shape
    * (tools/publisher.go:66-90): every second, a 3-services × 2-hostnames grid
    * of `metric2` envelopes with value 2.0, timestamp = now (ms), empty meta.
    * Built on the rate source: 6 rows/sec → (service, hostname) from the
    * sequence number. */
  def publisherStream(spark: SparkSession, rowsPerSecond: Int = 6): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()
      .select(
        struct(
          lit("metric2").as("name"),
          map(
            lit("service"), ((col("value") / 2) % 3).cast("long").cast("string"),
            lit("hostname"), (col("value") % 2).cast("string")).as("dimensions"),
          (col("timestamp").cast("double") * 1000).as("timestamp"),
          lit(2.0).as("value"),
          map().cast("map<string,string>").as("value_meta")).as("metric"),
        map().cast("map<string,string>").as("meta"),
        lit(0L).as("creation_time"))
}
