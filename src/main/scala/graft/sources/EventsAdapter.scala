package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adapts the driver testdata `events` table (event_id, ts, user_id,
  * event_type, value, props-json) into the MetricEnvelope shape so the rule
  * compiler runs unchanged over batch parquet (see FIXTURES.md §5).
  *
  * Mapping (deterministic, mirrored 1:1 by the DuckDB oracle SQL in
  * SparkEntry.oracleSql):
  *   name       = event_type
  *   dimensions = { event_id → str(event_id), user_id → str(user_id), k → str(props.k),
  *                  vip → "1" only when user_id % 10 == 0 }   // F4 fodder
  *   timestamp  = epoch ms (double) of ts
  *   value      = value
  *   meta       = { tenantId → "t" + str(user_id % 3) }
  */
object EventsAdapter {

  /** `floorScan = true` applies [[ScanParallelism.flooredParquet]] to the RAW events
    * scan (below the envelope projection), for the few consumers whose
    * downstream is heavy narrow work (the s2 JSON round-trip). The default
    * stays un-floored: the ~40 cheap filter/aggregate envelope queries lose
    * more to the extra exchange than their sub-second aggregation saves
    * (measured, r17). */
  def envelopes(spark: SparkSession, sfDir: String,
      floorScan: Boolean = false): DataFrame = {
    // the testdata writes TIMESTAMP(NANOS) parquet, which Spark 4 rejects by
    // default; read the raw int64 nanos and truncate to micros ourselves
    // (identical to DuckDB's CAST(ts AS TIMESTAMP) truncation in the oracle)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    toEnvelopes(if (floorScan) ScanParallelism.flooredParquet(spark, path)
      else spark.read.parquet(path))
  }

  /** The raw events table with `ts` already normalized to epoch-micros
    * (`ts_us` BIGINT) — the input surface for the relational extension
    * queries (as-of / range joins), sharing envelopes()' reader conf and
    * timestamp semantics so every consumer agrees on the instant. */
  def rawEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    events.withColumn("ts_us", tsMicros(events)).drop("ts")
  }

  /** Epoch micros regardless of how the parquet reader surfaced `ts`
    * (int64 nanos under the legacy conf, TIMESTAMP_NTZ for micros parquet
    * written without a UTC flag, or a proper timestamp). */
  private def tsMicros(events: DataFrame): org.apache.spark.sql.Column =
    events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ is a zoneless wall clock; the testdata generator's wall clocks
        // ARE UTC instants. Spark's implicit NTZ→TIMESTAMP cast interprets
        // the wall clock in the SESSION time zone (epoch = wall − off(S));
        // re-shifting by that same zone (from_utc_timestamp adds off(S))
        // cancels the session dependence exactly, so the wall clock is read
        // as UTC under ANY session tz — not just the entry points' UTC pin.
        // (Within a DST transition hour of a non-UTC session the two offset
        // lookups can disagree by the DST delta; the UTC-pinned entry points
        // never hit that, and UTC itself has no transitions.)
        unix_micros(from_utc_timestamp(col("ts"),
          events.sparkSession.conf.get("spark.sql.session.timeZone")))
      case _ => unix_micros(col("ts"))
    }

  def toEnvelopes(events: DataFrame): DataFrame = {
    val baseDims = map(
      lit("event_id"), col("event_id").cast("string"),
      lit("user_id"), col("user_id").cast("string"),
      lit("k"), get_json_object(col("props"), "$.k"))
    val dims = when(col("user_id") % 10 === 0,
        map_concat(baseDims, map(lit("vip"), lit("1"))))
      .otherwise(baseDims)
    val tsUs = tsMicros(events)
    events.select(
      struct(
        col("event_type").as("name"),
        dims.as("dimensions"),
        (tsUs.cast("double") / lit(1000000.0) * lit(1000.0)).as("timestamp"),
        col("value").as("value"),
        map().cast("map<string,string>").as("value_meta")).as("metric"),
      map(lit("tenantId"),
        concat(lit("t"), (col("user_id") % 3).cast("string"))).as("meta"),
      lit(0L).as("creation_time"))
  }
}
