package graft.schema

import org.apache.spark.sql.types._

/** Declared-up-front stage schemas (SURVEY §1.2: fixed schemas, validated
  * headers, no inference — `01_ingest_raw_telemetry.py:174-186`).
  */
object Schemas {

  /** The exact 11-column raw telemetry CSV header, in order
    * (`01_ingest_raw_telemetry.py:174-186`). */
  val rawCsvColumns: Seq[String] = Seq(
    "timestamp", "device_id", "state", "software_state", "system_engaged",
    "current_speed", "current_position", "load_weight", "prndl",
    "parking_brake_applied", "extras")

  /** Bronze: raw CSV read as-is — everything string except what the CSV
    * parser can safely type; booleans stay text because Postgres-style
    * 't'/'f' must be accepted (FIXTURES F1). */
  val rawTelemetry: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("device_id", StringType),
    StructField("state", StringType),
    StructField("software_state", StringType),
    StructField("system_engaged", StringType),
    StructField("current_speed", DoubleType),
    StructField("current_position", StringType),
    StructField("load_weight", IntegerType),
    StructField("prndl", StringType),
    StructField("parking_brake_applied", StringType),
    StructField("extras", StringType)))

  val position: StructType = StructType(Seq(
    StructField("lon", DoubleType),
    StructField("lat", DoubleType),
    StructField("alt", DoubleType)))

  /** Silver: `02_raw_telemetry_transformed` DDL
    * (`02_raw_telemetry_transform.sql:50-65`). */
  val transformedTelemetry: StructType = StructType(Seq(
    StructField("timestamp", TimestampType, nullable = false),
    StructField("ingested_at", TimestampType, nullable = false),
    StructField("raw_event_hash_id", StringType, nullable = false),
    StructField("device_id", StringType, nullable = false),
    StructField("device_date", StringType, nullable = false),
    StructField("system_engaged", BooleanType),
    StructField("parking_brake_applied", BooleanType),
    StructField("current_position", position),
    StructField("current_speed", DoubleType),
    StructField("load_weight", DoubleType),
    StructField("state", StringType),
    StructField("software_state", StringType),
    StructField("prndl", StringType),
    StructField("extras", StringType)))

  /** The device-day clustering shared by the silver → gold path: the
    * window stack partitions by these keys, and the gold export clusters
    * on them (plus `timestamp`) so its exchange and sort are satisfied by
    * the window's own. The partition column comes first; one device per
    * `device_date` (as `TelemetryTransform` builds it) means one writer
    * per partition directory. */
  val deviceDayKeys: Seq[String] = Seq("device_date", "device_id")

  /** Candidate events (`05_load_candidates_to_db.py:96-98`), with the richer
    * archived columns kept optional (`_archive/05_cpd_pipeline.sql:8-18`). */
  val candidateEvents: StructType = StructType(Seq(
    StructField("device_id", StringType, nullable = false),
    StructField("timestamp_start", TimestampType, nullable = false),
    StructField("raw_event_hash_id", StringType, nullable = false)))
}
