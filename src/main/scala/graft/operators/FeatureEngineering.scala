package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Geo
import graft.schema.Schemas

/** STEP 4: silver → gold feature table, one declarative plan.
  *
  * Reference: `04_worker_script.sql:1-68` (base features + spatial join +
  * three chained window CTEs) + `04_final_assembly.sql:1-28` (one-hot +
  * interaction features). The reference splits the work across 32 SQL
  * workers over `device_date IN :chunk_list` plus a staging table; here the
  * whole stage is a single plan — Spark's partitioning replaces the chunk
  * machinery (SURVEY §4).
  *
  * Scale design:
  *  - zone join: 7-polygon broadcast nested-loop left join — no fact shuffle;
  *  - all window functions share ONE partitioning
  *    `Schemas.deviceDayKeys ORDER BY timestamp`
  *    (`(device_date, device_id)`), so the stack costs a single hash
  *    shuffle and a single sort, evaluated in two Window passes (frames
  *    over silver columns, then frames over those outputs); the
  *    per-device stddev (different key) is computed as a groupBy +
  *    broadcast join-back rather than a second full-table window shuffle;
  *  - the gold export (`ExportSink.goldParquet`/`goldOrc`) clusters on the
  *    same keys plus `timestamp`, so on this stage's output the planner
  *    drops the export's exchange and sort: silver → gold file is one
  *    fact-table shuffle end to end;
  *  - everything is built-in expressions → whole-stage codegen end-to-end.
  */
object FeatureEngineering {

  /** The reference's 7 WGS84 zone polygons, verbatim coordinates from
    * `STEP 1 - Ingest Raw Telemetry/00_database_setup.sql:15-22`. */
  val lbpZones: Seq[(String, Seq[(Double, Double)])] = Seq(
    "Crusher" -> Seq(
      (-97.8302154, 33.2580123), (-97.8301054, 33.2578261),
      (-97.8299310, 33.2579001), (-97.8300786, 33.2580796),
      (-97.8302180, 33.2580190)),
    "Stockpile 1" -> Seq(
      (-97.8301483, 33.2583240), (-97.8299498, 33.2579540),
      (-97.8294402, 33.2581267), (-97.8291729, 33.2590222),
      (-97.8293744, 33.2596088), (-97.8297365, 33.2593307),
      (-97.8301529, 33.2583203)),
    "Stockpile 2" -> Seq(
      (-97.8300501, 33.2605270), (-97.8297765, 33.2599618),
      (-97.8294948, 33.2600986), (-97.8292749, 33.2605584),
      (-97.8297255, 33.2607356), (-97.8300501, 33.2605247)),
    "Stockpile 3" -> Seq(
      (-97.8277426, 33.2419613), (-97.8276353, 33.2411806),
      (-97.8269916, 33.2404538), (-97.8264122, 33.2410281),
      (-97.8263157, 33.2415171), (-97.8266322, 33.2417863),
      (-97.8277372, 33.2419613)),
    "Pit 1" -> Seq(
      (-97.8406601, 33.2732661), (-97.8406708, 33.2708980),
      (-97.8354781, 33.2709428), (-97.8358321, 33.2734634)),
    "Pit 2" -> Seq(
      (-97.8365509, 33.2763763), (-97.8364115, 33.2737571),
      (-97.8321092, 33.2738737), (-97.8322487, 33.2759726)),
    "Pit 3" -> Seq(
      (-97.8350793, 33.2736128), (-97.8343498, 33.2700068),
      (-97.8326761, 33.2700516), (-97.8323435, 33.2736845)))

  /** Zones as a broadcastable DataFrame (zone_name, vertices). */
  def zonesDf(spark: SparkSession,
      zones: Seq[(String, Seq[(Double, Double)])] = lbpZones): DataFrame = {
    import spark.implicits._
    zones.map { case (n, vs) => (n, vs.map(v => Position2D(v._1, v._2))) }
      .toDF("zone_name", "vertices")
  }

  /** Spatial left join (J1): label each row with the zone containing its
    * position, default 'Haul Road / Other'
    * (`04_worker_script.sql:12-16`). Broadcast nested-loop by construction.
    */
  def withLocationType(telemetry: DataFrame, zones: DataFrame): DataFrame = {
    // native codegen'd predicate (the BNLJ evaluates it rows × polygons
    // times); registration is idempotent per session
    graft.plans.GraftExtensions.register(telemetry.sparkSession)
    val joined = telemetry.join(
      broadcast(zones),
      graft.plans.PointInPolygonExpression.pointInPolygonNative(
        col("current_position.lon"), col("current_position.lat"),
        col("vertices")) && col("current_position").isNotNull,
      "left")
    joined
      .withColumn("location_type",
        coalesce(col("zone_name"), lit("Haul Road / Other")))
      .drop("zone_name", "vertices")
  }

  /** The full window stack + assembly (`04_worker_script.sql:18-68` +
    * `04_final_assembly.sql:5-26`). Expects silver columns + location join
    * already applied; see [[features]] for the composed stage.
    *
    * Two `select`s, so two Window operators over one sort: the first
    * computes every frame whose input is a silver column, the second
    * every frame over the first's outputs. Each Window operator buffers
    * whole device-days, so the pass count, not the frame count, sets the
    * stage's buffering cost. */
  def withWindowFeatures(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(Schemas.deviceDayKeys.map(col): _*)
      .orderBy("timestamp")
    val c5 = w.rowsBetween(-2, 2)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val altitude = col("current_position.alt")
    val isStationary = col("current_speed") < 0.5
    val tsUs = unix_micros(col("timestamp"))

    val pass1 = df.select(col("*"),
      altitude.as("altitude"),
      isStationary.as("is_stationary"),
      // LAG(is_stationary, 1, is_stationary): default = current row's value
      coalesce(lag(isStationary, 1).over(w), isStationary)
        .as("prev_stationary"),
      // exact integer microseconds; the seconds view divides ONCE so the
      // value is bit-reproducible across engines/platforms (no float
      // accumulation) — at 100 TB run-to-run determinism is a feature
      coalesce(tsUs - lag(tsUs, 1).over(w), lit(0L)).as("time_delta_us"),
      avg("load_weight").over(c5).as("load_weight_smoothed"),
      // running Σ time_delta_us, telescoped: every delta is the gap to
      // the previous row (0 for the first row and for null timestamps,
      // which sort first), so the sum is exactly the distance from the
      // first non-null timestamp — an integer identity, no accumulation
      coalesce(tsUs - first(tsUs, ignoreNulls = true).over(run), lit(0L))
        .as("_cum_us"),
      (altitude - lag(altitude, 1).over(w)).as("altitude_rate_of_change"),
      // "5s" in the reference name, but the frame is 5 ROWS at ~2 Hz —
      // keep rows semantics (SURVEY §7.4).
      avg("current_speed").over(c5).as("speed_rolling_avg_5s"))

    val blockStart = col("is_stationary") =!= col("prev_stationary")
    // Per-block running dwell WITHOUT a block-partitioned window (guide
    // §2.2: one partitioning/order serving every frame — a
    // partitionBy(device, date, block) frame needs its own sort order,
    // two extra full-table sorts). Blocks are CONTIGUOUS runs in
    // (device, date, ts) order and _cum_us is non-decreasing, so the
    // block-scoped running sum is _cum_us − base, where base is the
    // running MAX of the block-start baselines (_cum_us − delta at each
    // block boundary; the first block has none → 0). All terms are
    // longs: bit-identical to the per-block sum, divided by 1e6 once.
    val blockBaseUs = coalesce(
      max(when(blockStart, col("_cum_us") - col("time_delta_us"))).over(run),
      lit(0L))
    pass1.select(df.columns.map(c => col(s"`$c`")).toIndexedSeq ++ Seq(
      col("altitude"),
      col("is_stationary"),
      (col("time_delta_us") / 1e6).as("time_delta"),
      col("load_weight_smoothed"),
      sum(when(blockStart, 1).otherwise(0)).over(run)
        .as("stationary_block_id"),
      col("altitude_rate_of_change"),
      col("speed_rolling_avg_5s"),
      (col("load_weight_smoothed") - lag("load_weight_smoothed", 1).over(w))
        .as("load_weight_rate_of_change"),
      // running dwell accumulated in exact integer µs, divided once —
      // identical semantics to SUM(time_delta) (04_worker_script.sql:63-66)
      // up to float association, but engine-deterministic
      when(col("is_stationary"), (col("_cum_us") - blockBaseUs) / 1e6)
        .otherwise(0.0).as("time_in_stationary_state")): _*)
  }

  /** Per-device payload-sensor reliability: STDDEV(load_weight) over the
    * whole device partition > 1000 (`04_worker_script.sql:62`).
    * Implemented as groupBy + broadcast join-back: at 100 TB an unbounded
    * window over (device_id) would shuffle the fact table a second time and
    * hold whole devices in one task; the tiny per-device aggregate is
    * broadcast instead. */
  def withReliablePayload(df: DataFrame): DataFrame = {
    val perDevice = df.groupBy("device_id")
      .agg((stddev_samp(col("load_weight")) > 1000).as("has_reliable_payload"))
    df.join(broadcast(perDevice), Seq("device_id"), "left")
  }

  /** One-hot + interaction features (`04_final_assembly.sql:14-26`). */
  def withAssemblyFeatures(df: DataFrame): DataFrame = df
    .withColumn("prndl_park", col("prndl") === "park")
    .withColumn("prndl_reverse", col("prndl") === "reverse")
    .withColumn("prndl_neutral", col("prndl") === "neutral")
    .withColumn("prndl_drive", col("prndl") === "drive")
    .withColumn("prndl_unknown", col("prndl") === "unknown")
    .withColumn("is_heavy_load", col("load_weight_smoothed") > 50000)
    .withColumn("is_ready_for_load",
      col("is_stationary") && !(col("load_weight_smoothed") > 50000))
    .withColumn("is_hauling",
      (col("load_weight_smoothed") > 50000) && !col("is_stationary"))
    .withColumn("is_in_loading_zone",
      col("location_type").like("Pit%") ||
        col("location_type").like("Stockpile%"))
    .withColumn("is_in_dumping_zone",
      col("location_type") === "Crusher" ||
        col("location_type").like("Stockpile%"))

  /** The composed STEP 4 stage: silver in, 33-column gold out. */
  def features(silver: DataFrame, zones: DataFrame): DataFrame =
    withAssemblyFeatures(
      withReliablePayload(
        withWindowFeatures(
          withLocationType(silver, zones))))
}

/** Minimal lon/lat pair for zone vertex arrays. */
case class Position2D(lon: Double, lat: Double)
