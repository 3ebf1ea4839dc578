package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.operators.{FeatureEngineering, TelemetryTransform}
import graft.schema.Schemas

/** The reference pipeline stages (STEP 2 transform, STEP 4 features,
  * spatial zone join) exercised through the DuckDB-oracle gate.
  *
  * The testdata has no telemetry table, so each query first synthesizes a
  * telemetry-shaped frame from `events` with expressions that are written
  * identically in Spark and in the oracle SQL (same arithmetic → bit-equal
  * doubles), then applies the REAL library operator on the Spark side while
  * the oracle transcribes the reference SQL semantics directly.
  */
object PipelineQueries {

  /** Synthesized raw-telemetry columns from events, Spark side.
    * Mirrors the CTE `raw` in the oracle SQL below — keep in lockstep. */
  /** Public alias for diagnostics. */
  def rawTelemetryFromEventsPublic(s: SparkSession, d: String): DataFrame =
    rawTelemetryFromEvents(s, d)

  private def rawTelemetryFromEvents(s: SparkSession, d: String): DataFrame = {
    // split-starvation guard: the downstream silver transform is sha256 +
    // enum chains + position parse per row — CPU-bound narrow work that a
    // one-split scan would serialize on a single core
    graft.Tables.ensureParallelism(events(s, d)).select(
      col("event_id"),
      col("ts").as("timestamp"),
      concat(lit("truck-"), (col("user_id") % 20).cast("string"))
        .as("device_id"),
      when(col("value") < 12.5, "LoadingManeuver")
        .when(col("value") < 25, " loadToDump ")
        .when(col("value") < 37.5, "DUMPING")
        .when(col("value") < 50, "waitingToDump")
        .when(col("value") < 62.5, "zoneQueuedDumpToLoad")
        .when(col("value") < 75, "Idle")
        .when(col("value") < 87.5, "bogus_state")
        .otherwise(lit(null).cast("string")).as("state"),
      when(col("user_id") % 6 === 0, "start")
        .when(col("user_id") % 6 === 1, "STOP")
        .when(col("user_id") % 6 === 2, " slow ")
        .when(col("user_id") % 6 === 3, "wait")
        .when(col("user_id") % 6 === 4, "Fault")
        .otherwise("strange").as("software_state"),
      when(col("event_id") % 5 === 0, "t")
        .when(col("event_id") % 5 === 1, "f")
        .when(col("event_id") % 5 === 2, "TRUE")
        .when(col("event_id") % 5 === 3, "false")
        .otherwise("1").as("system_engaged"),
      (col("value") / 10).as("current_speed"),
      when(col("event_id") % 97 === 0, "garbage")
        .otherwise(concat(lit("{"),
          (col("value") / 1000 + 33.2).cast("string"), lit(", "),
          ((col("user_id") % 100) / 10000.0 - 97.84).cast("string"), lit(", "),
          (col("value") + 200.0).cast("string"), lit("}")))
        .as("current_position"),
      when(col("event_id") % 89 === 0, -99)
        .otherwise(floor(col("value") * 1200)).cast("int").as("load_weight"),
      when(col("user_id") % 7 === 0, "P")
        .when(col("user_id") % 7 === 1, "reverse")
        .when(col("user_id") % 7 === 2, "N")
        .when(col("user_id") % 7 === 3, " d ")
        .when(col("user_id") % 7 === 4, "LOW")
        .when(col("user_id") % 7 === 5, "l")
        .otherwise(lit(null).cast("string")).as("prndl"),
      when(col("event_id") % 6 === 0, "t")
        .when(col("event_id") % 6 === 1, "f")
        .when(col("event_id") % 6 === 2, "no")
        .when(col("event_id") % 6 === 3, "yes")
        .when(col("event_id") % 6 === 4, "0")
        .otherwise("junk").as("parking_brake_applied"),
      when(col("event_id") % 17 === 0, "")
        .when(col("event_id") % 13 === 0, "not \" json")
        .when(col("event_id") % 11 === 0, lit(null).cast("string"))
        .otherwise(col("props")).as("extras"))
  }

  /** The same synthesis as a DuckDB CTE. */
  private val rawCte: String =
    """WITH raw AS (
      |  SELECT event_id, ts AS timestamp,
      |    'truck-' || CAST(user_id % 20 AS VARCHAR) AS device_id,
      |    CASE WHEN value < 12.5 THEN 'LoadingManeuver'
      |         WHEN value < 25 THEN ' loadToDump '
      |         WHEN value < 37.5 THEN 'DUMPING'
      |         WHEN value < 50 THEN 'waitingToDump'
      |         WHEN value < 62.5 THEN 'zoneQueuedDumpToLoad'
      |         WHEN value < 75 THEN 'Idle'
      |         WHEN value < 87.5 THEN 'bogus_state'
      |         ELSE NULL END AS state,
      |    CASE WHEN user_id % 6 = 0 THEN 'start'
      |         WHEN user_id % 6 = 1 THEN 'STOP'
      |         WHEN user_id % 6 = 2 THEN ' slow '
      |         WHEN user_id % 6 = 3 THEN 'wait'
      |         WHEN user_id % 6 = 4 THEN 'Fault'
      |         ELSE 'strange' END AS software_state,
      |    CASE WHEN event_id % 5 = 0 THEN 't'
      |         WHEN event_id % 5 = 1 THEN 'f'
      |         WHEN event_id % 5 = 2 THEN 'TRUE'
      |         WHEN event_id % 5 = 3 THEN 'false'
      |         ELSE '1' END AS system_engaged,
      |    value / 10 AS current_speed,
      |    event_id % 97 = 0 AS pos_garbage,
      |    value / 1000 + 33.2 AS pos_lat,
      |    (user_id % 100) / 10000.0 - 97.84 AS pos_lon,
      |    value + 200.0 AS pos_alt,
      |    CASE WHEN event_id % 89 = 0 THEN -99
      |         ELSE CAST(floor(value * 1200) AS INT) END AS load_weight,
      |    CASE WHEN user_id % 7 = 0 THEN 'P'
      |         WHEN user_id % 7 = 1 THEN 'reverse'
      |         WHEN user_id % 7 = 2 THEN 'N'
      |         WHEN user_id % 7 = 3 THEN ' d '
      |         WHEN user_id % 7 = 4 THEN 'LOW'
      |         WHEN user_id % 7 = 5 THEN 'l'
      |         ELSE NULL END AS prndl,
      |    CASE WHEN event_id % 6 = 0 THEN 't'
      |         WHEN event_id % 6 = 1 THEN 'f'
      |         WHEN event_id % 6 = 2 THEN 'no'
      |         WHEN event_id % 6 = 3 THEN 'yes'
      |         WHEN event_id % 6 = 4 THEN '0'
      |         ELSE 'junk' END AS parking_brake_applied,
      |    CASE WHEN event_id % 17 = 0 THEN ''
      |         WHEN event_id % 13 = 0 THEN 'not " json'
      |         WHEN event_id % 11 = 0 THEN NULL
      |         ELSE props END AS extras
      |  FROM events
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- STEP 2 silver transform end-to-end (SURVEY §2.2 P1-P3, §2.8,
    // §2.10: hash id, enum CASE chains, bool parse, position parse,
    // extras validate-or-wrap) ----
    "q_telemetry_transform" -> ((s, d) => {
      val raw = rawTelemetryFromEvents(s, d)
      TelemetryTransform.transform(raw, passthrough = Seq("event_id"))
        .select(
          col("event_id"), col("raw_event_hash_id"), col("device_id"),
          col("device_date"), col("system_engaged"),
          col("parking_brake_applied"),
          col("current_position.lon").as("pos_lon"),
          col("current_position.lat").as("pos_lat"),
          col("current_position.alt").as("pos_alt"),
          col("current_speed"), col("load_weight"), col("state"),
          col("software_state"), col("prndl"), col("extras"))
        .orderBy("event_id")
    }),

    // ---- STEP 4 window-feature stack (W1-W7) + assembly booleans ----
    "q_feature_stack" -> ((s, d) => {
      val silver = events(s, d).select(
        col("event_id"),
        col("ts").as("timestamp"),
        concat(lit("truck-"), (col("user_id") % 20).cast("string"))
          .as("device_id"),
        concat(lit("truck-"), (col("user_id") % 20).cast("string"), lit("_"),
          date_format(col("ts"), "yyyy-MM-dd")).as("device_date"),
        (col("value") / 10).as("current_speed"),
        when(col("user_id") % 20 === 7, lit(5000.0))
          .otherwise(floor(col("value") * 1200).cast("double"))
          .as("load_weight"),
        struct(lit(0.0).as("lon"), lit(0.0).as("lat"),
          (col("value") * 3).as("alt")).as("current_position"),
        when(col("user_id") % 4 === 0, "Pit 1")
          .when(col("user_id") % 4 === 1, "Stockpile 2")
          .when(col("user_id") % 4 === 2, "Crusher")
          .otherwise("Haul Road / Other").as("location_type"),
        when(col("user_id") % 7 === 0, "park")
          .when(col("user_id") % 7 === 1, "reverse")
          .when(col("user_id") % 7 === 2, "neutral")
          .when(col("user_id") % 7 === 3, "drive")
          .when(col("user_id") % 7 === 4, "low")
          .otherwise("unknown").as("prndl"))
      // Every compared float below is EXACT (integer arithmetic + at most
      // one division) — no round() on engine-accumulated doubles, so the
      // hash is stable across DuckDB versions / platforms. The one
      // non-integer rolling mean (speed) is compared on a µs-quantized
      // twin of the same window frame; the float variant is covered by
      // q_window_rolling. Quantized columns are added BEFORE the
      // reliability broadcast join so Catalyst merges them into the
      // operator's existing window chain (no extra sort).
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(Schemas.deviceDayKeys.map(col): _*).orderBy("timestamp")
        .rowsBetween(-2, 2)
      val windowed = FeatureEngineering.withWindowFeatures(silver)
        .withColumn("speed_q", floor(col("current_speed") * 1e6).cast("long"))
        .withColumn("speed_rolling_q5",
          sum("speed_q").over(wq).cast("double") /
            count(lit(1)).over(wq) / 1e6)
      val gold = FeatureEngineering.withAssemblyFeatures(
        FeatureEngineering.withReliablePayload(windowed))
      gold
        .select(
        col("event_id"),
        col("is_stationary"),
        col("time_delta"),
        col("load_weight_smoothed"),
        col("stationary_block_id"),
        ((col("altitude_rate_of_change")) + 0.0).as("altitude_roc"),
        col("speed_rolling_q5").as("speed_rolling_avg_5s"),
        ((col("load_weight_rate_of_change")) + 0.0).as("load_weight_roc"),
        col("has_reliable_payload"),
        col("time_in_stationary_state").as("time_in_stationary"),
        col("prndl_park"), col("prndl_drive"), col("prndl_unknown"),
        col("is_heavy_load"), col("is_ready_for_load"), col("is_hauling"),
        col("is_in_loading_zone"), col("is_in_dumping_zone"))
        .orderBy("event_id")
    }),

    // ---- full MERGE (WHEN MATCHED UPDATE / DELETE, WHEN NOT MATCHED
    // INSERT) in one keyed full-outer pass: target = low-id events,
    // source = re-keyed slice with a delete stripe ----
    "q_merge" -> ((s, d) => {
      import graft.operators.TelemetryTransform
      val e = events(s, d)
      val target = e.where(col("event_id") < 6000)
        .select(col("event_id").as("k"), col("value"),
          lit("old").as("src"))
      val source = e.where(col("event_id") % 3 === 0 &&
          col("event_id") < 9000)
        .select(col("event_id").as("k"), (col("value") + 1000).as("value"),
          lit("new").as("src"))
      TelemetryTransform.merge(target, source, "k",
          deleteWhen = col("k") % 9 === 0)
        .orderBy("k")
    }),

    // ---- J4 upsert (ON CONFLICT DO UPDATE semantics,
    // 02_raw_telemetry_transform.py:347-365): new rows win on hash
    // collision; oracle = union + qualify keep-first. "Existing" = events
    // with user_id < 100, "new" = re-keyed overlap slice with bumped
    // values. ----
    "q_upsert" -> ((s, d) => {
      import graft.operators.TelemetryTransform
      val e = events(s, d)
      val existing = e.where(col("user_id") < 100)
        .select(col("event_id").cast("string").as("raw_event_hash_id"),
          col("value"), lit("old").as("src"))
      val newRows = e.where(col("event_id") % 3 === 0)
        .select(col("event_id").cast("string").as("raw_event_hash_id"),
          (col("value") + 1000).as("value"), lit("new").as("src"))
      TelemetryTransform.upsert(newRows, existing)
        .orderBy(col("raw_event_hash_id").cast("long"))
        .select(col("raw_event_hash_id"), col("value"), col("src"))
    }),

    // ---- CDC changelog apply (beyond ref — the Debezium/binlog
    // replay rung of the maintenance family): base snapshot = each
    // user's earliest event value; log = every 4th event as a
    // U/D op ordered by event_id; last-writer-wins, deletes
    // tombstone. The oracle replays the same top-1-per-key pick ----
    "q_changelog_apply" -> ((s, d) => {
      import graft.operators.TelemetryTransform
      val e = events(s, d)
      val base = e.groupBy(col("user_id").as("k"))
        .agg(min_by(floor(col("value") * 1000).cast("long"),
          col("event_id")).as("v"))
      val log = e.where(col("event_id") % 4 === 0)
        .select(col("user_id").as("k"), col("event_id").as("seq"),
          when(col("event_id") % 20 === 0, "D").otherwise("U").as("op"),
          floor(col("value") * 1000).cast("long").as("v"))
      TelemetryTransform.applyChangelog(base, log, "k", "seq", "op")
        .orderBy("k")
    }),

    // ---- salted skew join (SURVEY §7.4 — the 96-partition device-date
    // skew): 80% of fact rows land on ONE planted hot key, the kind of
    // key distribution that serializes a plain shuffle join into one
    // straggler reducer. Skew.saltedJoin spreads the hot key over 8
    // salt sub-keys (dim replicated 8×); the oracle is the PLAIN
    // join + agg — salting must be invisible in the result ----
    "q_skew_join" -> ((s, d) => {
      import graft.operators.Skew
      val e = events(s, d).select(
        when(col("event_id") % 10 < 8, lit(0L))
          .otherwise(col("user_id") % 50).as("k"),
        floor(col("value") * 1000).cast("long").as("v_m"))
      val dim = events(s, d).select((col("user_id") % 50).as("k"))
        .distinct()
        .withColumn("grp", concat(lit("g"), (col("k") % 5).cast("string")))
      Skew.saltedJoin(e, dim, Seq("k"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v_m").as("sum_v_m"))
        .orderBy("grp")
    }),

    // ---- J2 interval join + precedence labeling (STEP 2.1): label each
    // event by membership in per-truck [start, end] intervals, load_event
    // winning over dump_event on overlap; oracle = the reference's ordered
    // EXISTS chain (02.1.2_...label_recombine.py:358-398). ----
    "q_interval_label" -> ((s, d) => {
      import graft.operators.IntervalJoin
      val t0 = 1704153600L // 2024-01-02 00:00:00 UTC
      val iv = s.range(40).select(
        concat(lit("truck-"), (col("id") % 20).cast("string")).as("truck_id"),
        timestamp_seconds(lit(t0) + ((col("id") % 20) * 29 +
          when(col("id") < 20, 0).otherwise(5)) * 3600).as("start_time"),
        timestamp_seconds(lit(t0) + ((col("id") % 20) * 29 +
          when(col("id") < 20, 0).otherwise(5)) * 3600 + 36000).as("end_time"),
        when(col("id") < 20, "load_event").otherwise("dump_event").as("label"))
      val ev = events(s, d).select(col("event_id"),
        concat(lit("truck-"), (col("user_id") % 20).cast("string"))
          .as("truck_id"),
        col("ts"))
      IntervalJoin.labelByIntervals(ev, iv, "truck_id", "ts",
          "start_time", "end_time", "label",
          precedence = Seq("load_event", "dump_event"))
        .select("event_id", "truck_id", "ml_event_label")
        .orderBy("event_id")
    }),

    // ---- §2.8 geo formatting: ST_AsText-style WKT POINT Z rendering of
    // parsed positions (05_export_features_to_parquet.py:199) ----
    "q_wkt" -> ((s, d) => {
      import graft.functions.Geo
      val raw = rawTelemetryFromEvents(s, d)
      // values rounded to 6 dp before rendering: short-decimal doubles
      // print identically under Java's and DuckDB's shortest-roundtrip
      // formatters, full-precision doubles may not (pre-Java-19 anomaly)
      val pos = Geo.parsePosition(col("current_position"))
      raw.select(col("event_id"),
          when(pos.isNotNull, struct(
            round(pos.getField("lon"), 6).as("lon"),
            round(pos.getField("lat"), 6).as("lat"),
            round(pos.getField("alt"), 6).as("alt")))
            .as("pos"))
        .select(col("event_id"), Geo.toWktPointZ(col("pos")).as("wkt"))
        .orderBy("event_id")
    }),

    // ---- W9 ML feature prep (per-device Savitzky-Golay, 10-step
    // velocities, squared/one-hot terms; 02.1.3_train_xgboost_model
    // .py:146-196). Savgol isn't SQL-expressible → rows-only gate;
    // the kernel itself is golden-tested in SavitzkyGolaySpec. ----
    "q_ml_features" -> ((s, d) => {
      import graft.ml.EventClassifier
      val labeled = events(s, d).select(
        concat(lit("truck-"), (col("user_id") % 20).cast("string"))
          .as("device_id"),
        col("ts").as("timestamp"),
        floor(col("value") * 1200).cast("double").as("load_weight"),
        (col("value") * 3).as("altitude"),
        (col("value") / 10).as("current_speed"),
        when(col("user_id") % 2 === 0, "drive").otherwise("park").as("prndl"),
        when(col("value") < 30, "loading").otherwise("hauling").as("state"),
        lit("autonomous").as("software_state"),
        lit(true).as("system_engaged"),
        lit(false).as("parking_brake_applied"),
        when(col("value") < 20, "load_event")
          .when(col("value") < 40, "dump_event")
          .otherwise("background").as("ml_event_label"))
      // the whole operator runs (savgol join included — it sets the row
      // set), but the COMPARED aggregates avoid the savgol-derived columns:
      // the kernel itself is golden-tested in SavitzkyGolaySpec against
      // published coefficients, everything else is oracle-checked here
      EventClassifier.engineerFeatures(labeled)
        .groupBy("ml_event_label")
        .agg(count(lit(1)).as("n"),
          count(when(col("altitude_velocity") =!= 0.0, 1))
            .as("n_alt_velocity"),
          count(when(col("state_loading") === 1, 1)).as("n_state_loading"),
          count(when(col("prndl_drive") === 1, 1)).as("n_drive"),
          count(when(col("is_stationary") === 1, 1)).as("n_stationary"),
          sum(col("system_engaged_i")).as("n_engaged"))
        .orderBy("ml_event_label")
    }),

    // ---- §5.1 ground-truth validation: inner join on (device, ts) →
    // (predicted, actual) discrepancy matrix (validate_with_ground_truth
    // .py:33-101); planted disagreements via different CASE rules ----
    "q_ground_truth" -> ((s, d) => {
      import graft.operators.Validation
      val base = events(s, d).select(
        concat(lit("truck-"), (col("user_id") % 20).cast("string"))
          .as("device_id"),
        col("ts").as("timestamp"),
        col("event_id"), col("value"))
      val labeled = base.select(col("device_id"), col("timestamp"),
        when(col("value") < 20, "load_event")
          .when(col("value") < 40, "dump_event")
          .otherwise("background").as("ml_event_label"))
      val truth = base.where(col("event_id") % 2 === 0)
        .select(col("device_id"), col("timestamp"),
          when(col("event_id") % 3 === 0, "load_event")
            .when(col("event_id") % 3 === 1, "dump_event")
            .otherwise("background").as("actual_event_label"))
      Validation.groundTruthDiscrepancy(labeled, truth)
    }),

    // ---- A5 label distribution stats over the interval-join output
    // (02.1.2_...label_recombine.py:425-447) ----
    "q_label_stats" -> ((s, d) => {
      import graft.operators.IntervalJoin
      val t0 = 1704153600L
      val iv = s.range(40).select(
        concat(lit("truck-"), (col("id") % 20).cast("string")).as("truck_id"),
        timestamp_seconds(lit(t0) + ((col("id") % 20) * 29 +
          when(col("id") < 20, 0).otherwise(5)) * 3600).as("start_time"),
        timestamp_seconds(lit(t0) + ((col("id") % 20) * 29 +
          when(col("id") < 20, 0).otherwise(5)) * 3600 + 36000).as("end_time"),
        when(col("id") < 20, "load_event").otherwise("dump_event").as("label"))
      val ev = events(s, d).select(col("event_id"),
        concat(lit("truck-"), (col("user_id") % 20).cast("string"))
          .as("truck_id"),
        col("ts"))
      IntervalJoin.labelByIntervals(ev, iv, "truck_id", "ts",
          "start_time", "end_time", "label",
          precedence = Seq("load_event", "dump_event"))
        .groupBy("ml_event_label")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("truck_id")).as("n_trucks"),
          unix_micros(min("ts")).as("min_ts_us"),
          unix_micros(max("ts")).as("max_ts_us"))
        .orderBy("ml_event_label")
    }),

    // ---- STEP 5 CPD: downsample → PELT → candidates (§2.10). Not
    // SQL-expressible → no oracle entry; the driver records rows-only and
    // the PELT kernel is golden-tested in PeltSpec/CpdSpec. ----
    "q_cpd_candidates" -> ((s, d) => {
      import graft.operators.Cpd
      val silver = events(s, d).select(
        col("ts").as("timestamp"),
        concat(lit("truck-"), (col("user_id") % 20).cast("string"))
          .as("device_id"),
        concat(lit("truck-"), (col("user_id") % 20).cast("string"), lit("_"),
          date_format(col("ts"), "yyyy-MM")).as("device_date"),
        (col("value") / 10).as("current_speed"),
        when(col("user_id") % 20 === 7, lit(5000.0))
          .otherwise(floor(col("value") * 1200).cast("double"))
          .as("load_weight"),
        struct(lit(0.0).as("lon"), lit(0.0).as("lat"),
          (col("value") * 3).as("alt")).as("current_position"))
      val feats = FeatureEngineering.withReliablePayload(
        FeatureEngineering.withWindowFeatures(silver))
        .withColumnRenamed("raw_event_hash_id", "_ignored")
        .withColumn("raw_event_hash_id",
          sha2(concat(col("device_id"), lit("|"),
            col("timestamp").cast("string")), 256))
      // STEP 4 → STEP 5 boundary: the reference materializes gold to
      // parquet here (05_export_features_to_parquet.py →
      // 05_cpd_orchestrator_polars.py) because CPD consumes its input
      // twice (gates aggregate + clean filter). Since r17 the operator
      // itself pins that single-execution guarantee — candidateEvents
      // persists its 7-column projection internally — so the extra
      // write-to-/tmp + read-back this query used to do was paying a
      // full parquet round-trip for a guarantee it already had (r17
      // optimization: the round-trip was ~0.4 s of the query's 1.6 s at
      // sf0.1, and the /tmp housekeeping class it created is gone).
      val gold = feats.select("device_date", "timestamp",
        "load_weight_rate_of_change", "speed_rolling_avg_5s",
        "altitude_rate_of_change", "has_reliable_payload",
        "raw_event_hash_id")
      Cpd.candidateEvents(gold,
          Cpd.Config(every = "5 minutes", penalty = 0.5))
        .toDF()
        .select(col("device_id"),
          unix_micros(col("timestamp_start")).as("start_us"),
          col("raw_event_hash_id"))
        .orderBy("device_id", "start_us", "raw_event_hash_id")
    }),

    // ---- CPD self-check: planted steps with closed-form change points →
    // the ±10 min tolerance recall metric vs that truth must be exactly
    // 1.0 with exactly the planted detections (zero noise, step size ≫
    // penalty) — turns the CPD gate from rows-only into a deterministic
    // expected-output check (reference claudeupdate.md:29-35,
    // validate_with_ground_truth.py:33-101) ----
    "q_cpd_recall" -> ((s, _) => {
      import graft.operators.{Cpd, Validation}
      val t0 = 1704153600L // 2024-01-02 00:00:00 UTC
      val nDev = 4
      val base = s.range(nDev.toLong * 7200).select(
        concat(lit("rig-"), (col("id") % nDev).cast("string"))
          .as("device_id"),
        floor(col("id") / nDev).cast("long").as("sec"))
      val feats = base.select(
        concat(col("device_id"), lit("_2024-01-02")).as("device_date"),
        timestamp_seconds(lit(t0) + col("sec")).as("timestamp"),
        // steps of +50 at 1800 s, 3600 s, 5400 s
        (floor(col("sec") / 1800) * 50.0).as("load_weight_rate_of_change"),
        lit(0.0).as("speed_rolling_avg_5s"),
        lit(0.0).as("altitude_rate_of_change"),
        lit(true).as("has_reliable_payload"),
        concat(col("device_id"), lit("|"), col("sec").cast("string"))
          .as("raw_event_hash_id"))
      val cands = Cpd.candidateEvents(feats, Cpd.Config()).toDF()
      val truth = s.range(nDev.toLong * 3).select(
        concat(lit("rig-"), (col("id") % nDev).cast("string"))
          .as("device_id"),
        timestamp_seconds(lit(t0) +
          (floor(col("id") / nDev).cast("long") + 1) * 1800).as("truth_ts"))
      Validation.cpdRecall(cands, truth, toleranceSec = 600)
        .orderBy("device_id")
    }),

    // ---- J1 spatial broadcast join: ray-casting point-in-polygon against
    // the reference's real Pit 1/2/3 polygons; oracle = independent
    // half-plane containment math for the convex CCW polygons ----
    // ---- exact-integer EWMA smoothing per (device, day): the
    // recursive-state operator a window function cannot express —
    // gathered once per group (the PELT bounded-state grain), folded
    // by ONE aggregate HOF, re-exploded. e₁ = x₁, eₜ = (2xₜ+8eₜ₋₁)
    // div 10 on milli-quantized values; the oracle marches the same
    // recurrence with a recursive CTE in rank lockstep ----
    "q_ewma" -> ((s, d) => {
      import graft.operators.Downsample
      val base = events(s, d).select(
        col("event_id"),
        (col("user_id") % 20).as("dev"),
        to_date(col("ts")).as("d"),
        col("ts"),
        floor(col("value") * 1000).cast("long").as("x_m"))
      Downsample.ewmaQuantized(base, Seq("dev", "d"),
          Seq("ts", "event_id"), "event_id", col("x_m"))
        .select(col("event_id"), col("dev"), col("x_m"), col("ewma_m"))
        .orderBy("event_id")
    }),

    // ---- Z-order (Morton) layout clustering: quantize lon/lat to
    // 16-bit grids, interleave bits into a 32-bit curve position, and
    // report per-fixed-width-bucket row counts + per-bucket min/max of
    // BOTH coordinates — the file-skipping metadata a clustered write
    // hands the scan planner (each bucket's bbox shrinks ~N^(1/2),
    // where a lon-sorted layout leaves lat unbounded per file). Pure
    // integer bit arithmetic after one documented quantization; the
    // oracle expression is GENERATED from the same bit positions
    // (Layout.mortonZSql) so plan and oracle cannot drift ----
    "q_zorder_layout" -> ((s, d) => {
      import graft.operators.Layout
      val pts = events(s, d).select(
        ((col("value") / 100) * 0.0095 - 97.8410).as("lon"),
        ((col("user_id") % 150) / 150.0 * 0.0075 + 33.2695).as("lat"))
      Layout.zorderStats(pts, col("lon"), col("lat"),
          lonLo = zLonLo, lonHi = zLonHi, latLo = zLatLo, latHi = zLatHi,
          bits = 16, bucketShift = 22)
        .orderBy("bucket")
    }),

    // ---- layout-choice evidence for q_zorder_layout: for 4 literal
    // bounding-box queries, count the 1024-bucket file-skipping units
    // a scan must touch under (a) Z-order bucketing vs (b) a lon-only
    // sort with the same bucket budget — the quantified reason to
    // cluster on the curve (boxes thin in BOTH dims touch ~25 z
    // buckets vs ~100+ lon buckets). Bucket bboxes and box bounds
    // compare as floor-micro integers; box bounds are Scala-computed
    // longs embedded in BOTH plans ----
    "q_zorder_pruning" -> ((s, d) => {
      import graft.operators.Layout
      val pts = events(s, d).select(
        ((col("value") / 100) * 0.0095 - 97.8410).as("lon"),
        ((col("user_id") % 150) / 150.0 * 0.0075 + 33.2695).as("lat"))
      val xq = Layout.quantize(col("lon"), zLonLo, zLonHi, 16)
      val yq = Layout.quantize(col("lat"), zLatLo, zLatHi, 16)
      val withB = pts.select(col("lon"), col("lat"),
        shiftright(Layout.mortonZ(xq, yq, 16), 22).as("bz"),
        shiftright(xq, 6).as("bl"))
      pruningEvidence(s, withB,
        Seq("bz" -> "z_buckets", "bl" -> "lon_buckets"))
    }),

    // ---- Hilbert-curve layout (beyond ref — the locality upgrade
    // over q_zorder_layout): bucket/bbox report over fixed-length
    // contiguous RUNS of Hilbert positions. Runs, not power-of-two
    // prefixes, deliberately: at a 4^k-aligned budget both curves
    // yield the SAME quadtree blocks with permuted labels (measured
    // identical at >> 22), while real file splits are contiguous
    // position runs — and there Hilbert's neighbor-only walk
    // (HilbertSpec pins adjacency; Morton provably jumps) keeps each
    // run's bbox tight: p90 half-perimeter 2.2× tighter than Morton
    // on this data at the same 1000-run budget. Oracle = generated CTE
    // chain from the same reflect/swap steps (Layout.hilbertSqlChain) ----
    "q_hilbert_layout" -> ((s, d) => {
      import graft.operators.Layout
      val pts = events(s, d).select(
        ((col("value") / 100) * 0.0095 - 97.8410).as("lon"),
        ((col("user_id") % 150) / 150.0 * 0.0075 + 33.2695).as("lat"))
      Layout.hilbertStats(pts, col("lon"), col("lat"),
          lonLo = zLonLo, lonHi = zLonHi, latLo = zLatLo, latHi = zLatHi,
          bits = 16, runLen = hilbertRunLen)
        .orderBy("bucket")
    }),

    // ---- curve-choice evidence: the q_zorder_pruning boxes, Hilbert
    // runs vs Morton runs at the SAME non-aligned 1000-run budget —
    // the regime where the curves actually differ (see
    // q_hilbert_layout note) ----
    "q_hilbert_pruning" -> ((s, d) => {
      import graft.operators.Layout
      val pts = events(s, d).select(
        ((col("value") / 100) * 0.0095 - 97.8410).as("lon"),
        ((col("user_id") % 150) / 150.0 * 0.0075 + 33.2695).as("lat"))
      val xq = Layout.quantize(col("lon"), zLonLo, zLonHi, 16)
      val yq = Layout.quantize(col("lat"), zLatLo, zLatHi, 16)
      val withB = pts
        .select(col("lon"), col("lat"),
          Layout.hilbertD(xq, yq, 16).as("_h"),
          Layout.mortonZ(xq, yq, 16).as("_z"))
        .select(col("lon"), col("lat"),
          expr(s"_h DIV $hilbertRunLen").as("bh"),
          expr(s"_z DIV $hilbertRunLen").as("bz"))
      pruningEvidence(s, withB,
        Seq("bh" -> "h_buckets", "bz" -> "z_buckets"))
    }),

    "q_spatial_zone" -> ((s, d) => {
      val pts = events(s, d).select(
        col("event_id"),
        ((col("value") / 100) * 0.0095 - 97.8410).as("lon"),
        ((col("user_id") % 150) / 150.0 * 0.0075 + 33.2695).as("lat"))
      val pos = pts.withColumn("current_position",
        struct(col("lon"), col("lat"), lit(0.0).as("alt")))
      val pits = FeatureEngineering.zonesDf(s,
        FeatureEngineering.lbpZones.filter(_._1.startsWith("Pit")))
      FeatureEngineering.withLocationType(pos, pits)
        .select(col("event_id"), col("lon"), col("lat"), col("location_type"))
        .orderBy("event_id")
    }))

  /** The z-order QUANTIZATION bounds — one definition feeding the
    * q_zorder_layout/q_zorder_pruning quantize/box expressions on both
    * the Spark and oracle sides, so bucket bboxes and box bounds
    * cannot desynchronize. Scope note: the events→lon/lat POINT
    * derivation ((value/100)·0.0095 − 97.8410 etc.) is a separate
    * convention written as matching literals in each query body and
    * oracle CTE (shared with q_spatial_zone, which does not quantize);
    * widening THESE bounds is safe — points simply clamp differently —
    * but changing the derivation means editing its literal pairs
    * together, as everywhere else in this file's synthesis CTEs. */
  /** ~1000 contiguous runs over the 4^16 Hilbert/Morton position space
    * — deliberately NOT a power of two (see q_hilbert_layout note);
    * shared literal between both Spark plans and both oracles. */
  private[queries] val hilbertRunLen: Long = (1L << 32) / 1000 + 1

  /** Shared pruning-evidence core (q_zorder_pruning /
    * q_hilbert_pruning; r11 review — the bbox/touch machinery lived in
    * two hand-synced copies): per-layout bucket bboxes, then per-box
    * touched counts with zero-touch boxes kept (the r10 box-3 rule).
    * `withB` carries lon, lat + the bucket columns; `buckets` =
    * (bucketCol, outName).
    *
    * Deliberately ONE SCAN PER LAYOUT, not grouping sets: a
    * grouping-sets rewrite was tried and measured ~1.9× SLOWER on the
    * Hilbert pair — Expand's per-set projections defeat column
    * pruning, so BOTH curve folds run for every row in both copies,
    * while separate groupBys each prune down to their own layout's
    * fold (the expensive expression) only. */
  private def pruningEvidence(s: SparkSession,
      withB: org.apache.spark.sql.DataFrame,
      buckets: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    def micro(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000000.0)).cast("long")
    val boxes = PipelineQueries.pruningBoxes.toDF(
      "box_id", "blox", "bhix", "bloy", "bhiy")
    def touched(bcol: String, out: String) = withB
      .groupBy(bcol)
      .agg(micro(min(col("lon"))).as("mnx"),
        micro(max(col("lon"))).as("mxx"),
        micro(min(col("lat"))).as("mny"),
        micro(max(col("lat"))).as("mxy"))
      .crossJoin(broadcast(boxes))
      .where(col("mnx") <= col("bhix") && col("mxx") >= col("blox") &&
        col("mny") <= col("bhiy") && col("mxy") >= col("bloy"))
      .groupBy("box_id").agg(count(lit(1)).as(out))
    buckets.foldLeft(boxes.select("box_id")) { case (acc, (b, out)) =>
        acc.join(touched(b, out), Seq("box_id"), "left")
      }
      .select(col("box_id") +: buckets.map { case (_, out) =>
        coalesce(col(out), lit(0L)).as(out) }: _*)
      .orderBy("box_id")
  }

  private[queries] val zLonLo = -97.8410
  private[queries] val zLonHi = -97.7935
  private[queries] val zLatLo = 33.2695
  private[queries] val zLatHi = 33.2770

  /** The 4 literal box queries for q_zorder_pruning, as floor-micro
    * longs — ONE Scala computation embedded in both the Spark plan and
    * the oracle VALUES, so the bounds cannot drift. */
  private[queries] val pruningBoxes: Seq[(Long, Long, Long, Long, Long)] = {
    val (sx, sy) = (zLonHi - zLonLo, zLatHi - zLatLo)
    def m(v: Double): Long = math.floor(v * 1000000.0).toLong
    (0 until 4).map { b =>
      val xl = zLonLo + sx * (0.1 + 0.2 * b)
      val yl = zLatLo + sy * (0.1 + 0.2 * b)
      (b.toLong, m(xl), m(xl + 0.1 * sx), m(yl), m(yl + 0.15 * sy))
    }
  }

  private def pitCondition(verts: Seq[(Double, Double)]): String =
    verts.indices.map { i =>
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % verts.length)
      s"(($x2 - $x1) * (lat - $y1) - ($y2 - $y1) * (lon - $x1)) > 0"
    }.mkString("(", " AND ", ")")

  private val spatialOracle: String = {
    val pits = FeatureEngineering.lbpZones.filter(_._1.startsWith("Pit"))
    val cases = pits.map { case (n, vs) =>
      s"WHEN ${pitCondition(vs)} THEN '$n'"
    }.mkString("\n    ")
    s"""WITH pts AS (
       |  SELECT event_id,
       |    (value / 100) * 0.0095 - 97.8410 AS lon,
       |    (user_id % 150) / 150.0 * 0.0075 + 33.2695 AS lat
       |  FROM events
       |)
       |SELECT event_id, lon, lat,
       |  CASE $cases
       |    ELSE 'Haul Road / Other' END AS location_type
       |FROM pts ORDER BY event_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_telemetry_transform" -> (rawCte +
      """
        |SELECT event_id,
        |  sha256(device_id || '|' ||
        |    rtrim(rtrim(strftime(CAST(timestamp AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f'), '0'), '.')
        |    || '+00') AS raw_event_hash_id,
        |  device_id,
        |  device_id || '_' || strftime(CAST(timestamp AS TIMESTAMP), '%Y-%m-%d') AS device_date,
        |  CASE WHEN lower(trim(system_engaged)) IN ('t','true','1','yes','y') THEN true
        |       WHEN lower(trim(system_engaged)) IN ('f','false','0','no','n') THEN false
        |       ELSE NULL END AS system_engaged,
        |  CASE WHEN lower(trim(parking_brake_applied)) IN ('t','true','1','yes','y') THEN true
        |       WHEN lower(trim(parking_brake_applied)) IN ('f','false','0','no','n') THEN false
        |       ELSE NULL END AS parking_brake_applied,
        |  CASE WHEN pos_garbage THEN NULL ELSE pos_lon END AS pos_lon,
        |  CASE WHEN pos_garbage THEN NULL ELSE pos_lat END AS pos_lat,
        |  CASE WHEN pos_garbage THEN NULL ELSE pos_alt END AS pos_alt,
        |  current_speed,
        |  CAST(load_weight AS DOUBLE) AS load_weight,
        |  CASE lower(trim(coalesce(state, 'unknown')))
        |    WHEN 'idle' THEN 'idle' WHEN 'loading' THEN 'loading'
        |    WHEN 'loadingmaneuver' THEN 'loading'
        |    WHEN 'dumping' THEN 'dumping' WHEN 'dumpingmaneuver' THEN 'dumping'
        |    WHEN 'loadtodump' THEN 'hauling' WHEN 'dumptoload' THEN 'hauling'
        |    WHEN 'leadqueueddumptoload' THEN 'hauling'
        |    WHEN 'leadqueuedloadtodump' THEN 'hauling'
        |    WHEN 'zonequeueddumptoload' THEN 'hauling'
        |    WHEN 'zonequeuedloadtodump' THEN 'hauling'
        |    WHEN 'waitingtodump' THEN 'stopped'
        |    WHEN 'active' THEN 'active' WHEN 'maintenance' THEN 'maintenance'
        |    WHEN 'stopped' THEN 'stopped' WHEN 'hauling' THEN 'hauling'
        |    ELSE 'unknown' END AS state,
        |  CASE lower(trim(coalesce(software_state, 'unknown')))
        |    WHEN 'fault' THEN 'fault' WHEN 'start' THEN 'autonomous'
        |    WHEN 'stop' THEN 'manual' WHEN 'dump' THEN 'autonomous'
        |    WHEN 'slow' THEN 'intervention' WHEN 'wait' THEN 'autonomous'
        |    WHEN 'manual' THEN 'manual' WHEN 'autonomous' THEN 'autonomous'
        |    WHEN 'intervention' THEN 'intervention'
        |    WHEN 'disabled' THEN 'disabled'
        |    WHEN 'calibrating' THEN 'calibrating'
        |    ELSE 'unknown' END AS software_state,
        |  CASE lower(trim(coalesce(prndl, 'unknown')))
        |    WHEN 'park' THEN 'park' WHEN 'p' THEN 'park'
        |    WHEN 'reverse' THEN 'reverse' WHEN 'r' THEN 'reverse'
        |    WHEN 'neutral' THEN 'neutral' WHEN 'n' THEN 'neutral'
        |    WHEN 'drive' THEN 'drive' WHEN 'd' THEN 'drive'
        |    WHEN 'low' THEN 'low' WHEN 'l' THEN 'low'
        |    ELSE 'unknown' END AS prndl,
        |  CASE WHEN extras IS NULL OR trim(extras) = '' THEN NULL
        |       WHEN regexp_matches(extras, '^\s*\{.*\}\s*$')
        |         OR regexp_matches(extras, '^\s*\[.*\]\s*$') THEN extras
        |       ELSE '"not \" json"' END AS extras
        |FROM raw
        |WHERE timestamp IS NOT NULL AND device_id IS NOT NULL
        |ORDER BY event_id""".stripMargin),

    "q_feature_stack" ->
      """WITH silver AS (
        |  SELECT event_id, ts AS timestamp,
        |    'truck-' || CAST(user_id % 20 AS VARCHAR) AS device_id,
        |    'truck-' || CAST(user_id % 20 AS VARCHAR) || '_' ||
        |      strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS device_date,
        |    value / 10 AS current_speed,
        |    CASE WHEN user_id % 20 = 7 THEN 5000.0
        |         ELSE floor(value * 1200) END AS load_weight,
        |    value * 3 AS altitude,
        |    CASE WHEN user_id % 4 = 0 THEN 'Pit 1'
        |         WHEN user_id % 4 = 1 THEN 'Stockpile 2'
        |         WHEN user_id % 4 = 2 THEN 'Crusher'
        |         ELSE 'Haul Road / Other' END AS location_type,
        |    CASE WHEN user_id % 7 = 0 THEN 'park'
        |         WHEN user_id % 7 = 1 THEN 'reverse'
        |         WHEN user_id % 7 = 2 THEN 'neutral'
        |         WHEN user_id % 7 = 3 THEN 'drive'
        |         WHEN user_id % 7 = 4 THEN 'low'
        |         ELSE 'unknown' END AS prndl
        |  FROM events
        |), base AS (
        |  SELECT *, current_speed < 0.5 AS is_stationary FROM silver
        |), basic AS (
        |  SELECT *,
        |    coalesce(lag(is_stationary) OVER w, is_stationary) AS prev_stationary,
        |    coalesce(epoch_us(timestamp) - lag(epoch_us(timestamp)) OVER w, 0) AS time_delta_us,
        |    avg(load_weight) OVER (w ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS load_weight_smoothed
        |  FROM base
        |  WINDOW w AS (PARTITION BY device_id, device_date ORDER BY timestamp)
        |), blocks AS (
        |  -- CAST: DuckDB integer window sums return HUGEINT (pandas float64)
        |  -- vs Spark's int64 — value-identical but hash-different
        |  SELECT *,
        |    CAST(sum(CASE WHEN is_stationary != prev_stationary THEN 1 ELSE 0 END) OVER w AS BIGINT) AS stationary_block_id
        |  FROM basic
        |  WINDOW w AS (PARTITION BY device_id, device_date ORDER BY timestamp)
        |), reliable AS (
        |  SELECT device_id, stddev_samp(load_weight) > 1000 AS has_reliable_payload
        |  FROM silver GROUP BY device_id
        |)
        |SELECT b.event_id,
        |  b.is_stationary,
        |  b.time_delta_us / 1e6 AS time_delta,
        |  b.load_weight_smoothed,
        |  b.stationary_block_id,
        |  (b.altitude - lag(b.altitude) OVER w) + 0.0 AS altitude_roc,
        |  CAST(sum(CAST(floor(b.current_speed * 1e6) AS BIGINT))
        |      OVER (w ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS DOUBLE)
        |    / count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        |    / 1e6 AS speed_rolling_avg_5s,
        |  (b.load_weight_smoothed - lag(b.load_weight_smoothed) OVER w) + 0.0 AS load_weight_roc,
        |  r.has_reliable_payload,
        |  CASE WHEN b.is_stationary THEN
        |    CAST(sum(b.time_delta_us) OVER (PARTITION BY b.device_id, b.device_date, b.stationary_block_id
        |      ORDER BY b.timestamp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6
        |    ELSE 0.0 END AS time_in_stationary,
        |  b.prndl = 'park' AS prndl_park,
        |  b.prndl = 'drive' AS prndl_drive,
        |  b.prndl = 'unknown' AS prndl_unknown,
        |  b.load_weight_smoothed > 50000 AS is_heavy_load,
        |  b.is_stationary AND NOT (b.load_weight_smoothed > 50000) AS is_ready_for_load,
        |  (b.load_weight_smoothed > 50000) AND NOT b.is_stationary AS is_hauling,
        |  (b.location_type LIKE 'Pit%' OR b.location_type LIKE 'Stockpile%') AS is_in_loading_zone,
        |  (b.location_type = 'Crusher' OR b.location_type LIKE 'Stockpile%') AS is_in_dumping_zone
        |FROM blocks b JOIN reliable r USING (device_id)
        |WINDOW w AS (PARTITION BY b.device_id, b.device_date ORDER BY b.timestamp)
        |ORDER BY b.event_id""".stripMargin,

    "q_spatial_zone" -> spatialOracle,

    // the same integer recurrence, marched by a recursive CTE joining
    // each group's rank-(n+1) row onto its rank-n state
    "q_ewma" ->
      """WITH RECURSIVE base AS (
        |  SELECT event_id, user_id % 20 AS dev, CAST(ts AS DATE) AS d,
        |    CAST(floor(value * 1000) AS BIGINT) AS x_m,
        |    row_number() OVER (PARTITION BY user_id % 20, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events
        |), r AS (
        |  SELECT dev, d, rn, event_id, x_m, x_m AS e FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.dev, b.d, b.rn, b.event_id, b.x_m,
        |    (2 * b.x_m + 8 * r.e) // 10
        |  FROM r JOIN base b ON b.dev = r.dev AND b.d = r.d
        |    AND b.rn = r.rn + 1
        |)
        |SELECT event_id, dev, x_m, e AS ewma_m FROM r
        |ORDER BY event_id""".stripMargin,

    "q_changelog_apply" ->
      """WITH base AS (
        |  SELECT user_id AS k,
        |    min_by(CAST(floor(value * 1000) AS BIGINT), event_id) AS v
        |  FROM events GROUP BY 1
        |), log AS (
        |  SELECT user_id AS k, event_id AS seq,
        |    CASE WHEN event_id % 20 = 0 THEN 'D' ELSE 'U' END AS op,
        |    CAST(floor(value * 1000) AS BIGINT) AS v
        |  FROM events WHERE event_id % 4 = 0
        |), latest AS (
        |  SELECT k, op, v FROM (
        |    SELECT k, op, v, row_number() OVER (PARTITION BY k
        |      ORDER BY seq DESC) AS rn
        |    FROM log)
        |  WHERE rn = 1
        |)
        |SELECT k, v FROM base
        |WHERE k NOT IN (SELECT k FROM log)
        |UNION ALL
        |SELECT k, v FROM latest WHERE op <> 'D'
        |ORDER BY k""".stripMargin,

    "q_skew_join" ->
      """WITH e AS (
        |  SELECT CASE WHEN event_id % 10 < 8 THEN 0
        |           ELSE user_id % 50 END AS k,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_m
        |  FROM events
        |), dim AS (
        |  SELECT k, 'g' || CAST(k % 5 AS VARCHAR) AS grp
        |  FROM (SELECT DISTINCT user_id % 50 AS k FROM events)
        |)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(v_m) AS BIGINT) AS sum_v_m
        |FROM e JOIN dim USING (k)
        |GROUP BY 1 ORDER BY grp""".stripMargin,

    // same bucket stats as q_zorder_layout under both layouts, crossed
    // with the shared literal box table (identical micro longs)
    "q_hilbert_layout" -> {
      import graft.operators.Layout
      val xq = Layout.quantizeSql("lon", zLonLo, zLonHi, 16)
      val yq = Layout.quantizeSql("lat", zLatLo, zLatHi, 16)
      val chain = Layout.hilbertSqlChain(
        s"SELECT lon, lat, $xq AS x, $yq AS y FROM pts", 16,
        Seq("lon", "lat"))
      s"""WITH pts AS (
         |  SELECT
         |    (value / 100) * 0.0095 - 97.8410 AS lon,
         |    (user_id % 150) / 150.0 * 0.0075 + 33.2695 AS lat
         |  FROM events
         |),
         |$chain,
         |b AS (
         |  SELECT lon, lat, d // $hilbertRunLen AS bucket FROM h16
         |)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         |  CAST(floor(min(lon) * 1000000.0) AS BIGINT) AS min_lon_micro,
         |  CAST(floor(max(lon) * 1000000.0) AS BIGINT) AS max_lon_micro,
         |  CAST(floor(min(lat) * 1000000.0) AS BIGINT) AS min_lat_micro,
         |  CAST(floor(max(lat) * 1000000.0) AS BIGINT) AS max_lat_micro
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    "q_hilbert_pruning" -> {
      import graft.operators.Layout
      val xq = Layout.quantizeSql("lon", zLonLo, zLonHi, 16)
      val yq = Layout.quantizeSql("lat", zLatLo, zLatHi, 16)
      val z = Layout.mortonZSql("x", "y", 16)
      val chain = Layout.hilbertSqlChain(
        s"SELECT lon, lat, ($z) // $hilbertRunLen AS bz, x, y FROM " +
          s"(SELECT lon, lat, $xq AS x, $yq AS y FROM pts)", 16,
        Seq("lon", "lat", "bz"))
      val boxRows = pruningBoxes.map { case (b, xl, xh, yl, yh) =>
        s"($b, $xl, $xh, $yl, $yh)"
      }.mkString(", ")
      s"""WITH pts AS (
         |  SELECT
         |    (value / 100) * 0.0095 - 97.8410 AS lon,
         |    (user_id % 150) / 150.0 * 0.0075 + 33.2695 AS lat
         |  FROM events
         |),
         |$chain,
         |wb AS (
         |  SELECT lon, lat, bz, d // $hilbertRunLen AS bh FROM h16
         |), boxes(box_id, blox, bhix, bloy, bhiy) AS (
         |  VALUES $boxRows
         |), hs AS (
         |  SELECT bh,
         |    CAST(floor(min(lon) * 1000000.0) AS BIGINT) AS mnx,
         |    CAST(floor(max(lon) * 1000000.0) AS BIGINT) AS mxx,
         |    CAST(floor(min(lat) * 1000000.0) AS BIGINT) AS mny,
         |    CAST(floor(max(lat) * 1000000.0) AS BIGINT) AS mxy
         |  FROM wb GROUP BY 1
         |), zs AS (
         |  SELECT bz,
         |    CAST(floor(min(lon) * 1000000.0) AS BIGINT) AS mnx,
         |    CAST(floor(max(lon) * 1000000.0) AS BIGINT) AS mxx,
         |    CAST(floor(min(lat) * 1000000.0) AS BIGINT) AS mny,
         |    CAST(floor(max(lat) * 1000000.0) AS BIGINT) AS mxy
         |  FROM wb GROUP BY 1
         |), ht AS (
         |  SELECT box_id, CAST(count(*) AS BIGINT) AS h_buckets
         |  FROM hs CROSS JOIN boxes
         |  WHERE mnx <= bhix AND mxx >= blox AND mny <= bhiy
         |    AND mxy >= bloy
         |  GROUP BY 1
         |), zt AS (
         |  SELECT box_id, CAST(count(*) AS BIGINT) AS z_buckets
         |  FROM zs CROSS JOIN boxes
         |  WHERE mnx <= bhix AND mxx >= blox AND mny <= bhiy
         |    AND mxy >= bloy
         |  GROUP BY 1
         |)
         |SELECT boxes.box_id,
         |  CAST(coalesce(ht.h_buckets, 0) AS BIGINT) AS h_buckets,
         |  CAST(coalesce(zt.z_buckets, 0) AS BIGINT) AS z_buckets
         |FROM boxes
         |LEFT JOIN ht USING (box_id)
         |LEFT JOIN zt USING (box_id)
         |ORDER BY box_id""".stripMargin
    },

    "q_zorder_pruning" -> {
      import graft.operators.Layout
      val xq = Layout.quantizeSql("lon", zLonLo, zLonHi, 16)
      val yq = Layout.quantizeSql("lat", zLatLo, zLatHi, 16)
      val z = Layout.mortonZSql("xq", "yq", 16)
      val boxRows = pruningBoxes.map { case (b, xl, xh, yl, yh) =>
        s"($b, $xl, $xh, $yl, $yh)"
      }.mkString(", ")
      s"""WITH pts AS (
         |  SELECT
         |    (value / 100) * 0.0095 - 97.8410 AS lon,
         |    (user_id % 150) / 150.0 * 0.0075 + 33.2695 AS lat
         |  FROM events
         |), q AS (
         |  SELECT lon, lat, $xq AS xq, $yq AS yq FROM pts
         |), wb AS (
         |  SELECT lon, lat, ($z) >> 22 AS bz, xq >> 6 AS bl FROM q
         |), boxes(box_id, blox, bhix, bloy, bhiy) AS (
         |  VALUES $boxRows
         |), zs AS (
         |  SELECT bz,
         |    CAST(floor(min(lon) * 1000000.0) AS BIGINT) AS mnx,
         |    CAST(floor(max(lon) * 1000000.0) AS BIGINT) AS mxx,
         |    CAST(floor(min(lat) * 1000000.0) AS BIGINT) AS mny,
         |    CAST(floor(max(lat) * 1000000.0) AS BIGINT) AS mxy
         |  FROM wb GROUP BY 1
         |), ls AS (
         |  SELECT bl,
         |    CAST(floor(min(lon) * 1000000.0) AS BIGINT) AS mnx,
         |    CAST(floor(max(lon) * 1000000.0) AS BIGINT) AS mxx,
         |    CAST(floor(min(lat) * 1000000.0) AS BIGINT) AS mny,
         |    CAST(floor(max(lat) * 1000000.0) AS BIGINT) AS mxy
         |  FROM wb GROUP BY 1
         |), zt AS (
         |  SELECT box_id, CAST(count(*) AS BIGINT) AS z_buckets
         |  FROM zs CROSS JOIN boxes
         |  WHERE mnx <= bhix AND mxx >= blox AND mny <= bhiy
         |    AND mxy >= bloy
         |  GROUP BY 1
         |), lt AS (
         |  SELECT box_id, CAST(count(*) AS BIGINT) AS lon_buckets
         |  FROM ls CROSS JOIN boxes
         |  WHERE mnx <= bhix AND mxx >= blox AND mny <= bhiy
         |    AND mxy >= bloy
         |  GROUP BY 1
         |)
         |SELECT boxes.box_id,
         |  CAST(coalesce(zt.z_buckets, 0) AS BIGINT) AS z_buckets,
         |  CAST(coalesce(lt.lon_buckets, 0) AS BIGINT) AS lon_buckets
         |FROM boxes
         |LEFT JOIN zt USING (box_id)
         |LEFT JOIN lt USING (box_id)
         |ORDER BY box_id""".stripMargin
    },

    // quantize + Morton interleave + bucket stats; the quantize and
    // interleave expressions are generated by the same Layout helpers
    // the Spark plan folds, from the same constants
    "q_zorder_layout" -> {
      import graft.operators.Layout
      val xq = Layout.quantizeSql("lon", zLonLo, zLonHi, 16)
      val yq = Layout.quantizeSql("lat", zLatLo, zLatHi, 16)
      val z = Layout.mortonZSql("xq", "yq", 16)
      s"""WITH pts AS (
         |  SELECT
         |    (value / 100) * 0.0095 - 97.8410 AS lon,
         |    (user_id % 150) / 150.0 * 0.0075 + 33.2695 AS lat
         |  FROM events
         |), q AS (
         |  SELECT lon, lat, $xq AS xq, $yq AS yq FROM pts
         |), z AS (
         |  SELECT lon, lat, ($z) >> 22 AS bucket FROM q
         |)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         |  CAST(floor(min(lon) * 1000000.0) AS BIGINT) AS min_lon_micro,
         |  CAST(floor(max(lon) * 1000000.0) AS BIGINT) AS max_lon_micro,
         |  CAST(floor(min(lat) * 1000000.0) AS BIGINT) AS min_lat_micro,
         |  CAST(floor(max(lat) * 1000000.0) AS BIGINT) AS max_lat_micro
         |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    "q_ground_truth" ->
      """WITH base AS (
        |  SELECT 'truck-' || CAST(user_id % 20 AS VARCHAR) AS device_id,
        |    ts AS timestamp, event_id, value
        |  FROM events
        |), labeled AS (
        |  SELECT device_id, timestamp,
        |    CASE WHEN value < 20 THEN 'load_event'
        |         WHEN value < 40 THEN 'dump_event'
        |         ELSE 'background' END AS ml_event_label
        |  FROM base
        |), truth AS (
        |  SELECT device_id, timestamp,
        |    CASE WHEN event_id % 3 = 0 THEN 'load_event'
        |         WHEN event_id % 3 = 1 THEN 'dump_event'
        |         ELSE 'background' END AS actual_event_label
        |  FROM base WHERE event_id % 2 = 0
        |), joined AS (
        |  SELECT l.ml_event_label, t.actual_event_label
        |  FROM labeled l JOIN truth t USING (device_id, timestamp)
        |)
        |SELECT ml_event_label, actual_event_label, count(*) AS n,
        |  round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM joined), 6)
        |    AS share,
        |  ml_event_label = actual_event_label AS agree
        |FROM joined GROUP BY ml_event_label, actual_event_label
        |ORDER BY ml_event_label, actual_event_label""".stripMargin,

    "q_wkt" ->
      (rawCte.replace("WITH raw AS (", "WITH raw AS (") + """
        |SELECT event_id,
        |  CASE WHEN pos_garbage THEN NULL
        |       ELSE 'POINT Z (' || CAST(round(pos_lon, 6) AS VARCHAR) ||
        |         ' ' || CAST(round(pos_lat, 6) AS VARCHAR) ||
        |         ' ' || CAST(round(pos_alt, 6) AS VARCHAR) || ')'
        |  END AS wkt
        |FROM raw ORDER BY event_id""".stripMargin),

    // expected-output oracle: with planted steps and zero noise the
    // detector must find exactly the 3 planted points per device
    "q_cpd_recall" ->
      """SELECT 'rig-' || CAST(i AS VARCHAR) AS device_id,
        |  CAST(3 AS BIGINT) AS n_truth,
        |  CAST(3 AS BIGINT) AS n_matched,
        |  CAST(3 AS BIGINT) AS n_candidates,
        |  1.0 AS recall
        |FROM range(4) t(i) ORDER BY device_id""".stripMargin,

    "q_ml_features" ->
      """WITH labeled AS (
        |  SELECT 'truck-' || CAST(user_id % 20 AS VARCHAR) AS device_id,
        |    CAST(ts AS TIMESTAMP) AS timestamp,
        |    value * 3 AS altitude,
        |    value / 10 AS current_speed,
        |    CASE WHEN user_id % 2 = 0 THEN 'drive' ELSE 'park' END AS prndl,
        |    CASE WHEN value < 30 THEN 'loading' ELSE 'hauling' END AS state,
        |    CASE WHEN value < 20 THEN 'load_event'
        |         WHEN value < 40 THEN 'dump_event'
        |         ELSE 'background' END AS ml_event_label
        |  FROM events
        |), feats AS (
        |  SELECT *,
        |    coalesce(altitude - lag(altitude, 10)
        |      OVER (PARTITION BY device_id ORDER BY timestamp), 0.0)
        |      AS altitude_velocity
        |  FROM labeled
        |)
        |SELECT ml_event_label, count(*) AS n,
        |  count(CASE WHEN altitude_velocity != 0.0 THEN 1 END)
        |    AS n_alt_velocity,
        |  count(CASE WHEN state = 'loading' THEN 1 END) AS n_state_loading,
        |  count(CASE WHEN prndl = 'drive' THEN 1 END) AS n_drive,
        |  count(CASE WHEN current_speed < 5.0 THEN 1 END) AS n_stationary,
        |  count(*) AS n_engaged
        |FROM feats GROUP BY ml_event_label ORDER BY ml_event_label""".stripMargin,

    "q_label_stats" ->
      """WITH iv AS (
        |  SELECT 'truck-' || CAST(i % 20 AS VARCHAR) AS truck_id,
        |    to_timestamp(1704153600 + ((i % 20) * 29 +
        |      CASE WHEN i < 20 THEN 0 ELSE 5 END) * 3600) AT TIME ZONE 'UTC' AS start_time,
        |    to_timestamp(1704153600 + ((i % 20) * 29 +
        |      CASE WHEN i < 20 THEN 0 ELSE 5 END) * 3600 + 36000) AT TIME ZONE 'UTC' AS end_time,
        |    CASE WHEN i < 20 THEN 'load_event' ELSE 'dump_event' END AS label
        |  FROM range(40) t(i)
        |), ev AS (
        |  SELECT event_id,
        |    'truck-' || CAST(user_id % 20 AS VARCHAR) AS truck_id,
        |    CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |), labeled AS (
        |  SELECT event_id, truck_id, ts,
        |    CASE WHEN EXISTS (SELECT 1 FROM iv
        |           WHERE iv.truck_id = ev.truck_id
        |             AND ev.ts >= iv.start_time AND ev.ts <= iv.end_time
        |             AND iv.label = 'load_event') THEN 'load_event'
        |         WHEN EXISTS (SELECT 1 FROM iv
        |           WHERE iv.truck_id = ev.truck_id
        |             AND ev.ts >= iv.start_time AND ev.ts <= iv.end_time
        |             AND iv.label = 'dump_event') THEN 'dump_event'
        |         ELSE 'background' END AS ml_event_label
        |  FROM ev
        |)
        |SELECT ml_event_label, count(*) AS n,
        |  count(DISTINCT truck_id) AS n_trucks,
        |  epoch_us(min(ts)) AS min_ts_us,
        |  epoch_us(max(ts)) AS max_ts_us
        |FROM labeled GROUP BY ml_event_label ORDER BY ml_event_label""".stripMargin,

    "q_merge" ->
      """WITH target AS (
        |  SELECT event_id AS k, value, 'old' AS src
        |  FROM events WHERE event_id < 6000
        |), source AS (
        |  SELECT event_id AS k, value + 1000 AS value, 'new' AS src,
        |    event_id % 9 = 0 AS del
        |  FROM events WHERE event_id % 3 = 0 AND event_id < 9000
        |)
        |SELECT CASE WHEN s.k IS NOT NULL THEN s.k ELSE t.k END AS k,
        |  CASE WHEN s.k IS NOT NULL THEN s.value ELSE t.value END AS value,
        |  CASE WHEN s.k IS NOT NULL THEN s.src ELSE t.src END AS src
        |FROM target t FULL OUTER JOIN source s ON t.k = s.k
        |WHERE NOT coalesce(s.del, FALSE)
        |ORDER BY k""".stripMargin,

    "q_upsert" ->
      """WITH existing AS (
        |  SELECT CAST(event_id AS VARCHAR) AS raw_event_hash_id, value,
        |    'old' AS src
        |  FROM events WHERE user_id < 100
        |), new_rows AS (
        |  SELECT CAST(event_id AS VARCHAR) AS raw_event_hash_id,
        |    value + 1000 AS value, 'new' AS src
        |  FROM events WHERE event_id % 3 = 0
        |), unioned AS (
        |  SELECT *, 1 AS pri FROM new_rows
        |  UNION ALL
        |  SELECT *, 0 AS pri FROM existing
        |)
        |SELECT raw_event_hash_id, value, src FROM unioned
        |QUALIFY row_number() OVER (PARTITION BY raw_event_hash_id
        |  ORDER BY pri DESC) = 1
        |ORDER BY CAST(raw_event_hash_id AS BIGINT)""".stripMargin,

    "q_interval_label" ->
      """WITH iv AS (
        |  SELECT 'truck-' || CAST(i % 20 AS VARCHAR) AS truck_id,
        |    to_timestamp(1704153600 + ((i % 20) * 29 +
        |      CASE WHEN i < 20 THEN 0 ELSE 5 END) * 3600) AT TIME ZONE 'UTC' AS start_time,
        |    to_timestamp(1704153600 + ((i % 20) * 29 +
        |      CASE WHEN i < 20 THEN 0 ELSE 5 END) * 3600 + 36000) AT TIME ZONE 'UTC' AS end_time,
        |    CASE WHEN i < 20 THEN 'load_event' ELSE 'dump_event' END AS label
        |  FROM range(40) t(i)
        |), ev AS (
        |  SELECT event_id,
        |    'truck-' || CAST(user_id % 20 AS VARCHAR) AS truck_id,
        |    CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |)
        |SELECT event_id, truck_id,
        |  CASE WHEN EXISTS (SELECT 1 FROM iv
        |         WHERE iv.truck_id = ev.truck_id
        |           AND ev.ts >= iv.start_time AND ev.ts <= iv.end_time
        |           AND iv.label = 'load_event') THEN 'load_event'
        |       WHEN EXISTS (SELECT 1 FROM iv
        |         WHERE iv.truck_id = ev.truck_id
        |           AND ev.ts >= iv.start_time AND ev.ts <= iv.end_time
        |           AND iv.label = 'dump_event') THEN 'dump_event'
        |       ELSE 'background' END AS ml_event_label
        |FROM ev ORDER BY event_id""".stripMargin)
}
