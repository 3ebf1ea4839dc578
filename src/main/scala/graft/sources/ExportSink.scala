package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.schema.Schemas

/** STEP 5 export + load-validation surfaces (S5, S9).
  */
object ExportSink {

  /** Gold feature export: parquet partitioned by `device_date`, rows
    * time-ordered within each partition, snappy — the reference's
    * `COPY → pandas → Arrow → write_to_dataset` pipeline
    * (`05_export_features_to_parquet.py:186-313`) as one write. The
    * reference's global `ORDER BY device_date, timestamp` is relaxed to a
    * repartition on [[Schemas.deviceDayKeys]] + sortWithinPartitions on
    * those keys and `timestamp` (SURVEY §2.6 O2): the clustering the
    * feature window stack already produced, so on its output the planner
    * removes both the exchange and the sort. Any other input is clustered
    * into the same layout. With one device per `device_date` (as
    * `TelemetryTransform` builds it) each partition directory gets
    * exactly one time-ordered file.
    */
  def goldParquet(df: DataFrame, outDir: String): Unit =
    deviceDayClustered(df)
      .write.mode("overwrite")
      .partitionBy("device_date")
      .option("compression", "snappy")
      .parquet(outDir)

  /** ORC twin of [[goldParquet]]: same partition layout and in-file
    * ordering contract in the other columnar format Spark ships
    * natively — for consumers standardized on ORC warehouses. */
  def goldOrc(df: DataFrame, outDir: String): Unit =
    deviceDayClustered(df)
      .write.mode("overwrite")
      .partitionBy("device_date")
      .option("compression", "zlib")
      .orc(outDir)

  private def deviceDayClustered(df: DataFrame): DataFrame =
    df.repartition(Schemas.deviceDayKeys.map(col): _*)
      .sortWithinPartitions(
        (Schemas.deviceDayKeys :+ "timestamp").map(col): _*)

  /** Post-load invariant checks (S9/§5.2): rowcount vs distinct PK, null
    * criticals, device/time sanity — the loader's validation block
    * (`05_load_candidates_to_db.py:197-263`) as one aggregate pass.
    * Returns (n_rows, n_distinct_hashes, n_null_critical, n_devices,
    * min_ts, max_ts); callers assert `n_rows == n_distinct_hashes` and
    * `n_null_critical == 0` before committing a load.
    */
  def candidateLoadChecks(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("raw_event_hash_id")).as("n_distinct_hashes"),
      sum(when(col("device_id").isNull || col("timestamp_start").isNull ||
        col("raw_event_hash_id").isNull, 1).otherwise(0))
        .cast("long").as("n_null_critical"),
      countDistinct(col("device_id")).as("n_devices"),
      min(col("timestamp_start")).as("min_ts"),
      max(col("timestamp_start")).as("max_ts"))
}
