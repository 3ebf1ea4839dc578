package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference twin of `FeatureEngineering.withWindowFeatures`: the same
  * features as five chained Window passes, one `withColumn` per frame over
  * `(device_id, device_date) ORDER BY timestamp`, with the stationary
  * dwell's running Σ `time_delta_us` as a real running sum. Test-only —
  * `FeatureWindowProperties` checks the two-pass production stack against
  * it row for row. */
object FeatureWindowTwin {

  def withWindowFeatures(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("device_id", "device_date").orderBy("timestamp")
    val c5 = w.rowsBetween(-2, 2)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val base = df
      .withColumn("altitude", col("current_position.alt"))
      .withColumn("is_stationary", col("current_speed") < 0.5)
    // LAG(is_stationary, 1, is_stationary): default = current row's value
    val basic = base
      .withColumn("prev_stationary",
        coalesce(lag("is_stationary", 1).over(w), col("is_stationary")))
      // exact integer microseconds; the seconds view divides ONCE so the
      // value is bit-reproducible across engines/platforms (no float
      // accumulation) — at 100 TB run-to-run determinism is a feature
      .withColumn("time_delta_us", coalesce(
        unix_micros(col("timestamp")) -
          lag(unix_micros(col("timestamp")), 1).over(w), lit(0L)))
      .withColumn("time_delta", col("time_delta_us") / 1e6)
      .withColumn("load_weight_smoothed", avg("load_weight").over(c5))
    val blocks = basic
      .withColumn("stationary_block_id",
        sum(when(col("is_stationary") =!= col("prev_stationary"), 1)
          .otherwise(0)).over(run))
    // Per-block running dwell WITHOUT the block-partitioned window
    // (guide §2.2: one partitioning/order serving every frame). The
    // naive frame — partitionBy(device, date, block) running sum —
    // needs its own sort order, which cost the stage two extra
    // full-table sorts (re-sort into block order + restore sort for
    // any later (device, date, ts) window; measured as Sort nodes
    // (15)/(18) in plans/r17/q_feature_stack_after.txt). Because
    // blocks are CONTIGUOUS runs in (device, date, ts) order and
    // time_delta_us ≥ 0 after the sort, the block-scoped running sum
    // equals cum − base over the device-date partition, where
    //   cum  = running Σ time_delta_us   (same order as every w frame)
    //   base = running MAX over block-start markers (cum − delta at
    //          each block boundary; cum is non-decreasing, so the max
    //          IS the latest block start's baseline; first block has
    //          no marker → 0)
    // Exact-integer equality, not an approximation: all terms are
    // longs, so cum − base is bit-identical to the per-block sum the
    // old frame computed (the division by 1e6 happens once, after).
    blocks
      .withColumn("_cum_us", sum("time_delta_us").over(run))
      .withColumn("_block_base_us", coalesce(
        max(when(col("is_stationary") =!= col("prev_stationary"),
          col("_cum_us") - col("time_delta_us"))).over(run),
        lit(0L)))
      .withColumn("altitude_rate_of_change",
        col("altitude") - lag("altitude", 1).over(w))
      // "5s" in the reference name, but the frame is 5 ROWS at ~2 Hz —
      // keep rows semantics (SURVEY §7.4).
      .withColumn("speed_rolling_avg_5s", avg("current_speed").over(c5))
      .withColumn("load_weight_rate_of_change",
        col("load_weight_smoothed") -
          lag("load_weight_smoothed", 1).over(w))
      // running dwell accumulated in exact integer µs, divided once —
      // identical semantics to SUM(time_delta) (04_worker_script.sql:63-66)
      // up to float association, but engine-deterministic
      .withColumn("time_in_stationary_state",
        when(col("is_stationary"),
          (col("_cum_us") - col("_block_base_us")) / 1e6)
          .otherwise(0.0))
      .drop("prev_stationary", "time_delta_us", "_cum_us",
        "_block_base_us")
  }
}
