package graft

import java.sql.Timestamp

import graft.operators.FeatureEngineering
import graft.sources.ExportSink
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Golden-value pin for the window-feature stack — specifically the
  * per-block stationary dwell, which r18 re-expressed as an exact
  * integer cumulative-sum difference over the SHARED
  * (device_id, device_date) ORDER BY timestamp window (guide §2.2: one
  * partitioning/order serving every frame; the old block-partitioned
  * running sum forced two extra full-table sorts into the stage). The
  * expected values below are the reference semantics computed by hand:
  * dwell at row i = Σ time_delta over the CURRENT stationary block up
  * to i (the block's first row carries the gap from the previous,
  * non-stationary row — `04_worker_script.sql:63-66`), 0 when moving. */
class FeatureEngineeringSpec extends AnyFunSuite {
  import SparkTestSession._

  private def silverRow(dev: String, tSec: Long, speed: Double) = (
    s"${dev}_2024-07-30",
    dev,
    new Timestamp(1722297600000L + tSec * 1000L),
    speed,
    1000.0 * tSec, // load_weight: any value
    (0.0, 0.0, 1.0 * tSec)) // lon, lat, alt

  private def silverDf(rows: Seq[(String, String, Timestamp, Double,
      Double, (Double, Double, Double))]) = {
    import spark.implicits._
    rows.toDF("device_date", "device_id", "timestamp", "current_speed",
        "load_weight", "_pos")
      .withColumn("current_position", struct(
        col("_pos._1").as("lon"), col("_pos._2").as("lat"),
        col("_pos._3").as("alt")))
      .drop("_pos")
  }

  test("per-block stationary dwell: exact values across uneven gaps, " +
      "block boundaries, and multiple devices") {
    // device A: stat(0,1) | moving(2,4) | stat(7,8,10)
    //   deltas:   0,1          1,2          3,1,2
    //   dwell:    0,1          0,0          3,4,6
    // device B: moving(0) | stat(5) | moving(6) | stat(9,10)
    //   dwell:    0           5         0          3,4
    val rows =
      Seq(0L -> 0.1, 1L -> 0.1, 2L -> 5.0, 4L -> 5.0, 7L -> 0.2,
          8L -> 0.2, 10L -> 0.3).map { case (t, v) =>
        silverRow("devA", t, v) } ++
      Seq(0L -> 5.0, 5L -> 0.1, 6L -> 5.0, 9L -> 0.1, 10L -> 0.2)
        .map { case (t, v) => silverRow("devB", t, v) }
    val out = FeatureEngineering.withWindowFeatures(silverDf(rows))
      .select("device_id", "timestamp", "is_stationary",
        "stationary_block_id", "time_in_stationary_state")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getDouble(4)))
      .toSet
    val t0 = 1722297600000L
    val expected = Set(
      ("devA", t0 + 0L, 0.0), ("devA", t0 + 1000L, 1.0),
      ("devA", t0 + 2000L, 0.0), ("devA", t0 + 4000L, 0.0),
      ("devA", t0 + 7000L, 3.0), ("devA", t0 + 8000L, 4.0),
      ("devA", t0 + 10000L, 6.0),
      ("devB", t0 + 0L, 0.0), ("devB", t0 + 5000L, 5.0),
      ("devB", t0 + 6000L, 0.0), ("devB", t0 + 9000L, 3.0),
      ("devB", t0 + 10000L, 4.0))
    assert(out == expected)
  }

  test("sub-second gaps accumulate in exact integer microseconds " +
      "(one division at the end, no float drift)") {
    // 2 Hz stationary run: dwell must step by exactly 0.5 s
    val rows = (0 until 8).map(i => (
      "devC_2024-07-30", "devC",
      new Timestamp(1722297600000L + i * 500L), 0.1, 0.0,
      (0.0, 0.0, 0.0)))
    val out = FeatureEngineering.withWindowFeatures(silverDf(rows))
      .orderBy("timestamp")
      .select("time_in_stationary_state").collect()
      .map(_.getDouble(0)).toSeq
    assert(out == (0 until 8).map(_ * 0.5))
  }

  test("the window stack plans ONE exchange and ONE sort — the block " +
      "dwell shares the (device, date, ts) order instead of forcing " +
      "its own sort pair") {
    val rows = (0 until 32).map(i => (
      "devD_2024-07-30", "devD",
      new Timestamp(1722297600000L + i * 1000L),
      if (i % 4 < 2) 0.1 else 5.0, 1.0 * i, (0.0, 0.0, 0.0)))
    val plan = FeatureEngineering.withWindowFeatures(silverDf(rows))
      .queryExecution.executedPlan.toString
    val nSorts = "(?m)^\\s*[+:]?-?\\s*\\*?\\(?\\d*\\)?\\s*Sort ".r
      .findAllIn(plan).length
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nExchanges == 1, s"window stack exchanges: $nExchanges\n$plan")
    assert(nSorts == 1, s"window stack sorts: $nSorts\n$plan")
  }

  /** Every node of a physical plan, through adaptive stages, minus the
    * broadcast sides: what runs over the fact rows. */
  private def factPath(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => Nil
    case a: AdaptiveSparkPlanExec => factPath(a.executedPlan)
    case q: QueryStageExec => factPath(q.plan)
    case other => other +: other.children.flatMap(factPath)
  }

  /** The executed plan of the one file write `body` runs (listener
    * events of earlier queries may still arrive: only a write counts). */
  private def writePlan(body: => Unit): SparkPlan = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (factPath(qe.executedPlan)
            .exists(_.isInstanceOf[DataWritingCommandExec]))
          seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val plan = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(plan != null, "no write plan reported")
      plan
    } finally spark.listenerManager.unregister(listener)
  }

  private def pinRows(devices: Int, n: Int) = for {
    d <- 0 until devices; i <- 0 until n
  } yield silverRow(s"dev$d", i.toLong, if (i % 4 < 2) 0.1 else 5.0)

  test("the window stack runs in at most two Window operators") {
    val plan = FeatureEngineering.withWindowFeatures(silverDf(pinRows(2, 16)))
      .queryExecution.executedPlan
    val windows = factPath(plan).collect { case w: WindowExec => w }
    assert(windows.size <= 2, s"window operators: ${windows.size}\n$plan")
  }

  test("features → goldParquet plans one fact exchange and one sort: the " +
      "export reuses the window stack's device-day clustering") {
    val silver = silverDf(pinRows(3, 16)).withColumn("prndl", lit("drive"))
    val gold = FeatureEngineering.features(silver,
      FeatureEngineering.zonesDf(spark))
    val dir = java.nio.file.Files.createTempDirectory("gold-plan").toString
    val plan = writePlan(ExportSink.goldParquet(gold, dir))
    val nodes = factPath(plan)
    val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
    val sorts = nodes.collect { case s: SortExec => s }
    assert(shuffles.size == 1, s"fact-path exchanges\n$plan")
    assert(shuffles.head.outputPartitioning.asInstanceOf[HashPartitioning]
      .expressions.map(_.sql) == Seq("device_date", "device_id"),
      s"fact-path exchange keys\n$plan")
    assert(sorts.size == 1, s"fact-path sorts\n$plan")
    assert(spark.read.parquet(dir).count() == 48)
  }

  test("goldParquet clusters an unclustered frame into one time-ordered " +
      "file per device_date") {
    // shuffled rows over several input partitions: nothing upstream
    // provides the layout, so the export's own exchange and sort must
    val rows = scala.util.Random.shuffle(pinRows(5, 40).toList)
    val df = silverDf(rows).repartition(3)
    val dir = java.nio.file.Files.createTempDirectory("gold-layout").toFile
    ExportSink.goldParquet(df, dir.toString)
    val partDirs = dir.listFiles().filter(_.getName.startsWith("device_date="))
    assert(partDirs.length == 5)
    partDirs.foreach { pd =>
      val files = pd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${pd.getName}: ${files.map(_.getName).toSeq}")
      val ts = spark.read.parquet(files.head.toString)
        .select("timestamp").collect().map(_.getTimestamp(0).getTime).toSeq
      assert(ts.size == 40 && ts == ts.sorted, pd.getName)
    }
  }
}
