package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.operators.{Cpd, Downsample, IntervalJoin, Validation}

/** The analysis calls on one device-day of gold, each checked against the
  * generator's truth: a 5 s profile, interval labels, and CPD recall. */
object Analysis {
  /** A detection within this distance of a planted transition matches it. */
  val ToleranceSec = 30L

  /** 5 s kinematic profile; a full device-day has 17,280 buckets. */
  def profile(ctx: Ctx, d: Gen.DayData, dayDf: DataFrame): Unit = {
    val buckets = ctx.span("downsample") {
      Downsample.tumblingMean(dayDf, "timestamp", "5 seconds", keys = Seq("device_id"),
        signals = Seq("current_speed", "altitude", "load_weight_smoothed")).collect()
    }
    ctx.check(buckets.length == Gen.RowsPerDay / 5,
      s"profile of ${d.deviceDateKey} gave ${buckets.length} buckets, want ${Gen.RowsPerDay / 5}")
    ctx.extra("downsample", "buckets", buckets.length.toDouble)
  }

  /** `Validation.cpdRecall` of `cands` against the planted transitions,
    * checked against the recall computed here from the same inputs. */
  def recall(ctx: Ctx, d: Gen.DayData, cands: Seq[Cpd.Candidate]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val truth = d.transitions.toSeq.map(i => (d.truck.id, ts(d.epochMicros(i))))
      .toDF("device_id", "truth_ts")
    val rec = ctx.span("validation") {
      Validation.cpdRecall(cands.toDF(), truth, ToleranceSec).collect()
    }
    val candUs = cands.map(c => micros(c.timestamp_start))
    val matched = d.transitions.count { i =>
      val t = d.epochMicros(i)
      candUs.exists(c => math.abs(c - t) <= ToleranceSec * 1000000L)
    }
    val want = matched.toDouble / d.transitions.size
    val got = rec.headOption.map(_.getAs[Double]("recall")).getOrElse(Double.NaN)
    ctx.check(rec.length == 1 && math.abs(got - want) < 1e-9,
      s"cpd recall on ${d.deviceDateKey}: library $got, truth $want")
    ctx.extra("validation", "recall", got)
  }

  /** Labels from the seeded label intervals; counts must match coverage. */
  def label(ctx: Ctx, d: Gen.DayData, dayDf: DataFrame): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val ivs = d.labelIntervals.toSeq.map { case (a, b, l) =>
      (d.truck.id, ts(d.epochMicros(a)), ts(d.epochMicros(b)), l) }
      .toDF("device_id", "start_ts", "end_ts", "label")
    val counts = ctx.span("interval") {
      IntervalJoin.labelByIntervals(dayDf, ivs, "device_id", "timestamp", "start_ts",
        "end_ts", "label", Seq("load_event", "dump_event"))
        .groupBy("ml_event_label").count().collect()
    }.map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = d.labeledCounts
    val labelled = want.values.sum
    ctx.check(want.forall { case (l, n) => counts.getOrElse(l, 0L) == n } &&
      counts.getOrElse("background", 0L) == d.keyedRows() - labelled,
      s"labels on ${d.deviceDateKey}: $counts, planted $want of ${d.keyedRows()}")
    ctx.extra("interval", "rows_labeled", labelled.toDouble)
  }

  private def ts(us: Long): Timestamp =
    Timestamp.from(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
  private def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
}
