package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Caches, Cpd, FeatureEngineering, TelemetryTransform}
import graft.sources.{ExportSink, TelemetryCsv}

/** `analyst_queries`: a gold table built in set-up, then rounds of four
  * calls in a seeded order, each on one device-day drawn with a skew toward
  * the latest day (weight 2^day), except the fleet-wide aggregate.
  */
final class AnalystQueries(ctx: Ctx, trucks: Int, days: Int) extends Workload {
  override def opsPerRound: Int = 4
  private var fleet: Fleet = _
  private var gold = ""
  private var csvBytes = 0L
  private var storedBytes = 0L
  private var rnd: SplittableRandom = _
  private var round = IndexedSeq.empty[Int]
  private val penalties = Seq(0.05, 0.1, 0.5)

  def build(rep: Int): Unit = {
    fleet = Fleet.generate(ctx, trucks, days)
    val root = ctx.path(s"setup$rep")
    csvBytes = fleet.writeCsv(s"$root/csv", ctx.cores)
    // gold straight from the CSV in one plan: the analysts need only gold,
    // and set-up is repeated, so it stays as light as the library allows
    gold = s"$root/gold"
    ExportSink.goldParquet(FeatureEngineering.features(
      TelemetryTransform.transform(TelemetryCsv.read(ctx.spark, s"$root/csv")),
      FeatureEngineering.zonesDf(ctx.spark)), gold)
    storedBytes = Fs.bytes(new File(gold))
    rnd = new SplittableRandom(ctx.seed ^ 0x3c6ef372L)
    round = IndexedSeq.empty
  }

  def warmup(): Unit = (0 until opsPerRound).foreach(_ => op())

  private def pickDay(): Gen.DayData = {
    val weights = (0 until days).map(d => math.pow(2, d))
    var u = rnd.nextDouble() * weights.sum
    val day = weights.indexWhere { w => u -= w; u < 0 } match { case -1 => days - 1; case d => d }
    fleet.days(rnd.nextInt(trucks) * days + day)
  }

  def op(): OpResult = {
    if (round.isEmpty) round = rnd.ints(0, 1 << 30).limit(4).toArray.toIndexedSeq
      .zipWithIndex.sortBy(_._1).map(_._2)
    val kind = round.head
    round = round.tail
    val d = pickDay()
    val penalty = penalties(rnd.nextInt(penalties.size))
    val (rows, wall) = Fs.timed(ctx.span("op") {
      lazy val dayDf = ctx.spark.read.parquet(gold).where(col("device_date") === d.deviceDateKey)
      kind match {
        case 0 => profile(d, dayDf)
        case 1 => cpd(d, dayDf, penalty)
        case 2 => label(d, dayDf)
        case 3 => occupancy()
      }
    })
    OpResult(wall, rows)
  }

  private def profile(d: Gen.DayData, dayDf: DataFrame): Long = {
    Analysis.profile(ctx, d, dayDf)
    d.keyedRows()
  }

  /** CPD re-run at one penalty, scored against the planted transitions. */
  private def cpd(d: Gen.DayData, dayDf: DataFrame, penalty: Double): Long = {
    val cands = ctx.span("cpd") {
      try Cpd.candidateEvents(dayDf, Cpd.Config(penalty = penalty)).collect()
      finally Caches.clear()
    }
    ctx.extra("cpd", "candidates", cands.length.toDouble)
    Analysis.recall(ctx, d, cands.toSeq)
    d.keyedRows()
  }

  private def label(d: Gen.DayData, dayDf: DataFrame): Long = {
    Analysis.label(ctx, d, dayDf)
    d.keyedRows()
  }

  /** Fleet-wide hourly zone occupancy. */
  private def occupancy(): Long = {
    val rows = ctx.span("occupancy") {
      ctx.spark.read.parquet(gold)
        .groupBy(date_trunc("hour", col("timestamp")).as("hour"), col("location_type"))
        .agg(count(lit(1)).as("rows"), countDistinct("device_id").as("trucks"))
        .collect()
    }
    val perZone = rows.groupBy(_.getString(1)).map { case (z, rs) => z -> rs.map(_.getLong(2)).sum }
    ctx.check(perZone == fleet.zoneCounts,
      s"analyst occupancy per zone $perZone != planted ${fleet.zoneCounts}")
    fleet.keyedRows
  }

  def storedRatio: Double = storedBytes.toDouble / csvBytes
}
