package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.operators.TelemetryTransform
import graft.sources.TelemetryCsv

/** `hourly_drops`: a silver table built in set-up, then one hour-sized CSV
  * drop for the whole fleet per operation, appended through the anti-join
  * against the current silver table. Each drop carries planted re-sent
  * rows (≈17% of the drop, already in silver) and late rows (withheld from
  * the previous hour's drop, so new).
  */
final class HourlyDrops(ctx: Ctx, trucks: Int, baseHours: Int) extends Workload {
  private type Row = (Gen.DayData, Int)
  private val fleet = Gen.trucks(trucks)
  private val days = mutable.HashMap[(Int, Int), Gen.DayData]()
  private def rowsOfHour(g: Int): IndexedSeq[Row] = fleet.flatMap { t =>
    val d = days.getOrElseUpdate((t.idx, g / 24), Gen.day(ctx.seed, t, g / 24))
    (g % 24 * 3600 until (g % 24 + 1) * 3600).map(i => (d, i))
  }

  private var silver = ""
  private var dropDir = ""
  private var rnd: SplittableRandom = _
  private var hour = 0
  private var lastAppended: IndexedSeq[Row] = IndexedSeq.empty
  private var withheld: IndexedSeq[Row] = IndexedSeq.empty
  private var expectedDistinct = 0L
  private var csvBytes = 0L
  private var dropCount = 0

  def build(rep: Int): Unit = {
    val root = ctx.path(s"setup$rep")
    silver = s"$root/silver"
    dropDir = s"$root/drops"
    rnd = new SplittableRandom(ctx.seed ^ 0x6a09e667L)
    val base = (0 until baseHours).flatMap(rowsOfHour)
    val csv = new File(s"$root/base.csv")
    csvBytes = Gen.writeCsv(csv, base.iterator)
    TelemetryTransform.transform(TelemetryCsv.read(ctx.spark, csv.getPath))
      .write.mode("overwrite").parquet(silver)
    val keyed = base.filter { case (d, i) => d.keyed(i) }
    expectedDistinct = keyed.size
    lastAppended = rowsOfHour(baseHours - 1).filter { case (d, i) => d.keyed(i) }
    withheld = IndexedSeq.empty
    hour = baseHours
    dropCount = 0
  }

  /** Writes the next drop; returns (path, CSV rows, rows it should append). */
  private def nextDrop(): (String, Int, Long) = {
    val fresh = rowsOfHour(hour)
    hour += 1
    val late = fresh.filter { case (d, i) => d.keyed(i) && rnd.nextInt(100) < 3 }.toSet
    val delivered = fresh.filterNot(late)
    val nResent = math.min(lastAppended.size, (fresh.size * 0.2).round.toInt)
    val resent = (0 until nResent).map(_ => lastAppended(rnd.nextInt(lastAppended.size))).distinct
    val appended = delivered.filter { case (d, i) => d.keyed(i) } ++ withheld
    val rows = delivered ++ withheld ++ resent
    withheld = late.toIndexedSeq
    lastAppended = appended
    expectedDistinct += appended.size
    dropCount += 1
    val path = s"$dropDir/drop_$dropCount.csv"
    csvBytes += Gen.writeCsv(new File(path), rows.iterator)
    (path, rows.size, appended.size.toLong)
  }

  def warmup(): Unit = { op(); () }

  /** Every run appends at least this many drops, so the silver table each
    * drop meets grows the same way in every run. */
  override def minOps: Int = 10

  def op(): OpResult = {
    val spark = ctx.spark
    val (path, nRows, expected) = nextDrop()
    val before = Fs.dataFiles(new File(silver))
    val obs = Observation("appended")
    var offered: org.apache.spark.sql.DataFrame = null
    val (_, wall) = Fs.timed {
      ctx.span("op") {
        val raw = ctx.span("ingest") { TelemetryCsv.read(spark, path) }
        offered = ctx.stage("transform", TelemetryTransform.transform(raw))
        val fresh = ctx.stage("dedup",
          TelemetryTransform.appendNew(offered, spark.read.parquet(silver))
            .observe(obs, count(lit(1)).as("n")))
        ctx.span("sink") { fresh.write.mode("append").parquet(silver) }
      }
    }
    val appended = obs.get("n").asInstanceOf[Long]
    ctx.check(appended == expected,
      s"hourly_drops drop $dropCount appended $appended rows, planted $expected new")
    if (ctx.tracer.nonEmpty) {
      val nOffered = offered.count()
      val added = Fs.dataFiles(new File(silver)).filterNot(before.toSet)
      ctx.extra("dedup", "rows_offered", nOffered.toDouble)
      ctx.extra("dedup", "rows_appended", appended.toDouble)
      ctx.extra("dedup", "new_ratio", appended.toDouble / math.max(1L, nOffered))
      ctx.extra("sink", "files_added", added.size.toDouble)
      ctx.extra("sink", "bytes_added", added.map(_.length()).sum.toDouble)
    }
    OpResult(wall, nRows)
  }

  override def finish(): Unit = {
    val r = ctx.spark.read.parquet(silver)
      .agg(count(lit(1)), countDistinct(col("raw_event_hash_id"))).head()
    ctx.check(r.getLong(0) == expectedDistinct && r.getLong(1) == expectedDistinct,
      s"hourly_drops silver has ${r.getLong(0)} rows / ${r.getLong(1)} distinct hashes, " +
        s"planted $expectedDistinct distinct (device, ts) pairs")
  }

  def storedRatio: Double = Fs.bytes(new File(silver)).toDouble / csvBytes
}
