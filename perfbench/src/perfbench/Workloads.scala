package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Caches, Cpd, Downsample, FeatureEngineering, Pelt, TelemetryTransform}
import graft.sources.{ExportSink, TelemetryCsv}

/** What one timed operation reports. `rows` is the input rows it covered. */
final case class OpResult(wallS: Double, rows: Long)

/** Shared state of one benchmark run. `tracer` is set only for the traced
  * operations of a `--trace 1` run. */
final class Ctx(val spark: SparkSession, val dir: File, val seed: Long, val cores: Int) {
  var tracer: Option[Tracer] = None
  val failures = mutable.ArrayBuffer[String]()

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  def extra(name: String, key: String, value: Double): Unit =
    tracer.foreach(_.extra(name, key, value))

  /** In a traced operation, run `df` to completion inside its own span so
    * the span owns the work of the call that built it; untraced, stay lazy
    * and let the next action run the whole plan. */
  def stage(name: String, df: => DataFrame): DataFrame = tracer match {
    case None => df
    case Some(_) => span(name) { val p = df.persist(); p.count(); p }
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }

  def path(parts: String*): String = new File(dir, parts.mkString("/")).getPath
}

object Fs {
  def bytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else f.listFiles().map(bytes).sum
  def dataFiles(f: File): Seq[File] =
    if (!f.exists()) Nil
    else if (f.isFile) { if (f.getName.startsWith("part-")) Seq(f) else Nil }
    else f.listFiles().toSeq.flatMap(dataFiles)
  def rm(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A workload: set-up (repeatable, into a fresh directory each time), a
  * warm-up, and one timed operation per call of [[op]]. */
trait Workload {
  def build(rep: Int): Unit
  def warmup(): Unit
  def op(): OpResult
  /** Operations every run makes, however long they take. */
  def minOps: Int = 1
  /** Operations that form one balanced round of the workload's mix. */
  def opsPerRound: Int = 1
  def finish(): Unit = ()
  /** Bytes of every table written, over CSV bytes. */
  def storedRatio: Double
}

/** Generates device-days in parallel on at most `cores` threads. */
object Parallel {
  def map[A, B](xs: Seq[A], cores: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val fs = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      fs.map(_.get())
    } finally pool.shutdownNow()
  }
}

/** The daily batch pipeline of `fleet_day`: CSV → bronze → silver → gold →
  * candidates → load checks. */
object Pipeline {
  def silverAndGold(ctx: Ctx, csv: String, out: String): Unit = {
    val spark = ctx.spark
    ctx.span("ingest") {
      TelemetryCsv.bronzeSink(TelemetryCsv.read(spark, csv), s"$out/bronze")
    }
    ctx.span("transform") {
      TelemetryTransform.transform(spark.read.parquet(s"$out/bronze"))
        .write.mode("overwrite").parquet(s"$out/silver")
    }
    val silver = spark.read.parquet(s"$out/silver")
    val zones = FeatureEngineering.zonesDf(spark)
    val zoned = ctx.stage("features.zone", FeatureEngineering.withLocationType(silver, zones))
    val windowed = ctx.stage("features.window",
      FeatureEngineering.withReliablePayload(FeatureEngineering.withWindowFeatures(zoned)))
    ctx.span("export") {
      ExportSink.goldParquet(FeatureEngineering.withAssemblyFeatures(windowed), s"$out/gold")
    }
    if (ctx.tracer.nonEmpty) { windowed.unpersist(true); zoned.unpersist(true) }
  }

  /** Candidates and their load checks; returns (n_rows, n_distinct,
    * n_null_critical). */
  def candidates(ctx: Ctx, out: String): (Long, Long, Long) = {
    val spark = ctx.spark
    ctx.span("cpd") {
      Cpd.candidateEvents(spark.read.parquet(s"$out/gold")).write.mode("overwrite")
        .parquet(s"$out/candidates")
      ctx.extra("cpd", "cache_bytes", spark.sparkContext.getRDDStorageInfo
        .map(r => (r.memSize + r.diskSize).toDouble).sum)
      Caches.clear()
    }
    val r = ctx.span("export") {
      ExportSink.candidateLoadChecks(spark.read.parquet(s"$out/candidates")).head()
    }
    // an empty candidate set sums to NULL null-criticals
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** The rows `rows` of each device-day of a fleet, used by `fleet_day` and
  * `analyst_queries`. */
final class Fleet(val days: Seq[Gen.DayData], rows: Range = Gen.AllRows) {
  def csvRows: Long = days.size.toLong * rows.size
  def keyedRows: Long = days.map(_.keyedRows(rows).toLong).sum
  def zoneCounts: Map[String, Long] =
    days.flatMap(_.zoneCounts(rows)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }

  /** One CSV per device-day, written on at most `cores` threads; returns
    * total CSV bytes. */
  def writeCsv(dir: String, cores: Int): Long = Parallel.map(days, cores) { d =>
    Gen.writeCsv(new File(dir, s"${d.deviceDateKey}.csv"), rows.iterator.map(i => (d, i)))
  }.sum
}

object Fleet {
  def generate(ctx: Ctx, trucks: Int, days: Int): Fleet = new Fleet(Parallel.map(
    for (t <- Gen.trucks(trucks); d <- 0 until days) yield (t, d), ctx.cores) {
    case (t, d) => Gen.day(ctx.seed, t, d)
  })
}

/** `fleet_day`: one daily batch per operation over full 24 h device-days. */
final class FleetDay(ctx: Ctx, trucks: Int, days: Int) extends Workload {
  private var fleet, warm: Fleet = _
  private var csvDir, warmDir = ""
  private var csvBytes = 0L
  private var storedBytes = 0L
  private var passes = 0
  private var firstCandidates: Option[Seq[String]] = None

  /** The warm-up pass covers two working hours of each device-day: the
    * same plans, so codegen and JIT warm up, at a fraction of a pass's cost. */
  val WarmupRows: Range = 7 * 3600 until 9 * 3600

  def build(rep: Int): Unit = {
    fleet = Fleet.generate(ctx, trucks, days)
    warm = new Fleet(fleet.days, WarmupRows)
    csvDir = ctx.path(s"setup$rep", "csv")
    warmDir = ctx.path(s"setup$rep", "warm")
    csvBytes = fleet.writeCsv(csvDir, ctx.cores)
    warm.writeCsv(warmDir, ctx.cores)
  }

  def warmup(): Unit = { pass(warm, warmDir); () }

  /** A pass is long and its time varies by several percent from pass to
    * pass, so every run measures at least three and reports their median. */
  override def minOps: Int = 3

  def op(): OpResult = pass(fleet, csvDir)

  private def pass(f: Fleet, csv: String): OpResult = {
    passes += 1
    val out = ctx.path(s"pass$passes")
    val ((n, nDistinct, nNull), wall) = Fs.timed {
      ctx.span("op") {
        Pipeline.silverAndGold(ctx, csv, out)
        Pipeline.candidates(ctx, out)
      }
    }
    verify(f, out, n, nDistinct, nNull)
    storedBytes = Seq("bronze", "silver", "gold", "candidates")
      .map(t => Fs.bytes(new File(out, t))).sum
    Fs.rm(new File(out))
    OpResult(wall, f.csvRows)
  }

  private def verify(fleet: Fleet, out: String, n: Long, nDistinct: Long, nNull: Long): Unit = {
    val spark = ctx.spark
    val silver = spark.read.parquet(s"$out/silver")
    val s = silver.agg(count(lit(1)), countDistinct(col("raw_event_hash_id"))).head()
    ctx.check(s.getLong(0) == fleet.keyedRows,
      s"fleet_day silver rows ${s.getLong(0)} != CSV rows minus null keys ${fleet.keyedRows}")
    ctx.check(s.getLong(1) == s.getLong(0), s"fleet_day silver hash ids not distinct")
    val gold = spark.read.parquet(s"$out/gold")
    val zones = gold.groupBy("location_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ctx.check(zones.values.sum == s.getLong(0), s"fleet_day gold rows != silver rows")
    ctx.check(zones == fleet.zoneCounts,
      s"fleet_day zone counts $zones != planted ${fleet.zoneCounts}")
    ctx.check(n == nDistinct && nNull == 0,
      s"fleet_day candidate load checks: n_rows=$n distinct=$nDistinct null_critical=$nNull")
    val candRows = spark.read.parquet(s"$out/candidates").select("device_id", "raw_event_hash_id")
      .collect()
    val cands = candRows.map(_.getString(1)).toSeq.sorted
    if (fleet ne warm) firstCandidates match {
      case None => firstCandidates = Some(cands)
      case Some(c) => ctx.check(c == cands, "fleet_day candidate set differs between passes")
    }
    System.err.println(f"[perfbench] fleet_day candidates ${cands.size} " +
      f"(${cands.size.toDouble / fleet.days.size}%.0f per device-day; per truck " +
      candRows.groupBy(_.getString(0)).map { case (k, v) => s"$k=${v.length}" }.mkString(", ") + ")")
    if (ctx.tracer.nonEmpty) tracedExtras(out, zones)
  }

  /** Traced-only layer detail that the untraced pass does not run. */
  private def tracedExtras(out: String, zones: Map[String, Long]): Unit = {
    val spark = ctx.spark
    ctx.extra("features.zone", "rows_in_zone", (zones - Gen.Road).values.sum.toDouble)
    val goldFiles = Fs.dataFiles(new File(out, "gold"))
    ctx.extra("export", "files", goldFiles.size.toDouble)
    ctx.extra("export", "output_bytes", goldFiles.map(_.length()).sum.toDouble)
    val gold = spark.read.parquet(s"$out/gold")
    val pm = Cpd.partitionMetrics(gold).collect()
    Caches.clear()
    ctx.extra("cpd", "candidates", firstCandidates.get.size.toDouble)
    ctx.extra("cpd", "partitions_success", pm.count(_.getAs[String]("status") == "success").toDouble)
    ctx.extra("cpd", "reduction_ratio",
      pm.map(_.getAs[Double]("data_reduction_ratio")).sum / math.max(1, pm.length))
    // the kernel alone, over the same 5 s bucket signals the CPD stage builds
    val signals = Downsample.tumblingMean(
        gold.withColumn("has_reliable_payload_f", col("has_reliable_payload").cast("double")),
        "timestamp", "5 seconds",
        keys = Seq("device_date"),
        signals = Seq("load_weight_rate_of_change", "speed_rolling_avg_5s",
          "altitude_rate_of_change", "has_reliable_payload_f"),
        firstCols = Nil)
      .orderBy("device_date", "bucket_start").collect()
      .groupBy(_.getAs[String]("device_date")).values.toSeq
    var calls, buckets, points = 0L
    ctx.span("pelt") {
      for (rows <- signals) {
        def sig(c: String) = rows.flatMap(r => Option(r.getAs[java.lang.Double](c)).map(_.doubleValue))
        val payload = rows.head.getAs[Double]("has_reliable_payload_f") > 0.5
        val passes =
          if (payload) Seq(sig("load_weight_rate_of_change"))
          else Seq(sig("speed_rolling_avg_5s"), sig("altitude_rate_of_change"))
        for (s <- passes if s.length >= 10) {
          val cps = Pelt.detectAuto(s, 0.05, 10)
          calls += 1; buckets += s.length; points += math.max(0, cps.length - 1)
        }
      }
    }
    ctx.extra("pelt", "calls", calls.toDouble)
    ctx.extra("pelt", "buckets", buckets.toDouble)
    ctx.extra("pelt", "change_points", points.toDouble)
    // the analysis calls on each device-day of the day's gold
    import spark.implicits._
    val cands = spark.read.parquet(s"$out/candidates").as[Cpd.Candidate].collect().toSeq
    for (d <- fleet.days) {
      val dayDf = gold.where(col("device_date") === d.deviceDateKey)
      Analysis.profile(ctx, d, dayDf)
      Analysis.label(ctx, d, dayDf)
      Analysis.recall(ctx, d, cands.filter(_.device_id == d.truck.id))
    }
  }

  def candidates: Seq[String] = firstCandidates.getOrElse(Nil)
  def storedRatio: Double = storedBytes.toDouble / csvBytes
}
