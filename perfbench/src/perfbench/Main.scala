package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.operators.Caches

/** Benchmark entry point:
  * `--workload <fleet_day|hourly_drops|analyst_queries> --seed <n>
  *  --seconds <s> --trace <0|1> --work-dir <dir> --spans <file>`.
  *
  * Set-up (session start, seeded inputs, base tables, warm-up) is timed on
  * its own; then operations run in a closed loop, one client, for
  * `--seconds`. With `--trace 1` untraced and traced operations alternate,
  * and the result carries the per-layer metrics instead of the end-to-end
  * ones. The last stdout line is the JSON result; the exit code is 1 when
  * any output check failed.
  */
/** A traced operation's id, its GC time, and the operator caches it left
  * tracked. */
final case class TracedOp(id: Int, gcMs: Double, tracked: Int)

object Main {

  /** Sizes. 4 cores at most, so figures stay comparable across hosts. */
  val MaxCores = 4
  val FleetDayTrucks = 2
  val FleetDayDays = 1
  val DropsTrucks = 4
  val DropsBaseHours = 12
  val AnalystTrucks = 2
  val AnalystDays = 2
  /** Set-up builds repeated per run; `setup_s` takes their median. */
  val SetupReps = 3

  val Layers: Seq[String] = Seq("ingest", "transform", "features.zone", "features.window",
    "export", "cpd", "downsample", "dedup", "sink", "interval", "validation")
  val Core: Seq[String] = Seq("wall_ms", "driver_ms", "task_cpu_ms", "slot_util",
    "shuffle_write_bytes", "spill_bytes", "jobs")
  val Extras: Seq[(String, String)] = Seq(
    "features.zone" -> "rows_in_zone", "features.window" -> "sort_ms",
    "features.window" -> "peak_exec_mem_bytes", "export" -> "files", "export" -> "output_bytes",
    "cpd" -> "candidates", "cpd" -> "partitions_success", "cpd" -> "reduction_ratio",
    "cpd" -> "cache_bytes", "downsample" -> "buckets", "dedup" -> "rows_offered",
    "dedup" -> "rows_appended", "dedup" -> "new_ratio", "sink" -> "files_added",
    "sink" -> "bytes_added", "interval" -> "rows_labeled", "validation" -> "recall")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest of p50/p90/p99 that has at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(99 -> 0.99, 90 -> 0.90, 50 -> 0.50).collectFirst {
      case (p, q) if xs.size * (1 - q) >= 10 =>
        val s = xs.sorted
        s"p$p" -> s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1))
    }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  /** Heap occupancy right after a full GC, read from each heap pool's
    * after-collection usage so allocations that follow the GC do not count.
    * Waits first for cached blocks to go (unpersisting is asynchronous), and
    * collects twice: Spark's cleaner frees broadcast and shuffle state only
    * after a GC has found it unreachable. */
  private def heapAfterGcMb(spark: org.apache.spark.sql.SparkSession): Double = {
    val deadline = System.nanoTime() + 2000000000L
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
      .map(_.getCollectionUsage.getUsed.toDouble).sum / 1048576.0
  }

  def main(args: Array[String]): Unit =
    // exit explicitly: Spark's non-daemon threads would keep a failed run alive
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dir = new File(a("work-dir"))
    val cores = math.min(MaxCores, Runtime.getRuntime.availableProcessors())

    val (spark, sessionS) = Fs.timed(GraftSession.local(cores, "perfbench"))
    GraftSession.quietKnownWarnings()
    val ctx = new Ctx(spark, dir, seed, cores)
    val w: Workload = workload match {
      case "fleet_day" => new FleetDay(ctx, FleetDayTrucks, FleetDayDays)
      case "hourly_drops" => new HourlyDrops(ctx, DropsTrucks, DropsBaseHours)
      case "analyst_queries" => new AnalystQueries(ctx, AnalystTrucks, AnalystDays)
      case other => sys.error(s"unknown workload $other")
    }

    val buildS = (0 until SetupReps).map { rep =>
      if (rep > 0) Fs.rm(new File(ctx.path(s"setup${rep - 1}")))
      Fs.timed(w.build(rep))._2
    }
    val warmS = Fs.timed(w.warmup())._2
    Caches.clear()
    val setupS = sessionS + median(buildS) + warmS
    val setupFailures = ctx.failures.size

    // ---- timed region: closed loop, one client
    val tracer = if (trace) Some(new Tracer(spark, workload, cores)) else None
    tracer.foreach(_.register())
    val plain, traced = mutable.ArrayBuffer[OpResult]()
    val perOp = mutable.ArrayBuffer[TracedOp]()
    var attempted, failed = 0
    var heapPeak = 0.0
    var crashed: Option[Throwable] = None
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (crashed.isEmpty && (elapsed < seconds || i % w.opsPerRound != 0 || i < w.minOps ||
        (trace && i < 2 * w.opsPerRound))) {
      val tracedOp = trace && (i / w.opsPerRound) % 2 == 1
      ctx.tracer = if (tracedOp) tracer else None
      val opId = if (tracedOp) tracer.get.beginOp() else 0
      val before = ctx.failures.size
      val gc0 = gcMs
      attempted += 1
      try {
        val r = w.op()
        (if (tracedOp) traced else plain) += r
        if (tracedOp) perOp += TracedOp(opId, gcMs - gc0, Caches.trackedCount)
        ctx.check(Caches.trackedCount == 0, s"$workload left ${Caches.trackedCount} operator caches tracked")
      } catch {
        case e: Throwable =>
          crashed = Some(e)
          ctx.failures += s"$workload operation failed: $e"
          e.printStackTrace()
      }
      ctx.tracer = None
      Caches.clear()
      spark.catalog.clearCache()
      if (ctx.failures.size > before) failed += 1
      val heap = heapAfterGcMb(spark)
      heapPeak = math.max(heapPeak, heap)
      System.err.println(f"[perfbench] op $i${if (tracedOp) " (traced)" else ""}: " +
        f"${(if (tracedOp) traced else plain).lastOption.map(_.wallS).getOrElse(Double.NaN)}%.3f s, heap $heap%.1f MB")
      i += 1
    }
    if (crashed.isEmpty) {
      val before = ctx.failures.size
      try w.finish() catch { case e: Throwable => ctx.failures += s"$workload final check failed: $e" }
      if (ctx.failures.size > before) failed = math.min(attempted, failed + 1)
    }
    if (setupFailures > 0) failed = math.max(failed, 1)

    val opS = plain.map(_.wallS).toSeq
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", median(opS), "s"),
      ("rows_per_s", plain.map(_.rows.toDouble).sum / math.max(1e-9, opS.sum), "rows/s"),
      ("stored_bytes_per_input_byte", w.storedRatio, "ratio"),
      ("heap_peak_mb", heapPeak, "MB"))

    // human-readable report, then the one-line JSON result
    val opName = workload match {
      case "fleet_day" => "pass"; case "hourly_drops" => "drop"; case _ => "query" }
    println(f"[$workload] seed=$seed cores=$cores ops=${opS.size} set-up builds=" +
      buildS.map(s => f"$s%.2f").mkString("/") + f" s, session=$sessionS%.2f s, warm-up=$warmS%.2f s")
    endToEnd.foreach { case (n, v, u) => println(f"  $n%-28s $v%14.4f $u") }
    println(f"  ${opName + "_p50_s"}%-28s ${median(opS)}%14.4f s  (n=${opS.size})")
    tail(opS).foreach { case (p, v) =>
      println(f"  ${s"${opName}_${p}_s"}%-28s $v%14.4f s  (n=${opS.size})") }
    if (!tail(opS).exists(_._1 != "p50"))
      println(s"  ${opName}_p90_s: not reported, ${opS.size} samples support no tail above p50")
    println(f"  error_rate                   ${failed.toDouble / math.max(1, attempted)}%14.4f ratio" +
      s"  ($failed of $attempted operations)")
    ctx.failures.foreach(f => println(s"  FAILED: $f"))

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => endToEnd
      case Some(tr) =>
        tr.unregister()
        val spansFile = new File(a("spans"))
        tr.writeSpans(spansFile)
        println(s"  spans written to ${spansFile.getPath}")
        val overheadMs = 1000 * (median(traced.map(_.wallS).toSeq) - median(opS))
        println(f"  tracing overhead (traced minus untraced median op): $overheadMs%.1f ms")
        layerMetrics(tr, sessionS, perOp.toSeq, overheadMs)
    }
    val json = Json.obj(Seq(
      "correct" -> (if (ctx.failures.isEmpty) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    spark.stop()
    println(json)
    System.out.flush()
    System.exit(if (ctx.failures.isEmpty) 0 else 1)
  }

  /** Per-layer metrics: per traced operation, each span name's instances
    * are summed; the reported value is the median over operations where the
    * layer ran (0 where it never ran in this workload). */
  def layerMetrics(tr: Tracer, sessionS: Double, perOp: Seq[TracedOp],
      overheadMs: Double): Seq[(String, Double, String)] = {
    val opIds = perOp.map(_.id)
    val byOp = tr.spans.groupBy(_.op)
    def perLayer(name: String): Seq[Map[String, Double]] = opIds.flatMap { op =>
      val ss = byOp.getOrElse(op, Nil).filter(_.name == name)
      if (ss.isEmpty) None
      else {
        val cores = ss.map(tr.core)
        val sum = cores.flatMap(_.keys).distinct.map(k => k -> cores.map(_(k)).sum).toMap
        val run = sum("task_run_ms"); val busy = sum("busy_ms")
        Some(sum ++ ss.flatMap(_.extras) ++ Map(
          "slot_util" -> (if (busy > 0) run / busy else 0.0),
          "peak_exec_mem_bytes" -> cores.map(_("peak_exec_mem_bytes")).max,
          "sort_ms" -> ss.map(tr.sortMs).sum))
      }
    }
    def med(name: String, key: String): Double = median(perLayer(name).flatMap(_.get(key)))
    val unit = Map("wall_ms" -> "ms", "driver_ms" -> "ms", "task_cpu_ms" -> "ms", "slot_util" -> "ratio",
      "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "jobs" -> "count",
      "sort_ms" -> "ms", "peak_exec_mem_bytes" -> "bytes", "output_bytes" -> "bytes",
      "cache_bytes" -> "bytes", "reduction_ratio" -> "ratio", "new_ratio" -> "ratio",
      "bytes_added" -> "bytes", "recall" -> "ratio").withDefaultValue("count")
    val roots = opIds.flatMap(op => byOp.getOrElse(op, Nil).find(s => s.name == "op" && s.parent < 0))
    val peltWall = med("pelt", "wall_ms")
    val peltBuckets = med("pelt", "buckets")
    val read = roots.map(tr.filesRead); val total = roots.map(tr.filesTotal)
    Seq(("session.wall_ms", sessionS * 1000, "ms"), ("session.start_ms", sessionS * 1000, "ms"),
        ("session.driver_ms", sessionS * 1000, "ms")) ++
      Seq("task_cpu_ms", "slot_util", "shuffle_write_bytes", "spill_bytes", "jobs")
        .map(k => (s"session.$k", 0.0, unit(k))) ++
      Layers.flatMap(l => Core.map(k => (s"$l.$k", med(l, k), unit(k)))) ++
      Extras.map { case (l, k) => (s"$l.$k", med(l, k), unit(k)) } ++
      Seq(("pelt.wall_ms", peltWall, "ms"), ("pelt.calls", med("pelt", "calls"), "count"),
        ("pelt.buckets", peltBuckets, "count"),
        ("pelt.change_points", med("pelt", "change_points"), "count"),
        ("pelt.ms_per_kbucket", if (peltBuckets > 0) peltWall / (peltBuckets / 1000) else 0.0, "ms"),
        ("scan.files_read", median(read), "count"), ("scan.files_total", median(total), "count"),
        ("scan.pruned_ratio", if (total.sum > 0) 1 - read.sum / total.sum else 0.0, "ratio"),
        ("caches.tracked_after", perOp.map(_.tracked).max.toDouble, "count"),
        ("caches.storage_peak_bytes", tr.storagePeak, "bytes"),
        ("jvm.gc_ms", median(perOp.map(_.gcMs)), "ms"),
        ("driver.plan_ms", median(roots.map(tr.planMs)), "ms"),
        ("driver.task_retries", tr.taskRetries.toDouble, "count"),
        ("op.wall_ms", median(roots.map(_.wallMs)), "ms"),
        ("op.self_ms", median(roots.map(r => tr.core(r)("self_ms"))), "ms"),
        ("trace.overhead_ms", overheadMs, "ms"))
  }
}
