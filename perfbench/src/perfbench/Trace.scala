package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the library, plus the Spark
  * work each span caused, collected from outside the program by a
  * `SparkListener` and a `QueryExecutionListener` this class registers.
  *
  * A span's Spark jobs are found through a local property set while the
  * span is open (broadcast and subquery jobs inherit it); queries are
  * placed by the time their planning started. Spans are kept in memory and
  * written out by [[writeSpans]] when the run ends.
  */
final class Tracer(spark: SparkSession, val workload: String, cores: Int) {
  import Tracer._

  private val clock0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = clock0Ms + (System.nanoTime() - nano0) / 1e6

  final class Span(val id: Int, val name: String, val op: Int, val parent: Int,
      val startMs: Double) {
    var endMs: Double = Double.NaN
    val extras: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
    def wallMs: Double = endMs - startMs
  }

  final class JobRec(val span: Int, val startMs: Double) {
    var endMs: Double = Double.NaN
    var runMs, cpuMs, shuffleWrite, spill, peakMem = 0.0
  }

  final class QueryRec(val startMs: Double, val planMs: Double, val filesRead: Double,
      val filesTotal: Double, val sortMs: Double)

  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private var op = 0
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val queries = mutable.ArrayBuffer[QueryRec]()
  private var retries = 0
  private var events = 0L
  /** Most bytes held by cached blocks at any span end. */
  var storagePeak = 0.0

  def beginOp(): Int = { op += 1; op }

  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption
    val s = new Span(spans.size, name, op, parent.map(_.id).getOrElse(-1), nowMs)
    spans += s
    open.push(s)
    spark.sparkContext.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      storagePeak = math.max(storagePeak, spark.sparkContext.getRDDStorageInfo
        .map(r => (r.memSize + r.diskSize).toDouble).sum)
      open.pop()
      spark.sparkContext.setLocalProperty(SpanProperty, parent.map(_.id.toString).orNull)
    }
  }

  /** Attach a counter to the innermost open span (or the last closed one
    * with that name in the current op). */
  def extra(name: String, key: String, value: Double): Unit = {
    val s = spans.reverseIterator.find(x => x.name == name && x.op == op)
      .getOrElse(sys.error(s"no span $name in op $op"))
    s.extras(key) = value
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      events += 1
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = new JobRec(sid, e.time.toDouble)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      events += 1
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      events += 1
      if (e.taskInfo != null && e.taskInfo.attemptNumber > 0) retries += 1
      val m = e.taskMetrics
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get) if m != null) {
        j.runMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1e6
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory.toDouble)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    val startMs = phases.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    var read, total, sortMs = 0.0
    nodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec =>
        read += s.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
        total += s.relation.location.inputFiles.length
      case s: SortExec =>
        sortMs += s.metrics.get("sortTime").map(_.value.toDouble).getOrElse(0.0)
      case _ =>
    }
    synchronized {
      events += 1
      queries += new QueryRec(startMs, planMs, read, total, sortMs)
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def unregister(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Wait until listener events stop arriving (the buses are asynchronous). */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 5000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = synchronized(events)
      if (now == last) quiet += 1 else quiet = 0
      last = now
    }
  }

  // ---- reduction to per-layer metrics

  private def descendants(s: Span): Set[Int] = {
    val kids = spans.filter(_.parent == s.id)
    kids.flatMap(descendants).toSet ++ kids.map(_.id) + s.id
  }

  /** Length of the union of `intervals` clipped to [a, b]. */
  private def covered(intervals: Seq[(Double, Double)], a: Double, b: Double): Double = {
    var total = 0.0
    var reach = a
    for ((s0, e0) <- intervals.sortBy(_._1)) {
      val s = math.max(s0, reach); val e = math.min(e0, b)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }

  /** Core metrics of one span instance. */
  def core(s: Span): Map[String, Double] = synchronized {
    val mine = descendants(s)
    val js = jobs.values.filter(j => mine(j.span) && !j.endMs.isNaN).toSeq
    val running = covered(jobs.values.filter(!_.endMs.isNaN)
      .map(j => (j.startMs, j.endMs)).toSeq, s.startMs, s.endMs)
    val busy = covered(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq
    Map(
      "wall_ms" -> s.wallMs,
      "self_ms" -> (s.wallMs - covered(kids, s.startMs, s.endMs)),
      "driver_ms" -> math.max(0.0, s.wallMs - running),
      "task_cpu_ms" -> js.map(_.cpuMs).sum,
      "slot_util" -> (if (busy > 0) js.map(_.runMs).sum / (busy * cores) else 0.0),
      "task_run_ms" -> js.map(_.runMs).sum,
      "busy_ms" -> busy * cores,
      "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum,
      "spill_bytes" -> js.map(_.spill).sum,
      "peak_exec_mem_bytes" -> (0.0 +: js.map(_.peakMem)).max,
      "jobs" -> js.size.toDouble)
  }

  private def queriesIn(s: Span): Seq[QueryRec] = synchronized {
    queries.filter(q => q.startMs >= s.startMs && q.startMs <= s.endMs).toSeq
  }

  def planMs(s: Span): Double = queriesIn(s).map(_.planMs).sum
  def sortMs(s: Span): Double = queriesIn(s).map(_.sortMs).sum
  def filesRead(s: Span): Double = queriesIn(s).map(_.filesRead).sum
  def filesTotal(s: Span): Double = queriesIn(s).map(_.filesTotal).sum
  def taskRetries: Int = synchronized(retries)

  /** Spans as JSON lines: name, workload, op id, parent, times, core
    * metrics and extras. */
  def writeSpans(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val fields = core(s) ++ s.extras
      w.println(Json.obj(Seq("name" -> Json.str(s.name), "workload" -> Json.str(workload),
        "op" -> s.op.toString, "id" -> s.id.toString, "parent" -> s.parent.toString,
        "start_ms" -> Json.num(s.startMs)) ++ fields.toSeq.sortBy(_._1).map {
          case (k, v) => k -> Json.num(v) }))
    } finally w.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Every physical node of an executed plan, looking through adaptive
    * wrappers, query stages, reused exchanges and cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Just enough JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
