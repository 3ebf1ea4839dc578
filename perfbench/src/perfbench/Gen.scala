package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import graft.operators.FeatureEngineering
import graft.schema.Schemas

/** Seeded telemetry shaped like the reference: 1 Hz device-days of haul
  * trucks running ~15-minute duty cycles (load at a Pit, haul, dump at the
  * Crusher, return) during a ~12-hour shift and parked outside it, rendered as the 11-column raw CSV with Postgres-style
  * `timestamptz` text. Every property a check relies on is recorded here as
  * truth, computed from the generator's own plan of each row and never from
  * the library.
  *
  * Truck `i` is a `605`-series truck with a working payload sensor when `i`
  * is even (CPD payload branch) and a `775g`-series truck whose sensor is
  * stuck at 0 otherwise (kinematic branch, two PELT passes).
  */
object Gen {

  val Road = "Haul Road / Other"
  val ZoneNames: Array[String] = Array(Road, "Pit 1", "Pit 2", "Pit 3", "Crusher")
  val Day0EpochSec: Long = java.time.LocalDate.of(2025, 8, 1)
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
  val RowsPerDay = 86400
  val AllRows: Range = 0 until RowsPerDay

  // Phases of one duty cycle; the CSV carries the reference's raw state text.
  // Phases 1 (haul) and 3 (return) are the moving ones.
  val Load: Byte = 0; val Dump: Byte = 2; val Parked: Byte = 4
  private val stateText = Array("loading", "loadToDump", "dumping", "dumpToLoad", "idle")

  // Row defects, about 1% of rows in total.
  val Ok: Byte = 0; val BadPosition: Byte = 1; val BadLoad: Byte = 2
  val NullDevice: Byte = 3; val NullTimestamp: Byte = 4

  /** Noise knobs, calibrated so CPD yields close to the reference's
    * 46,083 candidates / 96 device-days ≈ 480 per device-day. */
  val SpeedNoise = 0.05
  val AltNoise = 0.04
  val LoadNoise = 0.3
  val RampSeconds = 5.0

  case class Truck(idx: Int, id: String, payload: Boolean, microOffset: Int)

  def trucks(n: Int): IndexedSeq[Truck] = (0 until n).map { i =>
    val payload = i % 2 == 0
    val id = if (payload) f"lake-605-8-${100 + i}%04d" else f"lake-775g-${100 + i}%04d"
    // a fixed sub-second offset per truck whose last digit is non-zero, so
    // the Postgres text always carries all six fraction digits
    Truck(i, id, payload, 100001 + 37123 * i % 800000 / 10 * 10 + 1)
  }

  // ---- geometry: placement points deep inside zones, a road far from all

  private def zone(name: String): Seq[(Double, Double)] =
    FeatureEngineering.lbpZones.find(_._1 == name).get._2

  private def inside(lon: Double, lat: Double, vs: Seq[(Double, Double)]): Boolean = {
    var in = false
    var j = vs.length - 1
    for (i <- vs.indices) {
      val (xi, yi) = vs(i); val (xj, yj) = vs(j)
      if ((yi > lat) != (yj > lat) && lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)
        in = !in
      j = i
    }
    in
  }

  private def edgeDistance(lon: Double, lat: Double, vs: Seq[(Double, Double)]): Double =
    vs.indices.map { i =>
      val (ax, ay) = vs(i); val (bx, by) = vs((i + 1) % vs.length)
      val (dx, dy) = (bx - ax, by - ay)
      val t = math.max(0.0, math.min(1.0,
        ((lon - ax) * dx + (lat - ay) * dy) / (dx * dx + dy * dy)))
      math.hypot(lon - (ax + t * dx), lat - (ay + t * dy))
    }.min

  /** Interior point (vertex mean) per zone index 1..4. */
  private val anchors: Array[(Double, Double)] = ZoneNames.map { n =>
    if (n == Road) (0.0, 0.0)
    else {
      val vs = zone(n)
      (vs.map(_._1).sum / vs.length, vs.map(_._2).sum / vs.length)
    }
  }
  private val Jitter = 2e-6
  private val RoadA = (-97.8380, 33.2690)
  private val RoadB = (-97.8315, 33.2579)
  private val PitAlt = 231.0
  private val CrusherAlt = 262.0

  // Placement margins are asserted once, so zone truth cannot depend on
  // edge conventions of any point-in-polygon implementation.
  locally {
    val margin = 5e-5
    for (z <- 1 until ZoneNames.length) {
      val (x, y) = anchors(z)
      val vs = zone(ZoneNames(z))
      require(inside(x, y, vs) && edgeDistance(x, y, vs) > margin,
        s"anchor of ${ZoneNames(z)} is not deep inside its polygon")
    }
    for (k <- 0 to 100; (_, vs) <- FeatureEngineering.lbpZones) {
      val t = k / 100.0
      val x = RoadA._1 + t * (RoadB._1 - RoadA._1)
      val y = RoadA._2 + t * (RoadB._2 - RoadA._2)
      require(!inside(x, y, vs) && edgeDistance(x, y, vs) > margin,
        "haul road passes too close to a zone")
    }
  }

  // ---- one device-day

  final class DayData(val truck: Truck, val day: Int) {
    val speed = new Array[Double](RowsPerDay)
    val lon = new Array[Double](RowsPerDay)
    val lat = new Array[Double](RowsPerDay)
    val alt = new Array[Double](RowsPerDay)
    val load = new Array[Int](RowsPerDay)
    val phase = new Array[Byte](RowsPerDay)
    val zone = new Array[Byte](RowsPerDay)
    val defect = new Array[Byte](RowsPerDay)
    val extras = new Array[Boolean](RowsPerDay)
    /** First row of every phase after the day's first: planted transitions. */
    val transitions = scala.collection.mutable.ArrayBuffer[Int]()
    /** (first row, last row, label) for the seeded label intervals. */
    val labelIntervals = scala.collection.mutable.ArrayBuffer[(Int, Int, String)]()

    val deviceDate: String = java.time.LocalDate.ofEpochDay(
      Day0EpochSec / 86400 + day).toString
    def deviceDateKey: String = s"${truck.id}_$deviceDate"
    def epochMicros(i: Int): Long =
      (Day0EpochSec + day * 86400L + i) * 1000000L + truck.microOffset
    def keyed(i: Int): Boolean = defect(i) != NullDevice && defect(i) != NullTimestamp
    def keyedRows(rows: Range = AllRows): Int = rows.count(keyed)
    /** Keyed rows per location_type as the zone join should label them. */
    def zoneCounts(rows: Range = AllRows): Map[String, Long] =
      rows.filter(keyed)
        .groupBy(i => if (defect(i) == BadPosition) Road else ZoneNames(zone(i)))
        .map { case (k, v) => k -> v.size.toLong }
    def labeledCounts: Map[String, Long] =
      labelIntervals.groupBy(_._3).map { case (l, ivs) =>
        l -> ivs.map { case (a, b, _) => (a to b).count(keyed).toLong }.sum }
  }

  def day(seed: Long, truck: Truck, day: Int): DayData = {
    val d = new DayData(truck, day)
    val r = new SplittableRandom(seed * 1000003L + truck.idx * 7919L + day * 104729L)
    def unif(a: Double, b: Double) = a + (b - a) * r.nextDouble()
    def gauss(): Double = { // Box-Muller keeps the sequence seed-stable
      val u = math.max(r.nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    var t = 0
    def mark(): Unit = if (t > 0 && t < RowsPerDay) d.transitions += t
    // parked at the road head outside the shift: one long quiet segment
    def park(until: Int): Unit = {
      mark()
      while (t < until) {
        d.phase(t) = Parked
        d.lon(t) = RoadA._1 + Jitter * gauss()
        d.lat(t) = RoadA._2 + Jitter * gauss()
        d.alt(t) = PitAlt + AltNoise * gauss()
        d.speed(t) = math.abs(0.05 * gauss())
        d.load(t) = if (truck.payload) math.round(LoadNoise * gauss()).toInt else 0
        t += 1
      }
    }
    val shiftStart = unif(5.5, 6.5) * 3600
    val shiftEnd = shiftStart + unif(11.5, 12.5) * 3600
    park(shiftStart.toInt)
    while (t < shiftEnd) {
      val pit = 1 + r.nextInt(3)
      val full = unif(85000, 95000)
      val durations = Array(unif(150, 210), unif(250, 330), unif(60, 90), unif(250, 330)).map(_.toInt)
      val labelled = r.nextInt(2) == 0
      val cruise = Array(unif(7, 12), unif(7, 12))
      for (ph <- 0 until 4) {
        val len = durations(ph)
        val start = t
        mark()
        var k = 0
        while (k < len) {
          val f = k.toDouble / len
          d.phase(t) = ph.toByte
          ph match {
            case 0 | 2 =>
              val z = if (ph == 0) pit else 4
              d.zone(t) = z.toByte
              d.lon(t) = anchors(z)._1 + Jitter * gauss()
              d.lat(t) = anchors(z)._2 + Jitter * gauss()
              d.alt(t) = (if (ph == 0) PitAlt else CrusherAlt) + AltNoise * gauss()
              d.speed(t) = math.abs(0.05 * gauss())
            case _ =>
              // haul climbs A→B at one cruise speed, return descends B→A at another
              val p = if (ph == 1) f else 1 - f
              d.zone(t) = 0
              d.lon(t) = RoadA._1 + p * (RoadB._1 - RoadA._1)
              d.lat(t) = RoadA._2 + p * (RoadB._2 - RoadA._2)
              d.alt(t) = PitAlt + p * (CrusherAlt - PitAlt) + AltNoise * gauss()
              val v = cruise(if (ph == 1) 0 else 1)
              val ramp = math.min(1.0, math.min(k, len - 1 - k) / RampSeconds)
              d.speed(t) = math.max(0.0, v * ramp + SpeedNoise * gauss())
          }
          val lw =
            if (!truck.payload) 0.0
            else ph match {
              case 0 => full * f
              case 1 => full
              case 2 => full * math.max(0.0, 1 - k / 30.0)
              case _ => 0.0
            }
          d.load(t) = if (truck.payload) math.round(lw + LoadNoise * gauss()).toInt else 0
          k += 1
          t += 1
        }
        if (labelled && (ph == 0 || ph == 2))
          d.labelIntervals += ((start, t - 1, if (ph == 0) "load_event" else "dump_event"))
      }
    }
    park(RowsPerDay)
    for (i <- 0 until RowsPerDay) {
      val u = r.nextDouble()
      d.defect(i) =
        if (u < 0.005) BadPosition
        else if (u < 0.0055) BadLoad
        else if (u < 0.0085) NullDevice
        else if (u < 0.01) NullTimestamp
        else Ok
      d.extras(i) = r.nextInt(100) == 0
    }
    d
  }

  // ---- CSV rendering

  val header: String = Schemas.rawCsvColumns.mkString(",")

  private def appendFixed(sb: java.lang.StringBuilder, v: Double, digits: Int): Unit = {
    val scale = math.pow(10, digits)
    val n = math.round(math.abs(v) * scale)
    if (v < 0 && n != 0) sb.append('-')
    sb.append(n / scale.toLong)
    if (digits > 0) {
      sb.append('.')
      val frac = (n % scale.toLong).toString
      var z = digits - frac.length
      while (z > 0) { sb.append('0'); z -= 1 }
      sb.append(frac)
    }
  }

  private def pad2(sb: java.lang.StringBuilder, v: Int): Unit = {
    if (v < 10) sb.append('0'); sb.append(v)
  }

  /** Postgres `timestamptz::TEXT` under UTC: `2025-08-01 00:00:05.734539+00`. */
  def pgText(sb: java.lang.StringBuilder, epochMicros: Long): Unit = {
    val sec = Math.floorDiv(epochMicros, 1000000L)
    val micros = Math.floorMod(epochMicros, 1000000L).toInt
    val date = java.time.LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L))
    val sod = Math.floorMod(sec, 86400L).toInt
    sb.append(date.toString).append(' ')
    pad2(sb, sod / 3600); sb.append(':'); pad2(sb, sod / 60 % 60); sb.append(':'); pad2(sb, sod % 60)
    val frac = micros.toString
    sb.append('.')
    var z = 6 - frac.length
    while (z > 0) { sb.append('0'); z -= 1 }
    sb.append(frac).append("+00")
  }

  def appendRow(sb: java.lang.StringBuilder, d: DayData, i: Int): Unit = {
    val df = d.defect(i)
    if (df != NullTimestamp) pgText(sb, d.epochMicros(i))
    sb.append(',')
    if (df != NullDevice) sb.append(d.truck.id)
    sb.append(',').append(stateText(d.phase(i))).append(",autonomous,t,")
    appendFixed(sb, d.speed(i), 2)
    sb.append(",\"")
    if (df == BadPosition) sb.append("{").append(d.lat(i)).append("; n/a}")
    else {
      sb.append('{'); appendFixed(sb, d.lat(i), 7); sb.append(", ")
      appendFixed(sb, d.lon(i), 7); sb.append(", "); appendFixed(sb, d.alt(i), 2); sb.append('}')
    }
    sb.append("\",")
    sb.append(if (df == BadLoad) -99 else d.load(i))
    val stationary = d.phase(i) == Load || d.phase(i) == Dump || d.phase(i) == Parked
    sb.append(if (stationary) ",park,t," else ",drive,f,")
    if (d.extras(i)) sb.append("\"{\"\"source\"\": \"\"gps\"\"}\"")
    sb.append('\n')
  }

  /** Write `rows` (device-day, row index) as one CSV file with header;
    * returns its size in bytes. */
  def writeCsv(file: File, rows: Iterator[(DayData, Int)]): Long = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    val sb = new java.lang.StringBuilder(256)
    try {
      w.write(header); w.write('\n')
      rows.foreach { case (d, i) => sb.setLength(0); appendRow(sb, d, i); w.append(sb) }
    } finally w.close()
    file.length()
  }
}
