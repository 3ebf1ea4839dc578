package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.operators.FeatureEngineering

/** The two-pass window stack (`FeatureEngineering.withWindowFeatures`)
  * equals its five-pass reference twin ([[FeatureWindowTwin]]) exactly —
  * schema, nulls and the bits of every double — on all 9 derived columns.
  * Generated device-days cover null and duplicate timestamps, one-row
  * partitions, null speed / load / position, devices sharing a
  * `device_date`, and several device-days per shuffle partition. */
object FeatureWindowProperties extends Properties("graft.featureWindow") {
  import SparkTestSession._

  // every case runs two Spark jobs; device-days per case carry the
  // breadth, the case count only needs to cover the generator's shapes
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25).withWorkers(1)

  private val derived = Seq("altitude", "is_stationary", "time_delta",
    "load_weight_smoothed", "stationary_block_id", "altitude_rate_of_change",
    "speed_rolling_avg_5s", "load_weight_rate_of_change",
    "time_in_stationary_state")

  private val schema = StructType(Seq(
    StructField("row_id", IntegerType, nullable = false),
    StructField("device_date", StringType, nullable = false),
    StructField("device_id", StringType, nullable = false),
    StructField("timestamp", TimestampType),
    StructField("current_speed", DoubleType),
    StructField("load_weight", DoubleType),
    StructField("current_position", StructType(Seq(
      StructField("lon", DoubleType), StructField("lat", DoubleType),
      StructField("alt", DoubleType))))))

  private def orNull[A](g: Gen[A], nullPct: Int): Gen[Any] =
    Gen.frequency(nullPct -> Gen.const(null), (100 - nullPct) -> g)

  // offsets on a coarse ms grid so duplicates are common; speeds around
  // the 0.5 stationary threshold so blocks start and end often
  private val row: Gen[(Any, Any, Any, Any)] = for {
    ts <- orNull(Gen.chooseNum(0L, 40L).map(s =>
      new Timestamp(1722297600000L + s * 250L)), 8)
    speed <- orNull(Gen.oneOf(Gen.oneOf(0.0, 0.3, 0.5, 0.7, 5.0),
      Gen.chooseNum(0.0, 10.0)), 10)
    load <- orNull(Gen.chooseNum(-1000.0, 90000.0), 10)
    alt <- orNull(Gen.chooseNum(-50.0, 400.0), 10)
    pos <- orNull(Gen.const(Row(-97.83, 33.26, alt)), 10)
  } yield (ts, speed, load, pos)

  private val deviceDay: Gen[(String, String, List[(Any, Any, Any, Any)])] =
    for {
      dev <- Gen.oneOf("605-01", "605-02", "775g-01", "775g-02")
      day <- Gen.oneOf("2024-07-30", "2024-07-31")
      shared <- Gen.frequency(4 -> false, 1 -> true)
      n <- Gen.frequency(2 -> Gen.const(1), 5 -> Gen.chooseNum(2, 40))
      rows <- Gen.listOfN(n, row)
    } yield (if (shared) day else s"${dev}_$day", dev, rows)

  private val fleet = Gen.chooseNum(1, 10).flatMap(Gen.listOfN(_, deviceDay))

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  property("two-pass stack equals the five-pass twin exactly") =
    forAll(fleet) { days =>
      val rows = days.flatMap { case (dd, dev, rs) =>
        rs.map { case (ts, speed, load, pos) =>
          (dd, dev, ts, speed, load, pos) }
      }.zipWithIndex.map { case ((dd, dev, ts, speed, load, pos), i) =>
        Row(i, dd, dev, ts, speed, load, pos) }
      // one input partition: rows with equal timestamps reach every
      // window in input order, so ties resolve the same way in both plans
      val silver = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      def out(f: DataFrame => DataFrame) = {
        val df = f(silver)
        (df.schema, df.select("row_id", derived: _*).collect()
          .map(r => r.getInt(0) -> r.toSeq.tail.map(bits)).toMap)
      }
      val (twinSchema, twin) = out(FeatureWindowTwin.withWindowFeatures)
      val (schemaOut, got) = out(FeatureEngineering.withWindowFeatures)
      val diff = (got.keySet ++ twin.keySet).toSeq.sorted
        .filter(k => got.get(k) != twin.get(k)).take(3)
        .map(k => s"row $k: ${got.get(k)} vs twin ${twin.get(k)}")
      ((schemaOut == twinSchema) :|
        s"schema ${schemaOut.fields.mkString(", ")} vs twin " +
          twinSchema.fields.mkString(", ")) &&
        ((got == twin && got.size == rows.size) :| diff.mkString("\n"))
    }
}
