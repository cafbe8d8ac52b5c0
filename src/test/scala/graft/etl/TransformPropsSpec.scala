package graft.etl

import java.sql.Timestamp
import java.util.regex.Pattern

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** ScalaCheck properties over the transform core (SURVEY §5.3).
  *
  * The strongest check is differential: a scalar Scala reimplementation of
  * the factor formula (same IEEE op order) must agree bit-for-bit with the
  * Catalyst columnar evaluation on random rows — including unknown
  * categories (default fallback), null/arbitrary weather strings, and
  * boundary hours.
  */
class TransformPropsSpec extends SparkSpec {

  private val knownPackages = Transform.PackageFactors.keys.toSeq
  private val knownZones = Transform.ZoneFactors.keys.toSeq
  private val weekdayNames = Set("Monday", "Tuesday", "Wednesday", "Thursday",
    "Friday", "Saturday", "Sunday")

  private case class In(id: String, pickupSec: Long, offsetSec: Long,
      pkg: String, dist: Double, zone: String, cond: Option[String])

  private val genCond: Gen[Option[String]] = Gen.frequency(
    3 -> Gen.const(None),
    2 -> Gen.oneOf("Light rain", "Patchy light rain with fog", "Heavy snow",
      "Sleet", "Fog", "Mist", "Sunny", "Overcast", "DRIZZLE and thunder")
      .map(Some(_)),
    1 -> Gen.alphaNumStr.map(s => Some(s.take(20))))

  private val genIn: Gen[In] = for {
    id <- Gen.choose(1000, 999999).map(n => s"SC$n")
    // 2023-11-14T22:13:20Z .. ~2025-06; covers DST-free UTC arithmetic
    pickup <- Gen.choose(1700000000L, 1750000000L)
    offset <- Gen.frequency(
      6 -> Gen.choose(0L, 6 * 3600L),
      2 -> Gen.choose(0L, 120L),
      1 -> Gen.choose(-3600L, -1L)) // delivery before pickup: sign property
    pkg <- Gen.frequency(4 -> Gen.oneOf(knownPackages),
      1 -> Gen.const("Unknown-Package"))
    dist <- Gen.choose(1.0, 50.0).map(d => math.floor(d * 100) / 100)
    zone <- Gen.frequency(4 -> Gen.oneOf(knownZones),
      1 -> Gen.const("Moonbase"))
    cond <- genCond
  } yield In(id, pickup, offset, pkg, dist, zone, cond)

  /** Scalar twin of [[Transform.theoreticalMinutes]] — same op order. */
  private def scalarTheo(dist: Double, pkg: String, zone: String,
      hour: Int, weekday: String, cond: String): Double = {
    def find(rx: String, s: String) = Pattern.compile(rx).matcher(s).find()
    val wf =
      if (cond == null) 1.0
      else if (find("(?i)rain|drizzle", cond)) 1.2
      else if (find("(?i)snow|blizzard|sleet", cond)) 1.8
      else if (find("(?i)fog|mist", cond)) 1.1
      else 1.0
    val peak = if (hour >= 7 && hour <= 9) 1.3
      else if (hour >= 17 && hour <= 19) 1.4 else 1.0
    val day = if (weekday == "Monday" || weekday == "Friday") 1.2
      else if (weekday == "Saturday" || weekday == "Sunday") 0.9 else 1.0
    val x = (30.0 + dist * 0.8) *
      Transform.PackageFactors.getOrElse(pkg, 1.0) *
      Transform.ZoneFactors.getOrElse(zone, 1.0) * peak * day * wf
    math.floor(x * 100 + 0.5).toLong / 100.0
  }

  private def runPipeline(ins: List[In]): Array[Row] = {
    val schema = StructType(Seq(
      StructField("Delivery_ID", StringType),
      StructField("Pickup_DateTime", TimestampType),
      StructField("Delivery_Timestamp", TimestampType),
      StructField("Package_Type", StringType),
      StructField("Distance", DoubleType),
      StructField("Delivery_Zone", StringType)))
    val rows = ins.map(i => Row(i.id, new Timestamp(i.pickupSec * 1000),
      new Timestamp((i.pickupSec + i.offsetSec) * 1000), i.pkg, i.dist, i.zone))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    // weather table built from the generated conditions, keyed (date, Hour):
    // one condition per key (first in input order), exercising J1 + P14
    import org.apache.spark.sql.functions._
    val base = Transform.addTemporalFeatures(
      df.withColumn("date", to_date(col("Pickup_DateTime"))))
    val condOf = ins.map(i => i.id -> i.cond).toMap
    val wrows = Transform.addTemporalFeatures(df)
      .select(to_date(col("Pickup_DateTime")).as("date"), col("Hour"),
        col("Delivery_ID")).collect()
      .groupBy(r => (r.getDate(0), r.getInt(1)))
      .map { case ((d, h), rs) =>
        Row(d, h, condOf(rs.head.getString(2)).orNull)
      }.toSeq
    val wschema = StructType(Seq(StructField("date", DateType),
      StructField("Hour", IntegerType),
      StructField("Weather_Condition", StringType)))
    val weather =
      if (wrows.forall(_.get(2) == null)) None
      else Some(spark.createDataFrame(
        spark.sparkContext.parallelize(wrows, 1), wschema))
    Transform.chain(weather)(df)
      .select("Delivery_ID", "Hour", "Weekday", "Weather_Condition",
        "Actual_Delivery_Time_Minutes", "Actual_Delivery_Time_Display",
        "Theoretical_Time_Minutes", "Status", "Distance", "Package_Type",
        "Delivery_Zone")
      .collect()
  }

  test("transform invariants hold on random inputs (ScalaCheck)") {
    val prop = Prop.forAll(Gen.nonEmptyListOf(genIn).map(_.take(25))) { ins0 =>
      // one weather condition per (date, Hour) key — drop generated rows
      // whose key collides so each row's expected condition is its own
      val ins = ins0.groupBy(i => (i.pickupSec / 86400, (i.pickupSec % 86400) / 3600))
        .map(_._2.head).toList
      val byId = ins.map(i => i.id -> i).toMap
      val out = runPipeline(ins)
      val checks = out.flatMap { r =>
        val in = byId(r.getString(0))
        val (hour, weekday) = (r.getInt(1), r.getString(2))
        val cond = if (r.isNullAt(3)) null else r.getString(3)
        val minutes = r.getDouble(4)
        val display = r.getString(5)
        val theo = r.getDouble(6)
        val status = r.getString(7)
        val expTheo = scalarTheo(in.dist, in.pkg, in.zone, hour, weekday, cond)
        val sign =
          if (in.offsetSec > 0) minutes > 0
          else if (in.offsetSec == 0) minutes == 0
          else minutes < 0
        val roundTrip = in.offsetSec < 0 || {
          val dot = display.lastIndexOf('.')
          val (mm, ss) = (display.take(dot).toLong, display.drop(dot + 1))
          ss.length == 2 && ss.toLong < 60 &&
            mm * 60 + ss.toLong == in.offsetSec
        }
        Seq(
          Prop(hour == ((in.pickupSec % 86400) / 3600).toInt)
            :| s"hour $hour vs ${in.pickupSec}",
          Prop(weekdayNames.contains(weekday)) :| s"weekday $weekday",
          Prop(cond == in.cond.orNull) :| s"cond $cond vs ${in.cond}",
          Prop(sign) :| s"duration sign: offset=${in.offsetSec} min=$minutes",
          Prop(roundTrip) :| s"MM.SS round-trip: $display ${in.offsetSec}",
          Prop(theo == expTheo) :| s"theo $theo vs scalar $expTheo for $in",
          Prop(status == (if (minutes > theo * 1.2) "Delayed" else "On-time"))
            :| s"status $status min=$minutes theo=$theo",
          Prop {
            val base = 30.0 + in.dist * 0.8
            theo >= base * 0.81 - 0.01 && theo <= base * 10.584 + 0.01
          } :| s"theo envelope: $theo for dist=${in.dist}")
      }
      Prop.all(checks.toSeq: _*)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
