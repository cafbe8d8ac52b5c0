package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden-value + branch tests for the transform chain, porting the
  * reference's `tests/test_transform.py` fixture exactly and covering
  * every risk in SURVEY §7.4.
  */
class TransformSpec extends SparkSpec {
  import spark.implicits._

  /** The reference golden fixture (`tests/test_transform.py:23-31`). */
  private def goldenRow: DataFrame =
    Seq((10.0, "Large", "Urban", 8, "Monday", "Light rain", 100.0))
      .toDF("Distance", "Package_Type", "Delivery_Zone", "Hour", "Weekday",
        "Weather_Condition", "Actual_Delivery_Time_Minutes")

  test("golden: Theoretical 128.04, On-time (38×1.5×1.2×1.3×1.2×1.2)") {
    val out = Transform.determineDelayStatus(goldenRow)
      .select("Theoretical_Time_Minutes", "Status").head()
    assert(out.getDouble(0) == 128.04)
    assert(out.getString(1) == "On-time")
  }

  test("factor lookup: unknown categories fall back to 1.0") {
    val df = Seq((10.0, "Gigantic", "Atlantis", 12, "Wednesday",
      null: String, 50.0))
      .toDF("Distance", "Package_Type", "Delivery_Zone", "Hour", "Weekday",
        "Weather_Condition", "Actual_Delivery_Time_Minutes")
    val out = Transform.determineDelayStatus(df)
      .select("Theoretical_Time_Minutes").head()
    assert(out.getDouble(0) == 38.0) // (30 + 8) × 1 × 1 × 1 × 1 × 1
  }

  test("weather regex: branch order and all classes") {
    val cases = Seq(
      ("Patchy light rain with fog", 1.2), // rain branch wins over fog
      ("HEAVY DRIZZLE", 1.2),              // (?i) case-insensitivity
      ("Blowing snow", 1.8),
      ("Blizzard", 1.8),
      ("Sleet showers", 1.8),
      ("Freezing fog", 1.1),
      ("Mist", 1.1),
      ("Sunny", 1.0),
      (null: String, 1.0))
    val df = cases.map(_._1).toDF("w")
      .select(Transform.weatherFactor(col("w")).as("f"))
    assert(df.as[Double].collect().toSeq == cases.map(_._2))
  }

  test("peak factor: closed bounds 7/9 and 17/19") {
    val expected = Map(6 -> 1.0, 7 -> 1.3, 9 -> 1.3, 10 -> 1.0,
      16 -> 1.0, 17 -> 1.4, 19 -> 1.4, 20 -> 1.0)
    val got = expected.keys.toSeq.sorted.toDF("h")
      .select(col("h"), Transform.peakFactor(col("h")).as("f"))
      .as[(Int, Double)].collect().toMap
    assert(got == expected.map { case (k, v) => (k, v) })
  }

  test("day factor across all 7 weekdays") {
    val expected = Map("Monday" -> 1.2, "Tuesday" -> 1.0, "Wednesday" -> 1.0,
      "Thursday" -> 1.0, "Friday" -> 1.2, "Saturday" -> 0.9, "Sunday" -> 0.9)
    val got = expected.keys.toSeq.toDF("d")
      .select(col("d"), Transform.dayFactor(col("d")).as("f"))
      .as[(String, Double)].collect().toMap
    assert(got == expected)
  }

  test("weekday names via date_format match ISO map (not dayofweek)") {
    // 2024-01-01 was a Monday; check the full week
    val df = (0 until 7)
      .map(i => Timestamp.valueOf(s"2024-01-0${i + 1} 10:00:00"))
      .toDF("Pickup_DateTime")
    val got = Transform.addTemporalFeatures(
      df.withColumn("Delivery_Timestamp", col("Pickup_DateTime")))
      .select("Weekday").as[String].collect().toSeq
    assert(got == Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
      "Saturday", "Sunday"))
  }

  test("MM.SS display: zero-padded seconds, not a decimal") {
    val cases = Seq(
      (2707L, "45.07"),  // SURVEY P6 example
      (3601L, "60.01"),  // >1h stays in minutes
      (2700L, "45.00"),
      (59L, "0.59"))
    val df = cases.map { case (secs, _) =>
      (Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(secs)))
    }.toDF("Pickup_DateTime", "Delivery_Timestamp")
    val got = Transform.calculateDuration(df)
      .select("Actual_Delivery_Time_Display").as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("status: strictly greater than 1.2× threshold") {
    // theoretical = 38.0 (all factors 1); boundary = 45.6 exactly
    def row(actual: Double) =
      Seq((10.0, "Small", "Suburban", 12, "Wednesday", null: String, actual))
        .toDF("Distance", "Package_Type", "Delivery_Zone", "Hour", "Weekday",
          "Weather_Condition", "Actual_Delivery_Time_Minutes")
    def status(actual: Double): String =
      Transform.determineDelayStatus(row(actual)).select("Status").head().getString(0)
    assert(status(45.6) == "On-time")  // equal → NOT delayed
    assert(status(45.61) == "Delayed")
  }

  test("null-weather path yields a typed nullable string column") {
    val df = Seq((Timestamp.valueOf("2024-01-01 08:00:00"),
      Timestamp.valueOf("2024-01-01 09:00:00"), 5.0, "Small", "Urban", "SC1"))
      .toDF("Pickup_DateTime", "Delivery_Timestamp", "Distance",
        "Package_Type", "Delivery_Zone", "Delivery_ID")
    val out = Transform.chain(None)(df)
    assert(out.schema("Weather_Condition").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(out.select("Weather_Condition").head().isNullAt(0))
    assert(out.columns.length == 13)
  }

  test("output keeps the reference column order for Stub and Disabled weather") {
    val input = Seq(("SC1", Timestamp.valueOf("2024-01-01 08:30:00"),
      Timestamp.valueOf("2024-01-01 09:00:00"), "Small", 5.0, "Urban"))
      .toDF("Delivery_ID", "Pickup_DateTime", "Delivery_Timestamp",
        "Package_Type", "Distance", "Delivery_Zone")
    val reference = Seq(
      "Delivery_ID", "Pickup_DateTime", "Delivery_Timestamp", "Package_Type",
      "Distance", "Delivery_Zone", "Hour", "Weekday", "Weather_Condition",
      "Actual_Delivery_Time_Minutes", "Actual_Delivery_Time_Display",
      "Theoretical_Time_Minutes", "Status")
    val day = Seq(java.time.LocalDate.of(2024, 1, 1))
    Seq(new WeatherSource.Stub(), WeatherSource.Disabled).foreach { source =>
      val weather = WeatherSource.toDF(spark, source, day)
      val out = Transform.chain(weather)(input)
      assert(out.columns.toSeq == reference, source)
      // re-ingesting the 13-column output keeps the order too
      assert(Transform.chain(weather)(out).columns.toSeq == reference, source)
    }
  }

  test("weather join: matched, unmatched and empty-input paths") {
    val df = Seq(
      ("SC1", Timestamp.valueOf("2024-01-01 08:30:00"), Timestamp.valueOf("2024-01-01 09:00:00")),
      ("SC2", Timestamp.valueOf("2024-01-01 11:30:00"), Timestamp.valueOf("2024-01-01 12:00:00")))
      .toDF("Delivery_ID", "Pickup_DateTime", "Delivery_Timestamp")
      .withColumn("Distance", lit(5.0))
      .withColumn("Package_Type", lit("Small"))
      .withColumn("Delivery_Zone", lit("Urban"))
    val weather = Seq((java.sql.Date.valueOf("2024-01-01"), 8, "Light rain"))
      .toDF("date", "Hour", "Weather_Condition")
    val out = Transform.chain(Some(weather))(df)
      .select("Delivery_ID", "Weather_Condition").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out == Map("SC1" -> Some("Light rain"), "SC2" -> None))

    val empty = Transform.chain(Some(weather))(df.limit(0))
    assert(empty.isEmpty)
  }
}
