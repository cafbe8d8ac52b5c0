package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Transform stages of the delivery pipeline.
  *
  * Semantics mirror the reference's transformer
  * (`/root/reference/supercourier_etl/core/transform.py`, cited per member);
  * the implementation is idiomatic Spark SQL expressions — every stage is a
  * narrow, codegen'd projection, and the only join is a broadcast left join
  * against a tiny hourly weather table, so the whole chain is shuffle-free
  * and scales linearly with input partitions.
  */
object Transform {

  /** Package-type multipliers (`core/transform.py:148,151`). */
  val PackageFactors: Map[String, Double] = Map(
    "Small"       -> 1.0,
    "Medium"      -> 1.2,
    "Large"       -> 1.5,
    "Extra Large" -> 2.0,
    "Special"     -> 2.5)

  /** Delivery-zone multipliers (`core/transform.py:149,152`). */
  val ZoneFactors: Map[String, Double] = Map(
    "Urban"           -> 1.2,
    "Suburban"        -> 1.0,
    "Rural"           -> 1.3,
    "Industrial"      -> 0.9,
    "Shopping Center" -> 1.4)

  /** Round-half-up to 2 decimals as plain double arithmetic.
    *
    * Deterministic IEEE ops (mul, add, floor, div) give bit-identical
    * results in Spark and the DuckDB oracle, unlike engine-native ROUND
    * implementations whose tie-breaking differs. Positive inputs only,
    * which holds for every duration/price in this engine.
    */
  def round2(c: Column): Column = floor(c * 100 + 0.5).cast("long") / 100.0

  /** Dict lookup with default (`replace_strict(..., default=1.0)`,
    * `core/transform.py:148-152`): unknown categories fall back, never error.
    */
  def factorLookup(c: Column, m: Map[String, Double], default: Double): Column =
    coalesce(element_at(typedLit(m), c), lit(default))

  /** P1+P2 (`core/transform.py:130-142`): pickup hour and English weekday
    * name. `date_format(_, "EEEE")` yields the same names as the reference's
    * ISO-weekday dict map; Spark's `dayofweek()` (1=Sunday) is deliberately
    * avoided.
    */
  def addTemporalFeatures(df: DataFrame): DataFrame =
    df.withColumn("Hour", hour(col("Pickup_DateTime")))
      .withColumn("Weekday", date_format(col("Pickup_DateTime"), "EEEE"))

  /** J1 + P14 (`core/transform.py:94-114`): left join hourly weather on
    * (pickup date, Hour). `weather` must have columns
    * (date: date, Hour: int, Weather_Condition: string) and is tiny
    * (≤ 24 rows per distinct date) — broadcast explicitly so the plan stays
    * shuffle-free at any left-side scale. No weather → typed null column
    * (`core/transform.py:100-101`). Either way the input columns keep
    * their order and `Weather_Condition` lands right after `Weekday`
    * (the reference's column order, `core/transform.py:54-59`).
    */
  def enrichWithWeather(weather: Option[DataFrame])(df: DataFrame): DataFrame = {
    // drop-then-add = overwrite semantics (like the reference's
    // `with_columns`), so re-ingesting an already-enriched 13-column
    // output doesn't yield an ambiguous duplicate column.
    val base = df.drop("Weather_Condition")
    val joined = weather match {
      case None =>
        base.withColumn("Weather_Condition", lit(null).cast(StringType))
      case Some(w) =>
        // the USING join puts its keys first; the projection below
        // restores the input order
        base.withColumn("date", to_date(col("Pickup_DateTime")))
          .join(broadcast(w), Seq("date", "Hour"), "left")
    }
    val cols = base.columns.toSeq
    val at = cols.indexOf("Weekday") + 1
    val order =
      if (at > 0) cols.take(at) ++ ("Weather_Condition" +: cols.drop(at))
      else cols :+ "Weather_Condition"
    joined.select(order.map(col): _*)
  }

  /** P4-P6 (`core/transform.py:116-128`): duration in seconds → rounded
    * minutes + the `"MM.SS"` display string (minutes, a dot, zero-padded
    * seconds — NOT a decimal: 2707 s → "45.07").
    */
  def calculateDuration(df: DataFrame): DataFrame = {
    val secs = unix_timestamp(col("Delivery_Timestamp")) -
      unix_timestamp(col("Pickup_DateTime"))
    df.withColumn("Actual_Delivery_Time_Minutes", round2(secs / 60.0))
      .withColumn("Actual_Delivery_Time_Display",
        concat(
          floor(secs / 60.0).cast("long").cast("string"),
          lit("."),
          lpad((secs % 60).cast("string"), 2, "0")))
  }

  /** P9 (`core/transform.py:154-158`): both bounds closed. */
  def peakFactor(hour: Column): Column =
    when(hour.between(7, 9), 1.3)
      .when(hour.between(17, 19), 1.4)
      .otherwise(1.0)

  /** P10 (`core/transform.py:159-163`). */
  def dayFactor(weekday: Column): Column =
    when(weekday.isin("Monday", "Friday"), 1.2)
      .when(weekday.isin("Saturday", "Sunday"), 0.9)
      .otherwise(1.0)

  /** P11 (`core/transform.py:164-170`): branch order is load-bearing —
    * "Patchy light rain with fog" must take the rain branch. `rlike`
    * honours the inline `(?i)` flag identically (Java regex).
    */
  def weatherFactor(cond: Column): Column =
    when(cond.isNull, 1.0)
      .when(cond.rlike("(?i)rain|drizzle"), 1.2)
      .when(cond.rlike("(?i)snow|blizzard|sleet"), 1.8)
      .when(cond.rlike("(?i)fog|mist"), 1.1)
      .otherwise(1.0)

  /** P12 (`core/transform.py:172-176,188`): factor order matches the
    * reference exactly (package, zone, peak, day, weather) so the double
    * product is bit-reproducible.
    */
  def theoreticalMinutes(
      distance: Column, packageType: Column, zone: Column,
      hour: Column, weekday: Column, weatherCond: Column): Column =
    round2((lit(30.0) + distance * 0.8)
      * factorLookup(packageType, PackageFactors, 1.0)
      * factorLookup(zone, ZoneFactors, 1.0)
      * peakFactor(hour)
      * dayFactor(weekday)
      * weatherFactor(weatherCond))

  /** P7-P13 (`core/transform.py:144-194`): theoretical time + strict-`>`
    * delayed/on-time classification.
    */
  def determineDelayStatus(df: DataFrame): DataFrame =
    df.withColumn("Theoretical_Time_Minutes",
        theoreticalMinutes(
          col("Distance"), col("Package_Type"), col("Delivery_Zone"),
          col("Hour"), col("Weekday"), col("Weather_Condition")))
      .withColumn("Status",
        when(col("Actual_Delivery_Time_Minutes") >
               col("Theoretical_Time_Minutes") * 1.2, "Delayed")
          .otherwise("On-time"))

  /** O2 (`core/transform.py:47-60`): the fixed 4-stage chain, unchecked;
    * order is load-bearing (weather join needs Hour, status needs all
    * predecessors). The reference's empty-input short-circuit (O3) lives
    * in [[Pipeline.transform]], which learns emptiness from its date
    * collect at no extra job.
    */
  def chain(weather: Option[DataFrame])(df: DataFrame): DataFrame =
    df.transform(addTemporalFeatures)
      .transform(enrichWithWeather(weather))
      .transform(calculateDuration)
      .transform(determineDelayStatus)
}
