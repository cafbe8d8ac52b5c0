package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Readers

/** O1 — Extract → Transform → Load orchestration, mirroring
  * `/root/reference/supercourier_etl/pipeline.py:21-63`. Pure
  * `DataFrame => DataFrame` composition via `Dataset.transform`; the Spark
  * UI/listeners replace the reference's rich progress bars.
  */
final class Pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    weather: WeatherSource = new WeatherSource.Stub(),
    singleFile: Boolean = true) {

  /** E-step (`core/extract.py:34-80`): generate or read, then the
    * normalization cast (S8).
    */
  def extract(): DataFrame = {
    val raw = config.source match {
      case SourceConfig.Generate(rows, seed) => Generator.deliveries(spark, rows, seed)
      case SourceConfig.File(path)           => Readers.read(spark, path)
    }
    Readers.normalizeTimestamps(raw)
  }

  /** T-step: distinct pickup dates (A2 — a deliberate driver-side
    * materialization; ≤ 31 rows for generated data, bounded by the date
    * range not the data volume) feed the weather source, whose table
    * broadcast-joins back (J1). The same collect decides emptiness — a
    * blank pickup still collects as one null-date row — so no separate
    * `isEmpty` job runs. Null dates request no weather; their rows get a
    * null `Weather_Condition` through the left join.
    */
  def transform(df: DataFrame): DataFrame = {
    val days = df.select(to_date(col("Pickup_DateTime"))).distinct().collect()
    if (days.isEmpty) df // the reference's empty short-circuit (`core/transform.py:44-45`)
    else {
      val dates = days.toSeq.flatMap(r => Option(r.getDate(0))).map(_.toLocalDate)
        .sorted(Ordering.by[LocalDate, Long](_.toEpochDay))
      Transform.chain(WeatherSource.toDF(spark, weather, dates))(df)
    }
  }

  /** Full run; returns (wall-clock seconds, load result) like the
    * reference's timed `Pipeline.run()` (`pipeline.py:23,58-63`).
    */
  def run(): (Double, Load.LoadResult) = {
    val t0 = System.nanoTime()
    val result = Load.load(transform(extract()), config, singleFile)
    ((System.nanoTime() - t0) / 1e9, result)
  }
}
