package graft.etl

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Integration test porting the reference's `tests/test_pipeline.py`:
  * 1-row CSV through the full pipeline → (1, 13) artifact + manifest;
  * plus the concurrent sink fan-out of [[Load.load]]: failure surfacing,
  * cache and thread clean-up, and up-front format validation.
  */
class PipelineSpec extends SparkSpec {

  private def withTempDir[T](f: String => T): T = {
    val dir = Files.createTempDirectory("graft_pipeline").toString
    try f(dir)
    finally {
      def rm(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles().foreach(rm)
        p.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  private val fixtureCsv =
    """Delivery_ID,Pickup_DateTime,Delivery_Timestamp,Package_Type,Distance,Delivery_Zone
      |SC001,2025-09-05T10:00:00,2025-09-05T10:45:00,Small,5.0,Suburban
      |""".stripMargin

  test("1-row CSV end-to-end: csv output + manifest, shape (1, 13)") {
    withTempDir { dir =>
      val src = s"$dir/input.csv"
      Files.writeString(Paths.get(src), fixtureCsv)
      val config = PipelineConfig(
        SourceConfig.File(src), OutputConfig(s"$dir/out/results", "csv"))
      val (secs, res) = new Pipeline(spark, config,
        weather = WeatherSource.Disabled).run()
      assert(secs > 0)
      assert(res.rows == 1)
      assert(res.columns.length == 13)
      assert(res.columns.contains("Status"))
      assert(Files.exists(Paths.get(s"$dir/out/results.csv")))
      val manifest = Files.readString(Paths.get(s"$dir/out/results_manifest.json"))
      assert(manifest.contains(""""rows": 1"""))
      assert(manifest.contains(""""columns": 13"""))

      // the written CSV re-reads with 13 columns and 1 row
      val back = spark.read.option("header", "true").csv(s"$dir/out/results.csv")
      assert(back.columns.length == 13 && back.count() == 1)
    }
  }

  test("multi-format fan-out writes every format + one manifest") {
    withTempDir { dir =>
      val config = PipelineConfig(
        SourceConfig.Generate(rows = 200, seed = 7L),
        OutputConfig(s"$dir/res", "all"))
      val (_, res) = new Pipeline(spark, config).run()
      assert(res.rows == 200)
      Seq("res.csv", "res.json", "res.parquet", "res.xlsx", "res").foreach { p =>
        assert(Files.exists(Paths.get(s"$dir/$p")), p)
      }
      // the concurrent sinks read one cached frame: csv and json must hold
      // the SAME seeded data (SURVEY §4.2 top pitfall)
      val csvIds = spark.read.option("header", "true").csv(s"$dir/res.csv")
        .select("Delivery_ID").collect().map(_.getString(0)).toSet
      val jsonIds = spark.read.json(s"$dir/res.json")
        .select("Delivery_ID").collect().map(_.getString(0)).toSet
      assert(csvIds == jsonIds && csvIds.size == 200)
      val derby = s"jdbc:derby:$dir/res"
      assert(spark.read.jdbc(derby, "deliveries", new java.util.Properties).count() == 200)
      // a clean shutdown reports itself as SQLException 08006
      scala.util.Try(java.sql.DriverManager.getConnection(s"$derby;shutdown=true"))
    }
  }

  test("a blank Pickup_DateTime flows through with null weather") {
    withTempDir { dir =>
      val src = s"$dir/input.csv"
      Files.writeString(Paths.get(src), fixtureCsv +
        "SC002,,2025-09-05T11:45:00,Medium,3.0,Urban\n")
      val config = PipelineConfig(
        SourceConfig.File(src), OutputConfig(s"$dir/out/results", "csv"))
      val (_, res) = new Pipeline(spark, config).run()
      assert(res.rows == 2)
      val back = spark.read.option("header", "true").csv(s"$dir/out/results.csv")
        .select("Delivery_ID", "Weather_Condition").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(back.keySet == Set("SC001", "SC002"))
      assert(back("SC001").isDefined && back("SC002").isEmpty)
    }
  }

  private def frame = Generator.deliveries(spark, 100, 11L)

  test("transform short-circuits a 0-row input: same frame, 6 columns") {
    val empty = frame.limit(0)
    val config = PipelineConfig(SourceConfig.Generate(0), OutputConfig("unused", "csv"))
    val out = new Pipeline(spark, config).transform(empty)
    assert(out eq empty)
    assert(out.columns.length == 6)
  }

  private def sinkThreads: Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith(Load.SinkThreadPrefix))
  }

  test("a failing sink surfaces its exception; cache and sink threads are released") {
    withTempDir { dir =>
      val cachedBefore = spark.sparkContext.getPersistentRDDs.size
      val config = PipelineConfig(
        SourceConfig.Generate(100, 11L), OutputConfig(s"$dir/res", "csv,json,sqlite"))
      val e = intercept[java.sql.SQLException] {
        Load.load(frame, config, jdbcUrlFor = _ => "jdbc:graft-no-such-driver:nowhere")
      }
      assert(e.getMessage.contains("No suitable driver"), e.getMessage)
      // the other sinks ran to completion beside the failing one
      assert(Files.exists(Paths.get(s"$dir/res.csv/_SUCCESS")))
      assert(Files.exists(Paths.get(s"$dir/res.json/_SUCCESS")))
      assert(!Files.exists(Paths.get(s"$dir/res_manifest.json")))
      assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore)
      // the pool has terminated; its threads only have to finish exiting
      sinkThreads.foreach(_.join(10000))
      assert(sinkThreads.isEmpty, sinkThreads.map(_.getName))
    }
  }

  test("resolveFormats: all, all_but_xlsx, lists and the db alias") {
    assert(Load.resolveFormats("all") == Load.AllFormats)
    assert(Load.resolveFormats("all_but_xlsx") == Load.AllFormats.filterNot(_ == "xlsx"))
    assert(Load.resolveFormats("csv, db,csv") == Seq("csv", "sqlite"))
  }

  test("an unsupported format is rejected before any file is written") {
    withTempDir { dir =>
      val config = PipelineConfig(
        SourceConfig.Generate(100, 11L), OutputConfig(s"$dir/res", "csv,bogus"))
      val e = intercept[IllegalArgumentException](Load.load(frame, config))
      assert(e.getMessage.contains("bogus"))
      assert(new java.io.File(dir).list().isEmpty)
    }
  }
}
