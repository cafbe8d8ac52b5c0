package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.{DriverManager, SQLException}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl._
import graft.util.Json

/** The benchmark's JVM side. It sets up, runs one workload in a closed
  * loop (one client, one operation in flight) for the requested seconds,
  * and writes a raw JSON record that `run.py` checks and summarises.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <out.json>`,
  * started in an empty working directory that receives every file the
  * run writes.
  */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, out) = argv
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val work = Paths.get("").toAbsolutePath
    val w: Workload = workload match {
      case "etl_generate_all" => new EtlWorkload(work, seed, csvRows = 0L)
      case "etl_csv_parquet"  => new EtlWorkload(work, seed, csvRows = CsvRows)
      case "queries_mix"      => new QueryWorkload(work, seed)
      case other              => sys.error(s"unknown workload $other")
    }

    // Set-up is timed several times, each a fresh session plus warm-up
    // plus input generation; the median is the set-up metric.
    var spark: SparkSession = null
    val rounds = (1 to SetupRounds).map { round =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = w.session()
      val session = (System.nanoTime() - t0) / 1e9
      w.setup(spark, round)
      ((System.nanoTime() - t0) / 1e9, session)
    }

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val result = w.measure(spark, seconds, tracer)
    tracer.foreach(t => Files.writeString(work.resolve("spans.json"), t.json))

    val record = ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "setup_s" -> rounds.map(_._1), "setup_session_s" -> rounds.map(_._2)) ++
      result ++ ListMap("peak_rss_mb" -> peakRssMb())
    spark.stop()
    Files.writeString(Paths.get(out), Json.render(record))
  }

  val SetupRounds = 3
  /** Input rows per pipeline run; sized so one run does enough work to
    * measure and a closed loop still fits several runs in a few seconds. */
  val GenerateRows = 20000L
  val CsvRows = 200000L
  /** Untimed pipeline runs between set-up and timing, on top of the
    * set-up warm-ups: the JIT keeps speeding the pipeline up over its
    * first few runs. */
  val WarmOps = 1

  /** Resident-set high-water mark of this JVM, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray(new Array[String](0))
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def baseSession(): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}

trait Workload {
  def session(): SparkSession
  def setup(spark: SparkSession, round: Int): Unit
  def measure(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): ListMap[String, Any]
}

/** `Pipeline.run` as `Cli` and `WebApi` call it: the Stub weather source
  * and the default `singleFile`. `csvRows = 0` generates the input in the
  * pipeline (format `all`); otherwise the pipeline reads a CSV the
  * benchmark wrote and writes `parquet` only.
  */
final class EtlWorkload(work: Path, seed: Long, csvRows: Long) extends Workload {
  import Main._

  private val format = if (csvRows == 0) "all" else "parquet"
  private var csv: Option[Path] = None
  private var sourceBytes = 0L

  def session(): SparkSession = baseSession().getOrCreate()

  private def config(out: Path): PipelineConfig = PipelineConfig(
    csv.map(p => SourceConfig.File(p.toString): SourceConfig)
      .getOrElse(SourceConfig.Generate(GenerateRows, seed)),
    OutputConfig(out.resolve("results").toString, format))

  def setup(spark: SparkSession, round: Int): Unit = {
    if (csvRows > 0) {
      csv.foreach(p => Inputs.deleteTree(p.getParent))
      val file = Inputs.deliveriesCsv(spark, csvRows, seed,
        Files.createDirectories(work.resolve(s"input-$round")))
      csv = Some(file)
      sourceBytes = Files.size(file)
    }
    // warm-up: one full-size run; the JIT state it leaves survives the
    // session restarts of later rounds
    val warm = work.resolve(s"warmup-$round")
    new Pipeline(spark, config(warm), new WeatherSource.Stub()).run()
    closeDerby(warm)
    Inputs.deleteTree(warm)
  }

  /** Shuts the run's embedded Derby database down and returns its row
    * count, or -1 when the format has no Derby sink. */
  private def closeDerby(out: Path): Long =
    if (!Load.resolveFormats(format).contains("sqlite")) -1L
    else {
      val url = s"jdbc:derby:${out.resolve("results")}"
      val c = DriverManager.getConnection(url)
      val n = try {
        val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM deliveries")
        rs.next(); rs.getLong(1)
      } finally c.close()
      try DriverManager.getConnection(url + ";shutdown=true")
      catch { case e: SQLException if e.getSQLState == "08006" => () }
      n
    }

  /** Weather source that times the Stub it wraps. */
  private final class TimedWeather(t: Tracer) extends WeatherSource {
    private val stub = new WeatherSource.Stub()
    var dates = 0
    def hourly(ds: Seq[java.time.LocalDate]): Seq[WeatherRow] = t.span("weather") {
      dates = ds.size
      stub.hourly(ds)
    }
  }

  def measure(spark: SparkSession, seconds: Double,
      tracer: Option[Tracer]): ListMap[String, Any] = {
    val ops = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var t0 = System.nanoTime()
    var i = 0
    // the first WarmOps runs are untimed full-size warm-ups (checked like
    // the others); the timed runs of a traced run alternate untraced and
    // traced, so the difference between the two is the tracing overhead
    def timed = i - WarmOps
    while (timed < 3 || (System.nanoTime() - t0) / 1e9 < seconds ||
        (tracer.nonEmpty && timed % 2 == 1)) {
      if (timed == 0) t0 = System.nanoTime()
      val dir = work.resolve(s"runs/r$i")
      val cfg = config(dir)
      val withTrace = tracer.filter(_ => timed >= 0 && timed % 2 == 1)
      val start = System.nanoTime()
      val err = try {
        withTrace match {
          case None => new Pipeline(spark, cfg, new WeatherSource.Stub()).run()
          case Some(t) =>
            t.start()
            val weather = new TimedWeather(t)
            val p = new Pipeline(spark, cfg, weather)
            try t.span("pipeline") {
              val df = t.span("extract")(p.extract())
              val enriched = t.span("transform")(p.transform(df))
              t.span("load")(Load.load(enriched, cfg))
            } finally t.stop()
            layers += etlLayers(t, weather.dates)
        }
        None
      } catch { case e: Throwable => Some(e.toString) }
      val wall = withTrace.fold((System.nanoTime() - start) / 1e9)(_.lastSpan("pipeline").dur)
      val derbyRows = try closeDerby(dir) catch { case _: Throwable => -2L }
      ops += ListMap("wall_s" -> wall, "warm" -> (timed < 0), "traced" -> withTrace.nonEmpty,
        "error" -> err.orNull, "dir" -> dir.toString, "derby_rows" -> derbyRows)
      i += 1
    }
    val layerMedians = if (layers.isEmpty) Map.empty[String, Double]
      else layers.flatMap(_.keys).distinct.map(k => k -> median(layers.map(_(k)).toSeq)).toMap
    ListMap("ops" -> ops.toSeq, "layers" -> layerMedians,
      "input_rows" -> (if (csvRows > 0) csvRows else GenerateRows))
  }

  private def etlLayers(t: Tracer, weatherDates: Int): Map[String, Double] = {
    val pipeline = t.lastSpan("pipeline")
    val wall = pipeline.dur
    val all = t.totals(pipeline.id)
    val stage = Seq("extract", "transform", "load").map { n =>
      val s = t.children(pipeline.id).find(_.name == n).get
      n -> (s, t.totals(s.id))
    }.toMap
    val (load, loadC) = stage("load")
    val sinks = t.children(load.id)
    def sink(label: String): Double = sinks.filter(_.name == label).map(_.dur).sum
    val weather = t.descendants(stage("transform")._1.id).filter(_.name == "weather")
    Map(
      "etl.extract_s" -> stage("extract")._1.dur,
      "etl.extract_jobs" -> stage("extract")._2.jobs.toDouble,
      "etl.transform_s" -> stage("transform")._1.dur,
      "etl.transform_jobs" -> stage("transform")._2.jobs.toDouble,
      "etl.load_s" -> load.dur,
      "etl.load_self_s" -> t.selfTime(load),
      "etl.load_jobs" -> loadC.jobs.toDouble,
      "etl.weather_s" -> weather.map(_.dur).sum,
      "etl.weather_dates" -> weatherDates.toDouble,
      "etl.busy_frac" -> all.taskNs / 1e9 / (wall * cores),
      "etl.input_read_ratio" ->
        (if (sourceBytes > 0) all.input.toDouble / sourceBytes else 0.0),
      "etl.spill_mb" -> all.spill / 1e6,
      "sources.count_s" -> sink("count"),
      "sources.csv_s" -> sink("csv"),
      "sources.json_s" -> sink("json"),
      "sources.parquet_s" -> sink("parquet"),
      "sources.sqlite_s" -> sink("sqlite"),
      "sources.xlsx_s" -> sink("toLocalIterator"),
      "trace.wall_s" -> wall)
  }
}

/** A pinned mix of registered queries over tables the benchmark
  * generates, each driven to its last row through the `noop` sink with
  * `graft.Bench`'s session profile and block sweep between queries. The
  * seed permutes the run order.
  */
final class QueryWorkload(work: Path, seed: Long) extends Workload {
  import Main._
  import QueryWorkload._

  private var dir: Path = _
  private lazy val registry = SparkEntry.queries

  def session(): SparkSession = baseSession()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()

  def setup(spark: SparkSession, round: Int): Unit = {
    if (dir != null) Inputs.deleteTree(dir)
    dir = work.resolve(s"tables-$round")
    Inputs.tables(spark, TableSeed, dir)
  }

  private def drive(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Frees cached frames and every persisted RDD, as `graft.Bench` does. */
  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def measure(spark: SparkSession, seconds: Double,
      tracer: Option[Tracer]): ListMap[String, Any] = {
    val order = new Random(seed).shuffle(Pinned)
    val checkDir = work.resolve("check")
    Files.createDirectories(checkDir)
    Files.writeString(checkDir.resolve("oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter { case (k, _) => Pinned.contains(k) }))
    val ops = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    // Pass 0 is untimed: it lets JIT, code generation and the query
    // families' shared inputs settle, whatever the order, and writes each
    // result for the output check.
    val w0 = System.nanoTime()
    order.foreach(name => ops += run(spark, name, 0, Some(checkDir.resolve(name)), None))
    val warmPass = (System.nanoTime() - w0) / 1e9
    val t0 = System.nanoTime()
    var pass = 1
    while (pass == 1 || (System.nanoTime() - t0) / 1e9 < seconds) {
      order.zipWithIndex.foreach { case (name, i) =>
        tracer match {
          case None => (1 to reps(name)).foreach(_ => ops += run(spark, name, pass, None, None))
          case Some(t) =>
            // both orders occur, so neither side always runs second
            if (i % 2 == 0) ops += run(spark, name, pass, None, None)
            val traced = run(spark, name, pass, None, Some(t))
            ops += traced
            if (i % 2 == 1) ops += run(spark, name, pass, None, None)
            layerRows += queryLayers(t, name, traced)
        }
      }
      pass += 1
    }
    ListMap("ops" -> ops.toSeq, "passes" -> pass, "warm_pass_s" -> warmPass,
      "layers" -> (if (layerRows.isEmpty) Map.empty else summarise(layerRows.toSeq)),
      "tables_dir" -> dir.toString, "check_dir" -> checkDir.toString)
  }

  private def run(spark: SparkSession, name: String, pass: Int, check: Option[Path],
      tracer: Option[Tracer]): ListMap[String, Any] = {
    sweep(spark)
    val fn = registry(name)
    var build, exec = 0.0
    var df: DataFrame = null
    val err = try {
      tracer.foreach(_.start())
      try {
        def timed(span: String)(body: => Unit): Double = {
          val s = System.nanoTime()
          tracer match {
            case Some(t) => t.span(span)(body)
            case None    => body
          }
          (System.nanoTime() - s) / 1e9
        }
        def both(): Unit = {
          build = timed("build") { df = fn(spark, dir.toString) }
          exec = timed("exec")(drive(df))
        }
        tracer match {
          case Some(t) => t.span(s"query:$name")(both())
          case None    => both()
        }
      } finally tracer.foreach(_.stop())
      None
    } catch { case e: Throwable => Some(e.toString.take(300)) }
    val roundState = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val checkErr = (err, check) match {
      case (None, Some(p)) =>
        try { df.write.mode("overwrite").parquet(p.toString); None }
        catch { case e: Throwable => Some(e.toString.take(300)) }
      case _ => None
    }
    sweep(spark)
    ListMap("name" -> name, "pass" -> pass, "build_s" -> build, "exec_s" -> exec,
      "wall_s" -> (build + exec), "traced" -> tracer.nonEmpty, "error" -> err.orNull,
      "check_error" -> checkErr.orNull,
      "round_state_bytes" -> roundState, "persisted_rdds" -> persisted)
  }

  private def queryLayers(t: Tracer, name: String,
      op: ListMap[String, Any]): Map[String, Double] = {
    val q = t.lastSpan(s"query:$name")
    val c = t.totals(q.id)
    def ms(phase: String): Double = c.phaseMs(phase) / 1000.0
    Map(
      "queries.build_s" -> op("build_s").asInstanceOf[Double],
      "queries.exec_s" -> op("exec_s").asInstanceOf[Double],
      "plans.analysis_s" -> ms("analysis"),
      "plans.optimization_s" -> ms("optimization"),
      "plans.planning_s" -> ms("planning"),
      "operators.jobs" -> c.jobs.toDouble,
      "operators.stages" -> c.stages.toDouble,
      "operators.tasks" -> c.tasks.toDouble,
      "operators.shuffle_read_mb" -> c.shuffleRead / 1e6,
      "operators.shuffle_write_mb" -> c.shuffleWrite / 1e6,
      "operators.spill_mb" -> c.spill / 1e6,
      "operators.input_mb" -> c.input / 1e6,
      "operators.task_s" -> c.taskNs / 1e9,
      "operators.round_state_mb" -> op("round_state_bytes").asInstanceOf[Long] / 1e6,
      "operators.persisted_rdds" -> op("persisted_rdds").asInstanceOf[Int].toDouble,
      s"family.${family(name)}" -> q.dur,
      "trace.wall_s" -> q.dur)
  }

  /** Per-query rows → one pass: sums, plus the median job count and the
    * largest round state. */
  private def summarise(rows: Seq[Map[String, Double]]): Map[String, Double] = {
    def sum(k: String): Double = rows.map(_.getOrElse(k, 0.0)).sum
    val sums = Seq("queries.build_s", "queries.exec_s", "plans.analysis_s",
      "plans.optimization_s", "plans.planning_s", "operators.jobs", "operators.stages",
      "operators.tasks", "operators.shuffle_read_mb", "operators.shuffle_write_mb",
      "operators.spill_mb", "operators.input_mb", "operators.persisted_rdds")
      .map(k => k -> sum(k)).toMap
    val wall = sum("trace.wall_s")
    sums ++ Families.map(f => s"queries.family_s.$f" -> sum(s"family.$f")) ++ Map(
      "operators.jobs_per_query_p50" -> median(rows.map(_("operators.jobs"))),
      "operators.round_state_mb_max" -> rows.map(_("operators.round_state_mb")).max,
      "operators.busy_frac" -> sum("operators.task_s") / (wall * cores))
  }
}

object QueryWorkload {
  /** Fixed table contents; the workload seed only permutes the run order. */
  val TableSeed = 42L

  /** Round-loop queries, whose cost sets the suite's tail. s_dbscan,
    * s_graph_ann (5-10 s each on these tables) and q_entity_clusters did
    * not fit a run's time. */
  val RoundLoops: Seq[String] = Seq("g_kcore", "g_ktruss")

  /** The cheapest eight of every 24th name of the 433 registered queries
    * in sorted order; they set the median. Each is timed over three reps,
    * as `graft.Bench` does. */
  val Cheap: Seq[String] = Seq("etl_deliveries", "ev_croston", "io_partition_prune",
    "q_pivot", "q_shewhart_chart", "q_window_firstlast", "t_dedup_impact",
    "t_quality_filter")

  val Pinned: Seq[String] = RoundLoops ++ Cheap

  def reps(name: String): Int = if (Cheap.contains(name)) 3 else 1

  val Families: Seq[String] = Seq("g", "s", "d", "q", "t", "ev", "stream", "io", "etl", "m")

  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (p.matches("q\\d+")) "q" else p
  }
}
