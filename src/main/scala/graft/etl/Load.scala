package graft.etl

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.sources.Writers
import graft.util.Json

/** W6-W8 — multi-format fan-out + manifest, mirroring
  * `/root/reference/supercourier_etl/core/load.py:33-119`.
  */
object Load {

  val AllFormats: Seq[String] = Seq("csv", "json", "parquet", "sqlite", "xlsx")

  /** Name prefix of the fan-out sink threads. */
  private[etl] val SinkThreadPrefix = "graft-load-sink-"

  /** Resolve the reference's format choices (`core/load.py:79-94`), plus
    * two liberties the reference's own web form needs: `db` is accepted
    * as an alias of `sqlite` (the reference UI posts `db`,
    * `templates/index.html` format selector), and a comma-separated
    * list (`"csv,json"`) writes exactly the named formats — the
    * reference silently coerced any multi-select to `all_but_xlsx`.
    */
  def resolveFormats(format: String): Seq[String] = format match {
    case "all"          => AllFormats
    case "all_but_xlsx" => AllFormats.filterNot(_ == "xlsx")
    case other =>
      other.split(",").toSeq.map(_.trim).filter(_.nonEmpty).distinct
        .map { case "db" => "sqlite"; case f => f }
  }

  final case class LoadResult(rows: Long, columns: Seq[String], manifestPath: Option[String])

  /** Write `df` to every resolved format + the run manifest.
    *
    * The reference re-uses one materialized in-memory frame across sinks;
    * Spark re-executes the plan per action, so a multi-format frame is
    * persisted before the fan-out (top correctness pitfall with any
    * nondeterministic source — SURVEY §4.2) and the manifest `count()`
    * fills that cache before any sink reads it. MEMORY_AND_DISK: at
    * cluster scale the fan-out input may exceed memory; spilling beats
    * recompute.
    *
    * The sinks then run concurrently, one thread each: a single-file
    * write, the embedded-DB insert and the driver-side xlsx are each one
    * task or one thread, so running them in turn leaves the other cores
    * idle. Every sink writes its own path, and the threads inherit the
    * caller's local properties (job group, scheduler pool). All sinks are
    * waited for and the first failure, in format order, is rethrown with
    * the rest suppressed — so when one sink fails the others may still
    * have finished, whereas the reference stopped at the first failure.
    * Unsupported formats are rejected before anything is written. A
    * single format takes the same path on a one-thread pool, with no
    * cache.
    */
  def load(
      df: DataFrame,
      config: PipelineConfig,
      singleFile: Boolean = true,
      jdbcUrlFor: String => String = p => s"jdbc:derby:$p;create=true",
      now: () => Instant = () => Instant.now()): LoadResult = {
    val out = config.output
    val formats = resolveFormats(out.format)

    if (formats == Seq("preview")) {
      Writers.preview(df)
      return LoadResult(df.count(), df.columns.toSeq, None)
    }

    val sinks: Seq[() => Unit] = formats.map {
      case "csv"     => () => Writers.csv(df, out.path + ".csv", singleFile)
      case "json"    => () => Writers.ndjson(df, out.path + ".json", singleFile)
      case "parquet" => () => Writers.parquet(df, out.path + ".parquet", singleFile)
      case "sqlite"  => () => Writers.jdbc(df, jdbcUrlFor(out.path))
      case "xlsx"    => () => Writers.xlsx(df, out.path + ".xlsx")
      case other =>
        throw new IllegalArgumentException(s"Unsupported output format: $other")
    }

    val fanOut = sinks.size > 1
    if (fanOut) df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = df.count()
      runConcurrently(sinks)
      val manifest = writeManifest(df, config, rows, now())
      LoadResult(rows, df.columns.toSeq, Some(manifest))
    } finally if (fanOut) { df.unpersist(); () }
  }

  /** Runs every sink on its own thread of a per-call pool and returns
    * once all have finished and the pool has terminated.
    */
  private def runConcurrently(sinks: Seq[() => Unit]): Unit = {
    val n = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(sinks.size, (r: Runnable) =>
      new Thread(r, SinkThreadPrefix + n.incrementAndGet()))
    try {
      val running = sinks.map(sink => pool.submit(new Callable[Unit] { def call(): Unit = sink() }))
      val failures = running.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      ()
    }
  }

  /** W8 (`core/load.py:96-119`): JSON run manifest, always written. */
  def writeManifest(
      df: DataFrame, config: PipelineConfig, rows: Long, ts: Instant): String = {
    val sourceJson = config.source match {
      case SourceConfig.Generate(n, seed) =>
        Map("type" -> "generate", "rows" -> n, "seed" -> seed)
      case SourceConfig.File(p) => Map("type" -> "file", "path" -> p)
    }
    val manifest = scala.collection.immutable.ListMap(
      "engine_version"    -> s"spark-${df.sparkSession.version}",
      "run_timestamp_utc" -> ts.toString,
      "source_config"     -> sourceJson,
      "output_config"     -> Map("path" -> config.output.path, "format" -> config.output.format),
      "dataset_shape"     -> Map("rows" -> rows, "columns" -> df.columns.length),
      "columns"           -> df.columns.toSeq)
    val path = config.output.path + "_manifest.json"
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, Json.render(manifest))
    path
  }
}
