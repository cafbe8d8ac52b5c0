package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** S2-S8 — file readers + extension dispatch + the datetime normalization
  * cast, mirroring `/root/reference/supercourier_etl/sources/readers.py` and
  * `core/extract.py:16-22,57-80`. All readers return a plain DataFrame; the
  * schema contract is enforced downstream exactly like the reference
  * (column references fail at analysis, not read, time).
  */
object Readers {

  /** S2 (`sources/readers.py:30-33`): header + inferred schema. */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S3 (`sources/readers.py:35-38`): the reference reads a whole-file JSON
    * array; Spark's default JSON is NDJSON, so try multiLine first and fall
    * back so both layouts (and our own W2 NDJSON output) round-trip.
    */
  def json(spark: SparkSession, path: String): DataFrame = {
    // Sniff the first non-whitespace byte (one 256-byte driver-side
    // read of one file) instead of fully parsing the data twice: '['
    // means a whole-file JSON array (the reference layout → multiLine),
    // anything else NDJSON (Spark's native layout, and our W2 output).
    // On any sniff hiccup (glob paths, empty dir) fall back to the old
    // parse-then-retry probe.
    val arraySniff: Option[Boolean] =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val st = fs.getFileStatus(p)
        val file =
          if (st.isFile) Some(p)
          else fs.listStatus(p).iterator
            .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
              && !s.getPath.getName.startsWith("."))
            .map(_.getPath).toSeq.sortBy(_.getName).headOption
        // an all-whitespace (or empty) sample proves nothing — return
        // None so it falls through to the parse-then-retry probe, not
        // Some(false) (which would mis-read a whitespace-padded array
        // file as NDJSON and yield _corrupt_record rows)
        file.flatMap { f =>
          val in = fs.open(f)
          try {
            val buf = new Array[Byte](256)
            val n = in.read(buf)
            (0 until math.max(n, 0)).iterator.map(buf(_).toChar)
              .find(c => !c.isWhitespace).map(_ == '[')
          } finally in.close()
        }
      } catch { case _: Exception => None }

    arraySniff match {
      case Some(true)  => spark.read.option("multiLine", "true").json(path)
      case Some(false) => spark.read.json(path)
      case None =>
        val ndjson = spark.read.json(path)
        if (ndjson.columns.contains("_corrupt_record") || ndjson.columns.isEmpty)
          spark.read.option("multiLine", "true").json(path)
        else ndjson
    }
  }

  /** S4 (`sources/readers.py:40-43`). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S4b (extension; pairs with [[Writers.orc]]): ORC scan — vectorized,
    * filter-pushdown-capable, same as the parquet path.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S4c (extension; pairs with [[Writers.text]]): line-oriented text —
    * one row per line in a single `value` string column. The on-ramp
    * for raw corpora (one doc/record per line) before any schema is
    * imposed; splittable and distributed like every other file source.
    */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Extension (multimodal ingestion): raw files as rows —
    * (path, modificationTime, length, content binary) via Spark's
    * `binaryFile` source. This is the on-ramp for image/audio/video
    * payloads into the `Multimodal` operators: distributed file
    * listing + pruning by `pathGlobFilter`, content never touches the
    * driver. `maxBytesPerFile` guards a single huge file from pinning
    * one task's memory.
    */
  def binaryFiles(spark: SparkSession, path: String,
      glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** S5 (`sources/readers.py:45-50`): `SELECT * FROM deliveries` over a
    * local DB. The environment ships no sqlite-jdbc jar, so the same JDBC
    * path is exercised against embedded Derby (`jdbc:derby:<path>`); a
    * sqlite URL works unchanged once its driver jar is on the classpath.
    */
  def jdbc(spark: SparkSession, url: String, table: String = "deliveries"): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table).load()

  /** S6 (`sources/readers.py:52-55`): dependency-free OOXML reader —
    * see [[Xlsx]] (no POI offline, so the zip-of-XML is parsed directly).
    */
  def xlsx(spark: SparkSession, path: String): DataFrame =
    Xlsx.read(spark, path)

  /** S7 (`core/extract.py:16-22,57-72`): extension dispatch; unknown
    * extension → IllegalArgumentException, missing file surfaces as
    * AnalysisException like the reference's FileNotFoundError.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    ext match {
      case "csv"            => csv(spark, path)
      case "json"           => json(spark, path)
      case "parquet"        => parquet(spark, path)
      case "orc"            => orc(spark, path)
      case "txt" | "text"   => text(spark, path)
      case "db" | "sqlite"  => jdbc(spark, s"jdbc:sqlite:$path")
      case "xlsx"           => xlsx(spark, path)
      case other =>
        throw new IllegalArgumentException(s"Unsupported source format: .$other ($path)")
    }
  }

  /** S8 (`core/extract.py:77-80`): the normalization cast applied after
    * every extract path — makes CSV (string timestamps) and Parquet (native
    * timestamps) sources equivalent. A `long` timestamp column is rejected:
    * under `nanosAsLong` a TIMESTAMP(NANOS) parquet reads as epoch
    * nanoseconds, which the cast would take for seconds.
    */
  def normalizeTimestamps(df: DataFrame): DataFrame =
    Seq("Pickup_DateTime", "Delivery_Timestamp").foldLeft(df) { (d, c) =>
      if (!d.columns.contains(c)) d
      else if (d.schema(c).dataType == LongType)
        throw new IllegalArgumentException(
          s"$c is a long column (epoch units unknown); supply a timestamp or string")
      else d.withColumn(c, col(c).cast(TimestampType))
    }
}
