package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, TimestampNTZType}

/** The benchmark's own seeded input generators. They call no program
  * code: each cell is a keyed hash of (seed, row id, column stream), so
  * the same seed gives the same bytes whatever the partitioning.
  */
object Inputs {

  /** Uniform in [0, 1) for row `id` and stream `k`. */
  def u(seed: Long, k: Int, id: Column = col("id")): Column =
    (xxhash64(lit(seed), id, lit(k)).bitwiseAND(lit((1L << 53) - 1)).cast("double")
      / 9007199254740992.0)

  /** Inverse-CDF pick from `(value, probability)` pairs. */
  def pick(r: Column, items: Seq[(String, Double)]): Column = {
    val cum = items.scanLeft(0.0)(_ + _._2).tail
    items.init.zip(cum.init).foldRight(lit(items.last._1)) {
      case (((v, _), hi), acc) => when(r < hi, lit(v)).otherwise(acc)
    }
  }

  def uniformPick(r: Column, items: Seq[String]): Column =
    pick(r, items.map(_ -> 1.0 / items.size))

  /** Reference distributions of the delivery generator (SURVEY S1). */
  val PackageTypes = Seq("Small" -> 0.40, "Medium" -> 0.30, "Large" -> 0.15,
    "Extra Large" -> 0.10, "Special" -> 0.05)
  val Zones = Seq("Urban" -> 0.35, "Suburban" -> 0.25, "Rural" -> 0.20,
    "Industrial" -> 0.10, "Shopping Center" -> 0.10)
  /** Share of rows whose category is outside the factor tables, so the
    * transform's default factor of 1.0 is exercised. */
  val UnknownShare = 0.01

  /** Writes `rows` deliveries as one CSV file with a header under `dir`
    * and returns the file. Pickup is uniform over the 30 days before
    * 2025-09-26, delivery follows after 20..359 whole minutes, distance is
    * uniform in [1, 50) at 2 dp, ids are `SC<1000+i>`.
    */
  def deliveriesCsv(spark: SparkSession, rows: Long, seed: Long, dir: Path): Path = {
    val anchor = 1758844800L // 2025-09-26T00:00:00Z
    val window = 30L * 24 * 3600
    val pickup = lit(anchor - window) + floor(u(seed, 0) * window).cast("long")
    val dur = (lit(20L) + floor(u(seed, 1) * 340).cast("long")) * 60
    val iso = "yyyy-MM-dd'T'HH:mm:ss"
    val df = spark.range(0, rows, 1, spark.sparkContext.defaultParallelism).select(
      concat(lit("SC"), (col("id") + 1000).cast("string")).as("Delivery_ID"),
      date_format(timestamp_seconds(pickup), iso).as("Pickup_DateTime"),
      date_format(timestamp_seconds(pickup + dur), iso).as("Delivery_Timestamp"),
      when(u(seed, 5) < UnknownShare, lit("Oversize"))
        .otherwise(pick(u(seed, 2), PackageTypes)).as("Package_Type"),
      (floor((lit(1.0) + u(seed, 3) * 49.0) * 100 + 0.5) / 100.0).as("Distance"),
      when(u(seed, 6) < UnknownShare, lit("Harbour"))
        .otherwise(pick(u(seed, 4), Zones)).as("Delivery_Zone"))
    singleFile(df.coalesce(1).write.option("header", "true"), "csv",
      dir.resolve("deliveries.csv"))
  }

  /** Writes `df` as exactly one file at `target` (Spark writes a directory
    * of parts; the query oracle reads `<table>.parquet` as one file).
    */
  private def singleFile(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      format: String, target: Path): Path = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".parts")
    w.mode("overwrite").format(format).save(tmp.toString)
    val parts = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    require(parts.length == 1, s"expected one part file in $tmp, found ${parts.length}")
    Files.move(parts.head, target)
    deleteTree(tmp)
    target
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  private def ntz(c: Column): Column = c.cast(TimestampNTZType)
  private def days(from: String, n: Column): Column =
    ntz(timestamp_seconds(unix_timestamp(lit(from), "yyyy-MM-dd") + n * 86400L))
  private def cents(c: Column): Column = floor(c * 100 + 0.5) / 100.0

  private val Vocabulary: Seq[String] = Seq("a", "the", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "value", "vector", "window")

  /** The ten tables the registered queries read, at the shape of the
    * TPC-H-like test data at scale 0.001 (orders 1500, lineitem 6000,
    * events 1000, documents 500, embeddings 500), one parquet file each.
    * Timestamps are written without a time zone, like that test data.
    */
  def tables(spark: SparkSession, seed: Long, dir: Path): Unit = {
    def range(n: Long): DataFrame = spark.range(0, n, 1, 1).toDF()
    def write(name: String, df: DataFrame): Unit =
      singleFile(df.coalesce(1).write, "parquet", dir.resolve(s"$name.parquet"))
    def int(c: Column): Column = c.cast("int")
    def long(c: Column): Column = c.cast("long")
    Files.createDirectories(dir)

    write("region", range(5).select(int(col("id")).as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
        int(col("id") + 1)).as("r_name")))
    write("nation", range(25).select(int(col("id")).as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      int(col("id") % 5).as("n_regionkey")))
    write("customer", range(150).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      int(floor(u(seed, 10) * 25)).as("c_nationkey"),
      cents(lit(-999.99) + u(seed, 11) * 10999.98).as("c_acctbal"),
      uniformPick(u(seed, 12), Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    write("supplier", range(10).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      int(floor(u(seed, 20) * 25)).as("s_nationkey"),
      cents(u(seed, 21) * 9999.99).as("s_acctbal")))
    write("part", range(200).select(col("id").as("p_partkey"),
      concat(
        uniformPick(u(seed, 30), Seq("small", "large", "red", "blue", "hot", "cold",
          "old", "new")),
        lit(" "),
        uniformPick(u(seed, 31), Seq("widget", "bolt", "ring", "anvil", "gear", "rod",
          "plate", "gizmo"))).as("p_name"),
      concat(lit("Brand#"), (lit(1) + floor(u(seed, 32) * 25)).cast("int").cast("string"))
        .as("p_brand"),
      uniformPick(u(seed, 33), Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      int(lit(1) + floor(u(seed, 34) * 50)).as("p_size"),
      ((lit(90000L) + col("id") * 10) / 100.0).as("p_retailprice")))
    write("orders", range(1500).select(col("id").as("o_orderkey"),
      long(floor(u(seed, 40) * 150)).as("o_custkey"),
      uniformPick(u(seed, 41), Seq("F", "O", "P")).as("o_orderstatus"),
      cents(lit(1000.0) + u(seed, 42) * 499000.0).as("o_totalprice"),
      days("1995-01-01", floor(u(seed, 43) * 2404).cast("long")).as("o_orderdate"),
      uniformPick(u(seed, 44), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    val qty = lit(1.0) + floor(u(seed, 54) * 50)
    write("lineitem", range(6000).select(
      long(floor(u(seed, 50) * 1500)).as("l_orderkey"),
      long(floor(u(seed, 51) * 200)).as("l_partkey"),
      long(floor(u(seed, 52) * 10)).as("l_suppkey"),
      int(lit(1) + floor(u(seed, 53) * 7)).as("l_linenumber"),
      qty.as("l_quantity"),
      cents(qty * (lit(900.0) + u(seed, 55) * 1200.0)).as("l_extendedprice"),
      (floor(u(seed, 56) * 11) / 100.0).as("l_discount"),
      (floor(u(seed, 57) * 9) / 100.0).as("l_tax"),
      uniformPick(u(seed, 58), Seq("A", "N", "R")).as("l_returnflag"),
      uniformPick(u(seed, 59), Seq("F", "O")).as("l_linestatus"),
      days("1995-01-02", floor(u(seed, 60) * 2498).cast("long")).as("l_shipdate")))
    // events arrive in id order over 30 days, ~2.6 minutes apart
    val step = 30L * 86400 * 1000000 / 1000
    write("events", range(1000).select(col("id").as("event_id"),
      ntz(timestamp_micros(lit(1704067200000000L) + col("id") * step
        + floor(u(seed, 70) * step).cast("long"))).as("ts"),
      long(floor(u(seed, 71) * 15)).as("user_id"),
      uniformPick(u(seed, 72), Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      greatest(lit(0.01), cents(-log(lit(1.0) - u(seed, 73)) * 50.0)).as("value"),
      concat(lit("{\"k\": "), floor(u(seed, 74) * 100).cast("long").cast("string"), lit("}"))
        .as("props")))
    // every 20th document repeats its predecessor with one word changed,
    // so the near-duplicate queries have something to find
    val dup = col("id") % 20 === 19
    val textKey = when(dup, col("id") - 1).otherwise(col("id"))
    val nWords = lit(8) + floor(u(seed, 80, textKey) * 93).cast("int")
    val vocab = typedLit(Vocabulary)
    val words = transform(sequence(lit(1), nWords), i =>
      when(dup && i === 2, lit("duplicate")).otherwise(element_at(vocab,
        (lit(1) + floor(u(seed, 81, xxhash64(textKey, i)) * Vocabulary.size)).cast("int"))))
    write("documents", range(500)
      .select(col("id").as("doc_id"), concat_ws(" ", words).as("text"),
        pick(u(seed, 82), Seq("en" -> 0.44, "de" -> 0.14, "es" -> 0.14, "fr" -> 0.14,
          "zh" -> 0.14)).as("lang"),
        concat(lit("src"), floor(u(seed, 83) * 20).cast("long").cast("string")).as("source"))
      .withColumn("n_chars", long(length(col("text")))))
    // unit vectors: a per-label centroid plus per-row noise
    val label = int(floor(u(seed, 90) * 10))
    val raw = transform(sequence(lit(0), lit(63)), i =>
      (u(seed, 91, xxhash64(col("id"), i)) - 0.5) +
        (u(seed, 92, xxhash64(label, i)) - 0.5) * 0.3)
    write("embeddings", range(500)
      .select(col("id").as("vec_id"), raw.as("raw"), label.as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast(FloatType)).as("embedding"),
        col("label")))
  }
}
