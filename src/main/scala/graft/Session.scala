package graft

import org.apache.spark.sql.SparkSession

/** The one session profile every main runs on: the ETL CLI and web API,
  * the correctness dump, the benches and the plan tools. Spark 4 already
  * defaults `spark.sql.adaptive.enabled` to true, so it is not set here.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the processors this JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Master `SPARK_MASTER` (a deployment setting, see `start.sh`) or
    * `local[cpus]`; one shuffle partition per core; UTC; UI off;
    * TIMESTAMP(NANOS) parquet read as longs; the graft extensions.
    */
  def get(app: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
