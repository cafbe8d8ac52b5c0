package graft

import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Json

/** E4 — benchmark harness (protocol from
  * `/root/reference/benchmarks.py:13-89`: warm-up run, then timed runs,
  * wall-clock seconds). Prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query is driven to completion with a `noop`-sink write: unlike
  * `count()` (where Catalyst prunes unevaluated projections and
  * eliminates sorts above the agg), the noop sink materializes every
  * output row and column without collecting to the driver — the honest
  * full-query cost.
  *
  * Variance control (round-2 protocol): each query runs
  * `SPARK_GRAFT_BENCH_REPS` times (default 3) and reports the MEDIAN;
  * before every rep the catalog cache and all persistent RDD blocks
  * (persisted frames AND `localCheckpoint` leftovers) are swept, so no
  * query's session state can poison a later one and reps are i.i.d.
  * `value` is the sum of per-query medians.
  *
  * Structural readout: one listener counts jobs, stages, tasks, shuffle,
  * input and spill bytes. After each rep's timed window the listener bus
  * is drained and the counters' delta is that rep's cost; the last
  * successful rep's readout lands under `metrics` in `BENCH_OUT.json`.
  * Wall-clock carries ambient host noise; these counts do not, so a
  * removed job or a fused shuffle shows up here exactly.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame
  /** A query's first error, or its median seconds and last rep's metrics. */
  type Outcome = Either[String, (Double, Metrics)]

  def drive(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Clear every block-manager resident between reps: cached tables /
    * persisted frames via the catalog, plus raw persistent RDDs (which
    * is where eager `localCheckpoint` blocks live — `clearCache` alone
    * does not touch those).
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** One rep's listener readout: counts, then byte totals. */
  final case class Metrics(jobs: Long, stages: Long, tasks: Long,
      shuffleRead: Long, shuffleWrite: Long, input: Long, spillDisk: Long) {
    def -(o: Metrics): Metrics = Metrics(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
      input - o.input, spillDisk - o.spillDisk)

    def json: String = {
      def mb(b: Long) = String.format(Locale.ROOT, "%.1f", Double.box(b / 1e6))
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"shuffle_read_mb":${mb(shuffleRead)},"shuffle_write_mb":${mb(shuffleWrite)},"input_mb":${mb(input)},"spill_disk_mb":${mb(spillDisk)}}"""
    }
  }

  /** Running totals since the listener was added; a rep reads the delta. */
  private final class Counters extends SparkListener {
    private val jobs, stages, tasks, shufRead, shufWrite, input, spill = new AtomicLong
    def read: Metrics = Metrics(jobs.get, stages.get, tasks.get,
      shufRead.get, shufWrite.get, input.get, spill.get)
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
      ()
    }
  }

  private var installed: Option[(SparkContext, Counters)] = None

  /** The context's one [[Counters]]: added on first use, reused after. */
  private def counters(sc: SparkContext): Counters = synchronized {
    installed.collect { case (c, l) if c eq sc => l }.getOrElse {
      val l = new Counters
      sc.addSparkListener(l)
      installed = Some(sc -> l)
      l
    }
  }

  /** Runs each query `reps` times. A failed rep is an ERROR, never a
    * timing: a query that starts erroring must surface in the JSON
    * (`errors` object), not post the elapsed-time-of-the-failure as a
    * plausible-looking number. Otherwise: the median seconds and the
    * last rep's listener metrics.
    */
  def measure(spark: SparkSession, sfDir: String, reps: Int,
      queries: Seq[(String, Query)]): Seq[(String, Outcome)] = {
    val sc = spark.sparkContext
    val acc = counters(sc)
    queries.map { case (name, fn) =>
      val runs = (1 to reps).map { _ =>
        sweep(spark)
        GraftBus.drain(sc)
        val before = acc.read
        val t0 = System.nanoTime()
        try {
          drive(fn(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          GraftBus.drain(sc)
          Right((sec, acc.read - before))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        }
      }
      runs.collectFirst { case Left(m) => m } match {
        case Some(err) =>
          System.err.println(f"[bench] $name%-24s ERR ($err)")
          name -> Left(err)
        case None =>
          val times = runs.collect { case Right((t, _)) => t }
          val med = median(times)
          System.err.println(
            f"[bench] $name%-24s $med%8.2f s  (reps: ${times.map(t => f"$t%.2f").mkString(", ")})")
          name -> Right((med, runs.collect { case Right((_, m)) => m }.last))
      }
    }
  }

  /** The full JSON line: per-query medians, errors, listener metrics. */
  def fullJson(results: Seq[(String, Outcome)], sfDir: String, reps: Int,
      loadBefore: String, loadAfter: String): String = {
    def obj(kvs: Seq[(String, String)]) =
      kvs.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    val ok = results.collect { case (k, Right((t, m))) => (k, t, m) }
    val errs = results.collect { case (k, Left(m)) => k -> Json.str(m) }
    val qs = obj(ok.map { case (k, t, _) => k -> t.toString })
    val ms = obj(ok.map { case (k, _, m) => k -> m.json })
    s"""{"metric":"total","value":${ok.map(_._2).sum},"unit":"sec","queries":$qs,"errors":${obj(errs)},"n_err":${errs.size},"sf":"$sfDir","reps":$reps,"load_before":${Json.str(loadBefore)},"load_after":${Json.str(loadAfter)},"metrics":$ms}"""
  }

  /** 1/5/15-min load averages, or "" where /proc/loadavg is absent —
    * recorded into the bench JSON so a judge can tell ambient host load
    * from real regressions (r9 burned three A/Bs on an unrecorded noisy
    * host). Never used for timing; purely an artifact annotation.
    */
  private def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).mkString(" ")
    catch { case _: Exception => "" }

  def main(args: Array[String]): Unit = {
    val loadBefore = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Session.get("graft-bench")

    // warm-up (JIT + codegen caches) across the engine's main code
    // shapes — relational scan/agg, regex text path, array/vector path,
    // gram-explode/window path — mirroring benchmarks.py:37-43's
    // untimed first run
    Seq("q1_pricing_summary", "t_token_count", "s_lsh_buckets", "t_winnow_fast")
      .flatMap(SparkEntry.queries.get)
      .foreach(fn => try drive(fn(spark, sfDir))
        catch { case e: Throwable => System.err.println(s"[bench] warm-up failed: $e") })

    // SPARK_GRAFT_BENCH_ONLY=q1,q2 — iterate on specific queries without
    // paying for the whole surface (dev loop only; driver runs all)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val results = measure(spark, sfDir, reps, selected)
    val ok = results.collect { case (k, Right((t, _))) => k -> t }
    val nErr = results.size - ok.size
    val total = ok.map(_._2).sum
    val loadAfter = loadavg()
    val json = fullJson(results, sfDir, reps, loadBefore, loadAfter)
    println(json)
    // also write the line to a file: the artifact must never depend on
    // scraping the JSON out of sbt-wrapped stdout (r2 lost its total
    // to log truncation)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    // The harness that invokes this main keeps only the final ~2000 chars
    // of sbt-wrapped stdout and parses a JSON line out of that tail; the
    // full line above (~15 KB at 375 queries) never fits, so it records
    // `parsed: null` every round. Emit a compact summary line LAST —
    // total + the slowest queries, sized to survive a 2000-char tail even
    // with sbt's trailing "[success] Total time" banner.
    // Locale.ROOT: Scala's f-interpolator uses the JVM default locale,
    // which under e.g. de_DE renders 287,92 — invalid JSON (ADVICE r7)
    def d2(v: Double): String =
      String.format(Locale.ROOT, "%.2f", Double.box(v))
    val slow = ok.sortBy(-_._2).take(30)
      .map { case (k, v) => Json.str(k) + ":" + d2(v) }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${d2(total)},"unit":"sec","queries":$slow,"queries_note":"30 slowest of ${ok.size}; full set in $outPath","n_queries":${ok.size},"n_err":$nErr,"sf":"$sfDir","reps":$reps,"load_before":${Json.str(loadBefore)},"load_after":${Json.str(loadAfter)}}"""
    println(compact)
    spark.stop()
  }
}
