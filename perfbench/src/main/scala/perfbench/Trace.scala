package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, SaveIntoDataSourceCommand}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval; times are seconds since the tracer started. */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def dur: Double = end - start
}

/** One Dataset action reported by the QueryExecutionListener. */
private final case class Action(label: String, start: Double, end: Double,
    phases: Map[String, Long])

/** What Spark's listeners saw while a span was the innermost open one. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskNs, shuffleRead, shuffleWrite, spill, input = 0L
  val phaseMs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
}

/** Spans kept in memory, plus Spark's public listeners registered from
  * outside the program.
  *
  * A span sets the job group to its own id, so every job, stage and task
  * a call launches is counted against the innermost open span. Each
  * Dataset action reported to the [[QueryExecutionListener]] becomes a
  * child span of the span open when it ran, labelled by its sink
  * (`csv`, `json`, `parquet`, `sqlite`, `noop`) or by the action name
  * (`count`, `collect`, `toLocalIterator`, ...), and its Catalyst phase
  * times are added to that span. Listener events arrive asynchronously;
  * a span drains the listener bus when it closes, which is part of the
  * tracing overhead.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val originNs = System.nanoTime()
  private def now: Double = (System.nanoTime() - originNs) / 1e9

  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[Int, Counters]
  private var nextId = 0
  private val open = mutable.Stack.empty[(Int, String)]

  private val actions = mutable.ArrayBuffer.empty[Action]
  private val stageSpan = mutable.Map.empty[Int, Int]

  def countersOf(id: Int): Counters = synchronized(counters.getOrElseUpdate(id, new Counters))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toIntOption).getOrElse(-1)
      e.stageIds.foreach(stageSpan(_) = id)
      countersOf(id).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        countersOf(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = countersOf(stageSpan.getOrElse(e.stageId, -1))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskNs += m.executorRunTime * 1000000L
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
      }
    }
  }

  private def label(funcName: String, qe: QueryExecution): String = {
    val plan = qe.logical match {
      case r: CommandResult => r.commandLogicalPlan
      case p                => p
    }
    plan match {
      case c: InsertIntoHadoopFsRelationCommand => c.fileFormat.toString.toLowerCase
      case c: SaveIntoDataSourceCommand
          if c.dataSource.getClass.getSimpleName.startsWith("Jdbc") => "sqlite"
      case p if p.toString.contains("NoopTable") => "noop"
      case _ => funcName
    }
  }

  private val actionListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = now
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      Tracer.this.synchronized {
        actions += Action(label(funcName, qe), end - durationNs / 1e9, end, phases)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L)
  }

  /** Registers both listeners; [[stop]] removes them again, so untraced
    * operations in the same process run without them.
    */
  def start(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
  }

  def stop(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(actionListener)
  }

  /** Times `body` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push(id -> name)
    sc.setJobGroup(id.toString, name)
    val start = now
    try body
    finally {
      val end = now
      PerfbenchBus.drain(sc)
      open.pop()
      open.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(pid.toString, pname)
        case None               => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, start, end)
      val done = synchronized { val a = actions.toList; actions.clear(); a }
      val c = countersOf(id)
      // A lazily consumed action (toLocalIterator) reports almost no time
      // itself: its span runs on to the next action or to the parent's end.
      val starts = done.map(_.start) :+ end
      done.zip(starts.tail).foreach { case (a, next) =>
        val stop = if (a.label == "toLocalIterator") next else a.end
        spans += Span(nextId, a.label, id, a.start, math.max(a.end, stop))
        nextId += 1
        a.phases.foreach { case (k, v) => c.phaseMs(k) += v }
      }
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** All spans below `id`, at any depth. */
  def descendants(id: Int): Seq[Span] = {
    val direct = children(id)
    direct ++ direct.flatMap(s => descendants(s.id))
  }

  /** Counters of `id` and every span below it. */
  def totals(id: Int): Counters = {
    val t = new Counters
    (id +: descendants(id).map(_.id)).foreach { i =>
      val c = countersOf(i)
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.taskNs += c.taskNs; t.shuffleRead += c.shuffleRead
      t.shuffleWrite += c.shuffleWrite; t.spill += c.spill; t.input += c.input
      c.phaseMs.foreach { case (k, v) => t.phaseMs(k) += v }
    }
    t
  }

  /** A span's duration minus the part of it its children cover. */
  def selfTime(s: Span): Double = {
    val kids = children(s.id).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    kids.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    s.dur - covered
  }

  def lastSpan(name: String): Span = spans.findLast(_.name == name).get

  def json: String = graft.util.Json.render(spans.map(s =>
    scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> s.start, "end_s" -> s.end)))
}
