package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import scala.collection.mutable

/** One timed interval. Call spans are opened by the benchmark around each
  * call into the engine; job spans come from the Spark listener and are
  * children of the call span whose local property launched them. */
final case class Span(id: Long, parent: Long, run: String, kind: String, name: String,
                      startMs: Double, endMs: Double)

/** Spark counters accumulated for one call span. */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  val taskDurations = mutable.ArrayBuffer[Long]()

  /** Slowest task over the median task, 1 when the call ran no task. */
  def skew: Double =
    if (taskDurations.isEmpty) 1.0
    else {
      val s = taskDurations.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** Everything the traced run learned about one call. */
final case class CallTrace(span: Span, counters: Counters, planningMs: Double,
                           plan: Map[String, Double]) {
  def wallMs: Double = span.endMs - span.startMs
}

/** In-memory tracer: spans and counters are kept until the run ends and
  * written out once. Jobs are tied to call spans through a Spark local
  * property, so the asynchronous listener bus never misattributes them. */
final class Tracer(spark: SparkSession, val runId: String) extends SparkListener {
  private val Prop = "perfbench.span"
  private var nextId = 1L
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[Long, Counters]()
  private val stageSpan = mutable.Map[Int, Long]()
  private val jobSpan = mutable.Map[Int, (Long, Long)]() // job -> (call span, job span id)
  private val jobStart = mutable.Map[Int, Long]()
  private val extras = mutable.Map[Long, (Double, Map[String, Double])]()
  private var openCycle = 0L

  spark.sparkContext.addSparkListener(this)

  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def cycle[A](name: String)(f: => A): A = {
    val id = newId()
    val t0 = System.currentTimeMillis().toDouble
    openCycle = id
    try f finally {
      openCycle = 0L
      synchronized { spans += Span(id, 0L, runId, "cycle", name, t0, System.currentTimeMillis()) }
    }
  }

  /** Open a call span; returns its id, to be closed with [[close]]. */
  def open(): (Long, Double) = {
    val id = newId()
    synchronized { counters(id) = new Counters }
    spark.sparkContext.setLocalProperty(Prop, id.toString)
    (id, System.nanoTime() / 1e6)
  }

  def close(id: Long, name: String, startNanoMs: Double, qe: Option[DataFrame]): Unit = {
    val endNanoMs = System.nanoTime() / 1e6
    spark.sparkContext.setLocalProperty(Prop, null)
    val nowMs = System.currentTimeMillis().toDouble
    val durMs = endNanoMs - startNanoMs
    synchronized { spans += Span(id, openCycle, runId, "call", name, nowMs - durMs, nowMs) }
    qe.foreach { df => synchronized { extras(id) = (Tracer.planningMs(df), Tracer.planCounts(df)) } }
  }

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).filter(counters.contains).foreach { sid =>
      val c = counters(sid)
      c.jobs += 1
      c.stages += e.stageIds.size
      e.stageIds.foreach(stageSpan(_) = sid)
      jobSpan(e.jobId) = (sid, newId())
      jobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (sid, jid) =>
      spans += Span(jid, sid, runId, "job", s"job-${e.jobId}",
        jobStart.remove(e.jobId).getOrElse(e.time).toDouble, e.time.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (sid <- stageSpan.get(e.stageId); c <- counters.get(sid); m <- Option(e.taskMetrics)) {
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.taskDurations += e.taskInfo.duration
    }
  }

  /** Drain the listener bus, then join spans with their counters. */
  def finish(): Seq[CallTrace] = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    synchronized {
      spans.filter(_.kind == "call").toSeq.map { s =>
        val (pm, plan) = extras.getOrElse(s.id, (0.0, Map.empty[String, Double]))
        CallTrace(s, counters(s.id), pm, plan)
      }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Call self time: its duration minus the part its child job spans cover. */
  def selfMs(call: Span): Double = {
    val kids = allSpans.filter(_.parent == call.id)
      .map(k => (math.max(k.startMs, call.startMs), math.min(k.endMs, call.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    kids.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    (call.endMs - call.startMs) - covered
  }
}

object Tracer {
  /** Analysis + optimization + planning time of an executed query. */
  def planningMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum

  /** Every node of an executed plan, through adaptive query stages (a
    * reused exchange is a leaf, so what it reuses is not counted twice). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Counts read from the executed plan: rows out of the filters that sit
    * directly on a chunk-table scan (chunks surviving pruning), and the
    * number of delete files scanned. */
  def planCounts(df: DataFrame): Map[String, Double] = {
    val all = nodes(df.queryExecution.executedPlan)
    val survivors = all.collect {
      case f: FilterExec if f.references.exists(a => a.name == "tokens_min" || a.name == "tokens_bloom") =>
        f.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    }
    val deleteFiles = all.collect {
      case s: FileSourceScanExec =>
        s.relation.location.inputFiles.count(_.contains("/_deletes/")).toDouble
    }
    Map("chunks_after_prune" -> survivors.sum, "delete_file_reads" -> deleteFiles.sum)
  }
}
