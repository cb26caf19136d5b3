package pipebench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into a layer. Spans of one query or one micro-batch share
  * `id`; a listener event becomes a child span (`parent` = its layer). */
final case class Span(id: String, layer: String, name: String,
                      startMs: Double, durMs: Double, parent: String)

/** Engine counters summed over the jobs one layer submitted. */
final class EngineTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var jobMs = 0.0; var schedulerWaitMs = 0.0
  var taskRunMs = 0L; var taskCpuMs = 0.0
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var recordsWritten = 0L
}

/** The traced run's instrument: spans kept in memory and written out at
  * the end, plus a SparkListener and a QueryExecutionListener that
  * attribute engine work to the layer that submitted it. Layers are
  * passed to the engine as a local property of the submitting thread;
  * jobs of a streaming query's own plan fall back to that query's
  * layer. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = new ConcurrentLinkedQueue[Span]()
  private val queryLayer = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val totals = mutable.HashMap.empty[String, EngineTotals]
  private final class JobRec(val layer: String, val span: String, val startMs: Long) {
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val planMs = new ConcurrentLinkedQueue[java.lang.Double]()

  def totalsFor(layer: String): EngineTotals =
    synchronized(totals.getOrElseUpdate(layer, new EngineTotals))

  /** Forget everything recorded so far: the measured phase starts. */
  def reset(): Unit = synchronized {
    spans.clear(); planMs.clear(); totals.clear()
  }

  /** Map a streaming query's id to the layer its own plan belongs to. */
  def registerQuery(queryId: String, layer: String): Unit = { queryLayer.put(queryId, layer); () }

  def span[T](id: String, layer: String, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val (pl, ps) = (sc.getLocalProperty(LayerKey), sc.getLocalProperty(SpanKey))
    sc.setLocalProperty(LayerKey, layer)
    sc.setLocalProperty(SpanKey, id)
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis().toDouble
    try f
    finally {
      spans.add(Span(id, layer, name, wall0, (System.nanoTime() - t0) / 1e6, ""))
      sc.setLocalProperty(LayerKey, pl)
      sc.setLocalProperty(SpanKey, ps)
    }
  }

  /** Run `f` with its engine work set apart from every layer's and from
    * the engine totals: work the harness does between timed calls. */
  def untimed[T](f: => T): T = {
    val sc = spark.sparkContext
    val pl = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, Untimed)
    try f finally sc.setLocalProperty(LayerKey, pl)
  }

  /** A batch's progress phases as child spans of its micro-batch id. */
  def progress(layer: String, b: Batch): Unit =
    b.durationMs.foreach { case (phase, ms) =>
      spans.add(Span(s"${b.name}#${b.batchId}", "engine", s"progress.$phase",
        b.commitMs - b.durationMs.getOrElse("triggerExecution", 0L), ms.toDouble, layer))
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val layer = prop(LayerKey)
        .orElse(prop("sql.streaming.queryId").flatMap(q => Option(queryLayer.get(q))))
        .getOrElse("other")
      val span = prop(SpanKey).getOrElse(layer)
      Tracer.this.synchronized {
        jobs(e.jobId) = new JobRec(layer, span, e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
          .foreach(j => totalsFor(j.layer).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Tracer.this.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          val t = totalsFor(j.layer)
          t.tasks += 1
          if (m != null) {
            t.taskRunMs += m.executorRunTime
            t.taskCpuMs += m.executorCpuTime / 1e6
            t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            t.recordsWritten += m.outputMetrics.recordsWritten
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.remove(e.jobId).foreach { j =>
        val wall = (e.time - j.startMs).toDouble
        val t = totalsFor(j.layer)
        t.jobs += 1
        t.jobMs += wall
        t.schedulerWaitMs += math.max(0.0, wall - covered(j.intervals.toSeq))
        spans.add(Span(j.span, "engine", "job", j.startMs.toDouble, wall, j.layer))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planMs.add(Tracer.planningMs(qe)); ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Stop listening; what was recorded stays readable. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Write every span as one JSON line. */
  def write(path: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      out.println(Json(Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "dur_ms" -> s.durMs, "parent" -> s.parent)))
    } finally out.close()
  }

  /** Per-layer self time: a layer's own spans minus the engine job time
    * spent inside them; the engine's self time is its job time. */
  def selfMs(layer: String): Double = {
    val own = spans.asScala.iterator.filter(s => s.layer == layer && s.parent.isEmpty)
      .map(_.durMs).sum
    own - totalsFor(layer).jobMs
  }

  def engineTotal: EngineTotals = synchronized {
    val all = new EngineTotals
    totals.iterator.collect { case (l, t) if l != Untimed => t }.foreach { t =>
      all.jobs += t.jobs; all.stages += t.stages; all.tasks += t.tasks
      all.jobMs += t.jobMs; all.schedulerWaitMs += t.schedulerWaitMs
      all.taskRunMs += t.taskRunMs; all.taskCpuMs += t.taskCpuMs
      all.shuffleWrite += t.shuffleWrite; all.shuffleRead += t.shuffleRead
      all.spill += t.spill; all.recordsWritten += t.recordsWritten
    }
    all
  }
}

object Tracer {
  val LayerKey = "pipebench.layer"
  val SpanKey = "pipebench.span"
  val Untimed = "untimed"

  /** analysis + optimization + planning, from the QueryPlanningTracker. */
  def planningMs(qe: QueryExecution): Double = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(ph.get)
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
  }

  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total.toDouble
  }
}
