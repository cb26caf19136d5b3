package pipebench

import java.time.Instant
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.streaming.kafka.TopicOffsets

/** One committed micro-batch as its query's progress event reports it. */
final case class Batch(
    name: String, batchId: Long,
    /** trigger start + triggerExecution: when the batch had committed */
    commitMs: Double,
    endOffsets: Map[String, Long],
    inputRows: Long,
    durationMs: Map[String, Long],
    stateRows: Long, stateBytes: Long, stateCommitMs: Long, lateDropped: Long)

/** Collects every query's progress events and lets the workload wait on
  * them: completion is observed from the engine's own commit/progress
  * events, never by polling output directories. */
final class Observer extends StreamingQueryListener {
  private val byRun = mutable.HashMap.empty[UUID, mutable.ArrayBuffer[Batch]]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized(notifyAll())

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    val offs = p.sources.iterator.flatMap(s => Option(s.endOffset))
      .flatMap(TopicOffsets.parse(_).offs).toMap
    val st = p.stateOperators
    val b = Batch(Option(p.name).getOrElse("?"), p.batchId,
      Instant.parse(p.timestamp).toEpochMilli.toDouble + d.getOrElse("triggerExecution", 0L),
      offs, p.numInputRows, d,
      st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
      st.map(_.commitTimeMs).sum, st.map(_.numRowsDroppedByWatermark).sum)
    synchronized {
      byRun.getOrElseUpdate(p.runId, mutable.ArrayBuffer.empty) += b
      notifyAll()
    }
  }

  def batches(runId: UUID): IndexedSeq[Batch] =
    synchronized(byRun.get(runId).map(_.toIndexedSeq).getOrElse(IndexedSeq.empty))
      .sortBy(_.batchId)

  /** Committed end offset of `topic` in run `runId`. */
  def committed(runId: UUID, topic: String): Long =
    synchronized(byRun.get(runId).map(_.iterator.map(_.endOffsets.getOrElse(topic, 0L))
      .foldLeft(0L)(math.max)).getOrElse(0L))

  /** Wait until every (run, topic, offset) target has committed; false on
    * timeout. */
  def await(targets: Seq[(UUID, String, Long)], timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      def done = targets.forall { case (r, t, n) => committed(r, t) >= n }
      while (!done && System.currentTimeMillis() < deadline)
        wait(math.max(1L, math.min(50L, deadline - System.currentTimeMillis())))
      done
    }
  }
}
