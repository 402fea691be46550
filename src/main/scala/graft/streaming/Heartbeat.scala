package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.Json

/** Heartbeat side-channel: periodic engine-status JSON, mirroring the
  * reference's `SingerStatus` heartbeat
  * (reference: common/SingerStatus.java:63-93,
  * heartbeat/HeartbeatGenerator.java:26-60). In Spark the per-query progress
  * events already carry the numbers the reference samples from its metrics
  * registry; this listener reshapes them and hands them to a transport
  * callback (Kafka producer, file append, test buffer).
  */
class HeartbeatListener(emit: String => Unit) extends StreamingQueryListener {

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    emit(s"""{"event":"started","name":${Json.str(Option(event.name).getOrElse(""))},"id":"${event.id}","timestamp":${Json.str(event.timestamp)},"hostname":${Json.str(LogPipeline.hostname)}}""")

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    emit(s"""{"event":"progress","name":${Json.str(Option(p.name).getOrElse(""))},"id":"${p.id}","batchId":${p.batchId},"timestamp":${Json.str(p.timestamp)},"numInputRows":${p.numInputRows},"inputRowsPerSecond":${nz(p.inputRowsPerSecond)},"processedRowsPerSecond":${nz(p.processedRowsPerSecond)},"hostname":${Json.str(LogPipeline.hostname)}}""")
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    emit(s"""{"event":"terminated","id":"${event.id}","exception":${event.exception.map(Json.str).getOrElse("null")}}""")

  private def nz(d: Double): String = if (d.isNaN || d.isInfinite) "0.0" else d.toString
}

/** In-memory heartbeat buffer for tests. */
class BufferingHeartbeat extends (String => Unit) with Serializable {
  private val queue = new ConcurrentLinkedQueue[String]()
  override def apply(s: String): Unit = queue.add(s)
  def messages: List[String] = queue.asScala.toList
}
