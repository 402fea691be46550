package org.apache.spark {
  /** The listener bus delivers events asynchronously; counts read from a
    * listener are complete only after the bus has drained. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package perfbench {

  import java.util.concurrent.ConcurrentLinkedQueue
  import java.util.concurrent.atomic.AtomicLong

  import scala.collection.concurrent.TrieMap
  import scala.jdk.CollectionConverters._

  import org.apache.spark.scheduler._
  import org.apache.spark.sql.streaming.StreamingQueryListener
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  /** One `onQueryProgress`, stamped with its receipt time. */
  case class Progress(runId: String, batchId: Long, recvNs: Long, numInputRows: Long,
      durations: Map[String, Long], backlogBytes: Long)

  /** Every progress event of every query in the session, in arrival order. */
  class ProgressLog extends StreamingQueryListener {
    private val events = new ConcurrentLinkedQueue[Progress]()

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val recv = Clock.nowNs
      val p = e.progress
      val backlog = p.sources.map(s => ProgressLog.backlog(s.latestOffset, s.endOffset)).sum
      events.add(Progress(p.runId.toString, p.batchId, recv, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, backlog))
    }

    def of(runId: java.util.UUID): Seq[Progress] =
      events.asScala.filter(_.runId == runId.toString).toSeq

    /** Block until `runId` has reported at least `n` progress events. */
    def await(runId: java.util.UUID, n: Int, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (of(runId).size < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
      of(runId).size >= n
    }
  }

  object ProgressLog {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    private def offsets(json: String): Map[String, Long] =
      if (json == null || json.isEmpty || json == "null") Map.empty
      else mapper.readTree(json).fields().asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap

    /** Σ over files of (latest − end): bytes listed but not yet planned. */
    def backlog(latest: String, end: String): Long = {
      val l = offsets(latest)
      val e = offsets(end)
      l.map { case (f, len) => math.max(0L, len - e.getOrElse(f, 0L)) }.sum
    }
  }

  /** Job, stage and task counters for the query mix, plus job and stage
    * spans whose parent is the query that was running. */
  class JobLog(tracer: Tracer) extends SparkListener {
    val jobs, stages, tasks, runTimeMs, shuffleBytes, spillBytes = new AtomicLong()
    @volatile var current: String = ""
    private val jobStart = TrieMap.empty[Int, (Long, String)]

    private def timed(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      tracer.addOverhead(System.nanoTime() - t0)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.incrementAndGet()
      jobStart(e.jobId) = (Clock.ofMono(System.nanoTime()), current)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobStart.remove(e.jobId).foreach { case (start, parent) =>
        tracer.record("job", start, Clock.nowNs, parent, s"job-${e.jobId}")
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      stages.incrementAndGet()
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        tracer.record("stage", s * 1000000L, c * 1000000L, current, s"stage-${i.stageId}")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runTimeMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}
