package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.model.PipelineConfig
import graft.streaming.{AuditWriter, HeartbeatListener, PipelineManager, RestartSchedule, WriteLatencyListener, WriteMetricsRegistry}

/** Agent entry point — the reference's `SingerMain` re-expressed: load every
  * `*.properties` pipeline definition from a conf directory, start one
  * streaming query per config under a PipelineManager, attach audit +
  * heartbeat side-channels, run until terminated
  * (reference: SingerMain.java:150-172 boot sequence,
  * config/DirectorySingerConfigurator.java per-log property files).
  *
  * Usage: graft.GraftMain <confDir> [auditDir] [heartbeatFile]
  */
object GraftMain {

  /** Process-wide write-metrics registry: [[run]] wires a
    * [[WriteLatencyListener]] feeding it, and the admin status endpoint
    * reports it (reference: the OpenTSDB counters every Singer process
    * exports — here one JSON heartbeat body). */
  val writeMetrics = new WriteMetricsRegistry


  /** Parse + start everything; returned manager owns the queries (separated
    * from main for tests). `startAll` applies instance deciders and HOLDS
    * configs whose logDir does not exist yet; the monitor thread is the
    * reference's periodic LogMonitor scan (release held dirs, fire the
    * daily jittered restart, surface stuck streams —
    * reference: monitor/DefaultLogMonitor.java:233-273,543-601,164-188). */
  def run(spark: SparkSession, confDir: String,
      auditDir: Option[String] = None,
      heartbeat: Option[String => Unit] = None,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      restartSchedule: Option[RestartSchedule] = None,
      monitorIntervalMs: Long = 10000L,
      podDiscovery: Option[graft.streaming.PodDiscovery] = None): PipelineManager = {
    val confs = loadConfigs(Paths.get(confDir))
    val dataSpecs = loadDataConfigs(Paths.get(confDir))
    require(confs.nonEmpty || dataSpecs.nonEmpty,
      s"no *.properties pipeline configs under $confDir")
    heartbeat.foreach(emit => spark.streams.addListener(new HeartbeatListener(emit)))
    // per-batch write latency/row counters for every managed query, the
    // reference's per-task WRITER_*/BROKER_* accounting (see WriteMetrics)
    spark.streams.addListener(new WriteLatencyListener(writeMetrics))
    val audit = auditDir.map(new AuditWriter(spark, _))
    val mgr = new PipelineManager(spark, audit = audit, restartSchedule = restartSchedule)
    mgr.startAll(confs, trigger = trigger)
    // standing DATA pipelines (pipeline.type=curation|ivf) run under the
    // same manager: active/stuck/drain/stopAll see them like log pipelines
    dataSpecs.foreach { spec =>
      mgr.adopt(spec.name, graft.streaming.DataPipelines.start(spark, spec))
    }
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val storeRoots = dataSpecs.map(graft.streaming.DataPipelines.storeRoot)
    val monitor = new Thread(() => {
      try while (true) {
        Thread.sleep(monitorIntervalMs)
        try {
          val released = mgr.checkPendingDirs()
          if (released.nonEmpty) log.info(s"released ${released.size} held pipeline(s)")
          val restarted = mgr.checkScheduledRestart()
          if (restarted.nonEmpty) log.info(s"daily restart relaunched: $restarted")
          val st = mgr.stuck()
          if (st.nonEmpty) log.warn(s"stuck streams (no recent progress): $st")
          // maintenance visibility (reference: SingerStatus carries
          // per-stream health in the heartbeat): while any standing
          // store's lease is held, each tick emits one heartbeat line
          // naming the store, the op, and the holder — an operator sees
          // "compact running on X since T" without listing dot-files
          heartbeat.foreach { emit =>
            storeRoots.foreach { case (name, root) =>
              graft.streaming.MaintenanceLease.status(spark, root).foreach { ls =>
                emit(s"""{"event":"maintenance","store":${Json.str(name)},""" +
                  s""""op":${Json.str(ls.op)},"acquiredAtMs":${ls.acquiredAtMs},""" +
                  s""""renewedAgeMs":${ls.renewedAgeMs},"host":${Json.str(ls.host)}}""")
              }
            }
          }
          // kube mode: pod creation from the filesystem, deletion from the
          // kubelet metadata diff — each tick is one reconciliation pass
          podDiscovery.foreach { pd => pd.scanFileSystem(); pd.pollMetadata() }
        } catch { case e: Exception => log.warn(s"monitor tick failed: ${e.getMessage}") }
      } catch { case _: InterruptedException => () }
    }, "graft-log-monitor")
    monitor.setDaemon(true)
    monitor.start()
    mgr
  }

  def loadConfigs(dir: Path): Seq[PipelineConfig] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(_.toString.endsWith(".properties"))
      .flatMap { p =>
        val name = p.getFileName.toString.stripSuffix(".properties")
        val text = Files.readString(p)
        // files claimed by the data-pipeline parser are not log pipelines
        if (graft.streaming.DataPipelines.fromProperties(text, name).isDefined) None
        else Some(PipelineConfig.fromProperties(text, name))
      }
      .toSeq.sortBy(_.name)
    finally s.close()
  }

  /** Standing data-pipeline specs (`pipeline.type=curation|ivf`) in the
    * same conf directory. */
  def loadDataConfigs(dir: Path): Seq[graft.streaming.DataPipelines.Spec] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(_.toString.endsWith(".properties"))
      .flatMap { p =>
        val name = p.getFileName.toString.stripSuffix(".properties")
        graft.streaming.DataPipelines.fromProperties(Files.readString(p), name)
      }
      .toSeq.sortBy(_.name)
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val confDir = args.headOption.getOrElse("conf.d")
    val auditDir = args.lift(1)
    val heartbeatFile = args.lift(2)
    val spark = SparkSession.builder()
      .appName("graft-agent")
      // spark-submit supplies spark.master; standalone launches run local
      .master(sys.props.getOrElse("spark.master", sys.env.getOrElse("GRAFT_MASTER", "local[*]")))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emit: Option[String => Unit] = heartbeatFile.map { f => (line: String) =>
      Files.writeString(Paths.get(f), line + "\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
    // optional daily hygiene restart, e.g. GRAFT_DAILY_RESTART_WINDOW=01:00-03:00
    // (UTC window; the actual slot is per-host jittered inside it)
    val sched = sys.env.get("GRAFT_DAILY_RESTART_WINDOW").map { w =>
      val Array(b, e) = w.split("-")
      def ms(hm: String) = {
        val Array(h, m) = hm.split(":"); (h.toLong * 60 + m.toLong) * 60000L
      }
      new RestartSchedule(ms(b), ms(e))
    }
    // kube mode (reference: SingerMain starts KubeService when
    // kubernetesEnabled): GRAFT_POD_LOG_DIR turns on pod-directory
    // discovery; the kubelet binding reads GRAFT_KUBELET_PORT (default
    // 10255) and an optional GRAFT_KUBELET_TOKEN_FILE for the service-
    // account bearer token. Each discovered pod starts the FIRST loaded
    // config templated into its pod directory; pod deletion drains it.
    val podDiscovery = sys.env.get("GRAFT_POD_LOG_DIR").map { podDir =>
      val port = sys.env.get("GRAFT_KUBELET_PORT").map(_.toInt).getOrElse(10255)
      val token = sys.env.get("GRAFT_KUBELET_TOKEN_FILE")
        .map(p => Files.readString(Paths.get(p)).trim)
      new graft.streaming.PodDiscovery(podDir,
        new graft.streaming.KubeletPodsSource(podDir, port,
          serviceAccountToken = token))
    }
    val mgr = run(spark, confDir, auditDir, emit, restartSchedule = sched,
      podDiscovery = podDiscovery)
    podDiscovery.foreach { pd =>
      val template = loadConfigs(Paths.get(confDir)).headOption
      template.foreach { base =>
        pd.register(new graft.streaming.PodPipelineCoordinator(mgr,
          sys.env("GRAFT_POD_LOG_DIR"),
          podName => base.copy(name = s"${base.name}.$podName",
            logDir = s"${sys.env("GRAFT_POD_LOG_DIR")}/$podName")))
      }
    }
    // lifecycle latch: the agent exits when an admin stop has been ACKED
    // (fired strictly after the "done" reply is flushed — an admin-driven
    // drain of N pipelines must never race the JVM teardown; with
    // awaitAnyTermination the FIRST drained pipeline's termination tore
    // the context down under the remaining N-1 drains) or when every
    // stream has terminated on its own (crash path — the failure
    // propagates for a non-zero exit).
    val stopped = new java.util.concurrent.CountDownLatch(1)
    @volatile var streamFailure: Throwable = null
    // optional admin socket (reference: admin/AdminServer.java — stop/status
    // over a UID-checked unix socket). GRAFT_ADMIN_SOCKET=/path/admin.sock;
    // GRAFT_ADMIN_USERS defaults to the launching user.
    val admin = sys.env.get("GRAFT_ADMIN_SOCKET").map { p =>
      val users = sys.env.get("GRAFT_ADMIN_USERS")
        .map(_.split(",").map(_.trim).toSet)
        .getOrElse(Set(System.getProperty("user.name")))
      val a = new graft.streaming.AdminServer(mgr,
        new graft.streaming.StatusReporter(mgr, writeMetrics = Some(writeMetrics),
          spark = Some(spark),
          storeRoots = () => loadDataConfigs(Paths.get(confDir))
            .map(graft.streaming.DataPipelines.storeRoot)),
        Paths.get(p), users, onStopped = () => stopped.countDown())
      a.start()
      a
    }
    sys.addShutdownHook { admin.foreach(_.close()); mgr.stopAll() }
    val watcher = new Thread(() => {
      var sawTermination = false
      while (stopped.getCount > 0) {
        try {
          if (spark.streams.awaitAnyTermination(1000L)) {
            sawTermination = true
            spark.streams.resetTerminated()
          }
        } catch {
          case t: Throwable =>
            // a query died WITH an exception. If a supervisor owns it
            // (restart budget remains), the relaunch is already in flight
            // — keep watching instead of exiting mid-recovery; once the
            // budget is spent, restartInFlight goes false and the failure
            // propagates for a non-zero exit. A NON-supervised failure
            // that races an unrelated supervisor's restart window is NOT
            // swallowed: the deadFailures sweep below catches it on the
            // next tick (round-15 advisory).
            sawTermination = true
            try spark.streams.resetTerminated() catch { case _: Throwable => () }
            if (!mgr.restartInFlight) {
              streamFailure = t
              stopped.countDown()
            }
        }
        // registry-level failure sweep: any query that died WITH an
        // exception and will never be relaunched (unsupervised, or
        // supervision concluded) ends the agent non-zero — regardless of
        // which exception awaitAnyTermination happened to surface or
        // which supervisor happened to be mid-restart at that instant
        if (stopped.getCount > 0) {
          mgr.deadFailures.headOption.foreach { case (name, t) =>
            streamFailure = new RuntimeException(
              s"pipeline '$name' died and will not be relaunched", t)
            stopped.countDown()
          }
        }
        // "all streams ended" is a MANAGER judgment, not a fixed sleep:
        // a supervised pipeline between queries (daily scheduledRestart
        // swapping instances, failure relaunch in its backoff) reports
        // restartInFlight — on a single-pipeline agent that window can
        // outlast any grace sleep, and exiting inside it would kill the
        // pipeline mid-restart (round-14 advisory). restartPending has
        // no false negative across the whole relaunch window, so the
        // empty-active + not-restarting conjunction can never observe
        // a restart as completion.
        if (stopped.getCount > 0 && sawTermination &&
            spark.streams.active.isEmpty && !mgr.restartInFlight) {
          stopped.countDown()
        }
      }
    }, "graft-lifecycle")
    watcher.setDaemon(true)
    watcher.start()
    stopped.await()
    if (streamFailure != null) throw streamFailure
  }
}
