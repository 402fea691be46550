package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport
import java.util.zip.CRC32

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model._
import graft.sources.{LogSources, ThriftLogCodec, ThriftLogWriter}
import graft.streaming.{AuditWriter, LogPipeline}

/** `AuditWriter` whose `record` is timed per batch (traced runs only). */
class TimedAudit(@transient spark: SparkSession, dir: String, @transient tracer: Tracer)
    extends AuditWriter(spark, dir) {
  @transient val ms: TrieMap[Long, Double] = TrieMap.empty
  override def record(pipeline: String, batchId: Long, numMessages: Long): Unit = {
    val s = Clock.nowNs
    super.record(pipeline, batchId, numMessages)
    val e = Clock.nowNs
    ms(batchId) = (e - s) / 1e6
    tracer.record("audit", s, e, s"batch-$batchId", s"audit-$batchId")
  }
}

/** The two agent-path workloads: an open-loop thrift producer tailed in
  * steady state, and a pre-written text backlog drained with AvailableNow. */
object Agent {
  val RatePerSec = 4000
  val RecordBytes = 1024
  val RotateBytes: Long = 16L << 20
  val BacklogFiles = 16
  val BacklogFileBytes: Long = 16L << 20
  val WarmRecords = 2000
  /** A producer later than this behind its schedule invalidates the run. */
  val MaxLatenessMs = 250.0
  /** Records on each side of the half-written frame of the mid-frame probe. */
  val ProbeRecords = 500

  private def crc(b: Array[Byte]): Long = { val c = new CRC32; c.update(b); c.getValue }
  private def ms(ns: Long): Double = ns / 1e6

  /** Phase timings of data-carrying batches, into per-layer metrics. */
  private def batchLayers(out: Outcome, batches: Seq[Progress], audit: Option[TimedAudit]): Unit = {
    def p50(key: String) = Stats.median(batches.map(_.durations.getOrElse(key, 0L).toDouble))
    out.layers("sources.latest_offset_ms_p50") = p50("latestOffset")
    out.layers("sources.backlog_bytes_max") =
      if (batches.isEmpty) 0.0 else batches.map(_.backlogBytes).max.toDouble
    out.layers("streaming.batch_ms_p50") = p50("triggerExecution")
    out.layers("streaming.query_planning_ms_p50") = p50("queryPlanning")
    out.layers("streaming.add_batch_ms_p50") = p50("addBatch")
    out.layers("streaming.wal_commit_ms_p50") = p50("walCommit")
    out.layers("streaming.commit_offsets_ms_p50") = p50("commitOffsets")
    val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets")
    out.layers("streaming.unaccounted_ms_p50") = Stats.median(batches.map { b =>
      (b.durations.getOrElse("triggerExecution", 0L) - phases.map(b.durations.getOrElse(_, 0L)).sum)
        .toDouble
    })
    audit.foreach { a =>
      out.layers("streaming.audit_ms_p50") =
        Stats.median(batches.flatMap(b => a.ms.get(b.batchId)))
      out.layers("streaming.sink_write_ms_p50") = Stats.median(batches.flatMap(b =>
        a.ms.get(b.batchId).map(b.durations.getOrElse("addBatch", 0L) - _)))
    }
    out.layers("streaming.batches") = batches.size.toDouble
    out.layers("streaming.rows_per_batch_p50") = Stats.median(batches.map(_.numInputRows.toDouble))
  }

  /** A batch span with its phases laid back to back in execution order
    * (progress reports durations, not start times). */
  private def traceBatch(t: Tracer, b: Progress): Unit = if (t.enabled) {
    val total = b.durations.getOrElse("triggerExecution", 0L) * 1000000L
    val id = s"batch-${b.batchId}"
    t.record("micro_batch", b.recvNs - total, b.recvNs, "query", id)
    var at = b.recvNs - total
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        val d = b.durations.getOrElse(k, 0L) * 1000000L
        t.record(k, at, at + d, id, s"$id-$k")
        at += d
      }
  }

  private def auditTotal(spark: SparkSession, dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else new AuditWriter(spark, dir.toString).totals().collect()
      .map(_.getAs[Long]("total_messages")).sum

  private def awaitIdle(progress: ProgressLog, q: StreamingQuery, after: Long,
      enough: Seq[Progress] => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    def done: Boolean = {
      val ps = progress.of(q.runId)
      enough(ps) || (ps.exists(_.recvNs > after) && Clock.nowNs - ps.map(_.recvNs).max > 1500000000L)
    }
    while (!done && System.currentTimeMillis() < deadline && q.isActive) Thread.sleep(20)
  }

  // ---------------------------------------------------------------- thrift

  def thriftSteady(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val logDir = ctx.work.resolve("logs")
    val sink = ctx.work.resolve("sink")
    val auditDir = ctx.work.resolve("audit")
    Files.createDirectories(logDir)
    def cfg(tag: String, logs: Path, out: Path) = PipelineConfig(
      name = "app_thrift", logDir = logs.toString, logStreamRegex = "app\\.log.*",
      reader = ReaderSpec.ThriftFramed(), writer = WriterSpec.Files(out.toString),
      checkpointDir = Some(ctx.work.resolve(s"ckpt-$tag").toString), tailMode = true)
    // the reference tutorial's 10 ms poll interval: a batch starts on the
    // next interval boundary, and a 100 ms interval quantises the batch
    // cycle so coarsely that runs flip between a 400 and a 500 ms cycle
    val trigger = Trigger.ProcessingTime("10 milliseconds")
    val timedAudit = if (ctx.tracer.enabled) Some(new TimedAudit(spark, auditDir.toString, ctx.tracer)) else None
    val audit = timedAudit.getOrElse(new AuditWriter(spark, auditDir.toString))

    // set-up, three times: a fresh pipeline over a directory that already
    // holds WarmRecords records, timed to the end of its first trigger; this
    // also runs the data path before the measured pipeline starts
    val setups = (1 to 3).map { i =>
      val logs = ctx.work.resolve(s"warm-logs-$i")
      val w = new ThriftLogWriter(logs, "app", rotationThresholdBytes = RotateBytes)
      (0 until WarmRecords).foreach(_ => w.append(new Array[Byte](RecordBytes), Clock.nowNs))
      w.close()
      val t0 = Clock.nowNs
      val q = LogPipeline.start(spark, cfg(s"warm-$i", logs, ctx.work.resolve(s"warm-sink-$i")),
        trigger, Some(new AuditWriter(spark, ctx.work.resolve(s"warm-audit-$i").toString)))
      if (!progress.await(q.runId, 1, 60000)) out.problem(s"set-up $i: no first trigger")
      val s = (Clock.nowNs - t0) / 1e9
      q.stop()
      s
    }
    val q = LogPipeline.start(spark, cfg("measured", logDir, sink), trigger, Some(audit))
    if (!progress.await(q.runId, 1, 60000)) out.problem("no first trigger")

    // open-loop producer: one thread, due times on a fixed schedule
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val pool = Array.fill(64) { val b = new Array[Byte](RecordBytes - 16); rnd.nextBytes(b); b }
    def payload(seq: Long): Array[Byte] =
      ByteBuffer.allocate(RecordBytes).putLong(seq).putLong(ctx.seed)
        .put(pool(((seq * 0x9E3779B97F4A7C15L) >>> 58).toInt)).array()
    val n = RatePerSec * ctx.seconds
    val periodNs = 1e9 / RatePerSec
    val due = new Array[Long](n)
    val appendNs = new Array[Long](n)
    var maxLateNs = 0L
    val writer = new ThriftLogWriter(logDir, "app", rotationThresholdBytes = RotateBytes)
    val start = Clock.nowNs + 20000000L
    val producer = new Thread(() => {
      var i = 0
      while (i < n) {
        val d = start + (i * periodNs).toLong
        var now = Clock.nowNs
        while (now < d) { LockSupport.parkNanos(d - now); now = Clock.nowNs }
        val msg = payload(i)
        val s = System.nanoTime()
        writer.append(s"k${i % 64}".getBytes(UTF_8), msg, d)
        val e = System.nanoTime()
        maxLateNs = math.max(maxLateNs, Clock.ofMono(s) - d)
        appendNs(i) = e - s
        due(i) = d
        ctx.tracer.record("append", Clock.ofMono(s), Clock.ofMono(e), "producer", s"append-$i")
        i += 1
      }
    }, "perfbench-producer")
    producer.start()
    producer.join()
    writer.close()
    val producedEnd = Clock.nowNs
    awaitIdle(progress, q, producedEnd, ps => ps.map(_.numInputRows).sum >= n)
    q.stop()
    PerfbenchBus.drain(spark.sparkContext)
    // a crash of the tailing query is the defect the losses come from (a
    // range read from the wrong bytes) and as timing-dependent, so it is
    // reported beside them rather than as a wrong result
    q.exception.foreach(e => System.err.println(s"[perfbench] open loop: query failed: $e"))
    val batches = progress.of(q.runId)
    batches.foreach(traceBatch(ctx.tracer, _))
    val commitAt = batches.map(b => b.batchId -> b.recvNs).toMap

    // reconciliation, outside the timed region
    val rows: Array[(Long, Long, Long, Long, Boolean)] =
      if (!Files.exists(sink)) Array.empty
      else {
        import spark.implicits._
        spark.read.parquet(sink.toString)
          .select(conv(hex(substring(col("value"), 1, 8)), 16, 10).cast("long"),
            col("batch_id").cast("long"), crc32(col("value")), col("timestampNanos"),
            col("checksumValid"))
          .as[(Long, Long, Long, Long, Boolean)].collect()
      }
    val firstBatch = new Array[Long](n).map(_ => -1L)
    var dups = 0L
    var corrupt = 0L
    rows.foreach { case (seq, batch, c, ts, valid) =>
      if (seq < 0 || seq >= n || c != crc(payload(seq)) || ts != due(seq.toInt) || !valid) corrupt += 1
      else if (firstBatch(seq.toInt) >= 0) {
        dups += 1
        firstBatch(seq.toInt) = math.min(firstBatch(seq.toInt), batch)
      } else firstBatch(seq.toInt) = batch
    }
    val delivered = firstBatch.indices.filter(firstBatch(_) >= 0)
    val lost = n - delivered.size
    val lagsMs = delivered.flatMap(i => commitAt.get(firstBatch(i)).map(c => ms(c - due(i))))
    if (lagsMs.size != delivered.size) out.problem("a delivering batch reported no progress")
    if (corrupt > 0) out.problem(s"$corrupt delivered records do not match what was produced")
    val audited = auditTotal(spark, auditDir)
    if (audited != rows.length) out.problem(s"audit total $audited != delivered rows ${rows.length}")
    val maxLateMs = ms(maxLateNs)
    if (maxLateMs > MaxLatenessMs)
      out.problem(f"run invalid: producer fell $maxLateMs%.1f ms behind its schedule")
    val (probeWritten, probeLost) = midFrameProbe(ctx, out, cfg("probe", _, _), payload)
    if (lost > 0 || dups > 0)
      System.err.println(s"[perfbench] open loop: $lost of $n records lost, $dups duplicated")

    // the open-loop losses depend on where the batch boundaries fall in
    // time, so two runs of one seed lose different counts; the operations
    // counted are the probe's, whose outcome the seed alone fixes
    out.attempted = n + probeWritten
    out.failed = probeLost
    val lastCommit = if (commitAt.isEmpty) producedEnd else commitAt.values.max
    out.e2e("lag_p50_ms") = Stats.median(lagsMs)
    out.e2e("lag_p90_ms") = Stats.pct(lagsMs, 90)
    out.e2e("ops_per_s") = delivered.size / ((lastCommit - start) / 1e9)
    out.e2e("setup_s") = ctx.sessionReadyS + Stats.median(setups)
    out.headline("commit_lag_p50_ms") = out.e2e("lag_p50_ms")
    out.headline("commit_lag_p99_ms") = Stats.pct(lagsMs, 99)
    out.headline("lag_samples") = lagsMs.size
    out.headline("lag_p99_excluded") = lost
    out.headline("open_loop_records_lost") = lost
    out.headline("open_loop_query_failures") = q.exception.size
    out.headline("records_duplicated") = dups
    out.headline("probe_records_lost") = probeLost
    out.headline("generator_max_lateness_ms") = maxLateMs
    if (ctx.tracer.enabled) {
      val data = batches.filter(_.numInputRows > 0)
      batchLayers(out, data, timedAudit)
      out.layers("sources.append_us_p99") = Stats.pct(appendNs.map(_ / 1e3).toSeq, 99)
      out.layers("sources.records_lost") = lost
      out.layers("sources.records_duplicated") = dups
      out.layers("sources.probe_records_lost") = probeLost
      out.layers("streaming.files_written") = countFiles(sink, ".parquet")
      out.layers("generator.max_lateness_ms") = maxLateMs
      out.layers("trace.lag_p50_ms") = out.e2e("lag_p50_ms")
    }
    Seq(logDir, sink, auditDir).foreach(Main.rmrf)
    out
  }

  /** The tail source's mid-frame case, made deterministic. One batch runs
    * while the log ends part-way through a frame, as a listing that lands
    * inside a write sees it; then the frame is completed, ProbeRecords more
    * follow and a second batch runs on the same checkpoint. Every record
    * should arrive once. Returns (records written, records lost). The
    * split point is the first byte from a seeded position that would read
    * as a negative frame length, so a reader resuming there stops. */
  private def midFrameProbe(ctx: Ctx, out: Outcome, cfg: (Path, Path) => PipelineConfig,
      payload: Long => Array[Byte]): (Long, Long) = {
    val spark = ctx.spark
    val logs = ctx.work.resolve("probe-logs")
    val sink = ctx.work.resolve("probe-sink")
    Files.createDirectories(logs)
    val base = 1L << 40 // sequence numbers apart from the open-loop run's
    val frames = (0 to 2 * ProbeRecords).map { i =>
      val msg = payload(base + i)
      ThriftLogCodec.encodeFrame(s"k${i % 64}".getBytes(UTF_8), msg,
        timestampNanos = Some(i.toLong), checksum = Some(crc(msg)))
    }
    val half = frames(ProbeRecords)
    val from = 64 + new java.util.SplittableRandom(ctx.seed).nextInt(half.length - 128)
    val cut = (from until half.length).find(half(_) < 0).getOrElse(from)
    val log = java.nio.channels.FileChannel.open(logs.resolve("app.log"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    def batch(): Unit = {
      val q = LogPipeline.start(spark, cfg(logs, sink), Trigger.AvailableNow(), None)
      q.awaitTermination()
      q.exception.foreach(e => out.problem(s"probe batch failed: $e"))
    }
    try {
      frames.take(ProbeRecords).foreach(f => log.write(ByteBuffer.wrap(f)))
      log.write(ByteBuffer.wrap(half, 0, cut))
      batch()
      log.write(ByteBuffer.wrap(half, cut, half.length - cut))
      frames.drop(ProbeRecords + 1).foreach(f => log.write(ByteBuffer.wrap(f)))
      batch()
    } finally log.close()
    val delivered =
      if (!Files.exists(sink)) 0L
      else spark.read.parquet(sink.toString)
        .select(conv(hex(substring(col("value"), 1, 8)), 16, 10).cast("long").as("seq"))
        .where(col("seq") >= base && col("seq") <= base + 2 * ProbeRecords)
        .distinct().count()
    Seq(logs, sink).foreach(Main.rmrf)
    (frames.size.toLong, frames.size - delivered)
  }

  private def countFiles(dir: Path, suffix: String): Double =
    if (!Files.exists(dir)) 0.0
    else {
      val s = Files.walk(dir)
      try s.filter(p => p.toString.endsWith(suffix)).count().toDouble finally s.close()
    }

  // ------------------------------------------------------------------ text

  /** Seeded backlog: `app.log.1..15` plus the active `app.log`, 16 MiB each, ~150-byte
    * lines, ~80 % `level=INFO`. Returns (input bytes, line count, expected
    * CRC32 of each line as the pipeline should deliver it, -1 = filtered). */
  private def writeBacklog(dir: Path, seed: Long): (Long, Int, Array[Long]) = {
    Files.createDirectories(dir)
    val rnd = new java.util.SplittableRandom(seed)
    val crcs = mutable.ArrayBuilder.make[Long]
    var seq = 0
    var bytes = 0L
    val levels = Array("WARN", "ERROR", "DEBUG")
    for (f <- 0 until BacklogFiles) {
      val name = if (f == BacklogFiles - 1) "app.log" else s"app.log.${f + 1}"
      val buf = new java.io.ByteArrayOutputStream(BacklogFileBytes.toInt + 4096)
      while (buf.size < BacklogFileBytes) {
        val info = rnd.nextInt(5) != 0
        val level = if (info) "INFO" else levels(rnd.nextInt(3))
        val ms = seq / 20
        val head = f"2026-10-17T${ms / 3600000 % 24}%02d:${ms / 60000 % 60}%02d:${ms / 1000 % 60}%02d.${ms % 1000}%03d " +
          s"host-${rnd.nextInt(16)} level=$level "
        val filler = new Array[Char](60 + rnd.nextInt(53))
        var i = 0
        while (i < filler.length) { filler(i) = ('a' + rnd.nextInt(26)).toChar; i += 1 }
        val tail = s" payload=${new String(filler)}"
        buf.write((head + s"msg=e$seq" + tail + "\n").getBytes(UTF_8))
        crcs += (if (info) crc((head + s"m:e$seq" + tail).getBytes(UTF_8)) else -1L)
        seq += 1
      }
      bytes += buf.size
      // flushed to disk here, so its write-back cannot land inside a drain
      val ch = java.nio.channels.FileChannel.open(dir.resolve(name),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try { ch.write(ByteBuffer.wrap(buf.toByteArray)); ch.force(true) } finally ch.close()
    }
    (bytes, seq, crcs.result())
  }

  case class Drain(seconds: Double, startNs: Long, batches: Seq[Progress], lost: Long,
      dups: Long)

  def textBacklog(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val logDir = ctx.work.resolve("logs")
    val (inputBytes, nLines, expected) = writeBacklog(logDir, ctx.seed)
    val nInfo = expected.count(_ >= 0)
    val base = PipelineConfig(
      name = "app_text", logDir = logDir.toString, logStreamRegex = "app\\.log.*",
      reader = ReaderSpec.TextLine(filterRegex = Some("level=INFO")),
      transforms = Seq(TransformSpec.RegexModifier("msg=(\\S+)", "m:$1")),
      partitioner = PartitionerSpec.Crc32Key(32), tailMode = true)
    var timedAudit: Option[TimedAudit] = None
    // lines that at least one drain lost; how many drains fit in the run
    // depends on timing, so each line is one operation however many ran
    val missed = new java.util.BitSet(nLines)

    def drain(i: Int): Drain = {
      val sink = ctx.work.resolve(s"sink-$i")
      val auditDir = ctx.work.resolve(s"audit-$i")
      val ckpt = ctx.work.resolve(s"ckpt-$i")
      timedAudit = if (ctx.tracer.enabled) Some(new TimedAudit(spark, auditDir.toString, ctx.tracer)) else None
      val audit = timedAudit.getOrElse(new AuditWriter(spark, auditDir.toString))
      val cfg = base.copy(
        writer = WriterSpec.RolledObjects(s"file://$sink", "{{LOGNAME}}/{{UUID}}.log"),
        checkpointDir = Some(ckpt.toString))
      val t0 = Clock.nowNs
      val q = LogPipeline.start(spark, cfg, Trigger.AvailableNow(), Some(audit))
      q.awaitTermination()
      val t1 = Clock.nowNs
      ctx.tracer.record("drain", t0, t1, "", s"drain-$i")
      PerfbenchBus.drain(spark.sparkContext)
      q.exception.foreach(e => out.problem(s"drain $i failed: $e"))
      val batches = progress.of(q.runId)
      batches.foreach(traceBatch(ctx.tracer, _))

      // reconciliation, outside the timed region
      import spark.implicits._
      val rows = spark.read.option("recursiveFileLookup", "true").text(sink.toString)
        .select(regexp_extract(col("value"), "m:e(\\d+) ", 1).cast("long"),
          crc32(col("value").cast("binary")))
        .as[(Long, Long)].collect()
      val seen = new Array[Byte](nLines)
      var dups, corrupt = 0L
      rows.foreach { case (seq, c) =>
        if (seq < 0 || seq >= nLines || expected(seq.toInt) != c) corrupt += 1
        else if (seen(seq.toInt) != 0) dups += 1
        else seen(seq.toInt) = 1
      }
      val delivered = seen.count(_ != 0)
      expected.indices.foreach(i => if (expected(i) >= 0 && seen(i) == 0) missed.set(i))
      if (corrupt > 0) out.problem(s"drain $i: $corrupt delivered lines do not match the input")
      val audited = auditTotal(spark, auditDir)
      if (audited != rows.length) out.problem(s"drain $i: audit total $audited != delivered ${rows.length}")
      val read = batches.map(_.numInputRows).sum
      if (read != nLines) out.problem(s"drain $i: source read $read of $nLines lines")
      Seq(sink, auditDir, ckpt).foreach(Main.rmrf)
      System.err.println(f"[perfbench] drain $i: ${(t1 - t0) / 1e9}%.3f s, checked in ${(Clock.nowNs - t1) / 1e9}%.3f s")
      Drain((t1 - t0) / 1e9, t0, batches, nInfo - delivered, dups)
    }

    val warm = drain(0)
    val timed = mutable.ArrayBuffer.empty[Drain]
    while (timed.size < 3 || timed.map(_.seconds).sum < ctx.seconds) timed += drain(timed.size + 1)

    val all = warm +: timed.toSeq
    out.attempted = nInfo
    out.failed = missed.cardinality()
    val lost = all.map(_.lost).sum
    if (lost > 0) System.err.println(s"[perfbench] $lost lines lost over ${all.size} drains")
    // every backlog line is due when its drain starts; each figure is the
    // median over the timed drains, so one slow drain does not move it
    def lagPct(p: Double) = Stats.median(timed.toSeq.map(d =>
      weightedPct(d.batches.map(b => (ms(b.recvNs - d.startNs), b.numInputRows)), p)))
    val drainS = Stats.median(timed.map(_.seconds).toSeq)
    out.e2e("lag_p50_ms") = lagPct(50)
    out.e2e("lag_p90_ms") = lagPct(90)
    out.e2e("ops_per_s") = nLines / drainS
    out.e2e("setup_s") = ctx.sessionReadyS + warm.seconds
    out.headline("drain_mbps") = inputBytes / 1e6 / drainS
    out.headline("input_mb") = inputBytes / 1e6
    out.headline("drains") = timed.size
    out.headline("records_duplicated") = all.map(_.dups).sum

    if (ctx.tracer.enabled) {
      batchLayers(out, timed.toSeq.flatMap(_.batches).filter(_.numInputRows > 0), timedAudit)
      out.layers("sources.records_lost") = lost
      out.layers("sources.records_duplicated") = all.map(_.dups).sum
      out.layers("trace.lag_p50_ms") = out.e2e("lag_p50_ms")
      // the source alone, then source + transforms, each into Spark's noop sink
      def noopDrain(tag: String, df: DataFrame): Double = {
        val ckpt = ctx.work.resolve(s"ckpt-$tag")
        val t0 = Clock.nowNs
        df.writeStream.format("noop").option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
        val t1 = Clock.nowNs
        ctx.tracer.record(tag, t0, t1, "", tag)
        Main.rmrf(ckpt)
        (t1 - t0) / 1e9
      }
      def source = LogSources.fromSpec(spark, logDir.toString, base.reader, streaming = true,
        tailMode = true, fileRegex = Some(base.logStreamRegex))
      val readS = noopDrain("source_only", source)
      val transformS = noopDrain("source_transforms", LogPipeline.applyTransforms(source, base))
      out.layers("sources.read_s") = readS
      out.layers("operators.transform_s") = transformS - readS
    }
    Main.rmrf(logDir)
    out
  }

  /** Percentile of values carrying integer weights (nearest rank). */
  private def weightedPct(xs: Seq[(Double, Long)], p: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) Double.NaN
    else {
      val rank = math.max(1L, math.ceil(p / 100.0 * total).toLong)
      var acc = 0L
      s.find { case (_, w) => acc += w; acc >= rank }.map(_._1).getOrElse(s.last._1)
    }
  }
}
