package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: operation counts, correctness
  * problems, end-to-end metrics, per-layer metrics (traced runs) and the
  * headline figures in the terms of the workload itself. */
class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** Failed operations that have names (queries), with the reason. */
  val failedOps = mutable.LinkedHashMap.empty[String, String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val headline = mutable.LinkedHashMap.empty[String, Double]
  def problem(msg: String): Unit = { System.err.println(s"[perfbench] PROBLEM: $msg"); problems += msg }
  def failure(op: String, why: String): Unit =
    if (!failedOps.contains(op)) { System.err.println(s"[perfbench] FAILED $op: $why"); failedOps(op) = why }
}

case class Ctx(spark: SparkSession, work: Path, tables: Option[Path], seed: Long,
    seconds: Int, tracer: Tracer, sessionReadyS: Double)

/** Benchmark JVM. Runs one workload and prints one line
  * `PERFBENCH_RESULT {json}` on stdout; `perfbench/run.py` builds the
  * classpath, launches this, runs the DuckDB oracle check and prints the
  * final result. Arguments: --workload --seed --seconds --trace --work
  * [--tables] --launched-ms [--spans]. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    val tracer = new Tracer(a("trace") == "1", s"$workload-seed${a("seed")}")
    val launchedMs = a("launched-ms").toLong
    val spark = session(work)
    val ready = (System.currentTimeMillis() - launchedMs) / 1000.0
    val ctx = Ctx(spark, work, a.get("tables").map(Paths.get(_)), a("seed").toLong,
      a("seconds").toInt, tracer, ready)
    val out =
      try workload match {
        case "tail_thrift_steady" => Agent.thriftSteady(ctx)
        case "tail_text_backlog" => Agent.textBacklog(ctx)
        case "query_mix" => QueryMix.run(ctx)
        case other => sys.error(s"unknown workload $other")
      } finally spark.stop()
    out.e2e("peak_rss_mb") = peakRssMb()
    if (tracer.enabled) {
      out.layers("trace.overhead_ms") = tracer.overheadMs
      out.layers("trace.spans") = tracer.all.size.toDouble
      a.get("spans").foreach(p => tracer.writeTo(Paths.get(p)))
    }
    println("PERFBENCH_RESULT " + Json.write(Map(
      "workload" -> workload, "attempted" -> out.attempted, "failed" -> out.failed,
      "problems" -> out.problems, "failed_ops" -> out.failedOps, "e2e" -> out.e2e, "layers" -> out.layers,
      "headline" -> out.headline)))
  }

  /** The session settings `graft.Bench` uses, on four local cores, with
    * every scratch location inside the run directory. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Resident-set high-water mark of this JVM, from /proc/self/status. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
