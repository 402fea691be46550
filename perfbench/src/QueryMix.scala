package perfbench

import java.nio.file.Files

import org.apache.spark.PerfbenchBus

import graft.{SparkEntry, Verify}

/** Nine oracled queries, one warm pass (set-up; it also dumps the results
  * the oracle check reads) and one timed pass. Each timed execution is
  * `queryExecution.toRdd.count()`, the full physical plan as `graft.Bench`
  * times it, and the cache is cleared between queries. */
object QueryMix {
  val names: Seq[String] = Seq("q3_shipping_priority", "q52_market_share", "e30_bm25_topk",
    "e31_rrf_hybrid", "e21_opq_ivfpq_refine", "d7_minhash_pairs", "d40_curation_pipeline",
    "w27_stream_bm25", "w42_snapshot_restore")

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val tables = ctx.tables.getOrElse(sys.error("query_mix needs --tables")).toString
    val results = ctx.work.resolve("results")
    Files.createDirectories(results)

    val warm0 = System.nanoTime()
    val dumped = names.map { n =>
      val ok = Verify.dumpQuery(spark, tables, results.toString, n, SparkEntry.queries(n))
      spark.catalog.clearCache()
      n -> ok
    }.toMap
    val warmS = (System.nanoTime() - warm0) / 1e9
    Files.writeString(results.resolve("oracle_sql.json"),
      Json.write(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))

    val jobs = new JobLog(ctx.tracer)
    if (ctx.tracer.enabled) spark.sparkContext.addSparkListener(jobs)
    val mixStart = Clock.nowNs
    val timed = names.map { n =>
      jobs.current = n
      val t0 = Clock.nowNs
      val (rows, planningMs) = try {
        val qe = SparkEntry.queries(n)(spark, tables).queryExecution
        val count = qe.toRdd.count()
        (Some(count), qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      } catch { case e: Throwable =>
        out.failure(n, s"threw in the timed pass: $e")
        (None, 0.0)
      }
      val t1 = Clock.nowNs
      ctx.tracer.record(n, t0, t1, "query_mix", s"query-$n")
      spark.catalog.clearCache()
      if (ctx.tracer.enabled) PerfbenchBus.drain(spark.sparkContext)
      (n, (t1 - t0) / 1e9, t1, rows, planningMs)
    }
    val mixEnd = Clock.nowNs
    ctx.tracer.record("query_mix", mixStart, mixEnd, "", "query_mix")

    // outside the timed region: each timed pass must return as many rows as
    // the dumped warm-pass result the oracle check reads
    timed.foreach { case (n, _, _, rows, _) =>
      out.attempted += 1
      val dumpedRows =
        if (dumped(n)) Some(spark.read.parquet(results.resolve(n).toString).count()) else None
      if (!dumped(n)) out.failure(n, "threw in the warm pass")
      else if (rows.nonEmpty && rows != dumpedRows)
        out.failure(n, s"timed pass returned ${rows.get} rows, warm pass ${dumpedRows.get}")
    }
    out.failed = out.failedOps.size

    val mixS = timed.map(_._2).sum
    // every query is due when the mix starts; its lag is the time to its result
    val lagsMs = timed.map(t => (t._3 - mixStart) / 1e6)
    out.e2e("lag_p50_ms") = Stats.median(lagsMs)
    out.e2e("lag_p90_ms") = Stats.pct(lagsMs, 90)
    out.e2e("ops_per_s") = names.size / mixS
    out.e2e("setup_s") = ctx.sessionReadyS + warmS
    out.headline("query_mix_s") = mixS
    out.headline("warm_pass_s") = warmS
    timed.foreach { case (n, s, _, _, _) => out.headline(s"$n.s") = s }
    if (ctx.tracer.enabled) {
      timed.foreach { case (n, s, _, _, _) => out.layers(s"query.${n}_s") = s }
      out.layers("query.mix_s") = mixS
      out.layers("trace.lag_p50_ms") = out.e2e("lag_p50_ms")
      out.layers("query.planning_ms") = timed.map(_._5).sum
      out.layers("query.jobs") = jobs.jobs.get.toDouble
      out.layers("query.stages") = jobs.stages.get.toDouble
      out.layers("query.tasks") = jobs.tasks.get.toDouble
      out.layers("query.task_busy_share") = jobs.runTimeMs.get / 1000.0 / (mixS * 4)
      out.layers("query.shuffle_bytes") = jobs.shuffleBytes.get.toDouble
      out.layers("query.spill_bytes") = jobs.spillBytes.get.toDouble
    }
    out
  }
}
