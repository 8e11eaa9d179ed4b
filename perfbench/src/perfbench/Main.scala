package perfbench

import scala.collection.immutable.ListMap

import org.json4s._

import org.apache.spark.sql.SparkSession

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  *
  * Runs one workload in one JVM at `local[4]` with the engine's own
  * `SparkDefaults`, checks its outputs, prints every metric by name with
  * its unit, and prints the result as the last stdout line. With
  * `--trace 1` it runs the workload with Spark listeners attached, reports
  * the per-layer metrics, and writes them and the spans to
  * `<work>/trace-<workload>-<seed>.json`; `--untraced-run-s` is the
  * `run_s` of an untraced run of the same workload and seed, the base of
  * the tracing overhead.
  */
object Main {
  val Cores = 4

  /** End-to-end metrics every workload reports. */
  def endToEnd(o: Outcome, attempted: Int, failed: Int): ListMap[String, Metric] = ListMap(
    "setup_s" -> Metric(o.setupS, "s"),
    "run_s" -> Metric(o.runS, "s"),
    "ok_frac" -> Metric((attempted - failed).toDouble / attempted, "share"),
    "op_p50_s" -> Metric(Stats.median(o.latencies), "s"),
    "work_per_s" -> Metric(o.workUnits / o.runS, "1/s"))

  /** The operation tail, printed but not gated: at today's sample sizes
    * no percentile above the median has ten samples beyond it, so it is
    * the maximum (`op_tail_beyond` 0).
    */
  def tail(o: Outcome): ListMap[String, Metric] = {
    val t = Stats.tail(o.latencies)
    ListMap(
      "op_tail_s" -> Metric(t.value, "s"),
      "op_tail_n" -> Metric(t.n, "count"),
      "op_tail_beyond" -> Metric(t.beyond, "count"))
  }

  /** Per-layer metrics every workload reports in a traced run. */
  def perLayer(o: Outcome, tr: Tracer, untracedRunS: Double): ListMap[String, Metric] = {
    val c = tr.measured
    val unitCounters = o.units.map(u => tr.byKey.getOrElse(u.op, new Counters))
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val selfS = o.units.map(u => tr.selfMs(u.op, u.startMs, u.endMs) / 1e3)
    val runS = c.runMs / 1e3
    val cpuS = c.cpuNs / 1e9
    ListMap(
      "spark.queries" -> Metric(c.queries, "count"),
      "spark.analysis_ms" -> Metric(c.analysisMs, "ms"),
      "spark.optimization_ms" -> Metric(c.optimizationMs, "ms"),
      "spark.planning_ms" -> Metric(c.planningMs, "ms"),
      "spark.compiles" -> Metric(c.compiles, "count"),
      "spark.compile_ms" -> Metric(c.compileMs, "ms"),
      "spark.jobs" -> Metric(c.jobs, "count"),
      "spark.stages" -> Metric(c.stages, "count"),
      "spark.tasks" -> Metric(c.tasks, "count"),
      "spark.exec_run_s" -> Metric(runS, "s"),
      "spark.exec_cpu_s" -> Metric(cpuS, "s"),
      "spark.cpu_per_run" -> Metric(if (runS > 0) cpuS / runS else 0.0, "ratio"),
      "spark.gc_s" -> Metric(c.gcMs / 1e3, "s"),
      "spark.shuffle_write_mb" -> Metric(c.shuffleWrite / 1e6, "MB"),
      "spark.shuffle_read_mb" -> Metric(c.shuffleRead / 1e6, "MB"),
      "spark.spill_mb" -> Metric(c.spill / 1e6, "MB"),
      "spark.peak_exec_mem_mb" -> Metric(c.peakExecMem / 1e6, "MB"),
      "spark.bhj" -> Metric(c.bhj, "count"),
      "spark.smj" -> Metric(c.smj, "count"),
      "checkpointing.blocks_written" -> Metric(c.blocksWritten, "count"),
      "checkpointing.mb_written" -> Metric(c.blockBytes / 1e6, "MB"),
      "checkpointing.retained_blocks" -> Metric(o.checked.map(_.retained.blocks).max, "count"),
      "checkpointing.retained_mb" -> Metric(o.checked.map(_.retained.bytes).max / 1e6, "MB"),
      "sources.table_write_mb" -> Metric(c.outputBytes / 1e6, "MB"),
      "sources.table_read_mb" -> Metric(c.inputBytes / 1e6, "MB"),
      "ops.count" -> Metric(o.units.size, "count"),
      "ops.jobs_p50" -> Metric(p50(unitCounters.map(_.jobs.toDouble)), "count"),
      "ops.tasks_p50" -> Metric(p50(unitCounters.map(_.tasks.toDouble)), "count"),
      "ops.compiles_p50" -> Metric(p50(o.units.map(u =>
        tr.compilesIn(u.startMs, u.endMs).toDouble)), "count"),
      "ops.self_s_p50" -> Metric(p50(selfS), "s"),
      "ops.self_share" -> Metric(selfS.sum / o.units.map(u => (u.endMs - u.startMs) / 1e3).sum,
        "share"),
      "bench.traced_run_s" -> Metric(o.runS, "s"),
      "bench.untraced_run_s" -> Metric(untracedRunS, "s"),
      "bench.trace_overhead" -> Metric(o.runS / untracedRunS, "ratio"))
  }

  def session(work: java.io.File): SparkSession = {
    // The session graft.Bench and graft.Verify build: one shuffle partition
    // per core, UI off, UTC.
    val s = graft.SparkDefaults(SparkSession.builder().master(s"local[$Cores]")
        .config("spark.sql.shuffle.partitions", Cores.toString).appName("perfbench"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Locations only: keep tables, shuffle files and spills in the run's
      // own directory.
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new java.io.File(work, "local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The trace file: every metric, one record per operation, the
    * workload's own per-batch records, and the spans.
    */
  def traceJson(workload: String, seed: Long, o: Outcome, tr: Tracer,
      layer: ListMap[String, Metric]): JValue = {
    def metric(m: Metric) = Js.obj("value" -> Js.num(m.value), "unit" -> JString(m.unit))
    val spanOf = (o.units ++ o.checked.map(_.span)).map(s => s.op -> s.id).toMap
    Js.obj(
      "workload" -> JString(workload), "seed" -> JInt(seed),
      "metrics" -> JObject((layer ++ o.layer ++ o.report).toList.map { case (k, m) =>
        k -> metric(m) }),
      "operations" -> JArray(o.checked.toList.map(r => Js.obj(
        "name" -> JString(r.name), "key" -> JString(r.key), "wall_s" -> Js.num(r.wallS),
        "ok" -> JBool(r.ok), "detail" -> JString(r.detail),
        "retained_blocks" -> JInt(r.retained.blocks),
        "retained_mb" -> Js.num(r.retained.bytes / 1e6)))),
      "batches" -> o.records,
      "spans" -> JArray(tr.allSpans(spanOf.get).toList.map(s => Js.obj(
        "id" -> JInt(s.id), "parent" -> JInt(s.parent), "kind" -> JString(s.kind),
        "name" -> JString(s.name), "op" -> JString(s.op),
        "start_ms" -> JInt(s.startMs), "end_ms" -> JInt(s.endMs)))))
  }

  private def printMetrics(title: String, ms: ListMap[String, Metric]): Unit = {
    println(s"-- $title")
    ms.foreach { case (k, m) => println(f"$k%-40s ${m.value}%.6g ${m.unit}") }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val wl = Workload.byName(need("workload")).getOrElse {
      System.err.println(s"unknown workload ${need("workload")}; known: " +
        Workload.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = new java.io.File(need("work")).getAbsoluteFile
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark, traced = trace)
    val summary = try {
      val o = try wl.run(Ctx(spark, seed, seconds, tr, work), sessionS) finally tr.stop()
      val layer =
        if (!trace) ListMap.empty[String, Metric]
        else perLayer(o, tr, need("untraced-run-s").toDouble)
      if (trace) Js.write(traceJson(wl.name, seed, o, tr, layer),
        new java.io.File(work, s"trace-${wl.name}-$seed.json"))
      val attempted = o.checked.size
      val failed = o.checked.count(!_.ok)
      o.checked.filterNot(_.ok).foreach(r => System.err.println(s"FAILED ${r.key}: ${r.detail}"))
      o.checked.foreach(r => println(f"op ${r.key}%-16s ${r.wallS}%8.3f s  " +
        s"retained ${r.retained.blocks} blocks  ${if (r.ok) "ok" else "FAILED " + r.detail}"))
      val e2e = endToEnd(o, attempted, failed)
      printMetrics(s"${wl.name} seed $seed: end to end", e2e ++ tail(o) ++ o.report)
      if (trace) printMetrics("per layer", layer ++ o.layer)
      Summary(failed == 0, attempted, failed, if (trace) layer else e2e)
    } finally spark.stop()
    println(summary.render)
  }
}
