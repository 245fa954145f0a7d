package perfbench

import scala.collection.mutable

/** Per-layer metrics of the traced run, computed from outside the program:
  * prefix-pass differences, spans around public calls, the benchmark's
  * SparkListener and /proc samples. Every metric is emitted for every
  * workload; one that does not apply to a workload reads 0 (see README). */
final class Layers(w: Workload, untracedS: Seq[Double], setupS: Double, cores: Int) {
  var validateS = 0.0
  var oneCoreS = 0.0
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(n: String, v: Double, unit: String): Unit = m(n) = (v, unit)

  def fromPasses(ps: Seq[Pass], l: StageListener, tr: Tracer): Unit = {
    def t(prefix: String): Double =
      ps.filter(_.prefix == prefix).map(_.wallS).minOption.getOrElse(0.0)
    val f = ps.filter(_.prefix == "full").last
    val stages = l.stages.filter(_.pass == f.id).toSeq
    val jobs = l.jobs.values.filter(_.pass == f.id).toSeq
    val passSpan = tr.spans.filter(s => s.pass == f.id && s.name == "pass:full").head
    val builds = tr.spans.filter(s => s.parent == passSpan.id && s.name.startsWith("build:")).toSeq
    def buildS(call: String): Double =
      builds.filter(_.name == "build:" + call).map(s => (s.end - s.start) / 1e3).sum

    // stage time as the union of stage intervals inside the pass
    val busy = stages.map(s => (math.max(s.submit, passSpan.start), math.min(s.done, passSpan.end)))
      .filter(i => i._2 > i._1).sortBy(_._1)
      .foldLeft((0.0, Double.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
      }._1 / 1e3
    val heaviest = stages.sortBy(-_.runS).headOption
    val slowest = stages.sortBy(s => -(s.done - s.submit)).headOption
    def pct(xs: Seq[Double], q: Double): Double =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(math.min(xs.size - 1, (q * xs.size).toInt))

    put("core.start_s", setupS, "s")
    put("core.build_s", builds.map(s => (s.end - s.start) / 1e3).sum, "s")
    put("core.build_jobs", jobs.count(j => builds.exists(s => s.start <= j.start && j.start <= s.end)), "count")
    put("core.idle_s", math.max(0.0, f.wallS - busy), "s")
    put("core.jobs", jobs.size, "count")
    put("core.stages", stages.size, "count")
    put("core.tasks", stages.map(_.tasks).sum, "count")
    put("core.gc_s", f.gcS, "s")
    put("core.heap_peak_mb", f.peakHeapMb, "MB")
    put("core.cpu_util", f.totalCpuS / (f.wallS * cores), "ratio")
    put("sources.scan_s", t("scan"), "s")
    put("sources.input_mb", stages.map(_.inputMb).sum, "MB")

    val etl = w == JvmEtl
    put("dsl.s", if (etl) t("dsl") - t("scan") else 0.0, "s")
    put("jvmscript.s", if (etl) t("script") - t("dsl") else 0.0, "s")
    put("jvmscript.build_s", buildS("ScriptTransform.apply"), "s")
    put("jvmscript.records_in", if (etl) f.counters("records") else 0.0, "count")
    put("jvmscript.rows_out", if (etl) f.counters("emitted") else 0.0, "count")
    put("jvmscript.rows_error", f.seen.get("script_errors").map(_.count.toDouble).getOrElse(0.0), "count")
    put("queries.join_agg_s", if (etl) t("full") - t("script") else 0.0, "s")

    val py = w.isInstanceOf[PyWorkload]
    def pyOnly(v: => Double): Double = if (py) v else 0.0
    put("py.validate_s", validateS, "s")
    put("py.build_s", buildS("ProcessScriptTransform.python"), "s")
    put("py.fixed_s", t("fixed"), "s")
    put("py.boundary_s", pyOnly(t("identity") - t("scan")), "s")
    put("py.script_s", pyOnly(t("full") - t("identity")), "s")
    put("py.workers", f.workers.size, "count")
    put("py.task_s_p50", pyOnly(heaviest.map(s => pct(s.taskS, 0.5)).getOrElse(0.0)), "s")
    put("py.task_s_max", pyOnly(heaviest.map(s => pct(s.taskS, 1.0)).getOrElse(0.0)), "s")
    put("py.worker_cpu_s", pyOnly(f.kidsCpuS), "s")
    put("py.jvm_cpu_s", pyOnly(heaviest.map(_.cpuS).getOrElse(0.0)), "s")
    put("py.worker_rss_peak_mb", f.peakWorkersMb, "MB")
    put("py.records_in", pyOnly(f.counters("records")), "count")
    put("py.rows_out", pyOnly(f.seen("out").count), "count")
    put("py.rows_error", pyOnly(f.seen("errors").count), "count")
    put("py.rows_alert", pyOnly(f.seen("alerts").count), "count")
    put("py.arrow_workers",
      if (f.workers.isEmpty) 0.0 else f.workers.count(_._2).toDouble / f.workers.size, "ratio")

    put("ops.curation_s", t("curation"), "s")
    put("ops.ngram_s", t("ngram"), "s")
    put("ops.task_skew", slowest.filter(_.taskS.nonEmpty)
      .map(s => pct(s.taskS, 1.0) / math.max(1e-3, pct(s.taskS, 0.5))).getOrElse(0.0), "ratio")
    put("ops.single_task_stages",
      stages.count(s => s.tasks == 1 && s.inputRecords + s.shReadRecords > 100000), "count")

    put("exchange.write_mb", stages.map(_.shWriteMb).sum, "MB")
    put("exchange.read_mb", stages.map(_.shReadMb).sum, "MB")
    put("exchange.records", stages.map(_.shWriteRecords).sum, "count")
    put("exchange.spill_mb", stages.map(_.spillMb).sum, "MB")
    put("exchange.fetch_wait_s", stages.map(_.fetchWaitS).sum, "s")
    put("trace.overhead", t("full") / untracedS.min, "ratio")
  }

  def emit(metric: (String, Double, String) => Unit): Unit = {
    put("core.speedup_vs_1core", oneCoreS / untracedS.min, "ratio")
    m.foreach { case (n, (v, u)) => metric(n, v, u) }
  }
}
