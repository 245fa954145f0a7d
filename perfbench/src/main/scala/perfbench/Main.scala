package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import org.apache.spark.BusSync

import graft.core.GraftSession
import graft.operators.TextAnalysis
import graft.transform.ProcessScriptTransform

/** One timed pass: build the pipeline, sink every channel, clean up. */
final case class Pass(id: Int, prefix: String, wallS: Double, cpuS: Double, kidsCpuS: Double,
                      jitS: Double, gcS: Double, seen: Map[String, Seen],
                      schemas: Map[String, (StructType, Boolean)],
                      counters: Map[String, Long], peakTotalMb: Double, peakWorkersMb: Double,
                      peakHeapMb: Double, workers: Map[Long, Boolean]) {
  def totalCpuS: Double = cpuS + kidsCpuS
  /** CPU spent on the work itself: JVM minus JIT compiler threads, plus workers. */
  def workCpuS: Double = cpuS - jitS + kidsCpuS
}

/** The benchmark's JVM side. run.py builds the classpath, generates the
  * inputs and the DuckDB reference, then launches this with
  *   --workload W --data DIR --rows N --seconds S --trace 0|1 --cores C
  *   --t0 EPOCH_MS --out FILE [--spans FILE]
  * and reads the JSON it writes to --out. `--oracle-sql FILE` instead
  * dumps the repo's DuckDB oracle for curationPipeline and exits.
  *
  * Untraced: passes until --seconds have elapsed since the first, cold
  * one, and at least four; the metrics come from the first four (the
  * third and fourth are the warm passes), and every full pass is checked
  * against the reference. Traced: three untraced warm-up passes, the
  * prefix passes with a SparkListener and /proc maps sampling on, two
  * untraced passes as the base of trace.overhead, then one pass at
  * local[1]. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("oracle-sql")) {
      Check.mapper.writeValue(Path.of(a("oracle-sql")).toFile,
        java.util.Map.of("curation", TextAnalysis.qCurationE2eSql))
      return
    }
    val w = Workloads.byName(a("workload"))
    val data = a("data")
    val rows = a("rows").toLong
    val cores = a("cores").toInt
    val trace = a.get("trace").contains("1")
    val sampler = new ProcSampler(if (trace) 50 else 100)
    sampler.start()
    val t0 = a("t0").toDouble
    val tMain = System.currentTimeMillis()
    var spark = session(s"local[$cores]", cores)
    val tSession = System.currentTimeMillis()
    var in = Workloads.load(spark, data, w)
    in.values.foreach(_.schema)
    val tReady = System.currentTimeMillis()
    val setupS = (tReady - t0) / 1e3
    System.err.println(f"[perfbench] setup: jvm ${(tMain - t0) / 1e3}%.2f s, session " +
      f"${(tSession - tMain) / 1e3}%.2f s, inputs ${(tReady - tSession) / 1e3}%.2f s")
    val out = Path.of(a("out"))

    val tr = new Tracer
    tr.enabled = trace
    val passes = ArrayBuffer.empty[Pass]
    def run(prefix: String): Pass = {
      val id = passes.size
      tr.pass = id
      spark.sparkContext.setJobGroup(s"pass-$id", s"${w.name} $prefix")
      sampler.reset()
      val (c0, k0) = Cpu.read()
      val j0 = Cpu.jitSeconds()
      val g0 = Cpu.gcSeconds()
      val t0 = System.nanoTime()
      val (seen, schemas, counters) = tr.span(s"pass:$prefix") {
        val b = w.build(prefix, in, tr)
        try {
          val seen = b.channels.map(ch => ch.name -> tr.span(s"action:${ch.name}")(Check.sink(ch)))
          (seen.toMap, b.channels.map(ch => ch.name -> (ch.df.schema, ch.keysOnly)).toMap,
            b.metrics.map(m => Seq("records", "emitted").map(k => k -> m.value(k)).toMap)
              .getOrElse(Map.empty[String, Long]))
        } finally b.cleanup()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val (c1, k1) = Cpu.read()
      val j1 = Cpu.jitSeconds()
      spark.sparkContext.clearJobGroup()
      val p = sampler.synchronized {
        Pass(id, prefix, wall, c1 - c0, k1 - k0, j1 - j0, Cpu.gcSeconds() - g0, seen, schemas,
          counters, sampler.peakTotalMb, sampler.peakWorkersMb, sampler.peakHeapMb,
          sampler.workers.toMap)
      }
      passes += p
      p
    }

    val result = ArrayBuffer.empty[(String, Double, String)]
    def metric(n: String, v: Double, unit: String): Unit = result += ((n, v, unit))

    tr.span(s"workload:${w.name}") {
      if (!trace) {
        // --seconds covers the cold pass too; at least three passes follow it
        val start = System.nanoTime()
        while (passes.size < 4 || (System.nanoTime() - start) / 1e9 < a("seconds").toDouble)
          run("full")
      } else {
        run("full"); run("full"); run("full")
        tr.pass = -1
        val listener = new StageListener(tr)
        spark.sparkContext.addSparkListener(listener)
        sampler.maps = true
        val validateS = w match {
          case py: PyWorkload =>
            val v = (1 to 3).map { _ =>
              val t = System.nanoTime()
              tr.build("ProcessScriptTransform.validate")(ProcessScriptTransform.validate(py.script))
              (System.nanoTime() - t) / 1e9
            }
            (w.prefixes :+ "fixed").foreach(p => { run(p); run(p) })
            median(v)
          case _ =>
            w.prefixes.foreach(p => { run(p); run(p) })
            0.0
        }
        val traced = passes.toSeq.drop(3)
        BusSync.drain(spark)
        spark.sparkContext.removeSparkListener(listener)
        sampler.maps = false
        // the untraced base of trace.overhead, run after the traced passes
        // so both sides are equally warm
        val base = Seq(run("full"), run("full")).map(_.wallS)
        val layers = new Layers(w, base, setupS, cores)
        layers.validateS = validateS
        layers.fromPasses(traced, listener, tr)
        spark.stop()
        spark = tr.span("setup:local[1]") {
          val s = session("local[1]", cores)
          in = Workloads.load(s, data, w)
          s
        }
        layers.oneCoreS = run("full").wallS
        listener.toSpans()
        layers.emit(metric)
      }
    }

    // check every full pass against the reference (untimed)
    val full = passes.filter(_.prefix == "full")
    val refDir = s"$data/ref"
    val ref = Check.refSeen(spark, refDir, full.head.schemas)
    var diffs = Map.empty[(String, Seen), (Long, Long)]
    val verdicts = full.map { p =>
      p.seen.map { case (ch, s) =>
        val keysOnly = p.schemas(ch)._2
        ch -> Check.verdict(s, ref(ch), keysOnly, () => diffs.getOrElse((ch, s), {
          // the failed pass's rows are gone: diff a rebuilt pipeline
          // for the recall base only
          val built = w.build("full", in, new Tracer)
          val d = try Check.diff(spark, refDir, built.channels.find(_.name == ch).get)
          finally built.cleanup()
          diffs += ((ch, s) -> d)
          d
        }))
      }
    }
    val recall = verdicts.map(v => v.values.map(_.matched).sum.toDouble /
      math.max(1L, v.values.map(_.expected).sum)).min
    val failed = verdicts.count(_.values.exists(_.failed))
    val res = Check.mapper.createObjectNode()
    val base = res.putObject("recall_base")
    verdicts.last.toSeq.sortBy(_._1).foreach { case (ch, v) =>
      val b = base.putObject(ch).put("matched", v.matched).put("expected", v.expected)
        .put("extra", v.extra)
      if (v.rerun) b.put("from_rerun", true)
    }

    if (!trace) {
      // passes after the cold one still speed up while the JIT compiles
      // (its threads burn most of the JVM CPU of the first few), so the
      // warm passes are fixed by position: taking later ones whenever more
      // fit in the window would let a faster host also pick warmer passes
      val measured = passes.take(4)
      val warm = measured.drop(2)
      metric("records_per_s", rows / median(warm.map(_.wallS).toSeq), "1/s")
      metric("cold_job_s", passes.head.wallS, "s")
      metric("setup_s", setupS, "s")
      metric("cpu_s_per_mrec", warm.map(_.workCpuS).sum / (warm.size * rows / 1e6), "s")
      metric("peak_rss_mb", median(measured.map(_.peakTotalMb).toSeq), "MB")
      metric("result_recall", recall, "ratio")
    } else {
      // ngram recall against the exact (uncapped) reference pair set
      val pairs = verdicts.last.get("pairs")
      metric("ops.ngram_pairs", pairs.map(v => (v.matched + v.extra).toDouble).getOrElse(0.0), "count")
      metric("ops.ngram_pairs_exact", pairs.map(_.expected.toDouble).getOrElse(0.0), "count")
      metric("ops.ngram_recall", pairs.map(v => v.matched.toDouble / math.max(1L, v.expected))
        .getOrElse(0.0), "ratio")
      a.get("spans").foreach(p => tr.write(Path.of(p)))
    }
    sampler.shutdown()
    spark.stop()

    res.put("attempted", passes.size).put("checked", full.size).put("failed", failed)
    val passS = res.putArray("pass_s")
    passes.foreach(p => passS.add(p.wallS))
    val passCpu = res.putArray("pass_cpu_s")
    passes.foreach(p => passCpu.addArray().add(p.cpuS).add(p.jitS).add(p.kidsCpuS))
    val ms = res.putObject("metrics")
    result.foreach { case (n, v, u) => ms.putObject(n).put("value", v).put("unit", u) }
    Check.mapper.writeValue(out.toFile, res)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(master: String, cores: Int): SparkSession = {
    val spark = GraftSession.builder(master, cores)
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
