package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line.
  *
  * Execution is via the `noop` sink, NOT `count()`: under count Catalyst
  * prunes every unused projection (a transform query would be timed
  * without computing its transforms). noop materializes every output
  * column — what a real consumer pays.
  *
  * Per query: best-of-2 (min de-noises a busy host without hiding work —
  * both runs are complete), plus total shuffle bytes written from the
  * executed plan's SQL metrics — the scale-limiting quantity at 100 TB.
  * The first run compiles the classes its plan generates; the second
  * reuses them from the session's codegen cache (sized by
  * `GraftSession.CodegenCacheMaxEntries`), except where the second plan
  * generates different code. The full artifact records the classes each
  * second run compiled ("recompiles", non-zero entries only).
  *
  * Host-noise guard: a committed artifact must be trustworthy without a
  * re-measure (round 5's head artifact overstated the total 2x on a busy
  * host and only a judge re-run caught it). Two mechanisms: /proc/loadavg
  * is recorded at start and end ("loadavg"), and any query whose
  * best-of-2 exceeds 3x its bench_baseline.json time (and 0.5 s
  * absolute — sub-second queries jitter multiples naturally) gets a third
  * run; if still 3x over, it lands in "noisy" so the JSON self-identifies
  * contention instead of masquerading as a regression. The baseline file
  * is updated only by clean measurements (noisy ones keep the prior
  * value) and resolves against the repo root, never the cwd.
  */
object Bench {
  private def loadavg: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Artifacts resolve against the repo root (SPARK_GRAFT_REPO, else the
    * nearest ancestor of cwd containing build.sbt, else cwd) — a relative
    * path would silently disable the noise guard whenever Bench runs from
    * any other working directory. */
  private def repoRoot: java.nio.file.Path = graft.core.Util.repoRoot

  /** Per-query baseline for the noise guard: bench_baseline.json, which
    * (unlike bench_out.json) never absorbs a noisy measurement — a run
    * flagged noisy keeps the prior baseline, so one contended commit
    * can't ratchet the 3x threshold upward. Falls back to the previous
    * bench_out.json for first-run migration; empty when neither reads. */
  private def priorTimes: Map[String, Double] = {
    def read(f: java.io.File): Map[String, Double] =
      try {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(f) \ "queries" match {
          case JObject(fs) => fs.collect {
            case (k, JDouble(v)) if v >= 0 => k -> v
            case (k, JInt(v)) if v >= 0    => k -> v.toDouble
          }.toMap
          case _ => Map.empty
        }
      } catch { case _: Throwable => Map.empty[String, Double] }
    val base = read(repoRoot.resolve("bench_baseline.json").toFile)
    if (base.nonEmpty) base else read(repoRoot.resolve("bench_out.json").toFile)
  }

  /** Generated classes compiled so far in this JVM (codegen cache misses). */
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.GraftSession.cpus
    val spark = graft.core.GraftSession.local()
    // the write action runs its own QueryExecution (the DataFrame's plan
    // object never executes) — capture it via listener to read metrics
    @volatile var captured: org.apache.spark.sql.execution.QueryExecution = null
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        // only the noop save is the measured action: a query that eagerly
        // materializes during construction (localCheckpoint) fires events
        // for those sub-jobs too, which would misattribute shuffle bytes.
        // The v2 write path reports the save mode as funcName
        // ("overwrite" for mode(overwrite).save()); v1 paths say "save".
        if (funcName == "save" || funcName == "command" ||
            funcName == "overwrite" || funcName == "append") captured = qe
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    // walk through AQE wrappers (their `children` are empty, hiding the
    // real tree from TreeNode.collect)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      graft.core.Util.planNodes(p)
    def runOnce(name: String): (Double, Long, Boolean) = {
      captured = null
      // time construction too: queries that eagerly materialize an
      // intermediate (localCheckpoint) do real work before the action
      val t0 = System.nanoTime()
      // a failure is REPORTED, never swallowed: a query that breaks must
      // not masquerade as a fast success in the benchmark record
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Throwable =>
            System.err.println(
              s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      var waited = 0
      while (captured == null && waited < 2000) { Thread.sleep(10); waited += 10 }
      val shuffleBytes =
        if (captured == null) 0L
        else nodes(captured.executedPlan).map(_.metrics.collect {
          case (k, m) if k == "shuffleBytesWritten" => m.value
        }.sum).sum
      (sec, shuffleBytes, ok)
    }
    val la0 = loadavg
    val prior = priorTimes
    // Round-9 lesson: a loadavg-5 capture inflated 4-5 queries 2-5x,
    // none crossed the 3x flag, and the inflated values overwrote the
    // baseline — ratcheting the next round's threshold upward. Two
    // fixes: (a) the flag multiplier tightens to 2x whenever the run
    // STARTS on a contended host (loadavg > cpus/8 — background load
    // that will steal from all 32 worker threads); (b) the baseline
    // update below allows upward moves only from a quiet-start run
    // (loadavg < 2) and clamps them to 2x per run — a loaded run can
    // only LOWER a baseline (legitimate permanent slowdowns still
    // converge over successive quiet rounds; noise never compounds).
    val noisyMult = if (la0 > cpus / 8.0) 2.0 else 3.0
    runOnce("q1_agg") // warm-up (reported failure is visible but untimed)
    // optional args = substring filters for a fast local iteration loop
    // (the driver passes none and times the full surface)
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (args.isEmpty) names0
      else names0.filter(n => args.exists(n.contains))
    val results = names.map { name =>
      // per-query load sample (additions-only, r15 verdict): lets a
      // downstream comparison mechanically discount rows measured under
      // external contention instead of relying on the 3x noisy flag
      val qla = loadavg
      val (t1, _, ok1) = runOnce(name)
      val compiled0 = compiles
      val (t2, shuffle, ok2) = runOnce(name)
      val recompiles = compiles - compiled0
      var best = math.min(t1, t2)
      var ok = ok1 && ok2
      // noise guard: noisyMult x the prior committed time AND >0.5 s gets
      // one retry; still over -> flagged noisy (contention, not regression)
      val cap = prior.get(name).filter(_ > 0).map(_ * noisyMult)
      var noisy = false
      if (ok && cap.exists(c => best > c && best > 0.5)) {
        // the retry can only IMPROVE the time, never flip a query that
        // already passed its two contractual runs to failed — a transient
        // error on this extra run under contention would otherwise make
        // the failed set load-dependent
        val (t3, _, ok3) = runOnce(name)
        if (ok3) best = math.min(best, t3)
        noisy = best > cap.get && best > 0.5
      }
      // fused-serve broadcasts from this query's reps release their
      // executor blocks here instead of accumulating across the suite
      graft.operators.TextAnalysis.releaseFusedBroadcasts()
      (name, best, shuffle, ok, noisy, qla, recompiles)
    }
    // driver contract: "queries" maps name -> seconds (scalar). A failed
    // query reports -1 (unmistakable in any downstream comparison) and is
    // excluded from the total; names also land in "failed".
    val qs = results.map { case (k, v, _, ok, _, _, _) => s""""$k":${if (ok) v else -1}""" }
      .mkString("{", ",", "}")
    val sh = results.map { case (k, _, s, _, _, _, _) => s""""$k":${s / 1048576}""" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, false, _, _, _) => s""""$k"""" }
      .mkString("[", ",", "]")
    val noisyNames = results.collect { case (k, _, _, _, true, _, _) => s""""$k"""" }
      .mkString("[", ",", "]")
    // per-query loadavg at measurement start (full artifact only — the
    // compact headline keeps its byte budget for the slow-query map)
    val loads = results.map { case (k, _, _, _, _, la, _) =>
      s""""$k":${math.rint(la * 100) / 100}""" }.mkString("{", ",", "}")
    val recompiled = results.collect { case (k, _, _, _, _, _, n) if n > 0 => s""""$k":$n""" }
      .mkString("{", ",", "}")
    val total = results.filter(_._4).map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"shuffle_mb":$sh,"load":$loads,"recompiles":$recompiled,"failed":$failed,"noisy":$noisyNames,"loadavg":[$la0,$loadavg],"sf":"$sfDir"}"""
    // persist the FULL line first — the authoritative per-query artifact.
    // Full runs only: a substring-filtered iteration run must not clobber
    // the committed clean artifact with a partial map (the round-6 stale-
    // artifact lesson).
    if (args.isEmpty)
      java.nio.file.Files.write(repoRoot.resolve("bench_out.json"),
        (line + "\n").getBytes("UTF-8"))
    // The capture tooling keeps only the LAST ~2000 chars of stdout (sbt
    // appends its own "[success] Total time" line after ours), so a
    // 120+-query map printed raw arrives truncated and unparseable.
    // Print the full line for humans, then LAST a compact
    // headline line sized to survive the window: totals + the heaviest
    // queries (time-sorted, 3-decimal) up to a byte budget, with the
    // full map's location and the count of omitted entries declared.
    println(line)
    val okSorted = results.filter(_._4).sortBy(-_._2)
    val tot3 = math.rint(total * 1000) / 1000
    def render(qs: Seq[String], omitted: Int) =
      s"""{"metric":"total","value":$tot3,"unit":"sec","queries":${qs.mkString("{", ",", "}")},"nqueries":${names.size},"nok":${okSorted.size},"omitted_fastest":$omitted,"full":"bench_out.json","failed":$failed,"noisy":$noisyNames,"loadavg":[$la0,$loadavg],"sf":"$sfDir"}"""
    // budget the WHOLE line (fixed fields included), not just the map —
    // the window is 2000 chars minus sbt's trailing "[success]" line
    val lineBudget = 1800 - render(Nil, 0).length
    // strict slowest-prefix: stop at the FIRST entry that misses the
    // budget, so the compact map is exactly the slowest N and
    // omitted_fastest counts precisely what was dropped
    val compactQs = new scala.collection.mutable.ArrayBuffer[String]
    var used = 0
    var full = false
    okSorted.foreach { case (k, v, _, _, _, _, _) =>
      val ent = s""""$k":${math.rint(v * 1000) / 1000}"""
      if (!full && used + ent.length + 1 <= lineBudget) {
        compactQs += ent; used += ent.length + 1
      } else full = true
    }
    println(render(compactQs.toSeq, okSorted.size - compactQs.size))
    // guard baseline: downward moves are always free; UPWARD moves are
    // allowed only from a run that STARTED on a quiet host (loadavg < 2
    // — the PLANS.md adjudication gate), and even then by at most 2x
    // per run. Round-12 lesson: this box's phantom kernel-load waves
    // inflate most queries 1.2-2x without tripping the 3x noisy flag,
    // and a loaded run that writes those values ratchets the guard's
    // reference upward so the NEXT round's real regressions under-fire.
    // A loaded-start run can therefore only improve the baseline
    // (min(new, prior)); legitimate permanent slowdowns still converge
    // over successive quiet rounds. Noisy-flagged queries keep the
    // prior value outright; a failed query records nothing.
    if (args.isEmpty) { // partial filtered runs must not shrink the baseline
      val quietStart = la0 >= 0 && la0 < 2.0
      val baseQs = results.flatMap {
        case (k, v, _, ok, noisy, _, _) if ok =>
          val p = prior.get(k).filter(_ > 0)
          // a query with NO positive prior is seeded only by a clean
          // measurement: quiet start and not noisy-flagged. A loaded or
          // noisy first sample would seed the guard with a 1.2-2x
          // inflated reference — exactly what the gate exists to block —
          // so it stays absent until a quiet run provides one.
          val nv: Option[Double] =
            if (noisy) p
            else if (quietStart) Some(p.fold(v)(pv => math.min(v, pv * 2)))
            else p.map(pv => math.min(v, pv))
          nv.map(k -> _)
        case _ => None
      }
      val baseJson = baseQs.map { case (k, v) => s""""$k":$v""" }
        .mkString("""{"queries":{""", ",", "}}")
      java.nio.file.Files.write(repoRoot.resolve("bench_baseline.json"),
        (baseJson + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
