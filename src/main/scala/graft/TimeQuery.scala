package graft

/** Dev micro-bench: time individual SparkEntry queries on an arbitrary
  * data dir (typically the /tmp/graft_heavy/x10|x100 replicas) without
  * re-running the whole BenchHeavy suite. Same noop-sink contract as
  * BenchHeavy so numbers are comparable.
  *
  * Usage: runMain graft.TimeQuery <dir> <reps> [-c key=value ...] <name> [<name> ...]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    // -c key=value pairs become session confs BEFORE the queries plan —
    // e.g. a graft.*.maxBroadcast* scale gate, to time both of its plans
    val (confArgs, names) = {
      val rest = args.drop(2)
      val confs = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val qs = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < rest.length) {
        if (rest(i) == "-c") {
          if (i + 1 >= rest.length) sys.error("trailing -c without key=value")
          rest(i + 1).split("=", 2) match {
            case Array(k, v) => confs += (k -> v)
            case _ => sys.error(s"bad -c arg (want key=value): ${rest(i + 1)}")
          }
          i += 2
        } else { qs += rest(i); i += 1 }
      }
      (confs.toSeq, qs.toSeq)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    confArgs.foreach { case (k, v) => spark.conf.set(k, v) }
    names.foreach { name =>
      val times = (1 to reps).map { _ =>
        System.gc() // BenchHeavy's leveling: predecessors' heap debt
        // and deferred GC must not land inside this rep's window
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time] $name: best ${times.min}%.3f  all ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
