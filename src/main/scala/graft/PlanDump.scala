package graft

import java.nio.file.{Files, Paths}

/** Plan evidence tool: writes the formatted physical plan of each named
  * SparkEntry query (default: all) to <outDir>/<query>_<tag>.txt, e.g. a
  * `<query>_before.txt` / `_after.txt` pair that a plan-change claim is
  * checked against.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [sfDir] [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val text =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val outer = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          // Deferred-wrapped queries (bm25, rrf, lmScore-class): the
          // outer plan is one opaque MemoBuilder leaf — build the inner
          // serving frame(s) and dump their real plans too (r15 ADVICE)
          val inner =
            try org.apache.spark.sql.graft.DeferredDF.innerFrames(df)
              .zipWithIndex.map { case (in, i) =>
                s"\n== deferred inner plan ${i + 1} ==\n" +
                  in.queryExecution.explainString(
                    org.apache.spark.sql.execution.FormattedMode)
              }.mkString
            catch {
              case e: Throwable =>
                s"\n== deferred inner plan build FAILED: " +
                  s"${e.getClass.getName}: ${e.getMessage} =="
            }
          outer + inner
        } catch {
          case e: Throwable =>
            s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      Files.write(outDir.resolve(s"${name}_$tag.txt"),
        (s"== $name @ $sfDir ==\n" + text).getBytes("UTF-8"))
      // release any eager state an operator registered during planning
      graft.operators.TextAnalysis.releaseFusedBroadcasts()
      println(s"[plandump] $name")
    }
    spark.stop()
  }
}
