package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.DeferredDF

import scala.collection.mutable

import graft.core.{GraftSession, StageLog}

/** Profiles SparkEntry queries on any data dir: a test scale factor or a
  * BenchHeavy tier, without running a whole suite.
  *
  * Usage: runMain graft.Profile <dataDir> [-r reps] [-c key=value]… [-p outDir] [query…]
  *
  * Per query (default: every key, sorted):
  *  - with `-p`, writes `<outDir>/<query>.txt`: the formatted physical
  *    plan, then the plan of each deferred inner frame. A plan-change
  *    claim diffs two such directories, one per tree;
  *  - times `reps` (default 3) noop-sink runs with `System.gc()` before
  *    each, construction included: BenchHeavy's contract, so the numbers
  *    compare. `-r 0` dumps the plan only;
  *  - prints `[time] <query>: best … all …`, then the last run's stages,
  *    slowest first.
  *
  * `-c key=value` pairs become session confs before any query plans, e.g.
  * a `graft.*.maxBroadcast*` scale gate, to time both of its plans.
  */
object Profile {
  final case class Cli(confs: Seq[(String, String)],
                       flags: Map[String, String], positional: Seq[String])

  /** Splits `args` into the `-c key=value` pairs in order, the value of
    * each flag named in `valued` (`-r`, `-p`) and the other arguments in
    * order. Any other `-` argument, or a `-c` without `=`, is an error. */
  def parseCli(args: Seq[String], valued: Set[String] = Set.empty): Cli = {
    val confs = mutable.ArrayBuffer[(String, String)]()
    val flags = mutable.Map[String, String]()
    val positional = mutable.ArrayBuffer[String]()
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case f if f == "-c" || valued(f) =>
        if (!it.hasNext) sys.error(s"trailing $f without a value")
        val v = it.next()
        if (f != "-c") flags(f) = v
        else confs += (v.split("=", 2) match {
          case Array(k, x) if k.nonEmpty => k -> x
          case _ => sys.error(s"bad -c arg (want key=value): $v")
        })
      case f if f.startsWith("-") => sys.error(s"unknown option $f")
      case p => positional += p
    }
    Cli(confs.toSeq, flags.toMap, positional.toSeq)
  }

  /** `== <query> @ <dataDir> ==`, then the query's formatted physical
    * plan and one `== deferred inner plan N ==` section per deferred
    * frame under it, whose outer plan is one opaque leaf. Building the
    * inner frames runs their driver-side jobs (gate counts, model
    * collects). A failure is written into the text, not thrown. */
  def planText(spark: SparkSession, dataDir: String, name: String): String = {
    val text =
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        val outer = df.queryExecution.explainString(FormattedMode)
        val inner =
          try DeferredDF.innerFrames(df).zipWithIndex.map { case (in, i) =>
            s"\n== deferred inner plan ${i + 1} ==\n" +
              in.queryExecution.explainString(FormattedMode)
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
    s"== $name @ $dataDir ==\n" + text
  }

  def main(args: Array[String]): Unit = {
    val cli = parseCli(args.toSeq, Set("-r", "-p"))
    val dataDir = cli.positional.headOption.getOrElse(sys.error(
      "usage: graft.Profile <dataDir> [-r reps] [-c key=value]… [-p outDir] [query…]"))
    val names =
      if (cli.positional.size > 1) cli.positional.tail
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) sys.error(s"unknown queries: ${unknown.mkString(" ")}")
    val reps = cli.flags.get("-r").fold(3)(_.toInt)
    val planDir = cli.flags.get("-p").map(Paths.get(_))
    planDir.foreach(Files.createDirectories(_))
    val spark = GraftSession.local()
    cli.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val stages = new StageLog(spark.sparkContext)
    names.foreach { name =>
      planDir.foreach { d =>
        val f = d.resolve(s"$name.txt")
        Files.write(f, planText(spark, dataDir, name).getBytes("UTF-8"))
        println(s"[plan] $f")
      }
      if (reps > 0) {
        val times = (1 to reps).map { _ =>
          System.gc() // the predecessors' heap debt and deferred GC must
          // not land inside this run's window
          stages.drain() // keep only the last run's stages
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dataDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[time] $name: best ${times.min}%.3f  all ${times.map(t => f"$t%.2f").mkString(" ")}")
        stages.print(s"stage:$name", System.out)
      }
      // release the eager state this query's operators registered
      graft.operators.TextAnalysis.releaseFusedBroadcasts()
    }
    spark.stop()
  }
}
