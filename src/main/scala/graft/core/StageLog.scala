package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable.ArrayBuffer

/** Records every stage `sc` completes from the moment it is built: the
  * stage table of `graft.Profile` and `graft.ScaleCheck`. */
final class StageLog(sc: SparkContext) extends SparkListener {
  private val done = ArrayBuffer[StageLog.Stage]()
  sc.addSparkListener(this)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val ms = (for { s <- i.submissionTime; c <- i.completionTime }
      yield c - s).getOrElse(-1L)
    synchronized {
      done += StageLog.Stage(i.stageId, ms, i.numTasks, i.name.take(60))
    }
  }

  /** The stages completed since the last drain, in completion order.
    * Returns once every listener event posted before the call has been
    * delivered, so it holds all stages of an action that has returned. */
  def drain(): Seq[StageLog.Stage] = {
    ListenerBusBridge.waitUntilEmpty(sc)
    synchronized { val s = done.toList; done.clear(); s }
  }

  /** Drains and prints one line per stage, slowest first:
    * `[tag] id ms tasks name`. */
  def print(tag: String, out: java.io.PrintStream): Unit =
    drain().sortBy(-_.ms).foreach { s =>
      out.println(f"[$tag] ${s.id}%5d ${s.ms}%7d ms  tasks=${s.tasks}%5d  ${s.name}")
    }
}

object StageLog {
  final case class Stage(id: Int, ms: Long, tasks: Int, name: String)
}
