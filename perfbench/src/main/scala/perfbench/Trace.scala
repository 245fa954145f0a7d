package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler._

/** One span: a call or phase, timed in epoch milliseconds. */
final case class Span(id: Int, name: String, start: Double, end: Double,
                      parent: Int, pass: Int)

/** Spans recorded from the benchmark's own code, around its calls into
  * the program. Disabled (the untraced run), every method just runs its
  * body. Spans stay in memory until `write`. */
final class Tracer {
  @volatile var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var open: List[Int] = Nil
  var pass: Int = -1

  /** Times `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = open.headOption.getOrElse(0)
    val p = pass
    open = id :: open
    val t0 = epochMs()
    try body
    finally {
      open = open.tail
      synchronized { spans += Span(id, name, t0, epochMs(), parent, p) }
    }
  }

  /** A public call into the program made while building a pipeline. */
  def build[T](call: String)(body: => T): T = span("build:" + call)(body)

  /** The innermost span of `pass` open at time `t`: the parent of a Spark
    * job that started then. */
  def enclosing(t: Double, pass: Int): Int = synchronized {
    spans.filter(s => s.pass == pass && s.start <= t && t <= s.end &&
        !s.name.startsWith("job:") && !s.name.startsWith("stage:"))
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0)
  }

  def add(name: String, start: Double, end: Double, parent: Int, pass: Int): Int =
    synchronized {
      val i = nextId; nextId += 1
      spans += Span(i, name, start, end, parent, pass); i
    }

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(s => (s.start, s.id)).foreach { s =>
      sb ++= Check.mapper.writeValueAsString(Check.mapper.createObjectNode()
        .put("id", s.id).put("name", s.name).put("start", s.start).put("end", s.end)
        .put("parent", s.parent).put("pass", s.pass)) += '\n'
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
  }

  /** Epoch ms with sub-ms resolution from the monotonic clock. */
  private val base = (System.currentTimeMillis().toDouble, System.nanoTime())
  def epochMs(): Double = base._1 + (System.nanoTime() - base._2) / 1e6
}

final case class StageRec(id: Int, pass: Int, submit: Double, done: Double, tasks: Int,
                          runS: Double, cpuS: Double, gcS: Double, inputMb: Double,
                          inputRecords: Long, shReadMb: Double, shReadRecords: Long,
                          shWriteMb: Double, shWriteRecords: Long, spillMb: Double,
                          fetchWaitS: Double, taskS: Seq[Double])
final case class JobRec(id: Int, pass: Int, start: Double, var end: Double)

/** The benchmark's own SparkListener: stage wall, task times, CPU, GC,
  * shuffle, spill and input per stage, and jobs attributed to passes
  * through the job group each pass sets. */
final class StageListener(tr: Tracer) extends SparkListener {
  val jobs = mutable.Map.empty[Int, JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  private val stagePass = mutable.Map.empty[Int, Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskTimes = mutable.Map.empty[Int, ArrayBuffer[Double]]

  private def passOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pass-")).map(_.stripPrefix("pass-").toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = passOf(e.properties)
    jobs(e.jobId) = JobRec(e.jobId, p, e.time.toDouble, e.time.toDouble)
    e.stageIds.foreach { s => stagePass(s) = p; stageJob(s) = e.jobId }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskTimes.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration / 1e3
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val mb = 1024.0 * 1024.0
    stages += StageRec(si.stageId, stagePass.getOrElse(si.stageId, -1),
      si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
      si.numTasks, m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
      m.inputMetrics.bytesRead / mb, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead / mb, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten / mb, m.shuffleWriteMetrics.recordsWritten,
      m.diskBytesSpilled / mb, m.shuffleReadMetrics.fetchWaitTime / 1e3,
      taskTimes.remove(si.stageId).map(_.toSeq).getOrElse(Nil))
  }

  /** Jobs and stages become spans under the span open at job start. */
  def toSpans(): Unit = synchronized {
    val jobSpan = jobs.values.toSeq.sortBy(_.id).map(j =>
      j.id -> tr.add(s"job:${j.id}", j.start, j.end, tr.enclosing(j.start, j.pass), j.pass)).toMap
    stages.foreach(s => tr.add(s"stage:${s.id}", s.submit, s.done,
      stageJob.get(s.id).flatMap(jobSpan.get).getOrElse(0), s.pass))
  }
}

/** Samples /proc: peak memory of this JVM plus its python workers, peak
  * heap, and (when `maps` is on) whether each worker mapped libarrow.
  * The total is the RSS of the JVM and its workers with the Java heap
  * counted as what was live after the latest GC instead of its committed
  * size (the heap is fixed and pre-touched, so all of it is resident):
  * it moves with the program's memory, not with the heap size the
  * harness picks or with where in a GC cycle a sample falls. Only python
  * workers count as children: a child caught between spawn and exec
  * still shares, and reports, the JVM's pages. */
final class ProcSampler(periodMs: Long) extends Thread("perfbench-proc-sampler") {
  setDaemon(true)
  @volatile var maps = false
  @volatile private var running = true
  @volatile var peakTotalMb = 0.0
  @volatile var peakWorkersMb = 0.0
  @volatile var peakHeapMb = 0.0
  /** worker pid -> saw libarrow mapped */
  val workers = mutable.Map.empty[Long, Boolean]
  private val self = ProcessHandle.current().pid()
  private val pageKb = 4.0
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  /** Starts a new pass: per-pass peaks and the worker set start over. */
  def reset(): Unit = synchronized {
    peakTotalMb = 0.0; peakWorkersMb = 0.0; peakHeapMb = 0.0; workers.clear()
  }

  private def read(p: String): Option[String] = Try(Files.readString(Path.of(p))).toOption
  private def rssMb(pid: Long): Double =
    read(s"/proc/$pid/statm").map(_.split(" ")(1).toDouble * pageKb / 1024.0).getOrElse(0.0)
  private def ppid(pid: String): Long =
    read(s"/proc/$pid/stat").map { s =>
      s.substring(s.lastIndexOf(')') + 2).split(" ")(1).toLong
    }.getOrElse(-1L)
  private def isWorker(pid: Long): Boolean =
    read(s"/proc/$pid/cmdline").exists(_.contains("_flushbuf"))

  def sample(): Unit = {
    val kids = Option(new java.io.File("/proc").list()).getOrElse(Array.empty[String])
      .filter(n => n.nonEmpty && n.forall(_.isDigit) && ppid(n) == self).map(_.toLong)
    val workerPids = kids.filter(isWorker)
    val wMb = workerPids.map(rssMb).sum
    val mb = 1024.0 * 1024.0
    val mu = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val heap = mu.getUsed / mb
    val live = heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / mb
    val total = rssMb(self) + wMb - mu.getCommitted / mb + live
    synchronized {
      peakTotalMb = math.max(peakTotalMb, total)
      peakWorkersMb = math.max(peakWorkersMb, wMb)
      peakHeapMb = math.max(peakHeapMb, heap)
      workerPids.foreach { pid =>
        val arrow = workers.getOrElse(pid, false) ||
          (maps && read(s"/proc/$pid/maps").exists(_.contains("libarrow")))
        workers(pid) = arrow
      }
    }
  }

  override def run(): Unit = while (running) {
    Try(sample())
    Thread.sleep(periodMs)
  }
  def shutdown(): Unit = { running = false; join(2000) }
}

/** CPU of this process and of its reaped children (python workers), from
  * /proc/self/stat, in seconds. */
object Cpu {
  private val tick = 100.0
  def read(): (Double, Double) = {
    val s = Files.readString(Path.of("/proc/self/stat"))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    // fields after comm: state(0) ... utime(11) stime(12) cutime(13) cstime(14)
    ((f(11).toLong + f(12).toLong) / tick, (f(13).toLong + f(14).toLong) / tick)
  }
  /** CPU of the JIT compiler threads so far: a one-time JVM cost that is
    * most of the JVM's CPU in the first passes after start. */
  def jitSeconds(): Double =
    Option(new java.io.File("/proc/self/task").list()).getOrElse(Array.empty[String]).map { t =>
      Try {
        val s = Files.readString(Path.of(s"/proc/self/task/$t/stat"))
        val comm = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0.0
        else {
          val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) / tick
        }
      }.getOrElse(0.0)
    }.sum

  def gcSeconds(): Double = {
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }
}
