package graft.transform

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, GenericRow, UnsafeProjection}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScriptPlan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

/** Per-stage named counters, the equivalent of the reference's
  * `context.getMetrics().count(name, n)` (ref: ScriptContext /
  * PythonEvaluator.java:268-287). Spark `LongAccumulator`s: registered on
  * the driver up front, incremented inside executor closures, readable on
  * the driver after an action.
  *
  * Semantics are **at-least-once**, like every Spark accumulator updated
  * inside a transformation: task retries and speculative re-execution
  * re-add their increments, and consuming more than one
  * [[TransformResult]] channel without calling `cached()` re-runs the
  * user closure once per action, multiplying counts accordingly. So does
  * a global sort (`orderBy`) over a channel, whose range partitioner runs
  * the script to sample the sort keys: call `cached()` first. Treat
  * values as operational telemetry (did scripts run / roughly how much),
  * not exact record counts — derive exact counts from the channel
  * DataFrames themselves. */
class Metrics private (private val accs: Map[String, LongAccumulator])
    extends Serializable {
  def count(name: String, n: Long = 1L): Unit = accs.get(name).foreach(_.add(n))
  def value(name: String): Long = accs.get(name).fold(0L)(_.value.longValue())
}

object Metrics {
  /** Always-registered counters backing [[ScriptLogger]]. */
  private[transform] val logLevels =
    Seq("log.debug", "log.info", "log.warn", "log.error")
  def apply(spark: SparkSession, names: String*): Metrics =
    new Metrics((names ++ logLevels).distinct.map(n =>
      n -> spark.sparkContext.longAccumulator(s"graft.metric.$n")).toMap)
  val none: Metrics = new Metrics(Map.empty)
}

/** Script-visible logger (ref: PythonEvaluator.java:268-287 exposes the
  * stage logger to script code — the first thing script authors reach for
  * when debugging). Messages go to the executor's log via slf4j under the
  * `graft.script` logger (the distributed equivalent of the reference's
  * task log), and per-level counters ride the stage [[Metrics]]
  * (`log.info` / `log.warn` / `log.error` / `log.debug`) so a driver can
  * see *that* scripts logged — and how much — without scraping executor
  * logs. Counter caveats are those of Metrics (at-least-once). */
final class ScriptLogger private[transform] (metrics: Metrics) extends Serializable {
  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.script")
  def debug(msg: => String): Unit = { metrics.count("log.debug"); if (log.isDebugEnabled) log.debug(msg) }
  def info(msg: => String): Unit = { metrics.count("log.info"); if (log.isInfoEnabled) log.info(msg) }
  def warn(msg: => String): Unit = { metrics.count("log.warn"); log.warn(msg) }
  def error(msg: => String): Unit = { metrics.count("log.error"); log.error(msg) }
  def error(msg: => String, t: Throwable): Unit = { metrics.count("log.error"); log.error(msg, t) }
}

/** What user script code sees besides the record: runtime arguments,
  * metrics, logger, and lookup tables (ref: PythonEvaluator's
  * ScriptContext — logger, metrics, arguments, lookup; the reference
  * *declares* lookup but throws UnsupportedOperation — Graft supports
  * it). Lookup datasets are torrent-broadcast once per job, not
  * serialized into every task; `lookups` is null when there are none. */
final class ScriptContext(
    val arguments: Map[String, String],
    val metrics: Metrics,
    lookups: Broadcast[Map[String, Map[String, Any]]])
    extends Serializable {
  val logger: ScriptLogger = new ScriptLogger(metrics)
  /** Value for `key` in the named lookup dataset, or null. */
  def lookup(dataset: String, key: Any): Any =
    if (lookups == null) null
    else lookups.value.get(dataset).flatMap(_.get(String.valueOf(key))).orNull
}

/** The reference's emitter surface (ref: PythonEvaluator.java:186-204):
  * 0..N output records per input, plus dedicated error and alert channels.
  */
trait Emitter {
  def emit(record: Map[String, Any]): Unit
  def emitError(errorCode: Int, errorMsg: String, invalidRecord: Map[String, Any]): Unit
  def emitAlert(payload: Map[String, String]): Unit
}

/** The three output channels of one transform pass. `errors` carries
  * (errorCode, errorMsg) plus the full invalid input record; `alerts`
  * carries one map payload per row. All three derive from a single tagged
  * Dataset — call `cached()` before consuming more than one channel so the
  * pass runs once, and before a global sort (`orderBy`) over a channel,
  * whose range partitioner runs the script to sample the sort keys.
  */
final case class TransformResult(tagged: DataFrame, outSchema: StructType,
                                 errSchema: StructType) {
  def out: DataFrame =
    tagged.filter(col("_tag") === "out").select(col("_out.*"))
  def errors: DataFrame =
    tagged.filter(col("_tag") === "err").select(col("_err.*"))
  def alerts: DataFrame =
    tagged.filter(col("_tag") === "alert").select(col("_alert").as("payload"))
  def cached(): TransformResult = { tagged.persist(); this }
}

/** Imperative record-at-a-time transform — the engine's fully-general path,
  * equivalent to the reference's Native execution mode (out-of-process
  * script, ref: Py4jPythonExecutor.java) re-expressed as one planned
  * operator: the user closure runs once per record on executors, no
  * driver round-trip, linear scale-out. Prefer the declarative
  * [[Dsl]] path (whole-stage codegen) when the transform is expressible as
  * column expressions; this path costs one serialization boundary: a
  * codec compiled once per task from the input and output schemas
  * ([[SchemaCodec.StructCodec]]) reads the record's fields from the
  * child's InternalRow as the script asks for them and writes emitted
  * maps straight into catalyst values. It and
  * [[ProcessScriptTransform.python]] share [[planned]].
  */
object ScriptTransform {

  /** What to do when the user closure throws on a record. */
  sealed trait ErrorPolicy
  /** Fail the job (the reference's default: script exception → stage
    * failure). */
  case object FailFast extends ErrorPolicy
  /** Route the failing record to the error channel with the exception
    * message — the pipeline keeps running, bad records are quarantined
    * with full context instead of poisoning a 100 TB job. */
  final case class RouteToErrors(errorCode: Int = 500) extends ErrorPolicy

  def apply(df: DataFrame, outSchema: StructType,
            arguments: Map[String, String] = Map.empty,
            metrics: Metrics = Metrics.none,
            lookups: Map[String, Map[String, Any]] = Map.empty,
            onError: ErrorPolicy = FailFast)
           (fn: (Map[String, Any], Emitter, ScriptContext) => Unit): TransformResult =
    planned(df, outSchema, "jvm", lookups) { (inSchema, taggedSchema, bcLookups) =>
      val ctx = new ScriptContext(arguments, metrics, bcLookups)
      // The task reads the child's InternalRows and writes the tagged
      // rows' catalyst values through a codec compiled once per task from
      // the two schemas (SchemaCodec.StructCodec): the record is a view
      // that reads a field only when the script asks for it, an emitted
      // map is written straight into the tagged row, and the one
      // UnsafeProjection writes that. The view is valid for the duration
      // of the transform call, same as the reference contract: the
      // child's (reused) row advances when the call returns.
      irs => {
        val in = new SchemaCodec.StructCodec(inSchema)
        val out = new SchemaCodec.StructCodec(outSchema)
        val alert = SchemaCodec.writer(MapType(StringType, StringType))
        val toUnsafe = UnsafeProjection.create(taggedSchema)
        val record = in.view()
        // the current record's tagged rows; one buffer per task
        val buf = new ArrayBuffer[InternalRow]
        def tagged(tag: UTF8String, o: Any, e: Any, a: Any): Unit =
          buf += new GenericInternalRow(Array[Any](tag, o, e, a))
        val emitter = new Emitter {
          def emit(r: Map[String, Any]): Unit = tagged(TagOut, out.write(r), null, null)
          def emitError(code: Int, msg: String, bad: Map[String, Any]): Unit = {
            val values = new Array[Any](in.length + 2)
            values(0) = code
            values(1) = if (msg == null) null else UTF8String.fromString(msg)
            var i = 0
            while (i < in.length) {
              values(i + 2) = in.writeLoose(i, bad.getOrElse(in.name(i), null))
              i += 1
            }
            tagged(TagErr, null, new GenericInternalRow(values), null)
          }
          def emitAlert(payload: Map[String, String]): Unit =
            tagged(TagAlert, null, null, alert(payload))
        }
        def runRecord(): Unit =
          try fn(record, emitter, ctx)
          catch {
            case e: SchemaCodec.UnconvertibleValue => throw e
            case e: Exception => onError match {
              case FailFast => throw e
              case RouteToErrors(code) =>
                emitter.emitError(code, s"${e.getClass.getSimpleName}: ${e.getMessage}", record)
            }
          }
        irs.flatMap { ir =>
          buf.clear()
          record.row = ir
          runRecord()
          // lazy: the projection reuses one UnsafeRow
          buf.iterator.map(toUnsafe)
        }
      }
    }

  private val TagOut = UTF8String.fromString("out")
  private val TagErr = UTF8String.fromString("err")
  private val TagAlert = UTF8String.fromString("alert")

  /** The error-channel row for a record: code, message, then input field
    * `i` (as an external value) for each of the input's `n` fields. */
  private[transform] def errorRow(code: Int, msg: String, n: Int)(field: Int => Any): Row = {
    val values = new Array[Any](n + 2)
    values(0) = code
    values(1) = msg
    var i = 0
    while (i < n) { values(i + 2) = field(i); i += 1 }
    Row("err", null, new GenericRow(values), null)
  }

  /** The transform of `df` by the per-partition run that `backend` builds
    * from the input schema, the tagged schema and the lookups broadcast
    * (null for no lookups: a broadcast lives until the SparkContext dies).
    * An input of fewer than `defaultParallelism` partitions is spread to
    * that many first, when its count is known without running a job: a
    * narrow parquet scan at small scale yields 1-3 splits, and
    * interpreting a record costs more than shuffling it. */
  private[transform] def planned(
      df: DataFrame, outSchema: StructType, engine: String,
      lookups: Map[String, Map[String, Any]])(
      backend: (StructType, StructType, Broadcast[Map[String, Map[String, Any]]]) =>
        ScriptPlan.Run): TransformResult = {
    val sc = df.sparkSession.sparkContext
    val floor = sc.defaultParallelism
    val in =
      if (partitionsWithoutJob(df.queryExecution.executedPlan).exists(_ < floor))
        df.repartition(floor)
      else df
    val errSchema = StructType(
      StructField("errorCode", IntegerType) ::
      StructField("errorMsg", StringType) :: in.schema.fields.toList)
    val taggedSchema = StructType(Seq(
      StructField("_tag", StringType, nullable = false),
      StructField("_out", outSchema),
      StructField("_err", errSchema),
      StructField("_alert", MapType(StringType, StringType))))
    val bcLookups = if (lookups.isEmpty) null else sc.broadcast(lookups)
    val run = backend(in.schema, taggedSchema, bcLookups)
    TransformResult(ScriptPlan(in, engine, taggedSchema, run), outSchema, errSchema)
  }

  /** A plan's partition count when its physical nodes state it: a scan's
    * splits, or a declared output partitioning, read through narrow nodes
    * that keep their child's count. None under an adaptive plan, whose
    * counts settle only once its stages run. */
  private def partitionsWithoutJob(p: SparkPlan): Option[Int] = p match {
    case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
    case _ if p.outputPartitioning.numPartitions > 0 =>
      Some(p.outputPartitioning.numPartitions)
    case u: UnaryExecNode => partitionsWithoutJob(u.child)
    case _ => None
  }
}
