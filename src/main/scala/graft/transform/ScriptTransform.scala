package graft.transform

import scala.collection.mutable.ListBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericRow, UnsafeProjection}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScriptPlan
import org.apache.spark.sql.types._
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
  * column expressions; this path costs one serialization boundary. It
  * and [[ProcessScriptTransform.python]] share [[planned]].
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
      val inFields = inSchema.fields
      // lazy per-row view: decoding happens only for the fields the user
      // closure actually reads (measured ~25% on wide-input transforms)
      val rowMapper = new SchemaCodec.RowMapper(inSchema)

      // one record's worth of script execution
      def runRecord(row: Row, buf: ListBuffer[Row]): Unit = {
        val record = rowMapper(row)
        val emitter = new Emitter {
          def emit(r: Map[String, Any]): Unit =
            buf += Row("out", SchemaCodec.mapToRow(r, outSchema), null, null)
          def emitError(code: Int, msg: String, bad: Map[String, Any]): Unit =
            buf += errorRow(code, msg, inFields.length)(i => SchemaCodec.encode(
              bad.getOrElse(inFields(i).name, null), inFields(i).dataType))
          def emitAlert(payload: Map[String, String]): Unit =
            buf += Row("alert", null, null, payload)
        }
        try fn(record, emitter, ctx)
        catch {
          case e: Exception => onError match {
            case FailFast => throw e
            case RouteToErrors(code) =>
              emitter.emitError(code, s"${e.getClass.getSimpleName}: ${e.getMessage}", record)
          }
        }
      }

      // The task reads the input's InternalRows directly through a lazy
      // Row view (per-field CatalystTypeConverters on ACCESS — the same
      // external values a Row encoder produces, converter-for-converter),
      // so an opaque closure reading 5 of 16 lineitem columns pays 5
      // conversions per row, not 16; emitted tagged rows convert once to
      // catalyst on the way out. A Dataset mapPartitions with a Row
      // encoder measured 3-8% slower. The record view is valid for the
      // duration of the transform call, same as the reference contract —
      // the underlying (reused) UnsafeRow advances when the call returns.
      val inDts = inFields.map(_.dataType)
      irs => {
        val convs = inDts.map(CatalystTypeConverters.createToScalaConverter)
        val toCat = CatalystTypeConverters.createToCatalystConverter(taggedSchema)
        val toUnsafe = UnsafeProjection.create(taggedSchema)
        // one reusable lazy view per task — the script contract scopes a
        // record to its transform call
        var ir: InternalRow = null
        val view: Row = new Row {
          override def length: Int = inDts.length
          override def get(i: Int): Any =
            if (ir.isNullAt(i)) null else convs(i)(ir.get(i, inDts(i)))
          override def isNullAt(i: Int): Boolean = ir.isNullAt(i)
          override def copy(): Row = Row.fromSeq((0 until length).map(get))
        }
        irs.flatMap { ir0 =>
          ir = ir0
          val buf = new ListBuffer[Row]
          runRecord(view, buf)
          // lazy: the projection reuses one UnsafeRow
          buf.iterator.map(r => toUnsafe(toCat(r).asInstanceOf[InternalRow]))
        }
      }
    }

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
