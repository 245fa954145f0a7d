package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.operators.{Dedup, TextAnalysis}
import graft.transform.{Dsl, Metrics, ProcessScriptTransform, ScriptTransform, TransformResult}

/** One output channel of a pass. `keysOnly` marks the one channel whose
  * content is a disclosed approximation (ngramJaccard's df cap): it is
  * checked as a set of (doc_a, doc_b) keys, so missing pairs lower
  * result_recall while extra pairs still fail the pass. */
final case class Channel(name: String, df: DataFrame, keysOnly: Boolean = false)

/** A built pipeline: its channels, the script Metrics it registered (if
  * any) and what must run after the channels are consumed. */
final case class Built(channels: Seq[Channel], metrics: Option[Metrics] = None,
                       cleanup: () => Unit = () => ())

/** A benchmark workload. `build(prefix)` constructs the pipeline through
  * the program's public entry points only; every call into the program
  * is wrapped in `tr.build` so the traced run can time it. Untraced runs
  * always build "full"; the traced run walks `prefixes` in order. */
trait Workload {
  def name: String
  def tables: Seq[String]
  def prefixes: Seq[String]
  def build(prefix: String, in: Map[String, DataFrame], tr: Tracer): Built
}

object Workloads {
  def byName(n: String): Workload = n match {
    case "py_json" => PyJson
    case "py_arrow" => PyArrow
    case "jvm_etl" => JvmEtl
    case "curation" => Curation
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def load(spark: SparkSession, data: String, w: Workload): Map[String, DataFrame] =
    w.tables.map(t => t -> Tables.load(spark, data, t)).toMap

  /** All three channels from one cached script pass. */
  def channels(r: TransformResult): Built = {
    r.cached()
    Built(Seq(Channel("out", r.out), Channel("errors", r.errors), Channel("alerts", r.alerts)),
      cleanup = () => r.tagged.unpersist())
  }

  val identityScript: String =
    """def transform(record, emitter, context):
      |    emitter.emit(record)
      |""".stripMargin
}

/** Shared shape of the two python workloads: scan, identity script, the
  * workload script, and the one-record-per-partition `fixed` pass. */
abstract class PyWorkload extends Workload {
  def inputTable: String
  def script: String
  def outSchema: StructType
  def arguments: Map[String, String] = Map.empty
  def lookups(in: Map[String, DataFrame]): Map[String, Map[String, Any]] = Map.empty
  val prefixes = Seq("scan", "identity", "full")
  def tables: Seq[String] = Seq(inputTable, "fixed")

  def build(prefix: String, in: Map[String, DataFrame], tr: Tracer): Built = {
    val df = if (prefix == "fixed") in("fixed") else in(inputTable)
    prefix match {
      case "scan" => Built(Seq(Channel("scan", df)))
      case "identity" =>
        Workloads.channels(tr.build("ProcessScriptTransform.python")(
          ProcessScriptTransform.python(df, df.schema, Workloads.identityScript)))
      case _ =>
        val lk = tr.build("lookups.collect")(lookups(in))
        val m = tr.build("Metrics")(Metrics(df.sparkSession, "records"))
        val r = tr.build("ProcessScriptTransform.python")(
          ProcessScriptTransform.python(df, outSchema, script, arguments = arguments,
            metrics = m, lookups = lk))
        Workloads.channels(r).copy(metrics = Some(m))
    }
  }
}

/** ~100k order records, plain schema (JSON wire). Twin: ref.PY_JSON. */
object PyJson extends PyWorkload {
  val name = "py_json"
  val inputTable = "orders"
  override def tables: Seq[String] = super.tables :+ "regions"
  override val arguments = Map("rate" -> "1.08")
  val script: String =
    """def transform(record, emitter, context):
      |    context.getMetrics().count("records")
      |    amount = record["amount"]
      |    if amount < 0:
      |        emitter.emitError({"errorCode": 400, "errorMsg": "negative amount",
      |                           "invalidRecord": record})
      |        return
      |    note = record["note"]
      |    if note.startswith("!"):
      |        emitter.emitAlert({"order_id": str(record["order_id"]), "reason": "flagged note"})
      |    region = context.lookup("regions", record["region_id"])
      |    rate = float(context.getArguments()["rate"])
      |    for line in range(record["order_id"] % 3):
      |        emitter.emit({"order_id": record["order_id"], "line": line, "region": region,
      |                      "gross": amount * rate, "words": note.count(" ") + 1,
      |                      "head": note[:12]})
      |""".stripMargin
  val outSchema: StructType = StructType(Seq(
    StructField("order_id", LongType), StructField("line", IntegerType),
    StructField("region", StringType), StructField("gross", DoubleType),
    StructField("words", IntegerType), StructField("head", StringType)))
  override def lookups(in: Map[String, DataFrame]): Map[String, Map[String, Any]] =
    Map("regions" -> in("regions").collect()
      .map(r => r.getLong(0).toString -> (r.getString(1): Any)).toMap)
}

/** ~40k events with 2-6 KB binary payloads and datetime cells: ~40 MB
  * per partition clears the Arrow gate. Twin: ref.PY_ARROW. */
object PyArrow extends PyWorkload {
  val name = "py_arrow"
  val inputTable = "events"
  override def tables: Seq[String] = super.tables :+ "segments"
  override val arguments = Map("shift_hours" -> "1")
  val script: String =
    """import datetime
      |_DAY = datetime.timedelta(days=1)
      |
      |def transform(record, emitter, context):
      |    context.getMetrics().count("records")
      |    p = record["payload"]
      |    if p[0] < 3:
      |        emitter.emitError({"errorCode": 422, "errorMsg": "bad lead byte",
      |                           "invalidRecord": record})
      |        return
      |    if p[0] == 255 and p[1] < 64:
      |        emitter.emitAlert({"event_id": str(record["event_id"]), "reason": "marker"})
      |    ts = record["ts"] + datetime.timedelta(hours=int(context.getArguments()["shift_hours"]))
      |    segment = context.lookup("segments", record["user_id"] % 100)
      |    for part in range(record["event_id"] % 3):
      |        emitter.emit({"event_id": record["event_id"], "part": part, "segment": segment,
      |                      "chunk": p[part * 16:(part + 1) * 16], "size": len(p),
      |                      "ts_shift": ts, "ts_day": ts.date(), "day_next": record["day"] + _DAY})
      |""".stripMargin
  val outSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("part", IntegerType),
    StructField("segment", StringType), StructField("chunk", BinaryType),
    StructField("size", IntegerType), StructField("ts_shift", TimestampType),
    StructField("ts_day", DateType), StructField("day_next", DateType)))
  override def lookups(in: Map[String, DataFrame]): Map[String, Map[String, Any]] =
    Map("segments" -> in("segments").collect()
      .map(r => r.getLong(0).toString -> (r.getString(1): Any)).toMap)
}

/** ~300k lineitem rows: Dsl spec + splitErrors, a ScriptTransform
  * closure, then a dimension join and group-by. Twin: ref.JVM_ETL. */
object JvmEtl extends Workload {
  val name = "jvm_etl"
  val tables = Seq("lineitem", "part", "supplier")
  val prefixes = Seq("scan", "dsl", "script", "full")

  val outSchema: StructType = StructType(Seq(
    StructField("l_partkey", LongType), StructField("nation", StringType),
    StructField("net", DoubleType), StructField("charge", DoubleType),
    StructField("qty", DoubleType)))

  def build(prefix: String, in: Map[String, DataFrame], tr: Tracer): Built = {
    val li = in("lineitem")
    if (prefix == "scan") return Built(Seq(Channel("scan", li)))
    val (valid, dslErrors) = tr.build("Dsl") {
      val spec = Dsl.TransformSpec(
        Dsl.SetField("net", col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        Dsl.FilterRows(col("l_quantity") > 0),
        Dsl.ExplodeField("tag", split(col("l_tags"), ";")))
      Dsl.splitErrors(spec(li), col("l_discount") > 0.095 || length(col("l_comment")) < 4,
        422, lit("discount or comment out of range"))
    }
    if (prefix == "dsl")
      return Built(Seq(Channel("valid", valid), Channel("dsl_errors", dslErrors)))
    val supp = tr.build("lookups.collect")(in("supplier").collect()
      .map(r => r.getLong(0).toString -> (r.getString(1): Any)).toMap)
    val m = tr.build("Metrics")(Metrics(li.sparkSession, "records", "emitted"))
    val r = tr.build("ScriptTransform.apply")(
      ScriptTransform(valid, outSchema, metrics = m, lookups = Map("supp_nation" -> supp)) {
        (rec, em, ctx) =>
          ctx.metrics.count("records")
          val nation = ctx.lookup("supp_nation", rec("l_suppkey"))
          if (nation == null) em.emitError(404, "unknown supplier", rec)
          else if (rec("tag") != "x") {
            ctx.metrics.count("emitted")
            val net = rec("net").asInstanceOf[Double]
            em.emit(Map("l_partkey" -> rec("l_partkey"), "nation" -> nation, "net" -> net,
              "charge" -> net * (1.0 + rec("l_tax").asInstanceOf[Double]),
              "qty" -> rec("l_quantity")))
          }
      })
    r.cached()
    val base = Seq(Channel("dsl_errors", dslErrors), Channel("script_errors", r.errors))
    val cleanup = () => { r.tagged.unpersist(); () }
    if (prefix == "script")
      return Built(base :+ Channel("script_out", r.out), Some(m), cleanup)
    val agg = tr.build("join+groupBy") {
      def micros(c: String) = sum(floor(col(c) * lit(1000000.0) + lit(0.5)).cast(LongType))
      r.out.join(in("part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("nation"), col("p_brand"))
        .agg(count(lit(1)).as("n_lines"), micros("net").as("net_micros"),
          micros("charge").as("charge_micros"), sum(col("qty")).as("qty"))
    }
    Built(base :+ Channel("agg", agg), Some(m), cleanup)
  }
}

/** ~10k Zipfian documents: curationPipeline plus ngramJaccard over the
  * same corpus. Twin: TextAnalysis.qCurationE2eSql and ref.NGRAM_EXACT. */
object Curation extends Workload {
  val name = "curation"
  val tables = Seq("documents")
  val prefixes = Seq("scan", "curation", "ngram", "full")

  def build(prefix: String, in: Map[String, DataFrame], tr: Tracer): Built = {
    val docs = in("documents")
    def curated = Channel("curated",
      tr.build("TextAnalysis.curationPipeline")(TextAnalysis.curationPipeline(docs)))
    def pairs = Channel("pairs",
      tr.build("Dedup.ngramJaccard")(Dedup.ngramJaccard(docs))
        .select(col("doc_a"), col("doc_b")), keysOnly = true)
    Built(prefix match {
      case "scan" => Seq(Channel("scan", docs))
      case "curation" => Seq(curated)
      case "ngram" => Seq(pairs)
      case _ => Seq(curated, pairs)
    })
  }
}
