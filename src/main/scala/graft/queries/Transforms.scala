package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.transform.{Dsl, Metrics, ProcessScriptTransform, ScriptTransform}
import graft.transform.Dsl._

/** Record-transform surface (SURVEY.md §2.A) — reference parity.
  *
  * Each query exercises one capability of the reference transform plugin
  * (per-record mutation, flat-map emit, error channel, schema override,
  * filter, runtime arguments, nested codec, imperative scripts) through
  * either the declarative [[Dsl]] path or the imperative [[ScriptTransform]]
  * path, with a DuckDB oracle for each.
  */
object Transforms {
  // The imperative (script) queries return their channel unsorted. A
  // global sort's range partitioner samples its child, so an orderBy
  // over a script channel would run the script twice per record; the
  // oracle compare sorts rows itself, and the script stays lazy and
  // visible in the plan.

  /** Per-record field mutation — ref testSimple scales a field by 1024. */
  def xfScale(spark: SparkSession, dir: String): DataFrame =
    TransformSpec(
      SetField("l_quantity", col("l_quantity") * 1024),
      Project("l_orderkey" -> col("l_orderkey"),
              "l_linenumber" -> col("l_linenumber"),
              "l_quantity" -> col("l_quantity")))
      .apply(Tables.lineitem(spark, dir))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val xfScaleSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity * 1024 AS l_quantity
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** 0..N emits per record — ref testSimple emits each record twice. */
  def xfFlatmap(spark: SparkSession, dir: String): DataFrame =
    TransformSpec(
      ExplodeField("copy", array(lit(0), lit(1))),
      Project("l_orderkey" -> col("l_orderkey"),
              "l_linenumber" -> col("l_linenumber"),
              "copy" -> col("copy")))
      .apply(Tables.lineitem(spark, dir))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("copy"))

  val xfFlatmapSql: String =
    """SELECT l_orderkey, l_linenumber, copy
      |FROM lineitem CROSS JOIN (SELECT 0 AS copy UNION ALL SELECT 1)
      |ORDER BY l_orderkey, l_linenumber, copy""".stripMargin

  /** emitError channel: invalid records routed to an error table carrying
    * (errorCode, errorMsg, full invalid record). */
  def xfErrors(spark: SparkSession, dir: String): DataFrame = {
    val (_, errors) = Dsl.splitErrors(
      Tables.lineitem(spark, dir),
      invalidWhen = col("l_discount") > 0.06,
      errorCode = 42,
      errorMsg = lit("discount above policy threshold"))
    errors.orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val xfErrorsSql: String =
    """SELECT 42 AS errorCode, 'discount above policy threshold' AS errorMsg, *
      |FROM lineitem WHERE l_discount > 0.06
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Output-schema override: project + rename + computed field (ref
    * testNewOutputEmit). */
  def xfProject(spark: SparkSession, dir: String): DataFrame =
    TransformSpec(
      Project("key" -> col("o_orderkey"),
              "order_year" -> year(col("o_orderdate")),
              "total" -> col("o_totalprice")))
      .apply(Tables.orders(spark, dir))
      .orderBy(col("key"))

  val xfProjectSql: String =
    """SELECT o_orderkey AS key, EXTRACT(year FROM o_orderdate) AS order_year,
      |  o_totalprice AS total
      |FROM orders ORDER BY key""".stripMargin

  /** Predicate filter: script that emits only some records. */
  def xfFilter(spark: SparkSession, dir: String): DataFrame =
    TransformSpec(
      FilterRows(col("l_quantity") < 10),
      Project("l_orderkey" -> col("l_orderkey"),
              "l_linenumber" -> col("l_linenumber"),
              "l_quantity" -> col("l_quantity")))
      .apply(Tables.lineitem(spark, dir))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val xfFilterSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem WHERE l_quantity < 10
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Runtime-arguments-parameterized transform (ref testArguments:
    * multiplier=5 arrives via context.getArguments). Imperative path so the
    * argument genuinely crosses the script boundary. */
  def xfArgs(spark: SparkSession, dir: String): DataFrame = {
    val out = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("scaled", DoubleType)))
    ScriptTransform(Tables.orders(spark, dir), out,
        arguments = Map("multiplier" -> "5")) { (r, em, ctx) =>
      val m = ctx.arguments("multiplier").toInt
      em.emit(Map("o_orderkey" -> r("o_orderkey"),
                  "scaled" -> r("o_totalprice").asInstanceOf[Double] * m))
    }.out
  }

  val xfArgsSql: String =
    """SELECT o_orderkey, o_totalprice * 5 AS scaled
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Nested struct/array/map codec round-trip (ref PythonObjectsEncoder):
    * build nested values, cross the script boundary, read them back in the
    * closure, emit flattened results. */
  def xfNested(spark: SparkSession, dir: String): DataFrame = {
    val nested = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      struct(col("o_custkey"), col("o_totalprice")).as("info"),
      array(col("o_totalprice"), col("o_totalprice") * 2).as("arr"),
      map(lit("p"), col("o_totalprice")).as("m"))
    val out = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("custkey", LongType),
      StructField("arr_sum", DoubleType),
      StructField("p", DoubleType)))
    ScriptTransform(nested, out) { (r, em, _) =>
      val info = r("info").asInstanceOf[Map[String, Any]]
      val arr = r("arr").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double])
      val m = r("m").asInstanceOf[Map[String, Any]]
      em.emit(Map(
        "o_orderkey" -> r("o_orderkey"),
        "custkey" -> info("o_custkey"),
        "arr_sum" -> arr.sum,
        "p" -> m("p")))
    }.out
  }

  val xfNestedSql: String =
    """SELECT o_orderkey, o_custkey AS custkey,
      |  o_totalprice + o_totalprice * 2 AS arr_sum, o_totalprice AS p
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** ENUM schema type through the script boundary (ref
    * PythonObjectsEncoder.java:51,129 — ENUM encodes as its symbol
    * string; the reference's decode throws even on valid data, Graft
    * validates both directions). The INPUT declares l_returnflag as an
    * enum of its three symbols (decode-validated against the declared
    * set), and the OUTPUT declares a status enum the script emits both
    * ways — by symbol string and by ordinal int — so encode validation
    * and ordinal coercion are both on the driver-checked path. */
  def xfEnum(spark: SparkSession, dir: String): DataFrame = {
    import graft.transform.SchemaCodec
    val in = Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_returnflag").as("rflag",
        SchemaCodec.enumField("rflag", Seq("A", "N", "R")).metadata))
    val out = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      SchemaCodec.enumField("status", Seq("RETURN", "PENDING", "SHIPPED"))))
    ScriptTransform(in, out) { (r, em, _) =>
      val status: Any = r("rflag") match {
        case "R" => 0        // ordinal form: coerced to "RETURN"
        case "A" => "SHIPPED" // symbol form: validated pass-through
        case _   => "PENDING"
      }
      em.emit(Map(
        "l_orderkey" -> r("l_orderkey"),
        "l_linenumber" -> r("l_linenumber"),
        "status" -> status))
    }.out
  }

  val xfEnumSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE l_returnflag WHEN 'R' THEN 'RETURN' WHEN 'A' THEN 'SHIPPED'
      |    ELSE 'PENDING' END AS status
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Fully-imperative script: per-record conditional filter + computed
    * field + stage metrics, distributed as one planned script stage (the
    * reference's Native-mode equivalent). */
  def xfScript(spark: SparkSession, dir: String): DataFrame = {
    val out = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("charge", DoubleType)))
    val metrics = Metrics(spark, "processed", "emitted")
    ScriptTransform(Tables.lineitem(spark, dir), out, metrics = metrics) {
      (r, em, ctx) =>
        ctx.metrics.count("processed")
        if (r("l_returnflag") != "R") {
          ctx.metrics.count("emitted")
          em.emit(Map(
            "l_orderkey" -> r("l_orderkey"),
            "l_linenumber" -> r("l_linenumber"),
            "charge" -> r("l_extendedprice").asInstanceOf[Double] *
              (1.0 - r("l_discount").asInstanceOf[Double])))
        }
    }.out
  }

  val xfScriptSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1.0 - l_discount) AS charge
      |FROM lineitem WHERE l_returnflag <> 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Actual out-of-process PYTHON execution (the reference's native
    * language, ref Py4jPythonExecutor.java): the user script below is
    * reference-API-shaped (`transform(record, emitter, context)`,
    * `context.getArguments()`) and would run unchanged in the reference
    * plugin. One python3 worker per partition, batched wire frames —
    * see [[graft.transform.ProcessScriptTransform]]. */
  def xfPyscript(spark: SparkSession, dir: String): DataFrame = {
    val out = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("bucket", StringType),
      StructField("scaled", DoubleType)))
    val script =
      """def transform(record, emitter, context):
        |    m = int(context.getArguments()["multiplier"])
        |    if record["o_totalprice"] >= 200000.0:
        |        bucket = "high"
        |    else:
        |        bucket = "low"
        |    emitter.emit({"o_orderkey": record["o_orderkey"],
        |                  "bucket": bucket,
        |                  "scaled": record["o_totalprice"] * m})
        |""".stripMargin
    ProcessScriptTransform.python(
        Tables.orders(spark, dir).select("o_orderkey", "o_totalprice"),
        out, script, arguments = Map("multiplier" -> "3")).out
  }

  val xfPyscriptSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice >= 200000.0 THEN 'high' ELSE 'low' END AS bucket,
      |  o_totalprice * 3 AS scaled
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** The error channel on the PYTHON path, driver-verified (xf_errors
    * covers the declarative path): a script exception under
    * RouteToErrors quarantines the failing record — full input plus
    * errorCode and the exception text — instead of failing the stage.
    * Deterministic because the script raises on a data condition. */
  def xfPyerrors(spark: SparkSession, dir: String): DataFrame = {
    val out = StructType(Seq(StructField("o_orderkey", LongType)))
    val script =
      """def transform(record, emitter, context):
        |    if record["o_totalprice"] > 400000.0:
        |        raise ValueError("price cap exceeded")
        |    emitter.emit({"o_orderkey": record["o_orderkey"]})
        |""".stripMargin
    ProcessScriptTransform.python(
        Tables.orders(spark, dir).select("o_orderkey", "o_totalprice"),
        out, script,
        onError = ScriptTransform.RouteToErrors(7)).errors
  }

  val xfPyerrorsSql: String =
    """SELECT 7 AS errorCode, 'ValueError: price cap exceeded' AS errorMsg,
      |  o_orderkey, o_totalprice
      |FROM orders WHERE o_totalprice > 400000.0 ORDER BY o_orderkey""".stripMargin

  /** The alert channel on the PYTHON path, driver-verified — with
    * xf_pyscript (emit) and xf_pyerrors this makes all three reference
    * channels hash-checked end to end through the worker protocol. */
  def xfPyalerts(spark: SparkSession, dir: String): DataFrame = {
    val out = StructType(Seq(StructField("o_orderkey", LongType)))
    val script =
      """def transform(record, emitter, context):
        |    if record["o_totalprice"] > 450000.0:
        |        emitter.emitAlert({"reason": "very_high_value",
        |                           "order": str(record["o_orderkey"])})
        |    emitter.emit({"o_orderkey": record["o_orderkey"]})
        |""".stripMargin
    ProcessScriptTransform.python(
        Tables.orders(spark, dir).select("o_orderkey", "o_totalprice"),
        out, script)
      .alerts
      .select(col("payload")("reason").as("reason"),
        col("payload")("order").cast(LongType).as("o_orderkey"))
  }

  val xfPyalertsSql: String =
    """SELECT 'very_high_value' AS reason, o_orderkey
      |FROM orders WHERE o_totalprice > 450000.0 ORDER BY o_orderkey""".stripMargin

  /** Lookup datasets in the PYTHON script context — parity with
    * xf_lookup's Scala path (the reference *declares* context lookups
    * but throws UnsupportedOperation; Graft supports them on both
    * paths). The dimension map is torrent-broadcast to executors and
    * handed to each worker once at init, never per record. */
  def xfPylookup(spark: SparkSession, dir: String): DataFrame = {
    val out = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("prio_code", StringType)))
    val script =
      """def transform(record, emitter, context):
        |    code = context.lookup("prio_code", record["o_orderpriority"])
        |    emitter.emit({"o_orderkey": record["o_orderkey"],
        |                  "prio_code": code if code is not None else "?"})
        |""".stripMargin
    ProcessScriptTransform.python(
        Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        out, script,
        lookups = Map("prio_code" -> Map(
          "1-URGENT" -> "U", "2-HIGH" -> "H", "3-MEDIUM" -> "M",
          "4-NOT SPECIFIED" -> "N", "5-LOW" -> "L"))).out
  }

  val xfPylookupSql: String =
    """SELECT o_orderkey,
      |  CASE o_orderpriority
      |    WHEN '1-URGENT' THEN 'U' WHEN '2-HIGH' THEN 'H'
      |    WHEN '3-MEDIUM' THEN 'M' WHEN '4-NOT SPECIFIED' THEN 'N'
      |    WHEN '5-LOW' THEN 'L' ELSE '?' END AS prio_code
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** BINARY and datetime columns across the PYTHON process boundary
    * (ref: PythonObjectsEncoder.java:48 BYTES, :126/:173 logical types):
    * the script receives real `bytes` and timezone-aware
    * `datetime.datetime` objects, slices/measures the bytes and does
    * datetime arithmetic, and emits bytes + timestamp + date back —
    * every leg schema-driven through the side-bytes/epoch wire codec
    * ([[graft.transform.ProcessScriptTransform]] WireCodec + worker
    * `_DEC`/`_ENC`), hash-verified against DuckDB's native BLOB and
    * TIMESTAMP arithmetic. */
  def xfPybytes(spark: SparkSession, dir: String): DataFrame = {
    val out = StructType(Seq(
      StructField("event_id", LongType),
      StructField("head", BinaryType),
      StructField("n_bytes", LongType),
      StructField("shifted", TimestampType),
      StructField("day", DateType)))
    val script =
      """import datetime
        |
        |def transform(record, emitter, context):
        |    p = record["payload"]                     # bytes
        |    t = record["ts"]                          # aware datetime (UTC)
        |    s = t + datetime.timedelta(minutes=90)
        |    emitter.emit({"event_id": record["event_id"],
        |                  "head": p[:8],
        |                  "n_bytes": len(p),
        |                  "shifted": s,
        |                  "day": s.date()})
        |""".stripMargin
    ProcessScriptTransform.python(
        Tables.events(spark, dir)
          .select(col("event_id"), col("ts"),
            col("props").cast(BinaryType).as("payload")),
        out, script)
      .out
      // binary compares as hex in the oracle layer (repo convention, see
      // mm_frames: the hash compare can't order raw blobs portably); the
      // wire codec still moved real bytes both directions above
      .select(col("event_id"), hex(col("head")).as("head_hex"),
        col("n_bytes"), col("shifted"),
        // DATE also travels as ISO text in the compare layer: DuckDB's
        // pandas bridge renders DATE as midnight timestamps, so raw DATE
        // columns are unorderable across engines in the hash compare
        date_format(col("day"), "yyyy-MM-dd").as("day_str"))
  }

  /** DuckDB twin: UTF-8 encode to BLOB, byte slice via hex (DuckDB has
    * no BLOB substring; 16 hex chars = 8 bytes), interval arithmetic on
    * the micros-truncated timestamp (same truncation Tables.events
    * applies). */
  val xfPybytesSql: String =
    """WITH ev AS (
      |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
      |    encode(props) AS payload
      |  FROM events)
      |SELECT event_id,
      |  upper(substr(to_hex(payload), 1, 16)) AS head_hex,
      |  octet_length(payload) AS n_bytes,
      |  ts + INTERVAL 90 MINUTE AS shifted,
      |  strftime(CAST(ts + INTERVAL 90 MINUTE AS DATE), '%Y-%m-%d') AS day_str
      |FROM ev ORDER BY event_id""".stripMargin

  /** emitAlert channel (ref PythonEvaluator.java:191-194): script flags
    * anomalous records as alert payloads riding the same single tagged
    * pass as the output channel; the driver query surfaces the alerts
    * table. Also exercises the script logger ([[graft.transform
    * .ScriptLogger]]) on the alert path. */
  def xfAlerts(spark: SparkSession, dir: String): DataFrame = {
    val out = StructType(Seq(StructField("o_orderkey", LongType)))
    val res = ScriptTransform(Tables.orders(spark, dir), out) { (r, em, ctx) =>
      val price = r("o_totalprice").asInstanceOf[Double]
      if (price > 400000.0) {
        ctx.logger.warn(s"high-value order ${r("o_orderkey")}")
        em.emitAlert(Map("reason" -> "high_value",
                         "order" -> r("o_orderkey").toString))
      }
      em.emit(Map("o_orderkey" -> r("o_orderkey")))
    }
    res.alerts
      .select(element_at(col("payload"), "order").cast(LongType).as("o_orderkey"),
        element_at(col("payload"), "reason").as("reason"))
  }

  val xfAlertsSql: String =
    """SELECT o_orderkey, 'high_value' AS reason
      |FROM orders WHERE o_totalprice > 400000.0
      |ORDER BY o_orderkey""".stripMargin

  /** Lookup-provider transform (ref declares context.getLookup but throws
    * Unsupported — Graft implements it): enrich each customer with its
    * nation name from a broadcast lookup dataset. The imperative
    * equivalent of a broadcast join, for script code that needs point
    * lookups mid-logic. */
  def xfLookup(spark: SparkSession, dir: String): DataFrame = {
    val nations = Tables.nation(spark, dir).collect()
      .map(r => r.getAs[Int]("n_nationkey").toString -> (r.getAs[String]("n_name"): Any))
      .toMap
    val out = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("nation_name", StringType)))
    ScriptTransform(Tables.customer(spark, dir), out,
        lookups = Map("nations" -> nations)) { (r, em, ctx) =>
      em.emit(Map(
        "c_custkey" -> r("c_custkey"),
        "nation_name" -> ctx.lookup("nations", r("c_nationkey"))))
    }.out
  }

  val xfLookupSql: String =
    """SELECT c_custkey, n_name AS nation_name
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY c_custkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "xf_pybytes" -> (xfPybytes _),
    "xf_pyscript" -> (xfPyscript _),
    "xf_pylookup" -> (xfPylookup _),
    "xf_pyerrors" -> (xfPyerrors _),
    "xf_pyalerts" -> (xfPyalerts _),
    "xf_alerts" -> (xfAlerts _),
    "xf_lookup" -> (xfLookup _),
    "xf_scale" -> (xfScale _),
    "xf_flatmap" -> (xfFlatmap _),
    "xf_errors" -> (xfErrors _),
    "xf_project" -> (xfProject _),
    "xf_filter" -> (xfFilter _),
    "xf_args" -> (xfArgs _),
    "xf_nested" -> (xfNested _),
    "xf_enum" -> (xfEnum _),
    "xf_script" -> (xfScript _))

  val oracles: Map[String, String] = Map(
    "xf_pybytes" -> xfPybytesSql,
    "xf_pyscript" -> xfPyscriptSql,
    "xf_pylookup" -> xfPylookupSql,
    "xf_pyerrors" -> xfPyerrorsSql,
    "xf_pyalerts" -> xfPyalertsSql,
    "xf_alerts" -> xfAlertsSql,
    "xf_lookup" -> xfLookupSql,
    "xf_scale" -> xfScaleSql,
    "xf_flatmap" -> xfFlatmapSql,
    "xf_errors" -> xfErrorsSql,
    "xf_project" -> xfProjectSql,
    "xf_filter" -> xfFilterSql,
    "xf_args" -> xfArgsSql,
    "xf_nested" -> xfNestedSql,
    "xf_enum" -> xfEnumSql,
    "xf_script" -> xfScriptSql)
}
