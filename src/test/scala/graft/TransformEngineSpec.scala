package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.transform.{Dsl, Metrics, ProcessScriptTransform, SchemaCodec, ScriptTransform}
import graft.transform.Dsl._

class TransformEngineSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).appName("transform-spec").getOrCreate()
  import spark.implicits._

  override def afterAll(): Unit = spark.stop()

  test("ScriptTransform: multi-emit, error and alert channels in one pass") {
    val df = Seq((1, "ok"), (2, "bad"), (3, "ok")).toDF("id", "status")
    val out = StructType(Seq(StructField("id", IntegerType),
                             StructField("copy", IntegerType)))
    val result = ScriptTransform(df, out) { (r, em, _) =>
      if (r("status") == "bad") {
        em.emitError(7, "bad status", r)
        em.emitAlert(Map("severity" -> "high", "id" -> r("id").toString))
      } else {
        em.emit(Map("id" -> r("id"), "copy" -> 0))
        em.emit(Map("id" -> r("id"), "copy" -> 1)) // 0..N emits per input
      }
    }.cached()
    assert(result.out.count() === 4)
    val errs = result.errors.collect()
    assert(errs.length === 1)
    assert(errs(0).getAs[Int]("errorCode") === 7)
    assert(errs(0).getAs[Int]("id") === 2) // full invalid record preserved
    val alerts = result.alerts.collect()
    assert(alerts.length === 1)
    assert(alerts(0).getAs[Map[String, String]]("payload")("severity") === "high")
  }

  test("ScriptTransform: metrics accumulate across executors") {
    val df = (1 to 100).toDF("n").repartition(8)
    val out = StructType(Seq(StructField("n", IntegerType)))
    val metrics = Metrics(spark, "seen", "kept")
    val result = ScriptTransform(df, out, metrics = metrics) { (r, em, ctx) =>
      ctx.metrics.count("seen")
      if (r("n").asInstanceOf[Int] % 2 == 0) {
        ctx.metrics.count("kept")
        em.emit(r)
      }
    }
    assert(result.out.count() === 50)
    assert(metrics.value("seen") === 100)
    assert(metrics.value("kept") === 50)
  }

  test("ScriptTransform: runtime arguments reach the closure") {
    val df = Seq(10, 20).toDF("v")
    val out = StructType(Seq(StructField("v", IntegerType)))
    val result = ScriptTransform(df, out, arguments = Map("mult" -> "3")) {
      (r, em, ctx) =>
        em.emit(Map("v" -> r("v").asInstanceOf[Int] * ctx.arguments("mult").toInt))
    }
    assert(result.out.as[Int].collect().sorted === Array(30, 60))
  }

  test("ScriptTransform: broadcast lookup datasets resolve in the closure") {
    val df = Seq((1, "US"), (2, "FR"), (3, "XX")).toDF("id", "cc")
    val out = StructType(Seq(StructField("id", IntegerType),
                             StructField("country", StringType)))
    val result = ScriptTransform(df, out,
        lookups = Map("countries" -> Map("US" -> "United States", "FR" -> "France"))) {
      (r, em, ctx) =>
        em.emit(Map("id" -> r("id"),
          "country" -> ctx.lookup("countries", r("cc"))))
    }
    val got = result.out.orderBy("id").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)).getOrElse("null")))
    assert(got === Array((1, "United States"), (2, "France"), (3, "null")))
  }

  test("SchemaCodec round-trips nested struct/array/map and coerces numerics") {
    val schema = StructType(Seq(
      StructField("s", StructType(Seq(
        StructField("a", LongType), StructField("b", StringType)))),
      StructField("arr", ArrayType(DoubleType)),
      StructField("m", MapType(StringType, IntegerType)),
      StructField("nul", StringType)))
    val m = Map(
      "s" -> Map("a" -> 5, "b" -> 42), // Int→Long and Int→String coercions
      "arr" -> Seq(1, 2.5),            // Int→Double coercion
      "m" -> Map("k" -> 9L),           // Long→Int coercion
      "nul" -> null)
    val row = SchemaCodec.mapToRow(m, schema)
    assert(row.getStruct(0).getLong(0) === 5L)
    assert(row.getStruct(0).getString(1) === "42")
    assert(row.getSeq[Double](1) === Seq(1.0, 2.5))
    assert(row.getMap[String, Int](2)("k") === 9)
    assert(row.isNullAt(3))
    val back = SchemaCodec.rowToMap(row, schema)
    assert(back("s").asInstanceOf[Map[String, Any]]("a") === 5L)
    assert(back("arr").asInstanceOf[Seq[Any]] === Seq(1.0, 2.5))
  }

  test("Dsl: spec steps compose and stay declarative") {
    val df = Seq((1, 4.0), (2, 9.0), (3, 1.0)).toDF("id", "v")
    val result = TransformSpec(
      SetField("v2", col("v") * 2),
      RenameField("id", "key"),
      FilterRows(col("v2") > 3),
      Project("key" -> col("key"), "v2" -> col("v2")))
      .apply(df)
    assert(result.columns.toSeq === Seq("key", "v2"))
    assert(result.orderBy("key").as[(Int, Double)].collect() ===
      Array((1, 8.0), (2, 18.0)))
    // declarative end-to-end: no serialization boundary in the plan
    assert(!result.queryExecution.executedPlan.toString.contains("Deserialize"))
  }

  test("ScriptTransform: RouteToErrors quarantines throwing records") {
    val df = Seq((1, "5"), (2, "boom"), (3, "7")).toDF("id", "payload")
    val out = StructType(Seq(StructField("id", IntegerType),
                             StructField("parsed", IntegerType)))
    val result = ScriptTransform(df, out,
        onError = ScriptTransform.RouteToErrors(599)) { (r, em, _) =>
      em.emit(Map("id" -> r("id"),
        "parsed" -> r("payload").asInstanceOf[String].toInt)) // throws on "boom"
    }.cached()
    assert(result.out.count() === 2)
    val errs = result.errors.collect()
    assert(errs.length === 1)
    assert(errs(0).getAs[Int]("errorCode") === 599)
    assert(errs(0).getAs[Int]("id") === 2)
    assert(errs(0).getAs[String]("errorMsg").contains("NumberFormatException"))
  }

  test("Dsl.analyze: field lineage and configure-time validation") {
    val spec = TransformSpec(
      SetField("charge", col("price") * (lit(1.0) - col("discount"))),
      RenameField("id", "key"),
      Project("key" -> col("key"), "charge" -> col("charge")))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("price", DoubleType), StructField("discount", DoubleType)))
    val (lineage, errors) = Dsl.analyze(spec, schema, spark)
    assert(errors.isEmpty)
    assert(lineage.contains(Dsl.Computed("charge", Seq("discount", "price"))))
    assert(lineage.contains(Dsl.Renamed("key", "id")))
    assert(lineage.contains(Dsl.Identity("key")))

    // configure-time failure: the reference compiles the script at
    // configure; Graft validates column references before any execution
    val bad = TransformSpec(SetField("x", col("nope") + 1))
    val (_, badErrors) = Dsl.analyze(bad,
      StructType(Seq(StructField("id", LongType))), spark)
    assert(badErrors.nonEmpty && badErrors.head.contains("nope"))
  }

  test("declarative and imperative paths agree on the same transform") {
    val df = Seq((1L, 10.0, 0.1), (2L, 20.0, 0.5), (3L, 5.0, 0.0))
      .toDF("id", "price", "discount")
    val declarative = TransformSpec(
      SetField("charge", col("price") * (lit(1.0) - col("discount"))),
      FilterRows(col("charge") > 4.0),
      Project("id" -> col("id"), "charge" -> col("charge")))
      .apply(df)
    val out = StructType(Seq(StructField("id", LongType),
                             StructField("charge", DoubleType)))
    val imperative = ScriptTransform(df, out) { (r, em, _) =>
      val charge = r("price").asInstanceOf[Double] *
        (1.0 - r("discount").asInstanceOf[Double])
      if (charge > 4.0)
        em.emit(Map("id" -> r("id"), "charge" -> charge))
    }.out
    assert(declarative.orderBy("id").collect().map(_.toSeq) ===
      imperative.orderBy("id").collect().map(_.toSeq))
  }

  test("Dsl.splitErrors: both channels from one scan, record preserved") {
    val df = Seq((1, 0.01), (2, 0.99)).toDF("id", "discount")
    val (valid, errors) =
      Dsl.splitErrors(df, col("discount") > 0.5, 42, lit("too big"))
    assert(valid.select("id").as[Int].collect() === Array(1))
    val e = errors.collect()(0)
    assert(e.getAs[Int]("errorCode") === 42)
    assert(e.getAs[Double]("discount") === 0.99)
  }

  test("Dsl.splitErrors is exhaustive: NULL-predicate rows quarantine, not vanish") {
    val df = Seq((1, Some(0.01)), (2, Some(0.99)), (3, None))
      .toDF("id", "discount")
    val (valid, errors) =
      Dsl.splitErrors(df, col("discount") > 0.5, 42, lit("too big"))
    // row 3's predicate is NULL (null discount): three-valued logic would
    // drop it from both channels; the quarantine contract routes it to
    // errors so every input row lands in exactly one channel
    assert(valid.select("id").as[Int].collect().sorted === Array(1))
    assert(errors.select("id").as[Int].collect().sorted === Array(2, 3))
    assert(valid.count() + errors.count() === df.count())
  }

  test("python process path: all three channels + metrics, equals the in-JVM path") {
    val df = Seq((1L, "ok", 10.0), (2L, "bad", 20.0), (3L, "ok", 30.0))
      .toDF("id", "status", "v").repartition(2)
    val out = StructType(Seq(StructField("id", LongType),
                             StructField("scaled", DoubleType)))
    // reference-API-shaped script: runs unchanged in the reference plugin
    val script =
      """def transform(record, emitter, context):
        |    context.getMetrics().count("processed")
        |    if record["status"] == "bad":
        |        context.getLogger().warn("bad record %d" % record["id"])
        |        emitter.emitError({"errorCode": 7, "errorMsg": "bad status",
        |                           "invalidRecord": record})
        |        emitter.emitAlert({"severity": "high", "id": str(record["id"])})
        |    else:
        |        m = float(context.getArguments()["mult"])
        |        emitter.emit({"id": record["id"], "scaled": record["v"] * m})
        |        emitter.emit({"id": record["id"], "scaled": record["v"] * m})
        |""".stripMargin
    val metrics = Metrics(spark, "processed")
    val py = ProcessScriptTransform.python(df, out, script,
      arguments = Map("mult" -> "2.5"), metrics = metrics).cached()
    // the same transform through the in-JVM Scala closure path
    val jvm = ScriptTransform(df, out, arguments = Map("mult" -> "2.5")) {
      (r, em, ctx) =>
        if (r("status") == "bad") {
          em.emitError(7, "bad status", r)
          em.emitAlert(Map("severity" -> "high", "id" -> r("id").toString))
        } else {
          val m = ctx.arguments("mult").toDouble
          em.emit(Map("id" -> r("id"), "scaled" -> r("v").asInstanceOf[Double] * m))
          em.emit(Map("id" -> r("id"), "scaled" -> r("v").asInstanceOf[Double] * m))
        }
    }.cached()
    assert(py.out.collect().map(_.toSeq).toSet === jvm.out.collect().map(_.toSeq).toSet)
    val pyErr = py.errors.collect()
    assert(pyErr.length === 1)
    assert(pyErr(0).getAs[Int]("errorCode") === 7)
    assert(pyErr(0).getAs[Long]("id") === 2L) // full invalid record preserved
    assert(py.alerts.collect().head
      .getAs[Map[String, String]]("payload")("severity") === "high")
    assert(metrics.value("processed") === 3)
    assert(metrics.value("log.warn") === 1)
  }

  test("python env passthrough: PYTHONPATH makes a user module importable in workers") {
    // the reference's last unported config knob: user libraries shipped
    // beside the pipeline reach the interpreter via PYTHONPATH
    // (ref: Py4jPythonExecutor.java:149, PythonEvaluator.java:117-121)
    val libDir = java.nio.file.Files.createTempDirectory("graft-pylib")
    java.nio.file.Files.write(libDir.resolve("graftuserlib.py"),
      "def triple(x):\n    return 3 * x\n".getBytes("UTF-8"))
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").repartition(2)
    val out = StructType(Seq(StructField("id", LongType),
                             StructField("t", DoubleType)))
    val script =
      """import graftuserlib
        |def transform(record, emitter, context):
        |    emitter.emit({"id": record["id"], "t": graftuserlib.triple(record["v"])})
        |""".stripMargin
    val got = ProcessScriptTransform.python(df, out, script,
        env = Map("PYTHONPATH" -> libDir.toString))
      .out.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got === Set((1L, 30.0), (2L, 60.0)))
    // without the passthrough the same script must FAIL (proves the env
    // var — not an ambient site-packages — satisfied the import; the
    // ModuleNotFoundError traceback lands in the executor log via the
    // [graft.pyscript] stderr drain, the task error is the generic
    // worker-death)
    intercept[Exception] {
      ProcessScriptTransform.python(df, out, script).out.collect()
    }
  }

  test("python process path: FailFast surfaces script exceptions, RouteToErrors quarantines") {
    val df = Seq((1L, 2.0), (2L, 0.0), (3L, 4.0)).toDF("id", "v").repartition(1)
    val out = StructType(Seq(StructField("id", LongType),
                             StructField("inv", DoubleType)))
    val script =
      """def transform(record, emitter, context):
        |    emitter.emit({"id": record["id"], "inv": 1.0 / record["v"]})
        |""".stripMargin
    intercept[org.apache.spark.SparkException] {
      ProcessScriptTransform.python(df, out, script).out.collect()
    }
    val routed = ProcessScriptTransform.python(df, out, script,
      onError = ScriptTransform.RouteToErrors(500)).cached()
    assert(routed.out.count() === 2)
    val e = routed.errors.collect()(0)
    assert(e.getAs[Int]("errorCode") === 500)
    assert(e.getAs[String]("errorMsg").contains("ZeroDivisionError"))
    assert(e.getAs[Long]("id") === 2L)
  }

  test("python worker death mid-stream surfaces as a task error, not a hang") {
    val df = (1L to 50L).toDF("id").repartition(1)
    val out = StructType(Seq(StructField("id", LongType)))
    // worker kills itself partway through the partition
    val script =
      """import sys, os
        |def transform(record, emitter, context):
        |    if record["id"] == 25:
        |        os._exit(3)
        |    emitter.emit({"id": record["id"]})
        |""".stripMargin
    val e = intercept[org.apache.spark.SparkException] {
      ProcessScriptTransform.python(df, out, script).out.collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("python worker") || msg.contains("died"),
      s"unexpected failure text: $msg")
  }

  test("python script validation fails at configure time with the interpreter's message") {
    val bad = intercept[IllegalArgumentException] {
      ProcessScriptTransform.validate("def transform(record, emitter context):\n    pass\n")
    }
    assert(bad.getMessage.contains("syntax error"))
    val missing = intercept[IllegalArgumentException] {
      ProcessScriptTransform.validate("x = 1\n")
    }
    assert(missing.getMessage.contains("must bind transform"))
    val arity = intercept[IllegalArgumentException] {
      ProcessScriptTransform.validate("def transform(record):\n    pass\n")
    }
    assert(arity.getMessage.contains("3 positional arguments"))
    // required keyword-only params can't be satisfied by the positional
    // call the worker makes — rejected at configure time
    val kwonly = intercept[IllegalArgumentException] {
      ProcessScriptTransform.validate(
        "def transform(record, emitter, context, *, sep):\n    pass\n")
    }
    assert(kwonly.getMessage.contains("keyword-only"))
    // a valid script passes silently (including defaulted kwonly params)
    ProcessScriptTransform.validate(
      "def transform(record, emitter, context):\n    emitter.emit(record)\n")
    ProcessScriptTransform.validate(
      "def transform(record, emitter, context, *, sep=','):\n    pass\n")
  }

  test("python boundary JSON codec round-trips nested values") {
    import graft.transform.{JsonCodec, WireCodec}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // the init frame's encoder (toJava) against the reader's plain-value
    // parser (readAny); longs arrive back as Int and are coerced by the
    // schema codec downstream, so the structural round-trip is asserted
    // on strings/doubles/booleans/nesting — the shapes the protocol
    // actually guarantees
    val value: Any = Map(
      "s" -> "text",
      "d" -> 3.5,
      "b" -> true,
      "nul" -> null,
      "seq" -> Seq("a", 1.25, false),
      "nested" -> Map("inner" -> Seq(Map("k" -> "v"))))
    val json = mapper.writeValueAsString(JsonCodec.toJava(value))
    val p = mapper.getFactory.createParser(json)
    p.nextToken()
    val back = WireCodec.readAny(p)
    assert(back === value)
  }

  test("python process path round-trips BINARY and datetime (bytes/datetime objects in-script)") {
    import java.sql.{Date, Timestamp}
    val in = Seq(
      (1L, Array[Byte](1, 2, 3, -128, 127), Timestamp.valueOf("2026-03-01 10:30:00.123456"),
        Date.valueOf("2026-03-01")),
      (2L, "héllo".getBytes("UTF-8"), Timestamp.valueOf("2026-08-13 23:59:59.999999"),
        Date.valueOf("2026-08-13")),
      (3L, Array.empty[Byte], Timestamp.valueOf("1969-12-31 23:59:59.5"),
        Date.valueOf("1969-12-31"))
    ).toDF("id", "payload", "ts", "day")
    val out = StructType(Seq(
      StructField("id", LongType),
      StructField("payload", BinaryType),      // echoed bytes
      StructField("doubled", BinaryType),      // script-built bytes
      StructField("n", IntegerType),           // len() proves real bytes
      StructField("ts", TimestampType),        // echoed timestamp
      StructField("plus_hour", TimestampType), // datetime arithmetic
      StructField("day", DateType),            // echoed date
      StructField("next_day", DateType)))      // date arithmetic
    val script =
      """import datetime
        |
        |def transform(record, emitter, context):
        |    p = record["payload"]
        |    assert isinstance(p, bytes), type(p).__name__
        |    t = record["ts"]
        |    assert isinstance(t, datetime.datetime), type(t).__name__
        |    d = record["day"]
        |    assert isinstance(d, datetime.date), type(d).__name__
        |    emitter.emit({"id": record["id"],
        |                  "payload": p,
        |                  "doubled": p + p,
        |                  "n": len(p),
        |                  "ts": t,
        |                  "plus_hour": t + datetime.timedelta(hours=1),
        |                  "day": d,
        |                  "next_day": d + datetime.timedelta(days=1)})
        |""".stripMargin
    val got = ProcessScriptTransform.python(in, out, script).out
      .orderBy("id").collect()
    assert(got.length === 3)
    val r1 = got(0)
    assert(r1.getAs[Array[Byte]]("payload").toSeq === Seq[Byte](1, 2, 3, -128, 127))
    assert(r1.getAs[Array[Byte]]("doubled").toSeq ===
      Seq[Byte](1, 2, 3, -128, 127, 1, 2, 3, -128, 127))
    assert(r1.getAs[Int]("n") === 5)
    assert(r1.getAs[Timestamp]("ts") === Timestamp.valueOf("2026-03-01 10:30:00.123456"))
    assert(r1.getAs[Timestamp]("plus_hour") === Timestamp.valueOf("2026-03-01 11:30:00.123456"))
    assert(r1.getAs[Date]("day") === Date.valueOf("2026-03-01"))
    assert(r1.getAs[Date]("next_day") === Date.valueOf("2026-03-02"))
    val r2 = got(1)
    assert(new String(r2.getAs[Array[Byte]]("payload"), "UTF-8") === "héllo")
    assert(r2.getAs[Int]("n") === 6) // bytes length, not str length
    assert(r2.getAs[Timestamp]("plus_hour") ===
      Timestamp.valueOf("2026-08-14 00:59:59.999999"))
    val r3 = got(2) // empty bytes + sub-second pre-epoch timestamp
    assert(r3.getAs[Array[Byte]]("payload").length === 0)
    assert(r3.getAs[Timestamp]("ts") === Timestamp.valueOf("1969-12-31 23:59:59.5"))
  }

  test("python frame wire: binary and datetime cells equal the in-JVM path") {
    import java.sql.{Date, Timestamp}
    // every cell family of the frame wire — float, binary side bytes
    // (empty included), epoch-micros timestamps before and after 1970,
    // epoch-day dates — through all three channels, checked against
    // literal values and, channel by channel, against the in-JVM
    // closure running the same logic
    val in = Seq(
      (1L, "keep", 1.5f, Array[Byte](9, 8), Timestamp.valueOf("2026-01-02 03:04:05.000001"),
        Date.valueOf("2026-01-02")),
      (2L, "bad", 2.5f, Array[Byte](7), Timestamp.valueOf("1969-12-31 23:59:59.5"),
        Date.valueOf("1969-12-31")),
      (3L, "keep", -3.5f, Array.empty[Byte], Timestamp.valueOf("2026-08-17 00:00:00"),
        Date.valueOf("2026-08-17"))
    ).toDF("id", "status", "f", "payload", "ts", "day").repartition(2)
    val out = StructType(Seq(
      StructField("id", LongType),
      StructField("f2", DoubleType),
      StructField("echo", BinaryType),
      StructField("ts", TimestampType),
      StructField("day", DateType),
      StructField("tag", StringType)))
    val script =
      """def transform(record, emitter, context):
        |    context.getMetrics().count("seen")
        |    if record["status"] == "bad":
        |        emitter.emitError({"errorCode": 3, "errorMsg": "bad",
        |                           "invalidRecord": record})
        |        emitter.emitAlert({"id": str(record["id"])})
        |    else:
        |        emitter.emit({"id": record["id"], "f2": record["f"] * 2.0,
        |                      "echo": record["payload"] + record["payload"],
        |                      "ts": record["ts"], "day": record["day"],
        |                      "tag": "x%d" % record["id"]})
        |""".stripMargin
    val m = Metrics(spark, "seen")
    val py = ProcessScriptTransform.python(in, out, script,
      metrics = m, onError = ScriptTransform.RouteToErrors(3)).cached()
    val jvm = ScriptTransform(in, out, onError = ScriptTransform.RouteToErrors(3)) {
      (r, em, ctx) =>
        ctx.metrics.count("seen")
        if (r("status") == "bad") {
          em.emitError(3, "bad", r)
          em.emitAlert(Map("id" -> r("id").toString))
        } else {
          val p = r("payload").asInstanceOf[Array[Byte]]
          em.emit(Map("id" -> r("id"), "f2" -> r("f").asInstanceOf[Float] * 2.0,
            "echo" -> (p ++ p), "ts" -> r("ts"), "day" -> r("day"),
            "tag" -> s"x${r("id")}"))
        }
    }.cached()
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }).toSet
    assert(key(py.out.collect()) === key(jvm.out.collect()))
    assert(key(py.errors.collect()) === key(jvm.errors.collect()))
    assert(key(py.alerts.collect()) === key(jvm.alerts.collect()))
    assert(m.value("seen") === 3)
    // and the values themselves are right (not merely path-consistent)
    val r1 = py.out.orderBy("id").collect()(0)
    assert(r1.getAs[Double]("f2") === 3.0)
    assert(r1.getAs[Array[Byte]]("echo").toSeq === Seq[Byte](9, 8, 9, 8))
    assert(r1.getAs[Timestamp]("ts") ===
      Timestamp.valueOf("2026-01-02 03:04:05.000001"))
    assert(r1.getAs[Date]("day") === Date.valueOf("2026-01-02"))
    assert(r1.getAs[String]("tag") === "x1")
    val r3 = py.out.orderBy("id").collect()(1)
    assert(r3.getAs[Double]("f2") === -7.0)
    assert(r3.getAs[Array[Byte]]("echo").length === 0)
    val e = py.errors.collect()
    assert(e.length === 1)
    assert(e(0).getAs[Int]("errorCode") === 3)
    assert(e(0).getAs[String]("errorMsg") === "bad")
    assert(e(0).getAs[Float]("f") === 2.5f)
    assert(e(0).getAs[Array[Byte]]("payload").toSeq === Seq[Byte](7))
    assert(e(0).getAs[Timestamp]("ts") === Timestamp.valueOf("1969-12-31 23:59:59.5"))
    assert(e(0).getAs[Date]("day") === Date.valueOf("1969-12-31"))
    assert(py.alerts.collect()(0).getAs[Map[String, String]]("payload") === Map("id" -> "2"))
  }

  test("script transform: every codec family on all three channels") {
    import java.sql.{Date, Timestamp}
    // literal expected rows on a schema exercising every codec family:
    // scalars, string, binary, timestamp/date, nested struct/array/map,
    // union, enum — plus the error and alert channels under RouteToErrors
    val in = Seq(
      (1L, "ok", 2.5, Array[Byte](1, 2), Timestamp.valueOf("2026-01-02 03:04:05.000001"),
        Date.valueOf("2026-01-02"), Seq(1.0, 2.0), Map("k" -> 3.0)),
      (2L, "bad", -1.0, Array.empty[Byte], Timestamp.valueOf("1969-12-31 23:59:59.5"),
        Date.valueOf("1969-12-31"), Seq.empty[Double], Map.empty[String, Double]),
      (3L, "ok", 0.5, Array[Byte](9), Timestamp.valueOf("2026-08-17 00:00:00"),
        Date.valueOf("2026-08-17"), Seq(7.0), Map("k" -> 1.0, "j" -> 2.0))
    ).toDF("id", "status", "x", "payload", "ts", "day", "arr", "m")
      .withColumn("info", struct(col("id").as("a"), col("x").as("b")))
      .repartition(2)
    val out = StructType(Seq(
      StructField("id", LongType),
      StructField("x2", DoubleType),
      StructField("echo", BinaryType),
      StructField("ts", TimestampType),
      StructField("day", DateType),
      StructField("arr_sum", DoubleType),
      StructField("mk", DoubleType),
      StructField("a", LongType),
      SchemaCodec.enumField("flag", Seq("LOW", "HIGH")),
      SchemaCodec.unionField("u", Seq(LongType, StringType))))
    val res = ScriptTransform(in, out,
        onError = ScriptTransform.RouteToErrors(9)) { (r, em, ctx) =>
      if (r("status") == "bad")
        throw new IllegalArgumentException("bad status")
      val info = r("info").asInstanceOf[Map[String, Any]]
      if (r("id").asInstanceOf[Long] == 3L)
        em.emitAlert(Map("why" -> "id3"))
      em.emit(Map(
        "id" -> r("id"),
        "x2" -> r("x").asInstanceOf[Double] * 2,
        "echo" -> r("payload"),
        "ts" -> r("ts"), "day" -> r("day"),
        "arr_sum" -> r("arr").asInstanceOf[Seq[Double]].sum,
        "mk" -> r("m").asInstanceOf[Map[String, Any]].getOrElse("k", -1.0),
        "a" -> info("a"),
        "flag" -> (if (r("x").asInstanceOf[Double] > 1) "HIGH" else 0),
        "u" -> (if (r("id").asInstanceOf[Long] == 1L) "one" else 2L)))
    }.cached()
    // binary cells compare by content
    def values(r: Row): Seq[Any] = r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
    val outRows = res.out.orderBy("id").collect().map(values)
    assert(outRows.toSeq === Seq(
      Seq(1L, 5.0, Seq[Byte](1, 2), Timestamp.valueOf("2026-01-02 03:04:05.000001"),
        Date.valueOf("2026-01-02"), 3.0, 3.0, 1L, "HIGH", Row(null, "one")),
      Seq(3L, 1.0, Seq[Byte](9), Timestamp.valueOf("2026-08-17 00:00:00"),
        Date.valueOf("2026-08-17"), 7.0, 1.0, 3L, "LOW", Row(2L, null))))
    val errRows = res.errors.collect().map(values)
    assert(errRows.toSeq === Seq(
      Seq(9, "IllegalArgumentException: bad status", 2L, "bad", -1.0, Seq.empty[Byte],
        Timestamp.valueOf("1969-12-31 23:59:59.5"), Date.valueOf("1969-12-31"),
        Seq.empty[Double], Map.empty[String, Double], Row(2L, -1.0))))
    assert(res.alerts.collect().map(_.getAs[Map[String, String]]("payload")).toSeq ===
      Seq(Map("why" -> "id3")))
  }

  test("python frame boundaries: multi-frame input, 5000-row fan-out, same rows") {
    import java.sql.Timestamp
    // one 600-row partition crosses three 256-record input frames, and
    // record 7 emits 5000 rows with binary and timestamp cells — past
    // the worker's 4096-message flush, so a mid-frame flush must carry
    // its own side bytes. Every row must equal a run with one row per
    // partition, which has no frame boundaries at all.
    val out = StructType(Seq(
      StructField("id", LongType), StructField("k", IntegerType),
      StructField("b", BinaryType), StructField("ts", TimestampType)))
    val script =
      """import datetime
        |def transform(record, emitter, context):
        |    n = 5000 if record["id"] == 7 else 1 + record["id"] % 3
        |    for k in range(n):
        |        emitter.emit({"id": record["id"], "k": k,
        |                      "b": record["p"] + k.to_bytes(2, "big"),
        |                      "ts": record["ts"] + datetime.timedelta(microseconds=k)})
        |""".stripMargin
    def run(partitions: Int) = {
      val in = spark.range(0, 600, 1, partitions).toDF("id")
        .withColumn("p", col("id").cast("string").cast(BinaryType))
        .withColumn("ts", expr("timestamp_micros(id * 1000003 - 5000000)"))
      ProcessScriptTransform.python(in, out, script).out.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq.mkString(","),
          r.getAs[Timestamp](3).toInstant.toString))
        .sorted
    }
    val framed = run(1)
    assert(framed.length === 5000 + (0 until 600).filter(_ != 7).map(1 + _ % 3).sum)
    assert(framed.sameElements(run(600)), "framed rows differ from one-row partitions")
    val last = framed.filter(r => r._1 == 7L && r._2 == 4999).head
    assert(last._3 === ("7".getBytes("UTF-8") ++ Array[Byte](0x13, 0x87.toByte)).mkString(","))
    assert(last._4 === java.time.Instant.EPOCH.plusNanos((7L * 1000003 - 5000000 + 4999) * 1000).toString)
  }

  test("python script output on stdout or fd 1 does not corrupt the frame stream") {
    // frames leave through a private duplicate of fd 1; print(), raw fd-1
    // writes and a subprocess's output all go to stderr
    val df = (1L to 300L).toDF("id").repartition(1)
    val out = StructType(Seq(StructField("id", LongType)))
    val script =
      """import os, subprocess, sys
        |def transform(record, emitter, context):
        |    print("hello", record["id"])
        |    sys.stdout.write("more\n")
        |    if record["id"] % 100 == 3:
        |        os.write(1, b"Bad things happened\n")
        |        subprocess.run(["echo", "hello from a child"])
        |    emitter.emit({"id": record["id"]})
        |""".stripMargin
    val got = ProcessScriptTransform.python(df, out, script).out.collect().map(_.getLong(0))
    assert(got.sorted.toSeq === (1L to 300L))
  }

  test("python worker: stray bytes on the frame fd and a truncated frame end in a bounded task error") {
    val df = (1L to 50L).toDF("id").repartition(1)
    val out = StructType(Seq(StructField("id", LongType)))
    def failure(script: String): String = {
      val t0 = System.nanoTime()
      val e = intercept[org.apache.spark.SparkException] {
        ProcessScriptTransform.python(df, out, script).out.collect()
      }
      assert((System.nanoTime() - t0) < 60e9, "the failure must not wait on the worker")
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    }
    // the worker's private frame fd, which a script can reach only by
    // looking for it
    val frameFd = "sys.modules['__main__']._wout.fileno()"
    def writing(bytes: String): String =
      s"""import os, sys
         |def transform(record, emitter, context):
         |    if record["id"] == 3:
         |        os.write($frameFd, $bytes)
         |    emitter.emit({"id": record["id"]})
         |""".stripMargin
    // an unknown type byte fails at once
    val stray = failure(writing("b\"hello from a C extension\\n\""))
    assert(stray.contains("unknown frame type 0x68"), stray)
    // text that starts like a frame reads as a length of >= 512 MiB:
    // rejected before the reader waits for (or allocates) it
    val bogus = failure(writing("b\"Bad things happened\\n\""))
    assert(bogus.contains("out of range"), bogus)
    // a frame cut short by the worker's exit: died, naming the last record sent
    val truncated = failure(
      s"""import os, sys
         |def transform(record, emitter, context):
         |    os.write($frameFd, b'B\\x00\\x00\\x00\\x40[["e",')
         |    os._exit(0)
         |""".stripMargin)
    assert(truncated.contains("python worker died (exit=0)"), truncated)
    assert(truncated.contains("last record sent: [50]"), truncated)
  }

  test("python wire never reinterprets a stray value in a binary or datetime field") {
    import java.sql.{Date, Timestamp}
    // an int is neither a side-bytes index nor an epoch number when a
    // script emits it: the worker raises TypeError on the record's
    // normal error path
    val df = (1L to 6L).toDF("id").repartition(1)
    val out = StructType(Seq(StructField("id", LongType), StructField("b", BinaryType),
      StructField("ts", TimestampType), StructField("day", DateType)))
    val script =
      """import datetime
        |def transform(record, emitter, context):
        |    i = record["id"]
        |    emitter.emit({"id": i,
        |        "b": 0 if i == 2 else b"ok",
        |        "ts": 1700000000 if i == 4 else
        |              datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc),
        |        "day": 19000 if i == 6 else datetime.date(2026, 1, 2)})
        |""".stripMargin
    val e = intercept[org.apache.spark.SparkException] {
      ProcessScriptTransform.python(df, out, script).out.collect()
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("TypeError: BINARY field needs bytes or str, got int"))
    val routed = ProcessScriptTransform.python(df, out, script,
      onError = ScriptTransform.RouteToErrors(9)).cached()
    val ok = routed.out.orderBy("id").collect()
    assert(ok.map(_.getLong(0)).toSeq === Seq(1L, 3L, 5L))
    ok.foreach { r =>
      assert(r.getAs[Array[Byte]]("b").toSeq === "ok".getBytes("UTF-8").toSeq)
      assert(r.getAs[Timestamp]("ts") ===
        Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")))
      assert(r.getAs[Date]("day") === Date.valueOf("2026-01-02"))
    }
    val errs = routed.errors.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("errorCode"), r.getAs[String]("errorMsg")))
    assert(errs.toSeq === Seq(
      (2L, 9, "TypeError: BINARY field needs bytes or str, got int"),
      (4L, 9, "TypeError: TIMESTAMP field needs datetime, date or str, got int"),
      (6L, 9, "TypeError: DATE field needs date, datetime or str, got int")))
  }

  test("python scripts may emit pre-encoded wire values (base64 str / ISO str)") {
    import java.sql.Timestamp
    // the worker's _enc passes strings through untouched, so a script
    // that already holds base64/ISO text needn't round-trip through
    // bytes/datetime objects first
    val in = Seq((1L, "x")).toDF("id", "ignore")
    val out = StructType(Seq(
      StructField("id", LongType),
      StructField("payload", BinaryType),
      StructField("ts", TimestampType)))
    val script =
      """def transform(record, emitter, context):
        |    emitter.emit({"id": record["id"],
        |                  "payload": "AQID",                    # [1,2,3]
        |                  "ts": "2026-05-04T03:02:01.000001+00:00"})
        |""".stripMargin
    val got = ProcessScriptTransform.python(in, out, script).out.collect()(0)
    assert(got.getAs[Array[Byte]]("payload").toSeq === Seq[Byte](1, 2, 3))
    assert(got.getAs[Timestamp]("ts") ===
      Timestamp.from(java.time.Instant.parse("2026-05-04T03:02:01.000001Z")))
  }

  test("python script validation never executes the module top level") {
    // under an exec-based check this would hang configuration for 600 s
    // and run the side effect on the driver host; the AST check returns
    // immediately without running it
    val t0 = System.nanoTime()
    ProcessScriptTransform.validate(
      "import time\ntime.sleep(600)\n" +
        "def transform(record, emitter, context):\n    emitter.emit(record)\n")
    assert((System.nanoTime() - t0) < 10e9, "validation must not exec the script")
    // async transform is rejected: the worker calls it synchronously
    val async = intercept[IllegalArgumentException] {
      ProcessScriptTransform.validate(
        "async def transform(record, emitter, context):\n    pass\n")
    }
    assert(async.getMessage.contains("async"))
    // non-def top-level bindings are accepted (they run fine under the
    // worker's exec): partials, aliases, imports binding `transform`
    ProcessScriptTransform.validate(
      "import functools\n" +
        "def base(tag, record, emitter, context):\n    emitter.emit(record)\n" +
        "transform = functools.partial(base, 'x')\n")
    ProcessScriptTransform.validate(
      "def impl(record, emitter, context):\n    emitter.emit(record)\n" +
        "transform = impl\n")
    ProcessScriptTransform.validate("from json import loads as transform\n")
    // unpacking assignments bind too: tuple, list, and starred targets
    // all create the name under exec, so configure-time must accept them
    ProcessScriptTransform.validate(
      "def make():\n    return (lambda r, e, c: e.emit(r)), 1\n" +
        "transform, helper = make()\n")
    ProcessScriptTransform.validate(
      "pair = (1, 2)\n[helper, transform] = pair\n")
    ProcessScriptTransform.validate(
      "seq = [1, 2, 3]\nfirst, *transform = seq\n")
    // last-binding-wins: a 1-arg def shadowed by a later assignment is
    // valid (the worker calls the assignment), so no arity error
    ProcessScriptTransform.validate(
      "import functools\n" +
        "def transform(record):\n    pass\n" +
        "def adapter(cfg, record, emitter, context):\n    emitter.emit(record)\n" +
        "transform = functools.partial(adapter, {})\n")
    // and the reverse: an assignment shadowed by a final bad def fails
    val shadowedDef = intercept[IllegalArgumentException] {
      ProcessScriptTransform.validate(
        "transform = 1\n" +
          "def transform(record):\n    pass\n")
    }
    assert(shadowedDef.getMessage.contains("3 positional arguments"))
    // trailing defaulted params are fine: callable with 3 positional args
    ProcessScriptTransform.validate(
      "def transform(record, emitter, context, debug=False):\n    pass\n")
    // as is a wider signature where the extras all default
    ProcessScriptTransform.validate(
      "def transform(record, emitter=None, context=None):\n    pass\n")
    // but a transform bound only inside a nested scope stays rejected —
    // its existence would depend on executing the module
    val nested = intercept[IllegalArgumentException] {
      ProcessScriptTransform.validate(
        "if True:\n    def transform(record, emitter, context):\n        pass\n")
    }
    assert(nested.getMessage.contains("top level"))
  }

  test("ScriptTransform: script logger reaches executor logs and counts per level") {
    val df = (1 to 20).toDF("n").repartition(4)
    val out = StructType(Seq(StructField("n", IntegerType)))
    val metrics = Metrics(spark)
    val result = ScriptTransform(df, out, metrics = metrics) { (r, em, ctx) =>
      val n = r("n").asInstanceOf[Int]
      if (n % 5 == 0) ctx.logger.warn(s"multiple of five: $n")
      ctx.logger.info(s"processing $n")
      em.emit(r)
    }
    assert(result.out.count() === 20)
    assert(metrics.value("log.info") === 20)
    assert(metrics.value("log.warn") === 4)
    assert(metrics.value("log.error") === 0)
  }

  test("script floor: both engines keep an 8-partition input and spread a 1-partition one") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // each output row names the script task that made it: the JVM
    // closure's partition, the python worker's pid
    val out = StructType(Seq(StructField("task", LongType)))
    val script =
      """import os
        |def transform(record, emitter, context):
        |    emitter.emit({"task": os.getpid()})
        |""".stripMargin
    def engines(df: org.apache.spark.sql.DataFrame) = Seq(
      "jvm" -> ScriptTransform(df, out) { (_, em, _) =>
        em.emit(Map("task" -> org.apache.spark.TaskContext.getPartitionId().toLong))
      }.out,
      "python" -> ProcessScriptTransform.python(df, out, script).out)
    val floor = spark.sparkContext.defaultParallelism
    assert(floor < 8)
    for ((engine, res) <- engines(spark.range(0, 800, 1, 8).toDF("id"))) {
      val shuffles = graft.core.Util.planNodes(res.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.isEmpty, s"$engine shuffled an 8-partition input")
      assert(res.distinct().count() === 8, engine)
    }
    for ((engine, res) <- engines(spark.range(0, 100, 1, 1).toDF("id")))
      assert(res.distinct().count() === floor, engine)
  }

  test("lookups: each engine broadcasts a non-empty map once and an empty one never") {
    val sc = spark.sparkContext
    // broadcast ids count up, so two probes bracket every broadcast made
    // between them
    def broadcasts(build: => Any): Long = {
      val before = sc.broadcast(0)
      build
      val after = sc.broadcast(0)
      before.destroy(); after.destroy()
      after.id - before.id - 1
    }
    val df = Seq(1L, 2L).toDF("id")
    val out = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val script =
      """def transform(record, emitter, context):
        |    emitter.emit({"id": record["id"], "name": context.lookup("names", record["id"])})
        |""".stripMargin
    def jvm(lookups: Map[String, Map[String, Any]]) =
      ScriptTransform(df, out, lookups = lookups) { (r, em, ctx) =>
        em.emit(Map("id" -> r("id"), "name" -> ctx.lookup("names", r("id"))))
      }.out
    def py(lookups: Map[String, Map[String, Any]]) =
      ProcessScriptTransform.python(df, out, script, lookups = lookups).out
    val names = Map("names" -> Map[String, Any]("1" -> "one"))
    for ((engine, build) <- Seq[(String, Map[String, Map[String, Any]] => org.apache.spark.sql.DataFrame)](
        "jvm" -> jvm, "python" -> py)) {
      var none: org.apache.spark.sql.DataFrame = null
      assert(broadcasts { none = build(Map.empty) } === 0, engine)
      var some: org.apache.spark.sql.DataFrame = null
      assert(broadcasts { some = build(names) } === 1, engine)
      // a missing lookups map reads as null, as a missing key does
      assert(none.collect().map(r => (r.getLong(0), r.getString(1))).sorted ===
        Array((1L, null), (2L, null)), engine)
      assert(some.collect().map(r => (r.getLong(0), r.getString(1))).sorted ===
        Array((1L, "one"), (2L, null)), engine)
    }
  }

  /** Every value family a JVM script record holds, on three rows: two
    * full ones and one whose every nullable cell is null (an absent union
    * is its all-null branch struct, which is what writing one gives). */
  private def codecFrame(): org.apache.spark.sql.DataFrame = {
    import java.sql.{Date, Timestamp}
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("nul", StringType),
      StructField("bool", BooleanType),
      StructField("i8", ByteType), StructField("i16", ShortType),
      StructField("i32", IntegerType), StructField("i64", LongType),
      StructField("f32", FloatType), StructField("f64", DoubleType),
      StructField("dec", DecimalType(10, 2)),
      StructField("str", StringType), StructField("bin", BinaryType),
      StructField("day", DateType), StructField("ts", TimestampType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(
        StructField("a", LongType),
        StructField("tags", ArrayType(StringType)),
        StructField("inner", StructType(Seq(StructField("x", DoubleType))))))),
      SchemaCodec.unionField("u", Seq(LongType, StringType)),
      SchemaCodec.enumField("e", Seq("LOW", "HIGH"))))
    val rows = Seq(
      Row(1L, null, true, 1.toByte, 2.toShort, 3, 4L, 1.5f, 2.25,
        new java.math.BigDecimal("12345.67"), "h\u00e9llo", Array[Byte](1, 2),
        Date.valueOf("2026-01-02"), Timestamp.valueOf("2026-01-02 03:04:05.000001"),
        Seq(1, null, 3), Map("k" -> 3L, "n" -> null), Row(7L, Seq("a", "b"), Row(0.5)),
        Row(5L, null), "HIGH"),
      Row(2L, null, false, (-1).toByte, (-2).toShort, -3, Long.MinValue, -0.5f, -1e300,
        new java.math.BigDecimal("-0.01"), "", Array.empty[Byte],
        Date.valueOf("1969-12-31"), Timestamp.valueOf("1969-12-31 23:59:59.5"),
        Seq.empty[Int], Map.empty[String, Long], Row(null, Seq.empty[String], null),
        Row(null, "two"), "LOW"),
      Row(3L, null, null, null, null, null, null, null, null, null, null, null, null, null,
        null, null, null, Row(null, null), null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** A row's values with binary cells compared by content. */
  private def cells(r: Row): Seq[Any] = r.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case v => v
  }

  test("JVM script codec: an echo of every value family returns the input rows") {
    val in = codecFrame()
    val res = ScriptTransform(in, in.schema) { (r, em, _) => em.emit(r) }
    assert(res.out.orderBy("id").collect().map(cells).toSeq ===
      in.orderBy("id").collect().map(cells).toSeq)
  }

  test("JVM script codec: the script sees the same Scala types") {
    val in = codecFrame()
    val out = StructType(Seq(StructField("field", StringType), StructField("cls", StringType)))
    val res = ScriptTransform(in.filter(col("id") === 1L), out) { (r, em, _) =>
      def cls(v: Any): String = if (v == null) "null" else v.getClass.getName
      r.foreach { case (k, v) => em.emit(Map("field" -> k, "cls" -> cls(v))) }
      val st = r("st").asInstanceOf[Map[String, Any]]
      em.emit(Map("field" -> "st.tags", "cls" -> cls(st("tags"))))
      em.emit(Map("field" -> "st.inner", "cls" -> cls(st("inner"))))
      em.emit(Map("field" -> "arr(0)", "cls" -> cls(r("arr").asInstanceOf[Seq[Any]].head)))
    }
    val got = res.out.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val seq = "scala.collection.immutable.ArraySeq$ofRef"
    assert(got === Map(
      "id" -> "java.lang.Long", "nul" -> "null", "bool" -> "java.lang.Boolean",
      "i8" -> "java.lang.Byte", "i16" -> "java.lang.Short", "i32" -> "java.lang.Integer",
      "i64" -> "java.lang.Long", "f32" -> "java.lang.Float", "f64" -> "java.lang.Double",
      "dec" -> "java.math.BigDecimal", "str" -> "java.lang.String", "bin" -> "[B",
      "day" -> "java.sql.Date", "ts" -> "java.sql.Timestamp", "arr" -> seq,
      "m" -> "scala.collection.immutable.Map$Map2",
      "st" -> "scala.collection.immutable.Map$Map3", "u" -> "java.lang.Long",
      "e" -> "java.lang.String", "st.tags" -> seq,
      "st.inner" -> "scala.collection.immutable.Map$Map1", "arr(0)" -> "java.lang.Integer"))
  }

  test("JVM script codec: RouteToErrors carries the record itself as the invalid record") {
    val in = codecFrame()
    val res = ScriptTransform(in, StructType(Seq(StructField("id", LongType))),
        onError = ScriptTransform.RouteToErrors(42)) { (_, _, _) =>
      throw new IllegalStateException("no")
    }
    assert(res.errors.orderBy("id").collect().map(cells).toSeq ===
      in.orderBy("id").collect().map(r => Seq(42, "IllegalStateException: no") ++ cells(r)).toSeq)
  }

  test("JVM script codec: iterator.toMap and updated keep their values after the call") {
    val in = codecFrame()
    // each call emits the copies the previous call of its task took, so
    // every copy is written after the row under it has moved on
    // one task holds every row: eight partitions clear the script floor
    val res = ScriptTransform(in.repartition(8, lit(1)), in.schema) {
      var kept = Seq.empty[Map[String, Any]]
      (r, em, _) =>
        kept.foreach(em.emit)
        kept = Seq(r.iterator.toMap, r.updated("extra", 1), r.removed("nul"))
    }
    val byId = in.collect().map(r => r.getLong(0) -> cells(r)).toMap
    val got = res.out.collect().map(cells)
    assert(got.length === 6)
    got.foreach(r => assert(r === byId(r.head.asInstanceOf[Long])))
  }

  test("JVM script codec: a value its output type cannot hold fails the task under either policy") {
    val df = Seq(1L, 2L).toDF("id")
    val out = StructType(Seq(StructField("n", LongType)))
    for (policy <- Seq(ScriptTransform.FailFast, ScriptTransform.RouteToErrors(1))) {
      val res = ScriptTransform(df, out, onError = policy) { (_, em, _) =>
        em.emit(Map("n" -> "seven"))
      }
      intercept[org.apache.spark.SparkException](res.out.collect())
    }
  }

  test("script node metrics: rows in and rows out per channel, on both engines") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = (1L to 40L).toDF("n").repartition(3)
    val out = StructType(Seq(StructField("n", LongType)))
    val jvm = ScriptTransform(df, out) { (r, em, _) =>
      val n = r("n").asInstanceOf[Long]
      if (n % 5 == 0) em.emitError(5, "fifth", r)
      else if (n % 7 == 0) em.emitAlert(Map("n" -> n.toString))
      else (0L until n % 3).foreach(_ => em.emit(r))
    }
    val py = ProcessScriptTransform.python(df, out,
      """def transform(record, emitter, context):
        |    n = record["n"]
        |    if n % 5 == 0:
        |        emitter.emitError({"errorCode": 5, "errorMsg": "fifth", "invalidRecord": record})
        |    elif n % 7 == 0:
        |        emitter.emitAlert({"n": str(n)})
        |    else:
        |        for _ in range(n % 3):
        |            emitter.emit(record)
        |""".stripMargin)
    val helper = new AdaptiveSparkPlanHelper {}
    for ((engine, res) <- Seq("jvm" -> jvm, "python" -> py)) {
      res.cached()
      val counts = Seq(res.out.count(), res.errors.count(), res.alerts.count())
      assert(counts === Seq(27L, 8L, 4L), engine)
      val cachedPlan = helper.collect(res.tagged.queryExecution.executedPlan) {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }.head
      val node: SparkPlan = helper.collect(cachedPlan) {
        case p if p.metrics.contains("numInputRows") => p
      }.head
      def m(k: String) = node.metrics(k).value
      assert(Seq(m("numInputRows"), m("numOutRows"), m("numErrorRows"), m("numAlertRows")) ===
        40L +: counts, engine)
      res.tagged.unpersist()
    }
  }
}
