package graft.transform

import java.io.{BufferedInputStream, BufferedOutputStream, BufferedReader, ByteArrayOutputStream,
  DataInputStream, DataOutputStream, EOFException, InputStream, InputStreamReader, OutputStream}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator, JsonParser, JsonToken}
import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types._

/** Out-of-process script execution — parity with the reference's Native
  * mode (ref: Py4jPythonExecutor.java:1-297), which runs user *Python* in
  * an external process while the engine streams records across.
  *
  * Re-expressed for Spark's execution model: each `mapPartitions` task
  * spawns one worker process (python3 running [[workerSource]], stdlib
  * only) and speaks one length-prefixed frame format over its
  * stdin/stdout, in both directions:
  * {{{
  * [type u8][json_len u32][UTF-8 JSON][n u32][n × len u32][side bytes]
  * }}}
  * (big-endian). Engine → worker: `I` init (script, arguments, lookups,
  * wire descriptors), `R` a JSON array of [[BatchSize]] records, `E`
  * end. Worker → engine: `B` a JSON array of channel messages
  * (`["e", record]`, `["r", error]`, `["a", alert]`, `["f", msg]` for a
  * record whose transform raised, `["dn", n]` for a run of n records
  * that completed), then one `M` frame of metric counts. The worker
  * flushes a `B` frame at the end of every input frame and whenever its
  * buffer reaches [[WorkerFlushEvery]] messages or [[WorkerFlushBytes]]
  * bytes, so a high-fan-out record can't buffer unboundedly; every
  * frame carries its own side bytes. One json encode/parse and one pipe
  * write per frame replaces a per-record line tax; the script API stays
  * strictly per-record. A dedicated writer thread streams input frames
  * straight from the rows into a Jackson generator while the task thread
  * parses output frames with a streaming parser straight into output
  * rows (the same two-thread shape Spark's own Python runner uses):
  * neither side waits on a round trip, and the bounded in-flight queue
  * plus pipe backpressure bound memory — no deadlock however many rows a
  * record emits. The worker count scales with partitions like any Spark
  * stage; there is no driver round-trip.
  *
  * The worker writes frames to a private duplicate of fd 1 and points
  * fd 1 and `sys.stdout` at stderr before it runs the script, so a
  * script's `print()`, a subprocess's output or a C extension's `printf`
  * lands in the executor log. The reader still rejects an unknown type
  * byte or an out-of-range length, and a stream that ends inside a frame
  * reports `python worker died (exit=N)` naming the last record sent.
  *
  * Script contract matches the reference plugin, so a user's existing
  * script body runs unchanged:
  * {{{
  * def transform(record, emitter, context):
  *     emitter.emit(dict)                       # 0..N times
  *     emitter.emitError({'errorCode': int, 'errorMsg': str,
  *                        'invalidRecord': dict})
  *     emitter.emitAlert({str: str})
  *     context.getArguments() / .getLogger() / .getMetrics().count(name)
  *     context.lookup(dataset, key) / .getLookup(dataset)   # broadcast dims
  * }}}
  * Channels, error policy, metrics, and the tagged single-pass result are
  * the same [[TransformResult]] the in-process [[ScriptTransform]] path
  * produces; logger output goes to the executor's stderr log and
  * per-level counts ride [[Metrics]] like the Scala path's ScriptLogger.
  *
  * Value codec: null/boolean/integral/floating/string/array/map/struct
  * travel as JSON (structs as objects), plus the reference codec's BYTES
  * and logical datetime types (ref: PythonObjectsEncoder.java:48,126,173):
  * a BINARY cell travels as an index into its frame's side bytes,
  * TIMESTAMP as epoch micros, TIMESTAMP_NTZ as local micros and DATE as
  * epoch days — schema-driven at any nesting depth on both sides of the
  * pipe ([[WireCodec]] here, the worker's `_DEC`/`_ENC` converters
  * compiled by `_mk`), so the script sees real `bytes`/`datetime.datetime`/
  * `datetime.date` objects and may emit them back, exactly like the
  * reference. The worker raises `TypeError` on the record's normal error
  * path for any other value in such a field, except a `str`: scripts may
  * emit base64 / ISO-8601 text pre-encoded, which the engine decodes.
  * Union branches travel plain-typed on this path (the in-process path
  * handles unions of any branch type natively).
  */
object ProcessScriptTransform {

  /** Records per input frame. Sized so a frame of typical web documents
    * stays ~100s of KB (one pipe write, one json parse) while the
    * in-flight queue (4 frames = 1024 records) still backpressures a
    * slow worker. */
  private[transform] val BatchSize = 256

  /** Worker-side response-buffer caps: the message buffer flushes as a
    * frame whenever it reaches this many messages or bytes (JSON plus
    * side bytes), bounding worker memory even when one record emits
    * millions of rows. */
  private[transform] val WorkerFlushEvery = 4096
  private[transform] val WorkerFlushBytes = 8 << 20

  /** Upper bound on a frame's JSON length and on one side-bytes cell. A
    * worker's frames stay near [[WorkerFlushBytes]] unless one message
    * is that large; anything longer is stray output on the worker's
    * stdout (text read as a length is ≥ 512 MiB), rejected before the
    * reader waits for it. */
  private[transform] val MaxFrameBytes = 256 << 20

  /** Frame type bytes. */
  private val FInit = 'I'
  private val FRecords = 'R'
  private val FEnd = 'E'
  private val FBatch = 'B'
  private val FMetrics = 'M'

  private val mapper = new ObjectMapper()
  private[graft] val jsonFactory: JsonFactory = mapper.getFactory

  /** Configure-time script validation (ref: PythonEvaluator.java:224-243
    * compiles the script in configurePipeline so a typo fails the deploy,
    * not a 1000-executor job): compile-check the source and verify the
    * `transform` binding from the AST — the user module is never
    * executed, so top-level side effects (network calls, input(),
    * infinite loops) can neither run on the driver host nor hang
    * configuration. Accepted bindings: a top-level plain `def transform`
    * (3-arg signature checked statically) or any top-level assignment /
    * import that binds the name `transform` (partials, aliases —
    * arity is unknowable statically, so a mismatch surfaces through the
    * worker's normal per-record error channel instead). A `transform`
    * bound only inside an `if` block or other nested scope is rejected:
    * whether it exists would depend on executing the module. The whole check is bounded by a hard timeout as a
    * second line of defense. Runs one driver-side python3 (~50 ms);
    * throws IllegalArgumentException with the interpreter's message. */
  def validate(script: String, pythonExec: String = "python3",
               env: Map[String, String] = Map.empty): Unit = {
    val checker =
      """import sys, ast
        |src = sys.stdin.read()
        |try:
        |    tree = ast.parse(src, "<transform>", "exec")
        |    compile(tree, "<transform>", "exec")
        |except SyntaxError as e:
        |    sys.stderr.write("syntax error: %s (line %s)" % (e.msg, e.lineno)); sys.exit(1)
        |def _target_names(t):
        |    # unpacking targets bind too: `transform, helper = make()`,
        |    # `[a, transform] = pair`, `first, *transform = seq` — walk
        |    # Tuple/List elements and through Starred wrappers
        |    if isinstance(t, ast.Name):
        |        yield t.id
        |    elif isinstance(t, (ast.Tuple, ast.List)):
        |        for e in t.elts:
        |            yield from _target_names(e)
        |    elif isinstance(t, ast.Starred):
        |        yield from _target_names(t.value)
        |def _binds_transform(n):
        |    # transform = functools.partial(...), transform: Callable = f,
        |    # from mod import transform, import transform — all run fine
        |    # under the worker's exec + _ns["transform"], so accept them
        |    # (arity can't be checked statically; a mismatch fails in the
        |    # worker with the normal per-record error surface)
        |    if isinstance(n, ast.Assign):
        |        return any("transform" in _target_names(t) for t in n.targets)
        |    if isinstance(n, ast.AnnAssign):
        |        return isinstance(n.target, ast.Name) and n.target.id == "transform" \
        |            and n.value is not None
        |    if isinstance(n, ast.ImportFrom):
        |        return any((a.asname or a.name) == "transform" for a in n.names)
        |    if isinstance(n, ast.Import):
        |        return any(a.asname == "transform" for a in n.names)
        |    return False
        |# exec semantics are last-binding-wins: only the LAST top-level
        |# binding of `transform` (def OR assignment/import) is effective,
        |# so a def followed by `transform = partial(...)` must not be
        |# arity-checked against the shadowed def
        |bindings = [n for n in tree.body
        |            if (isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        |                and n.name == "transform") or _binds_transform(n)]
        |if not bindings:
        |    sys.stderr.write("script must bind transform(record, emitter, context) at module top level (def or assignment)"); sys.exit(1)
        |last = bindings[-1]
        |if not isinstance(last, (ast.FunctionDef, ast.AsyncFunctionDef)):
        |    sys.exit(0)  # non-def binding: arity unknowable statically
        |if isinstance(last, ast.AsyncFunctionDef):
        |    sys.stderr.write("transform must be a plain def, not async def (it is called synchronously)"); sys.exit(1)
        |a = last.args
        |n = len(a.posonlyargs) + len(a.args)
        |required = n - len(a.defaults)
        |# called with exactly 3 positional args: valid iff it can ACCEPT 3
        |# (vararg or n >= 3) and REQUIRES at most 3 (trailing defaults ok)
        |accepts3 = a.vararg is not None or n >= 3
        |if required > 3 or not accepts3:
        |    sys.stderr.write("transform must be callable with 3 positional arguments (record, emitter, context): it requires %d and accepts %s" % (required, "*args" if a.vararg else str(n))); sys.exit(1)
        |required_kw = [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is None]
        |if required_kw:
        |    sys.stderr.write("transform must not require keyword-only parameters (it is called with 3 positional args): %s" % ", ".join(required_kw)); sys.exit(1)
        |""".stripMargin
    val pb = new ProcessBuilder(pythonExec, "-c", checker)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    val in = proc.getOutputStream
    in.write(script.getBytes(StandardCharsets.UTF_8)); in.close()
    // drain stderr CONCURRENTLY with the wait: a checker that writes more
    // than the pipe buffer before exiting would otherwise block and
    // surface as a bogus timeout instead of its real message
    val errBytes = new java.io.ByteArrayOutputStream()
    val drain = new Thread(() => {
      try proc.getErrorStream.transferTo(errBytes)
      catch { case _: java.io.IOException => } // destroyed on timeout
    }, "graft-validate-stderr")
    drain.setDaemon(true)
    drain.start()
    // the checker never runs user code, so this bound only guards a
    // broken interpreter; destroy on expiry so configuration can't hang
    if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      throw new IllegalArgumentException(
        "transform script validation timed out after 30s")
    }
    drain.join(5000)
    val err = errBytes.toString(StandardCharsets.UTF_8)
    if (proc.exitValue() != 0)
      throw new IllegalArgumentException(s"invalid transform script: $err")
  }

  /** @param env extra environment variables for every spawned worker
    *   interpreter (and the configure-time validator) — the reference's
    *   PYTHONPATH passthrough for user libraries (ref:
    *   Py4jPythonExecutor.java:68,149 sets PYTHONPATH so the evaluator
    *   can import modules shipped beside the pipeline;
    *   PythonEvaluator.java:117-121 surfaces it as plugin config). Keys
    *   REPLACE inherited values of the same name; everything else of the
    *   executor's environment is inherited unchanged. */
  def python(df: DataFrame, outSchema: StructType, script: String,
             arguments: Map[String, String] = Map.empty,
             metrics: Metrics = Metrics.none,
             lookups: Map[String, Map[String, Any]] = Map.empty,
             onError: ScriptTransform.ErrorPolicy = ScriptTransform.FailFast,
             pythonExec: String = "python3",
             parallelism: Int = 0,
             env: Map[String, String] = Map.empty): TransformResult = {
    validate(script, pythonExec, env) // fail at configure time, not per task
    // torrent-broadcast once per executor (like the Scala path's
    // ScriptContext), not serialized into every task closure; no
    // broadcast block at all in the common no-lookups case (a broadcast
    // per python() call lives until the SparkContext dies)
    val bcLookups =
      if (lookups.isEmpty) null
      else df.sparkSession.sparkContext.broadcast(lookups)
    // a narrow parquet scan often yields 1-2 partitions = 1-2 workers;
    // parallelism > 0 repartitions so the python stage uses the cluster
    // (the shuffle of input rows is cheap next to interpreting them)
    val in = if (parallelism > 0) df.repartition(parallelism) else df
    val inSchema = in.schema
    val errSchema = StructType(
      StructField("errorCode", IntegerType) ::
      StructField("errorMsg", StringType) :: inSchema.fields.toList)
    val taggedSchema = StructType(Seq(
      StructField("_tag", StringType, nullable = false),
      StructField("_out", outSchema),
      StructField("_err", errSchema),
      StructField("_alert", MapType(StringType, StringType))))
    val worker = workerSource
    val nIn = inSchema.length
    // wire-type descriptors for the worker: null unless the schema
    // carries binary/datetime somewhere (then the worker walks nothing)
    val inDesc = WireCodec.descriptor(inSchema)
    val outDesc = WireCodec.descriptor(outSchema)

    val tagged = in.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val inShape = new WireCodec.Struct(inSchema)
        val outShape = new WireCodec.Struct(outSchema)
        val pb = new ProcessBuilder(pythonExec, "-c", worker)
        env.foreach { case (k, v) => pb.environment().put(k, v) }
        val proc = pb.start()
        // stderr (script print() and logger output, tracebacks) → executor log
        val drain = new Thread(() => {
          val r = new BufferedReader(new InputStreamReader(
            proc.getErrorStream, StandardCharsets.UTF_8))
          var l = r.readLine()
          while (l != null) { System.err.println(s"[graft.pyscript] $l"); l = r.readLine() }
        }, "graft-pyscript-stderr")
        drain.setDaemon(true)
        drain.start()

        // Row batches the writer has sent whose records' completion
        // ("dn"/"f") the reader has not yet seen — bounded, so a slow
        // worker backpressures the writer instead of buffering the
        // partition. The reader walks a cursor over them and touches a
        // Row again only when its record fails.
        val pending =
          new java.util.concurrent.LinkedBlockingQueue[java.util.ArrayList[Row]](4)
        val lastSent = new java.util.concurrent.atomic.AtomicReference[Row]()
        val writerError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val tc = TaskContext.get()
        val writer = new Thread(() => {
          try {
            if (tc != null) org.apache.spark.graft.TaskContextBridge.set(tc)
            val out = new FrameOut(proc.getOutputStream)
            val init = new java.util.LinkedHashMap[String, Object]()
            init.put("script", script)
            init.put("arguments", JsonCodec.toJava(arguments))
            init.put("lookups", JsonCodec.toJava(
              if (bcLookups == null) Map.empty[String, Map[String, Any]]
              else bcLookups.value))
            if (inDesc != null) init.put("in_types", inDesc)
            if (outDesc != null) init.put("out_types", outDesc)
            out.json.write(mapper.writeValueAsBytes(init))
            out.send(FInit)
            var batch = new java.util.ArrayList[Row](BatchSize)
            def sendBatch(): Unit = {
              // the reader takes ownership of the list (its cursor walks
              // it), so a fresh list replaces it; BEFORE the write, so
              // the reader always finds the records its markers name
              pending.put(batch)
              val g = jsonFactory.createGenerator(out.json)
              g.writeStartArray()
              var i = 0
              while (i < batch.size) {
                WireCodec.writeStruct(g, batch.get(i), inShape, out.side)
                i += 1
              }
              g.writeEndArray()
              g.close()
              lastSent.set(batch.get(batch.size - 1))
              out.send(FRecords)
              batch = new java.util.ArrayList[Row](BatchSize)
            }
            while (rows.hasNext) {
              batch.add(rows.next())
              if (batch.size >= BatchSize) sendBatch()
            }
            if (!batch.isEmpty) sendBatch()
            out.send(FEnd)
          } catch {
            case t: Throwable =>
              writerError.set(t)
              proc.destroyForcibly()
          }
        }, "graft-pyscript-writer")
        writer.setDaemon(true)
        Option(tc).foreach(_.addTaskCompletionListener[Unit] { _ =>
          proc.destroyForcibly(); writer.interrupt()
        })
        writer.start()

        def errRow(code: Int, msg: String, bad: Row): Row = {
          val values = new Array[Any](nIn + 2)
          values(0) = code
          values(1) = msg
          if (bad != null) {
            var i = 0
            while (i < nIn) { values(i + 2) = bad.get(i); i += 1 }
          }
          Row("err", null, new GenericRow(values), null)
        }

        // messages arrive in record order (the worker is sequential);
        // "dn"/"f" advance the pending cursor so "f" can name the record
        // that failed
        new Iterator[Row] {
          private val frames = new FrameIn(proc.getInputStream)
          private var p: JsonParser = null // inside the current B frame's array
          private var nextRow: Row = null
          private var finished = false
          private def lastRecord: String = {
            val r = lastSent.get()
            if (r == null) "none" else r.toString.take(256)
          }
          private def fail(why: String): Nothing = {
            // a writer that failed on its own (not on the pipe a dying
            // worker broke) is the root cause
            val cause = writerError.get()
            if (cause != null && !cause.isInstanceOf[java.io.IOException])
              throw new IllegalStateException(
                s"python worker input stream failed: $cause", cause)
            throw new IllegalStateException(s"$why; last record sent: $lastRecord", cause)
          }
          private def died(): Nothing = {
            val exit =
              if (proc.waitFor(5, java.util.concurrent.TimeUnit.SECONDS))
                proc.exitValue().toString
              else "alive"
            fail(s"python worker died (exit=$exit)")
          }
          private var curBatch: java.util.ArrayList[Row] = null
          private var curIdx = 0
          /** Advance the pending cursor n records; the last Row passed
            * (null only if the worker names records it was never sent). */
          private def pendingAdvance(n0: Int): Row = {
            var last: Row = null
            var n = n0
            while (n > 0) {
              if (curBatch == null || curIdx >= curBatch.size()) {
                curBatch = pending.poll(); curIdx = 0
                if (curBatch == null) return null
              }
              last = curBatch.get(curIdx); curIdx += 1; n -= 1
            }
            last
          }
          private def readFrame(): Unit = {
            val ok =
              try frames.next()
              catch {
                case _: EOFException => died()
                case e: FrameError => fail(s"python worker protocol error: ${e.getMessage}")
              }
            if (!ok) died()
            val q = jsonFactory.createParser(frames.json)
            if (frames.tpe == FBatch) {
              if (q.nextToken() != JsonToken.START_ARRAY)
                fail("python worker protocol error: a B frame must hold a JSON array")
              p = q
            } else { // FMetrics: end of stream
              if (q.nextToken() == JsonToken.START_OBJECT)
                while (q.nextToken() == JsonToken.FIELD_NAME) {
                  val k = q.currentName()
                  q.nextToken()
                  metrics.count(k, q.getLongValue)
                }
              q.close()
              proc.waitFor()
              finished = true
            }
          }
          private def message(): Unit = {
            val side = frames.side
            p.nextToken()
            val tag = p.getText
            p.nextToken()
            tag match {
              case "e" =>
                if (p.currentToken() != JsonToken.START_OBJECT)
                  throw new IllegalArgumentException(
                    s"emit expects a dict record, got ${WireCodec.readAny(p)}")
                nextRow = Row("out", WireCodec.readStruct(p, outShape, side), null, null)
              case "r" =>
                var code: Any = 0
                var msg = ""
                var bad: Row = null
                if (p.currentToken() == JsonToken.START_OBJECT)
                  while (p.nextToken() == JsonToken.FIELD_NAME) {
                    val k = p.currentName()
                    p.nextToken()
                    k match {
                      case "errorCode" => code = WireCodec.readAny(p)
                      case "errorMsg" => msg = String.valueOf(WireCodec.readAny(p))
                      case "invalidRecord" if p.currentToken() == JsonToken.START_OBJECT =>
                        bad = WireCodec.readStruct(p, inShape, side)
                      case _ => p.skipChildren()
                    }
                  }
                nextRow = errRow(code.asInstanceOf[Number].intValue(), msg, bad)
              case "a" =>
                nextRow = Row("alert", null, null,
                  WireCodec.readAny(p).asInstanceOf[Map[String, Any]]
                    .map { case (k, v) => k -> String.valueOf(v) })
              case "dn" =>
                pendingAdvance(p.getIntValue)
              case "f" =>
                // a failing record's "f" stands in for its done marker
                val bad = pendingAdvance(1)
                val err = p.getText
                onError match {
                  case ScriptTransform.FailFast =>
                    throw new RuntimeException(s"python transform failed: $err")
                  case ScriptTransform.RouteToErrors(code) =>
                    nextRow = errRow(code, err, bad)
                }
              case other => fail(s"python worker protocol error: unknown message '$other'")
            }
            if (p.nextToken() != JsonToken.END_ARRAY)
              fail(s"python worker protocol error: trailing values in a '$tag' message")
          }
          private def advance(): Unit = {
            while (nextRow == null && !finished) {
              if (p == null) readFrame()
              else p.nextToken() match {
                case JsonToken.START_ARRAY => message()
                case JsonToken.END_ARRAY => p.close(); p = null
                case t => fail(s"python worker protocol error: unexpected $t in a B frame")
              }
            }
          }
          override def hasNext: Boolean = { advance(); nextRow != null }
          override def next(): Row = {
            advance()
            if (nextRow == null) throw new NoSuchElementException
            val r = nextRow; nextRow = null; r
          }
        }
      }
    }(Encoders.row(taggedSchema))

    TransformResult(tagged.toDF(), outSchema, errSchema)
  }

  /** A frame the worker sent that the format cannot hold. */
  private final class FrameError(msg: String) extends Exception(msg)

  /** Writes frames to the worker: fill [[json]] and [[side]], then [[send]]. */
  private final class FrameOut(raw: OutputStream) {
    private val out = new DataOutputStream(new BufferedOutputStream(raw, 1 << 16))
    val json = new ByteArrayOutputStream(1 << 16)
    val side = new java.util.ArrayList[Array[Byte]]()
    def send(tpe: Char): Unit = {
      out.writeByte(tpe)
      out.writeInt(json.size())
      json.writeTo(out)
      val n = side.size()
      out.writeInt(n)
      var i = 0
      while (i < n) { out.writeInt(side.get(i).length); i += 1 }
      i = 0
      while (i < n) { out.write(side.get(i)); i += 1 }
      // flush per frame (cheap amortized over BatchSize records): a frame
      // held in the buffer while the writer blocks on `pending` would
      // idle the worker
      out.flush()
      json.reset()
      side.clear()
    }
  }

  /** Reads the worker's frames; [[next]] is false at a clean end of
    * stream, and throws EOFException when the stream ends inside a frame
    * and [[FrameError]] on a type byte or length the format cannot hold. */
  private final class FrameIn(raw: InputStream) {
    private val in = new DataInputStream(new BufferedInputStream(raw, 1 << 16))
    var tpe: Char = 0
    var json: Array[Byte] = null
    var side: Array[Array[Byte]] = null
    private def length(what: String, max: Int): Int = {
      val n = in.readInt()
      if (n < 0 || n > max) throw new FrameError(s"$what $n out of range [0, $max]")
      n
    }
    // readNBytes grows its buffer as bytes arrive, so a bogus length
    // never allocates more than the stream actually holds
    private def bytes(n: Int): Array[Byte] = {
      val b = in.readNBytes(n)
      if (b.length < n) throw new EOFException()
      b
    }
    def next(): Boolean = {
      val t = in.read()
      if (t < 0) return false
      if (t != FBatch && t != FMetrics)
        throw new FrameError(f"unknown frame type 0x$t%02x (stray bytes on the worker's stdout?)")
      tpe = t.toChar
      val jl = length("frame JSON length", MaxFrameBytes)
      json = bytes(jl)
      // every side cell is named by an index in the JSON
      val n = length("side-bytes count", jl)
      val lens = new Array[Int](n)
      var i = 0
      while (i < n) { lens(i) = length("side-bytes length", MaxFrameBytes); i += 1 }
      side = new Array[Array[Byte]](n)
      i = 0
      while (i < n) { side(i) = bytes(lens(i)); i += 1 }
      true
    }
  }

  /** The worker harness, Python stdlib only. Mirrors the reference's
    * script surface (ref: PythonEvaluator.java:261-287): `transform`
    * entry point, emitter with three channels, context with
    * getArguments/getLogger/getMetrics (attribute access works too). */
  private[transform] val workerSource: String =
    """import sys, os, json, struct, datetime
      |
      |# frames, both directions: [type u8][json_len u32][UTF-8 JSON]
      |# [n u32][n x len u32][side bytes], big-endian. In: I(nit),
      |# R(ecords), E(nd); out: B(atch of channel messages), M(etrics).
      |# Frames leave through a private duplicate of fd 1; fd 1 and
      |# sys.stdout are rebound to stderr before the script runs, so print(),
      |# os.write(1, ...), subprocesses and C extensions land in the
      |# executor log instead of the frame stream.
      |_rin = sys.stdin.buffer
      |_wout = os.fdopen(os.dup(1), "wb")
      |os.dup2(2, 1)
      |sys.stdout = sys.stderr
      |_H = struct.Struct(">BI")
      |_U32 = struct.Struct(">I")
      |
      |def _read_exact(n):
      |    b = _rin.read(n)
      |    if len(b) != n:
      |        raise EOFError("input ended inside a frame")
      |    return b
      |
      |def _read_frame():
      |    h = _rin.read(5)
      |    if len(h) < 5:
      |        return None, None, None
      |    t, jl = _H.unpack(h)
      |    j = _read_exact(jl)
      |    n = _U32.unpack(_read_exact(4))[0]
      |    side = []
      |    if n:
      |        lens = struct.unpack(">%dI" % n, _read_exact(4 * n))
      |        blob = _read_exact(sum(lens))
      |        o = 0
      |        for ln in lens:
      |            side.append(blob[o:o + ln])
      |            o += ln
      |    return t, j, side
      |
      |def _frame(t, j, side):
      |    _wout.write(_H.pack(t, len(j)))
      |    _wout.write(j)
      |    _wout.write(struct.pack(">%dI" % (len(side) + 1), len(side), *[len(b) for b in side]))
      |    _wout.writelines(side)
      |    _wout.flush()
      |
      |# channel messages buffer as JSON text and leave as one B frame:
      |# flushed at the end of every input frame (bounded reader latency)
      |# and whenever the buffer hits a cap (bounded memory however many
      |# rows one record emits). Each frame carries its own side bytes.
      |_parts = []
      |_oside = []
      |_nbytes = 0
      |_drun = 0  # records completed since the last "dn" marker
      |_FLUSH_EVERY = %FLUSH_EVERY%
      |_FLUSH_BYTES = %FLUSH_BYTES%
      |_dumps = json.dumps
      |
      |def _flushbuf():
      |    global _nbytes, _drun
      |    if _drun:
      |        _parts.append('["dn",%d]' % _drun)
      |        _drun = 0
      |    if _parts:
      |        _frame(66, ("[" + ",".join(_parts) + "]").encode(), _oside)
      |        del _parts[:]
      |        del _oside[:]
      |        _nbytes = 0
      |
      |def _w(s):
      |    global _nbytes
      |    _parts.append(s)
      |    _nbytes += len(s)
      |    if len(_parts) >= _FLUSH_EVERY or _nbytes >= _FLUSH_BYTES:
      |        _flushbuf()
      |
      |def _fail(msg):
      |    # "f" stands in for the failing record's done marker, so the
      |    # run before it must be reported first
      |    global _drun
      |    if _drun:
      |        _parts.append('["dn",%d]' % _drun)
      |        _drun = 0
      |    _w(_dumps(["f", msg]))
      |
      |# BINARY travels as an index into the frame's side bytes, TIMESTAMP
      |# as epoch micros, TIMESTAMP_NTZ as local micros, DATE as epoch days
      |_td = datetime.timedelta
      |_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
      |_EPOCH_NTZ = datetime.datetime(1970, 1, 1)
      |_US = _td(microseconds=1)
      |_DAY0 = 719163  # date(1970, 1, 1).toordinal()
      |_DAY_US = 86400000000
      |_side_in = []
      |
      |def _enc_bin(v):
      |    global _nbytes
      |    if isinstance(v, (bytes, bytearray, memoryview)):
      |        v = bytes(v)
      |        _oside.append(v)
      |        _nbytes += len(v)
      |        return len(_oside) - 1
      |    if isinstance(v, str):
      |        return v  # pre-encoded base64
      |    raise TypeError("BINARY field needs bytes or str, got %s" % type(v).__name__)
      |
      |def _enc_ts(v):
      |    if isinstance(v, datetime.datetime):
      |        if v.tzinfo is None:
      |            v = v.replace(tzinfo=datetime.timezone.utc)  # naive = UTC
      |        return (v - _EPOCH) // _US
      |    if isinstance(v, datetime.date):
      |        return (v.toordinal() - _DAY0) * _DAY_US
      |    if isinstance(v, str):
      |        return v  # pre-encoded ISO-8601
      |    raise TypeError("TIMESTAMP field needs datetime, date or str, got %s" % type(v).__name__)
      |
      |def _enc_ntz(v):
      |    if isinstance(v, datetime.datetime):
      |        return (v.replace(tzinfo=None) - _EPOCH_NTZ) // _US  # wall clock
      |    if isinstance(v, datetime.date):
      |        return (v.toordinal() - _DAY0) * _DAY_US
      |    if isinstance(v, str):
      |        return v
      |    raise TypeError("TIMESTAMP_NTZ field needs datetime, date or str, got %s" % type(v).__name__)
      |
      |def _enc_date(v):
      |    if isinstance(v, datetime.datetime):
      |        v = v.date()
      |    if isinstance(v, datetime.date):
      |        return v.toordinal() - _DAY0
      |    if isinstance(v, str):
      |        return v
      |    raise TypeError("DATE field needs date, datetime or str, got %s" % type(v).__name__)
      |
      |_DEC = {"bin": lambda v: _side_in[v],
      |        "ts": lambda v: _EPOCH + _td(microseconds=v),
      |        "ntz": lambda v: _EPOCH_NTZ + _td(microseconds=v),
      |        "date": lambda v: datetime.date.fromordinal(v + _DAY0)}
      |_ENC = {"bin": _enc_bin, "ts": _enc_ts, "ntz": _enc_ntz, "date": _enc_date}
      |
      |def _mk(t, leaf, copy):
      |    # compile a schema descriptor into a converter that touches only
      |    # the fields that need it; `copy` leaves the script's dicts intact
      |    if t is None:
      |        return None
      |    k = t["k"]
      |    if k in leaf:
      |        return leaf[k]
      |    if k == "arr":
      |        e = _mk(t["e"], leaf, copy)
      |        return lambda v: [None if x is None else e(x) for x in v]
      |    if k == "map":
      |        e = _mk(t["v"], leaf, copy)
      |        return lambda v: {kk: None if x is None else e(x) for kk, x in v.items()}
      |    fs = [(n, _mk(ft, leaf, copy)) for n, ft in t["f"].items()]
      |    def conv(v):
      |        if copy:
      |            v = dict(v)
      |        for n, c in fs:
      |            x = v.get(n)
      |            if x is not None:
      |                v[n] = c(x)
      |        return v
      |    return conv
      |
      |_counts = {}
      |
      |class _Metrics(object):
      |    def count(self, name, n=1):
      |        _counts[name] = _counts.get(name, 0) + n
      |
      |class _Logger(object):
      |    def _log(self, lvl, msg):
      |        _counts["log." + lvl] = _counts.get("log." + lvl, 0) + 1
      |        sys.stderr.write("%s %s\n" % (lvl.upper(), msg))
      |        sys.stderr.flush()
      |    def debug(self, msg): self._log("debug", msg)
      |    def info(self, msg): self._log("info", msg)
      |    def warn(self, msg): self._log("warn", msg)
      |    def error(self, msg): self._log("error", msg)
      |
      |def _msg(tag, v, enc):
      |    # encode one message now, so a value that cannot travel fails the
      |    # record that emitted it; its side bytes go with it
      |    m = len(_oside)
      |    try:
      |        _w('["%s",%s]' % (tag, _dumps(v if enc is None else enc(v))))
      |    except BaseException:
      |        del _oside[m:]
      |        raise
      |
      |class _Emitter(object):
      |    def emit(self, record):
      |        _msg("e", record, _enc_out)
      |    def emitError(self, err):
      |        if _enc_in is not None and isinstance(err, dict) \
      |                and isinstance(err.get("invalidRecord"), dict):
      |            err = dict(err)
      |            err["invalidRecord"] = _enc_in(err["invalidRecord"])
      |        _msg("r", err, None)
      |    def emitAlert(self, payload):
      |        _msg("a", payload, None)
      |
      |class _Context(object):
      |    def __init__(self, args, lookups):
      |        self.arguments = args
      |        self.lookups = lookups
      |        self.logger = _Logger()
      |        self.metrics = _Metrics()
      |    def getArguments(self): return self.arguments
      |    def getLogger(self): return self.logger
      |    def getMetrics(self): return self.metrics
      |    def getLookup(self, dataset): return self.lookups.get(dataset, {})
      |    def lookup(self, dataset, key):
      |        d = self.lookups.get(dataset)
      |        return None if d is None else d.get(str(key))
      |
      |def _loop(transform, em, ctx, dec):
      |    global _side_in, _drun
      |    loads = json.loads
      |    while True:
      |        t, j, side = _read_frame()
      |        if t != 82:  # "E" (or the end of input) ends the records
      |            break
      |        _side_in = side
      |        for rec in loads(j):
      |            try:
      |                transform(rec if dec is None else dec(rec), em, ctx)
      |                _drun += 1
      |            except Exception as e:
      |                import traceback
      |                traceback.print_exc(file=sys.stderr)
      |                _fail("%s: %s" % (type(e).__name__, e))
      |        _flushbuf()  # frame boundary: bound reader latency
      |
      |_t, _j, _ = _read_frame()
      |if _t != 73:
      |    sys.exit("graft worker: expected an init frame")
      |_init = json.loads(_j)
      |_dec_in = _mk(_init.get("in_types"), _DEC, False)
      |_enc_in = _mk(_init.get("in_types"), _ENC, True)
      |_enc_out = _mk(_init.get("out_types"), _ENC, True)
      |_ns = {}
      |exec(_init["script"], _ns)
      |_loop(_ns["transform"], _Emitter(),
      |      _Context(_init.get("arguments", {}), _init.get("lookups", {})), _dec_in)
      |_flushbuf()
      |_frame(77, _dumps(_counts).encode(), ())
      |""".stripMargin
      .replace("%FLUSH_EVERY%", WorkerFlushEvery.toString)
      .replace("%FLUSH_BYTES%", WorkerFlushBytes.toString)
}

/** Schema-driven wire codec of the python worker frames — the
  * process-path twin of the reference's typed codec (ref:
  * PythonObjectsEncoder.java:48 BYTES, :126 logical types, :173 decode).
  * Rows stream into a Jackson generator and frames parse back straight
  * into rows: BINARY ↔ index into the frame's side bytes, TIMESTAMP ↔
  * epoch micros, TIMESTAMP_NTZ ↔ local micros, DATE ↔ epoch days; every
  * other value is plain JSON. Reading also accepts the pre-encoded text
  * forms a script may emit (base64, ISO-8601). A compact descriptor of
  * the convertible leaves ships to the worker once at init, so schemas
  * with no such columns cost the worker nothing per record. */
private[graft] object WireCodec {
  import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
  import org.apache.spark.sql.catalyst.util.DateTimeUtils

  /** JSON-shaped descriptor of the convertible leaves under `dt`;
    * null when nothing below needs conversion (the common case). */
  def descriptor(dt: DataType): Object = dt match {
    case BinaryType => leaf("bin")
    case TimestampType => leaf("ts")
    case TimestampNTZType => leaf("ntz")
    case DateType => leaf("date")
    case ArrayType(et, _) =>
      val e = descriptor(et)
      if (e == null) null else { val m = leaf("arr"); m.put("e", e); m }
    case MapType(_, vt, _) =>
      val v = descriptor(vt)
      if (v == null) null else { val m = leaf("map"); m.put("v", v); m }
    case st: StructType =>
      val fs = new java.util.LinkedHashMap[String, Object]()
      st.fields.foreach { f =>
        if (!SchemaCodec.isUnionField(f)) {
          val d = descriptor(f.dataType)
          if (d != null) fs.put(f.name, d)
        }
      }
      if (fs.isEmpty) null else { val m = leaf("struct"); m.put("f", fs); m }
    case _ => null
  }

  private def leaf(kind: String): java.util.LinkedHashMap[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("k", kind)
    m
  }

  /** A data type compiled once per task for the per-value walk. */
  sealed abstract class Shape
  final class Leaf(val dt: DataType) extends Shape
  final class Arr(val elem: Shape) extends Shape
  final class MapOf(val keyType: DataType, val value: Shape) extends Shape
  final class Struct(st: StructType) extends Shape {
    val names: Array[String] = st.fieldNames
    /** per field: the union type (plain-typed branch values) or null */
    val unions: Array[StructType] = st.fields.map(f =>
      if (SchemaCodec.isUnionField(f)) f.dataType.asInstanceOf[StructType] else null)
    /** per field: the enum symbols or null */
    val enums: Array[Array[String]] = st.fields.map(f =>
      if (SchemaCodec.isEnumField(f)) SchemaCodec.enumSymbols(f) else null)
    val shapes: Array[Shape] = st.fields.map(f => shape(f.dataType))
    private val index = new java.util.HashMap[String, Integer]()
    names.indices.foreach(i => index.put(names(i), i))
    def indexOf(name: String): Int = { val i = index.get(name); if (i == null) -1 else i }
  }

  private def shape(dt: DataType): Shape = dt match {
    case st: StructType => new Struct(st)
    case ArrayType(et, _) => new Arr(shape(et))
    case MapType(kt, vt, _) => new MapOf(kt, shape(vt))
    case other => new Leaf(other)
  }

  // ---- write: external Row values → JSON + side bytes -------------------

  def writeStruct(g: JsonGenerator, row: Row, s: Struct,
                  side: java.util.ArrayList[Array[Byte]]): Unit = {
    g.writeStartObject()
    var i = 0
    while (i < s.names.length) {
      g.writeFieldName(s.names(i))
      val v = row.get(i)
      if (v == null) g.writeNull()
      else if (s.unions(i) != null)
        writePlain(g, SchemaCodec.fromUnion(v.asInstanceOf[Row], s.unions(i)))
      else if (s.enums(i) != null)
        g.writeString(SchemaCodec.checkEnum(v, s.enums(i), "decode").asInstanceOf[String])
      else write(g, v, s.shapes(i), side)
      i += 1
    }
    g.writeEndObject()
  }

  private def write(g: JsonGenerator, v: Any, s: Shape,
                    side: java.util.ArrayList[Array[Byte]]): Unit =
    if (v == null) g.writeNull()
    else s match {
      case l: Leaf => writeLeaf(g, v, l.dt, side)
      case a: Arr =>
        g.writeStartArray()
        v.asInstanceOf[scala.collection.Seq[Any]].foreach(write(g, _, a.elem, side))
        g.writeEndArray()
      case m: MapOf =>
        g.writeStartObject()
        v.asInstanceOf[scala.collection.Map[Any, Any]].foreach { case (k, x) =>
          g.writeFieldName(String.valueOf(k)); write(g, x, m.value, side) }
        g.writeEndObject()
      case st: Struct => writeStruct(g, v.asInstanceOf[Row], st, side)
    }

  private def writeLeaf(g: JsonGenerator, v: Any, dt: DataType,
                        side: java.util.ArrayList[Array[Byte]]): Unit = dt match {
    case _: StringType => g.writeString(v.asInstanceOf[String])
    case LongType | IntegerType | ShortType | ByteType =>
      g.writeNumber(v.asInstanceOf[Number].longValue())
    case DoubleType => g.writeNumber(v.asInstanceOf[Double])
    case FloatType => g.writeNumber(v.asInstanceOf[Float])
    case BooleanType => g.writeBoolean(v.asInstanceOf[Boolean])
    case _: DecimalType => g.writeNumber(v.asInstanceOf[java.math.BigDecimal])
    case BinaryType =>
      side.add(v.asInstanceOf[Array[Byte]])
      g.writeNumber(side.size() - 1)
    case TimestampType => g.writeNumber(v match {
      case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
      case i: Instant => DateTimeUtils.instantToMicros(i)
    })
    case TimestampNTZType =>
      g.writeNumber(DateTimeUtils.localDateTimeToMicros(v.asInstanceOf[LocalDateTime]))
    case DateType => g.writeNumber(v match {
      case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
      case d: LocalDate => DateTimeUtils.localDateToDays(d)
    })
    case other => throw new IllegalArgumentException(
      s"${other.simpleString} values cannot cross the python wire")
  }

  /** Union branch values travel plain-typed: no side bytes or epoch
    * numbers, which the worker would not decode. */
  private def writePlain(g: JsonGenerator, v: Any): Unit = v match {
    case null => g.writeNull()
    case s: String => g.writeString(s)
    case b: java.lang.Boolean => g.writeBoolean(b)
    case d: java.lang.Double => g.writeNumber(d.doubleValue())
    case f: java.lang.Float => g.writeNumber(f.floatValue())
    case d: java.math.BigDecimal => g.writeNumber(d)
    case n: Number => g.writeNumber(n.longValue())
    case b: Array[Byte] => g.writeBinary(b)
    case m: scala.collection.Map[_, _] =>
      g.writeStartObject()
      m.foreach { case (k, x) => g.writeFieldName(String.valueOf(k)); writePlain(g, x) }
      g.writeEndObject()
    case s: scala.collection.Seq[_] =>
      g.writeStartArray(); s.foreach(writePlain(g, _)); g.writeEndArray()
    case other => g.writeString(other.toString)
  }

  // ---- read: JSON + side bytes → external Row values ---------------------

  /** The object at the parser's START_OBJECT as a Row of `s`; unknown
    * keys are skipped, absent fields are null. Values coerce like
    * [[SchemaCodec.mapToRow]]. */
  def readStruct(p: JsonParser, s: Struct, side: Array[Array[Byte]]): Row = {
    val n = s.names.length
    val values = new Array[Any](n)
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val i = s.indexOf(p.currentName())
      p.nextToken()
      if (i < 0) p.skipChildren()
      else values(i) =
        if (s.unions(i) != null) SchemaCodec.toUnion(readAny(p), s.unions(i))
        else if (s.enums(i) != null) SchemaCodec.checkEnum(readAny(p), s.enums(i), "encode")
        else read(p, s.shapes(i), side)
    }
    var i = 0
    while (i < n) { // an absent union is an all-null branch struct, as in mapToRow
      if (values(i) == null && s.unions(i) != null)
        values(i) = SchemaCodec.toUnion(null, s.unions(i))
      i += 1
    }
    new GenericRow(values)
  }

  private def read(p: JsonParser, s: Shape, side: Array[Array[Byte]]): Any = {
    val t = p.currentToken()
    if (t == JsonToken.VALUE_NULL) null
    else s match {
      case l: Leaf => readLeaf(p, t, l.dt, side)
      case a: Arr if t == JsonToken.START_ARRAY =>
        val b = Vector.newBuilder[Any]
        while (p.nextToken() != JsonToken.END_ARRAY) b += read(p, a.elem, side)
        b.result()
      case m: MapOf if t == JsonToken.START_OBJECT =>
        val b = Map.newBuilder[Any, Any]
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val k = SchemaCodec.encode(p.currentName(), m.keyType)
          p.nextToken()
          b += k -> read(p, m.value, side)
        }
        b.result()
      case st: Struct if t == JsonToken.START_OBJECT => readStruct(p, st, side)
      case _ => readAny(p) // a shape mismatch passes through, as before
    }
  }

  private def readLeaf(p: JsonParser, t: JsonToken, dt: DataType,
                       side: Array[Array[Byte]]): Any = (t, dt) match {
    case (JsonToken.VALUE_STRING, _: StringType) => p.getText
    case (JsonToken.VALUE_NUMBER_INT, LongType) => p.getLongValue
    case (JsonToken.VALUE_NUMBER_FLOAT, DoubleType) => p.getDoubleValue
    case (JsonToken.VALUE_NUMBER_INT, BinaryType) =>
      val i = p.getIntValue
      if (i < 0 || i >= side.length) throw new IllegalStateException(
        s"python worker protocol error: side-bytes index $i of ${side.length}")
      side(i)
    case (JsonToken.VALUE_NUMBER_INT, TimestampType) =>
      DateTimeUtils.toJavaTimestamp(p.getLongValue)
    case (JsonToken.VALUE_NUMBER_INT, TimestampNTZType) =>
      DateTimeUtils.microsToLocalDateTime(p.getLongValue)
    case (JsonToken.VALUE_NUMBER_INT, DateType) =>
      DateTimeUtils.toJavaDate(p.getIntValue)
    case (JsonToken.VALUE_STRING, BinaryType | TimestampType | TimestampNTZType | DateType) =>
      fromText(p.getText, dt)
    case _ => SchemaCodec.encode(readAny(p), dt)
  }

  /** The pre-encoded text forms a script may emit. */
  private def fromText(s: String, dt: DataType): Any = dt match {
    case BinaryType => java.util.Base64.getDecoder.decode(s)
    case TimestampType =>
      // aware ISO (or a naive string = assume UTC)
      try java.sql.Timestamp.from(OffsetDateTime.parse(s).toInstant)
      catch { case _: java.time.format.DateTimeParseException =>
        java.sql.Timestamp.from(LocalDateTime.parse(s).toInstant(ZoneOffset.UTC)) }
    case TimestampNTZType => LocalDateTime.parse(s)
    case DateType => java.sql.Date.valueOf(LocalDate.parse(s))
  }

  /** Any JSON value as the plain Scala value a script-side map holds:
    * objects → Map, arrays → List, integers → Int/Long, floats → Double. */
  def readAny(p: JsonParser): Any = p.currentToken() match {
    case JsonToken.VALUE_NULL => null
    case JsonToken.VALUE_STRING => p.getText
    case JsonToken.VALUE_TRUE => true
    case JsonToken.VALUE_FALSE => false
    case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
      case JsonParser.NumberType.INT => p.getIntValue
      case JsonParser.NumberType.LONG => p.getLongValue
      case _ => p.getBigIntegerValue.longValueExact()
    }
    case JsonToken.VALUE_NUMBER_FLOAT => p.getDoubleValue
    case JsonToken.START_ARRAY =>
      val b = List.newBuilder[Any]
      while (p.nextToken() != JsonToken.END_ARRAY) b += readAny(p)
      b.result()
    case JsonToken.START_OBJECT =>
      val b = Map.newBuilder[String, Any]
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val k = p.currentName()
        p.nextToken()
        b += k -> readAny(p)
      }
      b.result()
    case t => throw new IllegalStateException(s"unexpected JSON token $t")
  }
}

/** Scala → java.util JSON-shape conversion for the worker's init frame. */
private[graft] object JsonCodec {
  def toJava(v: Any): Object = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Object]()
      m.foreach { case (k, x) => out.put(String.valueOf(k), toJava(x)) }
      out
    case s: scala.collection.Seq[_] =>
      val out = new java.util.ArrayList[Object](s.length)
      s.foreach(x => out.add(toJava(x)))
      out
    case other => other.asInstanceOf[Object]
  }
}
