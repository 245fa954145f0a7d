package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If, IsNull, Literal, Or}
import org.apache.spark.sql.graft.{DotInt8, DotProduct, Int8Scale, NearestCell, QuantizeInt8}
import org.apache.spark.sql.types.LongType

/** Session factory with the engine's standard configuration.
  *
  * Settings chosen for correctness parity with the DuckDB oracle (UTC,
  * nanos-as-long) and for scale (AQE on, skew-join handling, shuffle
  * partition count sized to cores locally — on a real cluster AQE
  * coalescing makes the initial number a ceiling, not a constant).
  */
object GraftSession {
  /** Entries in Spark's cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100).
    *
    * Graft plans the same pipelines again and again in one long-lived
    * session (scheduled runs, incremental loops, `foreachBatch`
    * micro-batches). A cache smaller than that working set makes every
    * rerun compile most of its classes again with Janino, and the JIT then
    * compiles the new bytecode too. Measured working sets:
    *   - one `curationPipeline` + `ngramJaccard` pass: ~119 entries
    *     (the key includes the class loader, and a local session compiles
    *     each whole-stage class under two loaders); with the default,
    *     67-99 of them were compiled again on every rerun;
    *   - the 227-key `graft.Bench` suite: ~3 000 first-run compiles.
    * The cache is Guava's size-bounded cache, which may evict before the
    * limit is reached, so the bound sits well above one pipeline's set.
    *
    * Spark reads this static conf once per JVM, when `CodeGenerator` is
    * first used, so only a session built before any query ran can set it.
    */
  val CodegenCacheMaxEntries = 1000

  /** Runtime confs every Graft session carries: [[builder]] sets them at
    * build time and [[tune]] on an existing session. */
  private val RuntimeConfs = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // runtime bloom-filter join pruning: at cluster scale a selective
    // dim filter prunes the fact scan before the shuffle
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // engine extensions: native expressions available from SQL too
      .withExtensions { ext =>
        def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
          ext.injectFunction((FunctionIdentifier(name),
            new ExpressionInfo(cls.getName, name), build))
        fn("graft_dot", classOf[DotProduct])(c => DotProduct(c.head, c(1)))
        // the raw kernel is non-nullable by contract (callers in the
        // operator layer filter nulls to keep the codegen win); the SQL
        // surface guards it with an If that constant-folds away for
        // non-nullable inputs, so ad-hoc SQL over nullable columns gets
        // NULL instead of an NPE
        fn("graft_nearest_cell", classOf[NearestCell])(c =>
          If(Or(Or(IsNull(c.head), IsNull(c(1))), IsNull(c(2))),
            Literal.create(null, LongType),
            NearestCell(c.head, c(1), c(2))))
        fn("graft_quantize_int8", classOf[QuantizeInt8])(c => QuantizeInt8(c.head))
        fn("graft_int8_scale", classOf[Int8Scale])(c => Int8Scale(c.head))
        fn("graft_dot_int8", classOf[DotInt8])(c => DotInt8(c.head, c(1)))
      }
      .config(RuntimeConfs.toMap)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // managed (bucketed) tables land in tmp, not the caller's cwd
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toString)

  /** Cores of the measurement mains' local session: `SPARK_GRAFT_CPUS`,
    * else this host's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every `main` runs on: [[builder]] at `local[`[[cpus]]`]`,
    * logging at WARN. */
  def local(shufflePartitions: Int = cpus): SparkSession = {
    val spark = builder(s"local[$cpus]", shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply engine confs to an existing session (e.g. one a host application built).
    *
    * Only runtime confs can be set here. Static confs, among them
    * `spark.sql.codegen.cache.maxEntries` ([[CodegenCacheMaxEntries]]),
    * are fixed when the session is built; a caller who builds its own
    * session sets that one in its builder, or reruns of the same plans
    * recompile their generated code. */
  def tune(spark: SparkSession): SparkSession = {
    RuntimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
