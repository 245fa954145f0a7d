// Lives under org.apache.spark.sql so it can reach the private[sql]
// Dataset.ofRows constructor — the same placement as VectorExprs.
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.StructType

/** Plans graft's logical nodes: [[DeferredDF]]'s and [[ScriptPlan]]'s. */
private object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeferredDF.DeferredPlan(out, b) => DeferredDF.DeferredExec(out, b) :: Nil
    case ScriptPlan.Script(e, r, out, c) => ScriptPlan.ScriptExec(e, r, out, planLater(c)) :: Nil
    case _ => Nil
  }

  /** `plan` as a frame of `spark`, whose planner gets this strategy once. */
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame = {
    val cs = spark.asInstanceOf[ClassicSession]
    val em = cs.sessionState.experimentalMethods
    em.synchronized {
      if (!em.extraStrategies.exists(_ eq this))
        em.extraStrategies = this +: em.extraStrategies
    }
    Dataset.ofRows(cs, plan)
  }
}

/** A DataFrame whose construction is DEFERRED to first execution.
  *
  * Some operators (lmScore's broadcast-model serve, any train-then-serve
  * shape) must run driver-side Spark jobs — collect a model, count a
  * table — before their serving plan exists. Building those jobs at
  * DataFrame-CONSTRUCTION time makes plan-only callers (`.explain`,
  * plan dumps, registry enumeration) silently pay corpus
  * scans. `DeferredDF(spark, schema, thunk)` instead plants an opaque
  * logical leaf carrying the builder; the physical node's `doExecute`
  * — which Spark invokes only when an ACTION runs, on a driver thread
  * that may freely submit nested jobs (exactly how Spark's own subquery
  * and broadcast-exchange nodes work) — calls the thunk once, memoizes
  * the built DataFrame, and splices its row RDD into the outer query.
  *
  * The thunk's result must match `schema` exactly (positional); this is
  * asserted at execution. The deferred plan reports MaxValue stats so
  * the optimizer never tries to broadcast the opaque side. */
object DeferredDF {

  private[graft] case class DeferredPlan(
      output: Seq[Attribute],
      builder: MemoBuilder) extends LeafNode {
    // opaque: never a broadcast candidate
    override def computeStats(): Statistics =
      Statistics(sizeInBytes = BigInt(Long.MaxValue))
  }

  private[graft] case class DeferredExec(
      output: Seq[Attribute],
      builder: MemoBuilder) extends LeafExecNode {
    override protected def doExecute(): RDD[InternalRow] = {
      val df = builder.get
      val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val want = output.map(a => (a.name, a.dataType))
      require(got == want,
        s"DeferredDF schema mismatch: declared $want, built $got")
      df.queryExecution.toRdd
    }
  }

  /** Memoizes the built DataFrame so repeated executions of the outer
    * query (count + collect, retried stages) build the model once.
    * Carried by reference through plan copies/canonicalization. */
  final class MemoBuilder(thunk: () => DataFrame) extends Serializable {
    @transient private lazy val memo: DataFrame = thunk()
    def get: DataFrame = memo
  }

  /** Plan-evidence support (`graft.Profile -p`): build and return the memoized
    * inner DataFrame of every Deferred node under `df`'s analyzed plan,
    * recursively — so before/after dumps show the REAL serving plan
    * instead of one opaque `DeferredPlan ... MemoBuilder` leaf. Calling
    * this RUNS each thunk's driver-side build jobs (gate counts, model
    * collects); it is a tooling path, never part of query execution. */
  def innerFrames(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.DataFrame] = {
    val built = df.asInstanceOf[Dataset[_]].queryExecution.analyzed
      .collect { case DeferredPlan(_, b) => b.get }
    built.flatMap(inner => inner +: innerFrames(inner))
  }

  /** The deferred frame; zero Spark jobs run until an action does. */
  def apply(spark: org.apache.spark.sql.SparkSession, schema: StructType,
            thunk: () => org.apache.spark.sql.DataFrame): DataFrame =
    GraftStrategy.ofRows(spark, DeferredPlan(toAttributes(schema),
      new MemoBuilder(() => thunk().asInstanceOf[DataFrame])))
}

/** A record-script transform as one planned operator: a logical node over
  * the input's plan and a physical node whose `doExecute` maps each input
  * partition through `run` (a JVM closure or a python worker; `engine` is
  * a label for `explain`). Building the frame runs no job. `run` gets the
  * child's rows and returns UnsafeRows of `output`; the node references
  * every input column, so the optimizer prunes none from below it. */
object ScriptPlan {

  /** One partition's input rows to its output rows; runs on executors. */
  type Run = Iterator[InternalRow] => Iterator[InternalRow]

  private[graft] case class Script(
      engine: String, run: Run, output: Seq[Attribute], child: LogicalPlan)
      extends UnaryNode {
    override def references: AttributeSet = child.outputSet
    override protected def stringArgs: Iterator[Any] = Iterator(engine, output)
    override protected def withNewChildInternal(c: LogicalPlan): Script =
      copy(child = c)
  }

  private[graft] case class ScriptExec(
      engine: String, run: Run, output: Seq[Attribute], child: SparkPlan)
      extends UnaryExecNode {
    override def producedAttributes: AttributeSet = outputSet
    override protected def stringArgs: Iterator[Any] = Iterator(engine, output)
    override protected def doExecute(): RDD[InternalRow] =
      child.execute().mapPartitionsInternal(run)
    override protected def withNewChildInternal(c: SparkPlan): ScriptExec =
      copy(child = c)
  }

  /** The frame of `schema` that `run` makes of `df`'s partitions. */
  def apply(df: org.apache.spark.sql.DataFrame, engine: String,
            schema: StructType, run: Run): DataFrame =
    GraftStrategy.ofRows(df.sparkSession, Script(engine, run, toAttributes(schema),
      df.asInstanceOf[Dataset[_]].logicalPlan))
}
