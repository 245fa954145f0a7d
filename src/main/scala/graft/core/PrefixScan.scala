package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed running aggregates without a single-partition window over
  * the rows: the two-pass prefix scan (Blelloch, "Prefix Sums and Their
  * Applications", 1990) cut along a caller-chosen bucket.
  *
  *   1. per-(by…, bucket) totals: a map-side-combined aggregate, one row
  *      per occupied bucket;
  *   2. exclusive offsets across each `by` group's buckets: a ROWS window
  *      over that tiny table (with no `by` it is one partition BY DESIGN;
  *      its size is the bucket count, not the row count);
  *   3. the offsets join back under an explicit broadcast hint, so a
  *      stats misestimate can never shuffle the rows for them;
  *   4. [[running]] only: a ROWS window over (by…, bucket) carries the
  *      within-bucket remainder, so per-task input is one bucket.
  *
  * The caller picks the bucket, and that is the only thing callers differ
  * in: a hash prefix, shifted sortable bits, a value range or the hour.
  * The bucket must be a non-decreasing function of the order (each
  * bucket is a contiguous range of it), so bucket order then
  * within-bucket order IS the order. ROWS frames, not RANGE: duplicate
  * order keys take their share one row at a time instead of all peers
  * seeing the combined total.
  *
  * Null policy: the join back is null-safe (`<=>`), so a row whose `by`
  * key or bucket is null keeps its place; the null bucket sorts first,
  * as a null order key does in Spark's ascending single-window
  * formulation.
  *
  * The input feeds two subtrees (the totals and the join back), so its
  * upstream runs twice; a lazy checkpoint measured slower at sf0.1
  * (q_rfm 2.44 -> 3.06 s), so it recomputes.
  *
  * Reserved column names: `_bkt`, `_b`, `_s*`, `_bsum*` and `_off*`.
  */
object PrefixScan {

  /** One running aggregate of `value`, written to column `out`. */
  sealed trait Agg { def value: Column; def out: String }
  final case class Sum(value: Column, out: String) extends Agg
  final case class Max(value: Column, out: String) extends Agg

  private def nth(name: String, i: Int): String =
    if (i == 0) name else s"$name$i"

  /** `rows` plus `_bkt`, the `by` / bucket keys of the offsets table and
    * one exclusive offset per `totals` entry, whose `value` is an
    * aggregate over a bucket's rows. SUM offsets start at 0, MAX offsets
    * are null before the first bucket. */
  private def withOffsets(rows: DataFrame, by: Seq[Column], bucket: Column,
      totals: Seq[Agg]): DataFrame = {
    val tagged = rows.withColumn("_bkt", bucket)
    val sNames = by.indices.map(nth("_s", _))
    val wOff = Window.partitionBy(sNames.map(col): _*).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sums = totals.zipWithIndex.map { case (t, i) =>
      t.value.as(nth("_bsum", i)) }
    val perBucket = tagged
      .groupBy(by.zip(sNames).map { case (c, s) => c.as(s) } :+
        col("_bkt").as("_b"): _*)
      .agg(sums.head, sums.tail: _*)
    val offsets = totals.zipWithIndex.foldLeft(perBucket) {
      case (df, (Sum(_, out), i)) =>
        df.withColumn(out,
          coalesce(sum(col(nth("_bsum", i))).over(wOff), lit(0L)))
      case (df, (Max(_, out), i)) =>
        df.withColumn(out, max(col(nth("_bsum", i))).over(wOff))
    }.select((sNames :+ "_b").map(col) ++ totals.map(t => col(t.out)): _*)
    val on = (by.zip(sNames).map { case (c, s) => c <=> col(s) } :+
      (col("_bkt") <=> col("_b"))).reduce(_ && _)
    tagged.join(broadcast(offsets), on)
  }

  private def scratch(by: Seq[Column]): Seq[String] =
    "_bkt" +: by.indices.map(nth("_s", _)) :+ "_b"

  /** Appends one column per `totals` entry: the EXCLUSIVE prefix, over
    * bucket order within each `by` group, of a per-(by…, bucket) total.
    * Each `value` is an aggregate over one bucket's rows (`max(seq) + 1`,
    * `sum(n)`); [[Sum]] adds bucket totals up, [[Max]] takes their max. */
  def offsets(rows: DataFrame, by: Seq[Column], bucket: Column,
      totals: Seq[Agg]): DataFrame =
    withOffsets(rows, by, bucket, totals).drop(scratch(by): _*)

  /** Appends one column per `aggs` entry: the running SUM / MAX of its
    * `value` over (`by`…) in `order`, INCLUSIVE of the current row or,
    * with `exclusive`, of the rows strictly before it (an exclusive SUM
    * starts at 0; an exclusive MAX is null with no predecessor).
    * `prune`, given the first aggregate's bucket offset, drops whole
    * buckets before the window sorts them (a budget cut on a monotone
    * sum). */
  def running(rows: DataFrame, by: Seq[Column], bucket: Column,
      order: Seq[Column], aggs: Seq[Agg], exclusive: Boolean = false,
      prune: Option[Column => Column] = None): DataFrame = {
    val offs = aggs.indices.map(nth("_off", _))
    val totals = aggs.zip(offs).map {
      case (Sum(v, _), o) => Sum(sum(v), o)
      case (Max(v, _), o) => Max(max(v), o)
    }
    val joined = withOffsets(rows, by, bucket, totals)
    val kept = prune.fold(joined)(p => joined.filter(p(col(offs.head))))
    val wIn = Window.partitionBy(by :+ col("_bkt"): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding,
        if (exclusive) -1 else Window.currentRow)
    aggs.zip(offs).foldLeft(kept) {
      case (df, (Sum(v, out), o)) =>
        val within = sum(v).over(wIn)
        df.withColumn(out,
          col(o) + (if (exclusive) coalesce(within, lit(0L)) else within))
      case (df, (Max(v, out), o)) =>
        df.withColumn(out, greatest(col(o), max(v).over(wIn)))
    }.drop(scratch(by) ++ offs: _*)
  }
}
