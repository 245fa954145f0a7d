package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructType}

/** What the sink saw of one channel: its row count and an
  * order-independent hash (two 32-bit halves of xxhash64 summed
  * separately, so duplicate rows count and nothing overflows), or, for a
  * keysOnly channel, its row count and the set of key pairs. */
final case class Seen(count: Long, hi: Long, lo: Long, keys: Set[(Long, Long)] = Set.empty)

/** How one checked pass compared with the reference. `rerun` marks an
  * exact channel whose count or hash differed: the pass has failed, and
  * matched/extra come from diffing a rebuilt pipeline (the pass's own
  * rows are gone), so they only fill in the recall base. */
final case class Verdict(matched: Long, expected: Long, extra: Long, exactMissing: Long,
                         rerun: Boolean = false) {
  def failed: Boolean = rerun || extra > 0 || exactMissing > 0
}

object Check {
  val mapper = new ObjectMapper()

  /** Map columns become sorted entry arrays: hashable, comparable, and
    * independent of map insertion order. */
  def canon(df: DataFrame): DataFrame = df.select(df.schema.fields.toSeq.map { f =>
    f.dataType match {
      case _: MapType => array_sort(map_entries(col(f.name))).as(f.name)
      case _ => col(f.name)
    }
  }: _*)

  private def rowHash(df: DataFrame): Column = xxhash64(df.columns.toSeq.map(col): _*)

  /** The sink: every column of every row feeds the aggregate, so nothing
    * is pruned, and its result doubles as the output check. */
  def sink(ch: Channel): Seen =
    if (ch.keysOnly) {
      val rows = ch.df.collect().map(r => (r.getLong(0), r.getLong(1)))
      Seen(rows.length.toLong, 0L, 0L, rows.toSet)
    } else {
      val c = canon(ch.df)
      val h = rowHash(c)
      val r = c.agg(count(lit(1)), coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)),
        coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L))).head()
      Seen(r.getLong(0), r.getLong(1), r.getLong(2))
    }

  /** The reference channel read back with the program's output schema,
    * so both sides hash identical types. */
  def refFrame(spark: SparkSession, refDir: String, ch: String, schema: StructType): DataFrame = {
    val raw = spark.read.parquet(s"$refDir/$ch.parquet")
    raw.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Reference count/hash per channel, computed once per seed and cached
    * in `<ref>/hash.json` beside the DuckDB output. */
  def refSeen(spark: SparkSession, refDir: String, schemas: Map[String, (StructType, Boolean)])
      : Map[String, Seen] = {
    val cache = Path.of(refDir, "hash.json")
    val cached: Map[String, Seq[Long]] =
      if (!Files.exists(cache)) Map.empty
      else mapper.readTree(cache.toFile).properties().asScala
        .map(e => e.getKey -> e.getValue.elements().asScala.map(_.asLong).toSeq).toMap
    val out = schemas.map { case (ch, (schema, keysOnly)) =>
      val df = refFrame(spark, refDir, ch, schema)
      ch -> (if (keysOnly) sink(Channel(ch, df, keysOnly = true))
      else cached.get(ch) match {
        case Some(Seq(n, hi, lo)) => Seen(n, hi, lo)
        case _ => sink(Channel(ch, df))
      })
    }
    val toCache = out.filter(kv => !schemas(kv._1)._2)
    if (toCache.keySet != cached.keySet) {
      val node = mapper.createObjectNode()
      toCache.toSeq.sortBy(_._1).foreach { case (k, s) =>
        node.putArray(k).add(s.count).add(s.hi).add(s.lo)
      }
      mapper.writeValue(cache.toFile, node)
    }
    out
  }

  /** Multiset diff of a channel against its reference: (matched, extra). */
  def diff(spark: SparkSession, refDir: String, ch: Channel): (Long, Long) = {
    val out = canon(ch.df)
    val ref = canon(refFrame(spark, refDir, ch.name, ch.df.schema))
    val missing = ref.exceptAll(out).count()
    val extra = out.exceptAll(ref).count()
    (ref.count() - missing, extra)
  }

  /** An exact channel passes only if its own count and hash equal the
    * reference's; `rerunDiff` is called only when they do not, to fill in
    * the recall base. A keysOnly channel may miss reference pairs (the
    * disclosed approximation), but every row that is not a distinct
    * reference pair, a duplicate included, is extra and fails the pass. */
  def verdict(seen: Seen, ref: Seen, keysOnly: Boolean, rerunDiff: () => (Long, Long)): Verdict =
    if (keysOnly) {
      val matched = seen.keys.count(ref.keys.contains).toLong
      Verdict(matched, ref.keys.size.toLong, seen.count - matched, 0L)
    } else if (seen == ref) Verdict(ref.count, ref.count, 0L, 0L)
    else {
      val (matched, extra) = rerunDiff()
      Verdict(matched, ref.count, extra, ref.count - matched, rerun = true)
    }
}
