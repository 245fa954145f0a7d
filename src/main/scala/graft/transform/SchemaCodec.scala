package graft.transform

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, GenericRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Record codec of the imperative script paths.
  *
  * The reference crosses the engine/script boundary with a typed codec
  * covering NULL, BOOLEAN, INT, LONG, FLOAT, DOUBLE, BYTES, STRING, ARRAY,
  * MAP, RECORD (ref: PythonObjectsEncoder.java). Graft's equivalent maps
  * Spark's row values to plain Scala collections so user closures see
  * `Map[String, Any]` records, and encodes emitted maps back under a
  * declared output schema (with forgiving numeric coercion, since script
  * code is dynamically typed). The JVM engine runs it on InternalRows
  * through a [[StructCodec]] compiled once per task; the python wire
  * uses the external-Row helpers ([[encode]], [[toUnion]], [[fromUnion]]).
  */
object SchemaCodec {

  /** Marker on a struct-typed field meaning "this struct encodes an
    * Avro-style heterogeneous union": one nullable `memberN` field per
    * branch, at most one non-null. `[null, T]` unions are plain nullable
    * fields (no wrapper needed); this mapping covers the general
    * `[T1, T2, ...]` case the reference's PythonObjectsEncoder handles
    * dynamically (ref: PythonObjectsEncoder.java). Spark has no union
    * type, so the struct-of-options IS the on-wire representation; the
    * script-side codec unwraps it to the naked branch value and re-wraps
    * emitted values by runtime type, so union columns feel native inside
    * script code. */
  private val UnionMarker = "graft.union"

  /** Struct field declaring a union of `branches` (order = Avro branch
    * resolution order: first runtime-type match wins on encode). */
  def unionField(name: String, branches: Seq[DataType]): StructField =
    StructField(name, unionType(branches), nullable = true,
      new MetadataBuilder().putBoolean(UnionMarker, true).build())

  def unionType(branches: Seq[DataType]): StructType =
    StructType(branches.zipWithIndex.map { case (dt, i) =>
      StructField(s"member$i", dt, nullable = true)
    })

  def isUnionField(f: StructField): Boolean =
    f.metadata.contains(UnionMarker) && f.dataType.isInstanceOf[StructType]

  /** Marker carrying an ENUM's symbol list. Spark has no enum type — the
    * on-wire representation is a string column (the same mapping the
    * reference's encoder applies: ENUM encodes as its symbol string, ref:
    * PythonObjectsEncoder.java:51,129) — but the codec VALIDATES against
    * the declared symbols in both directions: a non-symbol in the data is
    * corruption (decode throws), a non-symbol emitted by a script is a
    * script bug (encode throws). The reference only encodes and throws on
    * decode; Graft supports both directions, plus the ordinal-int
    * convenience on encode (scripts may emit the symbol's index). */
  private val EnumMarker = "graft.enum.symbols"

  /** String field declaring an enum with `symbols` (declaration order =
    * ordinal order). */
  def enumField(name: String, symbols: Seq[String]): StructField =
    StructField(name, StringType, nullable = true,
      new MetadataBuilder().putStringArray(EnumMarker, symbols.toArray).build())

  def isEnumField(f: StructField): Boolean =
    f.metadata.contains(EnumMarker) && f.dataType == StringType

  def enumSymbols(f: StructField): Array[String] =
    f.metadata.getStringArray(EnumMarker)

  private[transform] def checkEnum(v: Any, symbols: Array[String], dir: String): Any =
    v match {
      case null => null
      case s: String =>
        if (symbols.contains(s)) s
        else throw new IllegalArgumentException(
          s"'$s' is not a symbol of enum ${symbols.mkString("[", ",", "]")} ($dir)")
      case i: java.lang.Integer => // ordinal form (encode-side convenience)
        if (i >= 0 && i < symbols.length) symbols(i)
        else throw new IllegalArgumentException(
          s"ordinal $i out of range for enum ${symbols.mkString("[", ",", "]")} ($dir)")
      case other => throw new IllegalArgumentException(
        s"${other.getClass.getName} is not a valid enum value ($dir)")
    }

  /** Union row (struct-of-options) → the single non-null branch value,
    * decoded; null if all branches are null (the `[null, ...]` case). */
  def fromUnion(row: Row, ut: StructType): Any = {
    if (row == null) return null
    var i = 0
    while (i < ut.length) {
      val v = row.get(i)
      if (v != null) return decode(v, ut(i).dataType)
      i += 1
    }
    null
  }

  /** Wrap a script-side value into the first union branch its runtime
    * type matches (Avro-style resolution). Throws on no match — emitting
    * a value outside the declared union is a script bug, not data. */
  def toUnion(value: Any, ut: StructType): Row = {
    val values = new Array[Any](ut.length)
    if (value != null) {
      val hit = unionBranch(value, ut)
      values(hit) = encode(value, ut(hit).dataType)
    }
    new GenericRow(values)
  }

  /** The first branch of `ut` that non-null `value` matches. */
  private def unionBranch(value: Any, ut: StructType): Int = {
    var i = 0
    while (i < ut.length && !branchMatches(value, ut(i).dataType)) i += 1
    if (i == ut.length) throw new IllegalArgumentException(
      s"value of ${value.getClass.getName} matches no union branch in ${ut.simpleString}")
    i
  }

  private def branchMatches(v: Any, dt: DataType): Boolean = (v, dt) match {
    case (_: java.lang.Integer, IntegerType) => true
    case (_: java.lang.Long, LongType) => true
    case (_: java.lang.Double, DoubleType) => true
    case (_: java.lang.Float, FloatType) => true
    case (_: java.lang.Short, ShortType) => true
    case (_: java.lang.Byte, ByteType) => true
    case (_: java.lang.Boolean, BooleanType) => true
    case (_: String, StringType) => true
    case (_: Array[Byte], BinaryType) => true
    case (_: scala.collection.Seq[_], _: ArrayType) => true
    case (_: scala.collection.Map[_, _], _: MapType) => true
    case (_: scala.collection.Map[_, _], _: StructType) => true
    case (_: Row, _: StructType) => true
    case _ => false
  }

  /** External row value → plain Scala value (structs → Map, arrays → Seq). */
  def decode(value: Any, dt: DataType): Any = (value, dt) match {
    case (null, _) => null
    case (r: Row, st: StructType) => rowToMap(r, st)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      s.map(decode(_, et)).toSeq
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.map { case (k, v) => decode(k, kt) -> decode(v, vt) }.toMap
    case (v, _) => v
  }

  /** Scala value → external row value under the declared type, coercing
    * numerics the way a dynamically-typed script expects. */
  def encode(value: Any, dt: DataType): Any = (value, dt) match {
    case (null, _) => null
    case (m: scala.collection.Map[_, _], st: StructType) =>
      mapToRow(m.asInstanceOf[scala.collection.Map[String, Any]], st)
    case (r: Row, _: StructType) => r
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(encode(_, et))
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.map { case (k, v) => encode(k, kt) -> encode(v, vt) }
    case (v: Number, LongType) => v.longValue()
    case (v: Number, IntegerType) => v.intValue()
    case (v: Number, DoubleType) => v.doubleValue()
    case (v: Number, FloatType) => v.floatValue()
    case (v: Number, ShortType) => v.shortValue()
    case (v: Number, ByteType) => v.byteValue()
    case (v: Number, d: DecimalType) =>
      BigDecimal(v.doubleValue()).setScale(d.scale, BigDecimal.RoundingMode.HALF_UP)
    case (v, StringType) => v.toString
    case (v, _) => v
  }

  // ---- the compiled codec: catalyst values <-> script values ------------

  /** The script value of the non-null catalyst value at ordinal `i` of a
    * row or an array. */
  private trait Reader { def read(g: SpecializedGetters, i: Int): Any }

  /** A script value as the catalyst value of the writer's type. */
  private type Writer = Any => Any

  /** A value the output type cannot hold, found when an emitted record is
    * written. It fails the task under either error policy: it is a
    * mismatch between the script and its declared schema, not bad input. */
  final class UnconvertibleValue(value: Any, dt: DataType, cause: Throwable)
      extends RuntimeException(
        s"a ${value.getClass.getName} cannot be written as ${dt.simpleString}: $cause", cause)

  /** A struct schema compiled once into one reader and one writer per
    * field. Reading gives the values a script sees: boxed primitives,
    * String, Array[Byte], java.math.BigDecimal, java.sql.Date and
    * Timestamp, an immutable ArraySeq per array and an immutable Map per
    * map or struct; a union field reads as its non-null branch and an
    * enum field is checked against its symbols. Writing coerces numerics
    * the way a dynamically-typed script expects (see [[encode]]); every
    * other value converts as Spark's CatalystTypeConverters converts it.
    * Converters read session confs (datetime API, ANSI), so compile a
    * codec where its rows are read: inside the task. */
  final class StructCodec(schema: StructType) {
    private val fields = schema.fields
    val length: Int = fields.length
    private val index = new java.util.HashMap[String, Integer](length * 2)
    fields.indices.foreach(i => index.put(fields(i).name, i))
    private val readers = fields.map(fieldReader)
    private val writers = fields.map(fieldWriter(_, checkEnums = true))
    // the error channel keeps an invalid record's enum text as given
    private lazy val looseWriters = fields.map(fieldWriter(_, checkEnums = false))

    def name(i: Int): String = fields(i).name
    /** The ordinal of field `name`, or -1. */
    def indexOf(name: String): Int = { val i = index.get(name); if (i == null) -1 else i }

    /** Field `i` of `row` as the script sees it. */
    def read(row: InternalRow, i: Int): Any =
      if (row.isNullAt(i)) null else readers(i).read(row, i)

    /** Every field of `row`, materialized. */
    def toMap(row: InternalRow): Map[String, Any] = {
      val b = Map.newBuilder[String, Any]
      var i = 0
      while (i < length) { b += fields(i).name -> read(row, i); i += 1 }
      b.result()
    }

    /** `m` as a row of this schema; a field `m` lacks is null (an
      * all-null branch struct for a union), a key the schema lacks is
      * ignored. */
    def write(m: scala.collection.Map[String, Any]): InternalRow = {
      val values = new Array[Any](length)
      var i = 0
      while (i < length) { values(i) = writers(i)(m.getOrElse(fields(i).name, null)); i += 1 }
      new GenericInternalRow(values)
    }

    /** `v` as field `i`'s catalyst value, its enum symbols unchecked. */
    def writeLoose(i: Int, v: Any): Any = looseWriters(i)(v)

    /** A view of one row at a time as the script's record; see
      * [[RecordView]]. */
    def view(): RecordView = new RecordView(this)
  }

  /** The record a script sees: a `Map[String, Any]` over the current
    * InternalRow, each field read on access (a script that reads 5 of 16
    * columns pays for 5). One view serves a whole task: it is valid only
    * during the transform call of its row, like the reference's record.
    * What it returns, and what `updated`, `removed` and `iterator.toMap`
    * build, owns its values and stays valid after the call. */
  final class RecordView private[SchemaCodec] (codec: StructCodec)
      extends scala.collection.immutable.AbstractMap[String, Any] {
    private[transform] var row: InternalRow = _
    override def apply(key: String): Any = {
      val i = codec.indexOf(key)
      if (i < 0) default(key) else codec.read(row, i)
    }
    override def get(key: String): Option[Any] = {
      val i = codec.indexOf(key)
      if (i < 0) None else Some(codec.read(row, i))
    }
    override def getOrElse[V1 >: Any](key: String, default: => V1): V1 = {
      val i = codec.indexOf(key)
      if (i < 0) default else codec.read(row, i)
    }
    override def contains(key: String): Boolean = codec.indexOf(key) >= 0
    override def size: Int = codec.length
    override def iterator: Iterator[(String, Any)] = {
      val r = row
      Iterator.tabulate(codec.length)(i => codec.name(i) -> codec.read(r, i))
    }
    override def removed(key: String): Map[String, Any] = codec.toMap(row).removed(key)
    override def updated[V1 >: Any](key: String, value: V1): Map[String, V1] =
      codec.toMap(row).updated(key, value)
  }

  private def fieldReader(f: StructField): Reader =
    if (isUnionField(f)) {
      val members = new StructCodec(f.dataType.asInstanceOf[StructType])
      (g, i) => {
        val u = g.getStruct(i, members.length)
        var j = 0
        var v: Any = null
        while (v == null && j < members.length) { v = members.read(u, j); j += 1 }
        v
      }
    } else if (isEnumField(f)) {
      val symbols = enumSymbols(f)
      (g, i) => checkEnum(g.getUTF8String(i).toString, symbols, "decode")
    } else reader(f.dataType)

  private def reader(dt: DataType): Reader = dt match {
    case BooleanType => (g, i) => g.getBoolean(i)
    case ByteType => (g, i) => g.getByte(i)
    case ShortType => (g, i) => g.getShort(i)
    case IntegerType => (g, i) => g.getInt(i)
    case LongType => (g, i) => g.getLong(i)
    case FloatType => (g, i) => g.getFloat(i)
    case DoubleType => (g, i) => g.getDouble(i)
    case StringType => (g, i) => g.getUTF8String(i).toString
    case BinaryType => (g, i) => g.getBinary(i)
    case d: DecimalType => (g, i) => g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
    case st: StructType =>
      val c = new StructCodec(st)
      (g, i) => c.toMap(g.getStruct(i, c.length))
    case ArrayType(et, _) =>
      val e = reader(et)
      (g, i) => {
        val a = g.getArray(i)
        val out = new Array[Any](a.numElements())
        var j = 0
        while (j < out.length) { if (!a.isNullAt(j)) out(j) = e.read(a, j); j += 1 }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      }
    case MapType(kt, vt, _) =>
      val (k, v) = (reader(kt), reader(vt))
      (g, i) => {
        val m = g.getMap(i)
        val (ks, vs) = (m.keyArray(), m.valueArray())
        val b = Map.newBuilder[Any, Any]
        var j = 0
        while (j < m.numElements()) {
          b += k.read(ks, j) -> (if (vs.isNullAt(j)) null else v.read(vs, j))
          j += 1
        }
        b.result()
      }
    case _ => // datetime and the rest: Spark's own external value
      val conv = CatalystTypeConverters.createToScalaConverter(dt)
      (g, i) => conv(g.get(i, dt))
  }

  private def fieldWriter(f: StructField, checkEnums: Boolean): Writer =
    if (isUnionField(f)) {
      val ut = f.dataType.asInstanceOf[StructType]
      val members = new StructCodec(ut)
      v => {
        val values = new Array[Any](ut.length)
        if (v != null) {
          val hit = unionBranch(v, ut)
          values(hit) = members.writeLoose(hit, v)
        }
        new GenericInternalRow(values)
      }
    } else if (isEnumField(f) && checkEnums) {
      val symbols = enumSymbols(f)
      v => {
        val s = checkEnum(v, symbols, "encode")
        if (s == null) null else UTF8String.fromString(s.asInstanceOf[String])
      }
    } else writer(f.dataType)

  /** The writer of `dt`: the common values of each type convert inline,
    * any other one through [[converted]]. */
  private[transform] def writer(dt: DataType): Writer = {
    val other = converted(dt)
    val w: Writer = dt match {
      case LongType => { case n: Number => n.longValue(); case v => other(v) }
      case IntegerType => { case n: Number => n.intValue(); case v => other(v) }
      case DoubleType => { case n: Number => n.doubleValue(); case v => other(v) }
      case FloatType => { case n: Number => n.floatValue(); case v => other(v) }
      case ShortType => { case n: Number => n.shortValue(); case v => other(v) }
      case ByteType => { case n: Number => n.byteValue(); case v => other(v) }
      case BooleanType => { case b: java.lang.Boolean => b; case v => other(v) }
      case StringType => v => UTF8String.fromString(v.toString)
      case BinaryType => { case b: Array[Byte] => b; case v => other(v) }
      case st: StructType =>
        val c = new StructCodec(st)
        ({ case m: scala.collection.Map[_, _] =>
             c.write(m.asInstanceOf[scala.collection.Map[String, Any]])
           case v => other(v) })
      case ArrayType(et, _) =>
        val e = writer(et)
        ({ case s: scala.collection.Seq[_] =>
             val out = new Array[Any](s.length)
             var j = 0
             s.foreach { x => out(j) = e(x); j += 1 }
             new GenericArrayData(out)
           case v => other(v) })
      case MapType(kt, vt, _) =>
        val (k, x) = (writer(kt), writer(vt))
        // an immutable Map only, as Spark's converter: keys that coerce
        // to one value merge, as they do through encode
        ({ case m: Map[_, _] =>
             ArrayBasedMapData(m.map { case (a, b) => k(a) -> x(b) }, identity, identity)
           case v => other(v) })
      case _ => other
    }
    v => if (v == null) null else w(v)
  }

  /** `v` under `dt` through [[encode]] and the converter Spark applies to
    * a `dt` field of an external Row, for the values the inline writers
    * leave to it (an Option, a java.time value, an Array for an array
    * type). For a primitive type that converter casts (and unwraps an
    * Option), where Spark's top-level one passes the value through, so it
    * is reached through a one-field row. */
  private def converted(dt: DataType): Writer = {
    val conv: Any => Any = dt match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType =>
        val field = CatalystTypeConverters.createToCatalystConverter(
          StructType(Seq(StructField("v", dt))))
        v => field(new GenericRow(Array(v))).asInstanceOf[InternalRow].get(0, dt)
      case _ => CatalystTypeConverters.createToCatalystConverter(dt)
    }
    v => {
      val e = encode(v, dt)
      try conv(e)
      catch { case t: Exception => throw new UnconvertibleValue(v, dt, t) }
    }
  }

  /** External row → plain Scala values through the compiled codec. */
  def rowToMap(row: Row, schema: StructType): Map[String, Any] =
    new StructCodec(schema).toMap(
      CatalystTypeConverters.createToCatalystConverter(schema)(row).asInstanceOf[InternalRow])

  /** Script map → external row through the compiled codec. */
  def mapToRow(m: scala.collection.Map[String, Any], schema: StructType): Row =
    CatalystTypeConverters.createToScalaConverter(schema)(new StructCodec(schema).write(m))
      .asInstanceOf[Row]
}
