package graft.transform

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Row ↔ Map codec for the imperative script path.
  *
  * The reference crosses the engine/script boundary with a typed codec
  * covering NULL, BOOLEAN, INT, LONG, FLOAT, DOUBLE, BYTES, STRING, ARRAY,
  * MAP, RECORD (ref: PythonObjectsEncoder.java). Graft's equivalent maps
  * Spark's external row types to plain Scala collections so user closures
  * see `Map[String, Any]` records, and encodes emitted maps back to Rows
  * under a declared output schema (with forgiving numeric coercion, since
  * script code is dynamically typed).
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
      var i = 0
      var hit = -1
      while (hit < 0 && i < ut.length) {
        if (branchMatches(value, ut(i).dataType)) hit = i
        i += 1
      }
      if (hit < 0) throw new IllegalArgumentException(
        s"value of ${value.getClass.getName} matches no union branch in ${ut.simpleString}")
      values(hit) = encode(value, ut(hit).dataType)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericRow(values)
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

  /** Lazy Map view over a Row: field values decode on access instead of
    * materializing all of them per record — a script that touches 5 of
    * 16 columns pays for 5. Mutation-style operations (`+`, `-`)
    * materialize first, so the full immutable-Map contract holds.
    * Build one [[RowMapper]] per schema (it precomputes the name→index
    * table) and reuse it for every row. */
  final class RowMapper(schema: StructType) extends Serializable {
    private val index: Map[String, Int] = schema.fieldNames.zipWithIndex.toMap
    private val fields = schema.fields

    private[SchemaCodec] def fieldValue(row: Row, i: Int): Any = {
      val f = fields(i)
      if (isUnionField(f))
        fromUnion(row.get(i).asInstanceOf[Row], f.dataType.asInstanceOf[StructType])
      else if (isEnumField(f)) checkEnum(row.get(i), enumSymbols(f), "decode")
      else decode(row.get(i), f.dataType)
    }

    def apply(row: Row): Map[String, Any] = new RowBackedMap(row)

    private final class RowBackedMap(row: Row)
        extends scala.collection.immutable.AbstractMap[String, Any] {
      override def get(key: String): Option[Any] =
        index.get(key).map(fieldValue(row, _))
      override def iterator: Iterator[(String, Any)] =
        fields.indices.iterator.map(i => fields(i).name -> fieldValue(row, i))
      override def size: Int = fields.length
      override def contains(key: String): Boolean = index.contains(key)
      override def removed(key: String): Map[String, Any] =
        iterator.toMap.removed(key)
      override def updated[V1 >: Any](key: String, value: V1): Map[String, V1] =
        iterator.toMap.updated(key, value)
      override def getOrElse[V1 >: Any](key: String, default: => V1): V1 =
        index.get(key) match {
          case Some(i) => fieldValue(row, i)
          case None => default
        }
    }
  }

  def rowToMap(row: Row, schema: StructType): Map[String, Any] = {
    val b = Map.newBuilder[String, Any]
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      val v =
        if (isUnionField(f))
          fromUnion(row.get(i).asInstanceOf[Row], f.dataType.asInstanceOf[StructType])
        else if (isEnumField(f)) checkEnum(row.get(i), enumSymbols(f), "decode")
        else decode(row.get(i), f.dataType)
      b += f.name -> v
      i += 1
    }
    b.result()
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

  def mapToRow(m: scala.collection.Map[String, Any], schema: StructType): Row = {
    // hot path (once per emitted record): index loop, no per-row Seq allocs
    val fields = schema.fields
    val values = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      val raw = m.getOrElse(f.name, null)
      values(i) =
        if (isUnionField(f)) toUnion(raw, f.dataType.asInstanceOf[StructType])
        else if (isEnumField(f)) checkEnum(raw, enumSymbols(f), "encode")
        else encode(raw, f.dataType)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericRow(values)
  }
}
