package graft

import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.transform.SchemaCodec

/** Property: decode(encode(m)) == m for any value tree matching the
  * schema — the invariant the reference's PythonObjectsEncoder owes its
  * callers, over generated nested structures (fixed seed: reproducible). */
class SchemaCodecPropSpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 200)(body: A => Unit): Unit =
    Gen.listOfN(n, gen).pureApply(Gen.Parameters.default, Seed(42L))
      .foreach(body)

  private val schema = StructType(Seq(
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("b", BooleanType),
    StructField("arr", ArrayType(LongType)),
    StructField("m", MapType(StringType, DoubleType)),
    StructField("nested", StructType(Seq(
      StructField("x", LongType),
      StructField("ys", ArrayType(StringType)))))))

  private val genRecord: Gen[Map[String, Any]] = for {
    l <- Gen.long
    d <- Gen.chooseNum(-1e12, 1e12)
    s <- Gen.alphaNumStr
    b <- Gen.oneOf(true, false)
    arr <- Gen.listOf(Gen.long)
    keys <- Gen.listOf(Gen.alphaNumStr)
    vals <- Gen.listOfN(keys.length, Gen.chooseNum(-1e6, 1e6))
    x <- Gen.long
    ys <- Gen.listOf(Gen.alphaNumStr)
    nullNested <- Gen.oneOf(true, false)
  } yield Map(
    "l" -> l, "d" -> d, "s" -> s, "b" -> b,
    "arr" -> arr, "m" -> keys.zip(vals).toMap,
    "nested" -> (if (nullNested) null else Map("x" -> x, "ys" -> ys)))

  test("heterogeneous-union codec round-trips every branch type") {
    val u = StructType(Seq(
      StructField("id", LongType),
      SchemaCodec.unionField("u", Seq(
        LongType, StringType,
        StructType(Seq(StructField("x", LongType))),
        ArrayType(StringType)))))
    val genUnionVal: Gen[Any] = Gen.oneOf(
      Gen.long.map(v => v: Any),
      Gen.alphaNumStr.map(v => v: Any),
      Gen.long.map(x => Map("x" -> x): Any),
      Gen.listOf(Gen.alphaNumStr).map(v => v: Any),
      Gen.const(null: Any))
    forAll(Gen.zip(Gen.long, genUnionVal)) { case (id, uv) =>
      val row = SchemaCodec.mapToRow(Map("id" -> id, "u" -> uv), u)
      // on the wire: struct-of-options with at most one member set
      val wire = row.getAs[org.apache.spark.sql.Row](1)
      if (uv == null) assert(wire.toSeq.forall(_ == null))
      else assert(wire.toSeq.count(_ != null) === 1)
      val back = SchemaCodec.rowToMap(row, u)
      (uv, back("u")) match {
        case (null, got) => assert(got === null)
        case (exp: Map[_, _], got: Map[_, _]) =>
          assert(got.asInstanceOf[Map[String, Any]]("x") ===
            exp.asInstanceOf[Map[String, Any]]("x"))
        case (exp: List[_], got: Seq[_]) => assert(got === exp)
        case (exp, got) => assert(got === exp)
      }
    }
    // a value matching no branch is a script bug → loud failure
    intercept[IllegalArgumentException] {
      SchemaCodec.mapToRow(Map("id" -> 1L, "u" -> true), u)
    }
  }

  test("enum codec validates symbols both directions and coerces ordinals") {
    val symbols = Seq("RED", "GREEN", "BLUE")
    val schema = StructType(Seq(
      StructField("id", LongType),
      SchemaCodec.enumField("c", symbols)))
    // encode: any declared symbol or its ordinal round-trips to the symbol
    forAll(Gen.zip(Gen.long, Gen.chooseNum(0, 2))) { case (id, ord) =>
      val bySym = SchemaCodec.mapToRow(Map("id" -> id, "c" -> symbols(ord)), schema)
      val byOrd = SchemaCodec.mapToRow(Map("id" -> id, "c" -> ord), schema)
      assert(bySym.getString(1) === symbols(ord))
      assert(byOrd.getString(1) === symbols(ord))
      // decode: validated pass-through
      assert(SchemaCodec.rowToMap(bySym, schema)("c") === symbols(ord))
    }
    // null stays null (the [null, enum] case)
    assert(SchemaCodec.mapToRow(Map("id" -> 1L, "c" -> null), schema).get(1) == null)
    // a non-symbol emitted by a script is a script bug -> loud failure
    intercept[IllegalArgumentException] {
      SchemaCodec.mapToRow(Map("id" -> 1L, "c" -> "MAUVE"), schema)
    }
    intercept[IllegalArgumentException] { // ordinal out of range
      SchemaCodec.mapToRow(Map("id" -> 1L, "c" -> 7), schema)
    }
    // a non-symbol in the DATA is corruption -> decode throws (the
    // reference's decode throws unconditionally; we throw only on bad data)
    val corrupt = new org.apache.spark.sql.catalyst.expressions.GenericRow(
      Array[Any](1L, "MAUVE"))
    intercept[IllegalArgumentException] {
      SchemaCodec.rowToMap(org.apache.spark.sql.Row.fromSeq(corrupt.toSeq), schema)
    }
  }

  test("WireCodec: fromWire . toWire is identity for binary/datetime trees (via JSON)") {
    import graft.transform.WireCodec
    val wireSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("payload", BinaryType),
      StructField("ts", TimestampType),
      StructField("day", DateType),
      StructField("chunks", ArrayType(BinaryType)),
      StructField("times", ArrayType(TimestampType)),
      StructField("nested", StructType(Seq(
        StructField("blob", BinaryType),
        StructField("when", TimestampType))))))
    // micros-precision instants across the epoch in both directions,
    // arbitrary byte content including empty and negative bytes
    val genTs: Gen[java.sql.Timestamp] = Gen.chooseNum(-4102444800L, 4102444800L)
      .flatMap(s => Gen.chooseNum(0L, 999999L).map { us =>
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s, us * 1000L))
      })
    val genBytes: Gen[Array[Byte]] =
      Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)
    val genRec: Gen[Map[String, Any]] = for {
      id <- Gen.long
      p <- genBytes
      ts <- genTs
      d <- Gen.chooseNum(-30000, 30000).map(n =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.toLong)))
      chunks <- Gen.listOf(genBytes)
      times <- Gen.listOf(genTs)
      blob <- genBytes
      when <- genTs
    } yield Map("id" -> id, "payload" -> p, "ts" -> ts, "day" -> d,
      "chunks" -> chunks, "times" -> times,
      "nested" -> Map("blob" -> blob, "when" -> when))
    val shape = new WireCodec.Struct(wireSchema)
    forAll(genRec, n = 100) { m =>
      // the full pipe: typed row → frame JSON + side bytes → typed row
      val json = new java.io.ByteArrayOutputStream()
      val side = new java.util.ArrayList[Array[Byte]]()
      val g = graft.transform.ProcessScriptTransform.jsonFactory.createGenerator(json)
      WireCodec.writeStruct(g, SchemaCodec.mapToRow(m, wireSchema), shape, side)
      g.close()
      val p = graft.transform.ProcessScriptTransform.jsonFactory
        .createParser(json.toByteArray)
      p.nextToken()
      val back = SchemaCodec.rowToMap(
        WireCodec.readStruct(p, shape, side.toArray(new Array[Array[Byte]](0))), wireSchema)
      assert(back("payload").asInstanceOf[Array[Byte]].toSeq ===
        m("payload").asInstanceOf[Array[Byte]].toSeq)
      assert(back("ts") === m("ts"))
      assert(back("day") === m("day"))
      assert(back("chunks").asInstanceOf[Seq[Array[Byte]]].map(_.toSeq) ===
        m("chunks").asInstanceOf[Seq[Array[Byte]]].map(_.toSeq))
      assert(back("times").asInstanceOf[Seq[Any]] === m("times").asInstanceOf[Seq[Any]])
      val bn = back("nested").asInstanceOf[Map[String, Any]]
      val mn = m("nested").asInstanceOf[Map[String, Any]]
      assert(bn("blob").asInstanceOf[Array[Byte]].toSeq ===
        mn("blob").asInstanceOf[Array[Byte]].toSeq)
      assert(bn("when") === mn("when"))
    }
  }

  test("rowToMap . mapToRow is identity for schema-conforming values") {
    forAll(genRecord) { m =>
      val row = SchemaCodec.mapToRow(m, schema)
      val back = SchemaCodec.rowToMap(row, schema)
      assert(back("l") === m("l"))
      assert(back("d") === m("d"))
      assert(back("s") === m("s"))
      assert(back("b") === m("b"))
      assert(back("arr").asInstanceOf[Seq[Any]] === m("arr").asInstanceOf[Seq[Any]])
      assert(back("m").asInstanceOf[Map[String, Any]] ===
        m("m").asInstanceOf[Map[String, Any]])
      (m("nested"), back("nested")) match {
        case (null, got) => assert(got === null)
        case (exp: Map[_, _], got: Map[_, _]) =>
          assert(got.asInstanceOf[Map[String, Any]]("x") ===
            exp.asInstanceOf[Map[String, Any]]("x"))
          assert(got.asInstanceOf[Map[String, Any]]("ys").asInstanceOf[Seq[Any]] ===
            exp.asInstanceOf[Map[String, Any]]("ys").asInstanceOf[Seq[Any]])
        case other => fail(s"unexpected $other")
      }
    }
  }
}
