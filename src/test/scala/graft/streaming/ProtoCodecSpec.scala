package graft.streaming

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._

/** Protobuf wire-format codec tests: golden bytes pinned to the PUBLIC
  * encoding spec (so the hand-rolled parser is checked against an
  * external truth, not itself), decode/encode roundtrips over the
  * scalar-type surface, protobuf-java-compatible edge semantics
  * (unknown fields, last-wins, required enforcement), and the
  * reference's golden pipeline roundtrip (KafkaProtoParquetWriterTest
  * testMaxOpenDuration shape, KPWT:112-137) through ProtoCodec.
  */
class ProtoCodecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def hex(s: String): Array[Byte] =
    s.split(" ").filter(_.nonEmpty).map(Integer.parseInt(_, 16).toByte)

  test("golden bytes: canonical encoding from the public spec") {
    // protobuf.dev encoding guide: varint 150 = 0x96 0x01; tag(1,len) =
    // 0x0A; tag(2,varint) = 0x10. SampleMessage(query="testing",
    // timestamp=150) therefore has exactly these 12 bytes.
    val want = hex("0A 07 74 65 73 74 69 6E 67 10 96 01")
    val got = SampleMessageProto.encode("testing", 150L, null, null)
    assert(got.toSeq == want.toSeq)
    val row = new ProtoDecoder(SampleMessageProto.fields).decode(want)
    assert(row.toSeq == Seq("testing", 150L, null, null))
  }

  test("roundtrip across the scalar type surface incl. negatives and zigzag") {
    import ProtoType._
    val fields = Seq(
      ProtoField(1, "a_i32", Int32), ProtoField(2, "a_i64", Int64),
      ProtoField(3, "a_s32", SInt32), ProtoField(4, "a_s64", SInt64),
      ProtoField(5, "a_bool", Bool), ProtoField(6, "a_str", PString),
      ProtoField(7, "a_bytes", PBytes), ProtoField(8, "a_f32", Fixed32),
      ProtoField(9, "a_f64", Fixed64), ProtoField(10, "a_flt", PFloat),
      ProtoField(11, "a_dbl", PDouble))
    val cases: Seq[Seq[Any]] = Seq(
      Seq(0, 0L, 0, 0L, false, "", Array.emptyByteArray, 0, 0L, 0f, 0.0),
      Seq(-1, -1L, -1, -1L, true, "héllo ∆", Array[Byte](1, 2, -3), -7, -7L, -1.5f, 3.14),
      Seq(Int.MaxValue, Long.MaxValue, Int.MinValue, Long.MinValue, true,
        "x" * 300, Array.fill[Byte](300)(9), Int.MinValue, Long.MinValue,
        Float.MinPositiveValue, Double.MaxValue))
    for (vals <- cases) {
      val bytes = ProtoWire.encode(fields, vals)
      val back = new ProtoDecoder(fields).decode(bytes)
      (back.toSeq, vals).zipped.foreach {
        case (g: Array[Byte], w: Array[Byte]) => assert(g.toSeq == w.toSeq)
        case (g, w) => assert(g == w, s"got $g want $w")
      }
    }
  }

  test("property: random values across the scalar surface roundtrip bit-exactly") {
    import ProtoType._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val fields = Seq(
      ProtoField(1, "a_i32", Int32), ProtoField(2, "a_i64", Int64),
      ProtoField(3, "a_s32", SInt32), ProtoField(4, "a_s64", SInt64),
      ProtoField(5, "a_bool", Bool), ProtoField(6, "a_str", PString),
      ProtoField(7, "a_f32", Fixed32), ProtoField(8, "a_f64", Fixed64),
      ProtoField(9, "a_flt", PFloat), ProtoField(10, "a_dbl", PDouble))
    // hammer varint continuation boundaries (127/128, 2^14±1, …),
    // sign edges, and unicode (incl. surrogate-pair emoji) strings
    val boundary = Gen.oneOf(0L, 1L, 127L, 128L, 16383L, 16384L,
      -1L, Long.MaxValue, Long.MinValue, Int.MaxValue.toLong, Int.MinValue.toLong)
    val genVals: Gen[Seq[Any]] = for {
      i32 <- Gen.frequency((1, boundary.map(_.toInt)), (2, Gen.choose(Int.MinValue, Int.MaxValue)))
      i64 <- Gen.frequency((1, boundary), (2, Gen.choose(Long.MinValue, Long.MaxValue)))
      s32 <- Gen.choose(Int.MinValue, Int.MaxValue)
      s64 <- Gen.frequency((1, boundary), (2, Gen.choose(Long.MinValue, Long.MaxValue)))
      b <- Gen.oneOf(true, false)
      str <- Gen.oneOf(Gen.alphaNumStr, Gen.const("∆é→😀"), Gen.const("")).flatMap(g => g)
      f32 <- Gen.choose(Int.MinValue, Int.MaxValue)
      f64 <- Gen.choose(Long.MinValue, Long.MaxValue)
      flt <- Gen.oneOf(0f, -0f, 1.5f, Float.NaN, Float.PositiveInfinity,
        Float.MinPositiveValue, -123.456f)
      dbl <- Gen.oneOf(0.0, -0.0, Double.NaN, Double.NegativeInfinity,
        Double.MinPositiveValue, 2.718281828459045)
    } yield Seq(i32, i64, s32, s64, b, str, f32, f64, flt, dbl)
    val cases = Gen.listOfN(200, genVals)(Gen.Parameters.default, Seed(7L)).get
    for (vals <- cases) {
      val back = new ProtoDecoder(fields).decode(ProtoWire.encode(fields, vals)).toSeq
      (back, vals).zipped.foreach {
        // NaN != NaN under ==: compare across the bit pattern
        case (g: Float, w: Float) =>
          assert(java.lang.Float.floatToRawIntBits(g) ==
            java.lang.Float.floatToRawIntBits(w))
        case (g: Double, w: Double) =>
          assert(java.lang.Double.doubleToRawLongBits(g) ==
            java.lang.Double.doubleToRawLongBits(w))
        case (g, w) => assert(g == w, s"got $g want $w in $vals")
      }
    }
  }

  test("repeated + nested message fields roundtrip (ProtoWriteSupport transitive shapes)") {
    import ProtoType._
    val inner = Seq(
      ProtoField(1, "tag", PString, required = true),
      ProtoField(2, "weight", Int64))
    val fields = Seq(
      ProtoField(1, "id", Int64, required = true),
      ProtoField(2, "scores", Int32, repeated = true),
      ProtoField(3, "meta", PMessage(inner)),
      ProtoField(4, "anns", PMessage(inner), repeated = true),
      ProtoField(5, "names", PString, repeated = true))
    val vals: Seq[Any] = Seq(
      7L,
      Seq(3, -1, 300000),
      Seq("root", 9L), // nested message as value Seq
      Seq(Seq("a", 1L), Seq("b", null)), // repeated nested
      Seq("x", "", "zü"))
    val back = new ProtoDecoder(fields).decode(ProtoWire.encode(fields, vals))
    assert(back(0) == 7L)
    assert(back(1) == Seq(3, -1, 300000))
    assert(back(2) == org.apache.spark.sql.Row("root", 9L))
    assert(back(3) == Seq(org.apache.spark.sql.Row("a", 1L),
      org.apache.spark.sql.Row("b", null)))
    assert(back(4) == Seq("x", "", "zü"))
    // absent repeated decodes to EMPTY (protobuf getList), absent
    // optional nested to null
    val sparse = new ProtoDecoder(fields).decode(ProtoWire.encode(fields,
      Seq(1L, null, null, null, null)))
    assert(sparse.toSeq == Seq(1L, Seq(), null, Seq(), Seq()))
    // a required field missing INSIDE a nested message fails the record
    val badInner = ProtoWire.encode(
      Seq(ProtoField(1, "id", Int64), ProtoField(3, "meta", PMessage(inner))),
      Seq(1L, Seq(null, 5L)))
    intercept[ProtoDecodeException](new ProtoDecoder(fields).decode(badInner))
    // schema surfaces ARRAY/STRUCT columns
    val st = ProtoCodec(fields).schema
    assert(st("scores").dataType.typeName == "array")
    assert(st("meta").dataType.typeName == "struct")
    assert(st("anns").dataType ==
      org.apache.spark.sql.types.ArrayType(st("meta").dataType, containsNull = false))
  }

  test("packed repeated scalars decode like protobuf-java (wire-2 run)") {
    import ProtoType._
    val fields = Seq(ProtoField(1, "vs", Int32, repeated = true))
    // tag(1,len)=0x0A, run of varints 3,270,86942 (encoding-guide values)
    val packed = hex("0A 06 03 8E 02 9E A7 05")
    assert(new ProtoDecoder(fields).decode(packed).head == Seq(3, 270, 86942))
    // mixed packed + unpacked occurrences append in payload order
    val mixed = hex("0A 02 03 04") ++ hex("08 05")
    assert(new ProtoDecoder(fields).decode(mixed).head == Seq(3, 4, 5))
    // a packed element overrunning its run is malformed
    intercept[ProtoDecodeException](
      new ProtoDecoder(fields).decode(hex("0A 01 8E"))) // varint continues past run
    // packed runs of every other wire type: 64-bit (wire 1), 32-bit
    // (wire 5) and zigzag varints, little-endian per the encoding guide
    val wide = Seq(
      ProtoField(1, "f64", Fixed64, repeated = true),
      ProtoField(2, "dbl", PDouble, repeated = true),
      ProtoField(3, "f32", Fixed32, repeated = true),
      ProtoField(4, "flt", PFloat, repeated = true),
      ProtoField(5, "s32", SInt32, repeated = true),
      ProtoField(6, "s64", SInt64, repeated = true))
    val runs = hex("0A 10 01 00 00 00 00 00 00 00 FF FF FF FF FF FF FF FF") ++
      hex("12 08 00 00 00 00 00 00 F0 3F") ++ // 1.0
      hex("1A 08 01 00 00 00 FE FF FF FF") ++
      hex("22 04 00 00 C0 3F") ++ // 1.5f
      hex("2A 05 01 02 7F 80 01") ++ // zigzag -1, 1, -64, 64
      hex("32 0B FF FF FF FF FF FF FF FF FF 01 04") // zigzag Long.MinValue, 2
    assert(new ProtoDecoder(wide).decode(runs).toSeq == Seq(
      Seq(1L, -1L), Seq(1.0), Seq(1, -2), Seq(1.5f), Seq(-1, 1, -64, 64),
      Seq(Long.MinValue, 2L)))
  }

  test("proto map fields decode as entry arrays; Spark map_from_entries gives protobuf last-wins") {
    import ProtoType._
    // map<string, int64> is wire-identical to
    // `repeated message { string key = 1; int64 value = 2; }`
    // (protobuf.dev encoding guide, Maps section) — so the codec's
    // repeated-nested path IS the map path; this pins the remaining
    // semantic: protobuf-java's asMap() keeps the LAST occurrence of
    // a duplicated key.
    val entry = Seq(
      ProtoField(1, "key", PString),
      ProtoField(2, "value", Int64))
    val fields = Seq(
      ProtoField(1, "id", Int64, required = true),
      ProtoField(2, "attrs", PMessage(entry), repeated = true))
    val bytes = ProtoWire.encode(fields, Seq(
      5L, Seq(Seq("a", 1L), Seq("b", 2L), Seq("a", 3L))))
    val row = new ProtoDecoder(fields).decode(bytes)
    val entries = row(1).asInstanceOf[Seq[org.apache.spark.sql.Row]]
    assert(entries.map(e => (e.getString(0), e.getLong(1))) ==
      Seq(("a", 1L), ("b", 2L), ("a", 3L))) // payload order preserved
    // Spark-side MAP materialization with protobuf-java semantics
    val prev = spark.conf.getOption("spark.sql.mapKeyDedupPolicy")
    try {
      spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      val df = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(5L, entries)),
        org.apache.spark.sql.types.StructType(ProtoCodec(fields).schema.fields))
      val m = df.select(map_from_entries(col("attrs")).as("m"))
        .selectExpr("m['a']", "m['b']").head()
      assert((m.getLong(0), m.getLong(1)) == (3L, 2L))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.mapKeyDedupPolicy", v)
      case None => spark.conf.unset("spark.sql.mapKeyDedupPolicy")
    }
  }

  test("first-class map<K,V> fields: MapType surface, last-wins, defaults, nested values") {
    import ProtoType._
    // map<string,int64> + map<int32, message> on one descriptor
    val subMsg = PMessage(Seq(
      ProtoField(1, "name", PString), ProtoField(2, "score", Int64)))
    val fields = Seq(
      ProtoField(1, "id", Int64, required = true),
      ProtoField(2, "attrs", PMap(PString, Int64)),
      ProtoField(3, "players", PMap(Int32, subMsg)),
      ProtoField(4, "never_set", PMap(PString, PString)))
    val codec = ProtoCodec(fields)
    // schema surfaces Spark MapType, not an entry array
    assert(codec.schema("attrs").dataType ===
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType, valueContainsNull = false))
    val bytes = ProtoWire.encode(fields, Seq(
      7L,
      Map("a" -> 1L, "b" -> 2L),
      Map(1 -> org.apache.spark.sql.Row("alice", 10L)),
      null))
    val row = new ProtoDecoder(fields).decode(bytes)
    assert(row(1) === Map("a" -> 1L, "b" -> 2L))
    val players = row(2).asInstanceOf[Map[Any, Any]]
    assert(players(1).asInstanceOf[org.apache.spark.sql.Row].getString(0) == "alice")
    assert(row(3) === Map.empty[Any, Any]) // absent map = empty, like getMap()
    // duplicate key: LAST wins (protobuf-java map merge) — hand-splice
    // a second attrs entry for key "a"
    val dup = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(bytes, 0, bytes.length)
      val entry = ProtoWire.encode(
        Seq(ProtoField(1, "key", PString), ProtoField(2, "value", Int64)),
        Seq("a", 99L))
      ProtoWire.writeVarint(out, (2L << 3) | 2L)
      ProtoWire.writeVarint(out, entry.length.toLong)
      out.write(entry, 0, entry.length)
      out.toByteArray
    }
    assert(new ProtoDecoder(fields).decode(dup)(1) === Map("a" -> 99L, "b" -> 2L))
    // absent key/value inside an entry: proto3 defaults, never null
    val emptyEntry = {
      val out = new java.io.ByteArrayOutputStream()
      ProtoWire.writeVarint(out, (1L << 3) | 0L); ProtoWire.writeVarint(out, 7L)
      ProtoWire.writeVarint(out, (2L << 3) | 2L); ProtoWire.writeVarint(out, 0L)
      out.toByteArray
    }
    assert(new ProtoDecoder(fields).decode(emptyEntry)(1) === Map("" -> 0L))
    // invalid declarations are rejected up front
    intercept[IllegalArgumentException](PMap(PDouble, Int64))
    intercept[IllegalArgumentException](
      ProtoField(5, "m", PMap(PString, Int64), repeated = true))
  }

  test("map fields flow through the Spark decode UDF as MapType columns") {
    import ProtoType._
    val fields = Seq(
      ProtoField(1, "id", Int64, required = true),
      ProtoField(2, "attrs", PMap(PString, Int64)))
    val bytes = ProtoWire.encode(fields, Seq(3L, Map("x" -> 5L, "y" -> 6L)))
    val df = spark.createDataset(Seq(bytes))(
        org.apache.spark.sql.Encoders.BINARY).toDF("value")
      .select(ProtoCodec(fields).decode(col("value")).as("m"))
      .selectExpr("m.id", "m.attrs['x']", "m.attrs['y']")
    val r = df.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 5L, 6L)))
  }

  test("unknown fields are skipped; repeated scalar occurrence: last wins") {
    val base = SampleMessageProto.encode("q", 1L, 2, null)
    // append unknown fields 99 (varint), 98 (length-delimited), 97
    // (64-bit) and 96 (32-bit), then field 3 AGAIN with a new value;
    // the fixed-width fillers are group tags (0x0B), so a skip that
    // lands mid-value fails the record
    val out = new java.io.ByteArrayOutputStream()
    out.write(base, 0, base.length)
    ProtoWire.writeVarint(out, (99L << 3) | 0); ProtoWire.writeVarint(out, 12345L)
    ProtoWire.writeVarint(out, (98L << 3) | 2); ProtoWire.writeVarint(out, 3L)
    out.write(Array[Byte](7, 8, 9), 0, 3)
    ProtoWire.writeVarint(out, (97L << 3) | 1); out.write(Array.fill[Byte](8)(0x0B), 0, 8)
    ProtoWire.writeVarint(out, (96L << 3) | 5); out.write(Array.fill[Byte](4)(0x0B), 0, 4)
    ProtoWire.writeVarint(out, (3L << 3) | 0); ProtoWire.writeVarint(out, 42L)
    val row = new ProtoDecoder(SampleMessageProto.fields).decode(out.toByteArray)
    assert(row.toSeq == Seq("q", 1L, 42, null))
  }

  test("malformed inputs are undecodable: truncation, overrun, mismatch, missing required") {
    val good = SampleMessageProto.encode("q", 1L, null, null)
    def bad(b: Array[Byte]): Unit =
      intercept[ProtoDecodeException](new ProtoDecoder(SampleMessageProto.fields).decode(b))
    bad(good.dropRight(1)) // truncated trailing varint
    bad(hex("0A 7F 68 69")) // declared length 127 overruns 2-byte payload
    bad(hex("0D 01 02 03 04")) // field 1 with wire type 5: mismatch
    bad(hex("0A 01 68")) // only field 1 — required timestamp missing
    bad(hex("10 96 01")) // only field 2 — required query missing
    bad(Array.fill[Byte](11)(-1)) // varint > 10 bytes
    bad(hex("0B")) // group tag (wire 3): unsupported/deprecated
    // a packed fixed32 run whose last element is cut short by the
    // run's end, though the payload goes on (unknown field 2 follows)
    intercept[ProtoDecodeException](new ProtoDecoder(Seq(ProtoField(1, "vs",
      ProtoType.Fixed32, repeated = true))).decode(hex("0A 06 01 00 00 00 02 00 10 01")))
    // and the codec maps the throw to a null struct (DeadLetter fuel):
    import spark.implicits._
    val df = Seq(good, good.dropRight(1)).toDF("value")
      .select(SampleMessageProto.codec.decode(col("value")).as("r"))
    assert(df.filter(col("r").isNull).count() == 1)
    assert(df.filter(col("r").isNotNull).count() == 1)
  }

  test("pipeline golden roundtrip through ProtoCodec (reference KPWT:112-137 shape)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-proto-out").toString
    val cfg = PipelineConfig(targetDir = out,
      checkpointDir = Files.createTempDirectory("graft-proto-ckpt").toString,
      maxFileOpenDuration = 1.second)
    val n = 500
    val stream = MemoryStream[Array[Byte]](31, spark, None)
    stream.addData((0 until n).map(i => SampleMessageProto.encode(
      s"query$i", 1700000000000L + i, if (i % 3 == 0) null else Int.box(i % 7),
      if (i % 5 == 0) null else Int.box(i % 13))))
    val h = new Pipeline(cfg).start(stream.toDF(), SampleMessageProto.codec)
    try h.processAllAvailable() finally h.stop()

    val back = spark.read.schema(SampleMessageProto.codec.schema).parquet(out)
    assert(back.count() == n)
    val got = back.collect().map(r => (r.getString(0), r.getLong(1),
      Option(r.get(2)), Option(r.get(3)))).toSet
    val want = (0 until n).map(i => (s"query$i", 1700000000000L + i,
      if (i % 3 == 0) None else Some(i % 7),
      if (i % 5 == 0) None else Some(i % 13))).toSet
    assert(got == want)
  }

  test("malformed proto bytes dead-letter; valid records flow (KPW:272-277 upgrade)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-proto-dl").toString
    val dl = Files.createTempDirectory("graft-proto-dl-dir").toString
    val cfg = PipelineConfig(targetDir = out,
      checkpointDir = Files.createTempDirectory("graft-proto-dl-ckpt").toString,
      deadLetterDir = Some(dl), maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](32, spark, None)
    stream.addData(Seq(
      SampleMessageProto.encode("ok1", 1L, 2, 3),
      Array[Byte](0x0A, 0x7F), // truncated length-delimited
      SampleMessageProto.encode("ok2", 2L, null, null),
      hex("10 05"))) // missing required query
    val h = new Pipeline(cfg).start(stream.toDF(), SampleMessageProto.codec,
      DecodeErrorPolicy.DeadLetter)
    try h.processAllAvailable() finally h.stop()
    val kept = spark.read.schema(SampleMessageProto.codec.schema).parquet(out)
    assert(kept.count() == 2)
    assert(kept.select("query").collect().map(_.getString(0)).toSet == Set("ok1", "ok2"))
    assert(spark.read.parquet(dl).count() == 2)
  }

  test("FailFast on malformed proto reproduces the reference fail-stop") {
    import spark.implicits._
    val cfg = PipelineConfig(targetDir = Files.createTempDirectory("graft-proto-ff").toString,
      checkpointDir = Files.createTempDirectory("graft-proto-ff-ckpt").toString,
      maxFileOpenDuration = 1.second)
    val stream = MemoryStream[Array[Byte]](33, spark, None)
    stream.addData(Seq(SampleMessageProto.encode("ok", 1L, null, null),
      Array[Byte](-1, -1, -1)))
    val h = new Pipeline(cfg).start(stream.toDF(), SampleMessageProto.codec,
      DecodeErrorPolicy.FailFast)
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        h.processAllAvailable()
      }
      assert(e.getMessage.contains("undecodable") ||
        Option(e.getCause).exists(_.getMessage.contains("undecodable")))
    } finally h.stop()
  }
}
