package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.Row
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions
import org.apache.spark.sql.types._

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

/** Hand-rolled protobuf wire-format codec — the reference's ONLY
  * record format (its caller-supplied `Parser<T>`, KPW:85-89, applied
  * per record at KPW:269-277; test schema test-message.proto:5-10).
  * `protobuf-java` / `spark-protobuf` are absent from the offline
  * environment, so the varint + length-delimited wire format
  * (public spec: protobuf.dev/programming-guides/encoding) is decoded
  * directly — ~100 lines for the full scalar-field surface.
  *
  * Decode semantics mirror protobuf-java's proto2 parser:
  *  - unknown fields are skipped by wire type (forward compatibility);
  *  - repeated occurrences of a scalar field: last one wins;
  *  - a `required` field missing from the payload, a truncated varint
  *    or length run, a wire-type mismatch on a known field, or a
  *    deprecated group tag ⇒ the record is UNDECODABLE — the codec
  *    returns a null struct, which [[Pipeline.start]] turns into the
  *    reference's fail-stop (FailFast, KPW:272-277) or a dead-letter
  *    row (DeadLetter), per policy;
  *  - absent `optional` fields decode to null (matching what the
  *    reference's proto→parquet writer materializes).
  */
// Serializable: descriptors are captured in executor-side closures
// (the decode UDF); PMessage is a case CLASS, so without this Java
// serialization rejects the non-serializable superclass.
sealed abstract class ProtoType(val wireType: Int, val sparkType: DataType)
  extends Serializable
object ProtoType {
  // varint (wire 0)
  case object Int32 extends ProtoType(0, IntegerType)
  case object Int64 extends ProtoType(0, LongType)
  case object UInt32 extends ProtoType(0, IntegerType) // wraps like protobuf-java
  case object UInt64 extends ProtoType(0, LongType)
  case object SInt32 extends ProtoType(0, IntegerType) // zigzag
  case object SInt64 extends ProtoType(0, LongType) // zigzag
  case object Bool extends ProtoType(0, BooleanType)
  // 64-bit (wire 1)
  case object Fixed64 extends ProtoType(1, LongType)
  case object SFixed64 extends ProtoType(1, LongType)
  case object PDouble extends ProtoType(1, DoubleType)
  // length-delimited (wire 2)
  case object PString extends ProtoType(2, StringType)
  case object PBytes extends ProtoType(2, BinaryType)
  // 32-bit (wire 5)
  case object Fixed32 extends ProtoType(5, IntegerType)
  case object SFixed32 extends ProtoType(5, IntegerType)
  case object PFloat extends ProtoType(5, FloatType)

  /** Nested message (wire 2): decodes to a Spark STRUCT of the
    * sub-descriptor, recursively — the shape `ProtoWriteSupport`
    * handles transitively for the reference (SURVEY §1.2). */
  final case class PMessage(fields: Seq[ProtoField])
    extends ProtoType(2, StructType(fields.map(f =>
      StructField(f.name, f.dataType, nullable = true))))

  /** Proto3 `map<K,V>` (wire 2): on the wire it is a repeated
    * `entry { K key = 1; V value = 2; }` submessage — exactly the
    * shape [[PMessage]] already parses — surfaced as a Spark
    * `MapType`. Later entries with a duplicate key overwrite earlier
    * ones and an absent key/value decodes to the proto3 default,
    * both per protobuf-java's map semantics (the generality
    * `ProtoWriteSupport` gets transitively for the reference's
    * any-`T extends Message` bound, KPW:63). Keys follow the proto
    * spec: integral, bool, or string only. */
  final case class PMap(keyType: ProtoType, valueType: ProtoType)
    extends ProtoType(2,
      MapType(keyType.sparkType, valueType.sparkType, valueContainsNull = false)) {
    require(keyType match {
      case Int32 | Int64 | UInt32 | UInt64 | SInt32 | SInt64 | Bool |
           Fixed32 | Fixed64 | SFixed32 | SFixed64 | PString => true
      case _ => false
    }, s"proto map key must be integral, bool, or string, got $keyType")
    require(valueType match {
      case _: PMap => false
      case _ => true
    }, "proto forbids map-of-map values")
    private[streaming] def entryFields: Seq[ProtoField] = Seq(
      ProtoField(1, "key", keyType), ProtoField(2, "value", valueType))
  }

  /** Proto3 default for an absent map entry key/value (protobuf-java
    * never yields null from a map). */
  private[streaming] def defaultOf(t: ProtoType): Any = t match {
    case Int32 | UInt32 | SInt32 | Fixed32 | SFixed32 => 0
    case Int64 | UInt64 | SInt64 | Fixed64 | SFixed64 => 0L
    case Bool => false
    case PFloat => 0.0f
    case PDouble => 0.0d
    case PString => ""
    case PBytes => Array.empty[Byte]
    case PMessage(sub) => Row.fromSeq(sub.map(_ => null))
    case m: PMap => Map.empty[Any, Any]
  }

  /** Numeric/bool scalars may arrive PACKED (one wire-2 blob of
    * concatenated payloads) when repeated — protobuf-java accepts
    * packed and unpacked interchangeably, so the codec does too. */
  def packable(t: ProtoType): Boolean = t match {
    case PString | PBytes | _: PMessage | _: PMap => false
    case _ => true
  }
}

/** One message field: proto field number, output column name, type
  * (scalar or [[ProtoType.PMessage]]), proto2 `required` flag, and
  * `repeated` (decodes to a Spark ARRAY in payload order). */
final case class ProtoField(number: Int, name: String, tpe: ProtoType,
    required: Boolean = false, repeated: Boolean = false) {
  require(!(required && repeated), s"$name: proto2 forbids required repeated")
  require(!(repeated && tpe.isInstanceOf[ProtoType.PMap]),
    s"$name: a map field is implicitly repeated on the wire; declare it plain")
  require(!(required && tpe.isInstanceOf[ProtoType.PMap]),
    s"$name: proto3 maps cannot be required")
  def dataType: DataType =
    if (repeated) ArrayType(tpe.sparkType, containsNull = false) else tpe.sparkType
}

final class ProtoDecodeException(msg: String) extends RuntimeException(msg)

/** Read position over one payload. `limit` is the end of the
  * innermost length-delimited run being read, so every read of a
  * nested or packed element is bounded by its run, not the buffer. */
private final class ProtoCursor(val buf: Array[Byte]) {
  var pos: Int = 0
  var limit: Int = buf.length

  /** One base-128 varint. Malformed when it overruns the run or
    * exceeds the 10-byte maximum. */
  def varint(): Long = {
    val start = pos
    var v = 0L
    var shift = 0
    while (shift < 64) {
      if (pos >= limit) throw new ProtoDecodeException(s"truncated varint at $start")
      val byte = buf(pos)
      pos += 1
      v |= (byte & 0x7fL) << shift
      if ((byte & 0x80) == 0) return v
      shift += 7
    }
    throw new ProtoDecodeException(s"varint longer than 10 bytes at $start")
  }

  /** One little-endian fixed-width value of `n` bytes. */
  def fixed(n: Int): Long = {
    if (n > limit - pos) throw new ProtoDecodeException(s"truncated fixed${8 * n} at $pos")
    var v = 0L
    var i = n - 1
    while (i >= 0) { v = (v << 8) | (buf(pos + i) & 0xffL); i -= 1 }
    pos += n
    v
  }

  /** Length prefix of a length-delimited run; returns the run's end. */
  def run(): Int = {
    val len = varint()
    if (len < 0 || len > limit - pos)
      throw new ProtoDecodeException(s"length $len overruns buffer at $pos")
    pos + len.toInt
  }

  /** Narrow `limit` to the length-delimited run at the cursor; returns
    * the enclosing limit, which [[leave]] restores. */
  def enter(): Int = {
    val end = run()
    val outer = limit
    limit = end
    outer
  }

  def leave(outer: Int): Unit = limit = outer
}

/** A message descriptor compiled for decoding, once: the sorted
  * field-number lookup and the decoders of nested messages and map
  * entries are built here, so a record costs one pass over its bytes.
  * Throws [[ProtoDecodeException]] on malformed input — the codec maps
  * that to "undecodable". */
final class ProtoDecoder(fields: Seq[ProtoField]) extends Serializable {
  import ProtoType._

  private val fs = fields.toArray
  private val numbers = fs.map(_.number).sorted
  private val slots = numbers.map(n => fs.indexWhere(_.number == n))
  private val subs: Array[ProtoDecoder] = fs.map(_.tpe match {
    case PMessage(sub) => new ProtoDecoder(sub)
    case m: PMap => new ProtoDecoder(m.entryFields)
    case _ => null
  })
  private val packed = fs.map(f => f.repeated && ProtoType.packable(f.tpe))
  // repeated fields and maps collect every occurrence; scalars keep the last
  private val collects = fs.map(f => f.repeated || f.tpe.isInstanceOf[PMap])

  /** Decode `bytes` into column values ordered like the descriptor
    * list (null = absent optional; absent repeated = empty array,
    * protobuf's getList semantics; absent map = empty map, getMap's). */
  def decode(bytes: Array[Byte]): Array[Any] = read(new ProtoCursor(bytes))

  private def read(c: ProtoCursor): Array[Any] = {
    val out = new Array[Any](fs.length)
    while (c.pos < c.limit) {
      val tag = c.varint()
      val number = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      if (number <= 0) throw new ProtoDecodeException(s"invalid field number $number")
      val k = java.util.Arrays.binarySearch(numbers, number)
      if (k < 0) skip(c, wire) // unknown field (forward compatibility)
      else {
        val i = slots(k)
        val t = fs(i).tpe
        if (wire == 2 && packed(i)) {
          // packed run: concatenated payloads under one wire-2 tag
          val outer = c.enter()
          val all = collected(out, i)
          while (c.pos < c.limit) all += value(t, null, c)
          c.leave(outer)
        } else {
          if (wire != t.wireType)
            throw new ProtoDecodeException(
              s"field ${fs(i).name}: wire type $wire, expected ${t.wireType}")
          val v = value(t, subs(i), c)
          if (collects(i)) collected(out, i) += v else out(i) = v
        }
      }
    }
    var i = 0
    while (i < fs.length) {
      val f = fs(i)
      if (collects(i)) {
        val all = out(i).asInstanceOf[ArrayBuffer[Any]]
        out(i) = f.tpe match {
          // duplicate map keys: the last entry wins (protobuf-java's merge)
          case _: PMap =>
            if (all == null) Map.empty else all.asInstanceOf[ArrayBuffer[(Any, Any)]].toMap
          case _ => if (all == null) Nil else all.toSeq
        }
      } else if (f.required && out(i) == null)
        throw new ProtoDecodeException(s"missing required field ${f.name}")
      i += 1
    }
    out
  }

  private def collected(out: Array[Any], i: Int): ArrayBuffer[Any] = {
    if (out(i) == null) out(i) = ArrayBuffer.empty[Any]
    out(i).asInstanceOf[ArrayBuffer[Any]]
  }

  /** ONE value of `t` at the cursor, read on its native wire type;
    * `sub` decodes a nested message or map entry. A malformed nested
    * payload fails the whole record, like protobuf-java's parser. */
  private def value(t: ProtoType, sub: ProtoDecoder, c: ProtoCursor): Any = t match {
    case Int32 | UInt32 => c.varint().toInt
    case Int64 | UInt64 => c.varint()
    case SInt32 => zigzag(c.varint()).toInt
    case SInt64 => zigzag(c.varint())
    case Bool => c.varint() != 0L
    case Fixed64 | SFixed64 => c.fixed(8)
    case PDouble => java.lang.Double.longBitsToDouble(c.fixed(8))
    case Fixed32 | SFixed32 => c.fixed(4).toInt
    case PFloat => java.lang.Float.intBitsToFloat(c.fixed(4).toInt)
    case PString =>
      val end = c.run()
      val s = new String(c.buf, c.pos, end - c.pos, java.nio.charset.StandardCharsets.UTF_8)
      c.pos = end
      s
    case PBytes =>
      val end = c.run()
      val b = java.util.Arrays.copyOfRange(c.buf, c.pos, end)
      c.pos = end
      b
    case _: PMessage => Row.fromSeq(ArraySeq.unsafeWrapArray(sub.readRun(c)))
    case m: PMap =>
      // one map ENTRY submessage { K key = 1; V value = 2 }; an absent
      // key or value decodes to its proto3 default
      val e = sub.readRun(c)
      (if (e(0) == null) ProtoType.defaultOf(m.keyType) else e(0),
        if (e(1) == null) ProtoType.defaultOf(m.valueType) else e(1))
  }

  private def zigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  /** Decode the submessage in the length-delimited run at the cursor. */
  private def readRun(c: ProtoCursor): Array[Any] = {
    val outer = c.enter()
    val values = read(c)
    c.leave(outer)
    values
  }

  /** Step over one unknown field's value by its wire type (groups,
    * wire 3/4, are unsupported). */
  private def skip(c: ProtoCursor, wire: Int): Unit = wire match {
    case 0 => c.varint()
    case 1 => c.fixed(8)
    case 2 => c.pos = c.run()
    case 5 => c.fixed(4)
    case w => throw new ProtoDecodeException(s"unsupported wire type $w")
  }
}

/** Wire-format writer: the canonical encoder for fixtures, tests and
  * the oracle-gated roundtrip queries. */
object ProtoWire {

  def writeVarint(out: java.io.ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def writeLittleEndian(out: java.io.ByteArrayOutputStream, v: Long, n: Int): Unit = {
    var i = 0
    while (i < n) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  /** Canonical encoding: fields in descriptor order, nulls omitted,
    * repeated fields written unpacked element-by-element (the decoder
    * accepts packed too), nested messages ([[ProtoType.PMessage]])
    * recursively from a [[Row]] or value Seq. */
  def encode(fields: Seq[ProtoField], values: Seq[Any]): Array[Byte] = {
    require(fields.length == values.length, "one value per field")
    val out = new java.io.ByteArrayOutputStream()
    fields.iterator.zip(values.iterator).foreach { case (f, v) =>
      if (v != null) {
        f.tpe match {
          case m: ProtoType.PMap =>
            // one tagged `entry { key = 1; value = 2 }` submessage per
            // mapping, like protobuf-java's map serializer
            v.asInstanceOf[scala.collection.Map[Any, Any]].foreach { case (k, mv) =>
              writeVarint(out, (f.number.toLong << 3) | 2L)
              val inner = encode(m.entryFields, Seq(k, mv))
              writeVarint(out, inner.length.toLong); out.write(inner, 0, inner.length)
            }
          case _ =>
            if (f.repeated) v.asInstanceOf[Seq[Any]].foreach(writeOne(out, f, _))
            else writeOne(out, f, v)
        }
      }
    }
    out.toByteArray
  }

  private def writeOne(out: java.io.ByteArrayOutputStream, f: ProtoField, v: Any): Unit = {
    writeVarint(out, (f.number.toLong << 3) | f.tpe.wireType)
    f.tpe match {
          case ProtoType.Int32 => writeVarint(out, v.asInstanceOf[Int].toLong) // sign-extends like protobuf
          case ProtoType.UInt32 => writeVarint(out, v.asInstanceOf[Int].toLong & 0xffffffffL)
          case ProtoType.Int64 | ProtoType.UInt64 => writeVarint(out, v.asInstanceOf[Long])
          case ProtoType.SInt32 =>
            val x = v.asInstanceOf[Int].toLong; writeVarint(out, (x << 1) ^ (x >> 63))
          case ProtoType.SInt64 =>
            val x = v.asInstanceOf[Long]; writeVarint(out, (x << 1) ^ (x >> 63))
          case ProtoType.Bool => writeVarint(out, if (v.asInstanceOf[Boolean]) 1L else 0L)
          case ProtoType.Fixed64 | ProtoType.SFixed64 =>
            writeLittleEndian(out, v.asInstanceOf[Long], 8)
          case ProtoType.PDouble =>
            writeLittleEndian(out, java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), 8)
          case ProtoType.PString =>
            val b = v.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
            writeVarint(out, b.length.toLong); out.write(b, 0, b.length)
          case ProtoType.PBytes =>
            val b = v.asInstanceOf[Array[Byte]]
            writeVarint(out, b.length.toLong); out.write(b, 0, b.length)
          case ProtoType.Fixed32 | ProtoType.SFixed32 =>
            writeLittleEndian(out, v.asInstanceOf[Int].toLong & 0xffffffffL, 4)
          case ProtoType.PFloat =>
            writeLittleEndian(out,
              java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong & 0xffffffffL, 4)
          case ProtoType.PMessage(sub) =>
            val inner = v match {
              case r: Row => encode(sub, r.toSeq)
              case s: Seq[_] => encode(sub, s)
              case other => throw new IllegalArgumentException(
                s"${f.name}: nested message value must be Row or Seq, got ${other.getClass}")
            }
            writeVarint(out, inner.length.toLong); out.write(inner, 0, inner.length)
          case _: ProtoType.PMap =>
            throw new IllegalStateException(
              s"${f.name}: map fields are encoded entry-by-entry in encode()")
    }
  }
}

/** Protobuf [[RecordCodec]] over a field-descriptor list (the generic
  * equivalent of supplying a `Parser<T>` to the reference's builder,
  * KPW:683-687). Decode runs as one deserializer call per record —
  * the same cost shape as `spark-protobuf`'s `from_protobuf`, which
  * this swaps in for verbatim when the jar is available.
  */
final case class ProtoCodec(fields: Seq[ProtoField]) extends RecordCodec {
  require(fields.nonEmpty, "at least one field")
  require(fields.map(_.number).distinct.length == fields.length, "duplicate field numbers")
  require(fields.map(_.name).distinct.length == fields.length, "duplicate field names")

  override val schema: StructType =
    StructType(fields.map(f => StructField(f.name, f.dataType, nullable = true)))

  private val decoder = new ProtoDecoder(fields) // compiled once, shipped with the UDF

  // null iff undecodable — the RecordCodec contract FailFast/DeadLetter key on
  private val u = functions.udf(new UDF1[Array[Byte], Row] {
    override def call(bytes: Array[Byte]): Row =
      if (bytes == null) null
      else try Row.fromSeq(ArraySeq.unsafeWrapArray(decoder.decode(bytes)))
      catch { case _: ProtoDecodeException => null }
  }, schema)

  override def decode(bytes: Column): Column = u(bytes)
}

/** The reference's test schema (test-message.proto:5-10): descriptor,
  * codec, and a canonical encoder for fixtures and the gate query. */
object SampleMessageProto {
  val fields: Seq[ProtoField] = Seq(
    ProtoField(1, "query", ProtoType.PString, required = true),
    ProtoField(2, "timestamp", ProtoType.Int64, required = true),
    ProtoField(3, "page_number", ProtoType.Int32),
    ProtoField(4, "result_per_page", ProtoType.Int32))

  def codec: ProtoCodec = ProtoCodec(fields)

  def encode(query: String, timestamp: Long, pageNumber: Integer,
      resultPerPage: Integer): Array[Byte] =
    ProtoWire.encode(fields, Seq(query, timestamp, pageNumber, resultPerPage))
}
