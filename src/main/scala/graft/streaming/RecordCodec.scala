package graft.streaming

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import scala.reflect.runtime.universe.TypeTag
import scala.util.Try

/** Decode plug-in — the engine's equivalent of the reference's
  * caller-supplied protobuf `Parser<T>` (KPW:85-89, applied at
  * KPW:269-277). The reference fail-stops on an undecodable record
  * (KPW:272-277, acknowledged TODO); here each codec chooses a
  * [[DecodeErrorPolicy]]: FailFast reproduces the reference,
  * DeadLetter routes nulls to a quarantine output instead.
  *
  * Codecs are pure `Column → Column` transforms so decode stays
  * inside Catalyst codegen (no per-record JVM dispatch) — except
  * [[TypedCodec]], the generic escape hatch for opaque binary
  * formats, which pays the UDF cost by design.
  */
sealed trait DecodeErrorPolicy
object DecodeErrorPolicy {
  /** Undecodable record fails the query (reference semantics). */
  case object FailFast extends DecodeErrorPolicy
  /** Undecodable record decodes to null; `Pipeline` filters it to a
    * dead-letter sink. */
  case object DeadLetter extends DecodeErrorPolicy
}

trait RecordCodec {
  def schema: StructType

  /** bytes column → struct column of [[schema]].
    *
    * Contract: the result is null **iff the record is undecodable** —
    * a record that parses but carries only null field values is a
    * valid record and must decode to a non-null struct. (Parsers with
    * a PERMISSIVE mode distinguish the two via a corrupt-record
    * column; see [[PermissiveCodec]].)
    */
  def decode(bytes: Column): Column
}

/** Text payloads parsed by Spark's `from_json`/`from_csv` (`parse`,
  * with the format's `options`) in PERMISSIVE mode with a
  * corrupt-record column, so a genuinely unparsable record decodes to
  * null while a valid record whose every field is null (e.g.
  * `{"query":null,"timestamp":null}`) stays a non-null struct — the
  * distinction DeadLetter/FailFast policies key on.
  */
sealed abstract class PermissiveCodec(schema: StructType,
    parse: (Column, StructType, Map[String, String]) => Column,
    options: Map[String, String]) extends RecordCodec {
  import PermissiveCodec.CorruptCol
  require(!schema.fieldNames.contains(CorruptCol),
    s"schema must not contain reserved column $CorruptCol")

  override def decode(bytes: Column): Column = {
    val parsed = parse(bytes.cast("string"), schema.add(CorruptCol, StringType),
      options ++ Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol))
    // null out a record the parser flagged corrupt; re-project the
    // rest to the clean schema (drops the marker)
    when(parsed.isNull || parsed.getField(CorruptCol).isNotNull, lit(null).cast(schema))
      .otherwise(struct(schema.fields.toIndexedSeq.map(f =>
        parsed.getField(f.name).as(f.name)): _*))
  }
}

private object PermissiveCodec {
  /** Corrupt-record marker column; never visible in decoded output. */
  val CorruptCol = "_graft_corrupt"
}

/** JSON payloads (UTF-8 bytes); see [[PermissiveCodec]]. */
final case class JsonCodec(schema: StructType)
  extends PermissiveCodec(schema, from_json(_, _, _), Map.empty)

/** Single-line CSV payloads; see [[PermissiveCodec]] — a malformed
  * line decodes to null, a parseable line of empty fields does not.
  */
final case class CsvCodec(schema: StructType, sep: String = ",")
  extends PermissiveCodec(schema, from_csv(_, _, _), Map("sep" -> sep))

/** Arbitrary binary formats via a caller-supplied decoder function —
  * the direct analog of the reference's `Parser<T>` plug-in point.
  * Production protobuf wiring note: with `spark-protobuf` on the
  * classpath this is `from_protobuf(col, messageName, descFile)`
  * (the jar is not in the offline test environment, so the seam is
  * exercised with [[TypedCodec]] + a hand-rolled binary format in
  * tests instead).
  */
final case class TypedCodec[T <: Product: TypeTag](decodeFn: Array[Byte] => T)
    extends RecordCodec {
  private val enc: Encoder[T] = Encoders.product[T]
  override val schema: StructType = enc.schema
  // a throwing decoder means "undecodable" (null struct), so the
  // error-policy machinery sees the same contract as parsing codecs
  private val u = udf((b: Array[Byte]) => Try(decodeFn(b)).toOption)
  override def decode(bytes: Column): Column = u(bytes)
}
