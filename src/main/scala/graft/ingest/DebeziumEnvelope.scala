package graft.ingest

import java.io.{ByteArrayOutputStream, IOException}

import scala.util.control.NoStackTrace

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonToken._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One Debezium message in, one tagged row out: the whole CDC parse as a
  * single Catalyst expression over the message text (reference operators
  * P1/P2, both message shapes of SURVEY.md §1.4).
  *
  * The result holds the declared row fields, then
  * [[DebeziumEnvelope.ErrorField]]: null for a row; `json_error` or
  * `missing_after` otherwise, with every row field null. It equals, field
  * for field and channel for channel, what `from_json` over the merged
  * envelope + flattened schema and the `payload.after`-else-flat choice
  * produced, with one declared difference: empty or whitespace-only text
  * is `json_error` (`from_json` read it as a null struct, i.e. valid JSON
  * without a row, `missing_after`).
  *
  * What one pass over the Jackson token stream reads:
  *   - the row fields of `payload.after`, or of the top level when
  *     `payload` is absent or null; duplicate keys: the last one wins;
  *   - `payload.before`, `payload.op`, `payload.ts_ms`, `__op`,
  *     `__source_ts_ms`, `__source_db`, `__source_table`: type-checked
  *     (a wrong type makes the message `json_error`, as the merged schema
  *     did) and dropped;
  *   - every other member: skipped, but still tokenized, so malformed
  *     JSON anywhere in the root value is `json_error`. Text after the
  *     root value is not read.
  *
  * Field types: `LongType`, `IntegerType` (a JSON integer that fits, else
  * `json_error`) and `StringType` (a JSON string; any other JSON value is
  * re-serialized by Jackson's `copyCurrentStructure`, as Spark's JSON
  * reader does). Other types are rejected when the plan is built.
  *
  * The Jackson factory is the one Spark's JSON reader builds from its
  * default options (single quotes and NaN/Infinity allowed; comments,
  * unquoted names, leading zeros and raw control characters not).
  * Text is always UTF-8. All-ASCII text is read straight from its bytes,
  * unless a NUL is among its first four: from those four bytes Jackson
  * guesses a byte source's encoding, and a NUL there reads as UTF-16 or
  * UTF-32. Any other text goes through Spark's own UTF-8 `Reader`, which
  * maps invalid bytes to U+FFFD exactly as `from_json` did. The byte
  * path is kept for speed: on 4 cores, reading every message through the
  * `Reader` cost `cdc_pipeline` (all-ASCII messages) 17 % of `rate_per_s`
  * (the byte path won 9 of 10 alternating pairs).
  *
  * Codegen emits one call into the precompiled [[EnvelopeKernel]]: the
  * generated class of each query stays small, and the kernel's JIT
  * profile survives the fresh session that each streaming query runs in.
  *
  * `Nondeterministic` is the optimization barrier, not a semantic claim
  * (the result is a pure function of the text): without it
  * `PushDownPredicates` copies the expression into the error filter below
  * its projection, and every message is parsed twice. Replayed tasks and
  * oracles are unaffected.
  */
final case class DebeziumEnvelope(child: Expression, rowSchema: StructType)
    extends UnaryExpression with Nondeterministic {
  import DebeziumEnvelope._

  private val kernel = new EnvelopeKernel(rowSchema)

  override val dataType: StructType = StructType(
    rowSchema.fields.map(_.copy(nullable = true)) :+ StructField(ErrorField, StringType))
  override def nullable: Boolean = false
  override def prettyName: String = "debezium_envelope"
  override protected def stringArgs: Iterator[Any] = Iterator(child, rowSchema.simpleString)

  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any =
    kernel.parse(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val k = ctx.addReferenceObj("envelope", kernel, classOf[EnvelopeKernel].getName)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = $k.parse(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): DebeziumEnvelope =
    copy(child = c)
}

object DebeziumEnvelope {
  /** The tag field appended to the row fields. */
  val ErrorField = "__error"
  val JsonError = "json_error"
  val MissingAfter = "missing_after"
}

/** The compiled parse behind [[DebeziumEnvelope]]; stateless between
  * calls, so one instance serves every task thread. */
final class EnvelopeKernel(rowSchema: StructType) extends Serializable {
  import EnvelopeKernel._

  for (reserved <- Seq("payload", DebeziumEnvelope.ErrorField))
    require(!rowSchema.fieldNames.contains(reserved),
      s"row schema may not declare a field named '$reserved'")

  private val n = rowSchema.length

  private val kinds: Array[Int] = rowSchema.fields.map { f =>
    f.dataType match {
      case LongType => KLong
      case IntegerType => KInt
      case StringType => KString
      case t => throw new IllegalArgumentException(
        s"debezium_envelope: row field '${f.name}' has type ${t.sql}; " +
          "only BIGINT, INT and STRING are supported")
    }
  }

  /** Row field name → slot. */
  private val slots: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    rowSchema.fieldNames.zipWithIndex.foreach { case (f, i) => m.put(f, i) }
    m
  }

  private val jsonErrorRow = errorRow(DebeziumEnvelope.JsonError)
  private val missingAfterRow = errorRow(DebeziumEnvelope.MissingAfter)

  private def errorRow(tag: String): InternalRow = {
    val r = new Array[Any](n + 1)
    r(n) = UTF8String.fromString(tag)
    new GenericInternalRow(r)
  }

  /** The tagged row of one message (`null` text is `json_error`). */
  def parse(value: UTF8String): InternalRow = {
    if (value == null) return jsonErrorRow
    val p = open(value)
    try {
      // No root token (empty or whitespace-only text), `null`, a scalar
      // or an array: not a message.
      if (p.nextToken() != START_OBJECT) jsonErrorRow else message(p)
    } catch {
      case _: IOException => jsonErrorRow
    } finally p.close()
  }

  private def open(value: UTF8String): JsonParser = {
    val off = (value.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
    value.getBaseObject match {
      case bytes: Array[Byte] if value.isFullAscii && !nulIn(bytes, off, 4 min value.numBytes) =>
        Factory.createParser(bytes, off, value.numBytes)
      case _ => CreateJacksonParser.utf8String(Factory, value)
    }
  }

  private def nulIn(bytes: Array[Byte], off: Int, len: Int): Boolean = {
    var i = 0
    while (i < len) { if (bytes(off + i) == 0) return true; i += 1 }
    false
  }

  /** The root object, its `{` consumed. */
  private def message(p: JsonParser): InternalRow = {
    val flat = new Array[Any](n + 1)
    var payload = false          // a non-null `payload` member (the last one)
    var after: Array[Any] = null // its `after` row
    var t = p.nextToken()
    while (t != null && t != END_OBJECT) {
      val name = p.currentName
      t = p.nextToken()
      val slot = slots.get(name)
      if (slot != null) flat(slot) = field(p, t, kinds(slot))
      else name match {
        case "payload" => t match {
          case VALUE_NULL => payload = false; after = null
          case START_OBJECT => payload = true; after = envelope(p)
          case _ => throw Mismatch
        }
        case "__source_ts_ms" => field(p, t, KLong)
        case "__op" | "__source_db" | "__source_table" => field(p, t, KDiscard)
        case _ => p.skipChildren()
      }
      t = p.nextToken()
    }
    val row =
      if (payload) after
      else if (present(flat)) flat
      else null
    if (row == null) missingAfterRow else new GenericInternalRow(row)
  }

  /** The `payload` object, its `{` consumed: its `after` row, or null. */
  private def envelope(p: JsonParser): Array[Any] = {
    var after: Array[Any] = null
    var t = p.nextToken()
    while (t != null && t != END_OBJECT) {
      val name = p.currentName
      t = p.nextToken()
      name match {
        case "after" => after = record(p, t)
        case "before" => record(p, t)
        case "ts_ms" => field(p, t, KLong)
        case "op" => field(p, t, KDiscard)
        case _ => p.skipChildren()
      }
      t = p.nextToken()
    }
    after
  }

  /** A row-shaped member (`after`/`before`): null, or an object whose
    * declared fields are read (one slot more, for the tag). */
  private def record(p: JsonParser, start: JsonToken): Array[Any] = start match {
    case VALUE_NULL => null
    case START_OBJECT =>
      val r = new Array[Any](n + 1)
      var t = p.nextToken()
      while (t != null && t != END_OBJECT) {
        val slot = slots.get(p.currentName)
        t = p.nextToken()
        if (slot != null) r(slot) = field(p, t, kinds(slot))
        else p.skipChildren()
        t = p.nextToken()
      }
      r
    case _ => throw Mismatch
  }

  /** One scalar field at token `t`: its value, or [[Mismatch]]. */
  private def field(p: JsonParser, t: JsonToken, kind: Int): Any = t match {
    case VALUE_NULL => null
    case VALUE_NUMBER_INT if kind == KLong => p.getLongValue
    case VALUE_NUMBER_INT if kind == KInt => p.getIntValue
    case VALUE_STRING if kind == KString => UTF8String.fromString(p.getText)
    case VALUE_STRING if kind == KDiscard => null
    case _ if kind == KString || kind == KDiscard => copyStructure(p)
    case _ => throw Mismatch
  }

  /** Any non-string JSON value as text, the way Spark's JSON reader
    * stores it in a string field. */
  private def copyStructure(p: JsonParser): UTF8String = {
    val out = new ByteArrayOutputStream()
    val g = Factory.createGenerator(out, JsonEncoding.UTF8)
    try g.copyCurrentStructure(p) finally g.close()
    UTF8String.fromBytes(out.toByteArray)
  }

  private def present(flat: Array[Any]): Boolean = {
    var i = 0
    while (i < n) { if (flat(i) != null) return true; i += 1 }
    false
  }
}

object EnvelopeKernel {
  private val KLong = 0
  private val KInt = 1
  private val KString = 2
  /** A string field read only for its type check. */
  private val KDiscard = 3

  /** The factory `from_json` uses under its default options. */
  private val Factory: JsonFactory =
    new JSONOptions(Map.empty[String, String], "UTC", "_corrupt_record").buildJsonFactory()

  /** A field of the wrong JSON type: the message is `json_error`. */
  private object Mismatch extends IOException("type mismatch") with NoStackTrace
}
