package graft

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_16LE, UTF_8}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ingest.{DebeziumEnvelope, DebeziumParser}
import graft.schemas.Schemas

/** Pins the compiled envelope kernel to the `from_json` form it replaced
  * ([[FromJsonParse]]): for every generated message, the same row or the
  * same error channel, through the kernel's codegen and its interpreted
  * `eval` alike. The one declared difference: text with no JSON token
  * (empty or whitespace-only) is `json_error`, where `from_json` read a
  * null struct and said `missing_after`. */
class DebeziumEnvelopeSpec extends SparkSpec {
  import spark.implicits._

  private val contentStringly = StructType(Schemas.content.fields.map {
    case f if f.dataType == TimestampType => f.copy(dataType = StringType)
    case f => f
  })

  /** Small schema with one field of each supported type. */
  private val small = StructType(Seq(
    StructField("id", LongType), StructField("n", IntegerType), StructField("s", StringType)))

  private type Outcome = Seq[Any] // row fields, then the error tag

  private def jsonBlank(bytes: Array[Byte]): Boolean =
    bytes.forall(b => b == ' ' || b == '\t' || b == '\n' || b == '\r')

  /** The reference's outcome with the declared difference applied. */
  private def expected(ref: Outcome, value: Option[Array[Byte]], n: Int): Outcome =
    if (value.exists(jsonBlank)) Seq.fill[Any](n)(null) :+ DebeziumEnvelope.JsonError
    else ref

  private def frame(values: Seq[Option[Array[Byte]]], binary: Boolean): DataFrame = {
    val idx = values.indices
    if (binary) idx.zip(values).toDF("idx", "value")
    else idx.zip(values.map(_.map(new String(_, UTF_8)))).toDF("idx", "value")
  }

  /** Per message: the row fields, then the tag. An error's row fields
    * read null: neither output carries them (the reference's `__after`
    * may hold `from_json`'s partial result). */
  private def outcomes(df: DataFrame, n: Int): Map[Int, Outcome] =
    df.collect().map { r =>
      r.getInt(0) -> (if (r.isNullAt(n + 1)) (1 to n + 1).map(r.get)
        else Seq.fill[Any](n)(null) :+ r.get(n + 1))
    }.toMap

  /** Per message: the reference's outcome. */
  private def reference(df: DataFrame, schema: StructType): Map[Int, Outcome] =
    outcomes(FromJsonParse.tag(df, schema).select(
      col("idx") +: schema.fieldNames.toSeq.map(f => col("__after").getField(f)) :+
        col("__error"): _*), schema.length)

  /** Per message: kernel (codegen), kernel (eval) and reference agree. */
  private def assertSame(schema: StructType, values: Seq[Option[Array[Byte]]],
      binary: Boolean): Unit = {
    val n = schema.length
    val df = frame(values, binary)
    val ref = reference(df, schema)
    val v = col("value").cast(StringType)
    val kernel = outcomes(df
      .select(col("idx"),
        CatalystBridge.column(DebeziumEnvelope(CatalystBridge.expression(v), schema)).as("p"))
      .select("idx", "p.*"), n)
    val interp = DebeziumEnvelope(BoundReference(0, StringType, nullable = true), schema)
    interp.initialize(0)
    val bad = values.indices.flatMap { i =>
      val text = values(i).map(b => if (binary) UTF8String.fromBytes(b)
        else UTF8String.fromString(new String(b, UTF_8))).orNull
      val r = interp.eval(InternalRow(text)).asInstanceOf[InternalRow]
      val evald: Outcome = (0 to n).map { j =>
        if (r.isNullAt(j)) null
        else if (j == n) r.getUTF8String(j).toString
        else schema(j).dataType match {
          case LongType => r.getLong(j)
          case IntegerType => r.getInt(j)
          case _ => r.getUTF8String(j).toString
        }
      }
      val want = expected(ref(i), values(i), n)
      if (kernel(i) == want && evald == want) None
      else Some(s"message ${values(i).map(b => new String(b, UTF_8)).orNull}\n" +
        s"  want   $want\n  kernel ${kernel(i)}\n  eval   $evald")
    }
    withClue(bad.take(5).mkString("\n") + "\n") { bad.size shouldBe 0 }
  }

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default.withSize(30), Seed(seed))

  private def messages(schema: StructType, count: Int, seed: Long): Seq[String] =
    sample(Gen.listOfN(count, EnvelopeGen.message(schema)), seed)

  private def utf8(ms: Seq[String]): Seq[Option[Array[Byte]]] =
    ms.map(m => Some(m.getBytes(UTF_8)))

  test("generated engagement and content messages: kernel == from_json reference") {
    for ((schema, seed) <- Seq(Schemas.engagementEvents -> 1L, contentStringly -> 2L,
        small -> 3L, Schemas.engagementEvents -> 4L))
      assertSame(schema, None +: utf8(messages(schema, 800, seed)), binary = false)
  }

  test("the generator reaches every outcome and both byte paths") {
    val ms = messages(Schemas.engagementEvents, 800, 1L)
    val tags = DebeziumParser.parse(ms.toDF("value"), Schemas.engagementEvents)
      .errors.groupBy("error").count().as[(String, Long)].collect().toMap
    val rows = ms.size - tags.values.sum
    for (n <- Seq(rows, tags(DebeziumEnvelope.JsonError), tags(DebeziumEnvelope.MissingAfter)))
      n should be > 60L
    ms.count(m => m.exists(_ > 127)) should be > 40
  }

  test("every truncated prefix of generated messages") {
    val whole = sample(Gen.listOfN(8, EnvelopeGen.shape(Schemas.engagementEvents)), 5L)
    val prefixes = whole.flatMap(m => (0 to m.length).map(m.substring(0, _)))
    assertSame(Schemas.engagementEvents, utf8(prefixes), binary = false)
  }

  test("invalid UTF-8, NULs and other encodings through a binary value") {
    val ms = messages(small, 400, 6L) ++ messages(Schemas.engagementEvents, 400, 7L)
    val broken = ms.zipWithIndex.map { case (m, i) =>
      sample(EnvelopeGen.withBadUtf8(m), 100L + i)
    }
    assertSame(small, None +: broken.map(Some(_)), binary = true)
    val odd = ms.zipWithIndex.map { case (m, i) =>
      sample(EnvelopeGen.misencoded(m), 5000L + i)
    }
    assertSame(small, odd.map(Some(_)), binary = true)
    assertSame(Schemas.engagementEvents, None +: utf8(ms).take(200), binary = true)
  }

  test("parse: rows and (value, error) rows equal the reference's") {
    val ms = messages(Schemas.engagementEvents, 1500, 8L) ++ Seq("", "  \n")
    val df = ms.toDF("value")
    def key(r: Seq[Any]) = r.mkString("\u0001")
    def sorted(d: DataFrame) = d.collect().map(_.toSeq).sortBy(key).toSeq
    val got = DebeziumParser.parse(df, Schemas.engagementEvents)
    val ref = FromJsonParse.parse(df, Schemas.engagementEvents)
    sorted(got.rows) shouldBe sorted(ref.rows)
    val refErrors = ref.errors.collect().map {
      case Row(v: String, _) if jsonBlank(v.getBytes(UTF_8)) =>
        Seq[Any](v, DebeziumEnvelope.JsonError)
      case r => r.toSeq
    }.sortBy(key).toSeq
    sorted(got.errors) shouldBe refErrors
    got.rows.schema shouldBe ref.rows.schema
  }

  // One row of today's behaviour each: (name, message, outcome on `small`).
  private def row(id: Any, n: Any, s: Any): Outcome = Seq(id, n, s, null)
  private def err(tag: String): Outcome = Seq(null, null, null, tag)
  private val J = DebeziumEnvelope.JsonError
  private val M = DebeziumEnvelope.MissingAfter
  private val examples: Seq[(String, String, Outcome)] = Seq(
    ("empty text (declared change)", "", err(J)),
    ("whitespace-only text (declared change)", " \t\r\n ", err(J)),
    ("JSON null root", "null", err(J)),
    ("scalar root", "12", err(J)),
    ("string root", "\"x\"", err(J)),
    ("array root", "[{\"id\":1}]", err(J)),
    ("empty object", "{}", err(M)),
    ("trailing content after the root", "{\"id\":1}}", row(1L, null, null)),
    ("trailing garbage after the root", "{\"id\":1} x y", row(1L, null, null)),
    ("single-quoted strings", "{'id':1,'s':'a\"b'}", row(1L, null, "a\"b")),
    ("duplicate keys: the last wins", "{\"id\":1,\"s\":\"a\",\"id\":2}", row(2L, null, "a")),
    ("string in a long field", "{\"id\":\"1\"}", err(J)),
    ("exponent in a long field", "{\"id\":1e3}", err(J)),
    ("fraction in a long field", "{\"id\":5.0}", err(J)),
    ("leading zeros", "{\"id\":007}", err(J)),
    ("int overflow", "{\"id\":1,\"n\":3000000000}", err(J)),
    ("long overflow", "{\"id\":9223372036854775808}", err(J)),
    ("payload not an object", "{\"payload\":1}", err(J)),
    ("after not an object", "{\"payload\":{\"after\":[1]}}", err(J)),
    ("scalar before", "{\"payload\":{\"before\":1,\"after\":{\"id\":1}}}", err(J)),
    ("string ts_ms", "{\"payload\":{\"ts_ms\":\"5\",\"after\":{\"id\":1}}}", err(J)),
    ("string __source_ts_ms", "{\"id\":1,\"__source_ts_ms\":\"5\"}", err(J)),
    ("bad escape", "{\"id\":1,\"s\":\"\\q\"}", err(J)),
    ("raw control character", "{\"id\":1,\"s\":\"a\u0001b\"}", err(J)),
    ("comment", "{/* c */\"id\":1}", err(J)),
    ("unquoted key", "{id:1}", err(J)),
    ("payload null beside flat fields", "{\"payload\":null,\"id\":1}", row(1L, null, null)),
    ("envelope after beats flat fields",
      "{\"id\":1,\"payload\":{\"after\":{\"id\":2,\"n\":3}}}", row(2L, 3, null)),
    ("after {} is a row of nulls", "{\"payload\":{\"after\":{}}}", row(null, null, null)),
    ("empty payload beside flat fields", "{\"payload\":{},\"id\":1}", err(M)),
    ("delete without after", "{\"payload\":{\"op\":\"d\",\"before\":{\"id\":3},\"after\":null}}", err(M)),
    ("flat row with metadata",
      "{\"s\":\"x\",\"__op\":\"c\",\"__source_ts_ms\":5,\"__source_db\":1}", row(null, null, "x")),
    ("object in a string field is re-serialized",
      "{\"id\":1,\"s\":{\"b\": [1, 2 ], \"c\":\"x\\/y\"}}", row(1L, null, "{\"b\":[1,2],\"c\":\"x/y\"}")),
    ("number in a string field", "{\"id\":1,\"s\":12}", row(1L, null, "12")),
    ("NaN in a string field keeps its quotes", "{\"id\":1,\"s\":NaN}", row(1L, null, "\"NaN\"")),
    ("surrogate-pair escape", "{\"s\":\"\\ud83d\\ude00\"}", row(null, null, "\uD83D\uDE00")),
    ("truncated envelope", "{\"payload\":{\"after\":{\"id\":1}", err(J)),
    // Text is UTF-8 whatever its first bytes are: a NUL among them must not
    // make the parse guess UTF-16 or UTF-32.
    ("UTF-16LE bytes", reencoded(UTF_16LE), err(J)),
    ("UTF-16BE bytes", reencoded(UTF_16BE), err(J)),
    ("UTF-32LE bytes", reencoded(Charset.forName("UTF-32LE")), err(J)),
    ("UTF-32BE bytes", reencoded(Charset.forName("UTF-32BE")), err(J)),
    ("NUL before the root", "\u0000{}", err(J)),
    ("NUL inside the root", "{\u0000}\u0000", err(J)),
    ("bytes 00 7B 00 7D", "\u0000{\u0000}", err(J)),
    ("NUL after the root", "{\"id\":1}\u0000", row(1L, null, null)))

  /** An ASCII message encoded as `cs`, read back as the UTF-8 text it
    * also is (every byte is below 0x80). */
  private def reencoded(cs: Charset): String =
    new String("{\"id\":1,\"s\":\"x\"}".getBytes(cs), UTF_8)

  test("named cases: the kernel and the reference each give today's outcome") {
    val values = examples.map(e => Some(e._2.getBytes(UTF_8)))
    val ref = reference(frame(values, binary = false), small)
    examples.zipWithIndex.foreach { case ((name, msg, want), i) =>
      withClue(s"$name: $msg: ") {
        ref(i) shouldBe (if (jsonBlank(msg.getBytes(UTF_8))) err(M) else want)
      }
    }
    assertSame(small, values, binary = false)
  }

  test("the optimized plan evaluates the kernel once per message") {
    // Not a local relation: the optimizer would evaluate the parse itself.
    val df = spark.range(10).select(concat(lit("{\"id\":"), col("id"), lit("}")).as("value"))
    val p = DebeziumParser.parseEvents(df)
    for (out <- Seq(p.rows, p.errors)) {
      val plan = out.queryExecution.optimizedPlan
      val kernels = plan.collect { case node =>
        node.expressions.flatMap(_.collect { case k: DebeziumEnvelope => k })
      }.flatten
      withClue(plan.treeString) { kernels.size shouldBe 1 }
    }
  }

  test("a row field of another type is rejected by name when the plan is built") {
    val e = the[IllegalArgumentException] thrownBy DebeziumParser.parse(
      Seq("{}").toDF("value"),
      StructType(Seq(StructField("id", LongType), StructField("at", TimestampType))))
    e.getMessage should include("'at'")
    e.getMessage should include("TIMESTAMP")
  }
}
