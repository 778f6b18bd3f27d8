package graft

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_16LE, UTF_8}

import org.apache.spark.sql.types._
import org.scalacheck.Gen

/** ScalaCheck generator of Debezium CDC messages for a given row schema:
  * well-formed and malformed, in both shapes (the `payload.after`
  * envelope and the flattened unwrap-SMT record).
  *
  * Nothing keys on a fixed layout: members come in shuffled order, with
  * random whitespace, optional and duplicated keys, unknown members, and
  * values of the wrong JSON type. Numbers cover int and long overflow,
  * strings cover escapes (surrogate pairs included), single quotes and
  * raw non-ASCII text. Message-level mutations truncate, append trailing
  * content, or insert comments; odd roots (`null`, scalars, arrays, empty
  * and whitespace-only text) come in at a low rate. [[withBadUtf8]]
  * corrupts the UTF-8 encoding of a message and [[misencoded]] gives it in
  * another encoding or with NUL bytes, for a binary `value`.
  */
object EnvelopeGen {

  /** A member left out of its object. */
  private val Absent = "\u0000absent"

  val ws: Gen[String] = Gen.frequency(
    8 -> Gen.const(""),
    3 -> Gen.const(" "),
    1 -> Gen.listOfN(3, Gen.oneOf(" ", "\t", "\n", "\r")).map(_.mkString))

  /** Source text between a string's quotes. */
  private val strPiece: Gen[String] = Gen.frequency(
    120 -> Gen.alphaNumStr.map(_.take(6)),
    24 -> Gen.oneOf("\\n", "\\\"", "\\\\", "\\/", "\\t", "\\b", "\\f", "\\r",
      "\\u00e9", "\\u0041", "\\u0000"),
    12 -> Gen.oneOf("\\ud83d\\ude00", "\\ud800", "\\udc00x", "é", "€", "😀",
      " ", ":", ",", "{", "}", "[", "]", "'"),
    1 -> Gen.oneOf("\\q", "\u0001", "\t", "\\u12", "\\x41", "\\'", "\n"))

  private val quote: Gen[Char] = Gen.frequency(12 -> '"', 1 -> '\'')

  val string: Gen[String] = for {
    q <- quote
    n <- Gen.choose(0, 4)
    parts <- Gen.listOfN(n, strPiece)
  } yield s"$q${parts.mkString}$q"

  val longTok: Gen[String] = Gen.frequency(
    6 -> Gen.choose(-100000L, 100000L).map(_.toString),
    3 -> Gen.long.map(_.toString),
    2 -> Gen.oneOf("0", "-0", "2147483647", "2147483648", "-2147483648",
      "-2147483649", "3000000000", "9223372036854775807", "9223372036854775808",
      "-9223372036854775808", "-9223372036854775809",
      "123456789012345678901234567890"))

  val intTok: Gen[String] = Gen.frequency(
    6 -> Gen.choose(-100000, 100000).map(_.toString),
    2 -> Gen.choose(Int.MinValue, Int.MaxValue).map(_.toString),
    1 -> longTok)

  /** Number-like tokens that no integer field accepts (some are not JSON
    * at all). */
  val oddNumber: Gen[String] = Gen.oneOf("1e3", "5.0", "007", "-", "+1", ".5",
    "1.", "NaN", "Infinity", "-Infinity", "+INF", "INF", "-INF", "1E-2", "0x10",
    "-00", "1.5e400", "1e", "--1", "0.1e+2", "1.10")

  val literal: Gen[String] = Gen.oneOf("true", "false", "null", "nul", "tru", "undefined")

  val scalar: Gen[String] = Gen.frequency(
    3 -> string, 2 -> longTok, 1 -> oddNumber, 1 -> literal)

  /** Any value, objects and arrays nested up to `depth`. */
  def anyValue(depth: Int): Gen[String] =
    if (depth <= 0) scalar
    else Gen.frequency(
      6 -> scalar,
      1 -> Gen.lzy(for {
        n <- Gen.choose(0, 3)
        xs <- Gen.listOfN(n, anyValue(depth - 1))
        a <- array(xs)
      } yield a),
      1 -> Gen.lzy(for {
        n <- Gen.choose(0, 3)
        ks <- Gen.listOfN(n, Gen.oneOf("a", "b", "id", "after", "payload"))
        vs <- Gen.listOfN(n, anyValue(depth - 1))
        o <- obj(ks.zip(vs))
      } yield o))

  /** Whitespace around every token. */
  private def spaced(parts: Seq[String]): Gen[String] =
    Gen.listOfN(parts.size + 1, ws).map { w =>
      parts.zip(w).map { case (p, s) => s + p }.mkString + w.last
    }

  def array(items: Seq[String]): Gen[String] =
    spaced("[" +: items.flatMap(Seq(_, ",")).dropRight(1) :+ "]")

  /** Key source text: quoted mostly; sometimes single-quoted, escaped or
    * (not JSON) unquoted. */
  def key(name: String): Gen[String] = Gen.frequency(
    150 -> Gen.const("\"" + name + "\""),
    2 -> Gen.const("'" + name + "'"),
    1 -> Gen.const("\"" + name.flatMap(c => f"\\u${c.toInt}%04x") + "\""),
    1 -> Gen.const(name))

  /** An object of the present members, in the given order. */
  def obj(members: Seq[(String, String)]): Gen[String] = {
    val kept = members.filter(_._2 != Absent)
    Gen.sequence[Seq[String], String](kept.map(m => key(m._1))).flatMap { ks =>
      val parts = ks.zip(kept).flatMap { case (k, (_, v)) => Seq(k, ":", v, ",") }
      spaced("{" +: parts.dropRight(1) :+ "}")
    }
  }

  def shuffled[A](xs: Seq[A]): Gen[Seq[A]] =
    Gen.listOfN(xs.size, Gen.long).map(ks => xs.zip(ks).sortBy(_._2).map(_._1))

  private def good(t: DataType): Gen[String] = t match {
    case LongType => longTok
    case IntegerType => intTok
    case _ => string
  }

  /** A value for a field of type `t`: mostly of that type. */
  def valueFor(t: DataType): Gen[String] =
    Gen.frequency(50 -> good(t), 5 -> Gen.const("null"), 1 -> anyValue(2))

  private def maybe(g: Gen[String], absent: Int = 2, other: Int = 1): Gen[String] =
    Gen.frequency(10 -> g, absent -> Gen.const(Absent), other -> anyValue(1))

  /** The declared row fields (each usually present), a few unknown
    * members, now and then a duplicated key. */
  def rowMembers(schema: StructType): Gen[Seq[(String, String)]] = for {
    fields <- Gen.sequence[Seq[(String, String)], (String, String)](schema.fields.toSeq.map { f =>
      Gen.frequency(9 -> valueFor(f.dataType), 1 -> Gen.const(Absent)).map(f.name -> _)
    })
    nExtra <- Gen.frequency(6 -> Gen.const(0), 2 -> Gen.const(1), 1 -> Gen.const(2))
    extra <- Gen.listOfN(nExtra, for {
      k <- Gen.oneOf("extra", "ID", "Id", "before", "__corrupt", "payloadx", "op")
      v <- anyValue(2)
    } yield k -> v)
    dup <- Gen.frequency(12 -> Gen.const(Seq.empty[(String, String)]), 1 -> (for {
      f <- Gen.oneOf(schema.fields.toSeq)
      v <- valueFor(f.dataType)
    } yield Seq(f.name -> v)))
    all <- shuffled(fields ++ extra)
  } yield all ++ dup

  def row(schema: StructType): Gen[String] = rowMembers(schema).flatMap(obj)

  def envelope(schema: StructType): Gen[String] = for {
    after <- Gen.frequency(14 -> row(schema), 2 -> Gen.const("null"),
      1 -> Gen.const("{}"), 1 -> anyValue(1), 3 -> Gen.const(Absent))
    before <- Gen.frequency(6 -> Gen.const("null"), 2 -> row(schema),
      3 -> Gen.const(Absent), 1 -> anyValue(1))
    op <- maybe(Gen.oneOf("\"c\"", "\"d\"", "\"u\"", "\"r\""))
    tsMs <- maybe(longTok)
    source <- maybe(anyValue(2), absent = 10)
    inner <- shuffled(Seq("after" -> after, "before" -> before, "op" -> op,
      "ts_ms" -> tsMs, "source" -> source))
    payloadObj <- obj(inner)
    payload <- Gen.frequency(24 -> Gen.const(payloadObj), 1 -> Gen.const("null"),
      1 -> anyValue(1))
    schemaMember <- maybe(anyValue(2), absent = 20, other = 0)
    flat <- Gen.frequency(12 -> Gen.const(Seq.empty[(String, String)]), 1 -> rowMembers(schema))
    dupPayload <- Gen.frequency(20 -> Gen.const(Seq.empty[(String, String)]),
      1 -> Gen.oneOf("null", "{}").map(v => Seq("payload" -> v)))
    top <- shuffled(Seq("schema" -> schemaMember, "payload" -> payload) ++ flat)
    msg <- obj(top ++ dupPayload)
  } yield msg

  def flattened(schema: StructType): Gen[String] = for {
    fields <- rowMembers(schema)
    op <- maybe(Gen.oneOf("\"c\"", "\"r\""))
    srcTs <- maybe(longTok)
    db <- maybe(string)
    table <- maybe(string)
    payload <- Gen.frequency(20 -> Gen.const(Absent), 1 -> Gen.const("null"),
      1 -> Gen.const("{}"), 1 -> anyValue(1))
    all <- shuffled(fields ++ Seq("__op" -> op, "__source_ts_ms" -> srcTs,
      "__source_db" -> db, "__source_table" -> table, "payload" -> payload))
    msg <- obj(all)
  } yield msg

  val oddRoot: Gen[String] = Gen.oneOf("", " ", "\t\n \r", "null", "1", "-1.5",
    "\"s\"", "true", "[]", "[{}]", "[{\"id\":1}]", "{}", "{}}", "{\"a\":1}",
    "{\"payload\":null}", "{\"payload\":{}}", " {} ")

  /** A well-formed-or-not message before mutation. */
  def shape(schema: StructType): Gen[String] =
    Gen.frequency(10 -> envelope(schema), 10 -> flattened(schema), 1 -> oddRoot)

  /** Truncation, trailing content, comments, leading whitespace. */
  def mutate(m: String): Gen[String] = Gen.frequency(
    24 -> Gen.const(m),
    2 -> Gen.choose(0, m.length).map(m.substring(0, _)),
    1 -> Gen.oneOf("}", "}}", " xyz", "{\"id\":9}", ",", "\u0000").map(m + _),
    1 -> Gen.oneOf("/* c */", "// c\n", "#c\n").flatMap { c =>
      Gen.choose(0, m.length).map(i => m.substring(0, i) + c + m.substring(i))
    },
    1 -> ws.map(_ + m))

  def message(schema: StructType): Gen[String] = shape(schema).flatMap(mutate)

  /** Bytes that are not valid UTF-8 (stray continuation, overlong,
    * surrogate, beyond U+10FFFF, truncated sequences, 0xFF). */
  private val badBytes: Gen[Array[Byte]] = Gen.oneOf(
    Seq(0x80), Seq(0xbf), Seq(0xc0, 0xaf), Seq(0xc3), Seq(0xed, 0xa0, 0x80),
    Seq(0xf4, 0x90, 0x80, 0x80), Seq(0xff), Seq(0xf0, 0x9f)
  ).map(_.map(_.toByte).toArray)

  /** The UTF-8 bytes of `m` with one to three invalid sequences spliced in. */
  def withBadUtf8(m: String): Gen[Array[Byte]] = {
    val bytes = m.getBytes(UTF_8)
    Gen.choose(1, 3).flatMap { k =>
      Gen.listOfN(k, Gen.zip(Gen.choose(0, bytes.length), badBytes)).map { cuts =>
        cuts.sortBy(-_._1).foldLeft(bytes) { case (b, (i, bad)) =>
          b.take(i) ++ bad ++ b.drop(i)
        }
      }
    }
  }

  /** `m` in UTF-16 or UTF-32 (either byte order), or its UTF-8 bytes with
    * one to three NUL bytes spliced in, often among the first four: text
    * whose first bytes an encoding sniffer would misread. */
  def misencoded(m: String): Gen[Array[Byte]] = {
    val bytes = m.getBytes(UTF_8)
    val at = Gen.frequency(2 -> Gen.choose(0, math.min(4, bytes.length)),
      1 -> Gen.choose(0, bytes.length))
    Gen.frequency(
      1 -> Gen.oneOf(Seq(UTF_16LE, UTF_16BE, Charset.forName("UTF-32LE"),
        Charset.forName("UTF-32BE"))).map(m.getBytes(_)),
      2 -> Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, at)).map { cuts =>
        cuts.sorted.reverse.foldLeft(bytes)((b, i) => b.take(i) ++ Array[Byte](0) ++ b.drop(i))
      })
  }
}
