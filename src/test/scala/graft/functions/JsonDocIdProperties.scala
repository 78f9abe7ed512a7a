package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAllNoShrink

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GetJsonObject, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.graft.{JsonDocId, JsonFieldScanner}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `json_doc_id(json, 'doc_id')` against `get_json_object(json, '$.doc_id')`,
  * row by row, interpreted and codegen'd, over generated lines: valid,
  * truncated, corrupted, escaped, duplicate-key, nested same-name,
  * numeric/literal/container ids, single quotes, control characters,
  * multi-byte and invalid UTF-8, whitespace and trailing garbage, empty
  * lines and deep nesting (pure JVM, no SparkSession). */
object JsonDocIdProperties extends Properties("json_doc_id") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(3000)

  val Field = "doc_id"

  private type B = Array[Byte]
  private def b(s: String): B = s.getBytes(UTF_8)
  private def quoted(body: B): B = b("\"") ++ body ++ b("\"")
  private def join(open: String, parts: Seq[B], close: String): B =
    parts.reduceOption((x, y) => x ++ b(",") ++ y).fold(b(open))(b(open) ++ _) ++ b(close)

  private def upTo3[T](g: Gen[T]): Gen[List[T]] = Gen.choose(0, 3).flatMap(Gen.listOfN(_, g))

  private val ws: Gen[String] =
    Gen.frequency(8 -> "", 2 -> " ", 1 -> "\t", 1 -> " \n ", 1 -> "\r\n")

  private val word: Gen[String] = Gen.choose(0, 8).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(('a' to 'z') ++ ('0' to '9') ++ "-_ .:|/".toSeq)).map(_.mkString))

  private val invalidUtf8: Gen[B] = Gen.oneOf(
    Seq(0x80), Seq(0xc3), Seq(0xe2, 0x82), Seq(0xff), Seq(0xf0, 0x9f), Seq(0xed, 0xa0, 0x80),
    Seq(0xc0, 0xaf), Seq(0xf8, 0x88, 0x80, 0x80, 0x80)).map(_.map(_.toByte).toArray)

  /** The bytes between a string's quotes. */
  private val stringBody: Gen[B] = Gen.frequency(
    10 -> word.map(b),
    2 -> Gen.oneOf("a\\\"b", "\\n", "\\\\", "\\/", "x\\u00e9", "\\ud83d\\ude00", "\\uD800",
      "tab\\there", "\\b\\f\\r").map(b),                       // valid escapes
    1 -> Gen.oneOf("\\x", "\\u12", "\\u12g4", "\\'").map(b),  // invalid escapes
    2 -> Gen.oneOf("é", "日本", "😀", "ü-x", " ").map(b),  // multi-byte UTF-8
    1 -> Gen.zip(word, invalidUtf8).map { case (w, x) => b(w) ++ x },
    1 -> Gen.oneOf("\u0001", "\u001f", "a\tb", "\u0000", "\u007f").map(b)) // raw controls, DEL

  private val number: Gen[String] = Gen.oneOf(
    "0", "-0", "7", "-7", "42", "1.50", "1e3", "1E+3", "2.5e-3", "-0.0", "0.5",
    "123456789012345678", "-123456789012345678", "1234567890123456789",
    "99999999999999999999", "01", "-01", "1.", ".5", "+1", "-", "1e", "NaN",
    "Infinity", "0x1F", "1_000")

  private val literal: Gen[String] =
    Gen.oneOf("true", "false", "null", "nul", "truex", "None", "nullnull")

  private val scalar: Gen[B] = Gen.frequency(
    5 -> stringBody.map(quoted),
    3 -> number.map(b),
    2 -> literal.map(b),
    1 -> word.map(w => b(s"'$w'")))                            // single-quoted

  private def member(key: Gen[B], value: Gen[B]): Gen[B] =
    for (k <- key; w1 <- ws; w2 <- ws; w3 <- ws; v <- value)
      yield b(w1) ++ k ++ b(w2 + ":" + w3) ++ v

  /** Keys below depth 1, the field's own name among them. */
  private val nestedKey: Gen[B] = Gen.frequency(
    3 -> word.map(w => quoted(b(w))), 1 -> Gen.const(quoted(b(Field))),
    1 -> stringBody.map(quoted))

  private def value(depth: Int): Gen[B] =
    if (depth <= 0) scalar
    else Gen.frequency(
      6 -> scalar,
      1 -> upTo3(Gen.zip(ws, value(depth - 1)))
        .map(vs => join("[", vs.map { case (w, v) => b(w) ++ v }, "]")),
      1 -> upTo3(member(nestedKey, value(depth - 1))).map(ms => join("{", ms, "}")))

  /** Values of the field itself. */
  private val idValue: Gen[B] = Gen.frequency(
    10 -> word.map(w => quoted(b(w))),
    4 -> stringBody.map(quoted),
    4 -> number.map(b),
    2 -> literal.map(b),
    1 -> word.map(w => b(s"'$w'")),
    2 -> value(2))

  /** Depth-1 keys: the field, near misses, an escaped spelling of the field,
    * escapes, non-ASCII, single quotes and the empty key. */
  private val otherTopKey: Gen[B] = Gen.frequency(
    6 -> word.map(w => quoted(b(w))),
    2 -> Gen.oneOf("doc_i", "doc_idx", "Doc_id", "doc id", "").map(k => quoted(b(k))),
    1 -> Gen.oneOf("doc\\u005fid", "\\u0064oc_id", "doc\\_id", "a\\\"b", "k\\n").map(k => quoted(b(k))),
    1 -> Gen.oneOf("dóc_id", "doc_id\u0001").map(k => quoted(b(k))),
    1 -> Gen.const(b(s"'$Field'")))

  private val topMember: Gen[B] = Gen.frequency(
    3 -> member(Gen.const(quoted(b(Field))), idValue),
    5 -> member(otherTopKey, Gen.oneOf(value(3), idValue)))

  private val topObject: Gen[B] =
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, topMember)).flatMap(ms =>
      ws.map(w => join("{", ms, w + "}")))

  private val trailing: Gen[String] =
    Gen.frequency(6 -> "", 1 -> " x", 1 -> ",{}", 1 -> "}", 1 -> " {\"doc_id\":\"other\"}", 1 -> "\u0000")

  private val junk: Gen[B] = Gen.oneOf(
    Seq(",", ":", "\"", "}", "]", "{", "[", "x", "'", "\\", "\u0000", " ").map(b) :+
      Array(0xff.toByte))

  /** `o` cut at a random point. */
  private def truncated(o: B): Gen[B] = Gen.choose(0, o.length).map(o.take)

  /** `o` with a junk token inserted, or one byte dropped, at a random point. */
  private def corrupted(o: B): Gen[B] = for {
    at <- Gen.choose(0, o.length)
    drop <- Gen.prob(0.3)
    j <- junk
  } yield if (drop && at < o.length) o.take(at) ++ o.drop(at + 1) else o.take(at) ++ j ++ o.drop(at)

  private def nested(depth: Int): B =
    b(s"""{"$Field":"deep","d":""" + "[" * depth + "1" + "]" * depth + "}")

  /** Every kind of line the equivalence is checked on. */
  val line: Gen[B] = Gen.frequency(
    12 -> (for (w1 <- ws; o <- topObject; w2 <- ws; t <- trailing) yield b(w1) ++ o ++ b(w2 + t)),
    3 -> topObject.flatMap(truncated),
    3 -> topObject.flatMap(corrupted),
    1 -> Gen.oneOf("", " ", "\t", "[]", "[{\"doc_id\":\"x\"}]", "\"doc_id\"", "7", "null",
      "{", "}", "{\"doc_id\"", "{\"doc_id\":", "{\"doc_id\":\"x\"", "\uFEFF{\"doc_id\":\"x\"}").map(b),
    1 -> Gen.oneOf(0, 1, 63, 64, 65, 200, 999, 1000, 1001).map(nested),
    1 -> Gen.oneOf(
      b(s"""{"$Field":"k","${"k" * 2000}":1}"""),
      b(s"""{"$Field":"n","v":${"9" * 70}}"""),
      b(s"""{"v":${"9" * 1100},"$Field":"n"}"""),
      b(s"""{"$Field":${"1" * 70}}""")))

  /** Lines inside the fast path's subset: valid objects, plain ASCII or
    * canonical-integer ids, at most one depth-1 field key. */
  val subsetLine: Gen[B] = {
    val plainId = Gen.oneOf(
      word.map(w => quoted(b(w))),
      Gen.oneOf("0", "7", "-7", "123456789012345678", "null").map(b))
    val otherKey = word.suchThat(_ != Field).map(w => quoted(b(w)))
    val validScalar = Gen.frequency(
      4 -> Gen.oneOf(word.map(b), Gen.oneOf("\\n", "a\\\"b", "\\u00e9", "é", "日本").map(b)).map(quoted),
      2 -> Gen.oneOf("0", "-0", "1.50", "1e3", "-2.5E-3", "12345678901234567890").map(b),
      1 -> Gen.oneOf("true", "false", "null").map(b))
    def validValue(depth: Int): Gen[B] =
      if (depth <= 0) validScalar
      else Gen.frequency(
        5 -> validScalar,
        1 -> upTo3(validValue(depth - 1)).map(vs => join("[", vs, "]")),
        1 -> upTo3(member(Gen.oneOf(otherKey, Gen.const(quoted(b(Field)))), validValue(depth - 1)))
          .map(ms => join("{", ms, "}")))
    for {
      before <- upTo3(member(otherKey, validValue(3)))
      id <- Gen.option(member(Gen.const(quoted(b(Field))), plainId))
      after <- upTo3(member(otherKey, validValue(3)))
      w1 <- ws
      w2 <- ws
      t <- trailing
    } yield b(w1) ++ join("{", before ++ id ++ after, "}") ++ b(w2 + t)
  }

  private val input = BoundReference(0, StringType, nullable = true)
  private val ours = JsonDocId(input, Field)
  private val theirs = GetJsonObject(input, Literal(s"$$.$Field"))
  private lazy val generated = GenerateUnsafeProjection.generate(Seq(ours, theirs))

  /** A line with its controls and non-ASCII bytes shown as escapes. */
  def show(line: B): String = line.map { x =>
    val c = x & 0xff
    if (c >= 0x20 && c < 0x7f) c.toChar.toString else f"\\x$c%02x"
  }.mkString

  /** Interpreted and codegen'd `json_doc_id` equal `get_json_object`. */
  def agrees(line: B): Prop = agreesOn(InternalRow(UTF8String.fromBytes(line)), show(line))

  private def agreesOn(row: InternalRow, label: String): Prop = {
    val expected = theirs.eval(row)
    val interpreted = ours.eval(row)
    // copies: the projection reuses its row, and a Prop's right operand
    // of && runs later
    val out = generated(row)
    val codegen = if (out.isNullAt(0)) null else out.getUTF8String(0).copy()
    val sparkCodegen = if (out.isNullAt(1)) null else out.getUTF8String(1).copy()
    (Prop(interpreted == expected) :| s"interpreted $interpreted != $expected" &&
      Prop(codegen == expected) :| s"codegen $codegen != $expected" &&
      Prop(sparkCodegen == expected) :| s"get_json_object codegen $sparkCodegen") :| label
  }

  property("equals get_json_object on every generated line") = forAllNoShrink(line)(agrees)

  property("answers every line of the strict subset on the fast path") =
    forAllNoShrink(subsetLine) { l =>
      val fast = new JsonFieldScanner(Field).scan(UTF8String.fromBytes(l))
      (Prop(fast ne JsonFieldScanner.Fallback) :| "fell back" && agrees(l)) :| show(l)
    }

  /** (line, get_json_object's answer, fast path taken) */
  private val edges: Seq[(String, String, Boolean)] = Seq(
    ("""{"doc_id":"x"}""", "x", true),
    ("""{"doc_id":"x", bad""", null, false),         // error after the id
    ("""{"v":[1,}, "doc_id":"x"}""", null, false),   // error before the id
    ("""{"doc_id":"x"} trailing""", "x", true),
    (""" {"doc_id":"x"}  """, "x", true),
    ("""{"doc_id":7}""", "7", true),
    ("""{"doc_id":0}""", "0", true),
    ("""{"doc_id":-0}""", "0", false),
    ("""{"doc_id":1.50}""", "1.5", false),
    ("""{"doc_id":1e3}""", "1000.0", false),
    ("""{"doc_id":true}""", "true", false),
    ("""{"doc_id":{"a":1}}""", """{"a":1}""", false),
    ("""{"doc_id":[1, 2]}""", "[1,2]", false),
    ("""{"doc_id":null}""", null, true),
    ("""{"doc_id":null,"doc_id":"y"}""", "y", false),
    ("""{"doc_id":"x","doc_id":"y"}""", "x", false),
    ("{\"doc\\u005fid\":\"x\"}", "x", false),   // escaped field name
    ("""{"doc_id":"a\"b"}""", "a\"b", false),
    ("""{"doc_id":"é"}""", "é", false),
    ("""{'doc_id':'x'}""", "x", false),
    ("""{"v":{"doc_id":"inner"}}""", null, true),
    ("""{"v":{"doc_id":"inner"},"doc_id":"outer"}""", "outer", true),
    ("""{}""", null, true),
    ("", null, false),
    ("""["doc_id"]""", null, false),
    ("{\"doc_id\":\"a\u0001b\"}", "a\u0001b", false),
    ("""{"doc_id":"x","v":01}""", null, false),
    ("""{"doc_id":"x",}""", null, false),
    ("""{"doc_id":1234567890123456789}""", "1234567890123456789", false))

  property("fixed edge cases") = Prop.all(edges.map { case (l, want, fast) =>
    val line = UTF8String.fromString(l)
    val scanned = new JsonFieldScanner(Field).scan(line)
    (agrees(b(l)) &&
      Prop(theirs.eval(InternalRow(line)) == UTF8String.fromString(want)) :| s"expected $want" &&
      Prop((scanned ne JsonFieldScanner.Fallback) == fast) :| s"fast path $fast") :| l
  }: _*) && agreesOn(InternalRow(null), "null input")
}
