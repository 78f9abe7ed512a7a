package org.apache.spark.sql.graft
// Same private[sql]-bridging package as EsHash.scala (see note there).

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.GetJsonObjectEvaluator
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.get_json_object
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Byte-level extraction of one top-level JSON field: the doc-id parse of
 * the ingest path (SURVEY.md §2.2 P1) without a general JSON parser for
 * the one field the pipeline reads (the Mison/Sparser lesson).
 *
 * [[extract]] equals `get_json_object(json, "$.<field>")` on every input.
 * The fast path ([[scan]]) reads the UTF-8 bytes once and answers only for
 * a line in a strict subset of JSON, which it validates in full:
 *  - JSON whitespace, then one object complete up to its closing brace;
 *    what follows the brace is ignored, as Jackson never reads past it;
 *  - inside it, RFC 8259 JSON only: double-quoted strings without raw
 *    control characters and with only the standard escapes, strict
 *    numbers, `true`/`false`/`null`, no trailing comma;
 *  - depth-1 keys without escapes, and the field at most once (Spark
 *    takes the first non-null of duplicates);
 *  - the field's value `null`, a string of ASCII bytes without escapes or
 *    control characters, or a canonical integer of at most 18 digits
 *    other than `-0` (Spark renders these bytes unchanged);
 *  - nesting, key and number lengths far below Jackson's
 *    `StreamReadConstraints`.
 * Any other line (malformed, single-quoted, escaped, non-ASCII id, a
 * float, boolean or container id, a top level that is no object) goes to
 * Spark's own `GetJsonObjectEvaluator`, so the answer there is Spark's by
 * construction. A scanner keeps per-line state: one instance per thread.
 */
final class JsonFieldScanner(field: String) {
  import JsonFieldScanner._
  require(isPlainName(field), s"not a plain JSON field name: '$field'")

  private[this] val name = field.getBytes(UTF_8)
  private[this] lazy val exact = new GetJsonObjectEvaluator(UTF8String.fromString("$." + field))

  // the line being scanned: bytes [_, end) of `base`
  private[this] var base: AnyRef = _
  private[this] var end = 0L

  /** The field's value as `get_json_object` renders it, or null. */
  def extract(json: UTF8String): UTF8String = {
    val fast = scan(json)
    if (fast ne Fallback) fast
    else {
      exact.setJson(json)
      exact.evaluate().asInstanceOf[UTF8String]
    }
  }

  /** The fast path alone: the field's value, null when the line is in the
    * subset and holds no non-null value for it, or [[JsonFieldScanner.Fallback]]. */
  def scan(json: UTF8String): UTF8String = {
    if (json.numBytes > MaxLineBytes) return Fallback
    base = json.getBaseObject
    end = json.getBaseOffset + json.numBytes
    var p = ws(json.getBaseOffset)
    if (at(p) != '{') return Fallback
    p = ws(p + 1)
    if (at(p) == '}') return null
    var found = false
    var valueFrom = -1L // -1: the field is null or absent
    var valueTo = 0L
    while (true) {
      if (at(p) != '"') return Fallback
      val keyFrom = p + 1
      var q = keyFrom
      while (q < end && plainKeyByte(Platform.getByte(base, q))) q += 1
      if (at(q) != '"' || q - keyFrom > MaxKeyBytes) return Fallback
      val isField = q - keyFrom == name.length && matchesName(keyFrom)
      p = ws(q + 1)
      if (at(p) != ':') return Fallback
      p = ws(p + 1)
      if (isField) {
        if (found) return Fallback
        found = true
        val b = at(p)
        if (b == '"') {
          q = p + 1
          while (q < end && plainIdByte(Platform.getByte(base, q))) q += 1
          if (at(q) != '"') return Fallback
          valueFrom = p + 1
          valueTo = q
          p = q + 1
        } else if (b == '-' || isDigit(b)) {
          q = skipNumber(p)
          if (q < 0 || !canonicalInt(p, q)) return Fallback
          valueFrom = p
          valueTo = q
          p = q
        } else if (b == 'n') p = literal(p, Null)
        else return Fallback
      } else p = skipValue(p)
      if (p < 0) return Fallback
      p = ws(p)
      val c = at(p)
      if (c == '}') {
        if (valueFrom < 0) return null
        val len = (valueTo - valueFrom).toInt
        val out = new Array[Byte](len)
        Platform.copyMemory(base, valueFrom, out, Platform.BYTE_ARRAY_OFFSET, len)
        return UTF8String.fromBytes(out)
      }
      if (c != ',') return Fallback
      p = ws(p + 1)
    }
    Fallback // unreachable
  }

  /** The byte at `p` as 0-255, or -1 past the end. */
  private[this] def at(p: Long): Int =
    if (p < end) Platform.getByte(base, p) & 0xff else -1

  private[this] def ws(p0: Long): Long = {
    var p = p0
    var b = at(p)
    while (b == ' ' || b == '\n' || b == '\r' || b == '\t') { p += 1; b = at(p) }
    p
  }

  private[this] def matchesName(from: Long): Boolean = {
    var i = 0
    while (i < name.length && Platform.getByte(base, from + i) == name(i)) i += 1
    i == name.length
  }

  /** `from` at a string's opening quote: the offset past its closing one,
    * or -1 on a raw control character, a non-standard escape or the end. */
  private[this] def skipString(from: Long): Long = {
    var p = from + 1
    while (p < end) {
      val b = Platform.getByte(base, p)
      if (b == '"') return p + 1
      if (b == '\\') {
        val e = at(p + 1)
        if (e == 'u') {
          if (!(isHex(at(p + 2)) && isHex(at(p + 3)) && isHex(at(p + 4)) && isHex(at(p + 5))))
            return -1
          p += 6
        } else if (e == '"' || e == '\\' || e == '/' || e == 'b' || e == 'f' || e == 'n' ||
                   e == 'r' || e == 't') p += 2
        else return -1
      } else if (b >= 0 && b < 0x20) return -1 // non-ASCII bytes are negative
      else p += 1
    }
    -1
  }

  /** `from` at '-' or a digit: the offset past a strict JSON number, or -1. */
  private[this] def skipNumber(from: Long): Long = {
    var p = from
    if (at(p) == '-') p += 1
    val lead = at(p)
    if (lead == '0') p += 1
    else if (lead >= '1' && lead <= '9') { p += 1; while (isDigit(at(p))) p += 1 }
    else return -1
    if (at(p) == '.') {
      p += 1
      if (!isDigit(at(p))) return -1
      while (isDigit(at(p))) p += 1
    }
    val e = at(p)
    if (e == 'e' || e == 'E') {
      p += 1
      val sign = at(p)
      if (sign == '+' || sign == '-') p += 1
      if (!isDigit(at(p))) return -1
      while (isDigit(at(p))) p += 1
    }
    if (p - from > MaxNumberBytes) -1 else p
  }

  /** [from, to) is a strict JSON number: is it an integer of 1-18 digits
    * other than `-0`, which Jackson copies through digit for digit? */
  private[this] def canonicalInt(from: Long, to: Long): Boolean = {
    val neg = at(from) == '-'
    val digits = to - from - (if (neg) 1 else 0)
    var p = if (neg) from + 1 else from
    while (p < to && isDigit(at(p))) p += 1
    p == to && digits <= 18 && !(neg && digits == 1 && at(to - 1) == '0')
  }

  private[this] def literal(from: Long, word: Array[Byte]): Long = {
    var i = 0
    while (i < word.length && at(from + i) == word(i)) i += 1
    if (i == word.length) from + i else -1
  }

  /** `from` at a member of an object: the offset of its value, or -1. */
  private[this] def member(from: Long): Long = {
    if (at(from) != '"') return -1
    val q = skipString(from)
    if (q < 0 || q - from > MaxKeyBytes) return -1
    val colon = ws(q)
    if (at(colon) != ':') -1 else ws(colon + 1)
  }

  /** `from` at the first byte of a value: the offset past it, or -1.
    * Iterative; bit `d` of `objects` tells whether open container `d` is
    * an object (else an array). */
  private[this] def skipValue(from: Long): Long = {
    var p = from
    var depth = 0
    var objects = 0L
    while (true) {
      // p is at a value
      val b = at(p)
      var closed = true // the value at p is complete once p moves past it
      if (b == '"') p = skipString(p)
      else if (b == '{' || b == '[') {
        if (depth == MaxDepth) return -1
        val bit = 1L << depth
        objects = if (b == '{') objects | bit else objects & ~bit
        depth += 1
        p = ws(p + 1)
        if (at(p) == (if (b == '{') '}' else ']')) { p += 1; depth -= 1 }
        else {
          closed = false
          if (b == '{') p = member(p)
        }
      }
      else if (b == '-' || isDigit(b)) p = skipNumber(p)
      else if (b == 't') p = literal(p, True)
      else if (b == 'f') p = literal(p, False)
      else if (b == 'n') p = literal(p, Null)
      else return -1
      if (p < 0) return -1
      // after a complete value: close containers until one continues
      while (closed) {
        if (depth == 0) return p
        p = ws(p)
        val inObject = (objects & (1L << (depth - 1))) != 0
        val c = at(p)
        if (c == ',') {
          p = ws(p + 1)
          if (inObject) { p = member(p); if (p < 0) return -1 }
          closed = false
        } else if (c == (if (inObject) '}' else ']')) { p += 1; depth -= 1 }
        else return -1
      }
    }
    -1 // unreachable
  }
}

object JsonFieldScanner {
  /** [[JsonFieldScanner.scan]]'s answer for a line outside the fast path's
    * subset (compared by reference). */
  val Fallback: UTF8String = UTF8String.fromString("<json-scan-fallback>")

  /** Field names the fast path serves: `$.<name>` parses to one child key. */
  def isPlainName(field: String): Boolean =
    field.nonEmpty && field.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
        c == '_' || c == '-')

  // Far below Jackson's defaults (nesting 1000, name 50000 chars, number
  // 1000 chars, string 20M chars): past these the line falls back.
  private val MaxDepth = 64
  private val MaxKeyBytes = 1024
  private val MaxNumberBytes = 64
  private val MaxLineBytes = 1 << 24

  private val True = "true".getBytes(UTF_8)
  private val False = "false".getBytes(UTF_8)
  private val Null = "null".getBytes(UTF_8)

  private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'
  private def isHex(b: Int): Boolean =
    isDigit(b) || (b >= 'a' && b <= 'f') || (b >= 'A' && b <= 'F')
  /** A depth-1 key byte: not the closing quote, an escape or a control
    * character (non-ASCII bytes are negative and allowed). */
  private def plainKeyByte(b: Byte): Boolean = b != '"' && b != '\\' && (b < 0 || b >= 0x20)
  /** An id string byte: ASCII, not the closing quote, an escape or a
    * control character. */
  private def plainIdByte(b: Byte): Boolean = b >= 0x20 && b != '"' && b != '\\'
}

/** json_doc_id(json, field): String — `get_json_object(json, '$.field')`
  * for a plain field name, through [[JsonFieldScanner]]; codegen'd with
  * one scanner per generated class. */
case class JsonDocId(child: Expression, field: String)
    extends UnaryExpression with ExpectsInputTypes {
  require(JsonFieldScanner.isPlainName(field), s"not a plain JSON field name: '$field'")
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "json_doc_id"

  @transient private lazy val scanner = new JsonFieldScanner(field)

  override protected def nullSafeEval(input: Any): Any =
    scanner.extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[JsonFieldScanner].getName
    // a plain name needs no escaping inside a Java string literal
    val scanner = ctx.addMutableState(cls, "docIdScanner",
      v => s"""$v = new $cls("$field");""", forceInline = true)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $scanner.extract($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonDocId =
    copy(child = newChild)
}

/** Column-level API (facade re-exported as graft.functions.Json). */
object JsonDocIdFunctions {
  /** `get_json_object(json, "$.<field>")`, through the byte-level scanner
    * when `field` is a plain name and through Spark's parser otherwise. */
  def docId(json: Column, field: String): Column =
    if (JsonFieldScanner.isPlainName(field))
      ExpressionUtils.column(JsonDocId(ExpressionUtils.expression(json), field))
    else get_json_object(json, "$." + field)
}
