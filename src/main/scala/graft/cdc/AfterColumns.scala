package graft.cdc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `after.<column>` of a Debezium envelope for each of `columns`, as an
  * `array<string>` in `columns`' order (NULL where the column is absent or
  * JSON null), or NULL when the envelope has no `after` object.
  *
  * Each row is first read by [[AfterColumns.walk]], one pass over the
  * envelope's UTF-8 bytes in place. A row the walk cannot vouch for is
  * answered from `after`, the `from_json` map of the same envelope, which is
  * evaluated for that row only. Both give the value `element_at(after,
  * column)` gives, so the plane's ids are `from_json`'s on every input.
  */
case class AfterColumns(envelope: Expression, after: Expression, columns: Seq[String])
    extends Expression with BinaryLike[Expression] {

  override def left: Expression = envelope
  override def right: Expression = after
  override def prettyName: String = "after_columns"
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (envelope.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"envelope must be a string, got ${envelope.dataType}")
    else if (after.dataType != MapType(StringType, StringType))
      TypeCheckResult.TypeCheckFailure(s"after must be map<string,string>, got ${after.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val names: Array[UTF8String] = columns.map(UTF8String.fromString).toArray

  override def eval(input: InternalRow): Any = {
    val e = envelope.eval(input)
    if (e == null) null
    else {
      val r = AfterColumns.walk(e.asInstanceOf[UTF8String], names)
      if (r ne AfterColumns.Fallback) r
      else AfterColumns.fromMap(after.eval(input).asInstanceOf[MapData], names)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = envelope.genCode(ctx)
    val m = after.genCode(ctx)
    val ref = ctx.addReferenceObj("afterColumns", names, s"${classOf[UTF8String].getName}[]")
    val kernel = classOf[AfterColumns].getName
    ev.copy(code = code"""
      ${e.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${e.isNull}) {
        ${ev.value} = $kernel.walk(${e.value}, $ref);
        if (${ev.value} == $kernel.Fallback()) {
          ${m.code}
          ${ev.value} = ${m.isNull} ? null : $kernel.fromMap(${m.value}, $ref);
        }
      }
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): AfterColumns =
    copy(envelope = l, after = r)
}

object AfterColumns {

  /** [[walk]]'s answer for an envelope it cannot vouch for. */
  val Fallback: ArrayData = new GenericArrayData(Array.empty[Any])

  // Conservative bounds under the StreamReadConstraints Jackson parses with
  // in Spark: 50,000-char names, 1,000-char numbers, nesting depth 1,000.
  // An envelope beyond one of these falls back.
  private final val MaxBytes = 32768
  private final val MaxNumber = 64
  private final val MaxDepth = 64

  private final val Fail = -1
  private val AfterKey = UTF8String.fromString("after")
  private val True = UTF8String.fromString("true")
  private val False = UTF8String.fromString("false")
  private val Null = UTF8String.fromString("null")
  private val Zero = UTF8String.fromString("0")
  /** Marks a column not yet seen in `after` while it is walked. */
  private val Unset = new Object

  /** The values of `columns` in the top-level `after` object of envelope
    * `s`, read in one pass over its bytes: an array aligned with `columns`,
    * NULL when `after` is JSON null or absent, or [[Fallback]].
    *
    * The walk validates the whole root object as strict JSON and skips
    * everything but `after`; what follows the root is ignored, as
    * `from_json` ignores it. It falls back where `from_json` is lenient or
    * renders a value, and on every syntax error:
    *   - single quotes, `NaN`/`Infinity`, comments, `\u` escapes, a key with
    *     an escape or a non-ASCII byte at the root or in `after`;
    *   - an `after` that is neither an object nor null, or a second `after`;
    *   - a wanted value that is not an integer, a printable-ASCII string
    *     without escapes, or null (`from_json` renders `1e2` as `100.0`);
    *   - an envelope over 32 KiB, a number over 64 chars, nesting over 64.
    * A duplicated key in `after` keeps its first value, as `element_at`
    * does on `from_json`'s map; `-0` reads as `0`, as `from_json` renders it.
    */
  def walk(s: UTF8String, columns: Array[UTF8String]): ArrayData = {
    if (s.numBytes > MaxBytes) return Fallback
    var i = ws(s, 0)
    if (at(s, i) != '{') return Fallback
    var values: Array[Any] = null
    var seenAfter = false
    i = ws(s, i + 1)
    var open = at(s, i) != '}'
    while (open) {
      val k = plain(s, i)
      if (k < 0) return Fallback
      var v = colon(s, k)
      if (v < 0) return Fallback
      if (equal(s, i + 1, k - 1, AfterKey)) {
        if (seenAfter) return Fallback
        seenAfter = true
        if (at(s, v) == '{') {
          values = new Array[Any](columns.length)
          v = after(s, v, columns, values)
        } else v = literal(s, v, Null)
      } else v = skip(s, v, 1)
      if (v < 0) return Fallback
      i = ws(s, v)
      at(s, i) match {
        case ',' => i = ws(s, i + 1)
        case '}' => open = false
        case _ => return Fallback
      }
    }
    if (values == null) null else new GenericArrayData(values)
  }

  /** `element_at(map, column)` for each of `columns`: the first match. */
  def fromMap(m: MapData, columns: Array[UTF8String]): ArrayData =
    if (m == null) null
    else {
      val (keys, vals, n) = (m.keyArray, m.valueArray, m.numElements)
      val out = new Array[Any](columns.length)
      var c = 0
      while (c < columns.length) {
        var k = 0
        while (k < n && keys.getUTF8String(k) != columns(c)) k += 1
        out(c) = if (k == n || vals.isNullAt(k)) null else vals.getUTF8String(k)
        c += 1
      }
      new GenericArrayData(out)
    }

  /** The byte at `i`, or -1 past the end. */
  private def at(s: UTF8String, i: Int): Int = if (i < s.numBytes) s.getByte(i) & 0xFF else -1

  private def digit(b: Int): Boolean = b >= '0' && b <= '9'

  private def ws(s: UTF8String, from: Int): Int = {
    var i = from
    var b = at(s, i)
    while (b == ' ' || b == '\n' || b == '\r' || b == '\t') { i += 1; b = at(s, i) }
    i
  }

  /** Past the `:` after a key ending at `k`, and its whitespace. */
  private def colon(s: UTF8String, k: Int): Int = {
    val i = ws(s, k)
    if (at(s, i) == ':') ws(s, i + 1) else Fail
  }

  /** Whether the bytes [from, until) of `s` are `word`'s. */
  private def equal(s: UTF8String, from: Int, until: Int, word: UTF8String): Boolean =
    until - from == word.numBytes && {
      var j = 0
      while (j < word.numBytes && s.getByte(from + j) == word.getByte(j)) j += 1
      j == word.numBytes
    }

  private def literal(s: UTF8String, i: Int, word: UTF8String): Int = {
    val end = i + word.numBytes
    if (end <= s.numBytes && equal(s, i, end, word)) end else Fail
  }

  /** Past a string of printable ASCII without escapes starting at `i`. */
  private def plain(s: UTF8String, i: Int): Int =
    if (at(s, i) != '"') Fail
    else {
      var j = i + 1
      var b = at(s, j)
      while (b >= 0x20 && b < 0x80 && b != '"' && b != '\\') { j += 1; b = at(s, j) }
      if (b == '"') j + 1 else Fail
    }

  /** Past any string starting at `i`, except one with a `\u` escape. */
  private def string(s: UTF8String, i: Int): Int =
    if (at(s, i) != '"') Fail
    else {
      var j = i + 1
      var end = 0
      while (end == 0) {
        val b = at(s, j)
        if (b == '"') end = j + 1
        else if (b < 0x20) end = Fail
        else if (b != '\\') j += 1
        else at(s, j + 1) match {
          case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => j += 2
          case _ => end = Fail
        }
      }
      end
    }

  private def digits(s: UTF8String, from: Int): Int = {
    var j = from
    while (digit(at(s, j))) j += 1
    j
  }

  /** Past a strict JSON number starting at `i`. */
  private def number(s: UTF8String, i: Int): Int = {
    var j = if (at(s, i) == '-') i + 1 else i
    val first = at(s, j)
    if (first == '0') j += 1
    else if (digit(first)) j = digits(s, j)
    else return Fail
    if (at(s, j) == '.') {
      val d = digits(s, j + 1)
      if (d == j + 1) return Fail
      j = d
    }
    if (at(s, j) == 'e' || at(s, j) == 'E') {
      j += 1
      if (at(s, j) == '+' || at(s, j) == '-') j += 1
      val d = digits(s, j)
      if (d == j) return Fail
      j = d
    }
    if (j - i > MaxNumber) Fail else j
  }

  /** Past any value starting at `i`, nested `depth` deep. */
  private def skip(s: UTF8String, i: Int, depth: Int): Int = at(s, i) match {
    case '"' => string(s, i)
    case '{' => container(s, i, depth + 1, '}')
    case '[' => container(s, i, depth + 1, ']')
    case 't' => literal(s, i, True)
    case 'f' => literal(s, i, False)
    case 'n' => literal(s, i, Null)
    case b if b == '-' || digit(b) => number(s, i)
    case _ => Fail
  }

  /** Past an object (`close` = '}') or array (']') starting at `i`. */
  private def container(s: UTF8String, i: Int, depth: Int, close: Char): Int =
    if (depth > MaxDepth) Fail
    else {
      var j = ws(s, i + 1)
      var end = if (at(s, j) == close) j + 1 else 0
      while (end == 0) {
        if (close == '}') { val k = string(s, j); j = if (k < 0) Fail else colon(s, k) }
        if (j >= 0) j = skip(s, j, depth)
        if (j < 0) end = Fail
        else {
          j = ws(s, j)
          val b = at(s, j)
          if (b == ',') j = ws(s, j + 1)
          else end = if (b == close) j + 1 else Fail
        }
      }
      end
    }

  /** Walks the `after` object starting at `i` into `values`; past it. */
  private def after(s: UTF8String, i: Int, columns: Array[UTF8String], values: Array[Any]): Int = {
    java.util.Arrays.fill(values.asInstanceOf[Array[AnyRef]], Unset)
    var j = ws(s, i + 1)
    var end = if (at(s, j) == '}') j + 1 else 0
    while (end == 0) {
      val k = plain(s, j)
      val v = if (k < 0) Fail else colon(s, k)
      if (v >= 0) {
        val c = unsetColumn(s, j + 1, k - 1, columns, values)
        j = if (c >= 0) wanted(s, v, values, c) else skip(s, v, 2)
      } else j = Fail
      if (j < 0) end = Fail
      else {
        j = ws(s, j)
        val b = at(s, j)
        if (b == ',') j = ws(s, j + 1)
        else end = if (b == '}') j + 1 else Fail
      }
    }
    var c = 0
    while (c < values.length) {
      if (values(c).asInstanceOf[AnyRef] eq Unset) values(c) = null
      c += 1
    }
    end
  }

  /** The index of the column named by the key bytes [from, until) if it has
    * no value yet, else -1.
    */
  private def unsetColumn(s: UTF8String, from: Int, until: Int,
                          columns: Array[UTF8String], values: Array[Any]): Int = {
    var c = 0
    while (c < columns.length && !equal(s, from, until, columns(c))) c += 1
    if (c < columns.length && (values(c).asInstanceOf[AnyRef] eq Unset)) c else -1
  }

  /** Reads the wanted value starting at `i` into `values(c)`; past it. */
  private def wanted(s: UTF8String, i: Int, values: Array[Any], c: Int): Int = at(s, i) match {
    case '"' =>
      val e = plain(s, i)
      if (e >= 0) values(c) = slice(s, i + 1, e - 1)
      e
    case 'n' =>
      val e = literal(s, i, Null)
      if (e >= 0) values(c) = null
      e
    case b if b == '-' || digit(b) =>
      val e = number(s, i)
      var j = i
      while (j < e && at(s, j) != '.' && at(s, j) != 'e' && at(s, j) != 'E') j += 1
      if (e < 0 || j < e) Fail
      else {
        values(c) = if (e - i == 2 && at(s, i) == '-' && at(s, i + 1) == '0') Zero else slice(s, i, e)
        e
      }
    case _ => Fail
  }

  /** A copy of the bytes [from, until). */
  private def slice(s: UTF8String, from: Int, until: Int): UTF8String = {
    val b = new Array[Byte](until - from)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset + from, b,
      Platform.BYTE_ARRAY_OFFSET, b.length)
    UTF8String.fromBytes(b)
  }
}
