package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions.{coalesce, get_json_object}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the integer value of `key` in a JSON string,
  * read with one pass over the bytes and no parser, for the strings where
  * that answer is certain. It returns null ("undecided") for every other
  * string; [[JsonFunctions.flatJsonIntegral]] pairs it with Spark's own
  * `get_json_object(..).cast(..)` for those, so the pair is exact by
  * construction.
  *
  * The expression decides only a flat object in this strict grammar:
  *  - `ws* { member (, member)* } ws*` and nothing after the object, with
  *    whitespace only space, `\t`, `\n` and `\r` (also around `:` and `,`);
  *  - a member is `"name" : value`, the name `[A-Za-z0-9_]+` without
  *    escapes;
  *  - a value is a plain integer `-?(0|[1-9][0-9]*)` that fits a BIGINT, or
  *    a string without `\`, control bytes or bytes ≥ 0x80;
  *  - `key` occurs exactly once, its value an integer that fits `dataType`.
  *
  * Every such string is valid JSON to the Jackson parser behind
  * `get_json_object` (which enables only single quotes and unescaped
  * control characters beyond the standard), within its read limits (no
  * long numbers, names or documents), and that parser returns the one
  * `key` member's integer, which the cast reads back unchanged. Anything
  * else — nesting, floats, exponents, leading zeros, duplicate keys,
  * escapes, non-ASCII, malformed tails, out-of-range values, quoted
  * numbers — is left to the fallback, including its ANSI cast errors.
  *
  * Why: `get_json_object` runs a Jackson parser and generator per row, the
  * largest single cost of the flight queries' filter; this scan is a few
  * byte compares per character and stays inside whole-stage codegen.
  */
case class FlatJsonIntegral(child: Expression, key: String, dataType: DataType)
    extends UnaryExpression {
  require(dataType == IntegerType || dataType == LongType,
    s"flat_json_integral returns INT or BIGINT, not ${dataType.simpleString}")
  require(key.matches("[A-Za-z0-9_]+"), s"flat_json_integral key must be [A-Za-z0-9_]+: $key")
  @transient private lazy val keyBytes: Array[Byte] = key.getBytes("US-ASCII")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"flat_json_integral requires a STRING argument, got ${child.dataType.simpleString}")
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "flat_json_integral"

  override def nullSafeEval(v: Any): Any = {
    val r = JsonFunctions.scanIntegral(
      v.asInstanceOf[UTF8String], keyBytes, dataType == IntegerType)
    if (r == JsonFunctions.Undecided) null
    else if (dataType == IntegerType) r.toInt
    else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("key", keyBytes, "byte[]")
    val toInt = dataType == IntegerType
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |long $r = graft.functions.JsonFunctions.scanIntegral($c, $keyRef, $toInt);
         |if ($r == java.lang.Long.MIN_VALUE) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${if (toInt) s"(int) $r" else r};
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonFunctions {
  /** The scan's "undecided" result. BIGINT's minimum is a valid value, but
    * it is left to the fallback rather than given its own flag. */
  final val Undecided = Long.MinValue

  /** `key`'s integer as an INT or BIGINT column, exactly as
    * `get_json_object(json, "$.key").cast(t)` computes it: the byte scan of
    * [[FlatJsonIntegral]] first, the Jackson path for whatever it leaves
    * undecided. Registers nothing: usable without `GraftExtensions`.
    */
  def flatJsonIntegral(json: Column, key: String, t: DataType): Column =
    coalesce(
      GraftColumnBridge.column(FlatJsonIntegral(GraftColumnBridge.expression(json), key, t)),
      get_json_object(json, "$." + key).cast(t))

  private def isWs(b: Byte): Boolean = b == ' ' || b == '\t' || b == '\n' || b == '\r'
  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  private def isNameByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || isDigit(b) || b == '_'

  /** Jackson's read limits (1000 digits per number, 50,000 chars per
    * name, 20M chars per string) are out of reach of a document this size
    * whose integers fit a BIGINT; larger documents go to the fallback. */
  private final val MaxBytes = 32 * 1024

  /** The [[FlatJsonIntegral]] scan: `key`'s value, or [[Undecided]].
    * Called from generated code. */
  def scanIntegral(s: UTF8String, key: Array[Byte], toInt: Boolean): Long = {
    val n = s.numBytes
    if (n > MaxBytes) return Undecided
    var i = 0
    while (i < n && isWs(s.getByte(i))) i += 1
    if (i >= n || s.getByte(i) != '{') return Undecided
    i += 1
    var found = false
    var value = 0L
    var more = true
    while (more) {
      while (i < n && isWs(s.getByte(i))) i += 1
      if (i >= n || s.getByte(i) != '"') return Undecided
      i += 1
      val nameStart = i
      while (i < n && isNameByte(s.getByte(i))) i += 1
      if (i == nameStart || i >= n || s.getByte(i) != '"') return Undecided
      var isKey = i - nameStart == key.length
      var j = 0
      while (isKey && j < key.length) {
        isKey = s.getByte(nameStart + j) == key(j)
        j += 1
      }
      i += 1
      while (i < n && isWs(s.getByte(i))) i += 1
      if (i >= n || s.getByte(i) != ':') return Undecided
      i += 1
      while (i < n && isWs(s.getByte(i))) i += 1
      if (i >= n) return Undecided
      val c = s.getByte(i)
      if (c == '"') {
        if (isKey) return Undecided
        i += 1
        // Bytes are signed: `b < 0x20` also rejects every byte ≥ 0x80.
        while (i < n && { val b = s.getByte(i); b != '"' && b != '\\' && b >= 0x20 && b != 0x7f }) i += 1
        if (i >= n || s.getByte(i) != '"') return Undecided
        i += 1
      } else {
        // -?(0|[1-9][0-9]*), accumulated negatively so BIGINT's minimum fits.
        val neg = c == '-'
        if (neg) i += 1
        if (i >= n || !isDigit(s.getByte(i))) return Undecided
        var acc = 0L
        if (s.getByte(i) == '0') i += 1
        else while (i < n && isDigit(s.getByte(i))) {
          val d = s.getByte(i) - '0'
          if (acc < (Long.MinValue + d) / 10) return Undecided
          acc = acc * 10 - d
          i += 1
        }
        if (!neg && acc == Long.MinValue) return Undecided
        if (isKey) {
          if (found) return Undecided
          found = true
          value = if (neg) acc else -acc
        }
      }
      while (i < n && isWs(s.getByte(i))) i += 1
      if (i >= n) return Undecided
      val sep = s.getByte(i)
      i += 1
      if (sep == '}') more = false
      else if (sep != ',') return Undecided
    }
    while (i < n && isWs(s.getByte(i))) i += 1
    if (i != n || !found) Undecided
    else if (toInt && (value < Int.MinValue || value > Int.MaxValue)) Undecided
    else value
  }
}
