package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types._

/** One-pass fixed-width line parser: emits every column's typed cell in a
  * single forward walk over the line's UTF-8 bytes, as one struct whose
  * field `_i` is column i.
  *
  * Row-identical to the per-column composition `castStrict(trim(substring(
  * line, offset+1, length), pad-by-alignment), type)` (FlfParse.parseColumn),
  * by construction rather than by approximation:
  *  - Byte walk. The line is never decoded. A cursor counts code points
  *    with `UTF8String.numBytesForFirstByte`, the rule Spark's own
  *    `substring` and `trim(trimStr)` segment a string by, so invalid
  *    UTF-8 (lone continuation bytes, 0xFF, a lead followed by ASCII)
  *    splits into exactly the characters the composed path sees. The
  *    cursor steps 8 bytes at a time while a word has no high bit set.
  *    It only moves forward across a row, so the whole row costs one
  *    O(line length) walk regardless of column count; the composed form
  *    re-walks the line once per column, O(columns × line length). A
  *    column that starts before the previous one ended restarts the walk.
  *  - Trim. A character is a pad iff its bytes occur in the pad's UTF-8
  *    bytes (`trim(trimStr)` matches with `UTF8String.find`). An ASCII
  *    pad is compared 8 bytes, then one byte, at a time from either end;
  *    a high byte within three bytes before the trailing pad run may be a
  *    lead swallowing the run's first bytes (`E2 98 2A` is one
  *    character), so there the characters from the last certain boundary
  *    on are walked. For a non-ASCII pad the cell's characters are walked
  *    forward.
  *  - Clamping. Every cell lies inside the line's bytes: a column past
  *    the end is empty, and a line ending in a bare lead byte (`41 42 E2`)
  *    ends its last cell at the line's last byte. There `substring` reads
  *    past the string, so the composed path is no oracle for that case.
  *  - Types. The trimmed cell's bytes become its column's value in place:
  *    - Utf8: a `UTF8String.fromAddress` view into the line's memory, no
  *      decode, no copy.
  *    - Boolean: exactly the bytes `true` or `false`, else null (the
  *      reference's grammar, FlfParse.castStrict).
  *    - Int16/32/64: Spark's `try_cast`, which is
  *      `UTF8String.to{Short,Int,Long}Exact` with null for the exception.
  *      The exact forms differ from the wrapper forms `toShort/toInt/
  *      toLong` only on a `.` byte (the wrapper forms read `1.5` as 1),
  *      so a cell holding `.` is null and any other is the wrapper form
  *      on a view of the cell. No cell throws.
  *    - Float16/32, Float64: a plain decimal `[+-]d*[.d*][(e|E)[+-]d+]`
  *      with at most 7 (15) significant digits and a decimal exponent
  *      within ±10 (±22) is one float (double) multiply or divide of two
  *      exact operands, the fast path of the JDK's own `FloatingDecimal`.
  *      An IEEE operation rounds correctly, as the JDK parse does, so the
  *      value is the cast's. Any other cell takes the cast's own path:
  *      decode, `Float/Double` parse, then
  *      `Cast.processFloatingPointSpecialLiterals`.
  *  - Views. For a scan the line's memory is the reused row buffer, so
  *    Utf8 cells are valid for the current row only; Spark copies what it
  *    retains (UnsafeProjection, `InternalRow.copy`), as it already must
  *    for the line itself.
  *
  * A null line has a null struct, so every column reads null, as in the
  * composed path.
  *
  * Reference: the byte-cursor walk in
  * crates/evolution-builder/src/builder.rs:54-64, the rune counting in
  * crates/evolution-parser/src/trimmer.rs:55-85 and the per-dtype parsers
  * of crates/evolution-parser/src/datatype.rs:37-178, re-expressed as one
  * Catalyst expression whose cast semantics are Spark's own.
  *
  * alignCodes: `Alignment.code` — 0 = Left (rtrim), 1 = Right (ltrim),
  * 2 = Center (both). types: StringType, BooleanType, ShortType,
  * IntegerType, LongType, FloatType or DoubleType.
  */
case class SliceFixedLine(child: Expression, offsets: Seq[Int], lengths: Seq[Int],
                          alignCodes: Seq[Int], pads: Seq[Char], types: Seq[DataType])
    extends UnaryExpression {

  require(offsets.length == lengths.length && lengths.length == alignCodes.length &&
    alignCodes.length == pads.length && pads.length == types.length,
    "column spec arrays must align")

  @transient private lazy val spec: SliceFixedLine.Spec =
    SliceFixedLine.Spec(offsets.toArray, lengths.toArray, alignCodes.toArray, pads.toArray,
      types.map(SliceFixedLine.kindOf).toArray)

  /** Field `_i` is column i's cell. Every field is nullable, as the
    * composed path's columns are, though a Utf8 cell is null only for a
    * null line.
    */
  override def dataType: DataType =
    StructType(types.zipWithIndex.map { case (t, i) => StructField(s"_$i", t) })

  override def nullSafeEval(input: Any): Any =
    SliceFixedLine.compute(input.asInstanceOf[UTF8String], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("sliceSpec", spec,
      "graft.functions.SliceFixedLine.Spec")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SliceFixedLine$$.MODULE$$.compute($c, $specRef);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SliceFixedLine {

  // cell kinds, one per supported type
  private final val Utf8 = 0
  private final val Bool = 1
  private final val I16 = 2
  private final val I32 = 3
  private final val I64 = 4
  private final val F32 = 5
  private final val F64 = 6

  private def kindOf(t: DataType): Int = t match {
    case StringType  => Utf8
    case BooleanType => Bool
    case ShortType   => I16
    case IntegerType => I32
    case LongType    => I64
    case FloatType   => F32
    case DoubleType  => F64
    case other => throw new IllegalArgumentException(s"SliceFixedLine cannot type a cell as $other")
  }

  final case class Spec(offsets: Array[Int], lengths: Array[Int],
                        alignCodes: Array[Int], pads: Array[Char], kinds: Array[Int]) {
    /** Each pad as the composed path's trim literal encodes it. */
    val padBytes: Array[Array[Byte]] =
      pads.map(p => UTF8String.fromString(p.toString).getBytes)
  }

  /** One line's cells behind the InternalRow getters: a Utf8 cell's view in
    * `strs`, any other cell's value in `bits` (Boolean 0/1, integers
    * sign-extended, Float and Double as their IEEE bits).
    */
  final class Cells(kinds: Array[Int]) extends InternalRow {
    private[SliceFixedLine] val strs = new Array[UTF8String](kinds.length)
    private[SliceFixedLine] val bits = new Array[Long](kinds.length)
    private[SliceFixedLine] val nulls = new Array[Boolean](kinds.length)

    override def numFields: Int = kinds.length
    override def isNullAt(i: Int): Boolean = nulls(i)
    override def getBoolean(i: Int): Boolean = bits(i) != 0
    override def getShort(i: Int): Short = bits(i).toShort
    override def getInt(i: Int): Int = bits(i).toInt
    override def getLong(i: Int): Long = bits(i)
    override def getFloat(i: Int): Float = java.lang.Float.intBitsToFloat(bits(i).toInt)
    override def getDouble(i: Int): Double = java.lang.Double.longBitsToDouble(bits(i))
    override def getUTF8String(i: Int): UTF8String = strs(i)

    override def get(i: Int, dt: DataType): AnyRef =
      if (nulls(i)) null
      else kinds(i) match {
        case Utf8 => strs(i)
        case Bool => java.lang.Boolean.valueOf(getBoolean(i))
        case I16  => java.lang.Short.valueOf(getShort(i))
        case I32  => java.lang.Integer.valueOf(getInt(i))
        case I64  => java.lang.Long.valueOf(bits(i))
        case F32  => java.lang.Float.valueOf(getFloat(i))
        case _    => java.lang.Double.valueOf(getDouble(i))
      }

    override def copy(): InternalRow = new GenericInternalRow(Array.tabulate[Any](numFields) { i =>
      if (kinds(i) == Utf8) strs(i).copy() else get(i, null)
    })

    private def unsupported = throw new UnsupportedOperationException("SliceFixedLine.Cells")
    override def setNullAt(i: Int): Unit = unsupported
    override def update(i: Int, value: Any): Unit = unsupported
    override def getByte(i: Int): Byte = unsupported
    override def getDecimal(i: Int, precision: Int, scale: Int): Decimal = unsupported
    override def getBinary(i: Int): Array[Byte] = unsupported
    override def getGeography(i: Int): GeographyVal = unsupported
    override def getGeometry(i: Int): GeometryVal = unsupported
    override def getInterval(i: Int): CalendarInterval = unsupported
    override def getVariant(i: Int): VariantVal = unsupported
    override def getStruct(i: Int, numFields: Int): InternalRow = unsupported
    override def getArray(i: Int): ArrayData = unsupported
    override def getMap(i: Int): MapData = unsupported
  }

  private final val HighBits = 0x8080808080808080L

  /** The parsing kernel (also invoked from generated code). */
  def compute(input: UTF8String, spec: Spec): Cells = {
    val base = input.getBaseObject
    val off = input.getBaseOffset
    val nb = input.numBytes
    val n = spec.offsets.length
    val out = new Cells(spec.kinds)
    var curCp = 0  // code point the cursor stands on (or past the end)
    var curIdx = 0 // its byte index, ≤ nb
    var i = 0
    while (i < n) {
      val start = spec.offsets(i)
      if (start < curCp) { curCp = 0; curIdx = 0 } // non-monotone schema: restart
      var lo = skip(base, off, nb, curIdx, start - curCp)
      var hi = skip(base, off, nb, lo, spec.lengths(i))
      curCp = start + spec.lengths(i)
      curIdx = hi
      val pad = spec.padBytes(i)
      val align = spec.alignCodes(i)
      if (pad.length == 1) { // ASCII pad
        val p = pad(0)
        val p8 = (p & 0xFFL) * 0x0101010101010101L
        if (align != 0) {
          while (lo + 8 <= hi && Platform.getLong(base, off + lo) == p8) lo += 8
          while (lo < hi && Platform.getByte(base, off + lo) == p) lo += 1
        }
        if (align != 1) {
          var k = hi
          while (k - 8 >= lo && Platform.getLong(base, off + k - 8) == p8) k -= 8
          while (k > lo && Platform.getByte(base, off + k - 1) == p) k -= 1
          if (k < hi) hi = padRunStart(base, off, lo, k, hi)
        }
      } else {
        if (align != 0) lo = ltrimWalk(base, off, lo, hi, pad)
        if (align != 1) hi = rtrimWalk(base, off, lo, hi, pad)
      }
      typeCell(base, off, lo, hi, spec.kinds(i), out, i)
      i += 1
    }
    out
  }

  /** Cell `i` of `out` from the trimmed bytes `[lo, hi)`. */
  private def typeCell(base: AnyRef, off: Long, lo: Int, hi: Int, kind: Int,
                       out: Cells, i: Int): Unit = kind match {
    case Utf8 => out.strs(i) = UTF8String.fromAddress(base, off + lo, hi - lo)
    case Bool =>
      if (hasBytes(base, off, lo, hi, True)) out.bits(i) = 1L
      else out.nulls(i) = !hasBytes(base, off, lo, hi, False)
    case I16 | I32 | I64 =>
      var p = lo
      while (p < hi && Platform.getByte(base, off + p) != '.') p += 1
      if (p < hi) out.nulls(i) = true
      else {
        val cell = UTF8String.fromAddress(base, off + lo, hi - lo)
        if (kind == I64) {
          val w = new UTF8String.LongWrapper
          if (cell.toLong(w)) out.bits(i) = w.value else out.nulls(i) = true
        } else {
          val w = new UTF8String.IntWrapper
          if (if (kind == I32) cell.toInt(w) else cell.toShort(w)) out.bits(i) = w.value
          else out.nulls(i) = true
        }
      }
    case F32 =>
      val v = fastDecimal(base, off, lo, hi, 7, 10, single = true)
      if (v == v) out.bits(i) = java.lang.Float.floatToRawIntBits(v.toFloat)
      else slowFloat(UTF8String.fromAddress(base, off + lo, hi - lo), single = true) match {
        case f: java.lang.Float => out.bits(i) = java.lang.Float.floatToRawIntBits(f)
        case _ => out.nulls(i) = true
      }
    case _ =>
      val v = fastDecimal(base, off, lo, hi, 15, 22, single = false)
      if (v == v) out.bits(i) = java.lang.Double.doubleToRawLongBits(v)
      else slowFloat(UTF8String.fromAddress(base, off + lo, hi - lo), single = false) match {
        case d: java.lang.Double => out.bits(i) = java.lang.Double.doubleToRawLongBits(d)
        case _ => out.nulls(i) = true
      }
  }

  private val True = "true".getBytes("UTF-8")
  private val False = "false".getBytes("UTF-8")

  /** Whether `[lo, hi)` holds exactly `bytes`. */
  private def hasBytes(base: AnyRef, off: Long, lo: Int, hi: Int, bytes: Array[Byte]): Boolean =
    hi - lo == bytes.length && {
      var k = 0
      while (k < bytes.length && Platform.getByte(base, off + lo + k) == bytes(k)) k += 1
      k == bytes.length
    }

  private val DoublePow10 = Array.tabulate(23)(e => s"1e$e".toDouble) // exact to 1e22
  private val FloatPow10 = Array.tabulate(11)(e => s"1e$e".toFloat)   // exact to 1e10

  /** `[lo, hi)` as a plain decimal `[+-]d*[.d*][(e|E)[+-]d+]` (a digit
    * before the exponent) with at most `maxDigits` significant digits and
    * a decimal exponent within ±`maxExp`: m × 10^e in one float (`single`)
    * or double operation on the exact m and 10^|e|. NaN when the cell is
    * not such a decimal; the fast path never yields NaN itself.
    */
  private def fastDecimal(base: AnyRef, off: Long, lo: Int, hi: Int, maxDigits: Int,
                          maxExp: Int, single: Boolean): Double = {
    def at(p: Int): Byte = Platform.getByte(base, off + p)
    var p = lo
    val negative = p < hi && at(p) == '-'
    if (p < hi && (negative || at(p) == '+')) p += 1
    var m = 0L
    var digits = 0 // all mantissa digits
    var sig = 0    // from the first non-zero one
    var frac = 0   // after the point
    var point = false
    var more = true
    while (more && p < hi) {
      val b = at(p)
      if (b >= '0' && b <= '9') {
        digits += 1
        if (point) frac += 1
        if (m != 0 || b != '0') {
          sig += 1
          if (sig > maxDigits) return Double.NaN
          m = m * 10 + (b - '0')
        }
        p += 1
      } else if (b == '.' && !point) { point = true; p += 1 }
      else more = false
    }
    if (digits == 0) return Double.NaN
    var exp = 0
    if (p < hi) {
      if (at(p) != 'e' && at(p) != 'E') return Double.NaN
      p += 1
      val negExp = p < hi && at(p) == '-'
      if (p < hi && (negExp || at(p) == '+')) p += 1
      if (p == hi) return Double.NaN
      while (p < hi) {
        val b = at(p)
        if (b < '0' || b > '9' || exp > 1000) return Double.NaN
        exp = exp * 10 + (b - '0')
        p += 1
      }
      if (negExp) exp = -exp
    }
    val e = if (m == 0) 0 else exp - frac
    if (e < -maxExp || e > maxExp) return Double.NaN
    val v =
      if (single) {
        val f = m.toFloat
        (if (e >= 0) f * FloatPow10(e) else f / FloatPow10(-e)).toDouble
      } else {
        val d = m.toDouble
        if (e >= 0) d * DoublePow10(e) else d / DoublePow10(-e)
      }
    if (negative) -v else v
  }

  /** The cast's own string → float/double path (boxed, or null). */
  private def slowFloat(cell: UTF8String, single: Boolean): Any = {
    val s = cell.toString
    try { if (single) s.toFloat else s.toDouble }
    catch {
      case _: NumberFormatException => Cast.processFloatingPointSpecialLiterals(s, single)
    }
  }

  /** Byte index `count` code points after `from`, clamped to `nb`. */
  private def skip(base: AnyRef, off: Long, nb: Int, from: Int, count: Int): Int =
    walk(base, off, nb, from, count).toInt

  /** Walks up to `count` code points forward from byte `from` of `[0, nb)`,
    * 8 bytes at a time while a word has no high bit set. Returns the byte
    * index reached, clamped to `nb`, in the low 32 bits, and the code
    * points left unwalked because the bytes ran out in the high 32 bits.
    * FormatFixedLine counts its cells with the same walk.
    */
  private[functions] def walk(base: AnyRef, off: Long, nb: Int, from: Int, count: Int): Long = {
    var idx = from
    var left = count
    while (left > 0 && idx < nb) {
      if (left >= 8 && idx + 8 <= nb && (Platform.getLong(base, off + idx) & HighBits) == 0) {
        idx += 8; left -= 8
      } else {
        idx += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + idx)); left -= 1
      }
    }
    (left.toLong << 32) | math.min(idx, nb)
  }

  /** Where the trailing pad characters of `[lo, hi)` start, given that
    * `[k, hi)` is a run of its ASCII pad byte: the first character boundary
    * at or after `k`, as a lead byte before `k` may swallow the run's first
    * bytes (`E2 98 2A` is one character). A byte with three ASCII bytes, or
    * only ASCII bytes back to `lo`, before it starts a character, since
    * none is longer than four bytes; the characters are walked from the
    * nearest such byte at or before `k`.
    */
  private def padRunStart(base: AnyRef, off: Long, lo: Int, k: Int, hi: Int): Int = {
    var q = k
    var ascii = 0 // ASCII bytes directly before q
    var j = k
    while (j > lo && ascii < 3) {
      j -= 1
      if (Platform.getByte(base, off + j) >= 0) ascii += 1 else { ascii = 0; q = j }
    }
    while (q < k) q = charEnd(base, off, q, hi)
    q
  }

  /** End of the character at `p`, clamped to `hi`. */
  private def charEnd(base: AnyRef, off: Long, p: Int, hi: Int): Int =
    math.min(p + UTF8String.numBytesForFirstByte(Platform.getByte(base, off + p)), hi)

  /** First byte after the leading pad characters of `[lo, hi)`. */
  private def ltrimWalk(base: AnyRef, off: Long, lo: Int, hi: Int, pad: Array[Byte]): Int = {
    var p = lo
    var done = false
    while (!done && p < hi) {
      val q = charEnd(base, off, p, hi)
      if (isPad(base, off, p, q, pad)) p = q else done = true
    }
    p
  }

  /** End of the last non-pad character of `[lo, hi)`, or `lo`. */
  private def rtrimWalk(base: AnyRef, off: Long, lo: Int, hi: Int, pad: Array[Byte]): Int = {
    var p = lo
    var keep = lo
    while (p < hi) {
      val q = charEnd(base, off, p, hi)
      if (!isPad(base, off, p, q, pad)) keep = q
      p = q
    }
    keep
  }

  /** Whether bytes `[p, q)` occur contiguously in `pad`. */
  private def isPad(base: AnyRef, off: Long, p: Int, q: Int, pad: Array[Byte]): Boolean = {
    val len = q - p
    var s = 0
    while (s + len <= pad.length) {
      var k = 0
      while (k < len && Platform.getByte(base, off + p + k) == pad(s + k)) k += 1
      if (k == len) return true
      s += 1
    }
    false
  }

  def apply(line: Column, offsets: Seq[Int], lengths: Seq[Int],
            alignCodes: Seq[Int], pads: Seq[Char], types: Seq[DataType]): Column =
    GraftBridge.column(SliceFixedLine(GraftBridge.expression(line),
      offsets, lengths, alignCodes, pads, types))
}
