package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused fixed-width line writer: renders and pads every cell of a row
  * and writes them back to back into one byte buffer of the row's size.
  *
  * Byte-identical to the per-column composition `concat` of
  * `lpad`/`rpad`/`rpad(concat(repeat(pad, ⌊deficit/2⌋), s))` over
  * `s = coalesce(value.cast("string"), "")` (the test oracle,
  * `ComposedFormat` in FlfSpec), by construction rather than by
  * approximation:
  *  - Children. Each child is its column's typed value, rendered as the
  *    exact text of Spark's string cast without building that string:
  *    - String: its own bytes.
  *    - Byte, Short, Int, Long: decimal digits, a `-` first when negative
  *      (`String.valueOf`), written straight into the line; the count of
  *      characters is known before one is written.
  *    - Boolean: `true` or `false`.
  *    - Float, Double: `FloatText`, the text the cast produces
  *      (`String.valueOf`), rendered into a scratch and copied in. JDK
  *      17's digits are not always the shortest (JDK-4511638, fixed in
  *      19), so FloatText reproduces JDK 17's rule for normal values below
  *      2^53 (2^24 for floats) and copies `String.valueOf` for every other
  *      value, and for every value on a runtime whose `String.valueOf`
  *      fails its witness check.
  *    Any other type reaches the kernel as its `cast("string")`
  *    (FlfFormat.format). A null child renders as an all-pad cell.
  *  - Count. A cell keeps at most `length` code points of its text, the
  *    first ones, as `lpad`/`rpad` truncate. A string is counted with
  *    `UTF8String.numBytesForFirstByte`, the rule `lpad`, `rpad`, `length`
  *    and `substring` count a string by, so invalid UTF-8 keeps exactly the
  *    bytes the composed chain keeps. The walk steps 8 bytes at a time
  *    while a word has no high bit set (`SliceFixedLine.walk`). Every
  *    other text is ASCII: one byte per code point.
  *  - Clamping. The kept bytes lie inside the value's bytes: a value whose
  *    last lead byte promises bytes past its end (`41 E2` in a 2-wide cell)
  *    keeps only its own bytes. There `substring` reads past the string, so
  *    the composed chain is no oracle for that case.
  *  - Pad. The code points a cell is short of `length` are pad characters,
  *    each written as the pad's UTF-8 bytes: all on the left for Right
  *    (`lpad`), all on the right for Left (`rpad`), and for Center floor
  *    half on the left, ceil half on the right (the reference padder's
  *    split, FIXTURES.md §2).
  *  - Layouts. The composed chain builds a string per cast, per pad, per
  *    cell and per concat; the kernel writes one `byte[]` per row, in one
  *    of two layouts, picked per row:
  *    - In place, when every pad of the spec is one byte (every
  *      `FixedSchema` pad is, `PadSymbol.table`) and every string cell's
  *      kept bytes, the first `min(numBytes, length)`, are ASCII, so kept
  *      code points are kept bytes: the row starts as a copy of the
  *      all-pad line (`Spec.padLine`) and each non-null cell's kept text
  *      is written once at its slot plus its left pad; a null cell stays
  *      all pad. Float text goes through one `FloatText.Room` scratch per
  *      row. The string cells are checked before any cell is rendered.
  *    - Two passes, for any pad and text: the first counts every cell
  *      (`walk` for strings), so the row is one `byte[]` of its exact
  *      size; the second writes each cell's left pad run, kept text and
  *      right pad run, a run being one array copy out of the cell's pad
  *      repeated `length` times.
  *
  * Reference: the mocker's pad-and-serialize step and the fixed-length
  * writer (crates/evolution-mocker/src/mocker.rs:146-152,
  * crates/evolution-writer/src/writer.rs:35-272), which write typed values
  * into one buffer, re-expressed as one Catalyst expression whose text is
  * Spark's own string cast.
  *
  * alignCodes: `Alignment.code` — 0 = Left (pad right), 1 = Right (pad
  * left), 2 = Center (both).
  */
case class FormatFixedLine(children: Seq[Expression], lengths: Seq[Int],
                           alignCodes: Seq[Int], pads: Seq[Char])
    extends Expression {

  require(children.length == lengths.length && lengths.length == alignCodes.length &&
    alignCodes.length == pads.length, "column spec arrays must align")

  override def nullable: Boolean = false

  override def dataType: DataType = StringType

  @transient private[graft] lazy val spec: FormatFixedLine.Spec =
    FormatFixedLine.Spec(lengths.toArray, alignCodes.toArray, pads.toArray,
      children.map { c =>
        val kind = FormatFixedLine.kindOf(c.dataType)
        require(kind >= 0, s"FormatFixedLine cannot render ${c.dataType}; cast it to string first")
        kind
      }.toArray)

  override def eval(input: InternalRow): Any = {
    val cells = new FormatFixedLine.Cells(children.length)
    children.zipWithIndex.foreach { case (c, i) => cells.put(i, c.eval(input)) }
    FormatFixedLine.compute(cells, spec)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("formatSpec", spec,
      "graft.functions.FormatFixedLine.Spec")
    val cellsClass = "graft.functions.FormatFixedLine.Cells"
    val cells = ctx.freshName("cells")
    val assigns = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      val set = spec.kinds(i) match {
        case FormatFixedLine.Utf8 => s"$cells.setText($i, ${e.value});"
        case FormatFixedLine.Float32 => s"$cells.setBits($i, Float.floatToRawIntBits(${e.value}));"
        case FormatFixedLine.Float64 => s"$cells.setBits($i, Double.doubleToRawLongBits(${e.value}));"
        case FormatFixedLine.Bool => s"$cells.setBits($i, ${e.value} ? 1L : 0L);"
        case _ => s"$cells.setBits($i, (long) ${e.value});"
      }
      s"""${e.code}
         |if (${e.isNull}) $cells.setNull($i); else $set""".stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(assigns, "formatFixedLineCells",
      extraArguments = (cellsClass, cells) :: Nil)
    ev.copy(code = code"""
      $cellsClass $cells = new $cellsClass(${children.length});
      $body
      UTF8String ${ev.value} =
        graft.functions.FormatFixedLine$$.MODULE$$.compute($cells, $specRef);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object FormatFixedLine {

  // cell kinds, by how a value's text is held
  private final val Utf8 = 0    // a UTF8String, any bytes
  private final val Float32 = 1 // a float's bits in `bits`
  private final val Float64 = 2 // a double's bits in `bits`
  private final val Bool = 3    // 0/1 in `bits`
  private final val Digits = 4  // an integer in `bits`

  /** Whether the kernel renders a value of type `t` itself; a column of any
    * other type must reach it as its `cast("string")`.
    */
  def renders(t: DataType): Boolean = kindOf(t) >= 0

  /** The cell kind of a value of type `t`, or -1 for a type not rendered. */
  private def kindOf(t: DataType): Int = t match {
    case StringType => Utf8
    case FloatType => Float32
    case DoubleType => Float64
    case BooleanType => Bool
    case ByteType | ShortType | IntegerType | LongType => Digits
    case _ => -1
  }

  final case class Spec(lengths: Array[Int], alignCodes: Array[Int], pads: Array[Char],
                        kinds: Array[Int]) {
    /** Each pad's width in bytes, as the composed chain's pad literal
      * encodes it.
      */
    val padWidths: Array[Int] = pads.map(p => UTF8String.fromString(p.toString).numBytes)
    /** Each cell's pad `length` times over: k pads are its first
      * k × pad-width bytes, so any run is one array copy.
      */
    val padRuns: Array[Array[Byte]] = pads.indices.map(i =>
      UTF8String.fromString(pads(i).toString * lengths(i)).getBytes).toArray
    /** Where each float cell's text goes in a two-pass row's scratch:
      * `FloatText.Room` bytes per float cell, in cell order.
      */
    val textAt: Array[Int] = kinds.scanLeft(0)((at, kind) =>
      if (kind == Float32 || kind == Float64) at + FloatText.Room else at).toArray
    /** The row with every cell all pad, the pad runs back to back, when
      * every pad is one byte; null when one is wider, and then every row
      * takes the two-pass layout.
      */
    val padLine: Array[Byte] = if (padWidths.forall(_ == 1)) padRuns.flatten else null
    /** Where each cell starts in `padLine`. */
    val slots: Array[Int] = lengths.scanLeft(0)(_ + _)
  }

  /** One row's cells: a null flag, an integer, boolean or float's bits in
    * `bits`, or a string's UTF8String in `texts`.
    */
  final class Cells(n: Int) {
    private[FormatFixedLine] val nulls = new Array[Boolean](n)
    private[FormatFixedLine] val bits = new Array[Long](n)
    private[FormatFixedLine] val texts = new Array[UTF8String](n)

    def setNull(i: Int): Unit = nulls(i) = true
    def setBits(i: Int, v: Long): Unit = { nulls(i) = false; bits(i) = v }
    def setText(i: Int, v: UTF8String): Unit = { nulls(i) = false; texts(i) = v }

    /** Cell `i` from its evaluated (boxed) value. */
    def put(i: Int, v: Any): Unit = v match {
      case null => setNull(i)
      case s: UTF8String => setText(i, s)
      case b: Boolean => setBits(i, if (b) 1L else 0L)
      case f: Float => setBits(i, java.lang.Float.floatToRawIntBits(f))
      case d: Double => setBits(i, java.lang.Double.doubleToRawLongBits(d))
      case n: Number => setBits(i, n.longValue)
    }
  }

  private val True = "true".getBytes("UTF-8")
  private val False = "false".getBytes("UTF-8")

  /** The formatting kernel (also invoked from generated code): one line
    * from every cell, a null one being empty. A row is written in place
    * over a copy of the all-pad line when it can be, else in two passes.
    */
  def compute(cells: Cells, spec: Spec): UTF8String =
    if (fitsInPlace(cells, spec)) inPlace(cells, spec) else twoPass(cells, spec)

  /** Whether the row can be written in place: every pad is one byte and
    * every string cell's kept bytes, the first `min(numBytes, length)`, are
    * ASCII, so its kept code points are its kept bytes. Checked before any
    * cell is rendered, so a row that cannot wastes no rendering.
    */
  private[graft] def fitsInPlace(cells: Cells, spec: Spec): Boolean = {
    if (spec.padLine == null) return false
    var i = 0
    while (i < spec.kinds.length) {
      if (spec.kinds(i) == Utf8 && !cells.nulls(i)) {
        val v = cells.texts(i)
        if (!ascii(v.getBaseObject, v.getBaseOffset, math.min(v.numBytes, spec.lengths(i))))
          return false
      }
      i += 1
    }
    true
  }

  /** A row that `fitsInPlace`, written over a copy of `spec.padLine`: each
    * non-null cell's kept text at its slot plus its left pad, null cells
    * left all pad.
    */
  private def inPlace(cells: Cells, spec: Spec): UTF8String = {
    val buf = spec.padLine.clone()
    val n = spec.kinds.length
    val text = if (spec.textAt(n) > 0) new Array[Byte](FloatText.Room) else null
    var i = 0
    while (i < n) {
      if (!cells.nulls(i)) {
        val len = spec.lengths(i)
        val at = spec.slots(i)
        val align = spec.alignCodes(i)
        spec.kinds(i) match {
          case Utf8 =>
            val v = cells.texts(i)
            val kept = math.min(v.numBytes, len)
            Platform.copyMemory(v.getBaseObject, v.getBaseOffset, buf,
              Platform.BYTE_ARRAY_OFFSET + at + left(align, len - kept), kept)
          case Float32 => place(text, FloatText.write(
            java.lang.Float.intBitsToFloat(cells.bits(i).toInt), text, 0), buf, at, len, align)
          case Float64 => place(text, FloatText.write(
            java.lang.Double.longBitsToDouble(cells.bits(i)), text, 0), buf, at, len, align)
          case Bool =>
            val t = if (cells.bits(i) != 0) True else False
            place(t, t.length, buf, at, len, align)
          case _ =>
            val v = cells.bits(i)
            val chars = decimalChars(v)
            val kept = math.min(chars, len)
            writeDecimal(buf, at + left(align, len - kept), v, chars, kept)
        }
      }
      i += 1
    }
    UTF8String.fromBytes(buf)
  }

  /** Copies the first `min(chars, len)` bytes of `src` into the cell at
    * `at`, after its left pad.
    */
  private def place(src: Array[Byte], chars: Int, buf: Array[Byte], at: Int, len: Int,
                    align: Int): Unit = {
    val kept = math.min(chars, len)
    System.arraycopy(src, 0, buf, at + left(align, len - kept), kept)
  }

  /** Whether the `count` bytes at `off` are all ASCII: 8 at a time, then
    * the rest one by one.
    */
  private def ascii(base: AnyRef, off: Long, count: Int): Boolean = {
    var high = 0L
    var i = 0
    while (i + 8 <= count) { high |= Platform.getLong(base, off + i); i += 8 }
    while (i < count) { high |= Platform.getByte(base, off + i); i += 1 }
    (high & SliceFixedLine.HighBits) == 0
  }

  /** Pad characters left of a cell `short` characters short of its length. */
  private def left(align: Int, short: Int): Int = align match {
    case 0 => 0
    case 1 => short
    case _ => short / 2
  }

  /** The row in two passes, for any pads and text: the first counts every
    * cell, so the row is one `byte[]` of its exact size, the second writes
    * each cell's pad runs and kept text.
    */
  private[graft] def twoPass(cells: Cells, spec: Spec): UTF8String = {
    val n = spec.kinds.length
    // per cell: bytes kept (low 32 bits), pad characters (high 32)
    val widths = new Array[Long](n)
    val textBytes = spec.textAt(n)
    val text = if (textBytes > 0) new Array[Byte](textBytes) else null
    var size = 0L
    var i = 0
    while (i < n) {
      val len = spec.lengths(i)
      val w =
        if (cells.nulls(i)) len.toLong << 32
        else spec.kinds(i) match {
          case Utf8 =>
            val v = cells.texts(i)
            SliceFixedLine.walk(v.getBaseObject, v.getBaseOffset, v.numBytes, 0, len)
          case Float32 => fit(FloatText.write(java.lang.Float.intBitsToFloat(cells.bits(i).toInt),
            text, spec.textAt(i)), len)
          case Float64 => fit(FloatText.write(java.lang.Double.longBitsToDouble(cells.bits(i)),
            text, spec.textAt(i)), len)
          case Bool => fit(if (cells.bits(i) != 0) True.length else False.length, len)
          case _ => fit(decimalChars(cells.bits(i)), len)
        }
      widths(i) = w
      size += w.toInt + (w >>> 32) * spec.padWidths(i)
      i += 1
    }
    val buf = new Array[Byte](Math.toIntExact(size))
    var pos = 0
    i = 0
    while (i < n) {
      val kept = widths(i).toInt
      val short = (widths(i) >>> 32).toInt
      val lead = left(spec.alignCodes(i), short)
      val run = spec.padRuns(i)
      val padWidth = spec.padWidths(i)
      System.arraycopy(run, 0, buf, pos, lead * padWidth)
      pos += lead * padWidth
      if (kept > 0) spec.kinds(i) match {
        case Utf8 =>
          val v = cells.texts(i)
          Platform.copyMemory(v.getBaseObject, v.getBaseOffset, buf,
            Platform.BYTE_ARRAY_OFFSET + pos, kept)
        case Float32 | Float64 => System.arraycopy(text, spec.textAt(i), buf, pos, kept)
        case Bool =>
          System.arraycopy(if (cells.bits(i) != 0) True else False, 0, buf, pos, kept)
        case _ =>
          val v = cells.bits(i)
          writeDecimal(buf, pos, v, decimalChars(v), kept)
      }
      pos += kept
      System.arraycopy(run, 0, buf, pos, (short - lead) * padWidth)
      pos += (short - lead) * padWidth
      i += 1
    }
    UTF8String.fromBytes(buf)
  }

  /** A text of `chars` one-byte code points in a `len`-wide cell. */
  private def fit(chars: Int, len: Int): Long = {
    val kept = math.min(chars, len)
    ((len - kept).toLong << 32) | kept
  }

  /** Characters of `v`'s decimal text (`String.valueOf`), sign included. */
  private[functions] def decimalChars(v: Long): Int =
    if (v == Long.MinValue) 20
    else {
      val x = math.abs(v)
      // ⌊log10(x)⌋ or one less, from the bit length (1233 / 4096 ≈ log10 2)
      val t = ((64 - java.lang.Long.numberOfLeadingZeros(x)) * 1233) >>> 12
      val digits = math.max(1, if (x >= Pow10(t)) t + 1 else t)
      if (v < 0) digits + 1 else digits
    }

  private[functions] val Pow10 = Array.iterate(1L, 19)(_ * 10) // 10^0 to 10^18

  /** Writes the first `kept` of the `chars` characters of `v`'s decimal
    * text at `pos`: the dropped trailing digits are divided off first, in
    * one division. 19 are dropped only from `Long.MinValue` in a 1-wide
    * cell, which keeps its sign alone.
    */
  private def writeDecimal(buf: Array[Byte], pos: Int, v: Long, chars: Int, kept: Int): Unit = {
    val drop = chars - kept
    val negated = if (v < 0) v else -v
    var q = if (drop == 0) negated else if (drop < Pow10.length) negated / Pow10(drop) else 0L
    val first = if (v < 0) { buf(pos) = '-'; pos + 1 } else pos
    var p = pos + kept
    while (p - 2 >= first) { // two digits a step
      val q100 = q / 100
      val r = ((q100 * 100 - q) << 1).toInt
      q = q100
      p -= 2
      buf(p) = DigitPairs(r)
      buf(p + 1) = DigitPairs(r + 1)
    }
    if (p > first) buf(first) = ('0' - q).toByte
  }

  // "00" to "99", back to back
  private[functions] val DigitPairs: Array[Byte] = (0 until 100).flatMap(k => f"$k%02d".getBytes).toArray

  def apply(values: Seq[Column], lengths: Seq[Int], alignCodes: Seq[Int],
            pads: Seq[Char]): Column =
    GraftBridge.column(FormatFixedLine(values.map(GraftBridge.expression),
      lengths, alignCodes, pads))
}
