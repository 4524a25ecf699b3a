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

/** One-pass fixed-width line writer: renders and pads every cell of a row
  * and writes them back to back into one pre-sized byte buffer.
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
  *      (`String.valueOf`), rendered into a per-cell scratch in the first
  *      pass and copied in. JDK 17's digits are not always the shortest
  *      (JDK-4511638, fixed in 19), so FloatText reproduces JDK 17's rule
  *      for normal values below 2^53 (2^24 for floats) and copies
  *      `String.valueOf` for every other value, and for every value on a
  *      runtime whose `String.valueOf` fails its witness check.
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
  *    split, FIXTURES.md §2). A run is one array copy out of the cell's pad
  *    repeated `length` times.
  *  - Buffer. A first pass counts every cell, so the row is one `byte[]`
  *    of its exact size; the composed chain builds a string per cast, per
  *    pad, per cell and per concat.
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

  @transient private lazy val spec: FormatFixedLine.Spec =
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
    /** Where each float cell's text goes in a row's scratch:
      * `FloatText.Room` bytes per float cell, in cell order.
      */
    val textAt: Array[Int] = kinds.scanLeft(0)((at, kind) =>
      if (kind == Float32 || kind == Float64) at + FloatText.Room else at).toArray
  }

  /** One row's cells: a null flag, an integer, boolean or float's bits in
    * `bits`, or a string's UTF8String in `texts`. `widths` is the kernel's
    * own scratch.
    */
  final class Cells(n: Int) {
    private[FormatFixedLine] val nulls = new Array[Boolean](n)
    private[FormatFixedLine] val bits = new Array[Long](n)
    private[FormatFixedLine] val texts = new Array[UTF8String](n)
    // per cell: bytes kept (low 32 bits), pad characters (high 32)
    private[FormatFixedLine] val widths = new Array[Long](n)

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
    * from every cell, a null one being empty.
    */
  def compute(cells: Cells, spec: Spec): UTF8String = {
    val n = spec.kinds.length
    val widths = cells.widths
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
      val left = spec.alignCodes(i) match {
        case 0 => 0
        case 1 => short
        case _ => short / 2
      }
      val run = spec.padRuns(i)
      val padWidth = spec.padWidths(i)
      System.arraycopy(run, 0, buf, pos, left * padWidth)
      pos += left * padWidth
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
      System.arraycopy(run, 0, buf, pos, (short - left) * padWidth)
      pos += (short - left) * padWidth
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
    * text at `pos`: the dropped trailing digits are divided off first.
    */
  private def writeDecimal(buf: Array[Byte], pos: Int, v: Long, chars: Int, kept: Int): Unit = {
    var q = if (v < 0) v else -v
    var drop = chars - kept
    while (drop > 0) { q /= 10; drop -= 1 }
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
