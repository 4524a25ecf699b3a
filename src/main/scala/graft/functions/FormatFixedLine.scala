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
  *  - Layout. The composed chain builds a string per cast, per pad, per
  *    cell and per concat; the kernel writes one `byte[]` per row, over
  *    the all-pad line (`Spec.padLine`, each pad's UTF-8 bytes `length`
  *    times, back to back, each cell at its byte `slot`). A cell grows the
  *    row by its kept bytes less its kept characters' pad bytes; only a
  *    string cell or a cell whose pad is wider than one byte can. A first
  *    pass sums the growth (`walk` for strings), so the row is one
  *    `byte[]` of its exact size, a copy of the pad line clipped or
  *    extended to it. The second writes each non-null cell's kept text at
  *    its slot plus the shift so far plus its left pad; a null cell stays
  *    all pad. A cell that grows or shrinks copies the pad line's tail
  *    after its kept text again, shifted by its growth and clipped to the
  *    row, and adds its growth to the shift.
  *    - Clipping is safe because a cell shrinks by at most its own pad
  *      bytes (a kept character is at least one byte): a copy overshoots
  *      the row's end by no more than the cells after it will shrink, so a
  *      clipped copy drops only bytes that a later cell's tail copy writes
  *      again.
  *    - With one-byte pads (every `FixedSchema` pad is one, `PadSymbol.table`)
  *      no cell shrinks, so a row that does not grow shifts no cell: its
  *      strings keep their first `min(numBytes, length)` bytes and are not
  *      walked again. A float is rendered in the first pass only when its
  *      pad is wider than one byte, through the row's one `FloatText.Room`
  *      scratch.
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
    /** The row with every cell all pad: each pad's bytes `length` times,
      * back to back.
      */
    val padLine: Array[Byte] = pads.indices.flatMap(i =>
      UTF8String.fromString(pads(i).toString * lengths(i)).getBytes).toArray
    /** Where each cell starts in `padLine`, in bytes. */
    val slots: Array[Int] = lengths.indices.scanLeft(0)((at, i) => at + lengths(i) * padWidths(i)).toArray
    /** Whether every pad is one byte, so that no cell shrinks. */
    val bytePads: Boolean = padWidths.forall(_ == 1)
    /** Whether a row has float cells, rendered through one scratch. */
    val floats: Boolean = kinds.exists(k => k == Float32 || k == Float64)
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
    * from every cell, a null one being empty. A first pass sums the row's
    * growth over the all-pad line; the second writes each cell over a copy
    * of that line, shifted by the growth of the cells before it.
    */
  def compute(cells: Cells, spec: Spec): UTF8String = {
    val n = spec.kinds.length
    val text = if (spec.floats) new Array[Byte](FloatText.Room) else null
    var growth = 0
    var i = 0
    while (i < n) {
      if (!cells.nulls(i) && (spec.kinds(i) == Utf8 || spec.padWidths(i) > 1))
        growth += grows(cells, spec, i, text)
      i += 1
    }
    // with one-byte pads no cell shrinks, so in a row that does not grow
    // every kept character is one byte and no cell shifts
    val plain = growth == 0 && spec.bytePads
    val line = spec.padLine
    val buf = if (growth == 0) line.clone() else java.util.Arrays.copyOf(line, line.length + growth)
    var shift = 0
    i = 0
    while (i < n) {
      if (!cells.nulls(i)) {
        val len = spec.lengths(i)
        val width = spec.padWidths(i)
        val align = spec.alignCodes(i)
        val at = spec.slots(i) + shift
        val kind = spec.kinds(i)
        var bytes = 0 // the cell's kept bytes
        var chars = 0 // the characters they hold
        if (kind == Utf8) {
          val v = cells.texts(i)
          if (plain) { bytes = math.min(v.numBytes, len); chars = bytes }
          else {
            val w = SliceFixedLine.walk(v.getBaseObject, v.getBaseOffset, v.numBytes, 0, len)
            bytes = w.toInt
            chars = len - (w >>> 32).toInt
          }
          Platform.copyMemory(v.getBaseObject, v.getBaseOffset, buf,
            Platform.BYTE_ARRAY_OFFSET + at + left(align, len - chars) * width, bytes)
        } else {
          bytes = kind match {
            case Float32 | Float64 =>
              place(text, floatText(cells, i, kind, text), buf, at, len, align, width)
            case Bool =>
              val t = if (cells.bits(i) != 0) True else False
              place(t, t.length, buf, at, len, align, width)
            case _ =>
              val v = cells.bits(i)
              val all = decimalChars(v)
              val kept = math.min(all, len)
              writeDecimal(buf, at + left(align, len - kept) * width, v, all, kept)
              kept
          }
          chars = bytes
        }
        val delta = bytes - chars * width
        if (delta != 0) {
          // the rest of the row moves by delta: the pad line again from the
          // end of this cell's kept characters, clipped to the row
          val from = spec.slots(i) + (left(align, len - chars) + chars) * width
          val to = from + shift + delta
          System.arraycopy(line, from, buf, to, math.min(line.length - from, buf.length - to))
          shift += delta
        }
      }
      i += 1
    }
    UTF8String.fromBytes(buf)
  }

  /** The bytes non-null cell `i` adds to its all-pad run: its kept bytes
    * less its kept characters' pad bytes. A float is rendered into `text`
    * to be counted.
    */
  private def grows(cells: Cells, spec: Spec, i: Int, text: Array[Byte]): Int = {
    val len = spec.lengths(i)
    val width = spec.padWidths(i)
    spec.kinds(i) match {
      case Utf8 =>
        val v = cells.texts(i)
        val w = SliceFixedLine.walk(v.getBaseObject, v.getBaseOffset, v.numBytes, 0, len)
        w.toInt - (len - (w >>> 32).toInt) * width
      case kind =>
        val chars = kind match {
          case Float32 | Float64 => floatText(cells, i, kind, text)
          case Bool => if (cells.bits(i) != 0) True.length else False.length
          case _ => decimalChars(cells.bits(i))
        }
        math.min(chars, len) * (1 - width)
    }
  }

  /** Renders float cell `i` into `text`; returns its length. */
  private def floatText(cells: Cells, i: Int, kind: Int, text: Array[Byte]): Int =
    if (kind == Float32) FloatText.write(java.lang.Float.intBitsToFloat(cells.bits(i).toInt), text, 0)
    else FloatText.write(java.lang.Double.longBitsToDouble(cells.bits(i)), text, 0)

  /** Copies the first `min(chars, len)` bytes of `src` into the cell at
    * `at`, after its left pad of `width`-byte pads; returns how many.
    */
  private def place(src: Array[Byte], chars: Int, buf: Array[Byte], at: Int, len: Int,
                    align: Int, width: Int): Int = {
    val kept = math.min(chars, len)
    System.arraycopy(src, 0, buf, at + left(align, len - kept) * width, kept)
    kept
  }

  /** Pad characters left of a cell `short` characters short of its length. */
  private def left(align: Int, short: Int): Int = align match {
    case 0 => 0
    case 1 => short
    case _ => short / 2
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
