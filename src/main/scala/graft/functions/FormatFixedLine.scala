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

/** One-pass fixed-width line writer: pads every cell of a row and writes
  * them back to back into one pre-sized byte buffer.
  *
  * Byte-identical to the per-column composition `concat` of
  * `lpad`/`rpad`/`rpad(concat(repeat(pad, ⌊deficit/2⌋), s))` over
  * `s = coalesce(value.cast("string"), "")` (the test oracle,
  * `ComposedFormat` in FlfSpec), by construction rather than by
  * approximation:
  *  - Children. Each child is its column's `cast("string")`, so a cell's
  *    text is Spark's own cast (float/double text included), computed once
  *    per value. A null child renders as an all-pad cell.
  *  - Count. A cell keeps at most `length` code points of its value,
  *    counted with `UTF8String.numBytesForFirstByte`, the rule `lpad`,
  *    `rpad`, `length` and `substring` count a string by, so invalid UTF-8
  *    keeps exactly the bytes the composed chain keeps. The walk steps
  *    8 bytes at a time while a word has no high bit set
  *    (`SliceFixedLine.walk`).
  *  - Clamping. The kept bytes lie inside the value's bytes: a value whose
  *    last lead byte promises bytes past its end (`41 E2` in a 2-wide cell)
  *    keeps only its own bytes. There `substring` reads past the string, so
  *    the composed chain is no oracle for that case.
  *  - Pad. The code points a cell is short of `length` are pad characters,
  *    each written as the pad's UTF-8 bytes: all on the left for Right
  *    (`lpad`), all on the right for Left (`rpad`), and for Center floor
  *    half on the left, ceil half on the right (the reference padder's
  *    split, FIXTURES.md §2).
  *  - Buffer. A first pass counts every cell, so the row is one `byte[]`
  *    of its exact size and one copy per value; the composed chain builds a
  *    string per pad, per cell and per concat.
  *
  * Reference: the mocker's pad-and-serialize step and the fixed-length
  * writer (crates/evolution-mocker/src/mocker.rs:146-152,
  * crates/evolution-writer/src/writer.rs:35-272), re-expressed as one
  * Catalyst expression so the value text stays Spark's own string cast.
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
    FormatFixedLine.Spec(lengths.toArray, alignCodes.toArray, pads.toArray)

  override def eval(input: InternalRow): Any =
    FormatFixedLine.compute(children.map(_.eval(input).asInstanceOf[UTF8String]).toArray, spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("formatSpec", spec,
      "graft.functions.FormatFixedLine.Spec")
    val values = ctx.freshName("values")
    val assigns = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |$values[$i] = ${e.isNull} ? null : ${e.value};""".stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(assigns, "formatFixedLineCells",
      extraArguments = ("UTF8String[]", values) :: Nil)
    ev.copy(code = code"""
      UTF8String[] $values = new UTF8String[${children.length}];
      $body
      UTF8String ${ev.value} =
        graft.functions.FormatFixedLine$$.MODULE$$.compute($values, $specRef);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object FormatFixedLine {

  final case class Spec(lengths: Array[Int], alignCodes: Array[Int], pads: Array[Char]) {
    /** Each pad as the composed chain's pad literal encodes it. */
    val padBytes: Array[Array[Byte]] =
      pads.map(p => UTF8String.fromString(p.toString).getBytes)
  }

  /** The formatting kernel (also invoked from generated code): one line
    * from every cell's string value, a null value being an empty one.
    */
  def compute(values: Array[UTF8String], spec: Spec): UTF8String = {
    val n = values.length
    // per cell: value bytes kept (low 32 bits), pad characters (high 32)
    val cells = new Array[Long](n)
    var size = 0L
    var i = 0
    while (i < n) {
      val v = values(i)
      val len = spec.lengths(i)
      val cell =
        if (v == null) len.toLong << 32
        else SliceFixedLine.walk(v.getBaseObject, v.getBaseOffset, v.numBytes, 0, len)
      cells(i) = cell
      size += cell.toInt + (cell >>> 32) * spec.padBytes(i).length
      i += 1
    }
    val buf = new Array[Byte](Math.toIntExact(size))
    var pos = 0
    i = 0
    while (i < n) {
      val kept = cells(i).toInt
      val short = (cells(i) >>> 32).toInt
      val left = spec.alignCodes(i) match {
        case 0 => 0
        case 1 => short
        case _ => short / 2
      }
      pos = fill(buf, pos, spec.padBytes(i), left)
      if (kept > 0) {
        val v = values(i)
        Platform.copyMemory(v.getBaseObject, v.getBaseOffset, buf,
          Platform.BYTE_ARRAY_OFFSET + pos, kept)
        pos += kept
      }
      pos = fill(buf, pos, spec.padBytes(i), short - left)
      i += 1
    }
    UTF8String.fromBytes(buf)
  }

  /** Writes `count` copies of `pad` at `from`; returns the end. */
  private def fill(buf: Array[Byte], from: Int, pad: Array[Byte], count: Int): Int =
    if (pad.length == 1) {
      java.util.Arrays.fill(buf, from, from + count, pad(0))
      from + count
    } else {
      var p = from
      var k = 0
      while (k < count) {
        System.arraycopy(pad, 0, buf, p, pad.length)
        p += pad.length
        k += 1
      }
      p
    }

  def apply(values: Seq[Column], lengths: Seq[Int], alignCodes: Seq[Int],
            pads: Seq[Char]): Column =
    GraftBridge.column(FormatFixedLine(values.map(GraftBridge.expression),
      lengths, alignCodes, pads))
}
