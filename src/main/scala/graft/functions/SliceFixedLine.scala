package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass fixed-width line slicer: emits every column's trimmed cell in
  * a single forward walk over the line's UTF-8 bytes.
  *
  * Row-identical to the per-column composition
  * `trim(substring(line, offset+1, length), pad-by-alignment)`, by
  * construction rather than by approximation:
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
  *    pad is compared byte by byte from the left; from the right too,
  *    unless one of the three bytes before the trailing pad run is a
  *    high byte, which may be a lead swallowing the run's first byte
  *    (`E2 98 2A` is one character): then, as for a non-ASCII pad, the
  *    cell's characters are walked forward.
  *  - Clamping. Every cell lies inside the line's bytes: a column past
  *    the end is empty, and a line ending in a bare lead byte (`41 42 E2`)
  *    ends its last cell at the line's last byte. There `substring` reads
  *    past the string, so the composed path is no oracle for that case.
  *  - Views. Each cell is a `UTF8String.fromAddress` view into the line's
  *    memory: no decode, no copy. For a scan that memory is the reused row
  *    buffer, so the cells are valid for the current row only; Spark copies
  *    what it retains (UnsafeProjection, `InternalRow.copy`), as it already
  *    must for the line itself.
  *
  * Reference: the byte-cursor walk in
  * crates/evolution-builder/src/builder.rs:54-64 and the rune counting in
  * crates/evolution-parser/src/trimmer.rs:55-85 — re-expressed as a
  * Catalyst expression so the cast/null policy stays in built-in,
  * oracle-matchable Spark operators (FlfParse.castStrict).
  *
  * alignCodes: `Alignment.code` — 0 = Left (rtrim), 1 = Right (ltrim),
  * 2 = Center (both).
  */
case class SliceFixedLine(child: Expression, offsets: Seq[Int], lengths: Seq[Int],
                          alignCodes: Seq[Int], pads: Seq[Char])
    extends UnaryExpression {

  require(offsets.length == lengths.length && lengths.length == alignCodes.length &&
    alignCodes.length == pads.length, "column spec arrays must align")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val spec: SliceFixedLine.Spec =
    SliceFixedLine.Spec(offsets.toArray, lengths.toArray, alignCodes.toArray, pads.toArray)

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

  final case class Spec(offsets: Array[Int], lengths: Array[Int],
                        alignCodes: Array[Int], pads: Array[Char]) {
    /** Each pad as the composed path's trim literal encodes it. */
    val padBytes: Array[Array[Byte]] =
      pads.map(p => UTF8String.fromString(p.toString).getBytes)
  }

  private final val HighBits = 0x8080808080808080L

  /** The slicing kernel (also invoked from generated code). */
  def compute(input: UTF8String, spec: Spec): ArrayData = {
    val base = input.getBaseObject
    val off = input.getBaseOffset
    val nb = input.numBytes
    val n = spec.offsets.length
    val out = new Array[Any](n)
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
        if (align != 0) while (lo < hi && Platform.getByte(base, off + lo) == p) lo += 1
        if (align != 1) {
          var k = hi
          while (k > lo && Platform.getByte(base, off + k - 1) == p) k -= 1
          if (k < hi) { // keep the byte run only if no lead before it can swallow it
            var j = math.max(lo, k - 3)
            while (j < k && Platform.getByte(base, off + j) >= 0) j += 1
            hi = if (j < k) rtrimWalk(base, off, lo, hi, pad) else k
          }
        }
      } else {
        if (align != 0) lo = ltrimWalk(base, off, lo, hi, pad)
        if (align != 1) hi = rtrimWalk(base, off, lo, hi, pad)
      }
      out(i) = UTF8String.fromAddress(base, off + lo, hi - lo)
      i += 1
    }
    new GenericArrayData(out)
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
            alignCodes: Seq[Int], pads: Seq[Char]): Column =
    GraftBridge.column(SliceFixedLine(GraftBridge.expression(line),
      offsets, lengths, alignCodes, pads))
}
