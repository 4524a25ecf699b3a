package graft.functions

import java.math.BigInteger

/** Float and double text written straight into a byte array: the exact
  * characters of JDK 17's `Float.toString` / `Double.toString`, which is
  * the text of Spark's string cast, with no `String`, no thread-local and
  * no loop that develops one digit per step.
  *
  *  - Domain. Finite normal values below 2^53 (doubles) or 2^24 (floats),
  *    either sign. There JDK 17 (`FloatingDecimal.dtoa`) writes the
  *    shortest digits d whose truncation or truncation plus one unit in
  *    the last place lies strictly inside (v − h, v + h), h half an ulp
  *    (at an exact power of two, a quarter of the ulp above v, on both
  *    sides); when both do, the nearer wins, a tie the even one. Integral
  *    values past the domain take `developLongDigits`, which keeps digits
  *    no interval needs (2.82879384806159E17 is `2.82879384806159008E17`);
  *    subnormals take a second digit when one would do (4.9E-324).
  *  - Core. Schubfach (R. Giulietti, "The Schubfach way to render
  *    doubles", 2020; the algorithm of JDK 19's `DoubleToDecimal`) with
  *    JDK 17's interval: bounds always strict, and a power of two c·2^q
  *    taken as 2c·2^(q−1), whose regular interval is JDK 17's symmetric
  *    one. Three 128-bit products against a power-of-ten table decide the
  *    digits; the table is built exactly from `BigInteger` at class init.
  *  - Layout. JDK's: plain with at least one fractional digit for
  *    10^-3 ≤ |v| < 10^7, else `d.ddd…E±n`.
  *  - Fallback. Outside the domain the text is `String.valueOf`'s chars,
  *    and so is every value when the runtime fails a check made once at
  *    class init: on a fixed set of witnesses, including values whose
  *    JDK 17 text differs from the shortest-digit text JDK 19+ writes,
  *    `String.valueOf` must give JDK 17's text and the core must agree
  *    with it. On JDK 19+ the witnesses differ, so `String.valueOf` stays.
  */
object FloatText {

  /** Bytes `write` may touch from `pos`. A text is at most 24 characters
    * (a sign, 17 digits, a point and `E-308`; JDK 17's 18-digit integral
    * texts have a two-digit exponent), and the core's fixed-width digit
    * steps stay inside too.
    */
  final val Room = 25

  /** Writes `v`'s text at `pos` and returns its length; touches no byte
    * past `pos + Room`.
    */
  def write(v: Double, buf: Array[Byte], pos: Int): Int = {
    val n = if (exact) core(v, buf, pos) else -1
    if (n >= 0) n else copy(String.valueOf(v), buf, pos)
  }

  /** Writes `v`'s text at `pos` and returns its length; touches no byte
    * past `pos + Room`.
    */
  def write(v: Float, buf: Array[Byte], pos: Int): Int = {
    val n = if (exact) core(v, buf, pos) else -1
    if (n >= 0) n else copy(String.valueOf(v), buf, pos)
  }

  /** The core's text of `v` at `pos` and its length, or -1 (nothing
    * written) outside the domain.
    */
  private[graft] def core(v: Double, buf: Array[Byte], pos: Int): Int = {
    val bits = java.lang.Double.doubleToRawLongBits(v)
    val e = (bits >>> 52).toInt & 0x7FF // biased exponent: |v| = c·2^(e − 1075)
    if (e == 0 || e > 1075) -1
    else shortest(bits & 0xFFFFFFFFFFFFFL, 52, e - 1075, (bits >>> 63).toInt, buf, pos)
  }

  /** As `core` for a double. */
  private[graft] def core(v: Float, buf: Array[Byte], pos: Int): Int = {
    val bits = java.lang.Float.floatToRawIntBits(v)
    val e = (bits >>> 23) & 0xFF // biased exponent: |v| = c·2^(e − 150)
    if (e == 0 || e > 150) -1
    else shortest(bits & 0x7FFFFFL, 23, e - 150, bits >>> 31, buf, pos)
  }

  /** The text of (−1)^sign·(2^p + t)·2^q by JDK 17's rule, a value of p
    * fraction bits `t` (p = 52 or 23) and −1075 ≤ q ≤ 3, and its length.
    */
  private[graft] def shortest(t: Long, p: Int, q: Int, sign: Int,
                              buf: Array[Byte], pos: Int): Int = {
    // a power of two as 2c·2^(q−1): the interval ±2^(q−2) is then regular
    val c = if (t == 0) 1L << (p + 1) else (1L << p) | t
    val qc = if (t == 0) q - 1 else q
    val k = flog10pow2(qc) // 10^k ≤ 2^qc, the interval's width
    val shift = qc + flog2pow10(-k) + 2 // c·2^shift·g·2^−127 ≈ c·2^qc / 10^k
    val g1 = G(-2 * k)
    val g0 = G(-2 * k + 1)
    // 4v, 4(v − h) and 4(v + h) over 10^k, rounded to odd
    val cb = c << 2
    val vb = rop(g1, g0, cb << shift)
    val vbl = rop(g1, g0, (cb - 2) << shift)
    val vbr = rop(g1, g0, (cb + 2) << shift)
    val s = vb >> 2 // ⌊v / 10^k⌋
    // one digit shorter: the multiples of 10^(k+1) next to v; at most one
    // lies strictly inside, as the interval is narrower than 10^(k+1)
    val sp = s / 10
    val upin = vbl < sp * 40
    val wpin = (sp + 1) * 40 < vbr
    if (upin != wpin) layout(if (upin) sp else sp + 1, k + 1, p, sign, buf, pos)
    else {
      // s·10^k and (s+1)·10^k: at least one lies inside
      val uin = vbl < (s << 2)
      val win = ((s + 1) << 2) < vbr
      val f =
        if (uin != win) { if (uin) s else s + 1 }
        else {
          val cmp = vb - ((2 * s + 1) << 1) // 4v/10^k against 4(s + ½)
          if (cmp < 0 || (cmp == 0 && (s & 1) == 0)) s else s + 1
        }
      layout(f, k, p, sign, buf, pos)
    }
  }

  /** rop(cp·g·2^−127), g = g1·2^63 + g0: the product rounded to odd, which
    * keeps every comparison with an even integer exact (Giulietti §9.9).
    */
  private def rop(g1: Long, g0: Long, cp: Long): Long = {
    val x1 = Math.multiplyHigh(g0, cp)
    val y0 = g1 * cp
    val y1 = Math.multiplyHigh(g1, cp)
    val z = (y0 >>> 1) + x1
    val vbp = y1 + (z >>> 63)
    vbp | (((z & Mask63) + Mask63) >>> 63)
  }

  /** Writes (−1)^sign·f·10^e in JDK's layout, without f's trailing zeros,
    * and returns the length; f has at most 9 digits when `p` is 23 (a
    * float), else at most 17.
    */
  private def layout(f: Long, e: Int, p: Int, sign: Int, buf: Array[Byte], pos: Int): Int = {
    val n = FormatFixedLine.decimalChars(f)
    val x = n + e // |v| = 0.d1…dn × 10^x
    buf(pos) = '-' // kept for a negative value, written over for a positive one
    val at = pos + sign
    val end =
      if (0 < x && x < 8) { // 1 ≤ |v| < 10^7
        if (n <= x) { // d1…dn0…0.0
          digits(buf, at, f, n, p)
          java.util.Arrays.fill(buf, at + n, at + x, '0'.toByte)
          buf(at + x) = '.'
          buf(at + x + 1) = '0'
          at + x + 2
        } else { // d1…dx.dx+1…dn
          digits(buf, at + 1, f, n, p)
          System.arraycopy(buf, at + 1, buf, at, x)
          buf(at + x) = '.'
          trim(buf, at + n + 1, at + x + 2)
        }
      } else if (-3 < x && x <= 0) { // 10^-3 ≤ |v| < 1: 0.0…0d1…dn
        buf(at) = '0'
        buf(at + 1) = '.'
        java.util.Arrays.fill(buf, at + 2, at + 2 - x, '0'.toByte)
        digits(buf, at + 2 - x, f, n, p)
        trim(buf, at + 2 - x + n, at + 3)
      } else { // d1.d2…dnE(x−1)
        digits(buf, at + 1, f, n, p)
        buf(at) = buf(at + 1)
        buf(at + 1) = '.'
        exponent(buf, trim(buf, at + n + 1, at + 3), x - 1)
      }
    end - pos
  }

  /** `end` moved back over trailing '0's, to no less than `min`. */
  private def trim(buf: Array[Byte], end: Int, min: Int): Int = {
    var i = end
    while (i > min && buf(i - 1) == '0') i -= 1
    i
  }

  /** f's n digits at `pos`, then zeros: f·10^(9−n) as 9 digits when `p`
    * is 23, else f·10^(17−n) as 17, in fixed steps of two digits with no
    * loop on n.
    */
  private def digits(buf: Array[Byte], pos: Int, f: Long, n: Int, p: Int): Unit =
    if (p == 23) {
      val a = (f * FormatFixedLine.Pow10(9 - n)).toInt
      val top = a / 100000000
      buf(pos) = ('0' + top).toByte
      eight(buf, pos + 1, a - top * 100000000)
    } else {
      val a = f * FormatFixedLine.Pow10(17 - n)
      val hi = a / 100000000
      val top = (hi / 100000000).toInt
      buf(pos) = ('0' + top).toByte
      eight(buf, pos + 1, (hi - top * 100000000L).toInt)
      eight(buf, pos + 9, (a - hi * 100000000).toInt)
    }

  /** The 8 digits of v < 10^8, leading zeros included. */
  private def eight(buf: Array[Byte], pos: Int, v: Int): Unit = {
    val hi = v / 10000
    four(buf, pos, hi)
    four(buf, pos + 4, v - hi * 10000)
  }

  /** The 4 digits of v < 10^4, leading zeros included. */
  private def four(buf: Array[Byte], pos: Int, v: Int): Unit = {
    val hi = v / 100
    val lo = v - hi * 100
    buf(pos) = FormatFixedLine.DigitPairs(2 * hi)
    buf(pos + 1) = FormatFixedLine.DigitPairs(2 * hi + 1)
    buf(pos + 2) = FormatFixedLine.DigitPairs(2 * lo)
    buf(pos + 3) = FormatFixedLine.DigitPairs(2 * lo + 1)
  }

  /** `E` and the exponent at `pos`; returns the end. */
  private def exponent(buf: Array[Byte], pos: Int, exp: Int): Int = {
    buf(pos) = 'E'
    val at = if (exp < 0) { buf(pos + 1) = '-'; pos + 2 } else pos + 1
    val e = math.abs(exp)
    if (e < 10) { buf(at) = ('0' + e).toByte; at + 1 }
    else if (e < 100) {
      buf(at) = FormatFixedLine.DigitPairs(2 * e)
      buf(at + 1) = FormatFixedLine.DigitPairs(2 * e + 1)
      at + 2
    } else {
      buf(at) = ('0' + e / 100).toByte
      val r = e % 100
      buf(at + 1) = FormatFixedLine.DigitPairs(2 * r)
      buf(at + 2) = FormatFixedLine.DigitPairs(2 * r + 1)
      at + 3
    }
  }

  /** The chars of `s`, all ASCII, one byte each at `pos`. */
  @annotation.nowarn("cat=deprecation")
  private def copy(s: String, buf: Array[Byte], pos: Int): Int = {
    require(s.length <= Room, s"float text longer than $Room chars: $s")
    s.getBytes(0, s.length, buf, pos) // the deprecated form copies each char's low byte
    s.length
  }

  private final val Mask63 = 0x7FFFFFFFFFFFFFFFL

  /** ⌊e·log10 2⌋ for |e| ≤ 5456721. */
  private def flog10pow2(e: Int): Int = ((e * 661971961083L) >> 41).toInt

  /** ⌊e·log2 10⌋ for |e| ≤ 1233. */
  private def flog2pow10(e: Int): Int = ((e * 913124641741L) >> 38).toInt

  // the largest −k: q ≥ −1075, the smallest normal power of two's halved exponent
  private final val KMax = -flog10pow2(-1075)

  // g(k) = ⌊10^-k·2^(125 − ⌊log2 10^-k⌋)⌋ + 1 = g1·2^63 + g0 for k ≤ 0,
  // g1 at 2·(−k) and g0 after it
  private val G: Array[Long] = {
    val g = new Array[Long](2 * KMax + 2)
    var pow = BigInteger.ONE // 10^i
    for (i <- 0 to KMax) {
      val log2 = pow.bitLength - 1
      require(log2 == flog2pow10(i), s"flog2pow10($i)")
      val gi = (if (log2 <= 125) pow.shiftLeft(125 - log2) else pow.shiftRight(log2 - 125))
        .add(BigInteger.ONE)
      g(2 * i) = gi.shiftRight(63).longValueExact
      g(2 * i + 1) = gi.longValue & Mask63
      pow = pow.multiply(BigInteger.TEN)
    }
    g
  }

  /** Witnesses and their JDK 17 text. Out of the domain: an integral
    * value `developLongDigits` writes long, and 1.0E23, which JDK 19+
    * writes as `1.0E23`. In it: powers of two whose narrower JDK 17
    * interval excludes the shorter text JDK 19+ writes (2^-44 there is
    * `5.684341886080802E-14`, `Float.MIN_NORMAL` `1.1754944E-38`), and
    * values of the mock ranges.
    */
  private val Witnesses: Seq[(Any, String)] = Seq(
    2.82879384806159E17 -> "2.82879384806159008E17",
    1.0E23 -> "9.999999999999999E22",
    math.scalb(1.0, -44) -> "5.6843418860808015E-14",
    math.scalb(1.0, -24) -> "5.9604644775390625E-8",
    -123456789.0625 -> "-1.234567890625E8",
    java.lang.Float.MIN_NORMAL -> "1.17549435E-38",
    math.scalb(1.0f, -27) -> "7.4505806E-9",
    -98765.43f -> "-98765.43")

  /** Whether the core renders at all: this runtime's `String.valueOf`
    * writes JDK 17's text on every witness, and the core agrees with it.
    */
  private[graft] val exact: Boolean = {
    val buf = new Array[Byte](Room)
    Witnesses.forall { case (v, jdk17) =>
      val (valueOf, n) = v match {
        case d: Double => (String.valueOf(d), core(d, buf, 0))
        case f: Float => (String.valueOf(f), core(f, buf, 0))
      }
      valueOf == jdk17 &&
        (n < 0 || new String(buf, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1) == jdk17)
    }
  }
}
