package graft

import graft.functions.FloatText
import org.scalatest.funsuite.AnyFunSuite

/** FloatText must write exactly `String.valueOf`'s text for every float and
  * double, take its core only inside the domain (finite normal values below
  * 2^53, floats below 2^24) and `String.valueOf` outside it.
  */
class FloatTextSpec extends AnyFunSuite {
  private val buf = new Array[Byte](FloatText.Room + 8)

  private def text(n: Int): String =
    new String(buf, 4, n, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Values `write` rendered unlike `String.valueOf`, as "got / expected". */
  private def mismatches(ds: Iterator[Double], fs: Iterator[Float]): Seq[String] =
    (ds.flatMap { v =>
      val got = text(FloatText.write(v, buf, 4))
      if (got == String.valueOf(v)) None else Some(s"$got / ${String.valueOf(v)}")
    } ++ fs.flatMap { v =>
      val got = text(FloatText.write(v, buf, 4))
      if (got == String.valueOf(v)) None else Some(s"${got}f / ${String.valueOf(v)}f")
    }).take(20).toSeq

  private def inDomain(v: Double): Boolean =
    math.abs(v) >= java.lang.Double.MIN_NORMAL && math.abs(v) < math.scalb(1.0, 53)

  private def inDomain(v: Float): Boolean =
    math.abs(v) >= java.lang.Float.MIN_NORMAL && math.abs(v) < math.scalb(1.0f, 24)

  private def signed(vs: Seq[Double]): Seq[Double] = vs.flatMap(v => Seq(v, -v))
  private def around(v: Double): Seq[Double] = Seq(math.nextDown(v), v, math.nextUp(v))
  private def around(v: Float): Seq[Float] = Seq(math.nextDown(v), v, math.nextUp(v))

  // values exactly midway between their two shortest candidates: the even
  // last digit wins (0.06256484985351562 = 16401·2^-18, not …563)
  private val ties = Seq(16401, 16403, 16405, 16423).map(n => math.scalb(n.toDouble, -18))

  private val edgeDoubles: Seq[Double] = signed(Seq(0.0, Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL, Double.MaxValue, Double.PositiveInfinity) ++
    around(math.scalb(1.0, 53)) ++ around(math.scalb(1.0, 54)) ++
    (-1022 to 53).flatMap(e => around(math.scalb(1.0, e))) ++
    (-307 to 22).flatMap(k => around(s"1e$k".toDouble)) ++
    around(1e-3) ++ around(1e7) ++ around(9.999999999999999e6) ++ ties ++
    Seq(2.82879384806159E17, 1.0E23, 3.6041924962418848E16)) :+ Double.NaN

  private val edgeFloats: Seq[Float] = Seq(0.0f, Float.MinPositiveValue,
    java.lang.Float.MIN_NORMAL, Float.MaxValue, Float.PositiveInfinity).flatMap(v => Seq(v, -v)) ++
    around(math.scalb(1.0f, 24)) ++ around(math.scalb(1.0f, 25)) ++
    (-126 to 24).flatMap(e => around(math.scalb(1.0f, e))) ++
    (-37 to 10).flatMap(k => around(s"1e$k".toFloat)) ++
    around(1e-3f) ++ around(1e7f) ++ ties.map(_.toFloat) :+ Float.NaN

  test("the core renders on JDK 17 and String.valueOf stays on JDK 19+, where digits are shortest") {
    assert(FloatText.exact == (Runtime.version.feature < 19))
  }

  test("write == String.valueOf on a million seeded doubles and floats over every exponent and the mock ranges") {
    val rnd = new scala.util.Random(20)
    def double(i: Int): Double = i % 5 match {
      case 0 => java.lang.Double.longBitsToDouble(rnd.nextLong())
      // every binary exponent of the domain, and a few past it
      case 1 => math.scalb(1 + rnd.nextDouble(), rnd.nextInt(1080) - 1022) * (if (rnd.nextBoolean()) 1 else -1)
      case 2 => (rnd.nextDouble() * 2 - 1) * 1e9 // Mocker f64
      case 3 => (rnd.nextDouble() * 2 - 1) * 1e6
      // few significant bits: short binary fractions, ties among them
      case _ => math.scalb((rnd.nextInt(1 << 20) | 1).toDouble, -rnd.nextInt(60))
    }
    def float(i: Int): Float = i % 5 match {
      case 0 => java.lang.Float.intBitsToFloat(rnd.nextInt())
      case 1 => math.scalb(1 + rnd.nextFloat(), rnd.nextInt(156) - 126) * (if (rnd.nextBoolean()) 1 else -1)
      case 2 => ((rnd.nextDouble() * 2 - 1) * 1e6).toFloat // Mocker f32
      case 3 => ((rnd.nextDouble() * 2 - 1) * 256).toFloat // Mocker f16
      case _ => math.scalb((rnd.nextInt(1 << 16) | 1).toFloat, -rnd.nextInt(40))
    }
    val bad = mismatches(Iterator.range(0, 1000000).map(double), Iterator.range(0, 1000000).map(float))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("write == String.valueOf on the edges: zeros, NaN, infinities, extremes, powers of two and ten, layout switches, ties") {
    val bad = mismatches(edgeDoubles.iterator, edgeFloats.iterator)
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(text(FloatText.write(ties.head, buf, 4)) == "0.06256484985351562")
    assert(text(FloatText.write(math.scalb(1.0, -44), buf, 4)) == "5.6843418860808015E-14")
  }

  test("the core renders the edges inside the domain only, each as JDK 17's String.valueOf") {
    val jdk17 = Runtime.version.feature < 19
    def check(n: Int, inside: Boolean, valueOf: String): Unit = {
      assert((n >= 0) == inside, valueOf)
      if (n >= 0 && jdk17) assert(text(n) == valueOf)
    }
    edgeDoubles.foreach(v => check(FloatText.core(v, buf, 4), inDomain(v), String.valueOf(v)))
    edgeFloats.foreach(v => check(FloatText.core(v, buf, 4), inDomain(v), String.valueOf(v)))
  }

  test("the core's interval is open: a candidate on its bound is not taken") {
    // Inside the domain no bound ever falls on a candidate, so this is the
    // core on its own: 2^54 + 8 = (2^52 + 2)·2^2, half-width 2, whose lower
    // bound 18014398509481990 is a multiple of ten. JDK 17 writes such
    // values' exact digits; a closed interval would take the bound.
    val n = FloatText.shortest(2, 52, 2, 0, buf, 4)
    assert(text(n) == "1.8014398509481992E16")
    assert(String.valueOf(math.scalb(1.0, 54) + 8) == "1.8014398509481992E16")
  }
}
