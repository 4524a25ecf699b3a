package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Util {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq
      all.reverse.foreach(Files.deleteIfExists)
    }

  /** A `kB` field of a /proc file, or -1 where the file or field is absent. */
  private def procKb(file: String, field: String): Long =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().collectFirst {
        case l if l.startsWith(field + ":") => l.trim.split("\\s+")(1).toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: java.io.IOException => -1L }

  /** Page-cache bytes waiting for writeback, in kB. */
  def dirtyKb(): Long = procKb("/proc/meminfo", "Dirty")

  /** This JVM's peak resident set, in kB. */
  def peakRssKb(): Long = procKb("/proc/self/status", "VmHWM")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (non-empty). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** A progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s] $msg")

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
}
