package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.nio.file.{Files, Path, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The fixed-length schema both pipeline workloads use, and the
  * benchmark's own seeded writer of `.flf` input for `convert_flf`.
  *
  * The schema covers all nine dtypes, all three alignments and six pad
  * symbols. The writer is independent of the program's mock and format
  * layers (it pads with Spark built-ins directly), so a change to either
  * cannot change the convert input. Every value is a pure function of
  * (seed, row id). The pass that writes the file also observes what the
  * file must convert into: the row count, per-column null counts and a
  * checksum over the typed values.
  */
object FlfInput {

  final case class Col(name: String, dtype: String, length: Int, align: String,
                       pad: String, padChar: Char, nullable: Boolean)

  val columns: Seq[Col] = Seq(
    Col("id", "Int64", 12, "Right", "Whitespace", ' ', nullable = false),
    Col("qty", "Int16", 7, "Right", "Underscore", '_', nullable = false),
    Col("code", "Int32", 10, "Left", "Asterisk", '*', nullable = true),
    Col("flag", "Boolean", 7, "Center", "Hyphen", '-', nullable = true),
    Col("price", "Float32", 16, "Left", "Hashtag", '#', nullable = true),
    Col("ratio", "Float16", 16, "Center", "Underscore", '_', nullable = false),
    Col("amount", "Float64", 24, "Right", "Whitespace", ' ', nullable = false),
    Col("name", "Utf8", 16, "Center", "Semicolon", ';', nullable = false),
    Col("city", "Utf8", 18, "Left", "Whitespace", ' ', nullable = true),
    Col("note", "LargeUtf8", 24, "Right", "Zero", '0', nullable = true),
    Col("score", "Int32", 11, "Right", "Whitespace", ' ', nullable = false),
    Col("big", "Int64", 14, "Center", "Colon", ':', nullable = true))

  val rowLength: Int = columns.map(_.length).sum

  def schemaJson: String = {
    val offsets = columns.scanLeft(0)(_ + _.length)
    columns.zip(offsets).map { case (c, off) =>
      s"""{"name":"${c.name}","offset":$off,"length":${c.length},""" +
        s""""dtype":"${c.dtype}","alignment":"${c.align}",""" +
        s""""pad_symbol":"${c.pad}","is_nullable":${c.nullable}}"""
    }.mkString("""{"name":"PerfBench","version":1,"columns":[""", ",\n", "]}")
  }

  private val names = Seq("Astrid", "Bo", "Cecilia", "Dag", "Elin", "Fredrik",
    "Greta", "Hugo", "Ines", "Jonas", "Karin", "Leif", "Maja", "Nils",
    "Olga", "Per", "Rut", "Sven", "Tove", "Ulf", "Vera", "Wilma", "Yngve")
  private val cities = Seq("Stockholm", "Göteborg", "Malmö", "Zürich",
    "São Paulo", "Kraków", "Reykjavík", "New York", "Oslo", "Århus",
    "Łódź", "Köln", "Dublin", "Lisboa")
  private val words = Seq("alpha", "bravo", "delta", "echo", "kilo", "lima",
    "oscar", "papa", "sierra", "tango", "victor", "zulu")

  /** ~1 % of the cells of each nullable non-text column hold garbage that
    * cannot parse, so the converter must count them as nulls.
    */
  private val garbage: Map[String, String] =
    Map("code" -> "?x", "flag" -> "maybe", "price" -> "n/a", "big" -> "??")

  private def h(seed: Long, k: Int): Column = xxhash64(lit(seed), col("id"), lit(k))
  private def uniform(seed: Long, k: Int, lo: Long, hi: Long): Column =
    pmod(h(seed, k), lit(hi - lo + 1)) + lit(lo)
  private def pick(seed: Long, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pmod(h(seed, k), lit(xs.size.toLong)) + 1).cast("int"))
  private def isGarbage(seed: Long, c: Col): Column =
    if (garbage.contains(c.name))
      pmod(h(seed, 100 + columns.indexOf(c)), lit(100L)) === 0
    else lit(false)

  /** The typed value of each cell before null injection. */
  private def value(seed: Long, c: Col): Column = c.name match {
    case "id"     => col("id")
    case "qty"    => uniform(seed, 1, -9999, 9999).cast("short")
    case "code"   => uniform(seed, 2, -99999999, 999999999).cast("int")
    case "flag"   => pmod(h(seed, 3), lit(2L)) === 0
    case "price"  => (uniform(seed, 4, -1000000, 1000000) / 100.0).cast("float")
    case "ratio"  => (uniform(seed, 5, -25600, 25600) / 100.0).cast("float")
    case "amount" => uniform(seed, 6, -100000000000L, 100000000000L) / 100.0
    case "name"   => pick(seed, 7, names)
    case "city"   => pick(seed, 8, cities)
    case "note"   => concat(pick(seed, 9, words), lit(" "), pick(seed, 10, words))
    case "score"  => uniform(seed, 11, -1000000000, 1000000000).cast("int")
    case "big"    => uniform(seed, 12, -999999999999L, 999999999999L)
  }

  private def rows(spark: SparkSession, n: Long, parts: Int): DataFrame =
    spark.range(1, n + 1, 1, parts).toDF("id")

  /** The typed value of every cell the file must convert into (garbage
    * cells are null), next to the cell's text.
    */
  private def cells(seed: Long): Seq[(Column, Column)] = columns.map { c =>
    val bad = isGarbage(seed, c)
    (when(bad, lit(null)).otherwise(value(seed, c)).as(c.name),
      padded(when(bad, lit(garbage.getOrElse(c.name, "")))
        .otherwise(value(seed, c).cast("string")), c))
  }

  private def padded(s: Column, c: Col): Column = {
    val p = c.padChar.toString
    c.align match {
      case "Right" => lpad(s, c.length, p)
      case "Left"  => rpad(s, c.length, p)
      case _ =>
        val left = floor((lit(c.length) - length(s)) / 2).cast("int")
        rpad(concat(repeat(lit(p), left), s), c.length, p)
    }
  }

  /** Write `n` lines as ONE `.flf` file at `file` (written in parallel,
    * then the parts are concatenated in order). Returns the checksum and
    * the null counts of `nullCols` that the file must convert into,
    * observed on the same pass.
    */
  def write(spark: SparkSession, seed: Long, n: Long, file: Path,
            nullCols: Seq[String]): ((Long, Long, Long), Seq[Long]) = {
    val parts = spark.sparkContext.defaultParallelism
    val tmp = file.resolveSibling(file.getFileName.toString + ".parts")
    Files.deleteIfExists(file)
    val cs = cells(seed)
    val typed = rows(spark, n, parts).select(cs.map(_._1) :+ concat(cs.map(_._2): _*).as("value"): _*)
    val obs = org.apache.spark.sql.Observation("expected")
    val (first, rest) = checksumColumns(nullCols)
    typed.observe(obs, first, rest: _*).select("value").write.mode("overwrite")
      .option("compression", "none").text(tmp.toString)
    val partFiles = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    val out = java.nio.channels.FileChannel.open(file,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try partFiles.foreach { p =>
      val in = java.nio.channels.FileChannel.open(p)
      try {
        var pos = 0L
        while (pos < in.size()) pos += in.transferTo(pos, in.size() - pos, out)
      } finally in.close()
    } finally out.close()
    Util.deleteTree(tmp)
    val r = obs.get
    ((r("n").asInstanceOf[Long], r("hash_sum").asInstanceOf[Long], r("hash_xor").asInstanceOf[Long]),
      nullCols.map(c => r(s"nulls__$c").asInstanceOf[Long]))
  }

  /** Copy the first `n` lines of `from` to `to`. */
  def head(from: Path, n: Long, to: Path): Unit = {
    val lines = Files.lines(from, java.nio.charset.StandardCharsets.UTF_8)
    try Files.write(to, lines.limit(n).iterator().asScala.map(_ + "\n").mkString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally lines.close()
  }

  /** Order-independent checksum of a frame with the schema's columns (row
    * count, and the sum and xor of a per-row hash over all columns), plus
    * the null count of each of `nullCols`.
    */
  private def checksumColumns(nullCols: Seq[String]): (Column, Seq[Column]) = {
    val rowHash = xxhash64(columns.map(c => col(c.name)): _*)
    (count(lit(1)).as("n"), Seq(sum(pmod(rowHash, lit(1000000007L))).as("hash_sum"),
      bit_xor(rowHash).as("hash_xor")) ++
      nullCols.map(c => count_if(col(c).isNull).as(s"nulls__$c")))
  }

  def checksum(df: DataFrame): (Long, Long, Long) = {
    val (first, rest) = checksumColumns(Nil)
    val r = df.agg(first, rest: _*).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
