package perfbench

import graft.{Evolution, SparkEntry}
import graft.flf.{FlfFormat, FlfParse}
import graft.mock.Mocker
import graft.schema.FixedSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** One timed operation: a call into the program and whether its output
  * passed the per-operation check.
  */
final case class Op(name: String, wallS: Double, ok: Boolean, error: String = "")

/** An untimed correctness gate over the outputs of the timed loop. */
final case class Gate(name: String, ok: Boolean, detail: String)

/** A workload drives the program through its public functions. `pass` is
  * one closed-loop unit of work; with a tracer it opens a span around
  * every call into the program. `chain` runs the staged passes whose
  * differences give each layer's self time.
  */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer]): Seq[Op]
  /** The untimed full pass that runs after set-up, before the timed loop. */
  def warmupPass(spark: SparkSession): Seq[Op] = pass(spark, 0, None)
  def gates(spark: SparkSession): Seq[Gate]
  def chain(spark: SparkSession, tracer: Tracer): Unit = ()
  /** Workload-specific figures for the report, from the timed passes. */
  def report(passWalls: Seq[Double], ops: Seq[Op]): Seq[(String, Double, String)]
}

object Workload {
  def traced[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name)(body)._1
      case None    => body
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A gate whose check throwing counts as the gate failing. */
  def gate(name: String)(check: => (Boolean, String)): Gate =
    try { val (ok, detail) = check; Gate(name, ok, detail) }
    catch { case e: Exception => Gate(name, ok = false, e.toString) }

  def writeSchema(work: Path): Path = {
    val p = work.resolve("schema.json")
    Files.write(p, FlfInput.schemaJson.getBytes(UTF_8))
    p
  }
}

import Workload._

/** `Evolution.convert` (strict path, parquet target) over one `.flf` file
  * written by the benchmark's own seeded generator.
  */
final class ConvertFlf(work: Path, seed: Long, rows: Long) extends Workload {
  private val inputs = work.resolve("inputs")
  private val dir = inputs.resolve(s"convert-s$seed-n$rows")
  private val input = dir.resolve("input.flf")
  private val warmInput = dir.resolve("warm.flf")
  private val out = work.resolve("out").resolve("convert.parquet")
  private var schemaPath: Path = _
  private var expectedNulls = Map.empty[String, Long]
  private var expectedSum = (0L, 0L, 0L)

  def inputBytes: Long = Files.size(input)

  def prepare(spark: SparkSession): Unit = {
    schemaPath = writeSchema(work)
    val expectedFile = dir.resolve("expected.txt")
    if (!Files.exists(expectedFile)) {
      // keep one seed's input at a time: each is hundreds of MB
      Util.deleteTree(inputs)
      Files.createDirectories(dir)
      val nullable = FlfInput.columns.filter(_.nullable).map(_.name)
      val (sum, nulls) = FlfInput.write(spark, seed, rows, input, nullable)
      FlfInput.head(input, rows / 20, warmInput)
      val lines = s"checksum ${sum.productIterator.mkString(" ")}" +:
        nullable.zip(nulls).map { case (c, k) => s"nulls__$c $k" }
      Files.write(expectedFile, lines.mkString("\n").getBytes(UTF_8))
    }
    val kv = new String(Files.readAllBytes(expectedFile), UTF_8).split("\n")
      .map(_.split(" ").toSeq)
    kv.foreach {
      case Seq("checksum", n, s, x) => expectedSum = (n.toLong, s.toLong, x.toLong)
      case Seq(k, v)                => expectedNulls += k -> v.toLong
    }
  }

  def warmup(spark: SparkSession): Unit = {
    val to = work.resolve("out").resolve("warm.parquet")
    Util.deleteTree(to)
    Evolution.convert(spark, warmInput.toString, schemaPath.toString, to.toString)
  }

  /** The counters `Evolution.convert` returned, checked against the
    * generator's known row and null counts.
    */
  private def counterMismatch(counters: Map[String, Any]): Option[String] = {
    val want = expectedNulls + ("n_rows" -> expectedSum._1)
    val bad = want.collect {
      case (k, v) if counters.get(k).map(_.toString) != Some(v.toString) =>
        s"$k=${counters.getOrElse(k, "missing")} (expected $v)"
    }
    if (bad.isEmpty) None else Some(bad.mkString(", "))
  }

  var lastCounters = Map.empty[String, Any]

  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer]): Seq[Op] = {
    Util.deleteTree(out)
    try {
      val (counters, wall) = timed(traced(tracer, "Evolution.convert")(
        Evolution.convert(spark, input.toString, schemaPath.toString, out.toString)))
      lastCounters = counters
      val bad = counterMismatch(counters)
      Seq(Op("convert", wall, bad.isEmpty, bad.getOrElse("")))
    } catch { case e: Exception => Seq(Op("convert", 0, ok = false, e.toString)) }
  }

  def gates(spark: SparkSession): Seq[Gate] = Seq(gate("convert.parquet_checksum") {
    val got = FlfInput.checksum(spark.read.parquet(out.toString))
    (got == expectedSum, s"read back $got, generator $expectedSum")
  })

  override def chain(spark: SparkSession, tracer: Tracer): Unit = {
    val schema = FixedSchema.fromPath(schemaPath.toString)
    tracer.span("stage.scan")(noop(spark.read.text(input.toString)))
    tracer.span("stage.parse")(noop(FlfParse.read(spark, input.toString, schema)))
  }

  def report(passWalls: Seq[Double], ops: Seq[Op]): Seq[(String, Double, String)] = {
    val mb = inputBytes / 1e6
    Seq(("convert_mb_s", mb / Util.median(passWalls), "MB/s"),
      ("stored_bytes_per_input_byte", Util.bytesUnder(out).toDouble / inputBytes, "ratio"),
      ("input_mb", mb, "MB"), ("input_rows", rows.toDouble, "rows"))
  }
}

/** `Evolution.mock` on the same schema, with a fixed partition count,
  * written as `.flf` text.
  */
final class MockFlf(work: Path, seed: Long, rows: Long, parts: Int) extends Workload {
  private val out = work.resolve("out").resolve("mock.flf")
  private var schemaPath: Path = _

  def prepare(spark: SparkSession): Unit = schemaPath = writeSchema(work)

  def warmup(spark: SparkSession): Unit = {
    val to = work.resolve("out").resolve("warm.flf")
    Util.deleteTree(to)
    Evolution.mock(spark, schemaPath.toString, to.toString, rows / 20, seed,
      numPartitions = parts)
  }

  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer]): Seq[Op] =
    try {
      Util.deleteTree(out)
      val (_, wall) = timed(traced(tracer, "Evolution.mock")(
        Evolution.mock(spark, schemaPath.toString, out.toString, rows, seed,
          numPartitions = parts)))
      Seq(Op("mock", wall, ok = true))
    } catch { case e: Exception => Seq(Op("mock", 0, ok = false, e.toString)) }

  /** Mocker's value ranges per dtype (the reference's contract). */
  private def inRange(c: FlfInput.Col): org.apache.spark.sql.Column = {
    val v = col(c.name)
    c.dtype match {
      case "Boolean"            => lit(true)
      case "Float16"            => v.between(-256, 256)
      case "Float32" | "Int32"  => v.between(-1e6, 1e6)
      case "Float64" | "Int64"  => v.between(-1e9, 1e9)
      case "Int16"              => v.between(-1e4, 1e4)
      case _                    => v.isin(Mocker.firstNames: _*)
    }
  }

  /** Untimed checks of the last pass's output: every line is exactly
    * `rowLength` characters, and a parse-back finds no nulls in the
    * non-nullable columns and every value in Mocker's range.
    */
  def gates(spark: SparkSession): Seq[Gate] = {
    def lines = spark.read.text(out.toString)
    val lengthGate = gate("mock.line_length") {
      val l = lines.agg(count(lit(1)),
        count_if(length(col("value")) =!= FlfInput.rowLength)).head()
      (l.getLong(0) == rows && l.getLong(1) == 0,
        s"${l.getLong(0)} lines (expected $rows), ${l.getLong(1)} not ${FlfInput.rowLength} chars")
    }
    val parseGate = gate("mock.parse_back") {
      val cs = FlfInput.columns
      val r = FlfParse.parse(lines, FixedSchema.fromPath(schemaPath.toString))
        .agg(count(lit(1)),
          cs.map(c => count_if(col(c.name).isNull && lit(!c.nullable)).as(s"null_${c.name}")) ++
            cs.map(c => count_if(not(coalesce(inRange(c), lit(true)))).as(s"range_${c.name}")): _*)
        .head()
      val bad = (1 until r.length).filter(i => r.getLong(i) != 0)
        .map(i => s"${r.schema(i).name}=${r.getLong(i)}")
      (bad.isEmpty,
        if (bad.isEmpty) s"${r.getLong(0)} rows in range, no nulls in non-nullable columns"
        else bad.mkString(", "))
    }
    Seq(lengthGate, parseGate)
  }

  override def chain(spark: SparkSession, tracer: Tracer): Unit = {
    val schema = FixedSchema.fromPath(schemaPath.toString)
    tracer.span("stage.gen")(noop(Mocker.mock(spark, schema, rows, seed, parts)))
    tracer.span("stage.format")(
      noop(FlfFormat.format(Mocker.mock(spark, schema, rows, seed, parts), schema)))
  }

  def report(passWalls: Seq[Double], ops: Seq[Op]): Seq[(String, Double, String)] = {
    val mb = Util.bytesUnder(out) / 1e6
    Seq(("mock_mb_s", mb / Util.median(passWalls), "MB/s"), ("output_mb", mb, "MB"),
      ("output_rows", rows.toDouble, "rows"))
  }
}

/** A fixed set of `SparkEntry.queries`, one pass running each once via
  * `count()` in an order the seed permutes.
  */
final class QueryMix(work: Path, tables: Path, seed: Long) extends Workload {
  val oracleDir: Path = work.resolve("out").resolve("oracle")

  def prepare(spark: SparkSession): Unit =
    QueryMix.queries.foreach(q => require(SparkEntry.queries.contains(q), s"no query $q"))

  def warmup(spark: SparkSession): Unit =
    SparkEntry.queries(QueryMix.warmupQuery)(spark, tables.toString).count()

  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer]): Seq[Op] = {
    val order = new scala.util.Random(seed * 1000003L + n).shuffle(QueryMix.queries)
    order.map { q =>
      spark.catalog.clearCache()
      try {
        val (_, wall) = timed(traced(tracer, s"SparkEntry.queries:$q")(
          SparkEntry.queries(q)(spark, tables.toString).count()))
        Op(q, wall, ok = true)
      } catch { case e: Exception => Op(q, 0, ok = false, e.toString) }
    }
  }

  private var warmGates = Seq.empty[Gate]

  /** The untimed pass writes each result instead of counting it: queries
    * with an oracle leave parquet for the DuckDB comparison that runs
    * after the JVM exits, and the others must return rows.
    */
  override def warmupPass(spark: SparkSession): Seq[Op] = {
    Util.deleteTree(oracleDir)
    Files.createDirectories(oracleDir)
    val sql = QueryMix.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    val results = QueryMix.queries.map { q =>
      val (gate, wall) = timed {
        try {
          val df = SparkEntry.queries(q)(spark, tables.toString)
          if (sql.contains(q)) { df.write.parquet(oracleDir.resolve(q).toString); None }
          else { val n = df.count(); Some(Gate(s"rows:$q", n > 0, s"$n rows")) }
        } catch { case e: Exception => Some(Gate(s"result:$q", ok = false, e.toString)) }
      }
      (q, gate, wall)
    }
    warmGates = results.flatMap(_._2)
    Json.write(oracleDir.resolve("oracle_sql.json"),
      sql.filter { case (q, _) => !warmGates.exists(_.name == s"result:$q") })
    // a second, counting pass: one pass does not settle the JIT for a
    // query's plan, and the timed passes count
    results.map { case (q, g, wall) => Op(q, wall, ok = g.forall(_.ok)) } ++
      pass(spark, 0, None)
  }

  def gates(spark: SparkSession): Seq[Gate] = warmGates

  def report(passWalls: Seq[Double], ops: Seq[Op]): Seq[(String, Double, String)] = {
    val lat = ops.filter(_.ok).map(_.wallS)
    Seq(("mix_wall_s", Util.median(passWalls), "s"),
      ("query_p50_s", Util.median(lat), "s"), ("query_p75_s", Util.quantile(lat, 0.75), "s"),
      ("query_samples", lat.size.toDouble, "count"),
      ("query_samples_above_p75", math.floor(lat.size * 0.25), "count"))
  }
}

object QueryMix {
  /** One cheap representative of each query family that uses exchanges
    * (aggregation, window, kNN, dedup, text) plus the multimodal decoder,
    * so that a pass stays near three seconds on four cores. The flf and
    * mock families are what the two pipeline workloads measure. Stable:
    * add, never rename.
    */
  val queries: Seq[String] = Seq(
    "q1_agg", "q_window_median", "knn_cosine_brute", "dedup_minhash_lsh",
    "text_skipgrams", "multimodal_decode_real")
  val warmupQuery = "q1_agg"

  def family(q: String): String = q.takeWhile(_ != '_').takeWhile(_.isLetter) match {
    case f @ ("flf" | "mock" | "dedup" | "knn" | "q" | "stream" | "text" | "multimodal") => f
    case _ => "other"
  }
}
