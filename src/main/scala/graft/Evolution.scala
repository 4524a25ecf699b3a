package graft

import graft.flf.{FlfFormat, FlfParse}
import graft.mock.Mocker
import graft.schema.FixedSchema
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Output targets (reference: crates/evolution-target/src/target.rs:31-37).
  * Delta/Iceberg are declared-but-unimplemented in the reference
  * (examples/delta/src/main.rs:28-30 `todo!()`); here they are real
  * `df.write.format(...)` calls that fail with a clear message when the
  * connector jars are absent — strictly more than reference parity.
  */
sealed abstract class Target(val format: String)
object Target {
  case object Parquet extends Target("parquet")
  case object Orc extends Target("orc")
  case object Avro extends Target("avro")
  case object Delta extends Target("delta")
  case object Iceberg extends Target("iceberg")
  case object Ipc extends Target("ipc")
  case object Flf extends Target("text")
  def fromString(s: String): Target = s.toLowerCase match {
    case "parquet" => Parquet
    case "orc"     => Orc
    case "avro"    => Avro
    case "delta"   => Delta
    case "iceberg" => Iceberg
    case "ipc"     => Ipc
    case "flf"     => Flf
    case other     => throw new IllegalArgumentException(s"unknown target '$other'")
  }
}

/** Library façade + CLI — the engine's public API (SURVEY.md §2.8).
  * `convert` and `mock` mirror the reference CLI subcommands
  * (reference: examples/full/src/cli.rs:100-188).
  */
object Evolution {

  /** Pure core: (lines, schema) → typed DataFrame (composition contract of
    * EP3, SURVEY.md §3 — usable without the CLI).
    */
  def parse(lines: DataFrame, schema: FixedSchema): DataFrame =
    FlfParse.parse(lines, schema)

  /** `evolution convert`: fixed-length file → columnar target. The plan is
    * scan text → `SliceFixedLine` (every cell sliced, trimmed and typed in
    * one byte walk of the line, FlfParse.parse) → write: narrow,
    * shuffle-free, one whole-stage-codegen'd stage (SURVEY.md §4).
    *
    * Returns the conversion counters the reference logs per chunk
    * (rows/bytes processed, converter.rs:226-232), observed Spark-natively
    * on the SAME pass that writes (`observe()` piggybacks aggregates on
    * the write job — no second scan): `n_rows` out plus a
    * `nulls__<column>` parse-failure tally per nullable column (N1
    * append-or-null events; non-nullable failures abort instead, N2). A
    * tally is `n_rows − count(column)`: `count_if(isNull)` would be
    * rewritten through a common expression that adds a boolean column per
    * tally and a second whole-row projection above the metrics.
    */
  def convert(spark: SparkSession, input: String, schemaPath: String,
              output: String, target: Target = Target.Parquet,
              coalesce1: Boolean = false,
              mode: String = "errorifexists",
              quarantine: Option[String] = None): Map[String, Any] = {
    import org.apache.spark.sql.functions.{col, count, lit, not}
    val schema = FixedSchema.fromPath(schemaPath)
    // before the quarantine job below writes anything
    if (target == Target.Flf) FlfFormat.requireContiguous(schema)
    // With --quarantine, non-nullable parse failures no longer abort the
    // job (N2 strict): bad rows are written — raw line intact, for
    // repair/replay — to the quarantine dir, and only clean rows reach
    // the target. The right policy at scale: one bad row a billion rows
    // in must not cost the partition's work.
    // One flagged frame feeds both sides. Two sinks still mean two jobs
    // (Spark writes one sink per action) and therefore two input scans —
    // deliberately so: the scan+parse is a cheap narrow pass, while
    // materializing the parsed frame (cache/checkpoint) to save the
    // second scan would spill the ENTIRE converted table to executor
    // disk first — strictly worse at the 100 TB sizes quarantine exists
    // for.
    lazy val flagged = FlfParse.parseQuarantine(spark.read.text(input), schema)
    val quarantineCount: Map[String, Any] = quarantine match {
      case Some(qDir) =>
        val badObs = org.apache.spark.sql.Observation()
        flagged.filter(col("_quarantined")).select(col("value"))
          .observe(badObs, count(lit(1)).as("n_quarantined"))
          .write.mode(mode).text(qDir)
        badObs.get
      case None => Map.empty
    }
    val parsed = quarantine match {
      case Some(_) =>
        flagged.filter(not(col("_quarantined"))).drop("value", "_quarantined")
      case None => FlfParse.read(spark, input, schema)
    }
    val obs = org.apache.spark.sql.Observation()
    val nullable = schema.columns.filter(_.isNullable).map(_.name)
    val df = parsed.observe(obs, count(lit(1)).as("n_rows"),
      nullable.map(c => count(col(c)).as(s"nonnull__$c")): _*)
    target match {
      case Target.Flf => FlfFormat.write(df, schema, output, coalesce1, mode)
      case Target.Ipc =>
        // real Arrow IPC write path (the reference stubs this target with
        // todo!() — see graft.sources.IpcSink for the layout contract)
        val d = if (coalesce1) df.coalesce(1) else df
        graft.sources.IpcSink.write(d, output, mode)
      case t =>
        val d = if (coalesce1) df.coalesce(1) else df
        try d.write.mode(mode).format(t.format).save(output)
        catch {
          case e: Exception if e.getMessage != null &&
              (e.getMessage.contains("Failed to find") ||
               e.getMessage.contains("DATA_SOURCE_NOT_FOUND")) =>
            throw new UnsupportedOperationException(
              s"${t.format} connector jars are not on the classpath: ${e.getMessage}")
        }
    }
    val observed = obs.get
    val rows = observed("n_rows").asInstanceOf[Long]
    Map[String, Any]("n_rows" -> rows) ++ nullable.map(c =>
      s"nulls__$c" -> (rows - observed(s"nonnull__$c").asInstanceOf[Long])) ++
      quarantineCount
  }

  /** `evolution curate <op>`: the LLM-pipeline operators as CLI
    * subcommands over parquet — the reference-style CLI user gets the
    * curation surface (dedup / sampling / splits / quality gates /
    * normalization) without writing Scala. Each op is a thin dispatch
    * onto the tested library operator; returns (n_in, n_out).
    */
  def curate(spark: SparkSession, op: String, input: String, output: String,
             textCol: String = "text", idCol: String = "doc_id",
             mod: Int = 10, keep: Int = 1,
             cuts: Seq[Int] = Seq(80, 90),
             labels: Seq[String] = Seq("train", "val", "test"),
             stratumCol: String = "source", budget: Long = 1000000L,
             epoch: Int = 1, shards: Int = 64,
             urlCol: String = "url",
             mode: String = "errorifexists"): Map[String, Long] = {
    import org.apache.spark.sql.functions.{col, size}
    val df = spark.read.parquet(input)
    val out = op match {
      case "dedup-exact" => ops.Dedup.dedupExact(df, textCol, idCol)
      case "dedup-minhash" => ops.Dedup.dedupByMinhash(df, textCol, idCol)
      case "sample-hash" => ops.Pipeline.hashSample(df, idCol, mod, keep)
      case "split" => ops.Pipeline.splitAssign(df, idCol, cuts, labels)
      case "gopher-filter" =>
        df.join(ops.TextAnalysis.gopherRules(df, textCol, idCol)
            .filter(col("pass")).select(idCol),
          Seq(idCol), "left_semi")
      case "normalize" =>
        df.withColumn(textCol, graft.functions.NormalizeText(col(textCol)))
      case "token-budget" =>
        ops.Pipeline.tokenBudgetSample(df, stratumCol, idCol,
          size(ops.TextAnalysis.tokens(col(textCol))), budget)
      case "epoch-shuffle" =>
        ops.Pipeline.epochShuffle(df, idCol, epoch, shards)
      case "url-dedup" => // keep the min-id row per CANONICAL url form
        ops.Dedup.dedupExact(df.withColumn("__curl",
            ops.TextAnalysis.canonicalizeUrl(col(urlCol))), "__curl", idCol)
          .drop("__curl")
      case "audit" => // per-doc gate accounting (why was each row dropped)
        ops.Pipeline.curateAudit(df, lang = "en", minQuality = 0.5,
          sampleMod = mod, sampleKeep = keep, textCol, idCol)
      case other => throw new IllegalArgumentException(
        s"unknown curate op '$other' (dedup-exact | dedup-minhash | " +
          "sample-hash | split | gopher-filter | normalize | " +
          "token-budget | epoch-shuffle | audit | url-dedup)")
    }
    // count piggybacks on the write via observe — one pass, like convert
    val obs = org.apache.spark.sql.Observation()
    out.observe(obs, org.apache.spark.sql.functions
        .count(org.apache.spark.sql.functions.lit(1)).as("n_out"))
      .write.mode(mode).parquet(output)
    Map("n_in" -> df.count(), "n_out" -> obs.get("n_out").asInstanceOf[Long])
  }

  /** `evolution analyze`: corpus-statistics reports over a document
    * parquet — the planning tables a curation run reads before choosing
    * its knobs (vocabulary growth → is more data still buying types;
    * coverage → tokenizer budget / OOV mass; zipf → prune threshold;
    * quality → per-doc token stats). Thin dispatch onto the tested
    * library operators; writes the report parquet, returns its row
    * count.
    */
  def analyze(spark: SparkSession, op: String, input: String, output: String,
              textCol: String = "text", idCol: String = "doc_id",
              bucketDocs: Int = 1000, ks: Seq[Int] = Seq(100, 1000, 10000),
              input2: Option[String] = None, binCol: String = "source",
              k: Int = 100, mode: String = "errorifexists"): Long = {
    val df = spark.read.parquet(input)
    def df2 = spark.read.parquet(input2.getOrElse(sys.error(
      s"analyze $op compares two cohorts — pass -j <reference.parquet>")))
    val out = op match {
      case "heaps" => ops.TextAnalysis.heapsLaw(df, bucketDocs, idCol, textCol)
      case "vocab-coverage" => ops.TextAnalysis.vocabCoverage(df, ks, textCol)
      case "zipf" => ops.TextAnalysis.zipfDecades(df, textCol)
      case "quality" => ops.TextAnalysis.stats(df, textCol)
      // drift monitoring: -i new cohort vs -j reference, over --bin-col
      case "psi" => ops.Quality.psi(df2, df, binCol)
      case "drift" => ops.Quality.categoricalDrift(df2, df, binCol)
      case "hill" =>
        ops.TextAnalysis.hillTailIndex(df,
          org.apache.spark.sql.functions.col(textCol), k)
      case other => throw new IllegalArgumentException(
        s"unknown analyze op '$other' (heaps | vocab-coverage | zipf | " +
          "quality | psi | drift | hill)")
    }
    val obs = org.apache.spark.sql.Observation()
    out.observe(obs, org.apache.spark.sql.functions
        .count(org.apache.spark.sql.functions.lit(1)).as("n_out"))
      .write.mode(mode).parquet(output)
    obs.get("n_out").asInstanceOf[Long]
  }

  /** `evolution mock`: schema-driven random fixed-length file. */
  def mock(spark: SparkSession, schemaPath: String, output: String,
           nRows: Long = 100000L, seed: Long = 42L, coalesce1: Boolean = false,
           numPartitions: Int = 0, mode: String = "errorifexists"): Unit =
    Mocker.mockToFlf(spark, FixedSchema.fromPath(schemaPath), nRows, seed, output,
      coalesce1, numPartitions, mode)

  /** CLI/session entry. CLUSTER-DEPLOYABLE (r13, VERDICT r12 §1): a
    * master configured by the environment — `spark-submit --master
    * yarn|k8s://…` sets the `spark.master` system property, and an
    * already-active session wins `getOrCreate()` outright — is
    * RESPECTED, and with it the cluster's own shuffle-partition /
    * AQE defaults. Only when nothing is configured (the bare
    * `java -jar` / sbt-run path the harness uses) does the builder fall
    * back to `local[$SPARK_GRAFT_CPUS]` with shuffle parallelism pinned
    * to the core count — the right local default, and previously a pin
    * that silently overrode YARN/k8s submission into local mode. Unset,
    * `SPARK_GRAFT_CPUS` is the machine's available processors; the CLI,
    * `Bench`, `Profile` and `Verify` all open their session here, so this
    * is their one default.
    */
  def session(appName: String = "evolutionspark"): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // spark-submit communicates the cluster master via the spark.master
    // system property (getOrCreate() picks it up on its own); honor a
    // bare-java SPARK_MASTER env var the same way (r13 review: checking
    // it without APPLYING it left the builder masterless → crash)
    // an empty SPARK_MASTER= (a wrapper script exporting the var unset)
    // must act as absent, and a whitespace-padded value (quoting slips
    // in wrapper scripts) must be applied TRIMMED — SparkContext parses
    // the master URL verbatim, so " local[4] " crashes the builder the
    // same way the empty case did (ADVICE r13 + r14 review)
    val envMaster = sys.env.get("SPARK_MASTER").map(_.trim).filter(_.nonEmpty)
    envMaster.filter(_ => !sys.props.contains("spark.master"))
      .foreach(b.master)
    if (!sys.props.contains("spark.master") && envMaster.isEmpty) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString)
      b.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    }
    b.getOrCreate()
  }

  /** CLI (flag surface per reference cli.rs:100-188):
    * `convert -i <flf> -s <schema.json> -o <out> [-t parquet] [-R bytes]
    *   [--single-file] [--truncate-existing] [--quarantine <dir>]`
    * `mock -s <schema.json> -o <out> [-n rows] [--seed s] [-N partitions]
    *   [--single-file] [--truncate-existing]`
    * `curate <op> -i <in.parquet> -o <out.parquet> [--text-col text]
    *   [--id-col doc_id] [--mod m --keep k] [--cuts 80,90 --labels a,b,c]
    *   [--stratum-col source --budget n] [--epoch e --shards n]`
    *   where op ∈ dedup-exact | dedup-minhash | sample-hash | split |
    *   gopher-filter | normalize | token-budget | epoch-shuffle
    *   (§7.5 surface as CLI subcommands)
    * Mapping of the reference's knobs: `-N threads` → mock partitions
    * (convert parallelism is the file-split count), `-R read buffer
    * bytes` → `spark.sql.files.maxPartitionBytes`, `--truncate-existing`
    * → SaveMode.Overwrite (default force-create-new = ErrorIfExists,
    * writer.rs:112-121); `-C channel capacity` has no analogue (Spark's
    * scheduler owns backpressure).
    */
  def main(args: Array[String]): Unit = {
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val spark = session()
    val mode = if (args.contains("--truncate-existing")) "overwrite" else "errorifexists"
    opt("-R").foreach(bytes =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", bytes))
    try args.headOption match {
      case Some("convert") =>
        val metrics = convert(spark,
          opt("-i").getOrElse(sys.error("convert requires -i <input.flf>")),
          opt("-s").getOrElse(sys.error("convert requires -s <schema.json>")),
          opt("-o").getOrElse(sys.error("convert requires -o <output>")),
          Target.fromString(opt("-t").getOrElse("parquet")),
          coalesce1 = args.contains("--single-file"),
          mode = mode,
          quarantine = opt("--quarantine"))
        // progress/quality counters, mirroring the reference's post-chunk
        // log line (converter.rs:226-232)
        println(metrics.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString("convert metrics: ", " ", ""))
      case Some("curate") =>
        val metrics = curate(spark,
          args.lift(1).getOrElse(sys.error(
            "curate requires an op: dedup-exact | dedup-minhash | " +
              "sample-hash | split | gopher-filter | normalize")),
          opt("-i").getOrElse(sys.error("curate requires -i <input.parquet>")),
          opt("-o").getOrElse(sys.error("curate requires -o <output.parquet>")),
          textCol = opt("--text-col").getOrElse("text"),
          idCol = opt("--id-col").getOrElse("doc_id"),
          mod = opt("--mod").map(_.toInt).getOrElse(10),
          keep = opt("--keep").map(_.toInt).getOrElse(1),
          cuts = opt("--cuts").map(_.split(",").map(_.toInt).toSeq)
            .getOrElse(Seq(80, 90)),
          labels = opt("--labels").map(_.split(",").toSeq)
            .getOrElse(Seq("train", "val", "test")),
          stratumCol = opt("--stratum-col").getOrElse("source"),
          budget = opt("--budget").map(_.toLong).getOrElse(1000000L),
          epoch = opt("--epoch").map(_.toInt).getOrElse(1),
          shards = opt("--shards").map(_.toInt).getOrElse(64),
          mode = mode)
        println(metrics.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString("curate metrics: ", " ", ""))
      case Some("mock") =>
        mock(spark,
          opt("-s").getOrElse(sys.error("mock requires -s <schema.json>")),
          opt("-o").getOrElse(sys.error("mock requires -o <output>")),
          nRows = opt("-n").map(_.toLong).getOrElse(100000L),
          seed = opt("--seed").map(_.toLong).getOrElse(42L),
          coalesce1 = args.contains("--single-file"),
          numPartitions = opt("-N").map(_.toInt).getOrElse(0),
          mode = mode)
      case Some("index") =>
        // persisted ANN index over an embedding parquet: `index build`
        // trains the k-means codebook and writes codebook+cell layout;
        // `index search` answers top-k from the layout with NO corpus
        // assignment pass (Similarity.writeIvfIndex/ivfKnnFromIndex)
        args.lift(1) match {
          case Some("build") =>
            ops.Similarity.writeIvfIndex(
              spark.read.parquet(opt("-i").getOrElse(
                sys.error("index build requires -i <embeddings.parquet>"))),
              opt("-o").getOrElse(sys.error("index build requires -o <indexDir>")),
              k = opt("-k").map(_.toInt).getOrElse(8),
              iters = opt("--iters").map(_.toInt).getOrElse(2),
              dim = opt("--dim").map(_.toInt).getOrElse(64),
              idCol = opt("--id-col").getOrElse("vec_id"),
              vecCol = opt("--vec-col").getOrElse("embedding"),
              mode = mode)
            println(s"index build: wrote codebook + cells under ${opt("-o").get}")
          case Some("search") =>
            val out = ops.Similarity.ivfKnnFromIndex(spark,
              opt("-x").getOrElse(sys.error("index search requires -x <indexDir>")),
              spark.read.parquet(opt("-q").getOrElse(
                sys.error("index search requires -q <queries.parquet>"))),
              k = opt("-k").map(_.toInt).getOrElse(5),
              idCol = opt("--id-col").getOrElse("vec_id"),
              vecCol = opt("--vec-col").getOrElse("embedding"))
            out.write.mode(mode).parquet(opt("-o").getOrElse(
              sys.error("index search requires -o <output.parquet>")))
            println(s"index search: wrote top-k matches to ${opt("-o").get}")
          case Some("append") =>
            ops.Similarity.ivfIndexAppend(spark,
              opt("-x").getOrElse(sys.error("index append requires -x <indexDir>")),
              spark.read.parquet(opt("-i").getOrElse(
                sys.error("index append requires -i <batch.parquet>"))),
              idCol = opt("--id-col").getOrElse("vec_id"),
              vecCol = opt("--vec-col").getOrElse("embedding"))
            println(s"index append: assigned + appended batch into ${opt("-x").get}")
          case Some("compact") =>
            ops.Similarity.ivfIndexCompact(spark,
              opt("-x").getOrElse(sys.error("index compact requires -x <indexDir>")))
            println(s"index compact: rewrote cell partitions of ${opt("-x").get}")
          case Some("knn-graph") =>
            // ANN-backed kNN-graph construction over the persisted index
            // (Graph.knnGraph): symmetrized distinct (src, dst) edges,
            // --n-probe = the recall-vs-cost knob (tune with
            // q_eval_knn_graph_recall's table before a corpus-scale run)
            val out = ops.Graph.knnGraph(spark,
              opt("-x").getOrElse(sys.error("index knn-graph requires -x <indexDir>")),
              k = opt("-k").map(_.toInt).getOrElse(3),
              nProbe = opt("--n-probe").map(_.toInt).getOrElse(1),
              idCol = opt("--id-col").getOrElse("vec_id"),
              vecCol = opt("--vec-col").getOrElse("embedding"))
            out.write.mode(mode).parquet(opt("-o").getOrElse(
              sys.error("index knn-graph requires -o <edges.parquet>")))
            println(s"index knn-graph: wrote symmetrized edge list to ${opt("-o").get}")
          case other => sys.error(
            s"unknown index op '${other.getOrElse("")}' (build | search | append | compact | knn-graph)")
        }
      case Some("analyze") =>
        val n = analyze(spark,
          args.lift(1).getOrElse(sys.error(
            "analyze requires an op: heaps | vocab-coverage | zipf | quality | psi | drift | hill")),
          opt("-i").getOrElse(sys.error("analyze requires -i <input.parquet>")),
          opt("-o").getOrElse(sys.error("analyze requires -o <output.parquet>")),
          textCol = opt("--text-col").getOrElse("text"),
          idCol = opt("--id-col").getOrElse("doc_id"),
          bucketDocs = opt("--bucket-docs").map(_.toInt).getOrElse(1000),
          ks = opt("--ks").map(_.split(",").map(_.toInt).toSeq)
            .getOrElse(Seq(100, 1000, 10000)),
          input2 = opt("-j"), binCol = opt("--bin-col").getOrElse("source"),
          k = opt("--k").map(_.toInt).getOrElse(100),
          mode = mode)
        println(s"analyze ${args.lift(1).get}: wrote $n rows to ${opt("-o").get}")
      case _ =>
        System.err.println(
          "usage: evolution (convert|mock|curate <op>|analyze <op>|" +
            "index build|index search|index append|index compact|" +
            "index knn-graph) [options]")
        sys.exit(2)
    } finally spark.stop()
  }
}
