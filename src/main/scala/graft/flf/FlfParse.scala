package graft.flf

import graft.schema._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The convert read path: fixed-length text lines → typed DataFrame.
  *
  * Spark-first re-expression of the reference's extract → trim → cast
  * pipeline (reference: crates/evolution-builder/src/builder.rs:54-64,
  * crates/evolution-parser/src/datatype.rs:37-178). The whole plan is a
  * single narrow `select` over `spark.read.text` whose one kernel,
  * `SliceFixedLine`, slices, trims and types every cell of a line in one
  * byte walk — no shuffle, no per-cell cast, fully
  * whole-stage-codegen'd; Hadoop's LineRecordReader provides the
  * newline-aligned chunk splitting the reference hand-rolls
  * (crates/evolution-slicer/src/slicer.rs:159-266).
  */
object FlfParse {

  /** Read a fixed-length file into a typed DataFrame. */
  def read(spark: SparkSession, path: String, schema: FixedSchema): DataFrame =
    parse(spark.read.text(path), schema)

  /** Parse a DataFrame of lines (column `value: string`) per the schema:
    * one SliceFixedLine walk per row extracts, trims and types every cell
    * in O(line length), independent of column count, and each column reads
    * its field of that struct; a non-nullable column's null aborts the job
    * ([[strict]]). Staged in two projections so the kernel evaluates once
    * per row (CollapseProject keeps a non-cheap producer used more than
    * once in its own projection).
    */
  def parse(lines: DataFrame, schema: FixedSchema): DataFrame =
    lines.select(col("value"), typed(col("value"), schema))
      .select(schema.columns.zipWithIndex.map { case (c, i) =>
        strict(cell(i), cellText(col("value"), c), c)
      }: _*)

  /** Every column's typed cell of `line` in one SliceFixedLine walk, as
    * the `__typed` struct both [[parse]] and [[parseQuarantine]] read.
    */
  private def typed(line: Column, schema: FixedSchema): Column =
    slice(line, schema.columns, schema.columns.map(_.dtype.sparkType)).as("__typed")

  /** Column i's value: its field of the `__typed` struct. */
  private def cell(i: Int): Column = col("__typed").getField(s"_$i")

  /** Column `c`'s trimmed text from the same kernel, typed as one Utf8 cell. */
  private def cellText(line: Column, c: FixedColumn): Column =
    slice(line, Seq(c), Seq(StringType)).getField("_0")

  private def slice(line: Column, cols: Seq[FixedColumn], types: Seq[DataType]): Column =
    graft.functions.SliceFixedLine(line, cols.map(_.offset), cols.map(_.length),
      cols.map(_.alignment.code), cols.map(_.padSymbol), types)

  /** Schema evolution — the reference's namesake scenario: a fleet of
    * fixed-length files written under successive schema generations
    * (`FixedSchema.version`), each with its own layout, evolved into ONE
    * table shaped by the newest generation. Every generation parses with
    * its own offsets/pads/types; columns align by NAME to the newest
    * schema; columns a generation predates null-fill; columns the newest
    * schema dropped are omitted. The union is narrow (no shuffle): each
    * input split parses straight into the target shape.
    *
    * Generations must agree on the dtype of any shared column name
    * (checked up front — silently casting e.g. an old Int32 into a new
    * Utf8 would mask real layout bugs).
    */
  def parseEvolving(generations: Seq[(DataFrame, FixedSchema)]): DataFrame = {
    require(generations.nonEmpty, "parseEvolving requires at least one generation")
    val target = generations.last._2
    for ((_, g) <- generations; c <- g.columns) {
      target.columns.find(_.name == c.name).foreach { tc =>
        require(tc.dtype == c.dtype,
          s"column '${c.name}': generation ${g.version} declares ${c.dtype}, " +
            s"newest generation ${target.version} declares ${tc.dtype}")
      }
    }
    generations.map { case (lines, gen) =>
      val parsed = parse(lines, gen)
      target.columns.map { tc =>
        if (gen.columns.exists(_.name == tc.name)) parsed.col(tc.name)
        else lit(null).cast(tc.dtype.sparkType).as(tc.name)
      } match { case cols => parsed.select(cols: _*) }
    }.reduce(_.unionByName(_))
  }

  /** Per-column composed parse (substring → trim → cast), the semantic
    * reference for the typed kernel: the test oracle FlfSpec checks
    * [[parse]] and [[parseQuarantine]] against.
    */
  def parseComposed(lines: DataFrame, schema: FixedSchema): DataFrame =
    lines.select(schema.columns.map(c => parseColumn(col("value"), c)): _*)

  /** The per-column parse expression, composable into any plan. */
  def parseColumn(line: Column, c: FixedColumn): Column = {
    val raw = substring(line, c.offset + 1, c.length)
    fromTrimmed(trimPad(raw, c), c)
  }

  /** Strict cast + null policy from an already-trimmed cell: the
    * per-column form of what [[parse]] does for a whole row.
    */
  def fromTrimmed(trimmed: Column, c: FixedColumn): Column =
    strict(castStrict(trimmed, c.dtype), trimmed, c)

  /** The null policy (reference: builder/datatype.rs:66-86 +
    * column.rs:123-131): parse failure on a nullable column → NULL; on a
    * non-nullable column the first bad row aborts the whole job (N2 strict
    * abort), naming the column and its trimmed text. The abort is the
    * `coalesce` fallback, so `trimmed` is evaluated only on a failing row
    * and `parsed` once: generated code for
    * `when(parsed.isNull, …).otherwise(parsed)` evaluates `parsed` twice,
    * in the condition and in the value.
    */
  private def strict(parsed: Column, trimmed: Column, c: FixedColumn): Column = {
    val checked =
      if (c.isNullable) parsed
      else
        coalesce(parsed,
          raise_error(concat(
            lit(s"strict-mode abort: non-nullable column '${c.name}' failed to parse value '"),
            trimmed, lit("'"))).cast(c.dtype.sparkType))
    checked.as(c.name)
  }

  /** QUARANTINE-mode parse — the third null policy (the reference has
    * two: append-or-null for nullable columns, whole-job strict abort
    * for non-nullable, builder/column.rs:123-131). Strict abort is the
    * wrong tool at 100 TB — one bad row a billion rows in kills the job
    * and loses the partition's work. Here every column parses leniently
    * (null on failure) and `_quarantined` flags rows where any
    * NON-NULLABLE column failed; callers split on the flag and route bad
    * rows — raw line retained for repair — to a side sink while the good
    * rows commit. A pure narrow projection over the same typed kernel as
    * the strict path.
    */
  def parseQuarantine(lines: DataFrame, schema: FixedSchema,
                      lineCol: String = "value"): DataFrame = {
    val reserved = schema.columns.map(_.name)
      .filter(n => n == lineCol || n == "_quarantined")
    require(reserved.isEmpty,
      s"parseQuarantine reserves column name(s) '$lineCol' (raw line) and " +
        s"'_quarantined' (flag); rename schema column(s) ${reserved.mkString(", ")} " +
        "or pass a different lineCol")
    val parsedCols = schema.columns.zipWithIndex.map { case (c, i) => cell(i).as(c.name) }
    val bad = schema.columns.filterNot(_.isNullable)
      .map(c => col(c.name).isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    lines.select(col(lineCol), typed(col(lineCol), schema))
      .select(col(lineCol) +: parsedCols: _*)
      .withColumn("_quarantined", bad)
  }

  /** Strip the pad symbol according to alignment (reference:
    * crates/evolution-parser/src/trimmer.rs:88-94): Left-aligned values are
    * padded on the right → rtrim; Right-aligned → ltrim; Center → both.
    */
  def trimPad(raw: Column, c: FixedColumn): Column = {
    val pad = c.padSymbol.toString
    c.alignment match {
      case Alignment.Left   => rtrim(raw, pad)
      case Alignment.Right  => ltrim(raw, pad)
      case Alignment.Center => trim(raw, pad)
    }
  }

  /** Typed cast with the reference's parse grammar:
    *  - Boolean accepts exactly "true"/"false" (Rust `str::parse::<bool>`,
    *    reference: parser/datatype.rs:37-70) — stricter than Spark's cast,
    *    so expressed as an explicit `when` chain.
    *  - Numerics: `try_cast` returns NULL on garbage/overflow, the same
    *    observable semantics as the reference's `None`
    *    (parser/datatype.rs:115-142; SURVEY.md §2.3 C2/C3) — and is
    *    independent of the session's `spark.sql.ansi.enabled` setting
    *    (ANSI is on by default in Spark 4, where a plain cast would throw).
    *  - Utf8 never fails (parser/datatype.rs:145-178).
    */
  def castStrict(trimmed: Column, t: FlfType): Column = t match {
    case FlfType.BooleanT =>
      when(trimmed === "true", lit(true))
        .when(trimmed === "false", lit(false))
        .otherwise(lit(null).cast("boolean"))
    case other => trimmed.try_cast(other.sparkType)
  }
}
