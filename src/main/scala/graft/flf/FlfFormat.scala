package graft.flf

import graft.functions.FormatFixedLine
import graft.schema._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The inverse transform: typed DataFrame → fixed-length text lines.
  *
  * Spark-first re-expression of the reference's fixed-length-file sink and
  * the mocker's pad-and-serialize step (reference:
  * crates/evolution-writer/src/writer.rs:35-272,
  * crates/evolution-mocker/src/mocker.rs:146-152). One narrow projection,
  * shuffle-free and codegen'd: every column's typed value feeds one
  * FormatFixedLine kernel, which renders each cell as the exact text of
  * Spark's string cast (decimal digits for integers, `true`/`false`, and
  * for floats and doubles `FloatText`: JDK 17's `String.valueOf` digits
  * from a shortest-digit core on finite normal values below 2^53, or 2^24
  * for floats, and `String.valueOf`'s own chars for every other value or
  * on a runtime that fails FloatText's class-init witness check), pads it
  * and writes the row into one buffer of its exact size, over a copy of
  * the all-pad line, each cell shifted by how many bytes the kept text of
  * the cells before it adds to or takes from their pads. A column of any other
  * type (decimal, date, timestamp, binary) reaches the kernel as its
  * `cast("string")`.
  */
object FlfFormat {

  /** Render the schema's columns of `df` into one fixed-width line per row,
    * as a single-column DataFrame (`value: string`) ready for `write.text`.
    * The cells are written back to back, so the schema must be contiguous:
    * each column's offset is the sum of the lengths before it.
    */
  def format(df: DataFrame, schema: FixedSchema): DataFrame = {
    requireContiguous(schema)
    val values = schema.columns.map(c => col(c.name))
    val types = df.select(values: _*).schema.map(_.dataType)
    val cells = values.zip(types).map { case (v, t) =>
      if (FormatFixedLine.renders(t)) v else v.cast("string")
    }
    df.select(line(cells, schema.columns).as("value"))
  }

  /** Fails unless each column's offset is the sum of the lengths before
    * it. The writer lays cells back to back, so a gap or an overlap would
    * write lines that parse back wrong.
    */
  def requireContiguous(schema: FixedSchema): Unit =
    schema.columns.zip(schema.columns.scanLeft(0)(_ + _.length)).foreach {
      case (c, expected) =>
        require(c.offset == expected,
          s"flf layout not contiguous: column '${c.name}' declares offset " +
            s"${c.offset}, expected $expected (the sum of the earlier lengths); " +
            "the writer lays cells back to back")
    }

  /** Write as a fixed-length file. `coalesce1` forces a single output file
    * for byte-parity with the reference's single-file writer (SURVEY.md
    * §7.4); leave false at scale to let every task write its own split.
    * `mode`: Spark SaveMode name — the reference writer's open-mode
    * properties map onto it (force_create_new = errorifexists [default],
    * truncate_existing = overwrite; writer.rs:112-121, 173-179).
    */
  def write(df: DataFrame, schema: FixedSchema, path: String,
            coalesce1: Boolean = false, mode: String = "errorifexists"): Unit = {
    val lines = format(df, schema)
    (if (coalesce1) lines.coalesce(1) else lines).write.mode(mode).text(path)
  }

  /** Pad one value to its cell width per alignment + pad symbol.
    * Right alignment ⇒ value sits right ⇒ pad on the left; Left ⇒ pad on
    * the right; Center splits the padding floor-left/ceil-right, matching
    * the reference's padder output (e.g. "Alice" centered in 30 ';' cells
    * → 12 left / 13 right, FIXTURES.md §2). Overlong values truncate to
    * the cell.
    */
  def formatColumn(value: Column, c: FixedColumn): Column =
    line(Seq(value.cast("string")), Seq(c))

  /** The cells of `values` under `cols`, as one line. A value's text is its
    * string cast's, so floats keep Spark's canonical double/float-to-string
    * form; a NULL renders as an all-pad cell (the flf format has no null
    * marker — parsing an all-pad cell yields NULL for nullable columns, the
    * round-trip-consistent choice).
    */
  private def line(values: Seq[Column], cols: Seq[FixedColumn]): Column =
    FormatFixedLine(values, cols.map(_.length), cols.map(_.alignment.code),
      cols.map(_.padSymbol))
}
