package graft.flf

import graft.schema._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The inverse transform: typed DataFrame → fixed-length text lines.
  *
  * Spark-first re-expression of the reference's fixed-length-file sink and
  * the mocker's pad-and-serialize step (reference:
  * crates/evolution-writer/src/writer.rs:35-272,
  * crates/evolution-mocker/src/mocker.rs:146-152). Pure `lpad`/`rpad`/
  * `concat` projection — narrow, shuffle-free, codegen'd.
  */
object FlfFormat {

  /** Render the schema's columns of `df` into one fixed-width line per row,
    * as a single-column DataFrame (`value: string`) ready for `write.text`.
    */
  def format(df: DataFrame, schema: FixedSchema): DataFrame =
    df.select(concat(schema.columns.map(c => formatColumn(col(c.name), c)): _*).as("value"))

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
    * Right alignment ⇒ value sits right ⇒ pad on the left (lpad); Left ⇒
    * rpad; Center splits the padding floor-left/ceil-right, matching the
    * reference's padder output (e.g. "Alice" centered in 30 ';' cells →
    * 12 left / 13 right, FIXTURES.md §2). Overlong values truncate to the
    * cell (lpad/rpad truncation semantics).
    */
  def formatColumn(value: Column, c: FixedColumn): Column = {
    val s = asText(value)
    val pad = c.padSymbol.toString
    c.alignment match {
      case Alignment.Right => lpad(s, c.length, pad)
      case Alignment.Left  => rpad(s, c.length, pad)
      case Alignment.Center =>
        val deficit = greatest(lit(c.length) - length(s), lit(0))
        val left = floor(deficit / 2).cast("int")
        rpad(concat(repeat(lit(pad), left), s), c.length, pad)
    }
  }

  /** Text rendering of any dtype: its string cast. Floats keep Spark's
    * canonical double/float-to-string form; a NULL renders as an all-pad
    * cell (the flf format has no null marker — parsing an all-pad cell
    * yields NULL for nullable columns, the round-trip-consistent choice).
    */
  private def asText(value: Column): Column =
    coalesce(value.cast("string"), lit(""))
}
