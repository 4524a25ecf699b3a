package graft.schema

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Column alignment within its fixed-width cell.
  *
  * Mirrors the reference's `padder::Alignment` usage
  * (reference: crates/evolution-schema/src/column.rs:61-66, default Right).
  * `code` is how the fixed-width kernels (SliceFixedLine, FormatFixedLine)
  * take it: 0 = Left, 1 = Right, 2 = Center.
  */
sealed abstract class Alignment(val code: Int)
object Alignment {
  case object Left extends Alignment(0)
  case object Right extends Alignment(1)
  case object Center extends Alignment(2)
  def fromString(s: String): Alignment = s match {
    case "Left"   => Left
    case "Right"  => Right
    case "Center" => Center
    case other    => throw SchemaError(s"invalid alignment '$other' (expected Left|Right|Center)")
  }
}

/** The 21 named pad symbols of the reference schema contract
  * (reference: examples/full/res/template_schema.json "pad_symbol" enum;
  * default Whitespace per crates/evolution-schema/src/column.rs:61-66).
  */
object PadSymbol {
  val table: Map[String, Char] = Map(
    "Whitespace" -> ' ', "Zero" -> '0', "One" -> '1', "Two" -> '2',
    "Three" -> '3', "Four" -> '4', "Five" -> '5', "Six" -> '6',
    "Seven" -> '7', "Eight" -> '8', "Nine" -> '9', "Hyphen" -> '-',
    "Underscore" -> '_', "Dot" -> '.', "Comma" -> ',', "Colon" -> ':',
    "Semicolon" -> ';', "Hashtag" -> '#', "Backslash" -> '\\',
    "Forwardslash" -> '/', "Asterisk" -> '*')
  def fromString(s: String): Char =
    table.getOrElse(s, throw SchemaError(s"invalid pad_symbol '$s'"))
}

/** The reference's 9 primitive datatypes
  * (reference: crates/evolution-common/src/datatype.rs:36-46) and their Spark
  * mapping (SURVEY.md §1.2). Float16 widens to FloatType following the
  * reference's own Delta rule (column.rs:153-159); LargeUtf8 ≡ StringType
  * (Arrow offset-width detail with no Spark distinction, column.rs:220-231).
  */
sealed abstract class FlfType(val sparkType: DataType)
object FlfType {
  case object BooleanT extends FlfType(BooleanType)
  case object Float16T extends FlfType(FloatType)
  case object Float32T extends FlfType(FloatType)
  case object Float64T extends FlfType(DoubleType)
  case object Int16T extends FlfType(ShortType)
  case object Int32T extends FlfType(IntegerType)
  case object Int64T extends FlfType(LongType)
  case object Utf8T extends FlfType(StringType)
  case object LargeUtf8T extends FlfType(StringType)
  def fromString(s: String): FlfType = s match {
    case "Boolean"   => BooleanT
    case "Float16"   => Float16T
    case "Float32"   => Float32T
    case "Float64"   => Float64T
    case "Int16"     => Int16T
    case "Int32"     => Int32T
    case "Int64"     => Int64T
    case "Utf8"      => Utf8T
    case "LargeUtf8" => LargeUtf8T
    case other       => throw SchemaError(s"invalid dtype '$other'")
  }
}

final case class SchemaError(msg: String) extends RuntimeException(msg)

/** One fixed-width column: `offset`/`length` are measured in characters
  * (runes), not bytes — which matches Spark's character-based `substring`
  * exactly (reference: crates/evolution-schema/src/column.rs:52-69;
  * rune semantics column.rs:55-58).
  */
final case class FixedColumn(
    name: String,
    offset: Int,
    length: Int,
    dtype: FlfType,
    alignment: Alignment = Alignment.Right,
    padSymbol: Char = ' ',
    isNullable: Boolean = false) {
  def toStructField: StructField = StructField(name, dtype.sparkType, isNullable)
}

/** Ordered fixed-width schema over newline-delimited text rows
  * (reference: crates/evolution-schema/src/schema.rs:45-52; JSON contract
  * examples/full/res/template_schema.json).
  */
final case class FixedSchema(name: String, version: Long, columns: Seq[FixedColumn]) {
  /** Total row width in characters (reference: schema.rs:119-121). */
  def rowLength: Int = columns.map(_.length).sum
  /** Output-file schema with per-field nullability (reference: schema.rs:180-188). */
  def toStructType: StructType = StructType(columns.map(_.toStructField))
}

object FixedSchema {
  private val mapper = new ObjectMapper() // strict: rejects trailing commas, like serde

  /** Parse + validate a schema JSON file (reference: schema.rs:93-96).
    * Validation mirrors template_schema.json: required fields, enum values,
    * at least one column.
    */
  def fromPath(path: String): FixedSchema =
    fromJson(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  def fromJson(json: String): FixedSchema = {
    val root =
      try mapper.readTree(json)
      catch { case e: Exception => throw SchemaError(s"malformed schema JSON: ${e.getMessage}") }
    // `field` of `node`, which must hold JSON of the kind `want` names:
    // Jackson's asInt/asBoolean/asText coerce ("abc" → 0, 7.9 → 7, "yes" →
    // false) where serde rejects the field. `where` names the column.
    def req(node: JsonNode, field: String, want: String, ok: JsonNode => Boolean,
            where: String = ""): JsonNode = {
      val n = node.get(field)
      if (n == null) throw SchemaError(s"${where}missing required field '$field'")
      if (!ok(n)) throw SchemaError(s"${where}field '$field' must be $want, got $n")
      n
    }
    val isText = (n: JsonNode) => n.isTextual
    val isInt = (n: JsonNode) => n.isIntegralNumber && n.canConvertToInt
    val columns = req(root, "columns", "an array", _.isArray).elements().asScala.toSeq
      .zipWithIndex.map { case (c, i) =>
        val named = c.get("name")
        val where =
          if (named != null && named.isTextual) s"column '${named.asText()}': " else s"column $i: "
        def str(field: String): String = req(c, field, "a string", isText, where).asText()
        FixedColumn(
          name = str("name"),
          offset = req(c, "offset", "an integer", isInt, where).asInt(),
          length = req(c, "length", "an integer", isInt, where).asInt(),
          dtype = FlfType.fromString(str("dtype")),
          alignment = if (c.has("alignment")) Alignment.fromString(str("alignment")) else Alignment.Right,
          padSymbol = if (c.has("pad_symbol")) PadSymbol.fromString(str("pad_symbol")) else ' ',
          isNullable = req(c, "is_nullable", "true or false", _.isBoolean, where).asBoolean())
      }
    if (columns.isEmpty) throw SchemaError("schema must declare at least one column (minItems: 1)")
    columns.foreach { c =>
      if (c.length <= 0) throw SchemaError(s"column '${c.name}': length must be positive")
      if (c.offset < 0) throw SchemaError(s"column '${c.name}': offset must be non-negative")
    }
    FixedSchema(req(root, "name", "a string", isText).asText(),
      req(root, "version", "an integer", n => n.isIntegralNumber && n.canConvertToLong).asLong(),
      columns)
  }
}
