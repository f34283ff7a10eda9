package graft.cdc

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka-Connect JsonConverter schema mapping (the wire contract the
  * reference actually ships: `value.converter.schemas.enable=true`,
  * connect-standalone.properties:25-26, frames every record as
  * `{"schema": <connect schema>, "payload": <envelope>}` — verified in
  * the captured topic log
  * data/kafka/tmp/kraft-combined-logs/cdc.commerce.account-0/...0.log).
  *
  * The embedded schema carries full type information (`int32`,
  * `int64`, logical names like `io.debezium.time.MicroTimestamp`), so
  * a framed stream needs NO sampling-based schema inference at all:
  * [[rowSchema]] turns the serialized envelope schema into the Spark
  * `StructType` the row images parse under, and [[materialize]] maps
  * each Debezium logical type to its store-side conversion.
  *
  * Scale note: parsing happens once per (table, batch) on the driver —
  * the one schema string per table the sink's routing aggregate
  * returns — never per record.
  */
object ConnectSchema {

  private val mapper = new ObjectMapper

  /** Connect primitive -> Spark wire type. Logical types (by `name`)
    * stay at their transport primitive here; [[materialize]] converts
    * them after parse (the JSON carries e.g. epoch-micros int64, the
    * store holds TIMESTAMP).
    */
  private def dataTypeOf(n: JsonNode): DataType = n.path("type").asText() match {
    case "struct"  => StructType(fieldsOf(n).map(structField))
    case "array"   => ArrayType(dataTypeOf(n.path("items")))
    case "map"     => MapType(dataTypeOf(n.path("keys")), dataTypeOf(n.path("values")))
    case "int8"    => ByteType
    case "int16"   => ShortType
    case "int32"   => IntegerType
    case "int64"   => LongType
    case "float32" => FloatType
    case "float64" => DoubleType
    case "boolean" => BooleanType
    case "string"  => StringType
    case "bytes"   => BinaryType
    case other => throw new IllegalArgumentException(
      s"ConnectSchema: unsupported connect type '$other' — refusing to " +
        "guess (a silently-wrong type would null every value under from_json)")
  }

  private def structField(f: JsonNode): StructField =
    StructField(f.path("field").asText(), dataTypeOf(f),
      nullable = !f.has("optional") || f.path("optional").asBoolean(true))

  private def fieldsOf(n: JsonNode): Seq[JsonNode] = {
    val fs = n.path("fields")
    if (!fs.isArray) Seq.empty else fs.elements().asScala.toVector
  }

  /** Debezium logical types this sink converts on materialize. Names
    * OUTSIDE this set (e.g. `io.debezium.data.Enum`) intentionally ride
    * through at their transport primitive — they are annotations, not
    * representation changes.
    */
  private val Convertible = Set(
    "io.debezium.time.MicroTimestamp", // epoch micros int64
    "io.debezium.time.Timestamp",      // epoch millis int64
    "io.debezium.time.NanoTimestamp",  // epoch nanos int64
    "io.debezium.time.Date",           // epoch days int32
    "org.apache.kafka.connect.data.Date",
    "io.debezium.time.ZonedTimestamp") // ISO-8601 string

  /** Store-side conversion for a wire column carrying a Debezium
    * logical type; None when the logical name needs no conversion.
    */
  def materialize(colName: String, logicalName: String): Option[Column] = {
    val c = col(colName)
    logicalName match {
      case "io.debezium.time.MicroTimestamp" => Some(timestamp_micros(c))
      case "io.debezium.time.Timestamp"      => Some(timestamp_millis(c))
      case "io.debezium.time.NanoTimestamp" =>
        // integral `div`, NOT `/`: long/long is double division in
        // Column algebra, and epoch nanos overflow double's 53-bit
        // mantissa (off-by-a-micro on real values)
        Some(timestamp_micros(expr(
          s"`${colName.replace("`", "``")}` div 1000")))
      case "io.debezium.time.Date" | "org.apache.kafka.connect.data.Date" =>
        Some(date_add(to_date(lit("1970-01-01")), c))
      case "io.debezium.time.ZonedTimestamp" => Some(to_timestamp(c))
      case _ => None
    }
  }

  /** Parse a serialized envelope schema (the framing's `$.schema`
    * value) down to the ROW-IMAGE wire schema: the `StructType` of the
    * `after` struct (falling back to `before` — identical by the
    * Debezium contract) plus the top-level row columns that carry a
    * convertible logical type. Returns None when the JSON is not an
    * envelope-shaped connect struct (the caller then falls back to
    * sampling inference).
    *
    * Nested logical types (inside struct-typed row columns) are not
    * converted — Debezium relational rows are flat; the row columns ARE
    * the source columns.
    */
  def rowSchema(envelopeSchemaJson: String): Option[(StructType, Map[String, String])] = {
    val root =
      try mapper.readTree(envelopeSchemaJson)
      catch { case _: com.fasterxml.jackson.core.JacksonException => null }
    if (root == null || !root.isObject || root.path("type").asText() != "struct") None
    else {
      val envFields = fieldsOf(root)
      envFields.find(_.path("field").asText() == "after")
        .orElse(envFields.find(_.path("field").asText() == "before"))
        .filter(_.path("type").asText() == "struct")
        .map { img =>
          val rowFields = fieldsOf(img)
          val logicals = rowFields.flatMap { f =>
            val nm = f.path("name").asText("")
            if (Convertible(nm)) Some(f.path("field").asText() -> nm) else None
          }.toMap
          (StructType(rowFields.map(structField)), logicals)
        }
    }
  }
}
