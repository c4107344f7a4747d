package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-side schema handling — the reference's ingestor processor
  * (glassflow-api/internal/ingestor/processor.go:178-239):
  *
  *  - strip the Confluent Schema Registry wire-format prefix
  *    `[0x00][uint32 BE schema-id]` when present
  *    (internal/schema_v2/schema.go:180-190)
  *  - parse JSON against the declared StructType, ONE `from_json` per row
  *    per frame ([[ingest]]), vs. the reference's parse-per-stage
  *    (SURVEY.md §4):
  *    - the valid-rows frame parses every declared field that is not a
  *      string, which validation needs, plus the string fields the caller
  *      reads (`read`; every field when `read` is None), and returns only
  *      the fields it reads;
  *    - the corrupt-rows frame parses only the fields that can fail: the
  *      declared fields that are not strings.
  *    Either parse set gives the same valid/corrupt split as parsing every
  *    declared field (see `isCorrupt`). A pipeline that runs both frames
  *    as two streaming queries parses each event twice in all.
  *  - rows that fail schema validation split to the DLQ frame instead of
  *    failing the stream ("poison records never stop the pipeline")
  *
  * The parse is strict where Spark's JSON reader is lenient by default:
  * single-quoted strings and bare `NaN`/`Infinity` (or those words quoted,
  * for a numeric field) are corrupt. One gap stays: the parser stops after
  * the first JSON value, so trailing data (`{"i":1}{"i":2}`,
  * `{"i":1} trailing`) is accepted as the first object.
  *
  * Each frame parses inside a `Generate` that emits zero or one row per
  * payload: `explode(filter(array(from_json(..)), p -> test(p)))`. A parse
  * in a projected alias followed by a `Filter` on the corrupt test is not
  * enough: Catalyst inlines the alias into the pushed-down filter, so the
  * filter and the projection above it each carry their own parse. Nor is a
  * `Generate` followed by that `Filter`: constraint propagation then
  * rewrites the filter's per-field predicate once per projected
  * `__parsed.f AS f` alias, doubling the constraint set per field, and a
  * 35-field schema never finishes planning its first micro-batch. With
  * the test inside the generator, the parse runs once and there is no
  * filter to push or to propagate. Catalyst cannot narrow that parse
  * either (the test reads every parsed field), so the parse schema itself
  * is what decides how many fields are materialized per event.
  */
object JsonIngest {

  /** Wire-format handling on a binary Kafka `value` column: returns
    * (payload string column, schema-id column — null when unframed). */
  def stripSchemaRegistryPrefix(value: Column): (Column, Column) = {
    val framed = length(value) >= 5 && substring(value, 1, 1) === lit(Array[Byte](0))
    val schemaId = when(framed,
      conv(hex(substring(value, 2, 4)), 16, 10).cast(LongType))
    val payload = when(framed, substring(value, 6, Int.MaxValue).cast(StringType))
      .otherwise(value.cast(StringType))
    (payload, schemaId)
  }

  private val Parsed = "__parsed"
  private val CorruptField = "__corrupt_rec"

  /** The rows of `df` whose payload is corrupt (`corrupt = true`) or valid
    * (`false`), plus the struct column `__parsed`: the payload parsed once,
    * against `fields` and a corrupt-record column (PERMISSIVE). */
  private def parsedWhere(df: DataFrame, jsonCol: String, fields: Seq[StructField],
                          schema: StructType, corrupt: Boolean): DataFrame = {
    val parseSchema = StructType(fields :+ StructField(CorruptField, StringType))
    val parsed = from_json(col(jsonCol), parseSchema, Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> CorruptField,
      "allowSingleQuotes" -> "false", "allowNonNumericNumbers" -> "false"))
    df.select(col("*"), explode(filter(array(parsed), { p =>
      val c = isCorrupt(col(jsonCol), p, fields.map(_.name), schema)
      if (corrupt) c else !c
    })).as(Parsed))
  }

  /** Corrupt means: malformed JSON or a type-mismatched declared field
    * (both land in from_json's corrupt-record column under PERMISSIVE —
    * the reference fails validation on any bad field type,
    * schema_v2/validate.go:186-196), or a syntactically valid object
    * containing NONE of the declared fields (missing fields fail reference
    * validation, validate.go:221). A record whose declared fields are
    * present but null is NOT corrupt — from_json cannot distinguish
    * explicit null from absent, so presence is checked via
    * json_object_keys only when every field of `parsed` is null (the &&
    * short-circuits; the second parse never runs on the hot path).
    *
    * `parsed` may hold any subset of the declared fields that includes
    * every field that is not a string, and the answer is the same: Spark's
    * JSON parser turns any JSON value into a string, so a string field
    * never fails conversion, and a non-null string field's key is present,
    * which the all-null rule checks by key anyway. */
  private def isCorrupt(json: Column, parsed: Column, parsedFields: Seq[String],
                        schema: StructType): Column = {
    val allNull = parsedFields.map(f => parsed.getField(f).isNull)
      .reduceOption(_ && _).getOrElse(lit(true))
    // dotted names resolve literal-first then nested (mapper.go:100-118),
    // so either the literal key or its root segment counts as present
    val declaredKeys = schema.fieldNames.flatMap(f => Seq(f, f.split('.').head)).distinct.toSeq
    val anyDeclaredKey = arrays_overlap(json_object_keys(json), array(declaredKeys.map(lit): _*))
    json.isNotNull && (parsed.isNull || parsed.getField(CorruptField).isNotNull ||
      (allNull && !coalesce(anyDeclaredKey, lit(false))))
  }

  /** Parse + validate a JSON string column against the declared schema,
    * split into (valid rows: the schema's fields that `read` names, every
    * field when it is None, plus the `keep` columns; corrupt rows: the raw
    * payload as `__raw` plus the `keep` columns). `read` only narrows what
    * is parsed and returned: every non-string field is still validated.
    *
    * `keep` names source columns carried through UNCHANGED alongside the
    * parsed fields — Kafka lineage/meta columns (timestamp, partition,
    * offset) that downstream dedup windows and audit trails need; the
    * reference's processor passes its message context the same way. */
  def ingest(df: DataFrame, jsonCol: String, schema: StructType,
             keep: Seq[String] = Nil, read: Option[Set[String]] = None): (DataFrame, DataFrame) = {
    def reads(f: StructField): Boolean = read.forall(_.contains(f.name))
    // only a field that is not a string can fail conversion (isCorrupt)
    def canFail(f: StructField): Boolean = f.dataType != StringType
    val valid = parsedWhere(df, jsonCol, schema.fields.filter(f => canFail(f) || reads(f)),
        schema, corrupt = false)
      .select(schema.fields.filter(reads).map(f => col(Parsed).getField(f.name).as(f.name)) ++
        keep.map(col): _*)
    val corrupt = parsedWhere(df, jsonCol, schema.fields.filter(canFail), schema, corrupt = true)
      .select(col(jsonCol).as("__raw") +: keep.map(col): _*)
    (valid, corrupt)
  }
}
