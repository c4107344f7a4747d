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
  *  - parse JSON against the declared StructType: ONE `from_json` per row in
  *    the valid-rows frame and ONE, over only the fields that can fail, in
  *    the corrupt-rows frame ([[ingest]]) — vs. the reference's
  *    parse-per-stage (SURVEY.md §4). A pipeline that runs both frames as
  *    two streaming queries parses each event twice in all.
  *  - rows that fail schema validation split to the DLQ frame instead of
  *    failing the stream ("poison records never stop the pipeline")
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
  * filter to push or to propagate.
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
    val parsed = from_json(col(jsonCol), parseSchema,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptField))
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
    * `parsed` may hold only the declared fields that are not strings, and
    * the answer is the same: Spark's JSON parser turns any JSON value into
    * a string, so a string field never fails conversion, and a non-null
    * string field's key is present, which the all-null rule checks by key
    * anyway. */
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

  /** Narrow a declared schema to the fields a pipeline actually references
    * (sink mappings + expressions). from_json's cost is dominated by value
    * materialization per declared field: parsing 12 of 35 fields of a
    * 1.5 KB record is the single biggest ingest-throughput lever, and the
    * JSON schema pruning the optimizer does cannot help unless the
    * StructType itself is narrowed. */
  def pruneSchema(schema: StructType, needed: Seq[String]): StructType = {
    val keep = needed.flatMap(f => Seq(f, f.split('.').head)).toSet
    StructType(schema.fields.filter(f => keep.contains(f.name)))
  }

  /** Parse + validate a JSON string column against the declared schema,
    * split into (valid rows: the schema's fields plus the `keep` columns;
    * corrupt rows: the raw payload as `__raw` plus the `keep` columns).
    *
    * `keep` names source columns carried through UNCHANGED alongside the
    * parsed fields — Kafka lineage/meta columns (timestamp, partition,
    * offset) that downstream dedup windows and audit trails need; the
    * reference's processor passes its message context the same way. */
  def ingest(df: DataFrame, jsonCol: String, schema: StructType,
             keep: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val valid = parsedWhere(df, jsonCol, schema.fields, schema, corrupt = false)
      .select(schema.fieldNames.map(f => col(Parsed).getField(f).as(f)) ++ keep.map(col): _*)
    val checked = schema.fields.filterNot(_.dataType == StringType)
    val corrupt = parsedWhere(df, jsonCol, checked, schema, corrupt = true)
      .select(col(jsonCol).as("__raw") +: keep.map(col): _*)
    (valid, corrupt)
  }
}
