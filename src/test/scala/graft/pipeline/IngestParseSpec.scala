package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sink.SinkMapper
import graft.sources.JsonIngest

/** The raw-Kafka config start parses each event once per query: the
  * valid-row frame once (all declared fields), the validation-DLQ frame
  * once (only the fields that can fail). Both must split a payload exactly
  * as the single-`from_json` formula below does. */
class IngestParseSpec extends SparkSpec {
  import spark.implicits._

  private val topic = TopicConfig("t", schemaFields = Seq(
    FieldDef("s", "string"), FieldDef("i", "int"), FieldDef("f", "float"),
    FieldDef("b", "bool"), FieldDef("a", "array"), FieldDef("m", "map"),
    FieldDef("k.pod", "string")))

  private def framed(json: String): Array[Byte] =
    Array[Byte](0, 0, 0, 0, 7) ++ json.getBytes("UTF-8")

  private val corpus: Seq[Array[Byte]] = (Seq(
    // valid, complete and partial
    """{"s":"x","i":1,"f":1.5,"b":true,"a":["p","q"],"m":{"k":"v"},"k.pod":"pod"}""",
    """{"i":2}""", """{"s":"only string"}""", """{"i":3} trailing""",
    // malformed and truncated
    "not json", """{"s":"x"""", """{"s":"x","i":1""", """{"i":""", "}", """{"s":"a",}""",
    """{"s":'single'}""", "   ",
    // top-level arrays and scalars, empty, JSON null
    "[1,2]", """[{"s":"x","i":1}]""", "[]", "42", "\"str\"", "true", "null", "",
    // a type mismatch on each non-string type
    """{"i":"x"}""", """{"i":1.5}""", """{"i":99999999999999999999}""", """{"i":{"x":1}}""",
    """{"i":[1]}""", """{"f":"abc"}""", """{"f":"NaN"}""", """{"f":true}""",
    """{"b":"yes"}""", """{"b":1}""", """{"a":"notarray"}""", """{"a":{"x":1}}""",
    """{"a":[1,{"y":2}]}""", """{"m":[1]}""", """{"m":"str"}""", """{"m":{"k":1}}""",
    """{"i":1,"i":"dup"}""", """{"s":"ok","i":"12"}""",
    // string fields holding objects, arrays, numbers, booleans
    """{"s":{"x":1}}""", """{"s":[1,2]}""", """{"s":12.5}""", """{"s":true}""",
    """{"k.pod":{"a":[1]}}""", """{"s":{"bad":"\q"}}""",
    // explicit nulls, empty and unknown-key objects
    """{"s":null}""", """{"i":null,"f":null}""",
    """{"s":null,"i":null,"f":null,"b":null,"a":null,"m":null,"k.pod":null}""",
    "{}", """{"zzz":1}""", """{"other":{"s":1}}""", """{"zzz":null}""",
    // dotted and root-segment keys
    """{"k.pod":"p1"}""", """{"k":{"pod":"p2"}}""", """{"k":null}""", """{"k.pod":5}""",
    """{"k.other":1}""",
    // invalid escapes and raw control characters
    """{"s":"a\q"}""", """{"i":1,"x":"\q"}""", "{\"s\":\"\\u00zz\"}", "{\"s\":\"\\u0041\"}",
    "{\"s\":\"a\tb\"}", "{\"s\":\"a\u0001b\"}", "{\"zzz\":\"a\u0001b\",\"i\":1}",
    "{\"i\":1,\"s\":\"a\u0000b\"}"
  ).map(_.getBytes("UTF-8")) ++ Seq(
    // Schema-Registry-framed values, a frame too short to be one, bad UTF-8
    framed("""{"s":"framed","i":9}"""), framed("""{"i":"framed-bad"}"""),
    framed("not json framed"), Array[Byte](0, 0, 0),
    "{\"s\":\"".getBytes("UTF-8") ++ Array(0xff.toByte) ++ "\"}".getBytes("UTF-8"),
    "{\"zzz\":\"".getBytes("UTF-8") ++ Array(0xc3.toByte) ++ "\",\"i\":4}".getBytes("UTF-8")))

  /** The corpus as a Kafka-shaped frame read back from parquet, so the
    * optimizer sees a real scan (a LocalRelation would be folded away).
    * `offset` is the row's position; the last row is a tombstone. */
  private lazy val raw: DataFrame = {
    val dir = Files.createTempDirectory("graft_ingest_parse").resolve("raw").toString
    val rows = corpus.map(Option(_)) :+ None
    rows.zipWithIndex.map { case (v, o) =>
      (v.orNull, new java.sql.Timestamp(1700000000000L + o), 0, o.toLong)
    }.toDF("value", "timestamp", "partition", "offset").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def configStart: (DataFrame, DataFrame) = {
    val root = Files.createTempDirectory("graft_ingest_parse_dlq").toString
    val (good, bad) = new PipelineService(spark, dlqRoot = Some(root)).parseIfRaw(raw, topic)
    (good, bad.get)
  }

  private def parses(df: DataFrame): Seq[JsonToStructs] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case j: JsonToStructs => j
    }))

  /** Computes `.constraints` of a frame's optimized plan, as a
    * `foreachBatch` sink does for every micro-batch, within `seconds`: a
    * `Filter` on the corrupt test under the projection of 35 parsed fields
    * doubled this set once per field and never finished. */
  private def constraintsWithin(df: DataFrame, seconds: Int): Unit = {
    val plan = df.queryExecution.optimizedPlan
    val task = new java.util.concurrent.FutureTask[Int](() => plan.constraints.size)
    val worker = new Thread(task, "constraints")
    worker.setDaemon(true)
    worker.start()
    try { task.get(seconds.toLong, java.util.concurrent.TimeUnit.SECONDS); () }
    catch {
      case _: java.util.concurrent.TimeoutException =>
        worker.interrupt()
        fail(s"constraint propagation ran past ${seconds}s on\n${plan.treeString}")
    }
  }

  test("config-start frames parse each payload once per query; the DLQ frame skips string fields") {
    val (good, bad) = configStart
    val mapped = SinkMapper(Seq(
      SinkMapper.ColumnMapping("s", "s", "String"),
      SinkMapper.ColumnMapping("i", "i", "Int64"),
      SinkMapper.ColumnMapping("k.pod", "pod", "String")))(good)
    assert(parses(mapped).size == 1, mapped.queryExecution.optimizedPlan.treeString)
    val side = parses(bad)
    assert(side.size == 1, bad.queryExecution.optimizedPlan.treeString)
    val parsed = side.head.schema.asInstanceOf[StructType].fields
      .filterNot(_.name == "__corrupt_rec")
    assert(parsed.map(_.name).toSeq == Seq("i", "f", "b", "a", "m"))
    assert(!parsed.exists(_.dataType == StringType))
  }

  test("config-start frames over the 35-field telemetry schema plan their micro-batches promptly") {
    val wide = TopicConfig("wide", schemaFields =
      graft.IngestBench.fields.map { case (n, t) => FieldDef(n, t) })
    val root = Files.createTempDirectory("graft_ingest_parse_wide").toString
    val (good, bad) = new PipelineService(spark, dlqRoot = Some(root)).parseIfRaw(raw, wide)
    constraintsWithin(good, 60)
    constraintsWithin(SinkMapper(graft.IngestBench.mappings)(good), 60)
    constraintsWithin(bad.get, 60)
  }

  /** The single-`from_json` split the config start used before each frame
    * parsed in its own `Generate`: the oracle for both frames. */
  private def referenceParse(df: DataFrame, jsonCol: String, schema: StructType,
                             keep: Seq[String]): DataFrame = {
    val corruptField = "__corrupt_rec"
    val parseSchema = StructType(schema.fields :+ StructField(corruptField, StringType))
    val parsed = df.withColumn("__parsed",
      from_json(col(jsonCol), parseSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptField)))
    val allNull = schema.fieldNames
      .map(f => col("__parsed").getField(f).isNull)
      .reduceOption(_ && _).getOrElse(lit(true))
    val declaredKeys = schema.fieldNames.flatMap(f => Seq(f, f.split('.').head)).distinct.toSeq
    val anyDeclaredKey = arrays_overlap(
      json_object_keys(col(jsonCol)), array(declaredKeys.map(lit): _*))
    parsed
      .withColumn("__corrupt", col(jsonCol).isNotNull && (
        col("__parsed").isNull ||
          col("__parsed").getField(corruptField).isNotNull ||
          (allNull && !coalesce(anyDeclaredKey, lit(false)))))
      .withColumn("__raw", col(jsonCol))
      .select(schema.fieldNames.map(f => col("__parsed").getField(f).as(f)) ++
        keep.map(col) :+ col("__raw") :+ col("__corrupt"): _*)
  }

  test("every payload lands in exactly one of main-valid and DLQ-corrupt, as the reference split does") {
    val (good, bad) = configStart
    val (payload, _) = JsonIngest.stripSchemaRegistryPrefix(col("value"))
    val schema = graft.types.EngineSchema.structFor(topic.schemaFields.map(f => f.name -> f.`type`))
    val ref = referenceParse(raw.withColumn("__payload", payload), "__payload", schema,
      Seq("timestamp", "partition", "offset"))
    def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getAs[Long]("offset"))

    val payloads = raw.select(col("offset"), payload.as("p")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(payloads.values.toSeq.distinct.size == payloads.size, "payloads must be distinct")
    val validOffsets = good.select("offset").collect().map(_.getLong(0)).toSeq
    val corruptRaw = bad.collect().map(r => Option(r.getString(0))).toSeq
    val corruptOffsets = corruptRaw.map(p => payloads.collectFirst { case (o, `p`) => o }.get)
    assert(validOffsets.distinct.size == validOffsets.size)
    assert(corruptOffsets.distinct.size == corruptOffsets.size)
    assert(validOffsets.intersect(corruptOffsets).isEmpty)
    assert((validOffsets ++ corruptOffsets).sorted == payloads.keys.toSeq.sorted)

    assert(good.columns.toSeq == ref.drop("__corrupt", "__raw").columns.toSeq)
    assert(sorted(good) == sorted(ref.filter(!col("__corrupt")).drop("__corrupt", "__raw")))
    assert(corruptRaw.sortBy(_.toString) ==
      ref.filter(col("__corrupt")).collect().map(r => Option(r.getAs[String]("__raw")))
        .toSeq.sortBy(_.toString))

    // the corpus exercises both outcomes on the cases the reasoning rests on
    def validity(json: String): Boolean =
      validOffsets.contains(payloads.collectFirst { case (o, Some(`json`)) => o }.get)
    assert(validity("""{"s":{"x":1}}""") && validity("""{"k":{"pod":"p2"}}""") &&
      validity("""{"s":null}""") && validity("""{"s":"framed","i":9}"""))
    assert(!validity("""{"i":"x"}""") && !validity("{}") && !validity("not json") &&
      !validity("""{"s":"a\q"}"""))
  }

  test("JsonIngest.ingest keeps lineage on both sides of the split") {
    val (payload, _) = JsonIngest.stripSchemaRegistryPrefix(col("value"))
    val schema = StructType(Seq(StructField("s", StringType), StructField("i", LongType)))
    val (good, dlq) = JsonIngest.ingest(raw.withColumn("p", payload), "p", schema,
      keep = Seq("offset"))
    val g = good.select("offset").collect().map(_.getLong(0)).toSet
    val d = dlq.select("offset").collect().map(_.getLong(0)).toSet
    assert(g.intersect(d).isEmpty && (g ++ d).size == corpus.size + 1)
    assert(dlq.columns.toSeq == Seq("__raw", "offset"))
  }
}
