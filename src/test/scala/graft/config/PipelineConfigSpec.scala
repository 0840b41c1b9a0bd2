package graft.config

import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.schema.SchemaRegistry
import graft.streaming.{CdcIngest, Topic}

/** O28 — the rendered config template, not code, wires the pipeline
  * (reference: `/root/reference/conf/debezium.properties` rendered per
  * environment at deploy time). */
class PipelineConfigSpec extends SparkSpec {

  // the reference template's shape: public Debezium config surface with
  // ALL-CAPS environment placeholders (debezium.properties:1-21)
  private val template =
    """debezium.sink.type=pubsub
      |debezium.sink.pubsub.project.id=PROJECT_ID
      |debezium.source.database.hostname=MYSQL_IP
      |debezium.source.database.server.name=MYSQL_SERVERNAME
      |debezium.source.database.include.list=MYSQL_DATABASENAME
      |debezium.source.table.include.list=MYSQL_DATABASENAME.people
      |debezium.source.offset.flush.interval.ms=0
      |debezium.source.transforms=unwrap
      |debezium.source.transforms.unwrap.delete.handling.mode=rewrite
      |# debezium.source.database.password=sm://projects/PROJECT_ID/secrets
      |""".stripMargin

  private val vars = Map(
    "PROJECT_ID" -> "demo-project",
    "MYSQL_IP" -> "10.0.0.5",
    "MYSQL_SERVERNAME" -> "testdrive",
    "MYSQL_DATABASENAME" -> "debezium_test")

  test("render substitutes every placeholder and fails closed on leftovers") {
    val rendered = PipelineConfig.render(template, vars)
    assert(!rendered.contains("MYSQL_") && !rendered.contains("PROJECT_ID"))
    assert(rendered.contains("debezium.source.table.include.list=debezium_test.people"))
    // a forgotten binding is a deploy error, not a literal value
    val e = intercept[IllegalArgumentException](
      PipelineConfig.render(template, vars - "MYSQL_SERVERNAME"))
    assert(e.getMessage.contains("MYSQL_SERVERNAME"))
  }

  test("the validated spec extracts exactly the pipeline-wiring settings") {
    val spec = PipelineConfig.cdcSpec(
      PipelineConfig.parse(PipelineConfig.render(template, vars)))
    assert(spec === PipelineConfig.CdcPipelineSpec(
      includeDb = "debezium_test", includeTable = "people",
      deleteRewrite = true, offsetFlushMs = 0L, topicProject = "demo-project"))
    // an unqualified table include is rejected at config time
    val parsed = PipelineConfig.parse(PipelineConfig.render(template, vars))
    val bad = parsed + ("debezium.source.table.include.list" -> "otherdb.people")
    assert(intercept[IllegalArgumentException](PipelineConfig.cdcSpec(bad))
      .getMessage.contains("qualified"))
    // a multi-valued include list fails loud instead of silently filtering
    // everything through one bogus table name
    val multi = parsed +
      ("debezium.source.table.include.list" -> "debezium_test.people,debezium_test.orders")
    assert(intercept[IllegalArgumentException](PipelineConfig.cdcSpec(multi))
      .getMessage.contains("one ingest pipeline per table"))
  }

  test("a rendered config drives the real ingest pipeline end to end") {
    val s = spark
    import s.implicits._
    val spec = PipelineConfig.cdcSpec(
      PipelineConfig.parse(PipelineConfig.render(template, vars)))

    val root = tmpDir("cfgdrive")
    // two envelopes: one from the included table, one from another table
    // (the include filter must drop it), one delete (rewrite must mark it)
    Seq(
      """{"value": "{\"before\":null,\"after\":{\"id\":1,\"name\":\"ada\"},\"source\":{\"db\":\"debezium_test\",\"table\":\"people\"},\"op\":\"c\",\"ts_ms\":1}"}""",
      """{"value": "{\"before\":null,\"after\":{\"id\":9,\"name\":\"x\"},\"source\":{\"db\":\"debezium_test\",\"table\":\"other\"},\"op\":\"c\",\"ts_ms\":2}"}""",
      """{"value": "{\"before\":{\"id\":1,\"name\":\"ada\"},\"after\":null,\"source\":{\"db\":\"debezium_test\",\"table\":\"people\"},\"op\":\"d\",\"ts_ms\":3}"}""")
      .toDF("value").coalesce(1).write.mode("append").text(s"$root/changelog")

    val rowSchema = StructType.fromDDL("id LONG, name STRING")
    val topicSchema = StructType.fromDDL("id LONG, name STRING, __deleted STRING")
    val registry = new SchemaRegistry
    // topic namespaced by the CONFIG's project; include lists + delete
    // handling + flush cadence all come from the spec (trigger overridden
    // to AvailableNow so the bounded test log terminates)
    val topic = new Topic(s, s"${spec.topicProject}-people", s"$root/topic",
      registry.register("cfg-people", topicSchema))
    CdcIngest.startFromConfig(s, s"$root/changelog", rowSchema, spec,
      Seq("id"), topic, s"$root/ckpt",
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      .awaitTermination()

    val out = topic.read.selectExpr(
        "get_json_object(value, '$.id') AS id",
        "get_json_object(value, '$.__deleted') AS deleted")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_.toString)
    // the other-table row is filtered; the delete is rewritten, not dropped
    assert(out.toSeq === Seq(("1", "false"), ("1", "true")))

    // flip ONLY the config to drop mode: the same wiring now drops the
    // delete event and emits no __deleted marker — behavior follows config
    val dropSpec = PipelineConfig.cdcSpec(PipelineConfig.parse(
      PipelineConfig.render(template, vars)
        .replace("delete.handling.mode=rewrite", "delete.handling.mode=drop")))
    assert(!dropSpec.deleteRewrite)
    val dropTopic = new Topic(s, s"${dropSpec.topicProject}-people-drop",
      s"$root/topic2",
      registry.register("cfg-people-drop", StructType.fromDDL("id LONG, name STRING")))
    CdcIngest.startFromConfig(s, s"$root/changelog", rowSchema, dropSpec,
      Seq("id"), dropTopic, s"$root/ckpt2",
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      .awaitTermination()
    val dropped = dropTopic.read.selectExpr(
        "get_json_object(value, '$.id') AS id",
        "get_json_object(value, '$.__deleted') AS deleted").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(dropped.toSeq === Seq(("1", null)))
  }

  test("the engine reads no spark.graft.* dial: only the identity and the scale-guard caps") {
    // a `spark.graft.*` key that switches between two implementations of
    // one operator is a dial; deployment settings and safety limits are not
    import scala.jdk.CollectionConverters._
    val key = """"spark\.graft\.([\w.]*)""".r // a quoted key literal
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val keys = try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => key.findAllMatchIn(java.nio.file.Files.readString(f)).map(_.group(1)))
      .toSet
      finally files.close()
    assert(keys === Set("principal", "semdedup.maxCellRows",
      "imageneardup.maxPairsPerMedia", "linkage.maxPairsPerRecord"))
  }
}
