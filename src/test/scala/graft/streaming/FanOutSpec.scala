package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.schema.SchemaRegistry

/** O8/O9/O15: independent-subscription fan-out, per-key delivery order, and
  * the limit-style pull inspection read. */
class FanOutSpec extends SparkSpec {

  test("two subscriptions on one topic deliver independently (O9)") {
    val root = tmpDir("fanout")
    val registry = new SchemaRegistry
    val rev = registry.register("t", Fixtures.topicSchema)
    val topic = new Topic(spark, "t", s"$root/topic", rev)

    val s = spark
    import s.implicits._
    topic.publish(Seq(
      ("""{"id":1}""", """{"id":1,"first_name":"A","last_name":"x","email":"a@x","zipcode":1,"city":"c","country":"u","__deleted":"false"}"""),
      ("""{"id":2}""", """{"id":2,"first_name":"B","last_name":"x","email":"b@x","zipcode":2,"city":"c","country":"u","__deleted":"false"}"""))
      .toDF("key", "value"))

    def deliver(name: String): Long = {
      val sub = new Subscription(name, topic, s"$root/ckpt-$name")
      sub.deliverTo(s"$root/sink-$name", Fixtures.topicSchema,
        () => Fixtures.sinkV1, s"$root/dlq-$name").awaitTermination()
      spark.read.parquet(s"$root/sink-$name").count()
    }
    // each subscription has its own checkpoint cursor: both see ALL messages
    assert(deliver("sub-a") === 2L)
    assert(deliver("sub-b") === 2L)

    // a second publish is seen by a re-started subscription exactly once
    topic.publish(Seq(
      ("""{"id":3}""", """{"id":3,"first_name":"C","last_name":"x","email":"c@x","zipcode":3,"city":"c","country":"u","__deleted":"false"}"""))
      .toDF("key", "value"))
    assert(deliver("sub-a") === 3L)
    assert(deliver("sub-b") === 3L)
  }

  test("per-key order is preserved source->sink across micro-batches (O8)") {
    val root = tmpDir("order")
    val registry = new SchemaRegistry
    val rev = registry.register("t", Fixtures.topicSchema)
    val topic = new Topic(spark, "t", s"$root/topic", rev)
    val sub = new Subscription("ordered", topic, s"$root/ckpt")
    val s = spark
    import s.implicits._

    // 3 ordered versions of key 7: publish + deliver per round, so each
    // version lands as its own micro-batch (its own sink file). Sink-file
    // MODIFICATION time (not the uuid-bearing file name) carries batch order.
    for (v <- 1 to 3) {
      topic.publish(Seq((
        """{"id":7}""",
        s"""{"id":7,"first_name":"v$v","last_name":"x","email":"e","zipcode":$v,"city":"c","country":"u","__deleted":"false"}"""))
        .toDF("key", "value"))
      sub.deliverTo(s"$root/sink", Fixtures.topicSchema,
        () => Fixtures.sinkV1, s"$root/dlq").awaitTermination()
      Thread.sleep(1100) // distinct mtimes (fs resolution)
    }

    val rows = spark.read.parquet(s"$root/sink")
      .select(col("first_name"), col("_metadata.file_modification_time").as("mt"))
      .orderBy(col("mt"))
      .collect().map(_.getString(0))
    assert(rows.toSeq === Seq("v1", "v2", "v3"))
  }

  test("transient (non-schema) failure kills the query; checkpoint restart replays the batch exactly once") {
    val root = tmpDir("recover")
    val registry = new SchemaRegistry
    val rev = registry.register("t", Fixtures.topicSchema)
    val topic = new Topic(spark, "t", s"$root/topic", rev)
    val s = spark
    import s.implicits._
    topic.publish(Seq(
      ("""{"id":1}""", """{"id":1,"first_name":"A","last_name":"x","email":"a@x","zipcode":1,"city":"c","country":"u","__deleted":"false"}"""))
      .toDF("key", "value"))

    val sub = new Subscription("recover", topic, s"$root/ckpt")
    // first run: the sink-schema resolver throws (e.g. catalog briefly
    // unreachable) — NOT a SchemaMismatch, so the query must die, and the
    // checkpoint must NOT have committed the batch
    val failing = sub.deliverTo(s"$root/sink", Fixtures.topicSchema,
      () => sys.error("catalog unavailable"), s"$root/dlq")
    val died = intercept[Exception](failing.awaitTermination())
    assert(died.getMessage.contains("catalog unavailable"))
    assert(!new java.io.File(s"$root/sink").exists() ||
      spark.read.parquet(s"$root/sink").count() === 0)

    // restart with the SAME checkpoint and a healthy resolver: the batch
    // replays and lands exactly once
    sub.deliverTo(s"$root/sink", Fixtures.topicSchema,
      () => Fixtures.sinkV1, s"$root/dlq").awaitTermination()
    assert(spark.read.parquet(s"$root/sink").count() === 1)

    // and a THIRD run is a no-op (offsets committed)
    sub.deliverTo(s"$root/sink", Fixtures.topicSchema,
      () => Fixtures.sinkV1, s"$root/dlq").awaitTermination()
    assert(spark.read.parquet(s"$root/sink").count() === 1)
  }

  test("ack-deadline analog: a batch taken but never acked is redelivered (O10)") {
    val root = tmpDir("ackdeadline")
    val registry = new SchemaRegistry
    val rev = registry.register("t", Fixtures.topicSchema)
    val topic = new Topic(spark, "t", s"$root/topic", rev)
    val s = spark
    import s.implicits._
    topic.publish(Seq(
      ("""{"id":1}""", """{"id":1,"first_name":"A","last_name":"x","email":"a@x","zipcode":1,"city":"c","country":"u","__deleted":"false"}"""))
      .toDF("key", "value"))

    val sub = new Subscription("ack", topic, s"$root/ckpt")
    // the subscriber appends the batch, then dies BEFORE the checkpoint
    // commit — the Pub/Sub "took the messages, never acked" case
    // (ack_deadline_seconds, terraform/main.tf:381)
    val dying = sub.deliverTo(s"$root/sink", Fixtures.topicSchema,
      () => Fixtures.sinkV1, s"$root/dlq",
      onBatchDelivered = () => sys.error("subscriber died before ack"))
    intercept[Exception](dying.awaitTermination())
    assert(spark.read.parquet(s"$root/sink").count() === 1) // append happened...

    // ...but the offset was never committed, so a restarted subscriber gets
    // the batch AGAIN — redelivery, at-least-once (duplicate append), the
    // same contract as Pub/Sub ack-deadline expiry
    sub.deliverTo(s"$root/sink", Fixtures.topicSchema,
      () => Fixtures.sinkV1, s"$root/dlq").awaitTermination()
    assert(spark.read.parquet(s"$root/sink").count() === 2)

    // an acked (committed) batch is NOT redelivered on the next start
    sub.deliverTo(s"$root/sink", Fixtures.topicSchema,
      () => Fixtures.sinkV1, s"$root/dlq").awaitTermination()
    assert(spark.read.parquet(s"$root/sink").count() === 2)
  }

  test("maxFilesPerBatch bounds micro-batch size (backpressure knob)") {
    val root = tmpDir("backpressure")
    val registry = new SchemaRegistry
    val rev = registry.register("t", Fixtures.topicSchema)
    val topic = new Topic(spark, "t", s"$root/topic", rev)
    val s = spark
    import s.implicits._
    for (v <- 1 to 3)
      topic.publish(Seq((
        s"""{"id":$v}""",
        s"""{"id":$v,"first_name":"v$v","last_name":"x","email":"e","zipcode":$v,"city":"c","country":"u","__deleted":"false"}"""))
        .toDF("key", "value"))

    new Subscription("bp", topic, s"$root/ckpt")
      .deliverTo(s"$root/sink", Fixtures.topicSchema, () => Fixtures.sinkV1,
        s"$root/dlq", maxFilesPerBatch = Some(1))
      .awaitTermination()
    val sink = spark.read.parquet(s"$root/sink")
    assert(sink.count() === 3)
    // one topic file per micro-batch -> one sink file per batch
    assert(sink.inputFiles.length === 3)
  }

  test("publish rejects a degenerate non-object payload instead of dropping it") {
    val root = tmpDir("nullpayload")
    val registry = new SchemaRegistry
    val rev = registry.register("t", Fixtures.topicSchema)
    val topic = new Topic(spark, "t", s"$root/topic", rev)
    val s = spark
    import s.implicits._
    // the literal string "null" parses to a null struct without tripping
    // FAILFAST — it must still be a publish REJECTION, never a silent drop
    val e = intercept[IllegalArgumentException](
      topic.publish(Seq(("""{"id":1}""", "null")).toDF("key", "value")))
    assert(e.getMessage.contains("does not conform"))
    assert(topic.read.count() === 0) // nothing appended
  }

  test("pull returns at most n messages with key/value/attributes (O15)") {
    val root = tmpDir("pull")
    val registry = new SchemaRegistry
    val rev = registry.register("t", Fixtures.topicSchema)
    val topic = new Topic(spark, "t", s"$root/topic", rev)
    val s = spark
    import s.implicits._
    topic.publish(Seq(
      ("""{"id":1}""", """{"id":1,"first_name":"A","last_name":"x","email":"a@x","zipcode":1,"city":"c","country":"u","__deleted":"false"}"""),
      ("""{"id":2}""", """{"id":2,"first_name":"B","last_name":"x","email":"b@x","zipcode":2,"city":"c","country":"u","__deleted":"false"}"""))
      .toDF("key", "value"))
    val pulled = topic.pull(1)
    assert(pulled.length === 1)
    val attrs = pulled(0).getAs[Map[String, String]]("attributes")
    assert(attrs("googclient_schemarevisionid") === rev.revisionId)
    assert(topic.pull(10).length === 2)
  }

  test("a topic dir given as a file: URI reads and prunes its log") {
    val registry = new SchemaRegistry
    val topic = new Topic(spark, "t", "file://" + tmpDir("uri-topic") + "/topic",
      registry.register("t", Fixtures.topicSchema))
    val s = spark
    import s.implicits._
    topic.publish(Seq(
      ("""{"id":1}""", """{"id":1,"first_name":"A","last_name":"x","email":"a@x","zipcode":1,"city":"c","country":"u","__deleted":"false"}"""),
      ("""{"id":2}""", """{"id":2,"first_name":"B","last_name":"x","email":"b@x","zipcode":2,"city":"c","country":"u","__deleted":"false"}"""))
      .toDF("key", "value"))
    assert(topic.read.count() === 2)
    assert(topic.pruneRetention(retentionSeconds = 0, nowMs = System.currentTimeMillis() + 10000) > 0)
    assert(topic.read.count() === 0)
  }
}
