package graft.streaming

import java.io.IOException

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.schema.SchemaRevision

/** q123 — the gate hashes the FINAL table (identical to q31's contract by
  * design: the failure path must be invisible in the result). This spec
  * pins that the green result really traveled retry → DLQ → replay: every
  * wave-2 message must have dead-lettered and come back via
  * [[Subscription.replayDeadLetters]], not landed directly. */
class DlqReplaySpec extends SparkSpec {

  test("q123: the entire second wave dead-letters and replays") {
    val s = spark
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val wave2 = graft.Tables.events(spark, dir)
      .filter($"event_id" % 20 === 0 && $"event_id" % 40 =!= 0).count()
    assert(wave2 > 0, "the corpus must produce a non-trivial second wave")
    val (df, replayed) = graft.queries.StreamQueries.q123DlqReplayCounted(spark, dir)
    assert(replayed === wave2,
      s"every wave-2 message must take the DLQ path: replayed $replayed of $wave2")
    val total = graft.Tables.events(spark, dir).filter($"event_id" % 20 === 0).count()
    assert(df.count() === total, "nothing lost, nothing duplicated")
  }

  test("a replay that fails midway loses no dead letter; the next replay delivers them") {
    val s = spark
    import s.implicits._
    val root = tmpDir("dlq-replay-fault")
    val topicSchema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val rev = SchemaRevision("t", "r1", topicSchema)
    val sub = new Subscription("s", new Topic(spark, "t", s"$root/topic", rev), s"$root/ckpt",
      DeliveryPolicy(maxDeliveryAttempts = 1, minBackoffMs = 0L))
    val messages = (1 to 5).map(i => (s"k$i", s"""{"id":$i,"name":"n$i"}""", Map("rev" -> "r1")))
      .toDF("key", "value", "attributes")
    // a sink without `name`: every message dead-letters
    val narrowSink = StructType(Seq(StructField("id", LongType)))
    sub.deliverBatch(messages, s"$root/sink", topicSchema, () => narrowSink,
      s"$root/dlq", _ => ())
    assert(spark.read.json(s"$root/dlq").count() === 5)

    // the sink is unreachable during the first replay: redelivery throws
    intercept[IOException](Subscription.replayDeadLetters(spark, s"$root/dlq", sub,
      s"$root/sink", topicSchema, () => throw new IOException("sink unavailable"), _ => ()))
    val replayed = Subscription.replayDeadLetters(spark, s"$root/dlq", sub,
      s"$root/sink", topicSchema, () => topicSchema, _ => ())
    assert(replayed === 5L, "every dead letter survives the failed replay")
    assert(spark.read.parquet(s"$root/sink").as[(Long, String)].collect().sorted.toSeq ===
      (1 to 5).map(i => (i.toLong, s"n$i")))
    assert(Subscription.replayDeadLetters(spark, s"$root/dlq", sub,
      s"$root/sink", topicSchema, () => topicSchema, _ => ()) === 0L, "nothing left to replay")
  }
}
