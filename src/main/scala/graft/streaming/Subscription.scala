package graft.streaming

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.stream.Conform
import graft.stream.Conform.SchemaMismatchException

/** Delivery policy for a sink subscription — mirrors the reference's
  * BigQuery subscription knobs (`/root/reference/terraform/main.tf:389-415`):
  * retry with minimum backoff (:402-404), dead-letter after N attempts
  * (:406-409). Test configs shrink the backoff; semantics are identical.
  */
final case class DeliveryPolicy(
    maxDeliveryAttempts: Int = 5,
    minBackoffMs: Long = 60000L) {
  require(maxDeliveryAttempts >= 1)
}

/** One subscription = one independent streaming cursor over a [[Topic]] with
  * its own checkpoint (O6/O9) delivering into a parquet sink table (O12)
  * under the sink-conformance drift rules (O11), with retry (O13) and
  * dead-letter routing (O14).
  *
  * The sink schema is resolved *per micro-batch* via `sinkSchema()` — the
  * sink table evolves independently of the topic (the whole subject of the
  * reference lab, `/root/reference/README.md:299-450`), so it must be
  * re-read each delivery, not captured once at query start.
  *
  * Failure semantics (golden G6): a batch whose conformance projection
  * raises [[SchemaMismatchException]] is retried `maxDeliveryAttempts`
  * times, then appended — original message payload intact, with error and
  * attempt-count columns — to the dead-letter topic directory. The
  * streaming query itself NEVER dies from a schema mismatch; an uncaught
  * throw inside foreachBatch would kill it (SURVEY.md §7.4).
  *
  * Scale: everything inside the batch closure is declarative DataFrame code
  * — conformance is a zero-shuffle projection, the sink write is a parallel
  * parquet append — so a micro-batch distributes across however many
  * executors the cluster has. Per-key ordering (O8) holds because the file
  * log preserves publish order within a micro-batch and the conformance
  * path is order-preserving (no shuffle between source and sink files).
  *
  * Ack-deadline analog (the reference's 60 s `ack_deadline_seconds`,
  * `/root/reference/terraform/main.tf:381`): in Pub/Sub, a subscriber that
  * takes messages and dies without acking sees them REDELIVERED once the
  * deadline lapses. Here the checkpoint commit IS the ack — it happens only
  * after the batch closure returns — so a subscriber that dies mid-delivery
  * (even after its sink append) leaves the offset uncommitted and the next
  * start of the same subscription redelivers the batch. Same at-least-once
  * contract as Pub/Sub redelivery (the append may duplicate; the merge sink
  * is the idempotent consumer). The one divergence: there is no broker-side
  * lease timer, so redelivery happens at the next (re)start rather than
  * after a fixed 60 s — a deliberate simplification of a knob that only
  * controls WHEN the broker gives up on a silent consumer. FanOutSpec pins
  * the behavior with a crash injected between append and checkpoint commit.
  */
final class Subscription(
    val name: String,
    topic: Topic,
    checkpointDir: String,
    policy: DeliveryPolicy = DeliveryPolicy()) {

  /** Start the delivery query. `sinkSchema` is re-evaluated per batch;
    * `sleep` is injectable so tests don't wait out real backoffs;
    * `maxFilesPerBatch` caps micro-batch size (the backpressure knob — at
    * high volume it bounds executor memory per delivery attempt).
    *
    * Delivery semantics are AT-LEAST-ONCE, matching the reference's
    * Pub/Sub→BigQuery subscription: the checkpoint commits after the batch
    * closure succeeds, so a crash mid-append can replay a batch. The merge
    * path ([[graft.merge.MergeSink]]) is the idempotent sink for consumers
    * that need effective exactly-once per key. */
  def deliverTo(
      sinkDir: String,
      topicSchema: StructType,
      sinkSchema: () => StructType,
      deadLetterDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      sleep: Long => Unit = Thread.sleep,
      maxFilesPerBatch: Option[Int] = None,
      // test-only fault-injection seam: runs after the batch is delivered
      // but BEFORE the checkpoint commit (the "ack") — throwing here
      // simulates a subscriber dying mid-delivery
      onBatchDelivered: () => Unit = () => ()): StreamingQuery = {

    topic.stream(maxFilesPerBatch).writeStream
      .queryName(name)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        deliverBatch(batch, sinkDir, topicSchema, sinkSchema, deadLetterDir, sleep)
        onBatchDelivered()
        ()
      }
      .start()
  }

  /** One delivery attempt loop for one micro-batch. Package-visible for
    * direct unit testing without a streaming runtime. */
  private[streaming] def deliverBatch(
      batch: DataFrame,
      sinkDir: String,
      topicSchema: StructType,
      sinkSchema: () => StructType,
      deadLetterDir: String,
      sleep: Long => Unit): Unit = {
    var attempt = 0
    var delivered = false
    var lastError: SchemaMismatchException = null
    while (!delivered && attempt < policy.maxDeliveryAttempts) {
      attempt += 1
      try {
        val rows = batch
          .withColumn("__row", from_json(col("value"), topicSchema))
          .select(col("__row.*"))
        Conform
          .conformToSink(Conform.validateAgainstTopic(rows, topicSchema),
            topicSchema, sinkSchema())
          .write.mode("append").parquet(sinkDir)
        delivered = true
      } catch {
        case e: SchemaMismatchException =>
          lastError = e
          if (attempt < policy.maxDeliveryAttempts) sleep(policy.minBackoffMs)
      }
    }
    if (!delivered) {
      batch
        .withColumn("error", lit(lastError.getMessage))
        .withColumn("delivery_attempts", lit(attempt))
        .write.mode("append").json(deadLetterDir)
    }
  }
}

object Subscription {
  /** Replay dead-lettered messages (after the sink schema is fixed): strip
    * the error/attempt metadata back to plain topic messages and run one
    * delivery attempt loop. Messages that fail AGAIN are re-dead-lettered
    * with a fresh attempt count — replay is safe to repeat.
    *
    * The DLQ dir is first renamed aside (a `__replay-<nanos>` sibling), so
    * the redelivery's own failures land in a fresh DLQ, and an aside copy
    * is deleted only once redelivery returns: a replay that dies midway
    * leaves its messages aside, and the next replay redelivers them too
    * (at least once, as any delivery). Returns the messages redelivered. */
  def replayDeadLetters(
      spark: SparkSession,
      deadLetterDir: String,
      sub: Subscription,
      sinkDir: String,
      topicSchema: StructType,
      sinkSchema: () => StructType,
      sleep: Long => Unit = Thread.sleep): Long = {
    val dlq = new Path(deadLetterDir)
    val fs = dlq.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dlq)) {
      val aside = new Path(s"${deadLetterDir}__replay-${System.nanoTime()}")
      if (!fs.rename(dlq, aside)) throw new IOException(s"rename $dlq -> $aside failed")
    }
    val asides = fs.globStatus(new Path(s"${deadLetterDir}__replay-*")).map(_.getPath)
    if (asides.isEmpty) return 0L
    val dead = spark.read.schema(
        StructType(Topic.messageSchema.fields ++ Seq(
          StructField("error", StringType), StructField("delivery_attempts", LongType))))
      .json(asides.map(_.toString).toSeq: _*)
    val n = dead.count()
    if (n > 0) sub.deliverBatch(dead.select("key", "value", "attributes"), sinkDir,
      topicSchema, sinkSchema, deadLetterDir, sleep)
    asides.foreach(fs.delete(_, true))
    n
  }
}
