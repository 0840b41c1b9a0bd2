package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.SchemaRevision

/** File-backed message topic — the engine's stand-in for the reference's
  * Pub/Sub topic (`/root/reference/terraform/main.tf:366-374`). Zero-egress
  * environment, so the log is a directory of JSON-line files; the interface
  * is kept narrow so a real message-bus connector could replace the storage
  * without touching the pipeline code.
  *
  * Message model (one JSON object per line):
  *   `key`        — ordering key: serialized PK JSON (`/root/reference/README.md:292`)
  *   `value`      — payload: one flat JSON row (`/root/reference/README.md:290`)
  *   `attributes` — schema name / encoding / revision id stamped at publish
  *                  (`/root/reference/README.md:293-295`)
  *
  * Scale note: the topic directory is written by a streaming file sink and
  * read by Spark's streaming file source, so throughput scales with
  * partition count — there is no driver-side row handling anywhere.
  */
final class Topic(val spark: SparkSession, val name: String, val dir: String,
                  val schema: SchemaRevision) {

  import Topic._

  /** O7 publish validation: every message must parse against the attached
    * topic schema. Extra fields are legal and PRESERVED in the payload (the
    * reference's `phone` survives in the raw message, README.md:290, and is
    * only dropped sink-side) — validation just proves the schema'd fields
    * are readable. Malformed payloads throw, mirroring Pub/Sub's publish
    * rejection. Returns the message frame it appended.
    */
  def publish(keyed: DataFrame): DataFrame = {
    val msgs = stamp(keyed)
    // SINGLE-PASS validate + append: the FAILFAST parse lives inside the
    // write plan as a filter predicate, so every payload is proven readable
    // under the topic schema DURING the one append job — the batch is read
    // and parsed once, not scanned twice (validate pass + append pass).
    // The predicate keeps every row (FAILFAST never yields a null struct
    // for a non-null input — it throws), but because it references the
    // parsed column it cannot be pruned or folded away. A non-conforming
    // payload fails the job before any file is committed (v1 file
    // committer: task output only becomes visible at job commit), so
    // rejection stays atomic — Pub/Sub rejects at publish time, so must we.
    val parsed = from_json(col("value"), schema.schema, Map("mode" -> "FAILFAST"))
    // degenerate payloads (e.g. the literal string "null") parse to a null
    // struct WITHOUT tripping FAILFAST — raise explicitly rather than let
    // the filter silently drop them from the append
    val gate = parsed.isNotNull || col("value").isNull ||
      raise_error(concat(lit("payload is not a JSON object: "), col("value")))
    try {
      msgs.filter(gate).write.mode("append").json(dir)
    } catch {
      // report schema-nonconformance ONLY for the FAILFAST parse / payload
      // gate failures; an unrelated write failure (disk full, permissions,
      // committer error) must propagate unchanged, or a caller DLQ-routing
      // on IllegalArgumentException would misroute infra failures as
      // bad-message rejections
      case e: Exception if isSchemaRejection(e) =>
        throw new IllegalArgumentException(
          s"message does not conform to topic schema '${schema.name}' rev ${schema.revisionId}", e)
    }
    msgs
  }

  /** True iff the cause chain contains the FAILFAST parse error or the
    * payload-gate `raise_error` message (cycle-bounded walk). */
  private def isSchemaRejection(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).exists { c =>
      val m = Option(c.getMessage).getOrElse("")
      c.getClass.getName.endsWith("BadRecordException") ||
        m.contains("Malformed records are detected") ||
        m.contains("payload is not a JSON object")
    }

  /** Streaming publish: per micro-batch, the same validate+stamp+append as
    * batch [[publish]] (the Debezium→Pub/Sub hop in the reference). Caller
    * supplies the checkpoint dir (O6 — offsets commit per micro-batch).
    * foreachBatch, not a streaming file sink: a file sink's `_spark_metadata`
    * log would shadow batch-published files and break retention pruning. */
  def publishStream(keyed: DataFrame, checkpointDir: String) =
    keyed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => publish(batch); () }

  private def stamp(keyed: DataFrame): DataFrame =
    keyed.select(
      col("key"),
      col("value"),
      map(
        lit("googclient_schemaencoding"), lit("JSON"),
        lit("googclient_schemaname"), lit(s"schemas/$name"),
        lit("googclient_schemarevisionid"), lit(schema.revisionId)
      ).as("attributes"))

  /** Streaming read — one independent cursor per subscription (each
    * subscription brings its own checkpoint, giving Pub/Sub's independent-
    * cursor fan-out, O9). `maxFilesPerBatch` bounds micro-batch size. */
  def stream(maxFilesPerBatch: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(messageSchema)
    maxFilesPerBatch.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(dir)
  }

  /** The topic dir and the Hadoop `FileSystem` of its scheme: a local
    * `java.nio` path would miss a topic given as a URI. */
  private def root: (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Batch read of the whole retained log (inspection surface). */
  def read: DataFrame = {
    val (fs, p) = root
    // an un-published-to topic has no files; model as empty log, not error
    if (!fs.exists(p)) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], messageSchema)
    } else spark.read.schema(messageSchema).json(dir)
  }

  /** O15 pull: limit-style inspection read, like
    * `gcloud pubsub subscriptions pull` (`/root/reference/README.md:281-296`). */
  def pull(n: Int = 1): Array[Row] = read.limit(n).collect()

  /** O10 retention: drop log files whose modification time is older than
    * `retentionSeconds` — wall-clock pruning, the file-log analog of
    * `message_retention_duration` (`/root/reference/terraform/main.tf:379,401`). */
  def pruneRetention(retentionSeconds: Long, nowMs: Long = System.currentTimeMillis()): Int = {
    val (fs, p) = root
    if (!fs.exists(p)) return 0
    val cutoff = nowMs - retentionSeconds * 1000L
    fs.listStatus(p).count { st =>
      st.getPath.getName.endsWith(".json") && st.getModificationTime < cutoff &&
        fs.delete(st.getPath, false)
    }
  }
}

object Topic {
  /** Wire schema of one logged message. */
  val messageSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("attributes", MapType(StringType, StringType))))
}
