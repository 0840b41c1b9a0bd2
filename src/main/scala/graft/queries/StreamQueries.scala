package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.SchemaRegistry
import graft.streaming.{CdcIngest, Subscription, Topic}

/** The ACTUAL streaming runtime under the correctness gate: q31 runs the
  * full change-log → CdcIngest → Topic → Subscription → parquet-sink
  * pipeline (two real StreamingQuery executions with checkpoints,
  * Trigger.AvailableNow) and returns the sink table. The DuckDB oracle
  * states the end-to-end contract directly over `events`.
  *
  * A 1-in-20 subset of events streams through (the pipeline's per-row work
  * is identical; the subset keeps the bench honest about runtime cost
  * without dominating it).
  */
object StreamQueries {

  /** Runs `body` (which must START AND DRAIN its streaming queries) with
    * `spark.sql.shuffle.partitions` = 4, restoring the session value after.
    * A stateful streaming query commits one state store per shuffle
    * partition (per side, for joins) EVERY micro-batch — at gate scale
    * that fixed commit cost dominates the actual state work, so the gated
    * streams run narrow. The partition count is pinned into each query's
    * own (fresh) checkpoint; batch planning around the stream is untouched.
    * At 100 TB this dial goes UP with the cluster — it is per-deployment
    * sizing, which is why it lives in the gate wrapper, not the operator. */
  private def withStreamPartitions[A](s: SparkSession)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try { s.conf.set("spark.sql.shuffle.partitions", "4"); body }
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  def q31StreamE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the swap-aware sink read surface (a no-op manifest check when no
    // compaction is in flight, a consistent snapshot when one is)
    graft.streaming.SinkMaintenance
      .read(s, cdcPipelineSink(s, dir, "q31"))
      .orderBy($"id")
  }

  /** The full change-log → CdcIngest → Topic → Subscription pipeline,
    * returning the append sink's directory — q31's body, shared with
    * q122's compaction gate. `maxFilesPerBatch` caps the subscription's
    * micro-batch size (topic-log files per batch) and `ingestMaxFiles`
    * the ingest's (change-log files per batch); with `changelogParts`
    * they force genuine multi-batch arrival — the many-small-appends
    * layout compaction exists for. */
  private[graft] def cdcPipelineSink(s: SparkSession, dir: String, tag: String,
      maxFilesPerBatch: Option[Int] = None,
      changelogParts: Option[Int] = None,
      ingestMaxFiles: Option[Int] = None): String = {
    import s.implicits._

    // under the per-JVM harness root (shutdown-hook deleted): the sink is
    // read lazily after this function returns, so no in-function cleanup
    val root = graft.util.HarnessDirs.newDir(tag)
    val registry = new SchemaRegistry

    // the same envelope synthesis as the cdc_* batch twins, restricted to
    // the 1-in-20 subset
    val ev = graft.Tables.events(s, dir).filter($"event_id" % 20 === 0)
    val changelog = cdcEnvelopes(s, ev)
    changelogParts.fold(changelog)(n => changelog.repartition(n))
      .write.mode("overwrite").json(s"$root/changelog")

    val rowSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, user_id LONG, etype STRING, val DOUBLE")
    val topicSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, user_id LONG, etype STRING, __deleted STRING")
    val sinkSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, user_id LONG, etype STRING, age LONG, __deleted STRING")

    val topic = new Topic(s, s"$tag-topic", s"$root/topic",
      registry.register(s"$tag-topic", topicSchema))
    CdcIngest.start(s, s"$root/changelog", rowSchema, "debezium_test", "people",
      Seq("id"), topic, s"$root/ckpt-ingest",
      maxFilesPerBatch = ingestMaxFiles).awaitTermination()

    new Subscription(s"$tag-sub", topic, s"$root/ckpt-sub")
      .deliverTo(s"$root/sink", topicSchema, () => sinkSchema, s"$root/dlq",
        maxFilesPerBatch = maxFilesPerBatch)
      .awaitTermination()

    s"$root/sink"
  }

  /** Debezium-style change envelopes for an events subset — the synthesis
    * shared by q31/q122's pipeline and q123's wave writes. */
  private def cdcEnvelopes(s: SparkSession, ev: DataFrame): DataFrame = {
    import s.implicits._
    val row = struct($"event_id".as("id"), $"user_id",
      $"event_type".as("etype"), $"value".as("val"))
    val isDel = $"event_type" === "error"
    ev.select(to_json(struct(
      when(isDel, row).as("before"),
      when(!isDel, row).as("after"),
      struct(lit("debezium_test").as("db"), lit("people").as("table")).as("source"),
      when(isDel, lit("d")).when($"event_type" === "signup", lit("c"))
        .otherwise(lit("u")).as("op"),
      unix_millis($"ts").as("ts_ms"))).as("value"))
  }

  /** End-to-end contract over the streamed subset: unwrap + delete-rewrite
    * (rule applied by ingest), unknown-field drop (`val` is not in the
    * topic schema), sink-only NULL column (`age`). */
  val q31Sql: String =
    """SELECT event_id AS id, user_id, event_type AS etype,
      |  CAST(NULL AS BIGINT) AS age,
      |  CASE WHEN event_type = 'error' THEN 'true' ELSE 'false' END AS __deleted
      |FROM events
      |WHERE event_id % 20 = 0
      |ORDER BY id""".stripMargin

  /** q122_sink_compact — small-file COMPACTION under the oracle gate: the
    * q31 pipeline delivered with genuine multi-batch arrival (8-file
    * change-log, 2 files per ingest batch, ONE topic file per delivery
    * batch — the streaming-cadence worst case that produces the classic
    * small-files layout), then
    * [[graft.streaming.SinkMaintenance.compact]] rewrites the sink to
    * target-size files behind its crash-safe manifest swap. The oracle is
    * q31's end-to-end contract UNCHANGED — compaction is pure layout
    * reorganization, and the hash gate proves it row-for-row. The
    * file-count drop itself (≥ 4 micro-batch file sets → 1 file) is
    * pinned by SinkMaintenanceSpec's gate-shape test; crash recovery and
    * mid-swap readers were already spec-covered. */
  def q122SinkCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sink = cdcPipelineSink(s, dir, "q122", maxFilesPerBatch = Some(1),
      changelogParts = Some(8), ingestMaxFiles = Some(2))
    graft.streaming.SinkMaintenance.compact(s, sink)
    graft.streaming.SinkMaintenance.read(s, sink).orderBy($"id")
  }

  val q122Sql: String = q31Sql

  /** q123_dlq_replay — the retry → dead-letter → replay endgame under the
    * oracle gate (the G6 golden's batch twin, hash-checked): wave 1 of
    * the events subset delivers under a healthy sink schema; then the
    * sink schema LOSES a topic column (`etype` — the G6-negative conform
    * failure, rule 3), so wave 2 exhausts its delivery attempts with
    * backoff and dead-letters in full while the query survives; the
    * schema is repaired and [[Subscription.replayDeadLetters]] drains the
    * DLQ through one more delivery pass. The final sink must equal q31's
    * plain end-to-end contract — the failure path is INVISIBLE in the
    * result (at-least-once delivery + replay = nothing lost, nothing
    * duplicated), which is exactly what the hash gate proves. Attempt
    * counts, backoff cadence, DLQ payloads and idempotent re-replay stay
    * pinned by GoldenPipelineSpec G6.
    *
    * Scale shape: the DLQ is wave-sized, not corpus-sized; replay is one
    * bounded batch through the normal delivery path. Checkpoints carry
    * across the two delivery runs (same subscription identity), so wave 2
    * is an incremental drain, not a reprocess. */
  def q123DlqReplay(s: SparkSession, dir: String): DataFrame =
    q123DlqReplayCounted(s, dir)._1

  /** q123 with the replayed-message count exposed — DlqReplaySpec asserts
    * it equals the full wave-2 size, proving the gate's green result
    * really traveled the retry → DLQ → replay path rather than landing
    * directly. */
  private[graft] def q123DlqReplayCounted(s: SparkSession, dir: String): (DataFrame, Long) = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q123")
    val registry = new SchemaRegistry

    val ev = graft.Tables.events(s, dir).filter($"event_id" % 20 === 0)
    val rowSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, user_id LONG, etype STRING, val DOUBLE")
    val topicSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, user_id LONG, etype STRING, __deleted STRING")
    val sinkOk = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, user_id LONG, etype STRING, age LONG, __deleted STRING")
    // the G6-negative shape: the sink no longer carries a topic column
    val sinkBroken = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, user_id LONG, age LONG, __deleted STRING")
    var sinkSchema = sinkOk

    val topic = new Topic(s, "q123-topic", s"$root/topic",
      registry.register("q123-topic", topicSchema))
    val sub = new Subscription("q123-sub", topic, s"$root/ckpt-sub")
    def ingest(): Unit =
      CdcIngest.start(s, s"$root/changelog", rowSchema, "debezium_test",
        "people", Seq("id"), topic, s"$root/ckpt-ingest").awaitTermination()
    def deliver(): Unit =
      sub.deliverTo(s"$root/sink", topicSchema, () => sinkSchema,
        s"$root/dlq", sleep = _ => ()).awaitTermination()

    // wave 1 (healthy): half the subset lands normally
    cdcEnvelopes(s, ev.filter($"event_id" % 40 === 0))
      .write.mode("overwrite").json(s"$root/changelog")
    ingest(); deliver()

    // wave 2 (broken sink): every message retries with backoff, then
    // dead-letters; the delivery query itself survives
    sinkSchema = sinkBroken
    cdcEnvelopes(s, ev.filter($"event_id" % 40 =!= 0))
      .write.mode("append").json(s"$root/changelog")
    ingest(); deliver()

    // repair + replay: the DLQ drains through the normal delivery path
    sinkSchema = sinkOk
    val replayed = Subscription.replayDeadLetters(s, s"$root/dlq", sub,
      s"$root/sink", topicSchema, () => sinkSchema, sleep = _ => ())

    (graft.streaming.SinkMaintenance.read(s, s"$root/sink").orderBy($"id"),
      replayed)
  }

  val q123Sql: String = q31Sql

  /** q128_schema_evolution — a topic schema REVISION BUMP mid-stream, end
    * to end under the hash gate (the reference lab's entire second act:
    * ALTER the sink table, then update the topic schema, then watch the
    * new field start flowing — `/root/reference/README.md:299-450`,
    * `sql/bq_schemav2.json`). One subscription, one checkpoint, three
    * incremental drains:
    *
    *  - wave 1: v1 payloads under topic rev 1 — baseline;
    *  - wave 2: payloads CARRY the new `val` field, but the topic is still
    *    rev 1 and the sink has already been widened (the reference's
    *    negative path): the extra field is PRESERVED in the raw message
    *    (README.md:290 — the 'phone' column survives in the pulled
    *    payload) yet lands NULL in the sink, because conformance projects
    *    topic-schema'd fields only — the sink having the column is not
    *    enough;
    *  - wave 3: the topic is re-registered at rev 2 (now including `val`)
    *    and the SAME subscription drains messages stamped with the new
    *    revision id; `val` flows.
    *
    * Every output row carries the `googclient_schemarevisionid` its
    * message was stamped with at publish ([[graft.schema.SchemaRegistry]]'s
    * deterministic id — README.md:295), so the oracle pins conformance PER
    * REVISION: rev-1 rows must have `val` NULL, rev-2 rows must have the
    * exact payload value.
    *
    * Scale shape: schema revisions are driver-side control-plane metadata
    * (a few KB); each wave is a normal distributed drain; the final
    * revision join keys on the unique message id. */
  def q128SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q128")
    val registry = new SchemaRegistry

    val topicV1 = org.apache.spark.sql.types.StructType.fromDDL(
      Q128.TopicV1Ddl)
    val topicV2 = org.apache.spark.sql.types.StructType.fromDDL(
      Q128.TopicV2Ddl)
    val sinkV2 = topicV2 // the widened sink shape (ALTER ... ADD val)

    val rev1 = registry.register("q128-topic", topicV1)
    val topic = new Topic(s, "q128-topic", s"$root/topic", rev1)
    val sub = new Subscription("q128-sub", topic, s"$root/ckpt")
    val ev = graft.Tables.events(s, dir).filter($"event_id" % 20 === 1)

    def keyed(df: DataFrame, withVal: Boolean): DataFrame = {
      val fields =
        Seq($"event_id".as("id"), $"user_id", $"event_type".as("etype")) ++
          (if (withVal) Seq($"value".as("val")) else Nil) :+
          lit("false").as("__deleted")
      df.select(to_json(struct($"event_id".as("id"))).as("key"),
        to_json(struct(fields: _*)).as("value"))
    }
    var sinkSchema = topicV1 // pre-ALTER sink
    def drain(topicSchema: org.apache.spark.sql.types.StructType): Unit =
      sub.deliverTo(s"$root/sink", topicSchema, () => sinkSchema,
        s"$root/dlq", sleep = _ => ()).awaitTermination()

    topic.publish(keyed(ev.filter($"event_id" % 60 === 1), withVal = false))
    drain(topicV1)

    sinkSchema = sinkV2 // ALTER the sink first (reference section 6)
    topic.publish(keyed(ev.filter($"event_id" % 60 === 21), withVal = true))
    drain(topicV1)

    val rev2 = registry.register("q128-topic", topicV2)
    val topicAtV2 = new Topic(s, "q128-topic", s"$root/topic", rev2)
    topicAtV2.publish(keyed(ev.filter($"event_id" % 60 === 41), withVal = true))
    drain(topicV2)

    // explicit sink schema: wave-1 files predate the ALTER and carry no
    // `val` column — the widened read null-fills them, like the real table
    val sink = s.read.schema(sinkV2).parquet(s"$root/sink")
    val revs = topicAtV2.read.select(
      get_json_object($"value", "$.id").cast("long").as("id"),
      $"attributes"("googclient_schemarevisionid").as("revision"))
    sink.join(revs, Seq("id"))
      .select($"id", $"user_id", $"etype", $"val", $"__deleted", $"revision")
      .orderBy($"id")
  }

  /** q169 shared constants: the people-registry revisions (the reference's
    * G5/G6 shapes — `/root/reference/README.md:299-450` — on the customer
    * feed) and their deterministic registry ids, so the oracle states the
    * expected stamps as literals. `id`/`nation` are REQUIRED: the NOT NULL
    * is what makes the G6 drop incompatible, exactly like dropping the
    * populated `zipcode` column errored in the reference. */
  private[queries] object Q169 {
    val V1Ddl = "id BIGINT NOT NULL, name STRING, nation BIGINT NOT NULL, bal DOUBLE"
    // G5: ADD a nullable 'age' — compatible in both directions
    val V2Ddl =
      "id BIGINT NOT NULL, name STRING, nation BIGINT NOT NULL, bal DOUBLE, age BIGINT"
    // G6: DROP the required 'nation' (and 'age') — FORWARD-incompatible
    val V3Ddl = "id BIGINT NOT NULL, name STRING, bal DOUBLE"
    private def revId(ddl: String): String = new SchemaRegistry()
      .revisionIdOf(org.apache.spark.sql.types.StructType.fromDDL(ddl))
    lazy val Rev1: String = revId(V1Ddl)
    lazy val Rev2: String = revId(V2Ddl)
  }

  /** q169_schema_compat — compatibility-GATED schema-revision registration
    * (the reference lab's full evolution arc as one hash-gated flow:
    * G5 "add `age`" must be ACCEPTED and start flowing, G6 "drop
    * `zipcode`" must be REJECTED with the pipeline continuing on the
    * prior revision — `/root/reference/README.md:299-450`):
    *
    *  - rev 1 registers under FULL (first revision always passes);
    *    wave 1 (custkey ≡ 0 mod 3) publishes and conforms under it;
    *  - the G5 proposal (add nullable `age`) passes FULL and becomes
    *    rev 2; wave 2 (≡ 1) publishes WITH age and it flows;
    *  - the G6 proposal (drop the REQUIRED `nation`) throws
    *    [[SchemaCompatibilityException]] — asserted here, with the
    *    registry untouched — and wave 3 (≡ 2) keeps publishing under the
    *    still-latest rev 2 (a lagging v1 writer: its payloads carry no
    *    `age`, which conformance null-fills).
    *
    * Every output row carries the revision stamp current AT ITS PUBLISH,
    * so the oracle pins both the acceptance (waves 2–3 stamp rev 2) and
    * the rejection (wave 3's stamp is rev 2, NOT a third id) through the
    * hash gate; the violation texts are pinned by SchemaCompatSpec.
    *
    * Scale shape: compatibility checks are driver-side control-plane
    * algebra over field sets (KB-sized); each wave is one distributed
    * JSON-conform pass; no shuffle beyond the final order. */
  def q169SchemaCompat(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.schema.{CompatibilityMode, SchemaCompatibilityException}
    val registry = new SchemaRegistry
    val v1 = org.apache.spark.sql.types.StructType.fromDDL(Q169.V1Ddl)
    val v2 = org.apache.spark.sql.types.StructType.fromDDL(Q169.V2Ddl)
    val v3 = org.apache.spark.sql.types.StructType.fromDDL(Q169.V3Ddl)

    val rev1 = registry.registerRevision("q169-people", v1, CompatibilityMode.Full)
    val rev2 = registry.registerRevision("q169-people", v2, CompatibilityMode.Full)
    val rejected =
      try { registry.registerRevision("q169-people", v3, CompatibilityMode.Full); false }
      catch { case _: SchemaCompatibilityException => true }
    require(rejected, "the G6 drop-required-column proposal must be rejected")
    require(registry.latest("q169-people").revisionId == rev2.revisionId,
      "a rejected proposal must leave the registry on the prior revision")

    val c = graft.Tables.customer(s, dir)
    def wire(df: DataFrame, withAge: Boolean): DataFrame = {
      val fields = Seq($"c_custkey".as("id"), $"c_name".as("name"),
        $"c_nationkey".as("nation"), $"c_acctbal".as("bal")) ++
        (if (withAge) Seq(($"c_custkey" % 90).as("age")) else Nil)
      df.select(to_json(struct(fields: _*)).as("value"))
    }
    // conform each wave against the revision current at its publish: the
    // q128 projection semantics — topic-schema fields only, missing fields
    // null-filled
    def conform(w: DataFrame, rev: graft.schema.SchemaRevision): DataFrame = {
      // parse with an all-nullable copy (from_json output is nullable by
      // nature; the NOT NULLs matter to the registry's compat algebra only)
      val parseSchema = org.apache.spark.sql.types.StructType(
        rev.schema.fields.map(_.copy(nullable = true)))
      w.select(from_json($"value", parseSchema).as("m"))
        .select($"m.id", $"m.name", $"m.nation", $"m.bal",
          (if (rev.schema.fieldNames.contains("age")) $"m.age" else lit(null).cast("long"))
            .as("age"),
          lit(rev.revisionId).as("revision"))
    }
    val wave1 = conform(wire(c.filter($"c_custkey" % 3 === 0), withAge = false), rev1)
    val wave2 = conform(wire(c.filter($"c_custkey" % 3 === 1), withAge = true), rev2)
    val wave3 = conform(wire(c.filter($"c_custkey" % 3 === 2), withAge = false), rev2)
    wave1.unionByName(wave2).unionByName(wave3).orderBy($"id")
  }

  val q169Sql: String =
    s"""SELECT c_custkey AS id, c_name AS name, c_nationkey AS nation,
       |  c_acctbal AS bal,
       |  CASE WHEN c_custkey % 3 = 1 THEN c_custkey % 90 END AS age,
       |  CASE WHEN c_custkey % 3 = 0 THEN '${Q169.Rev1}'
       |       ELSE '${Q169.Rev2}' END AS revision
       |FROM customer
       |ORDER BY id""".stripMargin

  /** q34_merge_upsert — the [[graft.merge.MergeSink]] latest-wins upsert
    * under the oracle gate: events applied in TWO batches (split by id
    * parity, so later batches overwrite earlier state for shared keys);
    * the final table state must equal the declarative latest-per-key SQL
    * the oracle states — the O26 convergence contract. */
  def q34MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q34")
    val changes = graft.Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_millis($"ts").as("ms"))
    val sink = new graft.merge.MergeSink(s, s"$root/t", "user_id",
      Seq("ms", "event_id"), numBuckets = 32)
    sink.merge(changes.filter($"event_id" % 2 === 0))
    sink.merge(changes.filter($"event_id" % 2 === 1))
    sink.read()
      .select($"user_id", $"event_id", $"event_type", $"value")
      .orderBy($"user_id")
  }

  val q34Sql: String =
    """SELECT user_id, event_id, event_type, value FROM (
      |  SELECT user_id, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q136

  /** q136_time_travel — point-in-time reads on the
    * [[graft.merge.VersionedSink]]: three change waves merge as versions
    * 1→2→3, then the gate exports the table AS OF version 2 alongside the
    * current state. Rows that version 3 later overwrote must RESURFACE
    * exactly in the v2 read — the warehouse time-travel contract
    * (`SELECT … FOR SYSTEM_TIME AS OF` semantics) on the manifest-pinned
    * immutable-file layout.
    *
    * The oracle states the contract declaratively: as-of-v is latest-wins
    * over the PREFIX of change waves ≤ v — history is just the merge law
    * applied to a prefix, so the manifest machinery (fresh version dirs,
    * bucket→writer maps, atomic manifest commit) is invisible in the
    * result and fully replayable in SQL. VersionedSinkSpec covers what
    * SQL can't see: vacuum retention, orphan-dir crash recovery, and
    * per-version equivalence to a from-scratch MergeSink. */
  def q136TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q136")
    val changes = graft.Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_millis($"ts").as("ms"))
    val sink = new graft.merge.VersionedSink(s, s"$root/t", "user_id",
      Seq("ms", "event_id"), numBuckets = 32)
    sink.merge(changes.filter($"event_id" % 3 === 0)) // version 1
    sink.merge(changes.filter($"event_id" % 3 === 1)) // version 2
    sink.merge(changes.filter($"event_id" % 3 === 2)) // version 3
    val asOf2 = sink.read(2)
      .select(lit(2L).as("version"), $"user_id", $"event_id",
        $"event_type", $"value")
    val current = sink.read()
      .select(lit(3L).as("version"), $"user_id", $"event_id",
        $"event_type", $"value")
    asOf2.unionByName(current).orderBy($"version", $"user_id")
  }

  /** q136 oracle: as-of-v ≡ latest-wins over the wave prefix ≤ v. */
  val q136Sql: String = {
    def latest(version: Int, where: String) =
      s"""SELECT $version AS version, user_id, event_id, event_type, value FROM (
         |  SELECT user_id, event_id, event_type, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
         |  FROM events $where) t WHERE rn = 1""".stripMargin
    s"""SELECT CAST(version AS BIGINT) AS version, user_id, event_id,
       |  event_type, value
       |FROM (${latest(2, "WHERE event_id % 3 IN (0, 1)")}
       |      UNION ALL
       |      ${latest(3, "")})
       |ORDER BY version, user_id""".stripMargin
  }

  // ---------------------------------------------------------------- q163

  /** q163_stream_dedup_ttl — BOUNDED-STATE streaming deduplication:
    * `dropDuplicatesWithinWatermark`, the operator that fixes q107's
    * scale flaw. Plain `dropDuplicates` keeps every key seen FOREVER —
    * O(distinct keys) state, which on a 100 TB stream is the store that
    * eventually dies. The within-watermark variant evicts a key's state
    * once the watermark passes its event time + delay, bounding state by
    * the key arrival rate × delay — the trade being that a duplicate
    * arriving after eviction re-emits (at-least-once dedup, the contract
    * real pipelines actually run with; exact-once dedup of arbitrarily
    * late duplicates is unbounded state BY DEFINITION).
    *
    * Gate determinism: the delay (40 days) exceeds the corpus's 30-day
    * span, so no state evicts before the drain completes and the result
    * is EXACTLY q107's global distinct — the operator wiring, watermark
    * plumbing, and state lifecycle run for real while the oracle stays
    * declarative. The eviction/re-emission behavior that the long delay
    * suppresses here is demonstrated deterministically in
    * StreamDedupTtlSpec (three hand-ordered micro-batches: in-delay
    * duplicate dropped, post-eviction duplicate re-emitted). */
  def q163StreamDedupTtl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q163")

    val ev = graft.Tables.events(s, dir)
      .select(timestamp_millis(unix_millis($"ts")).as("ts"),
        $"user_id", $"event_type")
    ev.orderBy($"ts", $"user_id", $"event_type")
      .select(to_json(struct($"ts", $"user_id", $"event_type")).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$root/src")

    val src = s.readStream.schema("value STRING").text(s"$root/src")
      .select(from_json($"value", ev.schema).as("e"))
      .select($"e.ts", $"e.user_id", $"e.event_type")
    withStreamPartitions(s) {
      src.withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select($"user_id", $"event_type")
        .writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    s.read.schema("user_id LONG, event_type STRING").parquet(s"$root/out")
      .orderBy($"user_id", $"event_type")
  }

  /** q163 oracle: with delay ≥ span, bounded-state dedup ≡ exact
    * distinct (q107's oracle — the equivalence is the stated contract). */
  val q163Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q150

  /** q150_stream_anomaly — q133's rate-anomaly monitor maintained AS A
    * STREAM: the hourly counts fold incrementally in a watermarked
    * streaming aggregation (q110's machinery — state O(open windows ×
    * types), append-mode emission on window close), and the trailing-24h
    * z-score runs over the EMITTED hour series. This is how the monitor
    * actually deploys: the corpus-sized work happens once per hour per
    * type inside the stream; the alert query touches only the tiny
    * emitted table. Watermark eviction is the one semantic difference
    * from batch q133 and it is stated in the oracle, not hidden: hours
    * whose window hasn't closed under the 2 h delay never emit (the q110
    * `end_ms < max_ts − delay` pin).
    *
    * Scale shape: the stream shuffles once per micro-batch on
    * (window, type) with map-side partial counts; the z-window sees
    * |types|·|hours| rows no matter how many billions of events fed them
    * (the q133 pre-aggregation class, now maintained at change-volume
    * cost). */
  def q150StreamAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q150")

    val ev = graft.Tables.events(s, dir)
      .select(timestamp_millis(unix_millis($"ts")).as("ts"), $"event_type")
    ev.orderBy($"ts", $"event_type")
      .select(to_json(struct($"ts", $"event_type")).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$root/src")

    val src = s.readStream.schema("value STRING").text(s"$root/src")
      .select(from_json($"value", ev.schema).as("e"))
      .select($"e.ts", $"e.event_type")
    withStreamPartitions(s) {
      src.withWatermark("ts", "2 hours")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(unix_millis($"window.start").as("start_ms"), $"event_type", $"n")
        .writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val hours = s.read
      .schema("start_ms LONG, event_type STRING, n LONG")
      .parquet(s"$root/out")
      .select($"event_type", expr("start_ms div 3600000").as("hr"), $"n")
    val w = Window.partitionBy($"event_type").orderBy($"hr").rangeBetween(-24, -1)
    hours
      .withColumn("c", count($"n").over(w))
      .withColumn("s1", sum($"n").over(w))
      .withColumn("s2", sum($"n" * $"n").over(w))
      .withColumn("z_e6",
        when($"c" >= 12,
          floor(lit(1000000.0) * ($"c" * $"n" - $"s1") /
            sqrt(greatest($"c" * $"s2" - $"s1" * $"s1", $"c" * $"c")
              .cast("double"))).cast("long"))
          .otherwise(lit(null).cast("long")))
      .select($"event_type", $"hr", $"n", $"z_e6",
        when($"z_e6" >= 3000000L, lit(1L)).otherwise(lit(0L)).as("anomaly"))
      .orderBy($"event_type", $"hr")
  }

  /** q150 oracle: q133's z-formula over q110's emitted hour set — the
    * watermark eviction pin stated verbatim. */
  val q150Sql: String =
    """WITH m AS (SELECT max(epoch_ms(ts)) AS mx FROM events),
      |hw AS (
      |  SELECT event_type, epoch_ms(ts) // 3600000 AS hr, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |h AS (
      |  SELECT hw.event_type, hw.hr, hw.n FROM hw CROSS JOIN m
      |  WHERE (hw.hr + 1) * 3600000 < m.mx - 7200000),
      |w AS (
      |  SELECT event_type, hr, n,
      |    count(n) OVER tw AS c, sum(n) OVER tw AS s1,
      |    sum(n * n) OVER tw AS s2
      |  FROM h
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY hr
      |                RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT event_type, hr, n,
      |    CASE WHEN c >= 12
      |         THEN CAST(floor(1000000.0 * (c * n - s1)
      |                / sqrt(CAST(greatest(c * s2 - s1 * s1, c * c) AS DOUBLE))) AS BIGINT)
      |         ELSE NULL END AS z_e6
      |  FROM w)
      |SELECT event_type, hr, CAST(n AS BIGINT) AS n, z_e6,
      |  CAST(CASE WHEN z_e6 >= 3000000 THEN 1 ELSE 0 END AS BIGINT) AS anomaly
      |FROM z ORDER BY event_type, hr""".stripMargin

  // ---------------------------------------------------------------- q147

  /** q147_cdc_delete_merge — the CDC DELETE path landing in the merge
    * sink: O4 rewrites source deletes as rows with `__deleted = 'true'`
    * (STRING, the Debezium-transform contract), and the sink must make
    * the key disappear — while staying idempotent under upstream replay.
    * The recipe is tombstone retention (Kafka log-compaction /
    * Cassandra): the delete row WINS latest-wins and is STORED, `read()`
    * filters it, and a replayed pre-delete upsert loses to the retained
    * tombstone instead of resurrecting the key. `purgeTombstones()` is
    * the separate compaction-horizon decision (MergeSinkSpec covers
    * replay/revival/purge laws; this gate covers the end state).
    *
    * The gate: every user's events flow as upserts in two waves; users
    * with `user_id % 7 = 3` get a delete envelope stamped AFTER their
    * last event. Exported state = latest event per surviving user — the
    * deleted seventh is gone, everyone else unaffected.
    *
    * Scale shape: identical to q34 (touched-bucket rewrites,
    * change-volume cost); the tombstone filter is a partition-local
    * predicate on read. */
  def q147CdcDeleteMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q147")
    val changes = graft.Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_millis($"ts").as("ms"), lit("false").as("__deleted"))
    val deletes = changes.filter($"user_id" % 7 === 3)
      .groupBy($"user_id")
      .agg((max($"ms") + 1).as("ms"))
      .select($"user_id", lit(-1L).as("event_id"),
        lit("__del").as("event_type"), lit(0.0).as("value"), $"ms",
        lit("true").as("__deleted"))
    val sink = new graft.merge.MergeSink(s, s"$root/t", "user_id",
      Seq("ms", "event_id"), numBuckets = 32,
      tombstoneCol = Some("__deleted"))
    sink.merge(changes.filter($"event_id" % 2 === 0))
    sink.merge(changes.filter($"event_id" % 2 === 1).unionByName(deletes))
    sink.read()
      .select($"user_id", $"event_id", $"event_type", $"value")
      .orderBy($"user_id")
  }

  /** q147 oracle: latest-wins over upserts ∪ synthesized per-user delete
    * envelopes, winners that are deletes excluded. */
  val q147Sql: String =
    """WITH d AS (
      |  SELECT user_id, CAST(-1 AS BIGINT) AS event_id,
      |    '__del' AS event_type, 0.0 AS value,
      |    max(epoch_ms(ts)) + 1 AS ms, 'true' AS del
      |  FROM events WHERE user_id % 7 = 3 GROUP BY user_id),
      |c AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms,
      |    'false' AS del
      |  FROM events
      |  UNION ALL SELECT * FROM d),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ms DESC, event_id DESC) AS rn
      |  FROM c)
      |SELECT user_id, event_id, event_type, value
      |FROM r WHERE rn = 1 AND del = 'false'
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q142

  /** q142_version_diff — the change-data-feed read on the
    * [[graft.merge.VersionedSink]]: "what changed between version a and
    * version b" as a first-class query, completing the lakehouse triad
    * (q136 reads a version, q138 joins versions onto facts, this one
    * DIFFS versions — the contract an incremental consumer reads instead
    * of re-scanning the full table). q136's three change waves build
    * versions 1→2→3; the gate exports the v1→v3 diff: `insert` rows
    * (key absent at v1) and `update` rows (key present, payload moved),
    * each with old/new payloads side by side. A latest-wins upsert sink
    * never deletes, so the delete class is impossible BY CONSTRUCTION
    * here — stated, not silently absent (the delete path lives in the CDC
    * `__deleted` rewrite, O4).
    *
    * Scale shape: each version read is one scan of the bucket dirs its
    * manifest pins (the q136 machinery); the diff is ONE full-outer join on the
    * bucket key both sides are already bucketed by, then a row-level
    * payload comparison — no window, no second shuffle. Diff cardinality
    * is change volume between the versions, not table size. */
  def q142VersionDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q142")
    val changes = graft.Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_millis($"ts").as("ms"))
    val sink = new graft.merge.VersionedSink(s, s"$root/t", "user_id",
      Seq("ms", "event_id"), numBuckets = 32)
    sink.merge(changes.filter($"event_id" % 3 === 0)) // version 1
    sink.merge(changes.filter($"event_id" % 3 === 1)) // version 2
    sink.merge(changes.filter($"event_id" % 3 === 2)) // version 3
    val old = sink.read(1)
      .select($"user_id", $"event_id".as("old_event_id"),
        $"value".as("old_value"))
    val cur = sink.read(3)
      .select($"user_id", $"event_id".as("new_event_id"),
        $"value".as("new_value"))
    cur.join(old, Seq("user_id"), "left")
      .filter($"old_event_id".isNull || $"old_event_id" =!= $"new_event_id")
      .select($"user_id",
        when($"old_event_id".isNull, lit("insert")).otherwise(lit("update"))
          .as("change_type"),
        $"old_event_id", $"old_value", $"new_event_id", $"new_value")
      .orderBy($"user_id")
  }

  /** q142 oracle: latest-wins over wave prefixes ≤1 and ≤3, left-joined
    * and classified — the manifest machinery must be invisible. */
  val q142Sql: String = {
    def latest(where: String) =
      s"""SELECT user_id, event_id, value FROM (
         |  SELECT user_id, event_id, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
         |  FROM events $where) t WHERE rn = 1""".stripMargin
    s"""WITH v1 AS (${latest("WHERE event_id % 3 = 0")}),
       |v3 AS (${latest("")})
       |SELECT v3.user_id,
       |  CASE WHEN v1.event_id IS NULL THEN 'insert' ELSE 'update' END
       |    AS change_type,
       |  v1.event_id AS old_event_id, v1.value AS old_value,
       |  v3.event_id AS new_event_id, v3.value AS new_value
       |FROM v3 LEFT JOIN v1 ON v3.user_id = v1.user_id
       |WHERE v1.event_id IS NULL OR v1.event_id <> v3.event_id
       |ORDER BY v3.user_id""".stripMargin
  }

  /** q85_stream_funnel — [[graft.streaming.EventStream.funnelProgress]]
    * (the stateful flatMapGroupsWithState operator) under the DRIVER gate,
    * the q31 pattern applied to cross-batch user state: the events table
    * streams through the funnel via Trigger.AvailableNow, emissions land in
    * a parquet sink, and the exported table is each user's LATEST emission
    * (their final funnel verdict) left-joined onto the distinct-user base —
    * stage-0 users never advance, so they never emit, and fill as
    * (0, null, null, null). The oracle is EXACTLY q76's batch SQL: under
    * in-order arrival (the source is written time-sorted; within a batch
    * the operator re-sorts) the stream's first-qualifying sequencing is the
    * batch min-based sequencing, so the stateful operator must reproduce
    * the batch funnel bit-for-bit — the spec-only stream≡batch assertion
    * (EventStreamSpec) promoted to a hash-matched CORRECTNESS row.
    *
    * No TTL: `stateTtlMs = None` keeps the operator on NoTimeout, which is
    * what lets AvailableNow drain and terminate (ProcessingTimeTimeout
    * schedules no-data batches forever); the TTL path stays spec-covered. */
  def q85StreamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.EventStream
    val root = graft.util.HarnessDirs.newDir("q85")

    val ev = graft.Tables.events(s, dir)
      .select($"ts", $"user_id", $"event_type")
    // time-sorted single file = the in-order arrival contract under which
    // stream ≡ batch holds across any batch split the source picks
    ev.orderBy($"ts", $"event_type")
      .select(to_json(struct($"ts", $"user_id", $"event_type")).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$root/src")

    val src = s.readStream.schema("value STRING").text(s"$root/src")
      .select(from_json($"value", ev.schema).as("e"))
      .select($"e.ts", $"e.user_id", $"e.event_type")
      .as[EventStream.FunnelEvent]
    withStreamPartitions(s) {
      EventStream.funnelProgress(src).writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"stage".desc)
    val last = s.read
      .schema("user_id LONG, stage LONG, t_view_ms LONG, t_click_ms LONG, t_purchase_ms LONG")
      .parquet(s"$root/out")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    ev.select($"user_id").distinct()
      .join(last, Seq("user_id"), "left")
      .select($"user_id", coalesce($"stage", lit(0L)).as("stage"),
        $"t_view_ms", $"t_click_ms", $"t_purchase_ms")
      .orderBy($"user_id")
  }

  /** q86_stream_prep — [[graft.streaming.CorpusStream.curated]] (the
    * cross-batch first-arrival dedup state) under the driver gate, q85's
    * recipe applied to the corpus-prep stream: documents stream through in
    * doc_id order (the arrival contract under which first-arrival dedup ≡
    * q47's min-doc_id canonical rule), and the sink table must hash-match
    * q47's batch SQL exactly. Stateless stages are literally shared with
    * the batch query (prepScored / sampleBucket), so what this row gates
    * is precisely the stateful dedup's cross-batch behavior. */
  def q86StreamPrep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q86")

    val docs = graft.Tables.documents(s, dir).select($"doc_id", $"lang", $"text")
    docs.orderBy($"doc_id")
      .select(to_json(struct($"doc_id", $"lang", $"text")).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$root/src")

    val src = s.readStream.schema("value STRING").text(s"$root/src")
      .select(from_json($"value", docs.schema).as("d"))
      .select($"d.doc_id", $"d.lang", $"d.text")
    withStreamPartitions(s) {
      graft.streaming.CorpusStream.curated(src).writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

    s.read
      .schema("doc_id LONG, lang STRING, n_tokens LONG, fp STRING, bucket STRING")
      .parquet(s"$root/out")
      .orderBy($"doc_id")
  }

  /** q89_stream_join — the STREAM-STREAM interval join
    * ([[graft.streaming.EventStream.purchasesWithRecentClicks]]) under the
    * driver gate: the last spec-only streaming operator family promoted to
    * a hash-matched CORRECTNESS row (q85/q86's pattern — q46 gates this
    * operator's batch twin; this row gates the watermarked two-sided
    * state machine itself, run to completion via Trigger.AvailableNow).
    *
    * Timestamps are ms-TRUNCATED at source synthesis, which closes the
    * µs-vs-ms predicate gap between the streaming operator (raw-timestamp
    * comparisons, so the predicate can drive watermark eviction) and the
    * q46 oracle grid: on ms-grid inputs the two predicates are identical,
    * so the oracle is EXACTLY q46's SQL. Events stream time-sorted (the
    * in-order arrival contract): any purchase that could still match an
    * evicted click would have to lie behind the watermark its own arrival
    * advanced — so eviction provably never drops a pair, the same
    * argument EventStreamSpec makes per-batch. */
  def q89StreamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q89")

    val ev = graft.Tables.events(s, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select(unix_millis($"ts").as("ms"), $"user_id", $"event_type",
        $"event_id", $"value")
    ev.orderBy($"ms", $"event_id")
      .select(to_json(struct($"ms", $"user_id", $"event_type", $"event_id", $"value")).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$root/src")

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ms LONG, user_id LONG, event_type STRING, event_id LONG, value DOUBLE")
    val src = s.readStream.schema("value STRING").text(s"$root/src")
      .select(from_json($"value", schema).as("e"))
      .select(timestamp_millis($"e.ms").as("ts"), $"e.user_id".as("user_id"),
        $"e.event_type".as("event_type"), $"e.event_id".as("event_id"),
        $"e.value".as("value"))
    // a two-sided streaming join materializes state stores per shuffle
    // partition PER SIDE per batch — at the session's 32 partitions that
    // is ~128 store commits a batch, pure fixed overhead at gate scale
    // (measured: 8.9 s → 3.7 s at 4). See [[withStreamPartitions]].
    withStreamPartitions(s) {
      graft.streaming.EventStream.purchasesWithRecentClicks(src).writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

    s.read
      .schema("user_id LONG, purchase_id LONG, click_id LONG, purchase_ms LONG, click_ms LONG, value DOUBLE")
      .parquet(s"$root/out")
      .orderBy($"purchase_id", $"click_id")
  }

  /** q96_incr_agg — incremental aggregate-view maintenance
    * ([[graft.merge.IncrementalAgg]]) under the oracle gate: a per-user
    * rollup (event count, grid-exact value sum, last-seen ms) maintained
    * across THREE change batches (split by event_id mod 3 — later batches
    * must fold into stored state, not recompute it), then read back and
    * hash-matched against the full-recompute SQL. The q34 pattern applied
    * to the partial-aggregation semiring instead of latest-wins rows: what
    * the gate certifies is CONVERGENCE — fold(fold(fold(∅,b0),b1),b2) ≡
    * groupBy over the whole table, the contract that makes change-volume-
    * cost view maintenance trustworthy at 100 TB.
    *
    * Sums ride the scale-2 integer grid ([[graft.functions.Grid]]) so the
    * folded total is associative-exact — the same convention that makes
    * the distributed/single-threaded engines agree everywhere else. */
  def q96IncrAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q96")
    val ev = graft.Tables.events(s, dir)
      .select($"event_id", $"user_id",
        graft.functions.Grid.units2($"value").cast("long").as("v2"),
        unix_millis($"ts").as("ms"))
    def partials(df: DataFrame): DataFrame =
      df.groupBy($"user_id").agg(
        count(lit(1)).as("n_events"),
        sum($"v2").as("sum_v2"),
        max($"ms").as("last_ms"))
    val view = new graft.merge.IncrementalAgg(s, s"$root/view", "user_id",
      Seq("n_events" -> (sum(_)), "sum_v2" -> (sum(_)), "last_ms" -> (max(_))),
      numBuckets = 32)
    (0 until 3).foreach(i => view.update(partials(ev.filter($"event_id" % 3 === i))))
    view.read()
      .select($"user_id", $"n_events", $"sum_v2",
        ($"sum_v2".cast("double") / 100.0).as("sum_value"), $"last_ms")
      .orderBy($"user_id")
  }

  val q96Sql: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_v2,
      |  (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_value,
      |  max(epoch_ms(ts)) AS last_ms
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q103_stream_sessions — [[graft.streaming.EventStream.gapSessions]]
    * (native `session_window` + watermark) under the driver gate: the
    * events table streams through via Trigger.AvailableNow, append-mode
    * emissions land in a parquet sink, and the sink must hash-match the
    * gaps-and-islands SQL restricted to WATERMARK-FINALIZED sessions —
    * the watermark rule (a session emits iff `end < max_event_time −
    * delay`) stated verbatim in the oracle, so eviction timing is part of
    * the gated contract, not an implementation detail.
    *
    * Two deliberate semantic pins the oracle encodes:
    *  - `session_window` starts a NEW session at gap ≥ 30 min (an event at
    *    exactly last+gap falls outside the half-open window), where
    *    q20's batch formulation uses strict >. Same operator family, two
    *    published conventions — each gated against its own SQL.
    *  - the source is ms-TRUNCATED before streaming (the q89 lesson):
    *    Spark sessionizes at µs precision while the oracle sees ms, so
    *    the gate holds on the grid where both engines agree.
    *
    * The oracle pre-aggregates to the (user_id, ms) grain before the gap
    * scan: ties at a session boundary would otherwise make the islands
    * running-sum order-dependent, and sessions are a function of the
    * distinct timestamp set anyway.
    *
    * Scale shape: one user_id-keyed exchange; session state is
    * O(open sessions) per key and the watermark bounds it — this is the
    * 100 TB sessionizer (q20's full-history window sort is the batch
    * backfill twin). */
  def q103StreamSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q103")

    val ev = graft.Tables.events(s, dir)
      .select(timestamp_millis(unix_millis($"ts")).as("ts"), $"user_id", $"value")
    ev.orderBy($"ts", $"user_id")
      .select(to_json(struct($"ts", $"user_id", $"value")).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$root/src")

    val src = s.readStream.schema("value STRING").text(s"$root/src")
      .select(from_json($"value", ev.schema).as("e"))
      .select($"e.ts", $"e.user_id", $"e.value")
    withStreamPartitions(s) {
      graft.streaming.EventStream.gapSessions(src).writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    s.read
      .schema("user_id LONG, start_ms LONG, end_ms LONG, n_events LONG, sum_value DOUBLE")
      .parquet(s"$root/out")
      .orderBy($"user_id", $"start_ms")
  }

  val q103Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, count(*) AS n,
      |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sv
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT max(epoch_ms(ts)) AS mx FROM events),
      |g AS (
      |  SELECT user_id, ms, n, sv,
      |    CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
      |          OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 1800000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |t AS (
      |  SELECT user_id, ms, n, sv,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms
      |                        ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM g)
      |SELECT user_id, min(ms) AS start_ms, max(ms) + 1800000 AS end_ms,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  (CAST(sum(sv) AS DOUBLE) / 100.0) AS sum_value
      |FROM t CROSS JOIN m
      |GROUP BY user_id, sess, m.mx
      |HAVING max(ms) + 1800000 < m.mx - 7200000
      |ORDER BY user_id, start_ms""".stripMargin

  /** q107_stream_dedup — Spark's NATIVE streaming `dropDuplicates` (the
    * built-in stateful dedup operator) under the driver gate, with GENUINE
    * multi-batch arrival: the source is written as several files and read
    * with `maxFilesPerTrigger=1`, so Trigger.AvailableNow runs one
    * micro-batch per file and the no-reemission contract is exercised
    * ACROSS batches (state written by batch k must suppress the same key in
    * batch k+3), not just within one. q86 gates the custom
    * mapGroupsWithState first-arrival dedup; this row gates the engine's
    * own operator.
    *
    * Only the dedup KEY columns are exported: every row of a key projects
    * to the same output tuple, so the gate is immune to which arrival the
    * operator keeps (that choice is intra-batch-order dependent), while
    * the interesting property — each key emitted EXACTLY once across the
    * whole run — is precisely `SELECT DISTINCT`. Arrival order across
    * files is therefore also irrelevant, so the source needs no sort.
    *
    * Scale shape: one key-hashed exchange into the state store; state is
    * O(distinct keys), the same bound as batch DISTINCT's final agg. The
    * unbounded-retention variant gated here is the backfill twin;
    * production streams bound state with `dropDuplicatesWithinWatermark`
    * (same operator family, TTL'd store) — the dial lives with the
    * deployment, like q103's watermark delay. */
  def q107StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q107")

    val ev = graft.Tables.events(s, dir).select($"user_id", $"event_type")
    // 4 source files = 4 micro-batches (r20, was 8): the certified property
    // is CROSS-batch suppression, which any multi-batch split exercises —
    // the r20 decomposition split q107's wall as ~0.5 s PER micro-batch
    // (state commit + sink commit + planning, constant per batch at gate
    // scale), so the extra four batches bought nothing the first four
    // don't certify
    ev.select(to_json(struct($"user_id", $"event_type")).as("value"))
      .repartition(4)
      .write.mode("overwrite").text(s"$root/src")

    val src = s.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", "1")
      .text(s"$root/src")
      .select(from_json($"value", ev.schema).as("e"))
      .select($"e.user_id", $"e.event_type")
    withStreamPartitions(s) {
      src.dropDuplicates("user_id", "event_type").writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    s.read.schema("user_id LONG, event_type STRING").parquet(s"$root/out")
      .orderBy($"user_id", $"event_type")
  }

  val q107Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** q267_stream_dedup_wm — Spark's NATIVE `dropDuplicatesWithinWatermark`
    * (the built-in TTL'd dedup operator) under the driver gate. q107 gates
    * the unbounded native dedup (state = every key ever seen, the
    * documented contrast line in the soak); q163 gates a CUSTOM
    * bounded-state dedup (mapGroupsWithState with explicit TTL). This row
    * completes the family with the ENGINE's own bounded-state operator:
    * state holds a key only within the watermark horizon of its first
    * arrival, which is the production dedup for at-least-once sources
    * whose duplicates cluster in time (checkpoint replays, unacked
    * redeliveries) — exactly the Pub/Sub redelivery window of the
    * reference's subscription (/root/reference/terraform/main.tf:389-415).
    *
    * Gate arrangement: the horizon (60 days) exceeds the corpus's
    * event-time span (~30 days), so every duplicate provably falls inside its key's
    * retention window and the emitted set is EXACTLY one row per distinct
    * key — `SELECT DISTINCT` as the oracle, the q107 discipline (only key
    * columns exported, so the gate is immune to which arrival is kept).
    * The horizon dial is the deployment's duplicate-window bound, like
    * q103's watermark delay; state is O(keys within horizon) — the q163
    * bound — which the soak instrument demonstrates for the family.
    *
    * Scale shape: one key-hashed exchange into the state store; unlike
    * q107 the store EVICTS keys as the watermark passes their horizon, so
    * a 100 TB/day stream holds arrival-rate × horizon keys, not history. */
  def q267StreamDedupWm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q267")

    val ev = graft.Tables.events(s, dir)
      .select(unix_millis($"ts").as("ms"), $"user_id", $"event_type")
    // 4 source files = 4 micro-batches (r20, was 8) — q107's reasoning
    ev.select(to_json(struct($"ms", $"user_id", $"event_type")).as("value"))
      .repartition(4)
      .write.mode("overwrite").text(s"$root/src")

    val src = s.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", "1")
      .text(s"$root/src")
      .select(from_json($"value", org.apache.spark.sql.types.StructType
        .fromDDL("ms LONG, user_id LONG, event_type STRING")).as("e"))
      .select(timestamp_millis($"e.ms").as("ts"), $"e.user_id".as("user_id"),
        $"e.event_type".as("event_type"))
    withStreamPartitions(s) {
      src.withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select($"user_id", $"event_type")
        .writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    s.read.schema("user_id LONG, event_type STRING").parquet(s"$root/out")
      .orderBy($"user_id", $"event_type")
  }

  /** q110_stream_window — the NATIVE watermarked tumbling-window
    * aggregation (append mode) under the driver gate: per (hour-window,
    * event_type) counts and grid-exact value sums, emitted only when the
    * watermark finalizes the window. q103 gates `session_window`; this row
    * gates the fixed-window groupBy-window operator — the single most
    * common streaming aggregation — with the SAME eviction-rule pin: a
    * window emits iff `window_end < max_event_time − delay` (strict <,
    * stated verbatim in the oracle's HAVING, so eviction timing is gated
    * contract, not implementation detail). The batch twin is q15's
    * time-window rollup over the full history.
    *
    * The source is ms-truncated before streaming (the q89/q103 lesson) so
    * Spark's µs window assignment and the oracle's ms grid agree, and
    * arrives time-sorted so the final watermark is max(ts) − delay.
    *
    * Scale shape: map-side partial aggregation into a (window, type)-keyed
    * exchange; state is O(open windows × types) and the watermark bounds
    * open windows — constant per key-space slice no matter the corpus.
    * This is the 100 TB rollup: q15 recomputes the history, this
    * maintains it at change-volume cost. */
  def q110StreamWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q110")

    val ev = graft.Tables.events(s, dir)
      .select(timestamp_millis(unix_millis($"ts")).as("ts"), $"event_type", $"value")
    ev.orderBy($"ts", $"event_type")
      .select(to_json(struct($"ts", $"event_type", $"value")).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$root/src")

    val src = s.readStream.schema("value STRING").text(s"$root/src")
      .select(from_json($"value", ev.schema).as("e"))
      .select($"e.ts", $"e.event_type", $"e.value")
    withStreamPartitions(s) {
      src.withWatermark("ts", "2 hours")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.Grid.units2($"value").cast("long")).as("sv2"))
        .select(unix_millis($"window.start").as("start_ms"),
          unix_millis($"window.end").as("end_ms"),
          $"event_type", $"n", $"sv2")
        .writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    s.read
      .schema("start_ms LONG, end_ms LONG, event_type STRING, n LONG, sv2 LONG")
      .parquet(s"$root/out")
      .select($"start_ms", $"end_ms", $"event_type", $"n", $"sv2",
        ($"sv2".cast("double") / 100.0).as("sum_value"))
      .orderBy($"start_ms", $"event_type")
  }

  val q110Sql: String =
    """WITH m AS (SELECT max(epoch_ms(ts)) AS mx FROM events),
      |w AS (
      |  SELECT (epoch_ms(ts) // 3600000) * 3600000 AS start_ms, event_type,
      |    count(*) AS n,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sv2
      |  FROM events GROUP BY 1, 2)
      |SELECT start_ms, start_ms + 3600000 AS end_ms, event_type, n, sv2,
      |  (CAST(sv2 AS DOUBLE) / 100.0) AS sum_value
      |FROM w CROSS JOIN m
      |WHERE start_ms + 3600000 < m.mx - 7200000
      |ORDER BY start_ms, event_type""".stripMargin

  /** q114_stream_enrich — the STREAM-STATIC join under the driver gate:
    * events stream through in four micro-batches (q107's
    * `maxFilesPerTrigger=1` recipe) and each batch left-joins the static
    * customer dimension read from parquet — the standard streaming
    * enrichment shape (fact stream × slowly-changing dim). Completes the
    * gated join family: batch equi/outer (q3/q42), stream-stream interval
    * (q89), stream-static here.
    *
    * The static side re-plans per micro-batch as a broadcast build — the
    * O(1)-dim broadcast discipline (PlanSpec's rule) applied to
    * streaming: no state store at all (stateless join), so the gate pins
    * that N batches × one dim lookup ≡ one batch join. Dims too big to
    * broadcast at 100 TB flip this to the q69 bucketed co-located join on
    * the batch side, or key-range state in a stream-stream join —
    * deployment dials, not semantics.
    *
    * Oracle: the plain batch LEFT JOIN — stateless enrichment has no
    * timing semantics to pin, which is exactly the property being
    * certified (append emission must be the batch join row set no matter
    * the batch split). */
  def q114StreamEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q114")

    val ev = graft.Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.select(to_json(struct($"event_id", $"user_id", $"event_type", $"value")).as("value"))
      .repartition(4)
      .write.mode("overwrite").text(s"$root/src")

    val dim = broadcast(graft.Tables.customer(s, dir)
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal"))

    val src = s.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", "1")
      .text(s"$root/src")
      .select(from_json($"value", ev.schema).as("e"))
      .select($"e.event_id", $"e.user_id", $"e.event_type", $"e.value")
    withStreamPartitions(s) {
      src.join(dim, $"user_id" === $"c_custkey", "left")
        .select($"event_id", $"user_id", $"event_type", $"c_mktsegment", $"value")
        .writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    s.read
      .schema("event_id LONG, user_id LONG, event_type STRING, c_mktsegment STRING, value DOUBLE")
      .parquet(s"$root/out")
      .orderBy($"event_id")
  }

  val q114Sql: String =
    """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment, e.value
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin

  /** q128 shared constants: the two topic-schema revisions and their
    * deterministic registry ids (MD5-prefix of the schema JSON — so the
    * oracle can state the expected stamp as a literal). */
  private[queries] object Q128 {
    val TopicV1Ddl = "id LONG, user_id LONG, etype STRING, __deleted STRING"
    val TopicV2Ddl = "id LONG, user_id LONG, etype STRING, val DOUBLE, __deleted STRING"
    private def revId(ddl: String): String = new SchemaRegistry()
      .revisionIdOf(org.apache.spark.sql.types.StructType.fromDDL(ddl))
    lazy val Rev1: String = revId(TopicV1Ddl)
    lazy val Rev2: String = revId(TopicV2Ddl)
  }

  /** Waves by `event_id % 60`: 1 → v1 payload under rev 1; 21 → payload
    * carries `val` but the topic is still rev 1, so it lands NULL; 41 →
    * rev 2, `val` flows. */
  val q128Sql: String =
    s"""SELECT event_id AS id, user_id, event_type AS etype,
       |  CASE WHEN event_id % 60 = 41 THEN value END AS val,
       |  'false' AS __deleted,
       |  CASE WHEN event_id % 60 = 41 THEN '${Q128.Rev2}'
       |       ELSE '${Q128.Rev1}' END AS revision
       |FROM events
       |WHERE event_id % 20 = 1
       |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q200

  /** q200_stream_topk — "trending now" maintained as a stream: hourly
    * event-type counts kept by a watermarked streaming window
    * aggregation run to completion under AvailableNow, with the top-3
    * types per hour derived from the EMITTED table. The leaderboard
    * pattern every ops dashboard runs — and the division of labor is
    * the point the gate pins: the STREAM maintains only the
    * incremental windowed counts (state = open windows, the q110
    * bound); the rank is a batch window over the emitted
    * |hours|·|types| relation, never inside the stream (per-window
    * top-k is not incrementally maintainable without custom state —
    * recompute-over-emitted is the production shape).
    *
    * The oracle replays the hourly counts declaratively WITH the
    * watermark-eviction pin (only windows closed by the final
    * watermark emit under append mode — the q150 contract, stated
    * verbatim) and ranks them the same way. */
  def q200StreamTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q200")

    val ev = graft.Tables.events(s, dir)
      .select(timestamp_millis(unix_millis($"ts")).as("ts"), $"event_type")
    ev.orderBy($"ts", $"event_type")
      .select(to_json(struct($"ts", $"event_type")).as("value"))
      .coalesce(1)
      .write.mode("overwrite").text(s"$root/src")

    val src = s.readStream.schema("value STRING").text(s"$root/src")
      .select(from_json($"value", ev.schema).as("e"))
      .select($"e.ts", $"e.event_type")
    withStreamPartitions(s) {
      src.withWatermark("ts", "2 hours")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(unix_millis($"window.start").as("start_ms"), $"event_type", $"n")
        .writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val hours = s.read
      .schema("start_ms LONG, event_type STRING, n LONG")
      .parquet(s"$root/out")
      .select(expr("start_ms div 3600000").as("hr"), $"event_type", $"n")
    val w = Window.partitionBy($"hr").orderBy($"n".desc, $"event_type")
    hours.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"hr", $"rank", $"event_type", $"n")
      .orderBy($"hr", $"rank")
  }

  /** q200 oracle: hourly counts + the q150 watermark-eviction pin +
    * the same rank. */
  val q200Sql: String =
    """WITH m AS (SELECT max(epoch_ms(ts)) AS mx FROM events),
      |hw AS (
      |  SELECT epoch_ms(ts) // 3600000 AS hr, event_type,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |h AS (
      |  SELECT hw.hr, hw.event_type, hw.n FROM hw CROSS JOIN m
      |  WHERE (hw.hr + 1) * 3600000 < m.mx - 7200000),
      |rk AS (
      |  SELECT hr, event_type, n,
      |    CAST(row_number() OVER (PARTITION BY hr
      |         ORDER BY n DESC, event_type) AS BIGINT) AS rank
      |  FROM h)
      |SELECT hr, rank, event_type, n
      |FROM rk WHERE rank <= 3 ORDER BY hr, rank""".stripMargin

  // ---------------------------------------------------------------- q244

  /** q244_stream_outer_join — the LEFT OUTER stream-stream interval join
    * ([[graft.streaming.EventStream.purchasesWithRecentClicksOuter]])
    * under the driver gate: q89 gates the INNER flavor's two-sided state
    * machine; what outer adds — and what this row certifies — is
    * WATERMARK-DRIVEN NULL EMISSION: an unmatched purchase's null row may
    * only appear once the click-side watermark proves no qualifying click
    * can still arrive, the same instant its buffered state is evicted.
    * Completeness and bounded state are one mechanism, and the oracle is
    * exactly q56's batch LEFT JOIN — so the gate pins that the
    * stream-evicted result IS the batch result.
    *
    * Harness: ms-truncated time-sorted input (q89's grid note), plus two
    * far-future sentinel waves (a click AND a purchase per wave — BOTH
    * branch watermarks must advance; EventStreamSpec's rule). However the
    * file source batches the files, the sentinels push the post-batch
    * watermark past every real row, and the trailing no-data micro-batch
    * evicts + emits the remaining outer rows before AvailableNow
    * terminates (q249 demonstrates the batching caveat directly).
    * Sentinels carry user_id −1 and are dropped at read-back. Delay 0 s
    * is sound on in-order input — a row is never late to its own batch.
    *
    * Scale shape: per-side state is one watermark horizon of one user's
    * events per key; eviction is the output path, so state cannot
    * outlive the horizon no matter how long the stream runs (the q163
    * bounded-state contract applied to joins). */
  def q244StreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q244")
    val ev = graft.Tables.events(s, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select(unix_millis($"ts").as("ms"), $"user_id", $"event_type",
        $"event_id", $"value")
    // bounded driver-side scalar (one long), the IncrementalAgg rule
    val maxMs = ev.agg(max($"ms")).as[Long].head()
    def jsonRows(df: DataFrame): DataFrame =
      df.select(to_json(struct($"ms", $"user_id", $"event_type",
        $"event_id", $"value")).as("value"))
    jsonRows(ev.orderBy($"ms", $"event_id"))
      .coalesce(1).write.mode("overwrite").text(s"$root/src/b1")
    def sentinels(off: Long): DataFrame = Seq(
      (maxMs + off, -1L, "click", -1L, 0.0),
      (maxMs + off + 7200000L, -1L, "purchase", -2L, 0.0))
      .toDF("ms", "user_id", "event_type", "event_id", "value")
    jsonRows(sentinels(864000000L))
      .coalesce(1).write.mode("overwrite").text(s"$root/src/b2")
    jsonRows(sentinels(1728000000L))
      .coalesce(1).write.mode("overwrite").text(s"$root/src/b3")
    // The file source orders batches by mtime; pin explicit monotonic
    // stamps so batch order never depends on filesystem mtime granularity
    // or write speed (wall-clock sleeps are a flaky substitute).
    graft.util.FsUtil.pinMtimes(s"$root/src/b1", 1000000L)
    graft.util.FsUtil.pinMtimes(s"$root/src/b2", 2000000L)
    graft.util.FsUtil.pinMtimes(s"$root/src/b3", 3000000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ms LONG, user_id LONG, event_type STRING, event_id LONG, value DOUBLE")
    val src = s.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", "1")
      .text(s"$root/src/*")
      .select(from_json($"value", schema).as("e"))
      .select(timestamp_millis($"e.ms").as("ts"), $"e.user_id".as("user_id"),
        $"e.event_type".as("event_type"), $"e.event_id".as("event_id"),
        $"e.value".as("value"))
    withStreamPartitions(s) {
      graft.streaming.EventStream
        .purchasesWithRecentClicksOuter(src, watermarkDelay = "0 seconds")
        .writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    s.read
      .schema("user_id LONG, purchase_id LONG, click_id LONG, " +
        "purchase_ms LONG, click_ms LONG, value DOUBLE")
      .parquet(s"$root/out")
      .filter($"user_id" >= 0)
      .orderBy($"purchase_id", $"click_id".asc_nulls_first)
  }

  // ---------------------------------------------------------------- q249

  /** q249_late_data_audit — the DROP side of watermarks, pinned exactly.
    * Every other streaming gate arranges in-order arrival so nothing is
    * late; real deployments get stragglers, and the contract that makes
    * watermarked state bounded is that a late row into an already-closed
    * window is DISCARDED — deterministically, by the rule
    * `window_end <= watermark ⇒ dropped`. This gate feeds the engine
    * out-of-order ON PURPOSE (wave A = even event_ids spanning the full
    * time range, then wave B = odd ids spanning the same range, so every
    * B row older than A's horizon is late) and hash-matches the
    * surviving hourly aggregate against an oracle that states the drop
    * rule in closed form: B kept iff its window end exceeds
    * `max(A.ts) − 2h`. If Spark's late-row boundary ever drifted (≤ vs
    * <, end vs start), the hash breaks.
    *
    * Scale shape: one watermarked windowed aggregation — state is
    * O(open windows); the audit costs nothing beyond the aggregation
    * it certifies. The flush sentinel is the q244/EventStreamSpec rule. */
  def q249LateDataAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q249")
    val ev = graft.Tables.events(s, dir)
      .select(unix_millis($"ts").as("ms"), $"user_id", $"event_type",
        $"event_id", $"value")
    val maxA = ev.filter($"event_id" % 2 === 0).agg(max($"ms")).as[Long].head()
    def jsonRows(df: DataFrame): DataFrame =
      df.select(to_json(struct($"ms", $"user_id", $"event_type",
        $"event_id", $"value")).as("value"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ms LONG, user_id LONG, event_type STRING, event_id LONG, value DOUBLE")
    // Wave boundaries are BATCH boundaries: a batch's rows are never late
    // to the watermark they themselves establish, so wave B must be judged
    // against a watermark established in an EARLIER batch. The A→B
    // boundary crosses a query RESTART (the checkpoint carries the
    // watermark between drains — the persistence contract this gate
    // certifies); the B→flush boundary is an in-query micro-batch
    // boundary (maxFilesPerTrigger=1 + pinned mtimes, the q244 recipe —
    // the watermark advances between batches of one run), which the r19
    // streaming-gate decomposition (SCALE.md, OPTIMIZATION_r19.md)
    // measured as the cheap end of the same semantics:
    // three single-batch query starts paid ~2.1 s of harness around
    // ~5.4 s of batch work, and the third start bought nothing a second
    // batch of the second start doesn't.
    def drain(): Unit = {
      val src = s.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", "1")
        .text(s"$root/src/*")
        .select(from_json($"value", schema).as("e"))
        .select(timestamp_millis($"e.ms").as("ts"),
          $"e.event_type".as("event_type"), $"e.value".as("value"))
      withStreamPartitions(s) {
        src.withWatermark("ts", "2 hours")
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n"),
            sum(floor($"value" * 100 + 0.5).cast("long")).as("sum_e2"))
          .select(unix_millis($"window.start").as("start_ms"), $"event_type",
            $"n", $"sum_e2")
          .writeStream
          .format("parquet")
          .outputMode("append")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
    }
    // both corpus-sized waves in ONE write job (r20, guide §2.4 — the q253
    // stash recipe): wave B lands in a stash and renames into the watched
    // dir only after wave A's drain, so the restart boundary sees the same
    // file sequence as the two per-wave writes did
    ev.withColumn("w", $"event_id" % 2)
      .repartition(1)
      .sortWithinPartitions($"w", $"ms", $"event_id")
      .select($"w", to_json(struct($"ms", $"user_id", $"event_type",
        $"event_id", $"value")).as("value"))
      .write.mode("overwrite").partitionBy("w").text(s"$root/stash")
    new java.io.File(s"$root/src").mkdirs()
    def publish(stashPart: String, dst: String, ts: Long): Unit = {
      graft.util.FsUtil.pinMtimes(s"$root/stash/$stashPart", ts)
      require(new java.io.File(s"$root/stash/$stashPart")
        .renameTo(new java.io.File(s"$root/src/$dst")), s"failed to publish $dst")
    }
    publish("w=0", "b1", 1000000L)
    drain()
    publish("w=1", "b2", 2000000L)
    jsonRows(Seq((maxA + 864000000L, -1L, "__flush", -1L, 0.0))
      .toDF("ms", "user_id", "event_type", "event_id", "value"))
      .coalesce(1).write.mode("overwrite").text(s"$root/src/b3")
    graft.util.FsUtil.pinMtimes(s"$root/src/b3", 3000000L)
    drain()
    s.read
      .schema("start_ms LONG, event_type STRING, n LONG, sum_e2 LONG")
      .parquet(s"$root/out")
      .filter($"event_type" =!= "__flush")
      .orderBy($"start_ms", $"event_type")
  }

  /** q249 oracle: the drop rule in closed form — wave B survives iff its
    * hour-window END clears wave A's watermark horizon. */
  val q249Sql: String =
    """WITH ev AS (
      |  SELECT epoch_ms(ts) AS ms, event_type, value, event_id
      |  FROM events),
      |a AS (SELECT * FROM ev WHERE event_id % 2 = 0),
      |wm AS (SELECT max(ms) - 7200000 AS w FROM a),
      |b AS (
      |  SELECT ev.* FROM ev, wm
      |  WHERE event_id % 2 = 1 AND (ms // 3600000 + 1) * 3600000 > wm.w),
      |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
      |SELECT (ms // 3600000) * 3600000 AS start_ms, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS sum_e2
      |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q253

  /** q253_stream_upsert — streaming UPSERT maintenance via
    * `foreachBatch` + [[graft.merge.MergeSink]] (the Datastream →
    * BigQuery merge path run AS A STREAM, the composition q31's
    * append sink and q16/q34's batch merges each gate half of): three
    * change waves drain through a checkpointed foreachBatch whose body
    * is the bucketed latest-wins merge, and the gate hash-matches the
    * FINAL TABLE STATE against q16's plain latest-per-key SQL — stream
    * batching, wave order, and restart boundaries must all be
    * invisible in the converged table.
    *
    * Scale shape: each micro-batch rewrites only the key buckets it
    * touches (change-volume cost, the MergeSink contract); foreachBatch
    * makes the sink transactional per batch with the checkpoint as the
    * exactly-once ledger — the merge itself is idempotent, so a
    * replayed batch after a crash converges to the same state. */
  def q253StreamUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q253")
    val ev = graft.Tables.events(s, dir)
      .select(unix_millis($"ts").as("ms"), $"user_id", $"event_type",
        $"event_id", $"value")
    val sink = new graft.merge.MergeSink(s, s"$root/table", "user_id",
      Seq("ms", "event_id"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ms LONG, user_id LONG, event_type STRING, event_id LONG, value DOUBLE")
    def drain(): Unit = {
      val src = s.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", "1")
        .text(s"$root/src/*")
        .select(from_json($"value", schema).as("e")).select($"e.*")
      withStreamPartitions(s) {
        src.writeStream
          .foreachBatch((batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) => sink.merge(batch.toDF()))
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
    }
    // ALL three waves in ONE write job (r20, guide §2.4 fewer passes: the
    // r19 harness paid three full scan+sort+write jobs, one per wave) —
    // the single sorted task writes one file per wave dir with the same
    // per-wave (ms, event_id) row order the per-wave writes produced.
    // Waves land in a stash and RENAME into the watched source dir at the
    // moment the old code wrote them (renames preserve the pinned mtimes
    // and cost no job), so the checkpointed restart boundary sees the
    // exact same file sequence.
    ev.withColumn("w", $"event_id" % 3)
      .repartition(1)
      .sortWithinPartitions($"w", $"ms", $"event_id")
      .select($"w", to_json(struct($"ms", $"user_id", $"event_type",
        $"event_id", $"value")).as("value"))
      .write.mode("overwrite").partitionBy("w").text(s"$root/stash")
    def publishWave(wave: Int): Unit = {
      graft.util.FsUtil.pinMtimes(s"$root/stash/w=$wave", 1000000L * (wave + 1))
      val moved = new java.io.File(s"$root/stash/w=$wave")
        .renameTo(new java.io.File(s"$root/src/w$wave"))
      require(moved, s"failed to publish wave $wave")
    }
    new java.io.File(s"$root/src").mkdirs()
    // wave 0 drains alone, then a checkpointed RESTART picks up waves 1+2
    // as two mtime-ordered micro-batches of ONE query: the restart
    // boundary the entry certifies survives with half the r18 query-start
    // overhead (the r19 streaming-gate decomposition in SCALE.md showed
    // 3 starts paying ~9 s of harness around 12 s of merge work;
    // micro-batch boundaries are the q244 recipe and merge-per-batch is
    // unchanged)
    publishWave(0)
    drain()
    publishWave(1)
    publishWave(2)
    drain()
    sink.read()
      .select($"user_id", $"event_id", $"event_type", $"value")
      .orderBy($"user_id")
  }

  // ---------------------------------------------------------------- q257

  /** q257_merge_evolve — schema evolution ON THE MERGE PATH (the third
    * leg of the evolution triad: q155 proves the file layer, q128 the
    * wire; this proves the UPSERT sink): wave 1 merges the base shape,
    * wave 2 merges rows that ADD a `segment` column (old generations
    * null-fill through the manifest-schema read), and wave 3 merges a
    * correction batch that OMITS it (new rows null-fill through the
    * two-way `unionByName(allowMissingColumns)`) — the add-column and
    * drop-column directions of the lakehouse evolution contract, under
    * one latest-wins hash gate.
    *
    * Wave 3 is a synthetic correction: for every 5th user, the current
    * winner re-lands 1 ms later with value+1000 and no segment — so the
    * oracle can state each user's final row in closed form.
    *
    * Scale shape: identical to q34 (touched-bucket rewrites); the
    * evolved schema rides the manifest, so no read merges footers. */
  def q257MergeEvolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q257")
    val ev = graft.Tables.events(s, dir)
      .select(unix_millis($"ts").as("ms"), $"user_id", $"event_type",
        $"event_id", $"value")
    val sink = new graft.merge.MergeSink(s, s"$root/table", "user_id",
      Seq("ms", "event_id"))
    sink.merge(ev.filter($"event_id" % 2 === 0))
    sink.merge(ev.filter($"event_id" % 2 === 1)
      .withColumn("segment", $"user_id" % 10))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ms".desc, $"event_id".desc)
    val latest = ev.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"user_id" % 5 === 0)
    sink.merge(latest.select(($"ms" + 1).as("ms"), $"user_id",
      $"event_type", $"event_id", ($"value" + 1000).as("value")))
    sink.read()
      .select($"user_id", $"event_id", $"event_type", $"value", $"segment")
      .orderBy($"user_id")
  }

  /** q257 oracle: the three waves' winners in closed form. */
  val q257Sql: String =
    """WITH latest AS (
      |  SELECT user_id, event_id, event_type, value,
      |    CASE WHEN event_id % 2 = 1 THEN user_id % 10 END AS segment
      |  FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      |    FROM events) t
      |  WHERE rn = 1)
      |SELECT user_id, event_id, event_type,
      |  CASE WHEN user_id % 5 = 0 THEN value + 1000 ELSE value END AS value,
      |  CASE WHEN user_id % 5 = 0 THEN NULL ELSE segment END AS segment
      |FROM latest ORDER BY user_id""".stripMargin

  /** q266_stream_coverage — [[graft.streaming.EventStream.coverageSpans]]
    * under the driver gate: the streaming twin of q263's interval-coverage
    * merge (open-span state per user, watermark-finalized spans — the
    * uptime/viewability monitor as it deploys). Events become the same
    * [st, st + 1–30 min) intervals as q263, stream through in three
    * mtime-pinned waves (real data, then two far-future sentinel waves,
    * the q244 recipe: wave k's watermark finalizes wave k−1's spans and
    * the trailing no-data batch flushes the rest via state timeout), and
    * the emitted span rows aggregate at read-back to exactly q263's
    * per-user output — oracle = q263's batch SQL, one source of truth
    * (the q89/q103 batch-twin discipline).
    *
    * Scale shape: one user_id-keyed exchange; per-key state is the OPEN
    * spans only (arrival rate × watermark horizon, never stream history) —
    * every span leaves the store the batch the watermark clears it. */
  def q266StreamCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = graft.util.HarnessDirs.newDir("q266")
    val iv = graft.Tables.events(s, dir).select(
      unix_millis($"ts").as("st"),
      (unix_millis($"ts") + ($"event_id" % 30 + 1) * 60000L).as("en"),
      $"user_id")
    // bounded driver-side scalar (one long), the IncrementalAgg rule
    val maxEn = iv.agg(max($"en")).as[Long].head()
    def jsonRows(df: DataFrame): DataFrame =
      df.select(to_json(struct($"st", $"en", $"user_id")).as("value"))
    jsonRows(iv.orderBy($"st", $"en"))
      .coalesce(1).write.mode("overwrite").text(s"$root/src/b1")
    def sentinel(off: Long): DataFrame =
      Seq((maxEn + off, maxEn + off + 1L, -1L)).toDF("st", "en", "user_id")
    jsonRows(sentinel(864000000L))
      .coalesce(1).write.mode("overwrite").text(s"$root/src/b2")
    jsonRows(sentinel(1728000000L))
      .coalesce(1).write.mode("overwrite").text(s"$root/src/b3")
    graft.util.FsUtil.pinMtimes(s"$root/src/b1", 1000000L)
    graft.util.FsUtil.pinMtimes(s"$root/src/b2", 2000000L)
    graft.util.FsUtil.pinMtimes(s"$root/src/b3", 3000000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "st LONG, en LONG, user_id LONG")
    val src = s.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", "1")
      .text(s"$root/src/*")
      .select(from_json($"value", schema).as("e"))
      .select(timestamp_millis($"e.st").as("ts"), $"e.user_id".as("user_id"),
        $"e.st".as("st"), $"e.en".as("en"))
    withStreamPartitions(s) {
      graft.streaming.EventStream.coverageSpans(
          src.withWatermark("ts", "0 seconds")
            .as[graft.streaming.EventStream.SpanRow])
        .toDF()
        .writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    s.read.schema("user_id LONG, s0 LONG, e1 LONG").parquet(s"$root/out")
      .filter($"user_id" >= 0)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_spans"), sum($"e1" - $"s0").as("covered_ms"),
        max($"e1" - $"s0").as("max_span_ms"))
      .orderBy($"user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q257_merge_evolve" -> (q257MergeEvolve _),
    "q266_stream_coverage" -> (q266StreamCoverage _),
    "q253_stream_upsert" -> (q253StreamUpsert _),
    "q249_late_data_audit" -> (q249LateDataAudit _),
    "q244_stream_outer_join" -> (q244StreamOuterJoin _),
    "q200_stream_topk" -> (q200StreamTopk _),
    "q163_stream_dedup_ttl" -> (q163StreamDedupTtl _),
    "q150_stream_anomaly" -> (q150StreamAnomaly _),
    "q147_cdc_delete_merge" -> (q147CdcDeleteMerge _),
    "q142_version_diff" -> (q142VersionDiff _),
    "q114_stream_enrich" -> (q114StreamEnrich _),
    "q110_stream_window" -> (q110StreamWindow _),
    "q107_stream_dedup" -> (q107StreamDedup _),
    "q267_stream_dedup_wm" -> (q267StreamDedupWm _),
    "q103_stream_sessions" -> (q103StreamSessions _),
    "q31_stream_e2e"  -> (q31StreamE2e _),
    "q122_sink_compact" -> (q122SinkCompact _),
    "q123_dlq_replay" -> (q123DlqReplay _),
    "q128_schema_evolution" -> (q128SchemaEvolution _),
    "q169_schema_compat" -> (q169SchemaCompat _),
    "q89_stream_join" -> (q89StreamJoin _),
    "q96_incr_agg"    -> (q96IncrAgg _),
    "q34_merge_upsert" -> (q34MergeUpsert _),
    "q136_time_travel" -> (q136TimeTravel _),
    "q85_stream_funnel" -> (q85StreamFunnel _),
    "q86_stream_prep" -> (q86StreamPrep _))

  val oracles: Map[String, String] = Map(
    "q257_merge_evolve" -> q257Sql,
    // the flushed span stream must aggregate to the batch coverage merge —
    // one source of truth with the q263 batch twin
    "q266_stream_coverage" -> EventQueries.q263Sql,
    // the converged upsert table must BE the batch latest-per-key answer
    "q253_stream_upsert" -> EventQueries.q16Sql,
    "q249_late_data_audit" -> q249Sql,
    // the stream-evicted outer result must BE the batch left join — one
    // source of truth with the q56 batch twin
    "q244_stream_outer_join" -> EventQueries.q56Sql,
    "q200_stream_topk" -> q200Sql,
    "q163_stream_dedup_ttl" -> q163Sql,
    "q150_stream_anomaly" -> q150Sql,
    "q147_cdc_delete_merge" -> q147Sql,
    "q142_version_diff" -> q142Sql,
    "q114_stream_enrich" -> q114Sql,
    "q110_stream_window" -> q110Sql,
    "q107_stream_dedup" -> q107Sql,
    // the TTL'd native dedup under a horizon covering the corpus: the
    // emitted set must BE the distinct key set, same oracle as q107
    "q267_stream_dedup_wm" -> q107Sql,
    "q103_stream_sessions" -> q103Sql,
    "q31_stream_e2e"  -> q31Sql,
    "q122_sink_compact" -> q122Sql,
    "q123_dlq_replay" -> q123Sql,
    "q128_schema_evolution" -> q128Sql,
    "q169_schema_compat" -> q169Sql,
    "q34_merge_upsert" -> q34Sql,
    "q136_time_travel" -> q136Sql,
    // the stateful streams must converge to their batch twins — same
    // contract, same SQL (see the q85/q86 scaladocs)
    "q85_stream_funnel" -> graft.queries.EventQueries.q76Sql,
    "q86_stream_prep" -> graft.queries.TextQueries.q47Sql,
    // ms-grid inputs make the streaming predicate ≡ the batch-twin grid,
    // so the stream-stream join answers to the SAME contract as q46
    "q89_stream_join" -> graft.queries.EventQueries.q46Sql,
    "q96_incr_agg"    -> q96Sql)
}
