package graft.merge

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Datastream-parity merge path (SURVEY.md §2 O25/O26): batch backfill ∪
  * streaming CDC tail, applied to the sink as LATEST-CHANGE-WINS per key —
  * the sink table converges to the source (upsert), in contrast to the
  * append-only subscription sink.
  *
  * The table is a [[BucketTable]] without history: `numBuckets` key buckets
  * (`pmod(xxhash64(key), n)`), one parquet file each, committed by one
  * manifest rename that also carries the table's evolved schema. A merge
  * reads back only the buckets its keys touch and commits their
  * replacements (each bucket written by one task, as one file) — at
  * 100 TB a micro-batch touching 0.1% of keys rewrites ~0.1% of the
  * table, not all of it. Within a rewrite, the merge itself is one
  * per-key `max_by` aggregate ([[MergeSink.latestPerKey]]) picking the
  * same winner as the `row_number` latest-wins window the batch-twin
  * query q16 verifies against DuckDB. One writer per table.
  */
final class MergeSink(
    spark: SparkSession,
    tableDir: String,
    keyCol: String,
    orderCols: Seq[String],
    numBuckets: Int = 64,
    tombstoneCol: Option[String] = None) {
  import MergeSink._

  private val table = new BucketTable(spark, tableDir, keyCol, numBuckets, keepHistory = false)

  /** Merge one batch of change rows into the table: latest row per key wins,
    * ordering by `orderCols` (e.g. change timestamp, then a unique change id)
    * — all compared descending. When `orderCols` still tie (the caller has
    * no unique change id), a content hash of the FULL row breaks the tie, so
    * the winner is a pure function of row content — never of batch order or
    * partition layout. Idempotent AND deterministic: re-applying a batch, or
    * applying the same rows in any order, yields the identical table state.
    * (Two fully identical rows tie harmlessly: either one is the same row.)
    * A merge that fails before its manifest rename commits nothing. */
  def merge(batch: DataFrame): Unit = {
    // the batch has two consumers (the touched-bucket probe and the merge
    // union) — persist so an expensive batch source (a parsed JSON
    // micro-batch, a computed change set) is evaluated once, not twice, and
    // a streaming batch's input rows are counted once
    val newPart = withPart(batch, keyCol, numBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = touchedBuckets(newPart)
      if (touched.isEmpty) return
      val cur = table.current
      // allowMissingColumns both ways: a batch may ADD a column (old rows
      // null-fill) or OMIT one the table already has (new rows null-fill) —
      // the lakehouse evolution contract, never a hard failure mid-stream.
      val all = byBucket(cur.map(table.scan(_, touched)
        .unionByName(newPart, allowMissingColumns = true)).getOrElse(newPart), touched)
      table.commit(cur, touched, latestPerKey(all, keyCol, orderCols))
    } finally newPart.unpersist(blocking = false)
  }

  /** Current table state (without the internal partition column). When a
    * `tombstoneCol` is configured (the O4 CDC `__deleted` STRING contract),
    * keys whose LATEST change is a delete are excluded — but the tombstone
    * row itself stays STORED, which is what keeps the merge idempotent
    * under replay: an upstream re-delivery of a pre-delete upsert loses to
    * the retained tombstone instead of resurrecting the key (the Kafka
    * log-compaction / Cassandra tombstone recipe).
    *
    * NULL-safe: only an EXPLICIT `"true"` tombstone excludes a row. Under
    * plain `=!=`, three-valued logic would also drop rows whose tombstone
    * column is NULL (a feed that only stamps deletes, a schema-evolved
    * union) — live rows silently hidden. `<=>` keeps them. */
  def read(): DataFrame = {
    val t = table.read()
    tombstoneCol.map(c => t.filter(!(col(c) <=> "true"))).getOrElse(t)
  }

  /** Physically drop tombstone rows — the compaction horizon decision.
    * Full-table rewrite (run rarely, like any compaction), as one commit of
    * every bucket: after a purge, a replay of a PRE-delete change would
    * resurrect its key, so purge only once the upstream replay window has
    * passed. No-op without a configured `tombstoneCol` or before the table
    * exists. NULL-safe like read(): only explicit `"true"` tombstones are
    * purged. A bucket left without rows leaves the table; the manifest
    * keeps the schema, so even an all-tombstone table purges to an empty,
    * readable one. */
  def purgeTombstones(): Unit = tombstoneCol.foreach { c =>
    table.current.foreach { m =>
      // one file per bucket, as merge() writes them
      table.commit(Some(m), m.buckets.keys, table.scan(m, m.buckets.keys)
        .filter(!(col(c) <=> "true")).repartition(numBuckets, col(PartCol)))
    }
  }

  /** O25: backfill-then-stream. The batch snapshot is merged first (the
    * `--backfill-all` initial load), then the change stream is applied per
    * micro-batch through the same idempotent merge. */
  def backfillThenStream(
      backfill: DataFrame,
      changes: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    merge(backfill)
    changes.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => merge(batch); () }
      .start()
  }
}

object MergeSink {
  /** The bucket column of every merge-layer table. */
  private[merge] val PartCol = "__part"

  /** `df` with its key's bucket, `pmod(xxhash64(key), numBuckets)`;
    * `ManifestIndex` computes the same for a key literal. */
  private[merge] def withPart(df: DataFrame, keyCol: String, numBuckets: Int): DataFrame =
    df.withColumn(PartCol, pmod(xxhash64(col(keyCol)), lit(numBuckets)))

  /** The buckets `df` (which carries [[PartCol]]) touches — bounded by the
    * bucket count, so driver-safe. One job without a shuffle: each
    * partition's distinct buckets, unioned on the driver. Typed, so the job
    * runs inside an SQL execution; over a persisted `df` it is also the job
    * that fills the cache, as no exchange puts a cache stage before it. */
  private[merge] def touchedBuckets(df: DataFrame): Seq[Long] =
    df.select(PartCol).as(Encoders.scalaLong)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaLong)
      .collect().distinct.toSeq

  /** `df` (which carries [[PartCol]]) with one task per bucket:
    * hash-partitioned on the bucket column into at most as many partitions
    * as `touched` buckets, so a per-key step grouped by key AND bucket
    * (which this partitioning already satisfies) runs without another
    * shuffle and writes each touched bucket as exactly one file. */
  private[merge] def byBucket(df: DataFrame, touched: Seq[Long]): DataFrame =
    df.repartition(math.min(touched.length,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt), col(PartCol))

  /** Latest row per key of `all` (which carries [[PartCol]]): ordered by
    * `orderCols`, all descending, then by a content hash of the full row, so
    * the winner is a pure function of row content. One per-key `max_by`
    * aggregate: the winner under `row_number() OVER (PARTITION BY key ORDER
    * BY orderCols DESC, hash DESC) = 1` is exactly the row whose (orderCols,
    * hash) tuple is the lexicographic MAX — desc ordering puts NULL last,
    * struct comparison puts NULL first ascending, so the two agree
    * (identical full-row ties are the same row either way). Grouping by the
    * bucket too changes no group: it is a function of the key. */
  private[merge] def latestPerKey(all: DataFrame, keyCol: String,
                                  orderCols: Seq[String]): DataFrame = {
    // column order fixed by name so the hash is layout-independent; map-typed
    // columns are excluded (unhashable — their iteration order is undefined,
    // which is also why they could never break ties deterministically)
    val hashable = all.schema.fields.toIndexedSeq
      .filter(f => !hasMap(f.dataType)).map(_.name).sorted.map(c => col(c))
    val contentHash = if (hashable.nonEmpty) xxhash64(hashable: _*) else lit(0L)
    val ordKey = struct(orderCols.map(c => col(c)) :+ contentHash: _*)
    all.groupBy(col(keyCol), col(PartCol))
      .agg(max_by(struct(all.columns.map(col): _*), ordKey).as("__w"))
      .select(col("__w.*"))
  }

  /** Map-typed columns are unhashable (undefined iteration order). */
  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }
}
