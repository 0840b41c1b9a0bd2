package graft.merge

import java.io.IOException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Datastream-parity merge path (SURVEY.md §2 O25/O26): batch backfill ∪
  * streaming CDC tail, applied to the sink as LATEST-CHANGE-WINS per key —
  * the sink table converges to the source (upsert), in contrast to the
  * append-only subscription sink.
  *
  * Layout: the merged table is hash-partitioned into `numBuckets` key
  * buckets, one `__part=pmod(xxhash64(key), n)` directory each, and each
  * bucket directory holds exactly ONE parquet file. A merge reads back only
  * the buckets its keys touch, writes their replacements to a sibling
  * staging directory (each bucket by one task, as one file) and renames
  * each into place — at 100 TB a micro-batch touching 0.1% of keys
  * rewrites ~0.1% of the table, not all of it. Within a rewrite, the merge
  * itself is one per-key `max_by` aggregate picking the same winner as the
  * `row_number` latest-wins window the batch-twin query q16 verifies
  * against DuckDB.
  *
  * Schema: the table's evolved schema lives in [[MergeSink.SchemaFile]] at
  * the table root (`_`-prefixed, so Spark's file listing skips it), and
  * `merge`/`read` read the buckets with that schema instead of merging
  * every parquet footer; a file lacking a column null-fills it. The stored
  * schema is a SUPERSET of every footer in the table: it is replaced
  * (staged, then renamed) BEFORE the first bucket carrying a new column
  * swaps in, so no reader can meet a column the stored schema hides. A
  * table without the file (written before it existed, or read in the
  * instant the file is being replaced) falls back to a footer-merged
  * `mergeSchema` read.
  */
final class MergeSink(
    spark: SparkSession,
    tableDir: String,
    keyCol: String,
    orderCols: Seq[String],
    numBuckets: Int = 64,
    tombstoneCol: Option[String] = None) {

  private val partCol = "__part"
  private val tablePath = new Path(tableDir)

  private def withPart(df: DataFrame): DataFrame =
    df.withColumn(partCol, pmod(xxhash64(col(keyCol)), lit(numBuckets)))

  // existence through the Hadoop FileSystem for tableDir's scheme:
  // java.io.File is local-only and would report HDFS/S3 state absent
  private def fileSystem: FileSystem =
    tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def storedSchema(fs: FileSystem): Option[StructType] =
    MergeSink.readSchema(fs, new Path(tablePath, MergeSink.SchemaFile))

  /** The whole table, bucket column included: with the stored schema when
    * there is one, else by merging every footer (mergeSchema: generations
    * written before a column was added lack it — q257's contract). */
  private def scan(stored: Option[StructType]): DataFrame = stored match {
    case Some(schema) => spark.read.schema(schema).parquet(tableDir)
    case None => spark.read.option("mergeSchema", "true").parquet(tableDir)
  }

  /** Replace the stored schema: staged under `staging`, then renamed in. */
  private def storeSchema(fs: FileSystem, schema: StructType, staging: Path): Unit = {
    val staged = new Path(staging, MergeSink.SchemaFile)
    val out = fs.create(staged, true)
    try out.write(schema.json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val live = new Path(tablePath, MergeSink.SchemaFile)
    fs.delete(live, false)
    MergeSink.rename(fs, staged, live)
  }

  private def stagingPath(): Path =
    new Path(tableDir + s"__staging-${java.lang.System.nanoTime()}")

  /** Merge one batch of change rows into the table: latest row per key wins,
    * ordering by `orderCols` (e.g. change timestamp, then a unique change id)
    * — all compared descending. When `orderCols` still tie (the caller has
    * no unique change id), a content hash of the FULL row breaks the tie, so
    * the winner is a pure function of row content — never of batch order or
    * partition layout. Idempotent AND deterministic: re-applying a batch, or
    * applying the same rows in any order, yields the identical table state.
    * (Two fully identical rows tie harmlessly: either one is the same row.)
    * A filesystem call that reports failure aborts the merge with an
    * `IOException`; buckets not yet swapped keep their pre-merge rows. */
  def merge(batch: DataFrame): Unit = {
    val spark = this.spark
    // the batch has two consumers (the touched-bucket probe and the merge
    // union) — persist so an expensive batch source (a parsed JSON
    // micro-batch, a computed change set) is evaluated once, not twice
    val newPart = withPart(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = newPart.select(partCol).distinct()
        .collect().map(_.getLong(0)) // bounded by numBuckets — driver-safe
      if (touched.isEmpty) return

      val fs = fileSystem
      val exists = fs.exists(tablePath)
      val stored = if (exists) storedSchema(fs) else None
      val existingOpt =
        if (exists) Some(scan(stored).filter(col(partCol).isin(touched.toSeq: _*)))
        else None
      // allowMissingColumns both ways: a batch may ADD a column (old rows
      // null-fill) or OMIT one the table already has (new rows null-fill) —
      // the lakehouse evolution contract, never a hard failure mid-stream.
      // One task per bucket: hash-partitioned on the bucket column into at
      // most as many partitions as touched buckets, so the per-key pick
      // below (grouped by key AND bucket, which this partitioning already
      // satisfies) runs without another shuffle and writes each touched
      // bucket as exactly one file.
      val tasks = math.min(touched.length,
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val all = existingOpt
        .map(_.unionByName(newPart, allowMissingColumns = true))
        .getOrElse(newPart)
        .repartition(tasks, col(partCol))

      // column order fixed by name so the hash is layout-independent; map-typed
      // columns are excluded (unhashable — their iteration order is undefined,
      // which is also why they could never break ties deterministically)
      val hashable = all.schema.fields.toIndexedSeq
        .filter(f => !MergeSink.hasMap(f.dataType))
        .map(_.name).sorted.map(c => col(c))
      val contentHash =
        if (hashable.nonEmpty) xxhash64(hashable: _*) else lit(0L)
      // latest-wins as a per-key max_by aggregate (r20): the winner under
      // `row_number() OVER (PARTITION BY key ORDER BY orderCols DESC,
      // hash DESC) = 1` is exactly the row whose (orderCols, hash) tuple
      // is the lexicographic MAX — desc ordering puts NULL last, struct
      // comparison puts NULL first ascending, so the two agree on the
      // winner (identical full-row ties are the same row either way).
      // Adding the bucket to the grouping changes no group: it is a
      // function of the key.
      val ordKey = struct(orderCols.map(c => col(c)) :+ contentHash: _*)
      // A/B dial (default ON): the off leg is the r19 row_number window
      // form — MergeSinkSpec pins the two forms pick the same winner
      val maxBy = spark.conf
        .getOption("spark.graft.merge.maxby").forall(_.toBoolean)
      val merged = if (maxBy)
        all.groupBy(col(keyCol), col(partCol))
          .agg(max_by(struct(all.columns.map(col): _*), ordKey).as("__w"))
          .select(col("__w.*"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol), col(partCol))
          .orderBy(orderCols.map(c => col(c).desc) :+ contentHash.desc: _*)
        all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
      val schema = MergeSink.nullable(StructType(
        merged.schema.filterNot(_.name == partCol))).asInstanceOf[StructType]

      // stage + swap: the winners are computed exactly once, straight to a
      // sibling staging dir (the table dir is also a read source of this
      // plan, so it cannot be the write target), then each touched bucket
      // dir swaps in with filesystem renames. The staging dir carries a
      // per-merge nonce: two concurrent merges cannot overwrite each
      // other's staged output mid-swap (r19 ADVICE).
      val staging = stagingPath()
      try {
        merged.write.partitionBy(partCol)
          .mode(SaveMode.Overwrite).parquet(staging.toString)
        if (!fs.exists(tablePath) && !fs.mkdirs(tablePath))
          throw new IOException(s"cannot create $tablePath")
        // the schema goes first: every footer the swap brings in is then
        // covered by it (the superset invariant)
        if (!stored.contains(schema)) storeSchema(fs, schema, staging)
        MergeSink.swapBuckets(fs, staging, tablePath, partCol, touched.toSeq)
      } finally fs.delete(staging, true)
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
    val t = scan(storedSchema(fileSystem)).drop(partCol)
    tombstoneCol.map(c => t.filter(!(col(c) <=> "true"))).getOrElse(t)
  }

  /** Physically drop tombstone rows — the compaction horizon decision.
    * Full-table rewrite (run rarely, like any compaction): after a purge,
    * a replay of a PRE-delete change would resurrect its key, so purge
    * only once the upstream replay window has passed. No-op without a
    * configured `tombstoneCol`, and no-op before the table exists (mirrors
    * merge()'s existence check). NULL-safe like read(): only explicit
    * `"true"` tombstones are purged. If EVERY row is a tombstone, the
    * overwrite is skipped — writing an empty partitioned dataset would
    * leave a directory with no part files, bricking read()/merge() with
    * 'unable to infer schema'; an all-tombstone table simply keeps its
    * tombstones until fresh live rows arrive. */
  def purgeTombstones(): Unit = tombstoneCol.foreach { c =>
    val fs = fileSystem
    if (fs.exists(tablePath)) {
      val stored = storedSchema(fs)
      val live = scan(stored)
        .filter(!(col(c) <=> "true")).localCheckpoint(true)
      if (!live.isEmpty) {
        // one file per bucket, as merge() writes them
        live.repartition(numBuckets, col(partCol)).write.partitionBy(partCol)
          .mode(SaveMode.Overwrite).parquet(tableDir)
        // the overwrite replaced the whole directory, schema file included;
        // every new footer carries the full stored schema, so until the
        // file is back the fallback read sees the same columns
        stored.foreach { schema =>
          val staging = stagingPath()
          try storeSchema(fs, schema, staging) finally fs.delete(staging, true)
        }
      }
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
  /** The stored table schema, at the table root. */
  val SchemaFile = "_graft_schema.json"

  private def readSchema(fs: FileSystem, file: Path): Option[StructType] =
    try {
      val in = fs.open(file)
      val json = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      Some(DataType.fromJson(json).asInstanceOf[StructType])
    } catch { case _: java.io.FileNotFoundException => None }

  /** Every field nullable, as a parquet write stores it. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** `FileSystem.rename` reports most failures by returning false. */
  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new IOException(s"rename $src -> $dst failed")

  /** Swap each staged `partCol=p` bucket dir into `table`, RECOVERABLY
    * (r19 ADVICE): a live bucket is only touched when its staged
    * replacement exists (a touched bucket can be absent from a
    * non-deterministic batch plan evaluated twice — it must then be LEFT
    * ALONE, not deleted), and it moves ASIDE (outside the table, invisible
    * to readers) rather than being deleted before the rename — a crash
    * between the two renames leaves both the staged and the aside copy on
    * disk. A rename that reports failure throws: going on would rename
    * the staged bucket INTO a live one that failed to move aside, nesting
    * `p/p`; a failed rename-in puts the aside copy back first. */
  private[merge] def swapBuckets(fs: FileSystem, staging: Path, table: Path,
                                 partCol: String, buckets: Seq[Long]): Unit = {
    val asideRoot = new Path(staging.toString + "__aside")
    for (p <- buckets) {
      val src = new Path(staging, s"$partCol=$p")
      val dst = new Path(table, s"$partCol=$p")
      if (fs.exists(src)) {
        val aside = new Path(asideRoot, s"$partCol=$p")
        val moved = fs.exists(dst)
        if (moved) {
          if (!fs.mkdirs(asideRoot)) throw new IOException(s"cannot create $asideRoot")
          rename(fs, dst, aside)
        }
        if (!fs.rename(src, dst)) {
          if (moved) fs.rename(aside, dst)
          throw new IOException(s"rename $src -> $dst failed")
        }
      }
    }
    fs.delete(asideRoot, true)
  }

  /** Map-typed columns are unhashable (undefined iteration order) — shared
    * by MergeSink and [[VersionedSink]]'s content-hash tie-break. */
  private[merge] def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
    case _ => false
  }
}
