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
  * itself is one per-key `max_by` aggregate ([[MergeSink.latestPerKey]])
  * picking the same winner as the `row_number` latest-wins window the
  * batch-twin query q16 verifies against DuckDB.
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
  import MergeSink._

  private val tablePath = new Path(tableDir)

  // existence through the Hadoop FileSystem for tableDir's scheme:
  // java.io.File is local-only and would report HDFS/S3 state absent
  private def fileSystem: FileSystem =
    tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def storedSchema(fs: FileSystem): Option[StructType] =
    readSchema(fs, new Path(tablePath, SchemaFile))

  /** The whole table, bucket column included: with the stored schema when
    * there is one, else by merging every footer (mergeSchema: generations
    * written before a column was added lack it — q257's contract). */
  private def scan(stored: Option[StructType]): DataFrame = stored match {
    case Some(schema) => spark.read.schema(schema).parquet(tableDir)
    case None => spark.read.option("mergeSchema", "true").parquet(tableDir)
  }

  /** Replace the stored schema: staged under `staging`, then renamed in. */
  private def storeSchema(fs: FileSystem, schema: StructType, staging: Path): Unit = {
    val staged = new Path(staging, SchemaFile)
    writeText(fs, staged, schema.json)
    val live = new Path(tablePath, SchemaFile)
    fs.delete(live, false)
    rename(fs, staged, live)
  }

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
    // the batch has two consumers (the touched-bucket probe and the merge
    // union) — persist so an expensive batch source (a parsed JSON
    // micro-batch, a computed change set) is evaluated once, not twice
    val newPart = withPart(batch, keyCol, numBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = touchedBuckets(newPart)
      if (touched.isEmpty) return

      val fs = fileSystem
      val exists = fs.exists(tablePath)
      val stored = if (exists) storedSchema(fs) else None
      val existingOpt =
        if (exists) Some(scan(stored).filter(col(PartCol).isin(touched: _*)))
        else None
      // allowMissingColumns both ways: a batch may ADD a column (old rows
      // null-fill) or OMIT one the table already has (new rows null-fill) —
      // the lakehouse evolution contract, never a hard failure mid-stream.
      val all = byBucket(existingOpt
        .map(_.unionByName(newPart, allowMissingColumns = true))
        .getOrElse(newPart), touched)
      val merged = latestPerKey(all, keyCol, orderCols)
      val schema = nullable(StructType(
        merged.schema.filterNot(_.name == PartCol))).asInstanceOf[StructType]
      // the schema goes first: every footer the swap brings in is then
      // covered by it (the superset invariant)
      rewriteBuckets(fs, tablePath, touched, merged, beforeSwap = staging =>
        if (!stored.contains(schema)) storeSchema(fs, schema, staging))
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
    val t = scan(storedSchema(fileSystem)).drop(PartCol)
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
        live.repartition(numBuckets, col(PartCol)).write.partitionBy(PartCol)
          .mode(SaveMode.Overwrite).parquet(tableDir)
        // the overwrite replaced the whole directory, schema file included;
        // every new footer carries the full stored schema, so until the
        // file is back the fallback read sees the same columns
        stored.foreach { schema =>
          val staging = stagingPath(tablePath)
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

  /** The bucket column of every merge-layer table. */
  private[merge] val PartCol = "__part"

  /** `df` with its key's bucket, `pmod(xxhash64(key), numBuckets)`. */
  private[merge] def withPart(df: DataFrame, keyCol: String, numBuckets: Int): DataFrame =
    df.withColumn(PartCol, pmod(xxhash64(col(keyCol)), lit(numBuckets)))

  /** The buckets `df` (which carries [[PartCol]]) touches — bounded by the
    * bucket count, so driver-safe. */
  private[merge] def touchedBuckets(df: DataFrame): Seq[Long] =
    df.select(PartCol).distinct().collect().map(_.getLong(0)).toSeq

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

  /** A sibling of `table` for one rewrite's staged output. The nonce keeps
    * two concurrent rewrites from overwriting each other's staged output
    * mid-swap. */
  private def stagingPath(table: Path): Path =
    new Path(table.toString + s"__staging-${java.lang.System.nanoTime()}")

  /** Replace the `buckets` of `table` with `rows` (partitioned by
    * [[PartCol]]): `rows` are computed exactly once, straight to a staging
    * dir (the table is also a read source of their plan, so it cannot be
    * the write target), then `beforeSwap` runs on the staging dir and each
    * bucket swaps in by [[swapBuckets]]. The staging dir is deleted either
    * way. */
  private[merge] def rewriteBuckets(fs: FileSystem, table: Path, buckets: Seq[Long],
                                    rows: DataFrame,
                                    beforeSwap: Path => Unit = _ => ()): Unit = {
    val staging = stagingPath(table)
    try {
      rows.write.partitionBy(PartCol).mode(SaveMode.Overwrite).parquet(staging.toString)
      if (!fs.exists(table) && !fs.mkdirs(table))
        throw new IOException(s"cannot create $table")
      beforeSwap(staging)
      swapBuckets(fs, staging, table, buckets)
    } finally fs.delete(staging, true)
  }

  private[merge] def writeText(fs: FileSystem, file: Path, text: String): Unit = {
    val out = fs.create(file, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private[merge] def readText(fs: FileSystem, file: Path): String = {
    val in = fs.open(file)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def readSchema(fs: FileSystem, file: Path): Option[StructType] =
    try Some(DataType.fromJson(readText(fs, file)).asInstanceOf[StructType])
    catch { case _: java.io.FileNotFoundException => None }

  /** Every field nullable, as a parquet write stores it. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** `FileSystem.rename` reports most failures by returning false. */
  private[merge] def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new IOException(s"rename $src -> $dst failed")

  /** Swap each staged `__part=p` bucket dir into `table`, RECOVERABLY
    * (r19 ADVICE): a live bucket is only touched when its staged
    * replacement exists (a touched bucket can be absent from a
    * non-deterministic batch plan evaluated twice — it must then be LEFT
    * ALONE, not deleted), and it moves ASIDE (outside the table, invisible
    * to readers) rather than being deleted before the rename — a crash
    * between the two renames leaves both the staged and the aside copy on
    * disk. A rename that reports failure throws: going on would rename
    * the staged bucket INTO a live one that failed to move aside, nesting
    * `p/p`; a failed rename-in puts the aside copy back first. */
  private def swapBuckets(fs: FileSystem, staging: Path, table: Path,
                          buckets: Seq[Long]): Unit = {
    val asideRoot = new Path(staging.toString + "__aside")
    if (!fs.mkdirs(asideRoot)) throw new IOException(s"cannot create $asideRoot")
    for (p <- buckets) {
      val src = new Path(staging, s"$PartCol=$p")
      val dst = new Path(table, s"$PartCol=$p")
      if (fs.exists(src)) {
        val aside = new Path(asideRoot, s"$PartCol=$p")
        val moved = fs.exists(dst)
        if (moved) rename(fs, dst, aside)
        if (!fs.rename(src, dst)) {
          if (moved) fs.rename(aside, dst)
          throw new IOException(s"rename $src -> $dst failed")
        }
      }
    }
    fs.delete(asideRoot, true)
  }

  /** Map-typed columns are unhashable (undefined iteration order). */
  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }
}
