package graft.merge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental aggregate-view maintenance — the OTHER merge discipline next
  * to [[MergeSink]]'s latest-wins upsert: the state table holds one PARTIAL
  * AGGREGATE row per key, and each batch folds in by `combine`-merging new
  * partials with stored ones (sum with sum, max with max, …). This is how a
  * warehouse keeps a per-entity rollup current at 100 TB: a batch touching
  * 0.1% of keys reads and rewrites ~0.1% of the view, never re-scanning
  * history — change-volume cost, not table-size cost.
  *
  * The algebra is the classic partial-aggregation semiring: every state
  * column's combiner must be ASSOCIATIVE and COMMUTATIVE over that column
  * (count/sum/min/max; avg ships as sum+count and divides at read). That
  * gives batch-split invariance — any partition of the input into batches,
  * applied in any order, converges to the full-recompute aggregate
  * (IncrementalAggSpec proves it; q96 hash-gates it against the
  * full-recompute SQL). Unlike MergeSink, application is NOT idempotent —
  * re-folding a batch double-counts, which is inherent to additive state —
  * so the streaming entry point relies on foreachBatch's exactly-once
  * epochs, and replays after a checkpoint rollback must re-seed the state
  * (the standard incremental-view contract).
  *
  * Layout is MergeSink's: hash-bucketed `__part=pmod(xxhash64(key), n)`
  * directories of one file each, only the touched buckets rewritten and
  * swapped in through [[MergeSink.rewriteBuckets]], bounded driver state
  * (the touched-bucket id list).
  */
final class IncrementalAgg(
    spark: SparkSession,
    tableDir: String,
    keyCol: String,
    combiners: Seq[(String, Column => Column)],
    numBuckets: Int = 64) {
  import MergeSink.{PartCol, byBucket, rewriteBuckets, touchedBuckets, withPart}

  /** Fold one batch of per-key PARTIALS (columns: key + every combiner
    * column) into the view. */
  def update(partials: DataFrame): Unit = {
    val newPart = withPart(partials, keyCol, numBuckets)
    // existence must resolve through the Hadoop FileSystem for tableDir's
    // scheme: java.io.File is local-only, and on HDFS/S3 (the 100 TB
    // deployment) it would silently report the stored state absent, making
    // every update overwrite the view with only the latest batch's partials
    val tablePath = new Path(tableDir)
    val tableFs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The partials plan is evaluated twice (a key-column-pruned probe, then
    // the fold): the r19 same-JVM A/B measured persisting it across the two
    // consumers 1.48x SLOWER, and an r20 attempt to land the batch in a
    // staging dir first (one evaluation, dir listing as the probe) measured
    // 1.30x SLOWER at bench protocol (BENCH_TIMINGS_r20mid q96 4.27→5.55 —
    // the parquet write+readback costs more than the pruned re-evaluation)
    // and was REVERTED. The probe stays.
    val touched = touchedBuckets(newPart)
    if (touched.isEmpty) return
    val existingOpt =
      if (tableFs.exists(tablePath))
        Some(spark.read.parquet(tableDir).filter(col(PartCol).isin(touched: _*)))
      else None
    val all = byBucket(existingOpt.map(_.unionByName(newPart)).getOrElse(newPart), touched)
    val merged = all
      .groupBy(col(keyCol), col(PartCol))
      .agg(combiners.head._2(col(combiners.head._1)).as(combiners.head._1),
        combiners.tail.map { case (c, f) => f(col(c)).as(c) }: _*)
    // the staged rewrite matters MORE here than in MergeSink, because a
    // fold is NOT idempotent to re-apply: a crash between a bucket's two
    // renames leaves the accumulated state recoverable from the aside copy
    // instead of destroying it
    rewriteBuckets(tableFs, tablePath, touched, merged)
  }

  /** Current view state (without the internal partition column). */
  def read(): DataFrame =
    spark.read.parquet(tableDir).drop(PartCol)

  /** Continuous maintenance: every micro-batch's partials fold in through
    * the same merge. `toPartials` must produce one row per key touched by
    * the batch (a groupBy over the batch). */
  def streamInto(
      changes: DataFrame,
      toPartials: DataFrame => DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => update(toPartials(batch)); () }
      .start()
}
