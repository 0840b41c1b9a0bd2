package graft.merge

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
  * The table is MergeSink's: a [[BucketTable]] without history, one file
  * per bucket, only the touched buckets rewritten, bounded driver state
  * (the touched-bucket id list). An update commits by one manifest rename
  * or not at all, so an update that fails before it can be retried: it
  * folds once. One writer per table.
  */
final class IncrementalAgg(
    spark: SparkSession,
    tableDir: String,
    keyCol: String,
    combiners: Seq[(String, Column => Column)],
    numBuckets: Int = 64) {
  import MergeSink.{PartCol, byBucket, touchedBuckets, withPart}

  private val table = new BucketTable(spark, tableDir, keyCol, numBuckets, keepHistory = false)

  /** Fold one batch of per-key PARTIALS (columns: key + every combiner
    * column) into the view. */
  def update(partials: DataFrame): Unit = {
    val newPart = withPart(partials, keyCol, numBuckets)
    // The partials plan is evaluated twice (a key-column-pruned probe, then
    // the fold): the r19 same-JVM A/B measured persisting it across the two
    // consumers 1.48x SLOWER, and an r20 attempt to land the batch in a
    // staging dir first (one evaluation, dir listing as the probe) measured
    // 1.30x SLOWER at bench protocol (BENCH_TIMINGS_r20mid q96 4.27→5.55 —
    // the parquet write+readback costs more than the pruned re-evaluation)
    // and was REVERTED. The probe stays.
    val touched = touchedBuckets(newPart)
    if (touched.isEmpty) return
    val cur = table.current
    val all = byBucket(cur.map(table.scan(_, touched).unionByName(newPart))
      .getOrElse(newPart), touched)
    table.commit(cur, touched, all
      .groupBy(col(keyCol), col(PartCol))
      .agg(combiners.head._2(col(combiners.head._1)).as(combiners.head._1),
        combiners.tail.map { case (c, f) => f(col(c)).as(c) }: _*))
  }

  /** Current view state (without the internal partition column). */
  def read(): DataFrame = table.read()

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
