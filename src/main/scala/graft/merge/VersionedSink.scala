package graft.merge

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned latest-wins merge sink with TIME-TRAVEL reads — the
  * point-in-time query capability of the reference's warehouse ("query a
  * table as of an earlier state") on the [[MergeSink]] table: the same
  * [[BucketTable]] commit, one manifest per version, but WITH history.
  *
  *  - Every merge writes its rewritten buckets into a fresh version
  *    directory, never touching earlier versions' files, and commits by
  *    one manifest rename; `merge` returns the new version number.
  *  - `read(v)` scans, in one scan, the files version `v`'s manifest
  *    lists — no file listing of untouched history, so a time-travel read
  *    costs the same as a current read.
  *  - Crash safety is the commit's: a crash before the manifest rename
  *    leaves an orphan version dir that the next merge of the same version
  *    number overwrites; no manifest ever references half-written files.
  *  - `vacuum(retain)` deletes version directories no retained manifest
  *    references, making the storage cost a policy knob (the warehouse's
  *    time-travel window), not an unbounded tax.
  *
  * Scale shape: identical to MergeSink's — a merge reads and rewrites ONLY
  * the buckets its batch touches (change-volume cost at 100 TB);
  * manifests are O(numBuckets) text lines. One writer per table.
  */
final class VersionedSink(
    spark: SparkSession,
    tableDir: String,
    keyCol: String,
    orderCols: Seq[String],
    numBuckets: Int = 64) {
  import MergeSink.{byBucket, latestPerKey, touchedBuckets, withPart}

  private val table = new BucketTable(spark, tableDir, keyCol, numBuckets, keepHistory = true)

  /** Newest committed version; 0 = empty table. */
  def currentVersion: Int = table.currentVersion

  /** The manifest of a retained `version`. */
  private def manifest(version: Int): Manifest = {
    require(version >= 1 && version <= currentVersion,
      s"version $version outside [1, $currentVersion]")
    require(table.fs.exists(table.manifestPath(version)),
      s"version $version has been vacuumed (outside the retained window)")
    table.manifest(version)
  }

  /** Merge one batch (latest row per key wins — MergeSink's exact winner
    * rule, content-hash tie-break included) into version
    * `currentVersion + 1`. Returns the new version number. */
  def merge(batch: DataFrame): Int = {
    // two consumers (touched probe + merge union): persist so an expensive
    // batch source is evaluated once — see MergeSink.merge
    val newPart = withPart(batch, keyCol, numBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cur = table.current
      val touched = touchedBuckets(newPart)
      if (touched.isEmpty) return cur.fold(0)(_.version)
      val all = byBucket(cur.map(table.scan(_, touched).unionByName(newPart))
        .getOrElse(newPart), touched)
      table.commit(cur, touched, latestPerKey(all, keyCol, orderCols)).version
    } finally newPart.unpersist(blocking = false)
  }

  /** The table AS OF `version` (time travel); `read()` = current state. */
  def read(version: Int): DataFrame = table.read(manifest(version))

  def read(): DataFrame = read(currentVersion)

  /** Drop version directories referenced by NO manifest newer than
    * `currentVersion - retain` (the retained time-travel window). Deleted
    * versions' manifests go too — older reads then fail loudly instead of
    * returning partial data. Returns the dropped version numbers. */
  def vacuum(retain: Int): Seq[Int] = {
    val cur = currentVersion
    val keepFrom = math.max(1, cur - retain + 1)
    val live = (keepFrom to cur).flatMap(v => manifest(v).buckets.values.map(_.writer)).toSet
    val dropped = (1 until keepFrom).filterNot(live)
    val fs = table.fs
    for (v <- dropped) fs.delete(table.dataDir(v), true)
    for (v <- 1 until keepFrom) fs.delete(table.manifestPath(v), false)
    dropped
  }
}
