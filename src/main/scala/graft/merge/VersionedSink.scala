package graft.merge

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned latest-wins merge sink with TIME-TRAVEL reads — the
  * point-in-time query capability of the reference's warehouse ("query a
  * table as of an earlier state") rebuilt on the [[MergeSink]] layout, in
  * the lakehouse-manifest style (Delta/Iceberg's public recipe): data
  * files are IMMUTABLE and manifests pin which files each version sees.
  *
  *  - Every merge writes its rewritten buckets into a FRESH version
  *    directory `data/v=<n>/__part=<p>/…` — never touching earlier
  *    versions' files.
  *  - A manifest per version maps each bucket to the version that last
  *    rewrote it. `read(v)` unions, per writer version, only the buckets
  *    that version still owns at v — partition-pruned directory reads, no
  *    file listing of untouched history.
  *  - Crash safety: data first, manifest last via rename — a crash
  *    between the two leaves an orphan data dir that the NEXT merge of the
  *    same version number simply overwrites; no manifest ever references
  *    half-written files. A rename that reports failure throws, and the
  *    version is not committed.
  *  - `vacuum(retain)` deletes version directories no retained manifest
  *    references, making the storage cost a policy knob (the warehouse's
  *    time-travel window), not an unbounded tax.
  *
  * All I/O goes through the Hadoop `FileSystem` of `tableDir`'s scheme, so
  * manifests live beside the data on any filesystem.
  *
  * Scale shape: identical to MergeSink's — a merge reads and rewrites ONLY
  * the buckets its batch touches (change-volume cost at 100 TB); a
  * time-travel read costs the same as a current read (≤ numBuckets
  * directory reads either way); manifests are O(numBuckets) text lines.
  */
final class VersionedSink(
    spark: SparkSession,
    tableDir: String,
    keyCol: String,
    orderCols: Seq[String],
    numBuckets: Int = 64) {
  import MergeSink.{PartCol, latestPerKey, readText, rename, touchedBuckets, withPart, writeText}

  private val manifestDir = new Path(tableDir, "_manifests")
  private def manifest(v: Int): Path = new Path(manifestDir, f"v$v%05d.manifest")
  private def dataDir(v: Int): String = s"$tableDir/data/v=$v"

  private def fileSystem: FileSystem =
    manifestDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Newest committed version; 0 = empty table. */
  def currentVersion: Int = {
    val fs = fileSystem
    if (!fs.exists(manifestDir)) 0
    else fs.listStatus(manifestDir).iterator
      .flatMap(st => "^v(\\d+)\\.manifest$".r.findFirstMatchIn(st.getPath.getName))
      .map(_.group(1).toInt).foldLeft(0)(math.max)
  }

  /** bucket → version that last rewrote it, as of `version`. */
  private def writers(version: Int): Map[Long, Int] = {
    require(version >= 1 && version <= currentVersion,
      s"version $version outside [1, $currentVersion]")
    val fs = fileSystem
    require(fs.exists(manifest(version)),
      s"version $version has been vacuumed (outside the retained window)")
    readText(fs, manifest(version)).split('\n').iterator
      .filter(_.nonEmpty)
      .map { line =>
        val Array(b, w) = line.split(','); b.toLong -> w.toInt
      }.toMap
  }

  /** Merge one batch (latest row per key wins — MergeSink's exact winner
    * rule, content-hash tie-break included) into version
    * `currentVersion + 1`. Returns the new version number. */
  def merge(batch: DataFrame): Int = {
    val cur = currentVersion
    val next = cur + 1
    // two consumers (touched probe + merge union): persist so an expensive
    // batch source is evaluated once — see MergeSink.merge
    val newPart = withPart(batch, keyCol, numBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = touchedBuckets(newPart).toSet
      if (touched.isEmpty) return cur

      val existing =
        if (cur == 0) None
        else {
          val touchedWriters = writers(cur).filter { case (b, _) => touched(b) }
          readOwned(touchedWriters)
        }
      val all = existing.map(_.unionByName(newPart)).getOrElse(newPart)

      // data first (an orphan dir from a crashed attempt is overwritten),
      // manifest last by rename — the commit point. Every merge writes a
      // FRESH version directory, so the write target is never also a read
      // source of this plan: the winners stream straight to parquet
      latestPerKey(all, keyCol, orderCols).write.partitionBy(PartCol)
        .mode(SaveMode.Overwrite).parquet(dataDir(next))
      val newWriters =
        (if (cur == 0) Map.empty[Long, Int] else writers(cur)) ++
          touched.iterator.map(_ -> next)
      val fs = fileSystem
      val tmp = new Path(manifestDir, f".v$next%05d.tmp")
      writeText(fs, tmp, newWriters.toSeq.sortBy(_._1)
        .map { case (b, v) => s"$b,$v" }.mkString("\n"))
      rename(fs, tmp, manifest(next))
      next
    } finally newPart.unpersist(blocking = false)
  }

  /** Union of each writer version's still-owned buckets. */
  private def readOwned(byBucket: Map[Long, Int]): Option[DataFrame] = {
    if (byBucket.isEmpty) return None
    val parts = byBucket.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (writer, buckets) =>
        spark.read.parquet(dataDir(writer))
          .filter(col(PartCol).isin(buckets.keys.toSeq: _*))
    }
    Some(parts.reduce(_ unionByName _))
  }

  /** The table AS OF `version` (time travel); `read()` = current state. */
  def read(version: Int): DataFrame =
    readOwned(writers(version))
      .getOrElse(spark.emptyDataFrame)
      .drop(PartCol)

  def read(): DataFrame = read(currentVersion)

  /** Drop version directories referenced by NO manifest newer than
    * `currentVersion - retain` (the retained time-travel window). Deleted
    * versions' manifests go too — older reads then fail loudly instead of
    * returning partial data. Returns the dropped version numbers. */
  def vacuum(retain: Int): Seq[Int] = {
    val cur = currentVersion
    val keepFrom = math.max(1, cur - retain + 1)
    val live = (keepFrom to cur).flatMap(v => writers(v).values).toSet
    val dropped = (1 until keepFrom).filterNot(live)
    val fs = fileSystem
    for (v <- dropped) fs.delete(new Path(dataDir(v)), true)
    for (v <- 1 until keepFrom) fs.delete(manifest(v), false)
    dropped
  }
}
