package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Maintenance for append sinks: micro-batch delivery produces one-file-
  * per-batch layouts, and at streaming cadence that means millions of tiny
  * files — the classic small-files problem. Compaction rewrites a sink
  * directory into ~`targetFileBytes` files.
  *
  * Scale/semantics notes:
  *  - the rewrite is a distributed read → repartition → write; only the
  *    final file swap is driver-side (renames, O(#files) metadata ops);
  *  - row count is verified BEFORE the swap — a failed compaction leaves
  *    the sink untouched;
  *  - a directory listing taken mid-swap mixes OLD and NEW files; readers
  *    that may overlap a compaction must go through [[read]], which serves
  *    a consistent snapshot off the swap manifest (exactly-before or
  *    exactly-after, never a mix — a commit-log table format generalizes
  *    the same idea). Downstream streaming file-source checkpoints treat
  *    compacted files as new input either way.
  */
object SinkMaintenance {

  final case class CompactionStats(filesBefore: Int, filesAfter: Int, rows: Long)

  /** Name of the swap manifest written (underscore-prefixed, so Spark
    * readers ignore it) before any destructive step of the file swap. */
  private[streaming] val SwapManifest = "_graft_compaction_swap"

  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): CompactionStats = {
    val (fs, root) = resolve(spark, dir)
    recoverSwap(spark, dir) // finish any swap a previous crash interrupted
    val parts = partFiles(fs, root)
    val totalBytes = parts.map(_.getLen).sum
    val targetFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    if (parts.length <= targetFiles)
      return CompactionStats(parts.length, parts.length,
        spark.read.parquet(dir).count())

    val tmp = dir + ".compact-tmp"
    val df = spark.read.parquet(dir)
    val before = df.count()
    df.repartition(targetFiles).write.mode("overwrite").parquet(tmp)
    val after = spark.read.parquet(tmp).count()
    require(after == before, s"compaction row mismatch: $before -> $after; sink untouched")

    val newParts = partFiles(fs, new Path(tmp))

    // Crash-safe swap: write a manifest FIRST, then move the compacted
    // files in (their job-UUID names cannot collide with the old ones),
    // then delete the old parts, then drop the manifest. A crash at any
    // point leaves either the untouched sink (manifest not yet written) or
    // a state [[recoverSwap]] completes idempotently on the next call —
    // the sink is never left empty (the pre-fix ordering deleted the old
    // files before moving the new ones in, losing the sink if the process
    // died between the two steps).
    val manifest = new Path(root, SwapManifest)
    val lines = Seq(s"TMP $tmp") ++
      newParts.map(f => s"NEW ${f.getPath.getName}") ++
      parts.map(f => s"OLD ${f.getPath.getName}")
    // write-then-rename: the manifest appears ATOMICALLY complete or not at
    // all — a crash mid-write must not leave a truncated step list for
    // recovery to half-apply
    val staging = new Path(root, SwapManifest + ".tmp")
    val out = fs.create(staging, true)
    try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(staging, manifest), s"could not commit swap manifest $manifest")

    // moveIfPresent, not a bare rename: a concurrent [[read]] that saw the
    // manifest may be completing these very steps (see recoverSwap)
    newParts.foreach(f => moveIfPresent(fs, f.getPath, new Path(root, f.getPath.getName)))
    parts.foreach(f => fs.delete(f.getPath, false))
    fs.delete(manifest, false)
    fs.delete(new Path(tmp), true)
    CompactionStats(parts.length, newParts.length, before)
  }

  /** Swap-consistent sink read: COMPLETE any visible swap, then read.
    *
    * A manifest is only ever written after the NEW file set is fully
    * staged and row-count verified, so a reader that observes one can
    * always roll the swap FORWARD itself ([[recoverSwap]] is idempotent
    * and, via [[moveIfPresent]], tolerant of a concurrent compactor
    * completing the same steps). After that the directory holds exactly
    * the after-files; before any manifest exists it holds exactly the
    * before-files — a reader therefore never observes a mixed or empty
    * half-swapped directory, whether the swap was abandoned by a crash or
    * is progressing concurrently. (A NEW compaction starting between this
    * call and the returned DataFrame's execution is the same exposure as
    * any listing-based reader; serial maintenance per sink is assumed.) */
  def read(spark: SparkSession, dir: String): DataFrame = {
    recoverSwap(spark, dir)
    spark.read.parquet(dir)
  }

  /** Idempotently finish a swap interrupted by a crash: re-apply every step
    * recorded in the manifest (moves of staged files that still exist,
    * deletes of old files that still exist), then clear the manifest and
    * staging dir. Safe to call when no manifest exists (no-op). */
  private[streaming] def recoverSwap(spark: SparkSession, dir: String): Boolean = {
    val (fs, root) = resolve(spark, dir)
    val manifest = new Path(root, SwapManifest)
    if (!fs.exists(manifest)) return false
    val in = fs.open(manifest)
    val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8).split("\n").toSeq
      finally in.close()
    val tmp = new Path(lines.find(_.startsWith("TMP ")).get.substring(4))
    lines.foreach { l =>
      if (l.startsWith("NEW ")) {
        val name = l.substring(4)
        moveIfPresent(fs, new Path(tmp, name), new Path(root, name))
      } else if (l.startsWith("OLD ")) {
        fs.delete(new Path(root, l.substring(4)), false)
      }
    }
    fs.delete(manifest, false)
    fs.delete(tmp, true)
    true
  }

  /** The sink dir and the Hadoop `FileSystem` of its scheme: `java.io`
    * would list a sink given as a `file:` URI as empty, and resolve its
    * manifest under the working directory. */
  private def resolve(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def partFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(f => f.isFile && f.getPath.getName.startsWith("part-"))

  /** Move `src` to `dst` if present; a concurrent actor having already
    * performed this exact move (src gone, dst in place) is success, any
    * other failed rename is a real error. */
  private def moveIfPresent(fs: FileSystem, src: Path, dst: Path): Unit =
    if (fs.exists(src) && !fs.rename(src, dst))
      require(!fs.exists(src) && fs.exists(dst), s"could not move $src to $dst")
}
