package graft.merge

import java.io.File

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

object StagedSwapSpec {
  /** Bucket dir name to its parquet files (path, mtime), over every version
    * dir of the table's `data/` layout. */
  def bucketFiles(table: String): Map[String, Seq[(String, Long)]] =
    new File(table, "data").listFiles().filter(_.isDirectory).toSeq
      .flatMap(_.listFiles()).filter(f => f.isDirectory && f.getName.startsWith("__part="))
      .groupBy(_.getName).map { case (b, dirs) =>
        b -> dirs.flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getPath, f.lastModified())).sortBy(_._1)
      }
}

/** Pins for the bucket layout MergeSink and IncrementalAgg share
  * ([[BucketTable]]): a merge rewrites only the buckets it touches, leaving
  * the other buckets' files untouched, and each live bucket is one file
  * (in both sinks). VersionedSinkSpec pins the commit itself under
  * injected faults. */
class StagedSwapSpec extends SparkSpec {
  import StagedSwapSpec.bucketFiles

  private def changes(rows: (Long, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "ts")
  }

  test("a merge touching one bucket leaves other buckets' files untouched") {
    val table = tmpDir("swap-untouched") + "/t"
    val sink = new MergeSink(spark, table, "id", Seq("ts"), numBuckets = 4)
    // spread keys over buckets, then find two keys in DIFFERENT buckets;
    // AQE would coalesce this small merge's shuffle into one task, as it
    // would not for a large table — without it, each bucket must still
    // come out as one file
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try sink.merge(changes((1L to 40L).map(i => (i, s"k$i", 1L)): _*))
    finally spark.conf.set(coalesce, "true")
    val before = bucketFiles(table)
    assert(before.size > 1, s"need >1 bucket for the pin, got ${before.keys}")
    assert(before.values.forall(_.size == 1), s"one file per bucket: $before")
    // wait past mtime resolution, then merge a single key
    Thread.sleep(1100)
    sink.merge(changes((1L, "a2", 2L)))
    val after = bucketFiles(table)
    val touchedBuckets = before.keySet.filter(b => before(b) != after(b))
    assert(touchedBuckets.size === 1,
      s"exactly one bucket dir should change, got $touchedBuckets")
    // and the untouched buckets are BYTE-IDENTICAL files (same path+mtime)
    (before.keySet - touchedBuckets.head).foreach { b =>
      assert(before(b) === after(b), s"bucket $b was rewritten")
    }
    assert(after(touchedBuckets.head).size === 1, s"one file per bucket: $after")
  }

  test("an IncrementalAgg update writes each touched bucket as one file") {
    val table = tmpDir("swap-agg-files") + "/v"
    val agg = new IncrementalAgg(spark, table, "id",
      Seq("n" -> (org.apache.spark.sql.functions.sum(_))), numBuckets = 4)
    val s = spark
    import s.implicits._
    // AQE coalescing off, as in the MergeSink pin above
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try {
      agg.update((1L to 40L).map(i => (i, i)).toDF("id", "n"))
      agg.update((1L to 40L by 3).map(i => (i, 1L)).toDF("id", "n"))
    } finally spark.conf.set(coalesce, "true")
    val files = bucketFiles(table)
    assert(files.size === 4 && files.values.forall(_.size == 1), s"one file per bucket: $files")
    assert(agg.read().agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) ===
      (1L to 40L).sum + (1L to 40L by 3).size)
  }
}
