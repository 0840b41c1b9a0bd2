package graft.merge

import java.io.{File, IOException}
import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The local filesystem under its own `asidefail` scheme, except that a
  * rename into a swap's `__aside` directory reports failure the way Hadoop
  * filesystems mostly do: by returning false, not by throwing. */
class AsideRenameFailsFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("asidefail:///")
  override def getScheme: String = "asidefail"
  override def rename(src: Path, dst: Path): Boolean =
    !dst.toString.contains("__aside") && super.rename(src, dst)
}

/** Pins for the staged bucket rewrite that MergeSink and IncrementalAgg
  * share ([[MergeSink.rewriteBuckets]]): the new rows are written once to
  * a sibling staging directory and the touched bucket dirs rename into
  * place. These tests pin its physical contract — untouched buckets are
  * never rewritten, each bucket is one file (in both sinks), no staging
  * residue survives a merge, and a rename that reports failure aborts the
  * swap. */
class StagedSwapSpec extends SparkSpec {

  private def changes(rows: (Long, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "ts")
  }

  private def bucketFiles(table: String): Map[String, Seq[(String, Long)]] = {
    val d = new File(table)
    d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("__part="))
      .map { b =>
        b.getName -> b.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSeq.sortBy(_._1)
      }.toMap
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
    // and the untouched buckets are BYTE-IDENTICAL files (same name+mtime)
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

  test("a rename that returns false aborts the swap and leaves the table as it was") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.asidefail.impl", classOf[AsideRenameFailsFs].getName)
    val root = "asidefail://" + tmpDir("swap-renamefail")
    val sink = new MergeSink(spark, s"$root/t", "id", Seq("ts"), numBuckets = 4)
    // the first merge creates every bucket: nothing moves aside
    sink.merge(changes((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)))
    def state() = sink.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val before = state()
    intercept[IOException](sink.merge(changes((1L, "a2", 2L), (2L, "b2", 2L))))
    assert(state() === before)

    val agg = new IncrementalAgg(spark, s"$root/v", "id",
      Seq("n" -> (org.apache.spark.sql.functions.sum(_))), numBuckets = 4)
    val s = spark
    import s.implicits._
    agg.update(Seq((1L, 2L), (2L, 3L)).toDF("id", "n"))
    def aggState() = agg.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    intercept[IOException](agg.update(Seq((1L, 5L)).toDF("id", "n")))
    assert(aggState() === Seq((1L, 2L), (2L, 3L)))
  }

  test("no staging directory survives a merge") {
    val root = tmpDir("swap-residue")
    val table = s"$root/t"
    val sink = new MergeSink(spark, table, "id", Seq("ts"), numBuckets = 4)
    sink.merge(changes((1L, "a", 1L), (2L, "b", 1L)))
    sink.merge(changes((1L, "a2", 2L)))
    // staging dirs are nonce'd siblings: `t__staging-<nanos>`
    def residue(prefix: String) =
      new File(root).list().filter(_.startsWith(prefix + "__staging")).toSeq
    assert(residue("t") === Nil, "staging dir left behind")
    val agg = new IncrementalAgg(spark, s"$root/v", "id",
      Seq("n" -> (org.apache.spark.sql.functions.sum(_))), numBuckets = 4)
    val s = spark
    import s.implicits._
    agg.update(Seq((1L, 2L), (2L, 3L)).toDF("id", "n"))
    agg.update(Seq((1L, 5L)).toDF("id", "n"))
    assert(residue("v") === Nil, "IncrementalAgg staging residue")
  }
}
