package graft.merge

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** O25/O26: latest-wins merge semantics, idempotence (at-least-once replay
  * tolerance), and backfill ∪ stream convergence. */
class MergeSinkSpec extends SparkSpec {

  /** Jobs started while `body` runs: (description, inside an SQL
    * execution). File listing and footer schema merging both run as bare
    * RDD jobs outside any SQL execution; listing also sets a description. */
  private def jobsDuring(body: => Unit): Seq[(String, Boolean)] = {
    val seen = new ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        seen.add((prop("spark.job.description").getOrElse(""),
          prop("spark.sql.execution.id").isDefined))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // a listener gets events in order: once this job's start arrives,
      // every job `body` started has arrived too
      sc.setJobDescription("jobsDuring-sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_._1 == "jobsDuring-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    val jobs = seen.asScala.toSeq
    assert(jobs.exists(_._1 == "jobsDuring-sentinel"), "listener saw no sentinel job")
    jobs.filter(_._1 != "jobsDuring-sentinel")
  }

  private def assertNoListingOrFooterJob(jobs: Seq[(String, Boolean)]): Unit = {
    assert(jobs.nonEmpty)
    assert(!jobs.exists(_._1.startsWith("Listing leaf files")), s"listing job: $jobs")
    assert(jobs.forall(_._2), s"job outside an SQL execution (footer merge): $jobs")
  }

  private def changes(rows: (Long, String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "ts")
  }

  test("latest change per key wins; later batches upsert") {
    val sink = new MergeSink(spark, tmpDir("merge1") + "/t", "id", Seq("ts"), numBuckets = 8)
    sink.merge(changes((1L, "a1", 10L), (2L, "b1", 10L), (1L, "a2", 20L)))
    val s1 = sink.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s1.toSeq === Seq((1L, "a2"), (2L, "b1")))

    sink.merge(changes((2L, "b2", 30L), (3L, "c1", 5L)))
    val s2 = sink.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(s2.toSeq === Seq((1L, "a2"), (2L, "b2"), (3L, "c1")))

    // stale change arrives late -> must NOT win
    sink.merge(changes((2L, "b0", 1L)))
    val s3 = sink.read().filter("id = 2").collect().map(_.getString(1))
    assert(s3.toSeq === Seq("b2"))
  }

  test("merge is idempotent: replaying a batch leaves the table unchanged") {
    val sink = new MergeSink(spark, tmpDir("merge2") + "/t", "id", Seq("ts"), numBuckets = 8)
    val batch = changes((1L, "x", 1L), (2L, "y", 2L), (1L, "x2", 3L))
    sink.merge(batch)
    val before = sink.read().orderBy("id").collect().toSeq
    sink.merge(batch) // at-least-once replay
    sink.merge(batch)
    assert(sink.read().orderBy("id").collect().toSeq === before)
  }

  test("ties on (key, ts) resolve deterministically under batch reordering") {
    // two changes for key 1 with the SAME ts and different payloads: no
    // ordering column distinguishes them, so the content-hash tie-break must
    // pick the same winner no matter how the rows are batched or ordered
    val dup = Seq((1L, "p-alpha", 10L), (1L, "p-beta", 10L), (2L, "q", 5L))
    val arrangements = Seq(
      dup, dup.reverse, Seq(dup(1), dup(2), dup(0)))
    val finals = arrangements.zipWithIndex.map { case (rows, i) =>
      val sink = new MergeSink(spark, tmpDir(s"merge-det$i") + "/t", "id", Seq("ts"), numBuckets = 8)
      sink.merge(changes(rows: _*))
      sink.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    assert(finals.distinct.size === 1, s"nondeterministic merge: $finals")

    // same rows split across two batches, either split order: same result
    val splitA = { val sk = new MergeSink(spark, tmpDir("merge-detA") + "/t", "id", Seq("ts"), 8)
      sk.merge(changes(dup(0), dup(2))); sk.merge(changes(dup(1)))
      sk.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq }
    val splitB = { val sk = new MergeSink(spark, tmpDir("merge-detB") + "/t", "id", Seq("ts"), 8)
      sk.merge(changes(dup(1), dup(2))); sk.merge(changes(dup(0)))
      sk.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq }
    assert(splitA === splitB)
    assert(splitA === finals.head)
  }

  test("map-typed columns merge fine (excluded from the content-hash tie-break)") {
    val s = spark
    import s.implicits._
    val sink = new MergeSink(spark, tmpDir("merge-map") + "/t", "id", Seq("ts"), numBuckets = 4)
    val batch = Seq((1L, 10L, Map("a" -> "1")), (1L, 20L, Map("b" -> "2")))
      .toDF("id", "ts", "props")
    sink.merge(batch)
    val out = sink.read().collect()
    assert(out.length === 1)
    assert(out(0).getLong(1) === 20L) // latest ts wins; map column carried through
  }

  test("backfill then stream converges to source state (O25)") {
    val s = spark
    import s.implicits._
    val root = tmpDir("merge3")
    val changeLog = s"$root/changes"
    val sink = new MergeSink(spark, s"$root/t", "id", Seq("ts"), numBuckets = 8)

    // streamed CDC tail, written before the query starts
    changes((1L, "a-upd", 100L), (3L, "c-new", 101L))
      .write.mode("append").json(changeLog)

    val stream = spark.readStream.schema(changes((0L, "", 0L)).schema).json(changeLog)
    val q = sink.backfillThenStream(
      backfill = changes((1L, "a-base", 1L), (2L, "b-base", 1L)),
      changes = stream,
      checkpointDir = s"$root/ckpt")
    q.awaitTermination()

    val out = sink.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "a-upd"), (2L, "b-base"), (3L, "c-new")))
  }

  private def delChanges(rows: (Long, String, Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "name", "ts", "__deleted")
  }

  test("tombstones delete keys, survive replay without resurrection, and revive on newer upserts") {
    val dir = tmpDir("merge-del") + "/t"
    val sink = new MergeSink(spark, dir, "id", Seq("ts"), numBuckets = 8,
      tombstoneCol = Some("__deleted"))
    val wave1 = delChanges((1L, "a1", 10L, "false"), (2L, "b1", 10L, "false"))
    sink.merge(wave1)
    sink.merge(delChanges((1L, "-", 20L, "true"))) // delete key 1
    def state() = sink.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state() === Seq((2L, "b1")))

    // at-least-once replay of the PRE-delete wave: the retained tombstone
    // must still win — no resurrection
    sink.merge(wave1)
    assert(state() === Seq((2L, "b1")))

    // a NEWER upsert revives the key (delete is not forever)
    sink.merge(delChanges((1L, "a2", 30L, "false")))
    assert(state() === Seq((1L, "a2"), (2L, "b1")))

    // delete again, then purge: reads unchanged, storage loses the
    // tombstone row (and with it replay protection — the documented
    // compaction-horizon contract)
    sink.merge(delChanges((1L, "-", 40L, "true")))
    sink.purgeTombstones()
    assert(state() === Seq((2L, "b1")))
    val stored = spark.read.parquet(dir)
    assert(stored.filter("__deleted = 'true'").count() === 0L)
    assert(state() === Seq((2L, "b1")))
  }

  test("NULL tombstone values are live rows, not deletes (null-safe filter polarity)") {
    // a feed that only stamps deletes: upserts carry __deleted = NULL.
    // read() must keep them and purgeTombstones() must NOT drop them.
    val s = spark
    import s.implicits._
    val dir = tmpDir("merge-nulltomb") + "/t"
    val sink = new MergeSink(spark, dir, "id", Seq("ts"), numBuckets = 4,
      tombstoneCol = Some("__deleted"))
    val batch = Seq(
      (1L, "live-null", 10L, null.asInstanceOf[String]),
      (2L, "live-false", 10L, "false"),
      (3L, "-", 10L, "true")
    ).toDF("id", "name", "ts", "__deleted")
    sink.merge(batch)
    def state() = sink.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state() === Seq((1L, "live-null"), (2L, "live-false")))
    sink.purgeTombstones()
    assert(state() === Seq((1L, "live-null"), (2L, "live-false")))
    assert(spark.read.parquet(dir).count() === 2L)
  }

  test("purgeTombstones edge cases: missing dir is a no-op; all-tombstone table is not bricked") {
    val dir = tmpDir("merge-purge-edge") + "/t"
    val sink = new MergeSink(spark, dir, "id", Seq("ts"), numBuckets = 4,
      tombstoneCol = Some("__deleted"))
    sink.purgeTombstones() // before any merge: must not throw
    sink.merge(delChanges((1L, "-", 10L, "true"), (2L, "-", 10L, "true")))
    sink.purgeTombstones() // every row is a tombstone: overwrite skipped
    // the sink is still usable: tombstones retained, reads empty, and a
    // fresh upsert lands normally
    assert(sink.read().count() === 0L)
    sink.merge(delChanges((1L, "a-new", 20L, "false")))
    assert(sink.read().collect().map(_.getString(1)).toSeq === Seq("a-new"))
  }

  test("max_by winner == row_number window winner (incl. NULL order values and ties)") {
    // r20 pinned: the merge's combinable per-key max_by aggregate must pick
    // exactly the row `row_number() OVER (PARTITION BY key ORDER BY ts DESC,
    // hash DESC) = 1` picks — including NULL ts (desc = NULLS LAST; struct
    // max treats null as smallest: same winner) and (key, ts) ties (the
    // content-hash tie-break)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, "a-old", Some(10L)), (1L, "a-new", Some(20L)), (1L, "a-null", None),
      (2L, "b-null1", None), (2L, "b-null2", None), // all-null group: hash decides
      (3L, "tie-x", Some(5L)), (3L, "tie-y", Some(5L)), // ts tie: hash decides
      (4L, "only", Some(1L)))
    val df = rows.toDF("id", "name", "ts")
    val sink = new MergeSink(spark, tmpDir("merge-maxby") + "/t", "id",
      Seq("ts"), numBuckets = 4)
    sink.merge(df)
    val got = sink.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // reference: the historical window form over the same hash expression —
    // the sink hashes the merge relation's FULL column set, which includes
    // its internal __part bucket column
    val withPart = df.withColumn("__part", pmod(xxhash64($"id"), lit(4)))
    val hash = xxhash64(Seq("__part", "id", "name", "ts").sorted.map(col): _*)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"id")
      .orderBy($"ts".desc, hash.desc)
    val want = withPart.withColumn("__rn", row_number().over(w)).filter($"__rn" === 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === want)
  }

  test("schema evolution on the merge path: batches may add or omit columns") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("merge-evolve") + "/t"
    val sink = new MergeSink(spark, dir, "id", Seq("ts"), numBuckets = 4)
    sink.merge(changes((1L, "a1", 10L), (2L, "b1", 10L)))
    // ADD a column: old generations must null-fill through the merged read
    sink.merge(Seq((2L, "b2", 20L, "gold"), (3L, "c1", 20L, "silver"))
      .toDF("id", "name", "ts", "tier"))
    def tiers(sk: MergeSink) = sk.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getAs[String]("tier")))).toSeq
    val s1 = tiers(sink)
    assert(s1 === Seq((1L, "a1", None), (2L, "b2", Some("gold")),
      (3L, "c1", Some("silver"))))
    // a fresh sink on the directory reads the same through the stored
    // schema, and so does the footer-merged fallback once it is gone
    assert(tiers(new MergeSink(spark, dir, "id", Seq("ts"), numBuckets = 4)) === s1)
    val schemaFile = new Path(dir, MergeSink.SchemaFile)
    val fs = schemaFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(schemaFile, false))
    assert(tiers(sink) === s1)
    // OMIT the column: the new winner's tier is NULL, not a failure and
    // not a stale carry-over
    sink.merge(changes((3L, "c2", 30L)))
    val s2 = sink.read().filter("id = 3").collect()
      .map(r => (r.getString(1), Option(r.getAs[String]("tier"))))
    assert(s2.toSeq === Seq(("c2", None)))
  }

  test("a 64-bucket table merges and reads without a listing or footer-merge job") {
    val sink = new MergeSink(spark, tmpDir("merge-jobs") + "/t", "id", Seq("ts"))
    sink.merge(changes((1L to 2000L).map(i => (i, s"n$i", 1L)): _*))
    assertNoListingOrFooterJob(jobsDuring(
      sink.merge(changes((1L to 300L).map(i => (i * 6, s"m$i", 2L)): _*))))
    var n = 0L
    assertNoListingOrFooterJob(jobsDuring { n = sink.read().count() })
    assert(n === 2000L)
  }

  test("purgeTombstones keeps the stored schema: a fresh sink reads an added column") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("merge-purge-schema") + "/t"
    val sink = new MergeSink(spark, dir, "id", Seq("ts"), numBuckets = 8,
      tombstoneCol = Some("__deleted"))
    sink.merge(delChanges((1L, "a1", 10L, "false"), (2L, "b1", 10L, "false"),
      (3L, "c1", 10L, "false")))
    sink.merge(Seq((2L, "b2", 20L, "false", "gold"), (3L, "-", 20L, "true", "x"))
      .toDF("id", "name", "ts", "__deleted", "tier"))
    sink.purgeTombstones()
    val fresh = new MergeSink(spark, dir, "id", Seq("ts"), numBuckets = 8,
      tombstoneCol = Some("__deleted"))
    var rows = Seq.empty[(Long, String, Option[String])]
    assertNoListingOrFooterJob(jobsDuring {
      rows = fresh.read().orderBy("id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
          Option(r.getAs[String]("tier")))).toSeq
    })
    assert(rows === Seq((1L, "a1", None), (2L, "b2", Some("gold"))))
  }
}
