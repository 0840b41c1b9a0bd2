package graft.merge

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The local filesystem under its own `manifestfail` scheme, with the
  * commit of version 2 failing as [[ManifestRenameFailsFs.fault]] says:
  * `"false"`, its manifest rename reports failure by returning false;
  * `"throw"`, the call dies just before that rename, after the data
  * write. Unarmed (`""`), it is the plain local filesystem. */
class ManifestRenameFailsFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("manifestfail:///")
  override def getScheme: String = "manifestfail"
  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getName != "v00002.manifest") super.rename(src, dst)
    else ManifestRenameFailsFs.fault match {
      case "false" => false
      case "throw" => throw new IOException("injected failure before the manifest rename")
      case _ => super.rename(src, dst)
    }
}

object ManifestRenameFailsFs {
  @volatile var fault = ""
}

/** VersionedSink behaviors the SQL gate (q136) can't see: per-version
  * equivalence to a from-scratch MergeSink, history immutability under
  * later merges, orphan-dir crash recovery, vacuum retention, and I/O
  * through the table's Hadoop filesystem. The commit-fault tests run over
  * all three sinks of the shared [[BucketTable]] commit: MergeSink,
  * IncrementalAgg and VersionedSink.
  */
class VersionedSinkSpec extends SparkSpec {

  private def waves(n: Int): Seq[DataFrame] = {
    val s = spark
    import s.implicits._
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_millis($"ts").as("ms"))
    (0 until n).map(i => ev.filter($"event_id" % n === i))
  }

  private def rows(df: DataFrame): Set[(Long, Long, String, Double)] =
    df.select("user_id", "event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet

  test("every historical version equals a from-scratch merge of its wave prefix") {
    val ws = waves(3)
    val root = tmpDir("vsink-prefix")
    val vs = new VersionedSink(spark, s"$root/v", "user_id", Seq("ms", "event_id"), 16)
    ws.foreach(vs.merge(_))
    assert(vs.currentVersion == 3)
    for (v <- 1 to 3) {
      val ref = new MergeSink(spark, s"$root/ref$v", "user_id", Seq("ms", "event_id"), 16)
      ws.take(v).foreach(ref.merge(_))
      assert(rows(vs.read(v)) == rows(ref.read()), s"version $v diverged")
    }
  }

  test("later merges leave earlier reads byte-stable; orphan data dir is recovered over") {
    val ws = waves(3)
    val root = tmpDir("vsink-crash")
    val vs = new VersionedSink(spark, s"$root/v", "user_id", Seq("ms", "event_id"), 16)
    vs.merge(ws(0))
    val v1Before = rows(vs.read(1))

    // simulate a crash AFTER data write, BEFORE manifest commit: an orphan
    // v=2 data dir exists with garbage; the real merge must overwrite it
    val orphan = Paths.get(s"$root/v/data/__v=2/__part=0")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("garbage.parquet"), Array[Byte](1, 2, 3))
    assert(vs.currentVersion == 1) // no manifest -> not committed

    vs.merge(ws(1))
    vs.merge(ws(2))
    assert(vs.currentVersion == 3)
    assert(rows(vs.read(1)) == v1Before, "history must be immutable")
    // current state equals the all-waves merge law
    val ref = new MergeSink(spark, s"$root/ref", "user_id", Seq("ms", "event_id"), 16)
    ws.foreach(ref.merge(_))
    assert(rows(vs.read()) == rows(ref.read()))
  }

  test("vacuum keeps the retained window readable and drops unreferenced versions") {
    val s = spark
    import s.implicits._
    val root = tmpDir("vsink-vacuum")
    // three waves over DISJOINT key ranges so every version keeps owning
    // buckets — then a 4th wave rewriting wave 1's keys strands version 1
    def wave(lo: Long, hi: Long, msBase: Long) =
      spark.range(lo, hi).select($"id".as("user_id"), ($"id" * 10).as("event_id"),
        lit("view").as("event_type"), lit(1.0).as("value"), lit(msBase).as("ms"))
    val vs = new VersionedSink(spark, s"$root/v", "user_id", Seq("ms", "event_id"), 4)
    vs.merge(wave(0, 50, 1000))    // v1
    vs.merge(wave(50, 100, 2000))  // v2
    vs.merge(wave(100, 150, 3000)) // v3
    vs.merge(wave(0, 50, 4000))    // v4 rewrites every v1 bucket (all 4 buckets hit)
    val curBefore = rows(vs.read())

    val dropped = vs.vacuum(retain = 2) // keep manifests v3, v4
    assert(!Files.exists(Paths.get(s"$root/v/_manifests/v00001.manifest")))
    assert(rows(vs.read()) == curBefore)
    assert(rows(vs.read(3)).nonEmpty) // retained window still reads
    intercept[IllegalArgumentException](vs.read(2))
    // v1's data dir survives ONLY if a retained manifest still references it
    if (!Files.exists(Paths.get(s"$root/v/data/__v=1"))) assert(dropped.contains(1))
  }

  private def keyed(ids: Seq[Long], ms: Long): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, i * 10, "view", 1.0, ms)).toDF("user_id", "event_id", "event_type", "value", "ms")
  }

  test("a table on a non-default filesystem keeps its manifests beside its data") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.manifestfail.impl", classOf[ManifestRenameFailsFs].getName)
    val table = "manifestfail://" + tmpDir("vsink-scheme") + "/v"
    val vs = new VersionedSink(spark, table, "user_id", Seq("ms", "event_id"), 4)
    assert(vs.merge(keyed(0L until 20L, 1000)) === 1)
    assert(vs.merge(keyed(0L until 10L, 2000)) === 2)
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(table, "_manifests/v00001.manifest")))
    assert(fs.exists(new Path(table, "_manifests/v00002.manifest")))
    assert(vs.currentVersion === 2)
    assert(rows(vs.read(1)).map(_._1) === (0L until 20L).toSet)
    assert(rows(vs.read()).count(_._1 < 10) === 10)
    val current = rows(vs.read())
    vs.vacuum(retain = 1)
    assert(!fs.exists(new Path(table, "_manifests/v00001.manifest")))
    assert(rows(vs.read()) === current)
    intercept[IllegalArgumentException](vs.read(1))
  }

  /** The three bucketed tables under `root`: name, table dir, a write of
    * one batch, and a read. */
  private def sinks(root: String): Seq[(String, String, DataFrame => Unit, () => DataFrame)] = {
    val order = Seq("ms", "event_id")
    val ms = new MergeSink(spark, s"$root/merge", "user_id", order, 4)
    val ia = new IncrementalAgg(spark, s"$root/agg", "user_id", Seq("value" -> (sum(_))), 4)
    val vs = new VersionedSink(spark, s"$root/versioned", "user_id", order, 4)
    Seq(("MergeSink", s"$root/merge", ms.merge _, ms.read _),
      ("IncrementalAgg", s"$root/agg", (b: DataFrame) => ia.update(b.select("user_id", "value")),
        ia.read _),
      ("VersionedSink", s"$root/versioned", (b: DataFrame) => { vs.merge(b); () },
        () => vs.read()))
  }

  /** For each sink: commit version 1, fail version 2's commit by `fault`,
    * check the table is unchanged, then retry the same batch and check it
    * committed exactly once (against a fault-free twin) and that no
    * uncommitted version dir is left. */
  private def commitFaultTable(fault: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.manifestfail.impl", classOf[ManifestRenameFailsFs].getName)
    def state(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val b1 = keyed(0L until 20L, 1000)
    val b2 = keyed(0L until 10L, 2000)
    val faulty = sinks("manifestfail://" + tmpDir(s"commit-$fault"))
    val twins = sinks(tmpDir(s"commit-$fault-twin"))
    for (((name, dir, write, read), (_, _, twinWrite, twinRead)) <- faulty.zip(twins)) {
      write(b1)
      val before = state(read())
      ManifestRenameFailsFs.fault = fault
      try intercept[IOException](write(b2)) finally ManifestRenameFailsFs.fault = ""
      assert(state(read()) === before, s"$name: the failed commit changed the table")
      write(b2)
      Seq(b1, b2).foreach(twinWrite)
      assert(state(read()) === state(twinRead()), s"$name: the retry did not commit once")
      val fs = new Path(dir).getFileSystem(conf)
      val versions = fs.listStatus(new Path(dir, "data")).map(_.getPath.getName)
      assert(versions.toSet.subsetOf(Set("__v=1", "__v=2")), s"$name: ${versions.toSeq}")
      assert(fs.listStatus(new Path(dir, "_manifests")).map(_.getPath.getName).toSet ===
        (if (name == "VersionedSink") Set("v00001.manifest", "v00002.manifest")
         else Set("v00002.manifest")), s"$name: manifests")
    }
  }

  test("a manifest rename that returns false fails the merge and commits nothing") {
    commitFaultTable("false")
  }

  test("a failure between the data write and the manifest rename commits nothing; a retry commits once") {
    commitFaultTable("throw")
  }
}
