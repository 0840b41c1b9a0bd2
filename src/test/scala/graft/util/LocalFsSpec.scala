package graft.util

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.merge.MergeSink

/** [[RawLocalFs]] that counts its `setPermission` calls and the ones that
  * reach the forking chmod fallback. */
class CountingRawLocalFs extends RawLocalFs {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    CountingRawLocalFs.calls.incrementAndGet()
    super.setPermission(p, permission)
  }
  override protected def chmodFallback(p: Path, permission: FsPermission): Unit = {
    CountingRawLocalFs.fallbacks.incrementAndGet()
    super.chmodFallback(p, permission)
  }
}

object CountingRawLocalFs {
  val calls = new AtomicInteger
  val fallbacks = new AtomicInteger
}

class CountingLocalFs extends LocalFileSystem(new CountingRawLocalFs)

/** Pins for [[LocalFs]], the `file:` filesystem every session registers:
  * it is what the session resolves, it sets the modes Hadoop would, it
  * writes the same tree as stock Hadoop, and a merge forks no `chmod`. */
class LocalFsSpec extends SparkSpec {

  private val fileUri = URI.create("file:///")

  /** Run `body` with `file:` resolved to the given classes, uncached, so
    * every filesystem the body's writes open is a fresh instance of them. */
  private def withFileImpl[T](fs: String, afs: String)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    keys.zip(Seq(fs, afs, "true")).foreach { case (k, v) => conf.set(k, v) }
    try {
      assert(FileSystem.get(fileUri, spark.sessionState.newHadoopConf()).getClass.getName === fs)
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("the session resolves file: to LocalFs through FileSystem and FileContext") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      val fs = new Path(tmpDir("localfs-resolve")).getFileSystem(conf)
      assert(fs.getClass === classOf[LocalFs])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[RawLocalFs])
      assert(FileContext.getFileContext(fileUri, conf).getDefaultFileSystem.getClass ===
        classOf[LocalAbstractFs])
    }
  }

  test("setPermission sets rwx modes by syscall and a sticky bit through chmod") {
    val fs = new CountingRawLocalFs
    fs.initialize(fileUri, spark.sparkContext.hadoopConfiguration)
    val file = Paths.get(tmpDir("localfs-modes"), "f")
    Files.createFile(file)
    val before = CountingRawLocalFs.fallbacks.get
    for ((mode, rwx) <- Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "700" -> "rwx------",
        "640" -> "rw-r-----")) {
      fs.setPermission(new Path(file.toUri), new FsPermission(Integer.parseInt(mode, 8).toShort))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(file)) === rwx)
    }
    assert(CountingRawLocalFs.fallbacks.get === before)
    val dir = Files.createDirectory(file.resolveSibling("d"))
    fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) ===
      Integer.parseInt("1777", 8))
    assert(CountingRawLocalFs.fallbacks.get === before + 1)
  }

  test("a merge and a checkpointed query write the same paths and modes as stock Hadoop") {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def layout(root: String): Seq[(String, String)] = Using.resource(Files.walk(Paths.get(root))) {
      _.iterator().asScala.map { p =>
        (Paths.get(root).relativize(p).toString.replaceAll(uuid, "<uuid>"),
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
      }.toSeq.sorted
    }
    def run(): Seq[(String, String)] = {
      val s = spark
      import s.implicits._
      val root = tmpDir("localfs-layout")
      val sink = new MergeSink(spark, s"$root/t", "id", Seq("ts"), numBuckets = 4)
      sink.merge(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "name", "ts"))
      sink.merge(Seq((1L, "a2", 2L)).toDF("id", "name", "ts"))
      Seq((1L, "x"), (2L, "y")).toDF("id", "v").coalesce(1).write.json(s"$root/in")
      spark.readStream.schema("id LONG, v STRING").json(s"$root/in").writeStream
        .option("checkpointLocation", s"$root/ckpt").trigger(Trigger.AvailableNow())
        .format("parquet").start(s"$root/out").awaitTermination()
      layout(root)
    }
    val stock = withFileImpl(classOf[LocalFileSystem].getName,
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)(run())
    val graft = run()
    assert(stock.exists(_._1.startsWith("ckpt/offsets/.0.crc")), stock)
    assert(graft === stock)
  }

  test("a 64-bucket merge sets every mode without forking chmod") {
    val s = spark
    import s.implicits._
    val table = tmpDir("localfs-nofork") + "/t"
    withFileImpl(classOf[CountingLocalFs].getName, classOf[LocalAbstractFs].getName) {
      val sink = new MergeSink(spark, table, "id", Seq("ts"))
      val calls = CountingRawLocalFs.calls.get
      val fallbacks = CountingRawLocalFs.fallbacks.get
      sink.merge((1L to 2000L).map(i => (i, s"k$i", 1L)).toDF("id", "name", "ts"))
      sink.merge((1L to 2000L by 7).map(i => (i, s"u$i", 2L)).toDF("id", "name", "ts"))
      assert(CountingRawLocalFs.calls.get - calls >= 2 * 64, "the merge wrote through the counting fs")
      assert(CountingRawLocalFs.fallbacks.get === fallbacks)
    }
    assert(graft.merge.StagedSwapSpec.bucketFiles(table).size === 64)
  }
}
