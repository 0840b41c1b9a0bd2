package graft.merge

import java.io.IOException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructField, StructType}

import MergeSink.PartCol

/** Committed version `version` of a [[BucketTable]]: each live bucket's
  * writer version, and the table schema (bucket column excluded). */
private[merge] final case class Manifest(version: Int, buckets: Map[Long, Int],
                                         schema: StructType) {
  /** First line the schema's JSON, then one `bucket,writer` line per bucket. */
  def text: String = (schema.json +: buckets.toSeq.sorted.map { case (b, v) => s"$b,$v" })
    .mkString("\n")
}

/** The one commit protocol of the bucketed tables in `graft.merge`
  * ([[MergeSink]], [[IncrementalAgg]], [[VersionedSink]]), the lakehouse
  * manifest recipe (Delta/Iceberg): data files are immutable, and a
  * manifest per version pins which files that version sees.
  *
  *  - Layout: `data/__v=<n>/__part=<p>/` holds bucket `p` as version `n`
  *    wrote it, as one parquet file. `_manifests/v<n>.manifest` is
  *    committed version `n`: the table schema, then each live bucket's
  *    writer version.
  *  - [[commit]]: the rewritten buckets are written into a FRESH version dir
  *    `n`, which is never a read source of its own plan, so the rows stream
  *    straight to it and an orphan of a crashed attempt is overwritten by
  *    the next commit of `n`. Then the manifest is written under a temp
  *    name and renamed in: that rename is the commit point, and a rename
  *    that reports failure throws, committing nothing.
  *  - [[scan]]: ONE parquet scan, with the manifest's schema, over the
  *    explicit dirs of the wanted live buckets — no listing of the table
  *    root and no footer merge; a file lacking a column null-fills it.
  *  - History: a table with `keepHistory` off deletes, in the same commit
  *    right after the rename, the bucket dirs the new version superseded,
  *    the version dirs it emptied and the previous manifest. A crash
  *    between the rename and these deletes leaves files no manifest names,
  *    which no read sees.
  *
  * All I/O goes through the Hadoop `FileSystem` of `tableDir`'s scheme.
  * One writer per table: two concurrent commits would race for the same
  * version number, and nothing here locks. A scan planned before a
  * history-less commit may find its files swept; re-read the table.
  */
private[merge] final class BucketTable(spark: SparkSession, tableDir: String,
                                       keepHistory: Boolean) {
  import BucketTable._

  private val root = new Path(tableDir)
  private val manifestDir = new Path(root, "_manifests")
  private val dataRoot = new Path(root, "data")

  def fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def manifestPath(v: Int): Path = new Path(manifestDir, f"v$v%05d.manifest")
  def dataDir(v: Int): Path = new Path(dataRoot, s"$VersionCol=$v")
  private def bucketDir(v: Int, b: Long): Path = new Path(dataDir(v), s"$PartCol=$b")

  /** Newest committed version; 0 = empty table. */
  def currentVersion: Int =
    if (!fs.exists(manifestDir)) 0
    else fs.listStatus(manifestDir).iterator.map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toInt }.foldLeft(0)(math.max)

  def manifest(v: Int): Manifest = {
    val lines = readText(fs, manifestPath(v)).split('\n')
    Manifest(v, lines.iterator.drop(1).map { line =>
      val Array(b, w) = line.split(','); b.toLong -> w.toInt
    }.toMap, DataType.fromJson(lines.head).asInstanceOf[StructType])
  }

  def current: Option[Manifest] = Some(currentVersion).filter(_ > 0).map(manifest)

  /** The live ones of `buckets` as of `m`, in one scan over their dirs,
    * with the layout's partition columns. */
  private def files(m: Manifest, buckets: Iterable[Long]): DataFrame = {
    val paths = buckets.iterator.flatMap(b => m.buckets.get(b).map(bucketDir(_, b).toString)).toSeq
    if (paths.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      m.schema.add(StructField(PartCol, IntegerType)))
    else spark.read.schema(m.schema).option("basePath", dataRoot.toString).parquet(paths: _*)
  }

  /** The live ones of `buckets` as of `m`, bucket column included. */
  def scan(m: Manifest, buckets: Iterable[Long]): DataFrame = files(m, buckets).drop(VersionCol)

  /** The whole table as of `m`, without the bucket column. */
  def read(m: Manifest): DataFrame = files(m, m.buckets.keys).drop(VersionCol, PartCol)

  def read(): DataFrame =
    read(current.getOrElse(throw new IllegalArgumentException(s"no table committed at $tableDir")))

  /** Commit `rows` (which carry [[PartCol]]) as the new contents of the
    * `rewritten` buckets of `prev`, the current version: a rewritten
    * bucket `rows` leave empty drops out of the table. Returns the new
    * manifest. */
  def commit(prev: Option[Manifest], rewritten: Iterable[Long], rows: DataFrame): Manifest = {
    val next = prev.fold(0)(_.version) + 1
    rows.write.partitionBy(PartCol).mode(SaveMode.Overwrite).parquet(dataDir(next).toString)
    val fs = this.fs
    val replaced = rewritten.toSet
    val written = fs.listStatus(dataDir(next)).iterator.map(_.getPath.getName)
      .collect { case BucketName(b) => b.toLong }.filter(replaced).map(_ -> next)
    val m = Manifest(next, prev.fold(Map.empty[Long, Int])(_.buckets) -- replaced ++ written,
      nullable(StructType(rows.schema.filterNot(_.name == PartCol))).asInstanceOf[StructType])
    val tmp = new Path(manifestDir, f".v$next%05d.tmp")
    writeText(fs, tmp, m.text)
    rename(fs, tmp, manifestPath(next))
    if (!keepHistory) prev.foreach { p =>
      val live = m.buckets.values.toSet
      for ((b, v) <- p.buckets if live(v) && !m.buckets.get(b).contains(v))
        fs.delete(bucketDir(v, b), true)
      for (v <- p.buckets.values.toSet + next -- live) fs.delete(dataDir(v), true)
      fs.delete(manifestPath(p.version), false)
    }
    m
  }
}

private[merge] object BucketTable {
  /** The version column of the data layout, dropped by every scan. */
  val VersionCol = "__v"
  private val ManifestName = "^v(\\d+)\\.manifest$".r
  private val BucketName = s"^$PartCol=(\\d+)$$".r

  private def writeText(fs: FileSystem, file: Path, text: String): Unit = {
    val out = fs.create(file, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readText(fs: FileSystem, file: Path): String = {
    val in = fs.open(file)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Every field nullable, as a parquet write stores it. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** `FileSystem.rename` reports most failures by returning false. */
  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new IOException(s"rename $src -> $dst failed")
}
