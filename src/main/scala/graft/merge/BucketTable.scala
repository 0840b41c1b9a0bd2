package graft.merge

import java.io.IOException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, EqualNullSafe, EqualTo, Expression, In, InSet, IsNull, Literal, Pmod, Predicate, XxHash64}
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import MergeSink.PartCol

/** A data file of a live bucket: its name in the bucket dir, length and mtime. */
private[merge] final case class DataFile(name: String, length: Long, mtime: Long)

/** A live bucket: the version that wrote it, and its data files. */
private[merge] final case class Bucket(writer: Int, files: Seq[DataFile])

/** Committed version `version` of a [[BucketTable]]: its live buckets, and
  * the table schema (bucket column excluded). */
private[merge] final case class Manifest(version: Int, buckets: Map[Long, Bucket],
                                         schema: StructType) {
  /** First line the schema's JSON, then one `bucket,writer,length,mtime,name`
    * line per data file. */
  def text: String = (schema.json +: (for {
    (b, k) <- buckets.toSeq.sortBy(_._1); f <- k.files
  } yield s"$b,${k.writer},${f.length},${f.mtime},${f.name}")).mkString("\n")
}

/** The one commit protocol of the bucketed tables in `graft.merge`
  * ([[MergeSink]], [[IncrementalAgg]], [[VersionedSink]]), the lakehouse
  * manifest recipe (Delta/Iceberg): data files are immutable, and a
  * manifest per version pins which files that version sees.
  *
  *  - Layout: `data/__v=<n>/__part=<p>/` holds bucket `p` as version `n`
  *    wrote it, as one parquet file. `_manifests/v<n>.manifest` is
  *    committed version `n`: the table schema's JSON on the first line,
  *    then one `bucket,writer,length,mtime,name` line per data file of a
  *    live bucket — the bucket, the version that wrote it, and the file's
  *    length, modification time and name in its bucket dir. A line of any
  *    other shape fails the read of the manifest.
  *  - [[commit]]: the rewritten buckets are written into a FRESH version dir
  *    `n`, which is never a read source of its own plan, so the rows stream
  *    straight to it and an orphan of a crashed attempt is overwritten by
  *    the next commit of `n`. That dir's files are listed, then the
  *    manifest is written under a temp name and renamed in: that rename is
  *    the commit point, and a rename that reports failure throws,
  *    committing nothing.
  *  - [[scan]]: ONE parquet scan, with the manifest's schema, over a
  *    [[ManifestIndex]] of the wanted live buckets' files — the manifest is
  *    the file index, so a scan lists no dir and checks no path; a file
  *    lacking a column null-fills it. A filter on the key column with
  *    literals (`=`, `<=>`, `IN`) opens only the buckets of those keys.
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
private[merge] final class BucketTable(spark: SparkSession, tableDir: String, keyCol: String,
                                       numBuckets: Int, keepHistory: Boolean) {
  import BucketTable._

  def fs: FileSystem = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val root = fs.makeQualified(new Path(tableDir))
  private val manifestDir = new Path(root, "_manifests")
  private val dataRoot = new Path(root, "data")

  def manifestPath(v: Int): Path = new Path(manifestDir, f"v$v%05d.manifest")
  def dataDir(v: Int): Path = new Path(dataRoot, s"__v=$v")
  private def bucketDir(v: Int, b: Long): Path = new Path(dataDir(v), s"$PartCol=$b")

  /** Newest committed version; 0 = empty table. */
  def currentVersion: Int =
    if (!fs.exists(manifestDir)) 0
    else fs.listStatus(manifestDir).iterator.map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toInt }.foldLeft(0)(math.max)

  def manifest(v: Int): Manifest = {
    val path = manifestPath(v)
    val lines = readText(fs, path).split('\n')
    val files = lines.iterator.drop(1).map(line => line.split(",", 5) match {
      case Array(b, w, len, mtime, name) => (b.toLong, w.toInt, DataFile(name, len.toLong, mtime.toLong))
      case _ => throw new IOException(s"$path: malformed manifest line '$line'")
    }).toSeq
    Manifest(v, files.groupBy(_._1).map { case (b, e) => b -> Bucket(e.head._2, e.map(_._3)) },
      DataType.fromJson(lines.head).asInstanceOf[StructType])
  }

  def current: Option[Manifest] = Some(currentVersion).filter(_ > 0).map(manifest)

  /** The live ones of `buckets` as of `m`, bucket column included: one
    * scan over the files `m` lists. */
  def scan(m: Manifest, buckets: Iterable[Long]): DataFrame = {
    val parts = buckets.iterator.flatMap(b => m.buckets.get(b).map(k => b -> k.files.map(f =>
      new FileStatus(f.length, false, 0, 0, f.mtime, new Path(bucketDir(k.writer, b), f.name))))).toSeq
    val index = new ManifestIndex(root, parts, keyCol, numBuckets)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, m.schema,
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The whole table as of `m`, without the bucket column. */
  def read(m: Manifest): DataFrame = scan(m, m.buckets.keys).drop(PartCol)

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
    val written = fs.listStatus(dataDir(next)).iterator.map(s => (s.getPath, s.getPath.getName))
      .collect { case (dir, BucketName(b)) if replaced(b.toLong) =>
        b.toLong -> Bucket(next, fs.listStatus(dir).toSeq.map(s => (s, s.getPath.getName))
          .collect { case (s, name) if !name.startsWith("_") && !name.startsWith(".") =>
            DataFile(name, s.getLen, s.getModificationTime)
          })
      }
    val m = Manifest(next, prev.fold(Map.empty[Long, Bucket])(_.buckets) -- replaced ++ written,
      nullable(StructType(rows.schema.filterNot(_.name == PartCol))).asInstanceOf[StructType])
    val tmp = new Path(manifestDir, f".v$next%05d.tmp")
    writeText(fs, tmp, m.text)
    rename(fs, tmp, manifestPath(next))
    if (!keepHistory) prev.foreach { p =>
      val live = m.buckets.values.map(_.writer).toSet
      for ((b, k) <- p.buckets if live(k.writer) && !m.buckets.get(b).exists(_.writer == k.writer))
        fs.delete(bucketDir(k.writer, b), true)
      for (v <- p.buckets.values.map(_.writer).toSet + next -- live) fs.delete(dataDir(v), true)
      fs.delete(manifestPath(p.version), false)
    }
    m
  }
}

/** A Spark [[FileIndex]] over the data files a manifest lists: one
  * [[PartitionDirectory]] per live bucket in `parts`, with the bucket
  * column as its one partition column. `listFiles` applies the partition
  * filters itself (`FileSourceStrategy` does not re-apply them), and keeps
  * only the buckets of the literals that `key = lit`, `key <=> lit`,
  * `key IN (...)`, `InSet` and `key IS NULL` (what the optimizer makes of
  * `key <=> NULL`) data filters allow, each bucket computed as
  * `withPart` computes it. Only keys whose equality is bitwise prune: a
  * float key (`0.0 = -0.0`, NaNs equal) or a collated string key does not.
  */
private[merge] final class ManifestIndex(root: Path, parts: Seq[(Long, Seq[FileStatus])],
                                         keyCol: String, numBuckets: Int) extends FileIndex {
  override val partitionSchema: StructType = StructType(Seq(StructField(PartCol, LongType, false)))
  override def rootPaths: Seq[Path] = Seq(root)
  override def inputFiles: Array[String] = parts.flatMap(_._2).map(_.getPath.toString).toArray
  override def sizeInBytes: Long = parts.flatMap(_._2).map(_.getLen).sum
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val byPart = Predicate.createInterpreted(partitionFilters.reduceOption(And)
      .getOrElse(Literal.TrueLiteral).transform { case _: AttributeReference =>
        BoundReference(0, LongType, nullable = false)
      })
    val keyed = dataFilters.flatMap(keyLiterals).map(_.map(bucketOf).toSet)
    parts.collect { case (b, files) if keyed.forall(_(b)) && byPart.eval(InternalRow(b)) =>
      PartitionDirectory(InternalRow(b), files.toArray)
    }
  }

  /** The key values `f` allows, when `f` is a key lookup by literals. */
  private def keyLiterals(f: Expression): Option[Seq[Literal]] = f match {
    case EqualTo(a, l: Literal) if isKey(a, l.dataType) => Some(Seq(l))
    case EqualTo(l: Literal, a) if isKey(a, l.dataType) => Some(Seq(l))
    case EqualNullSafe(a, l: Literal) if isKey(a, l.dataType) => Some(Seq(l))
    case EqualNullSafe(l: Literal, a) if isKey(a, l.dataType) => Some(Seq(l))
    case In(a, list) if isKey(a, a.dataType) &&
        list.forall { case l: Literal => l.dataType == a.dataType; case _ => false } =>
      Some(list.map(_.asInstanceOf[Literal]))
    case InSet(a, set) if isKey(a, a.dataType) => Some(set.toSeq.map(Literal(_, a.dataType)))
    case IsNull(a) if isKey(a, a.dataType) => Some(Seq(Literal(null, a.dataType)))
    case _ => None
  }

  private def isKey(e: Expression, litType: DataType): Boolean = e match {
    case a: AttributeReference => SQLConf.get.resolver(a.name, keyCol) &&
      a.dataType == litType && bitwiseEquality(a.dataType)
    case _ => false
  }

  private def bitwiseEquality(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType |
         TimestampNTZType | BinaryType => true
    case s: StringType => s.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
    case _ => false
  }

  /** `pmod(xxhash64(key), numBuckets)`, the bucket `withPart` gives `l`. */
  private def bucketOf(l: Literal): Long =
    Pmod(new XxHash64(Seq(l)), Literal(numBuckets.toLong)).eval().asInstanceOf[Long]
}

private[merge] object BucketTable {
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
