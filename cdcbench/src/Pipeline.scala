package cdcbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.merge.MergeSink
import graft.schema.SchemaRegistry
import graft.streaming.{CdcIngest, DeliveryPolicy, Subscription, Topic}

/** One merge call, timed by the benchmark's own foreachBatch. */
final case class MergeCall(startMs: Long, endMs: Long, ms: Double, bucketsTouched: Int)

/** The batch ids a stage ran while one wave went through it. */
final case class StageBatches(queryId: String, batchIds: Seq[Long], rows: Long)

/** One wave or backfill episode, from its change-log files landing until the
  * merge holding its last change returned. */
final case class WaveResult(landMs: Long, visibleMs: Double, published: Long,
                            ingest: StageBatches, delivery: StageBatches,
                            merge: StageBatches, calls: Seq[MergeCall], traced: Boolean)

/** One analyst read: `MergeSink.read()`, a point lookup of hot keys and a
  * grouped aggregate over the whole table. */
final case class ReadResult(startMs: Long, endMs: Long, ms: Double, pointMs: Double,
                            aggMs: Double, files: Int, ok: Boolean, traced: Boolean)

/** The paper's pipeline wired through its public entry points only:
  * `CdcIngest.start` publishes to a `Topic`, `Subscription.deliverTo`
  * appends conformed rows to a parquet sink, and this class's own
  * `foreachBatch` over a parquet stream of that sink calls
  * `MergeSink.merge`. Either the three queries are long-lived, poll
  * continuously and each stage of a wave is driven by `processAllAvailable`,
  * or each wave is a bounded backfill: every stage in turn drains its input
  * in capped micro-batches under an `AvailableNow` trigger. */
final class Pipeline(spark: SparkSession, val root: String, filesPerBatch: Int) {
  val changelog = s"$root/changelog"
  private val stage = s"$root/stage"
  val topicDir = s"$root/topic"
  val sinkDir = s"$root/sink"
  val dlqDir = s"$root/dlq"
  val checkpoints: Seq[String] = Seq("ingest", "delivery", "merge").map(n => s"$root/ckpt-$n")
  Seq(changelog, stage, topicDir, sinkDir).foreach(d => Files.createDirectories(Paths.get(d)))

  private val topic = new Topic(spark, "people", topicDir,
    new SchemaRegistry().register("people", Schemas.topic))

  @volatile private var table: String = _
  @volatile private var sink: MergeSink = _
  @volatile var traceBuckets = false
  @volatile private var lastMergeEndNanos = 0L
  private val calls = mutable.ArrayBuffer.empty[MergeCall]

  /** Point the merge at a table directory; only between waves. */
  def useTable(dir: String): MergeSink = {
    table = dir
    sink = new MergeSink(spark, dir, "id", Seq("updated_ms", "seq"), 64, Some("__deleted"))
    sink
  }

  var ingest: StreamingQuery = _
  var delivery: StreamingQuery = _
  var merger: StreamingQuery = _
  def queries: Seq[StreamingQuery] = Seq(ingest, delivery, merger).filter(_ != null)
  /** Streaming query id to layer name; ids survive restarts from a checkpoint. */
  val layerOf = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def track(q: StreamingQuery, layer: String): StreamingQuery = {
    layerOf.put(q.id.toString, layer)
    q
  }

  private def startIngest(t: Trigger) = track(CdcIngest.start(spark, changelog, Schemas.row,
    "inventory", "people", Seq("id"), topic, checkpoints(0), t,
    maxFilesPerBatch = Some(filesPerBatch)), "ingest")

  private def startDelivery(t: Trigger) = track(new Subscription("people-sink", topic,
      checkpoints(1), DeliveryPolicy(maxDeliveryAttempts = 2, minBackoffMs = 100L))
    .deliverTo(sinkDir, Schemas.topic, () => Schemas.sink, dlqDir, t,
      maxFilesPerBatch = Some(filesPerBatch)), "delivery")

  private def startMerge(t: Trigger) = track(spark.readStream.schema(Schemas.sink)
    .option("maxFilesPerTrigger", filesPerBatch.toLong)
    .parquet(sinkDir)
    .writeStream.queryName("people-merge")
    .option("checkpointLocation", checkpoints(2))
    .trigger(t)
    .foreachBatch { (batch: DataFrame, _: Long) => mergeBatch(batch) }
    .start(), "merge-stream")

  /** Start the three long-lived queries, polling continuously. */
  def start(): Unit = {
    val poll = Trigger.ProcessingTime(0L)
    ingest = startIngest(poll)
    delivery = startDelivery(poll)
    merger = startMerge(poll)
  }

  private def mergeBatch(batch: DataFrame): Unit = {
    val sc = spark.sparkContext
    val before = if (traceBuckets) Layout.buckets(table) else Map.empty[String, Set[String]]
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    sc.setLocalProperty(Trace.LayerKey, "merge")
    try sink.merge(batch) finally sc.setLocalProperty(Trace.LayerKey, null)
    val n1 = System.nanoTime()
    val t1 = System.currentTimeMillis()
    lastMergeEndNanos = n1
    val touched = if (traceBuckets) Layout.replaced(before, Layout.buckets(table)) else 0
    calls.synchronized { calls += MergeCall(t0, t1, (n1 - n0) / 1e6, touched) }
  }

  def stop(): Unit = queries.foreach(q => try q.stop() catch { case _: Exception => () })

  private val counted = mutable.Map.empty[String, mutable.Set[Long]]

  /** Drive one stage until it has consumed `rows` more input rows, by
    * `processAllAvailable` (a file source can report "no new data" for a
    * listing taken just before a file landed, so one call is not proof). */
  private def drain(q: StreamingQuery, rows: Long, deadlineNanos: Long): StageBatches = {
    val id = q.id.toString
    val done = counted.getOrElseUpdate(id, mutable.Set.empty[Long])
    var seen = 0L
    val ids = mutable.ArrayBuffer.empty[Long]
    while (seen < rows) {
      if (System.nanoTime() > deadlineNanos)
        throw new IllegalStateException(s"${q.name} consumed $seen of $rows rows before the deadline")
      q.processAllAvailable()
      q.recentProgress.filter(p => p.numInputRows > 0 && done.add(p.batchId)).foreach { p =>
        seen += p.numInputRows
        ids += p.batchId
      }
    }
    StageBatches(id, ids.toSeq, seen)
  }

  /** Run one stage as a bounded job: start it from its checkpoint with an
    * `AvailableNow` trigger and wait until it has drained its input. */
  private def bounded(start: Trigger => StreamingQuery, timeoutS: Int): StageBatches = {
    val q = start(Trigger.AvailableNow())
    try {
      if (!q.awaitTermination(timeoutS * 1000L))
        throw new IllegalStateException(s"${q.name} did not drain within $timeoutS s")
    } finally q.stop()
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    StageBatches(q.id.toString, ps.map(_.batchId).toSeq, ps.map(_.numInputRows).sum)
  }

  private var fileNo = 0

  /** Land change-log files by atomic rename, then take them through every
    * stage until merged: the long-lived queries when started, else one
    * bounded drain per stage in turn. `envelopes` went in, `published`
    * survive ingest. */
  def wave(files: Seq[Iterable[String]], envelopes: Long, published: Long,
           traced: Boolean, timeoutS: Int = 60): WaveResult = {
    val staged = files.map { lines =>
      fileNo += 1
      val p = Paths.get(stage, f"wave-$fileNo%06d.json")
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      p
    }
    val callsBefore = calls.synchronized(calls.length)
    staged.foreach(p => Files.move(p, Paths.get(changelog, p.getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE))
    val landNanos = System.nanoTime()
    val landMs = System.currentTimeMillis()
    val deadline = landNanos + timeoutS * 1000000000L
    val (i, d, m) =
      if (ingest != null)
        (drain(ingest, envelopes, deadline), drain(delivery, published, deadline),
          drain(merger, published, deadline))
      else
        (bounded(startIngest, timeoutS), bounded(startDelivery, timeoutS),
          bounded(startMerge, timeoutS))
    val waveCalls = calls.synchronized(calls.drop(callsBefore).toSeq)
    WaveResult(landMs, (lastMergeEndNanos - landNanos) / 1e6, published, i, d, m, waveCalls, traced)
  }

  /** Publish a snapshot straight into the merged table (set-up preload). */
  def preload(rows: Seq[Person]): Unit = {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(Pipeline.sinkRow): _*), Schemas.sink)
    sink.merge(df)
  }

  /** One analyst read, checked against the model. */
  def read(model: Model, hot: Seq[Long], traced: Boolean): ReadResult = {
    val sc = spark.sparkContext
    val files = Layout.parquetFiles(table)
    sc.setLocalProperty(Trace.LayerKey, "read")
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val t = sink.read()
      val point = t.filter(col("id").isin(hot: _*)).collect()
      val n1 = System.nanoTime()
      val agg = t.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("amount").as("amount")).collect()
      val n2 = System.nanoTime()
      val ok = Pipeline.pointOk(model, hot, point) && Pipeline.aggOk(model, agg)
      ReadResult(t0, System.currentTimeMillis(), (n2 - n0) / 1e6, (n1 - n0) / 1e6,
        (n2 - n1) / 1e6, files, ok, traced)
    } catch {
      case e: Exception =>
        System.err.println(s"read failed: $e")
        ReadResult(t0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e6,
          0, 0, files, ok = false, traced)
    } finally sc.setLocalProperty(Trace.LayerKey, null)
  }

  /** The whole table through `MergeSink.read()` equals the model. */
  def tableMatches(model: Model): Boolean = {
    val t = sink.read()
    if (t.columns.toSet != Schemas.sink.fieldNames.toSet) {
      System.err.println(s"table columns ${t.columns.mkString(",")} differ from the sink schema")
      return false
    }
    val rows = t.collect()
    val bad = rows.count(r => !model.live.get(r.getAs[Long]("id")).exists(Pipeline.rowMatches(r, _)))
    if (rows.length != model.live.size || bad > 0) {
      System.err.println(s"table has ${rows.length} rows ($bad wrong), model has ${model.live.size}")
      false
    } else true
  }

  def tableBytes: Long = Layout.bytes(table)
}

object Pipeline {
  def sinkRow(p: Person): Row =
    Row(p.id, p.grp, p.amount, p.note, p.updatedMs, p.seq, "false", null)

  def rowMatches(r: Row, p: Person): Boolean =
    r.getAs[Long]("id") == p.id && r.getAs[Int]("grp") == p.grp &&
      r.getAs[Long]("amount") == p.amount && r.getAs[String]("note") == p.note &&
      r.getAs[Long]("updated_ms") == p.updatedMs && r.getAs[Long]("seq") == p.seq &&
      r.getAs[String]("__deleted") == "false" && r.isNullAt(r.fieldIndex("age"))

  def pointOk(model: Model, hot: Seq[Long], rows: Array[Row]): Boolean = {
    val got = rows.map(r => r.getAs[Long]("id") -> r).toMap
    got.size == rows.length && hot.distinct.forall { id =>
      (got.get(id), model.live.get(id)) match {
        case (None, None) => true
        case (Some(r), Some(p)) => rowMatches(r, p)
        case _ => false
      }
    }
  }

  def aggOk(model: Model, rows: Array[Row]): Boolean = {
    val want = (0 until Schemas.Groups).filter(model.grpCount(_) > 0)
      .map(g => g -> (model.grpCount(g), model.grpSum(g))).toMap
    val got = rows.map(r => r.getAs[Int]("grp") -> (r.getAs[Long]("n"), r.getAs[Long]("amount"))).toMap
    got == want
  }
}

/** Listings of the merged table's bucket directories. */
object Layout {
  import scala.jdk.CollectionConverters._

  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Nil
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  def bytes(dir: String): Long = walk(dir).map(Files.size).sum

  def parquetFiles(dir: String): Int = walk(dir).count(_.toString.endsWith(".parquet"))

  /** Bucket directory name to the data file names it holds. */
  def buckets(dir: String): Map[String, Set[String]] =
    walk(dir).filter(_.toString.endsWith(".parquet"))
      .groupBy(_.getParent.getFileName.toString)
      .map { case (b, fs) => b -> fs.map(_.getFileName.toString).toSet }

  def replaced(before: Map[String, Set[String]], after: Map[String, Set[String]]): Int =
    (before.keySet ++ after.keySet).count(b => before.get(b) != after.get(b))
}
