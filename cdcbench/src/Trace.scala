package cdcbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark work of one job, summed over its tasks. */
final class JobRec(val layer: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
}

/** A `SparkListener` and a `StreamingQueryListener` the benchmark registers
  * around traced waves and reads. Jobs are attributed to a layer by the local
  * property [[Trace.LayerKey]] the benchmark sets around merge calls and
  * reads, else by the streaming query id that Spark sets on every job a
  * micro-batch runs. Registration is toggled so untraced waves of the same
  * run measure the tracing overhead. */
final class Trace(spark: SparkSession, layerOfQuery: String => String) {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val progress = new ConcurrentHashMap[(String, Long), StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val layer = prop(Trace.LayerKey)
        .orElse(prop("sql.streaming.queryId").map(layerOfQuery))
        .getOrElse("other")
      val j = new JobRec(layer, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        progress.put((e.progress.id.toString, e.progress.batchId), e.progress)
  }

  @volatile private var on = false

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Deliver every queued event before unregistering, so nothing of the
    * last traced operation is lost. */
  def disable(): Unit = if (on) {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  def jobsOf(layer: String): Seq[JobRec] = jobs.values.asScala.filter(_.layer == layer).toSeq

  /** Jobs of one layer inside a wall-clock interval. */
  def jobsIn(layer: String, fromMs: Long, toMs: Long): Seq[JobRec] =
    jobsOf(layer).filter(j => j.startMs >= fromMs && j.startMs <= toMs)
}

object Trace {
  /** Local property naming the layer that runs a job. */
  val LayerKey = "cdcbench.layer"

  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  def duration(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** Length of the union of intervals, clipped to `[from, to]`. */
  def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var end = from
    spans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Split `[from, to]` among layers listed downstream first: each instant
    * goes to the first layer with a span over it, else to the gap. The
    * parts add up to `to - from` exactly. */
  def partition(layers: Seq[(String, Seq[(Long, Long)])], from: Long,
                to: Long): Seq[(String, Long)] = {
    val owner = Array.fill(math.max(0, (to - from).toInt))("gap")
    for ((name, spans) <- layers.reverse; (a, b) <- spans;
         t <- math.max(a, from) until math.min(b, to)) owner((t - from).toInt) = name
    val counts = mutable.LinkedHashMap((layers.map(_._1) :+ "gap").map(_ -> 0L): _*)
    owner.foreach(o => counts(o) += 1)
    counts.toSeq
  }
}
