package cdcbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Shape of one workload: a closed loop of cycles, each one wave then one
  * analyst read, by one client thread. Without a preload, every wave is a
  * bounded backfill of new keys into a new table. */
final case class Shape(
    name: String,
    preloadKeys: Int,      // keys merged into the table during set-up
    waveChanges: Int,      // changes per wave
    waveFiles: Int,        // change-log files per wave
    warmupCycles: Int,     // untimed cycles before the timed loop
    warmupReads: Int) {    // extra untimed reads: one a cycle warms reads slowly
  def backfill: Boolean = preloadKeys == 0
}

object Shape {
  val HotShare = 0.9       // share of tail changes on the hot keys
  val DeleteShare = 0.05   // share of changes to a live key that delete it
  val FilesPerBatch = 8    // micro-batch cap of every stage

  val all: Map[String, Shape] = Seq(
    Shape("backfill", 0, 48000, 24, 2, 3),
    Shape("cdc_tail", 50000, 300, 1, 4, 2))
    .map(s => s.name -> s).toMap
}

/** Runs one workload: set-up (repeated, median reported), warm-up cycles,
  * a timed closed loop, and the final check of the table against the
  * reference model. */
final class Run(spark: SparkSession, shape: Shape, seed: Long, seconds: Int,
                trace: Boolean, root: String) {
  private val HotKeys = 500
  private val setupReps = 3

  var pipe: Pipeline = _
  private var gen: Gen = _
  private var model: Model = _
  private var hot: Array[Long] = _
  private var nextKey = 1L
  private var tableNo = 0
  private var probe: Gen = _
  var tracer: Trace = _

  val waves = mutable.ArrayBuffer.empty[WaveResult]
  val reads = mutable.ArrayBuffer.empty[ReadResult]
  var failed = 0
  private var stalled = false  // a wave never became visible; stop the loop
  var envelopesIn = 0L
  var truncatedIn = 0L
  var ingestRows = 0L
  var deliveredRows = 0L
  var ingestBatches = 0L   // every wave of the current set-up, warm-up included
  var deliveredTotal = 0L

  private def layerOfQuery(id: String): String =
    Option(pipe).flatMap(p => Option(p.layerOf.get(id))).getOrElse("other")

  /** Fresh directories, generator, model, preload and long-lived queries.
    * Returns its wall seconds. */
  private def setUp(rep: Int): Double = {
    val t0 = System.nanoTime()
    val dir = s"$root/rep$rep"
    pipe = new Pipeline(spark, dir, Shape.FilesPerBatch)
    gen = new Gen(seed * 1000003L + shape.name.hashCode)
    probe = new Gen(seed * 7919L + 17)
    model = new Model
    nextKey = 1L
    ingestBatches = 0L
    deliveredTotal = 0L
    if (!shape.backfill) {
      newTable()
      val rows = (1 to shape.preloadKeys).map(i => gen.person(i.toLong))
      rows.foreach(model.put)
      nextKey = shape.preloadKeys + 1L
      pipe.preload(rows)
      hot = Array.fill(HotKeys)(1L + gen.nextInt(shape.preloadKeys))
      pipe.start()
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def newTable(): Unit = {
    tableNo += 1
    pipe.useTable(s"${pipe.root}/table-$tableNo")
  }

  private def tearDown(rep: Int): Unit = {
    pipe.stop()
    pipe = null
    Main.deleteTree(Paths.get(s"$root/rep$rep"))
  }

  private var lastChanges = 0  // changes in the latest wave

  /** One wave (or backfill episode): generate, land, drain, check counts. */
  private def wave(timed: Boolean, traced: Boolean, changes: Int): Unit = {
    lastChanges = changes
    if (shape.backfill) {
      Main.deleteTree(Paths.get(s"${pipe.root}/table-$tableNo"))
      newTable()
      model = new Model
    }
    val e0 = gen.envelopes
    val t0 = gen.truncated
    val lines = mutable.ArrayBuffer.empty[String]
    for (_ <- 0 until changes) {
      val id =
        if (shape.backfill) { nextKey += 1; nextKey - 1 }
        else if (gen.nextInt(1000) < Shape.HotShare * 1000) hot(gen.nextInt(hot.length))
        else 1L + gen.nextInt(shape.preloadKeys)
      lines += gen.change(model, id, Shape.DeleteShare)
    }
    gen.shuffle(lines)
    val per = (lines.length + shape.waveFiles - 1) / shape.waveFiles
    val files = lines.grouped(per).toSeq
    val envelopes = gen.envelopes - e0
    val truncated = gen.truncated - t0
    val published = envelopes - truncated
    val w = try pipe.wave(files, envelopes, published, traced) catch {
      case e: Exception =>
        System.err.println(s"wave not visible: $e")
        failed += 1
        stalled = true
        return
    }
    ingestBatches += w.ingest.batchIds.size
    deliveredTotal += w.delivery.rows
    if (timed) {
      waves += w
      envelopesIn += envelopes
      truncatedIn += truncated
      ingestRows += w.ingest.rows
      deliveredRows += w.delivery.rows
      if (w.ingest.rows != envelopes || w.delivery.rows != published || w.merge.rows != published) {
        System.err.println(s"wave counts: in ${w.ingest.rows}/$envelopes delivered " +
          s"${w.delivery.rows}/$published merged ${w.merge.rows}/$published")
        failed += 1
      }
    }
  }

  private def read(timed: Boolean, traced: Boolean): Unit = {
    val keys = Seq.fill(16)(
      if (shape.backfill) nextKey - 1 - probe.nextInt(lastChanges)
      else hot(probe.nextInt(hot.length)))
    val r = pipe.read(model, keys, traced)
    if (timed) {
      reads += r
      if (!r.ok) failed += 1
    }
  }

  private def cycle(timed: Boolean, traced: Boolean, changes: Int = shape.waveChanges): Unit = {
    if (traced) { tracer.enable(); pipe.traceBuckets = true }
    try {
      wave(timed, traced, changes)
      read(timed, traced)
    } finally if (traced) { tracer.disable(); pipe.traceBuckets = false }
  }

  var setupTimes: Seq[Double] = Nil
  var warmupS = 0.0
  val warmupCycleS = mutable.ArrayBuffer.empty[Double]
  var loopS = 0.0
  var gcMs = 0L
  var tableOk = false
  var tableBytes = 0L
  var liveRows = 0L
  var dlqRows = 0L

  def run(): Unit = {
    val times = mutable.ArrayBuffer.empty[Double]
    for (rep <- 1 to setupReps) {
      times += setUp(rep)
      if (rep < setupReps) tearDown(rep)
    }
    setupTimes = times.toSeq
    val w0 = System.nanoTime()
    for (i <- 0 until shape.warmupCycles if !stalled) {
      val c0 = System.nanoTime()
      // the first cycle loads classes and compiles generated code; a
      // quarter-size wave takes the same code paths in less time
      cycle(timed = false, traced = false,
        changes = if (i == 0) shape.waveChanges / 4 else shape.waveChanges)
      // extra reads early, so that the last step before timing is a whole
      // cycle, as in the timed loop
      if (i == 0) for (_ <- 0 until shape.warmupReads) read(timed = false, traced = false)
      warmupCycleS += (System.nanoTime() - c0) / 1e9
    }
    warmupS = (System.nanoTime() - w0) / 1e9
    tracer = new Trace(spark, layerOfQuery)
    val gc0 = Main.gcMs()
    val t0 = System.nanoTime()
    var c = 0
    // a traced run needs one untraced and one traced cycle
    while (!stalled && ((System.nanoTime() - t0) / 1e9 < seconds || c < (if (trace) 2 else 1))) {
      cycle(timed = true, traced = trace && c % 2 == 1)
      c += 1
    }
    loopS = (System.nanoTime() - t0) / 1e9
    gcMs = Main.gcMs() - gc0
    // every delivered batch must reach the sink: a dead letter is a failure
    dlqRows = Report.dlqRows(pipe.dlqDir)
    if (dlqRows > 0) failed += 1
    tableOk = pipe.tableMatches(model)
    tableBytes = pipe.tableBytes
    liveRows = model.live.size.toLong
  }

  def close(): Unit = if (pipe != null) pipe.stop()
}

object Main {
  def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    def need(k: String) = arg(args, k).getOrElse(sys.error(s"missing $k"))
    val shape = Shape.all.getOrElse(need("--workload"), sys.error("unknown workload"))
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toInt
    val trace = need("--trace") == "1"
    val root = need("--root")
    val out = need("--out")
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // GraftSession.local's runtime, with its warehouse and scratch dirs
    // moved under the run root
    val spark = GraftSession.tune(
        SparkSession.builder().master(s"local[$cores]").appName("cdcbench"), cores.toString)
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val parallelism = spark.sparkContext.defaultParallelism
    val run = new Run(spark, shape, seed, seconds, trace, root)
    val result = try {
      run.run()
      Report(run, sessionS, trace)
    } finally {
      run.close()
      spark.stop()
    }
    val record = Map(
      "workload" -> shape.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "default_parallelism" -> parallelism,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory())
    Files.write(Paths.get(out),
      Json(result + ("run" -> record)).getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
