package cdcbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Turns one run into its end-to-end metrics and, for a traced run, its
  * per-layer metrics, layer self times and tracing overhead. */
object Report {

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, by nearest
    * rank: the 11th largest sample. Its value is null below 21 samples,
    * where that percentile would not lie above the median. */
  def tail(xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    val i = s.length - 11
    if (s.length < 21) Map("value" -> None, "samples" -> s.length)
    else Map("value" -> s(i), "percentile" -> 100.0 * (i + 1) / s.length, "samples" -> s.length)
  }

  private def dirBytes(dir: String, suffix: String = ""): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
        .map(Files.size).sum
      finally s.close()
    }
  }

  private def fileCount(dir: String, suffix: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.list(p)
      try s.iterator().asScala.count(_.toString.endsWith(suffix)).toLong finally s.close()
    }
  }

  def dlqRows(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".json"))
        .map(f => Files.readAllLines(f).size.toLong).sum
      finally s.close()
    }
  }

  def apply(run: Run, sessionS: Double, traced: Boolean): Map[String, Any] = {
    val waves = run.waves.toSeq
    val reads = run.reads.toSeq
    val visible = waves.map(_.visibleMs)
    val readMs = reads.map(_.ms)
    val published = waves.map(_.published).sum
    val attempted = waves.length + reads.length
    val correct = run.tableOk && run.failed == 0
    val e2e = Map(
      "setup_s" -> (sessionS + median(run.setupTimes) + run.warmupS),
      "rows_per_s" -> median(waves.map(w => w.published / (w.visibleMs / 1e3))),
      "visible_p50_ms" -> median(visible),
      "read_p50_ms" -> median(readMs),
      "table_bytes_per_row" -> run.tableBytes.toDouble / math.max(1L, run.liveRows))
    val extra = Map(
      "visible_tail_ms" -> tail(visible),
      "read_tail_ms" -> tail(readMs),
      "failed_share" -> run.failed.toDouble / attempted,
      "waves" -> waves.length, "reads" -> reads.length,
      "visible_ms_each" -> visible, "read_ms_each" -> readMs,
      "changes_visible" -> published, "envelopes_in" -> run.envelopesIn,
      "truncated_in" -> run.truncatedIn, "dlq_rows" -> run.dlqRows, "loop_s" -> run.loopS,
      "session_s" -> sessionS, "setup_reps_s" -> run.setupTimes, "warmup_s" -> run.warmupS,
      "warmup_cycles_s" -> run.warmupCycleS.toSeq,
      "table_matches_model" -> run.tableOk)
    val base = Map[String, Any]("correct" -> correct, "attempted" -> attempted,
      "failed" -> run.failed, "end_to_end" -> e2e, "end_to_end_detail" -> extra)
    if (!traced) base else base ++ layers(run, waves, reads)
  }

  private def layers(run: Run, waves: Seq[WaveResult], reads: Seq[ReadResult]): Map[String, Any] = {
    val t = run.tracer
    val pipe = run.pipe
    val tw = waves.filter(_.traced)
    val tr = reads.filter(_.traced)
    def prog(b: StageBatches): Seq[StreamingQueryProgress] =
      b.batchIds.flatMap(id => Option(t.progress.get((b.queryId, id))))
    val ingestP = tw.flatMap(w => prog(w.ingest))
    val deliveryP = tw.flatMap(w => prog(w.delivery))
    def dur(ps: Seq[StreamingQueryProgress], keys: String*) =
      median(ps.map(p => keys.map(Trace.duration(p, _)).sum.toDouble))
    def per(n: Double, d: Double) = if (d > 0) n / d else 0.0
    val ingestJobs = t.jobsOf("ingest")
    val deliveryJobs = t.jobsOf("delivery")
    val mergeJobs = t.jobsOf("merge")
    val readJobs = t.jobsOf("read")
    val calls = tw.flatMap(_.calls)
    def gap(fromMs: Long, toMs: Long, layer: String) =
      (toMs - fromMs) - Trace.covered(
        t.jobsIn(layer, fromMs, toMs).map(j => (j.startMs, j.endMs)), fromMs, toMs)
    val allJobs = t.jobs.values.asScala.toSeq
    val ops = math.max(1, waves.length + reads.length)

    // each traced wave's latency split among the layers holding it up,
    // downstream first: the merge call, the rest of the merge query's
    // batch, delivery batches, ingest batches, and the gap between them
    def spans(ps: Seq[StreamingQueryProgress]) = ps.map { p =>
      val s = Trace.startMs(p); (s, s + Trace.duration(p, "triggerExecution"))
    }
    val splits = tw.map { w =>
      val end = w.landMs + math.round(w.visibleMs)
      val parts = Trace.partition(Seq(
        "merge" -> (w.calls.map(c => (c.startMs, c.endMs)) ++ spans(prog(w.merge))),
        "delivery" -> spans(prog(w.delivery)),
        "ingest" -> spans(prog(w.ingest))), w.landMs, end).toMap
      Map("visible_ms" -> w.visibleMs) ++ parts.map { case (k, v) => s"${k}_ms" -> v.toDouble }
    }
    def split(k: String) = median(splits.map(_(k).asInstanceOf[Double]))
    val medianWave = splits.sortBy(_("visible_ms").asInstanceOf[Double]).lift(splits.length / 2)

    val untracedVisible = median(waves.filterNot(_.traced).map(_.visibleMs))
    val untracedRead = median(reads.filterNot(_.traced).map(_.ms))
    val perLayer = Map[String, Double](
      "ingest.batch_ms" -> dur(ingestP, "triggerExecution"),
      "ingest.commit_ms" -> dur(ingestP, "walCommit", "commitOffsets"),
      "ingest.plan_ms" -> dur(ingestP, "queryPlanning"),
      "ingest.add_batch_ms" -> dur(ingestP, "addBatch"),
      "ingest.jobs_per_batch" -> per(ingestJobs.size, ingestP.size),
      "ingest.cpu_us_per_row" -> per(ingestJobs.map(_.cpuNs).sum / 1e3, ingestP.map(_.numInputRows).sum),
      "ingest.rows_unpublished" -> (run.ingestRows - run.deliveredRows).toDouble,
      "topic.bytes_per_row" -> per(dirBytes(pipe.topicDir, ".json"), run.deliveredTotal),
      "topic.files_per_batch" -> per(fileCount(pipe.topicDir, ".json"), run.ingestBatches),
      "delivery.batch_ms" -> dur(deliveryP, "triggerExecution"),
      "delivery.commit_ms" -> dur(deliveryP, "walCommit", "commitOffsets"),
      "delivery.add_batch_ms" -> dur(deliveryP, "addBatch"),
      "delivery.jobs_per_batch" -> per(deliveryJobs.size, deliveryP.size),
      "delivery.cpu_us_per_row" -> per(deliveryJobs.map(_.cpuNs).sum / 1e3, deliveryP.map(_.numInputRows).sum),
      "delivery.dlq_rows" -> run.dlqRows.toDouble,
      "merge.call_ms" -> median(calls.map(_.ms)),
      "merge.jobs_per_call" -> per(mergeJobs.size, calls.size),
      "merge.gap_ms" -> median(calls.map(c => gap(c.startMs, c.endMs, "merge").toDouble)),
      "merge.buckets_touched" -> median(calls.map(_.bucketsTouched.toDouble)),
      "merge.write_amp" -> per(mergeJobs.map(_.outBytes).sum, deliveryJobs.map(_.outBytes).sum),
      "merge.shuffle_bytes" -> per(mergeJobs.map(_.shuffleBytes).sum, calls.size),
      "merge.cpu_ms" -> per(mergeJobs.map(_.cpuNs).sum / 1e6, calls.size),
      "read.point_ms" -> median(tr.map(_.pointMs)),
      "read.agg_ms" -> median(tr.map(_.aggMs)),
      "read.jobs_per_read" -> per(readJobs.size, tr.size),
      "read.gap_ms" -> median(tr.map(r => gap(r.startMs, r.endMs, "read").toDouble)),
      "read.files" -> median(reads.map(_.files.toDouble)),
      "spark.gc_ms" -> run.gcMs.toDouble / ops,
      "spark.spill_bytes" -> allJobs.map(_.spillBytes).sum.toDouble,
      "ckpt.bytes" -> pipe.checkpoints.map(dirBytes(_)).sum.toDouble,
      "ingest.self_ms" -> split("ingest_ms"),
      "delivery.self_ms" -> split("delivery_ms"),
      "merge.self_ms" -> split("merge_ms"),
      "wave.gap_ms" -> split("gap_ms"),
      "trace.overhead_ms" -> (median(tw.map(_.visibleMs)) - untracedVisible),
      "trace.read_overhead_ms" -> (median(tr.map(_.ms)) - untracedRead))
    Map("per_layer" -> perLayer,
      "per_layer_detail" -> Map(
        "traced_waves" -> tw.length, "traced_reads" -> tr.length,
        "untraced_visible_p50_ms" -> untracedVisible,
        "traced_visible_p50_ms" -> median(tw.map(_.visibleMs)),
        "untraced_read_p50_ms" -> untracedRead,
        "traced_read_p50_ms" -> median(tr.map(_.ms)),
        "median_wave_split_ms" -> medianWave,
        "wave_splits_ms" -> splits,
        "jobs_by_layer" -> allJobs.groupBy(_.layer).map { case (k, v) => k -> v.size }))
  }
}
