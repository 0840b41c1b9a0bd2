package graft.streaming

import graft.SparkSpec

class SinkMaintenanceSpec extends SparkSpec {

  /** The same sink addressed two ways: a plain path, and a `file:` URI
    * (`dir`, what SinkMaintenance is given) over a local path (`local`,
    * what the test inspects and stages by hand). */
  private def sinks(prefix: String): Seq[(String, String)] = {
    val plain = tmpDir(prefix) + "/sink"
    val uri = tmpDir(prefix + "-uri") + "/sink"
    Seq(plain -> plain, ("file://" + uri) -> uri)
  }

  private def partFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)

  test("compaction merges per-batch small files, preserves rows, and is idempotent") {
    val s = spark
    import s.implicits._
    for ((dir, local) <- sinks("compact")) withClue(s"$dir: ") {
      // simulate 20 micro-batch appends -> 20 small files
      for (b <- 1 to 20)
        Seq((b.toLong, s"batch-$b")).toDF("id", "tag")
          .coalesce(1).write.mode("append").parquet(dir)
      val before = spark.read.parquet(dir)
      assert(before.inputFiles.length === 20)
      val data = before.collect().map(_.toString).sorted

      val stats = SinkMaintenance.compact(spark, dir, targetFileBytes = 1024L * 1024)
      assert(stats.filesBefore === 20 && stats.filesAfter === 1 && stats.rows === 20L)
      val after = spark.read.parquet(dir)
      assert(after.inputFiles.length === 1)
      assert(partFiles(local).length === 1)
      assert(after.collect().map(_.toString).sorted === data)

      // already compact -> no-op
      val again = SinkMaintenance.compact(spark, dir, targetFileBytes = 1024L * 1024)
      assert(again.filesBefore === 1 && again.filesAfter === 1)
    }
  }

  test("a crash mid-swap never loses the sink; recovery completes the swap") {
    val s = spark
    import s.implicits._
    for ((dir, local) <- sinks("crash")) withClue(s"$dir: ") {
      for (b <- 1 to 10)
        Seq((b.toLong, s"batch-$b")).toDF("id", "tag")
          .coalesce(1).write.mode("append").parquet(dir)
      val data = spark.read.parquet(dir).collect().map(_.toString).sorted

      // simulate the crash window by hand: stage the compacted output and
      // write the manifest, as compact() does right before the swap — then
      // "die" without moving/deleting anything
      val tmp = dir + ".compact-tmp"
      val localTmp = local + ".compact-tmp"
      def stage(files: Int): (Array[java.io.File], Array[java.io.File]) = {
        spark.read.parquet(dir).repartition(files).write.mode("overwrite").parquet(tmp)
        val oldParts = partFiles(local)
        val newParts = partFiles(localTmp)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(local, SinkMaintenance.SwapManifest),
          (Seq(s"TMP $tmp") ++ newParts.map(f => s"NEW ${f.getName}")
            ++ oldParts.map(f => s"OLD ${f.getName}")).mkString("\n"))
        (oldParts, newParts)
      }
      stage(1)

      // at no point between manifest write and recovery is the data gone:
      // the old part files are all still in place
      assert(spark.read.parquet(dir).collect().map(_.toString).sorted === data)

      // next maintenance call finds the manifest and finishes the swap
      SinkMaintenance.compact(spark, dir, targetFileBytes = 1024L * 1024)
      val after = spark.read.parquet(dir)
      assert(after.inputFiles.length === 1)
      assert(after.collect().map(_.toString).sorted === data)
      assert(!new java.io.File(localTmp).exists())
      assert(!new java.io.File(local, SinkMaintenance.SwapManifest).exists())

      // and a crash AFTER some moves/deletes (partial swap) also recovers:
      // re-stage, apply half the swap by hand, leave the manifest
      val (old2, new2) = stage(2)
      // partial: first new file moved in, first old file deleted, then "crash"
      java.nio.file.Files.move(new2.head.toPath,
        java.nio.file.Paths.get(local, new2.head.getName))
      old2.head.delete()

      assert(SinkMaintenance.recoverSwap(spark, dir))
      val recovered = spark.read.parquet(dir)
      assert(recovered.collect().map(_.toString).sorted === data)
      assert(recovered.inputFiles.length === 2)
    }
  }

  test("a reader landing mid-swap sees exactly-before or exactly-after, never a mix") {
    val s = spark
    import s.implicits._
    // freeze a staged swap at EVERY point of the swap window — manifest
    // written / after each NEW move / after each OLD delete — and assert a
    // read at that point returns exactly the data (read() rolls the swap
    // forward, so each point gets its own freshly staged sink). A raw
    // directory read mid-window would double-count (old + some new) or
    // under-count; read() must never.
    val nOld = 4
    for (freezePoint <- 0 to (2 + nOld)) {
      val dir = tmpDir(s"midswap$freezePoint") + "/sink"
      for (b <- 1 to nOld)
        Seq((b.toLong, s"batch-$b")).toDF("id", "tag")
          .coalesce(1).write.mode("append").parquet(dir)
      val data = spark.read.parquet(dir).collect().map(_.toString).sorted

      val tmp = dir + ".compact-tmp"
      spark.read.parquet(dir).repartition(2).write.mode("overwrite").parquet(tmp)
      val oldParts = partFiles(dir)
      val newParts = partFiles(tmp)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, SinkMaintenance.SwapManifest),
        (Seq(s"TMP $tmp") ++ newParts.map(f => s"NEW ${f.getName}")
          ++ oldParts.map(f => s"OLD ${f.getName}")).mkString("\n"))

      // apply the first `freezePoint` steps of the swap by hand, then "crash"
      val steps: Seq[() => Unit] =
        newParts.map(f => () => { java.nio.file.Files.move(
          f.toPath, java.nio.file.Paths.get(dir, f.getName)); () }) ++
        oldParts.map(f => () => { f.delete(); () })
      steps.take(freezePoint).foreach(_.apply())

      val seen = SinkMaintenance.read(spark, dir).collect().map(_.toString).sorted
      assert(seen === data, s"freeze point $freezePoint")
      // the read rolled the swap forward: manifest gone, compacted layout
      assert(!new java.io.File(dir, SinkMaintenance.SwapManifest).exists())
      assert(spark.read.parquet(dir).inputFiles.length === 2)
    }
  }

  test("q122 gate shape: the real subscription sink compacts from >=4 micro-batch file sets") {
    // the exact flow the q122 oracle entry runs, with the compaction's
    // file accounting asserted (file counts aren't SQL-expressible, so
    // the hash gate pins rows and THIS pins the layout claim)
    val sink = graft.queries.StreamQueries.cdcPipelineSink(
      spark, "/root/testdata/sf0.001", "q122spec", maxFilesPerBatch = Some(1),
      changelogParts = Some(8), ingestMaxFiles = Some(2))
    val before = new java.io.File(sink).listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(before >= 4,
      s"one-topic-file-per-batch delivery must append >=4 file sets, got $before")
    val rows = spark.read.parquet(sink).count()
    val stats = SinkMaintenance.compact(spark, sink)
    assert(stats.filesBefore === before && stats.filesAfter < before,
      s"compaction must strictly drop file count: $stats")
    assert(stats.rows === rows && SinkMaintenance.read(spark, sink).count() === rows,
      "compaction is pure layout - row count unchanged")
  }
}
