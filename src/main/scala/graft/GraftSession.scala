package graft

import org.apache.spark.sql.SparkSession

/** One place for session construction so Verify / Bench / tests / users all
  * run with the same scale-aware defaults. */
object GraftSession {

  /** Streaming state store backend. `hdfs` (default) is the in-memory
    * HDFS-backed provider — state lives on the JVM heap, fine for the
    * gate/bench corpora. `rocksdb` is the 100 TB/day production dial:
    * `RocksDBStateStoreProvider` keeps state off-heap in a local RocksDB
    * instance (bounded memory, spills to local disk) with changelog
    * checkpointing so per-batch checkpoint cost is the CHANGE volume, not
    * a full SST upload. Every stateful gate is hash-identical under both
    * (see SCALE.md) — the dial changes residency, never semantics. */
  def stateStore(b: SparkSession.Builder, backend: String): SparkSession.Builder =
    backend match {
      case "rocksdb" => b
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
      case "hdfs" => b
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STATE_STORE must be hdfs or rocksdb, got: $other")
    }

  /** Configs that must be on every session running this engine. */
  def tune(b: SparkSession.Builder, shufflePartitions: String): SparkSession.Builder = stateStore(b,
      sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs"))
    .config("spark.sql.extensions", "graft.privacy.GraftExtensions")
    .config("spark.sql.shuffle.partitions", shufflePartitions)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // explicit, though default-on: hot join keys split at runtime — the
    // skew answer for the fact-table joins at 100x scale
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // keep observed metrics (Dataset.observe / CollectMetrics) trustworthy:
    // AQE's empty-relation propagation replaces an already-executed stage
    // subtree with an empty LocalRelation when its output turns out empty,
    // and any CollectMetrics node inside the replaced subtree vanishes
    // before metric harvest — so exactly the degenerate runs that shed work
    // (e.g. the LSH hot-bucket cap dropping everything) would lose their
    // "I shed work" counters. The rule only saves skipping already-cheap
    // downstream stages of an empty intermediate; observability wins.
    .config("spark.sql.adaptive.optimizer.excludedRules",
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
    // list a table's directories on the driver, not in a Spark job: past
    // this many paths (default 32) the listing runs as a parallel job, which
    // a 64-bucket MergeSink table would start on every merge and read. Every
    // session built here is local[n], so that job would run on the driver's
    // own cores anyway and only add job scheduling; the bucket counts this
    // engine writes are at most 64, well under the bound
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    // local files through graft.util.LocalFs: the same files, modes and
    // checksums as Hadoop's, but a mode is set by a syscall, not by forking
    // a chmod process for every file, .crc sidecar and directory written
    .config("spark.hadoop.fs.file.impl", classOf[graft.util.LocalFs].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.util.LocalAbstractFs].getName)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    // events.ts is ns-precision parquet; Spark only reads NANOS as long
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // events.ts has also shipped as µs-precision WITHOUT the UTC flag, which
    // Spark 4 would infer as TIMESTAMP_NTZ — a type unix_millis/window/
    // watermark all reject. Read it as plain TimestampType instead: the
    // session tz is UTC (above) so the stored micros are interpreted
    // unchanged, and DuckDB's naive reading of the same file stays
    // hash-identical. This also covers RAW parquet reads (q120's partition
    // derivation, spec fixtures) that bypass the Tables.events seam.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            appName: String = "graft"): SparkSession = {
    val spark = tune(SparkSession.builder().master(s"local[$cores]").appName(appName), cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
