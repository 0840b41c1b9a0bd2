package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every query receives the scale-factor directory at call time, so the same
  * plan runs unchanged from sf0.001 (smoke) to a 100 TB production layout —
  * only the path (and therefore file/partition count) changes. No caching at
  * this layer: Spark's vectorized parquet reader + column pruning makes
  * re-scans cheap, and caching 100 TB is not an option anyway.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped in two encodings across testdata generations
    * and the loader must normalize BOTH to plain TimestampType:
    *
    *  - NANOS-precision parquet, which Spark's reader only accepts as a raw
    *    long (`spark.sql.legacy.parquet.nanosAsLong=true`, set in
    *    [[graft.GraftSession]]). Convert ns→µs with integer division (NOT
    *    float division — int64 ns exceeds double's 2^53 exact range).
    *  - µs-precision WITHOUT the UTC flag, which Spark 4 infers as
    *    TIMESTAMP_NTZ (rejected by unix_millis / window / watermark).
    *    [[GraftSession.tune]] disables that inference session-wide, but a
    *    caller-supplied session may not have it — cast defensively here.
    *    The cast reinterprets wall-clock micros in the SESSION timezone, so
    *    it only matches DuckDB's naive/UTC reading when that tz is UTC;
    *    rather than silently shift values for a non-UTC caller (the exact
    *    case this branch exists for), require UTC loudly. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        val tz = s.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ on disk; the reinterpreting cast is only " +
            s"value-preserving under spark.sql.session.timeZone=UTC, got $tz")
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Conditional post-scan fan-out for map-heavy first stages (optimization
    * guide §2.5 input skew / §2.6 idle capacity). The gate corpora ship as
    * ONE parquet row group per table, so a scan — and every per-row
    * expression codegen-fused into it (hashing, tokenization, ×B explodes)
    * — runs as a SINGLE task regardless of session cores: parquet splits
    * are byte ranges but a row group executes wholly in the split holding
    * its midpoint, so a 1-row-group file is 1 working task. Where the
    * per-row work above the first exchange is the measured cost, spread
    * the rows by hash-repartitioning on a high-cardinality key to the
    * session's default parallelism — but ONLY when the scan itself cannot
    * feed that many tasks. On a production layout (100 TB = thousands of
    * row groups/files) the condition is false and this is a no-op:
    * scale-adaptive, never a local-mode constant. Hash (not round-robin)
    * keeps the row→partition map deterministic under task retry
    * (SPARK-38388) and skips round-robin's sort-before-repartition. Apply
    * only where measured — a pure scan pays the exchange for nothing. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, key) else df
  }

  /** Register all tables as temp views so `spark.sql` text queries resolve. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
