package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Multimodal-column query surface (oracle-checkable slice): binary content
  * + metadata column algebra. The partition-batched stub-decode path lives
  * in [[graft.multimodal.Multimodal]] (mapPartitions is not
  * SQL-expressible, so it is covered by unit tests instead of the oracle).
  */
object MultimodalQueries {

  /** q28_media_meta — media table synthesized from documents (text bytes as
    * opaque content), then pure binary/metadata column algebra: byte
    * length, content digest, stub "dimensions". Everything here runs in one
    * codegen pass over the scan — the shape a metadata-pruning pass over
    * 100 TB of media has (never decode to answer metadata queries). */
  def q28MediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".as("media_id"),
        $"text".cast("binary").as("content"),
        $"source")
      .select(
        $"media_id",
        concat(lit("img-"), $"source").as("kind"),
        length($"content").cast("long").as("n_bytes"),
        md5($"content").as("content_md5"),
        (length($"content") % 640 + 1).cast("int").as("width"),
        (length($"content") % 480 + 1).cast("int").as("height"))
      .orderBy($"media_id")
  }

  val q28Sql: String =
    """SELECT doc_id AS media_id,
      |  'img-' || source AS kind,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5,
      |  CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
      |  CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height
      |FROM documents
      |ORDER BY media_id""".stripMargin

  /** q29_clustered_scan — O21 end to end: clustered bulk load of lineitem
    * (repartition + sortWithinPartitions on the cluster key), then a
    * key-range scan against the clustered table. The sorted layout gives
    * parquet row-group min/max pruning on exactly this predicate shape; the
    * oracle runs the same range scan on the raw table — identical rows
    * prove the load was lossless. */
  def q29ClusteredScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sql.CleanRoom.loadClustered(
      s, s"$dir/lineitem.parquet", "q29_lineitem_clustered", "l_orderkey")
    s.table("q29_lineitem_clustered")
      .filter($"l_orderkey" >= 100 && $"l_orderkey" <= 200)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q29Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE l_orderkey BETWEEN 100 AND 200
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q60_zorder_scan — multi-dimensional clustering end to end: bulk load
    * lineitem Z-ORDERED on (l_orderkey, l_partkey)
    * ([[graft.sql.CleanRoom.loadZOrdered]]), then a two-dimensional range
    * scan against the clustered table. Because the Morton sort makes every
    * file cover a small range of BOTH keys, parquet min/max stats prune
    * this predicate shape on either column — where q29's linear clustering
    * only ever prunes its one leading key. The oracle runs the same 2-D
    * range scan on the raw table: identical rows prove the z layout is a
    * pure reorganization. ZOrderSpec measures the pruning claim (scan rows
    * under a trailing-key predicate: z-layout ≪ linear layout); PlanSpec
    * pins both predicates pushed to the scan. */
  def q60ZOrderScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sql.CleanRoom.loadZOrdered(
      s, s"$dir/lineitem.parquet", "q60_lineitem_zorder",
      "l_orderkey", "l_partkey", numFiles = 32)
    s.table("q60_lineitem_zorder")
      .filter($"l_orderkey".between(1, 3000) && $"l_partkey".between(1, 150))
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic corpus and
      // the z-rewrite destroys source order, so the sort must be total over
      // every emitted column for the row-order-strict compare
      .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
  }

  val q60Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE l_orderkey BETWEEN 1 AND 3000 AND l_partkey BETWEEN 1 AND 150
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin

  /** q69_bucketed_join — co-located join via bucketing, end to end: load
    * customer and orders into 8-bucket tables hashed on the join key
    * ([[graft.sql.CleanRoom.loadBucketed]]), then join + aggregate. The
    * bucket layout carries the hash distribution in table metadata, so the
    * join runs with NO exchange on either side — the shuffle was paid once
    * at load, and every subsequent custkey-join against either table rides
    * it free. PlanSpec pins the no-exchange claim with auto-broadcast
    * disabled (the 100 TB shape — nothing looks broadcastable there).
    * Revenue sums ride the scale-2 integer grid (exact under any partial-
    * aggregation order). The oracle runs the same join on the raw tables:
    * identical results prove bucketing is pure layout, not semantics. */
  def q69BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sql.CleanRoom.loadBucketed(
      s, s"$dir/customer.parquet", "q69_customer_bkt", "c_custkey", 8)
    graft.sql.CleanRoom.loadBucketed(
      s, s"$dir/orders.parquet", "q69_orders_bkt", "o_custkey", 8)
    s.table("q69_customer_bkt")
      .join(s.table("q69_orders_bkt"), $"c_custkey" === $"o_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Grid.sum2($"o_totalprice").as("revenue"))
      .orderBy($"c_mktsegment")
  }

  val q69Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  (CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q120_partition_prune — directory-partition pruning end to end: bulk
    * load events partitioned on a derived `day` column
    * ([[graft.sql.CleanRoom.loadPartitioned]]), then a 7-day range
    * aggregate against the partitioned table. The day predicate is a
    * PARTITION filter — whole directories are eliminated at plan time
    * (PartitionFilters in the scan, pinned by PlanSpec together with a
    * files-read < total-files metric check), before a single row group is
    * opened. This is the #1 scan lever at 100 TB: q29/q60 skip row groups
    * WITHIN files via min/max stats, bucketing (q69) pre-pays the join
    * exchange — partition elimination skips the files themselves, so a
    * day-range query over years of data touches only its days' directories.
    * The oracle runs the same range aggregate over the raw table: layout
    * is pure reorganization (q60's recipe). Counts and the grid sum are
    * partition-order-independent; `day` exports as its ISO string (q94's
    * DATE convention). */
  def q120PartitionPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the raw read bypasses Tables.events, so the partition derivation must
    // dispatch on the shipped encoding exactly as that loader does: nanos
    // land as long (nanosAsLong), µs as timestamp (inferTimestampNTZ off) —
    // either way the derived civil day matches Tables.events + to_date
    val tsIsLong = s.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
    val dayExpr =
      if (tsIsLong) expr("to_date(timestamp_micros(ts div 1000))")
      else expr("to_date(cast(ts as timestamp))")
    graft.sql.CleanRoom.loadPartitioned(
      s, s"$dir/events.parquet", "q120_events_daypart", dayExpr, "day")
    s.table("q120_events_daypart")
      .filter($"day".between(lit("2024-01-08").cast("date"),
                             lit("2024-01-14").cast("date")))
      .groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n"),
        graft.functions.Grid.sum2($"value").as("sum_value"))
      .select($"day".cast("string").as("day"), $"event_type", $"n", $"sum_value")
      .orderBy($"day", $"event_type")
  }

  val q120Sql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
      |  count(*) AS n,
      |  (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  // ---------------------------------------------------------------- q84

  /** q84_frame_sample — frame sampling under the oracle gate: the REAL
    * [[graft.multimodal.Multimodal.sampleFrames]] pass (every 4th 64-byte
    * window of each media object's content as one frame row — the stub
    * stand-in for every-k-th-video-frame extraction) over the synthesized
    * media table, exporting per frame its index, byte length and content
    * digest. q28 gates the metadata pass; this gates the CONTENT
    * windowing: offsets, tail-frame truncation, empty-content elision and
    * the bytes themselves (via md5) all hash-checked. The oracle replays
    * the windows with VARCHAR substrings — byte-identical on this ASCII
    * corpus (the q28 digest convention; a multi-byte corpus would need the
    * BLOB path and the gate would catch the divergence).
    *
    * Scale shape: flatMap row → its own frames only (distributed explode,
    * no driver collects, no shuffle before the output sort); frame count
    * is content-proportional and each frame carries ≤ 64 bytes + fixed
    * columns. A real codec swaps into the same per-partition batch shape
    * ([[graft.multimodal.Multimodal.StubCodec]]'s documented seam). */
  def q84FrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.multimodal.Multimodal.fromDocuments(
      s, Tables.documents(s, dir))
    graft.multimodal.Multimodal.sampleFrames(media, frameBytes = 64, everyK = 4)
      .select($"media_id", $"frame_idx",
        length($"frame").cast("long").as("n_frame_bytes"),
        md5($"frame").as("frame_md5"))
      .orderBy($"media_id", $"frame_idx")
  }

  val q84Sql: String =
    """SELECT doc_id AS media_id, CAST(u.i AS BIGINT) AS frame_idx,
      |  CAST(len(substring(text, CAST(u.i * 64 + 1 AS INT), 64)) AS BIGINT)
      |    AS n_frame_bytes,
      |  md5(substring(text, CAST(u.i * 64 + 1 AS INT), 64)) AS frame_md5
      |FROM documents,
      |  UNNEST(range(0, (len(text) + 63) // 64)) AS u(i)
      |WHERE u.i % 4 = 0
      |ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- q127

  /** q127_image_neardup — perceptual-hash image near-dup, completing the
    * multimodal family (metadata q28, content windowing q84, now content
    * near-dup): 64-bit aHash/dHash over each media object's stub-decoded
    * thumbnail ([[graft.functions.expressions.PerceptualHash]] — integer
    * average-pool into 64 cells; the public aHash/dHash recipe with the
    * byte stream standing in for decoded pixels), 4×16-bit band blocking
    * (q119's SimHash discipline — candidates ONLY from equal band buckets,
    * never all pairs), Hamming verify at τ = 6.
    *
    * Fixture: each qualifying document yields THREE media rows via
    * [[graft.functions.expressions.MediaRendition]] — the original, a
    * re-exposure (every byte +1; aHash/dHash are EXACTLY invariant: pooled
    * values and threshold shift together), and a quantization-noise
    * re-encode (+1 every 16th byte; lands a small nonzero Hamming away).
    * The gate therefore checks, at every SF: exact hash computation (a
    * one-bit error splits every rendition pair), the invariance property
    * (ham_a = 0 for all re-exposure pairs), band-blocking replay, and the
    * Hamming arithmetic (ham_d exported unfiltered as the dHash witness).
    *
    * Scale shape: hashes are one codegen pass over the scan (no decode —
    * 64 longs of state per row); banding emits 64/bandBits int rows per
    * media object; the band self-join shuffles only (band_idx, band_val,
    * ids, hashes) — expected bucket population N/2^bandBits per band, the
    * same corpus-growing blocking-cardinality story as q119: a FIXED band
    * width means bucket populations grow with the corpus and the Σ pop²
    * pair space outruns it (the r17 family sweep measured the 16-bit gate
    * geometry super-proportional at ×100 — see SCALE.md). The scale path
    * is the scaladoc's own prescription made CODE (r18): the entry runs
    * [[imageNearDupAuto]], which derives the band width from the guard's
    * own pre-agg — narrowest geometry whose band-pair rows/media clears
    * the cap, so the 16-bit gate geometry self-widens to the measured
    * scale-safe 32-bit path at the corpus where fixed bands went
    * super-proportional. Pigeonhole: ham ≤ (64/bandBits − 1) is GUARANTEED
    * a shared band; beyond that recall is the standard LSH band trade —
    * widening bands trades guaranteed-recall radius for bucket sparsity,
    * exactly like raising MinHash band size. A pair-volume guard runs BY
    * DEFAULT ([[ImageNearDupGuardPairsPerMedia]] candidate band-pair ROWS
    * per media row): one cheap pre-agg computes Σ pop·(pop−1)/2 over the
    * band buckets and fails loudly — naming the ratio, the hottest bucket
    * and the remedy — before the join can run quadratically. When EVERY
    * width trips, pair enumeration is quadratic in duplicate-class size by
    * definition and the guard steers to [[imageNearDupVerdicts]] (q271),
    * whose output is one verdict per media row at any duplicate density.
    * `spark.graft.imageneardup.maxPairsPerMedia` overrides; ≤ 0 disables.
    * Bytes ≥ 0xff would wrap (`& 0xff`) where the oracle's codepoint
    * arithmetic doesn't — ASCII-corpus precondition, as q84. */
  def q127ImageNearDup(s: SparkSession, dir: String): DataFrame =
    imageNearDupAuto(s, dir)

  /** Candidate band-pair ROWS per media row above which the near-dup
    * guards trip. "Rows" is the join-work metric, not distinct pairs: the
    * pre-agg counts the band join's input BEFORE the distinct, so a pair
    * sharing every band counts 64/bandBits times (an exact-hash dup counts
    * 4 at 16-bit) — it is the quantity that prices the shuffle. Gate
    * reality (measured r17): the 16-bit geometry reads ~2–4 rows/media at
    * the gate SFs; the cap leaves ~16× headroom for dup-dense corpora
    * while catching the ×100 blowup (hundreds+). */
  val ImageNearDupGuardPairsPerMedia = 64L

  /** Band widths [[imageNearDupAuto]] tries, narrowest (best guaranteed-
    * recall radius) first. 8-bit is never auto-picked: any corpus where
    * 16-bit overflows drowns a 256-value vocabulary outright. */
  private val AutoBandWidths = Seq(16, 32)

  private val NearDupCapKey = "spark.graft.imageneardup.maxPairsPerMedia"

  private def nearDupCap(s: SparkSession): Long =
    s.conf.getOption(NearDupCapKey) match {
      case Some(v) =>
        try v.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$NearDupCapKey must be a long (<= 0 disables the guard), got '$v'")
        }
      case None => ImageNearDupGuardPairsPerMedia
    }

  /** The q127 near-dup with the band width DERIVED from the corpus: the
    * guard's pre-agg is consulted at each width in [[AutoBandWidths]] and
    * the first geometry that clears the cap runs, choice logged — the
    * scaladoc's "widen bands with log N" rule executed by the operator
    * itself instead of demanded of the caller. The hash relation is
    * computed ONCE and persisted (MEMORY_AND_DISK; 24 bytes of state per
    * media row) so the width probes and the final join share one
    * rendition+hash scan — the r17 double-pass is gone. A disabled cap
    * (≤ 0) short-circuits to the unguarded gate geometry: no probe data
    * to pick a width with.
    *
    * Cache lifetime: the persisted hash relation must outlive this call —
    * the returned (lazy) plan reads it — so it is unpersisted here only on
    * the guard-trip path. Both harnesses drop it after materializing
    * (Bench's per-rep cleanup, VerifyDump's per-query sweep); an
    * INTERACTIVE session invoking near-dup entries repeatedly should do
    * the same (`spark.sparkContext.getPersistentRDDs.values.foreach(_
    * .unpersist())`) or the CacheManager accumulates one 24-byte/row
    * relation per invocation (r18 ADVICE). */
  def imageNearDupAuto(s: SparkSession, dir: String): DataFrame = {
    val cap = nearDupCap(s)
    if (cap <= 0)
      return nearDupPairs(bandsOf(mediaHashes(s, dir), 16))
        .orderBy(col("media_a"), col("media_b"))
    val hashed = mediaHashes(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    autoBands(hashed, cap, "imageNearDup") match {
      case Right(bands) => nearDupPairs(bands).orderBy(col("media_a"), col("media_b"))
      case Left(trail) =>
        hashed.unpersist(blocking = false)
        throw new graft.GuardTripException(
          s"image-neardup pair-volume guard: every band geometry exceeds maxPairsPerMedia=" +
            s"$cap candidate band-pair rows per media row [${trail.mkString("; ")}] - the " +
            "excess is genuine duplicate-class density, and pair ENUMERATION output is " +
            "quadratic in class size by definition. Emit verdicts instead: " +
            "imageNearDupVerdicts (q271) collapses exact-hash classes and keeps one id per " +
            s"class. Or override/disable the cap via $NearDupCapKey.")
    }
  }

  /** The q127 near-dup at an EXPLICIT band width, for callers that fix the
    * geometry (the spec's recall invariants; the 32-bit widening's
    * measurement is in IMAGENEARDUP_WIDEN_r17.json). Same guard and single-hash-pass shape as the auto
    * path; on trip the remedy names the next-wider geometry, or the
    * verdict shape when already at maximum width. */
  def imageNearDup(s: SparkSession, dir: String, bandBits: Int): DataFrame = {
    val cap = nearDupCap(s)
    if (cap <= 0)
      return nearDupPairs(bandsOf(mediaHashes(s, dir), bandBits))
        .orderBy(col("media_a"), col("media_b"))
    val hashed = mediaHashes(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val bands = bandsOf(hashed, bandBits)
    val (pairs, hottest, nMedia) = bandStatsOf(bands, bandBits)
    if (nMedia > 0 && pairs > cap * nMedia) {
      hashed.unpersist(blocking = false)
      val nBands = 64 / bandBits
      val remedy =
        if (bandBits < 32)
          "Widen the bands (imageNearDup(bandBits=32), or imageNearDupAuto which picks the " +
            "width from this same pre-agg) before running near-dup at this scale"
        else
          "Bands are already at maximum width, so the excess is genuine duplicate-class " +
            "density - pair ENUMERATION is quadratic in class size by definition; emit " +
            "verdicts instead (imageNearDupVerdicts, the q64/q40 keep-one-per-class shape)"
      throw new graft.GuardTripException(
        s"image-neardup pair-volume guard: the ${bandBits}-bit band join would read " +
          s"$pairs candidate band-pair rows for $nMedia media rows (${pairs / nMedia}/media " +
          s"> maxPairsPerMedia=$cap; hottest bucket holds $hottest; a pair sharing every " +
          s"band counts $nBands times) - the bucket vocabulary (${nBands}x2^$bandBits) is " +
          s"too small for this corpus. $remedy, or override/disable the cap via $NearDupCapKey.")
    }
    nearDupPairs(bands).orderBy(col("media_a"), col("media_b"))
  }

  /** (media_id, ah, dh) — the ONE hash pass every near-dup path shares:
    * rendition synth + aHash/dHash in a single codegen pass over a
    * doc_id+text-pruned scan, 24 bytes of state per media row. */
  private def mediaHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(length($"text") >= 64)
      .select($"doc_id", explode(array(lit(0), lit(1), lit(2))).as("rend"),
        $"text".cast("binary").as("content"))
      .select(($"doc_id" * 10 + $"rend").as("media_id"),
        call_function("graft_media_rendition", $"content", $"rend").as("content"))
      .select($"media_id",
        call_function("graft_ahash", $"content").as("ah"),
        call_function("graft_dhash", $"content").as("dh"))
  }

  /** Band explode of a hash relation: 64/bandBits (band_idx, band_val)
    * rows per media row, by shift+mask. */
  private def bandsOf(hashed: DataFrame, bandBits: Int): DataFrame = {
    require(Seq(8, 16, 32).contains(bandBits),
      s"bandBits must be 8, 16 or 32 (got $bandBits): bands must tile the 64-bit hash")
    val nBands = 64 / bandBits
    val mask = (1L << bandBits) - 1L
    hashed.select(col("media_id"), col("ah"), col("dh"),
      posexplode(array((0 until nBands).map(k =>
        shiftrightunsigned(col("ah"), bandBits * k).bitwiseAND(lit(mask))): _*))
        .as(Seq("band_idx", "band_val")))
  }

  /** (candidate band-pair rows, hottest bucket population, media rows)
    * from a bands relation — the guards' pre-agg, computed on the SAME
    * (persisted) plan the join then runs on, not a from-scratch rebuild
    * (the r17 ADVICE double-pass). */
  private def bandStatsOf(bands: DataFrame, bandBits: Int): (Long, Long, Long) = {
    val nBands = 64 / bandBits
    val r = bands
      .groupBy(col("band_idx"), col("band_val")).agg(count(lit(1)).as("pop"))
      .agg(coalesce(sum(col("pop") * (col("pop") - 1)), lit(0L)).as("pairs2"),
        coalesce(max(col("pop")), lit(0L)).as("hottest"),
        coalesce(sum(col("pop")), lit(0L)).as("bandRows"))
      .collect()(0)
    (r.getLong(0) / 2, r.getLong(1), r.getLong(2) / nBands)
  }

  /** The same pre-agg from cold, for profiling a geometry WITHOUT running
    * any join (tools/BandPairProfile). */
  def bandPairStats(s: SparkSession, dir: String, bandBits: Int): (Long, Long, Long) =
    bandStatsOf(bandsOf(mediaHashes(s, dir), bandBits), bandBits)

  /** Width auto-selection shared by [[imageNearDupAuto]] and
    * [[imageNearDupVerdicts]]: the first width in [[AutoBandWidths]] whose
    * band-pair rows/media clears `cap` wins (Right, choice logged); when
    * every width trips, Left carries the per-width trail for the caller's
    * guard message. */
  private def autoBands(hashed: DataFrame, cap: Long,
                        what: String): Either[Seq[String], DataFrame] = {
    val trail = Seq.newBuilder[String]
    for (bits <- AutoBandWidths) {
      val bands = bandsOf(hashed, bits)
      val (pairs, hottest, nMedia) = bandStatsOf(bands, bits)
      if (nMedia == 0 || pairs <= cap * nMedia) {
        System.err.println(s"[graft] $what: auto band width $bits-bit " +
          s"(${if (nMedia > 0) pairs / nMedia else 0} band-pair rows/media vs cap $cap)")
        // the DuckDB oracles (q127Sql/q271Sql) encode the 16-bit geometry;
        // a corpus that auto-widens past it produces DIFFERENT (by-design)
        // recall, so a hash compare against those oracles will mismatch —
        // say so HERE, at pick time, instead of leaving the verify gate a
        // bare hash mismatch to puzzle over (r18 ADVICE). Verify corpora
        // must clear the 16-bit geometry under the default cap.
        if (bits != AutoBandWidths.head)
          System.err.println(s"[graft] $what: WARNING - auto width $bits-bit diverges " +
            s"from the ${AutoBandWidths.head}-bit geometry the DuckDB oracle encodes; " +
            "an oracle hash compare on this corpus will mismatch by design")
        return Right(bands)
      }
      trail += s"$bits-bit: ${pairs / nMedia} rows/media (hottest bucket $hottest)"
    }
    Left(trail.result())
  }

  /** Band-blocked candidate pairs + Hamming verify at τ = 6 — the shared
    * tail of every near-dup path (unordered; entries sort for the
    * row-order-strict gate, verdict aggregation doesn't need to). */
  private def nearDupPairs(bands: DataFrame): DataFrame = {
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        col("a.ah").as("ah_a"), col("b.ah").as("ah_b"),
        col("a.dh").as("dh_a"), col("b.dh").as("dh_b"))
      .distinct()
    cand.select(col("media_a"), col("media_b"),
        bit_count(col("ah_a").bitwiseXOR(col("ah_b"))).cast("long").as("ham_a"),
        bit_count(col("dh_a").bitwiseXOR(col("dh_b"))).cast("long").as("ham_d"))
      .filter(col("ham_a") <= 6)
  }

  // ---------------------------------------------------------------- q271

  /** q271_image_neardup_verdicts — the near-dup VERDICT operator: q127
    * answers "which pairs collide", an output contract quadratic in
    * duplicate-class size by definition (the r17 ×100 measurement: 180 M
    * of 291 M widened-band candidates were true pairs in ~hundred-member
    * classes — m² enumeration however the plan is shaped). A 100 TB
    * curation pass wants one KEEP decision per media row — the q64/q40
    * shape. Two levels, both deterministic and order-independent:
    *
    *  1. EXACT — media with identical (ah, dh) form a class; the min id is
    *     canonical, every other member is `dup_of` it. One hash group-by:
    *     an m-member exact class costs m agg rows here vs m²/2 pairs in
    *     q127, which collapses the dominant quadratic BEFORE any join.
    *  2. NEAR — class CANONICALS are band-blocked (same auto width + cap
    *     machinery as q127, applied to the canonical relation) and
    *     Hamming-verified at τ = 6; a canonical with a lower-id canonical
    *     at ham_a ≤ 6 in a shared band is `dup_of` the smallest such id.
    *
    * Near comparison is canonical-vs-canonical by contract (near-dup is
    * not transitive; comparing class representatives is what bounds the
    * join by DISTINCT hashes rather than media rows). `dup_of` may chain —
    * a near-dupped canonical still anchors its exact members; survivorship
    * resolution is the caller's policy, as q119. `kept = 1` marks exactly
    * the rows with no verdict against them; output is one row per media
    * row — LINEAR in the corpus at every duplicate density, which is the
    * point. If even the canonical-level join trips every width, the
    * residual is genuine near-dup density among distinct hashes and the
    * guard says so; the verdict output would still be linear, so the
    * remedy is a conscious cap raise, not a different operator. */
  def q271ImageNearDupVerdicts(s: SparkSession, dir: String): DataFrame =
    imageNearDupVerdicts(s, dir)

  def imageNearDupVerdicts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cap = nearDupCap(s)
    val hashed0 = mediaHashes(s, dir)
    val hashed = if (cap > 0) hashed0.persist(StorageLevel.MEMORY_AND_DISK) else hashed0
    val classes = hashed.groupBy($"ah", $"dh").agg(min($"media_id").as("rep_id"))
    val members = hashed.join(classes, Seq("ah", "dh")).select($"media_id", $"rep_id")
    val reps0 = classes.select($"rep_id".as("media_id"), $"ah", $"dh")
    val reps = if (cap > 0) reps0.persist(StorageLevel.MEMORY_AND_DISK) else reps0
    val bands =
      if (cap <= 0) bandsOf(reps, 16)
      else autoBands(reps, cap, "imageNearDupVerdicts") match {
        case Right(b) => b
        case Left(trail) =>
          hashed.unpersist(blocking = false); reps.unpersist(blocking = false)
          throw new graft.GuardTripException(
            "image-neardup pair-volume guard: even among exact-class canonicals every band " +
              s"geometry exceeds maxPairsPerMedia=$cap candidate band-pair rows per row " +
              s"[${trail.mkString("; ")}] - the residual is rep-level near-dup density among " +
              "DISTINCT hashes. The verdict output stays linear either way; raise or disable " +
              s"the cap via $NearDupCapKey to consciously pay the wider join.")
      }
    val near = nearDupPairs(bands)
      .groupBy($"media_b").agg(min($"media_a").as("near_dup_of"))
    members.join(near, members("media_id") === near("media_b"), "left")
      .select($"media_id",
        when($"media_id" =!= $"rep_id", $"rep_id")
          .otherwise($"near_dup_of").as("dup_of"),
        when($"media_id" =!= $"rep_id", lit("exact"))
          .when($"near_dup_of".isNotNull, lit("near")).as("dup_kind"),
        when($"media_id" =!= $"rep_id" || $"near_dup_of".isNotNull, 0L)
          .otherwise(1L).as("kept"))
      .orderBy($"media_id")
  }

  /** The oracle never reconstructs rendition STRINGS: the hash depends only
    * on per-position byte values, so the rendition transform is applied
    * directly to the codepoint inside the position CTE. */
  val q127Sql: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE len(text) >= 64
      |),
      |pos AS (
      |  SELECT doc_id, r.r AS rend,
      |    CAST(p.p * 64 // len(text) AS INT) AS cell,
      |    ord(substring(text, CAST(p.p + 1 AS INT), 1))
      |      + CASE WHEN r.r = 1 OR (r.r = 2 AND p.p % 16 = 0) THEN 1 ELSE 0 END AS b
      |  FROM base, UNNEST(range(0, len(text))) AS p(p), UNNEST(range(0, 3)) AS r(r)
      |),
      |cellavg AS (
      |  SELECT doc_id, rend, cell, SUM(b) // COUNT(*) AS v
      |  FROM pos GROUP BY doc_id, rend, cell
      |),
      |thresh AS (
      |  SELECT doc_id, rend, SUM(v) // 64 AS t FROM cellavg GROUP BY doc_id, rend
      |),
      |bits AS (
      |  SELECT c.doc_id, c.rend, c.cell,
      |    CASE WHEN c.v > t.t THEN 1 ELSE 0 END AS bit_a,
      |    CASE WHEN c.v > coalesce(lead(c.v) OVER w, first_value(c.v) OVER w)
      |      THEN 1 ELSE 0 END AS bit_d
      |  FROM cellavg c JOIN thresh t ON c.doc_id = t.doc_id AND c.rend = t.rend
      |  WINDOW w AS (PARTITION BY c.doc_id, c.rend ORDER BY c.cell)
      |),
      |bands AS (
      |  SELECT doc_id * 10 + rend AS media_id, cell // 16 AS band_idx,
      |    SUM(bit_a * (1 << (cell % 16))) AS aband,
      |    SUM(bit_d * (1 << (cell % 16))) AS dband
      |  FROM bits GROUP BY doc_id, rend, cell // 16
      |),
      |cand AS (
      |  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.aband = b.aband
      |      AND a.media_id < b.media_id
      |),
      |hams AS (
      |  SELECT c.media_a, c.media_b,
      |    CAST(SUM(bit_count(xor(x.aband, y.aband))) AS BIGINT) AS ham_a,
      |    CAST(SUM(bit_count(xor(x.dband, y.dband))) AS BIGINT) AS ham_d
      |  FROM cand c
      |  JOIN bands x ON x.media_id = c.media_a
      |  JOIN bands y ON y.media_id = c.media_b AND y.band_idx = x.band_idx
      |  GROUP BY c.media_a, c.media_b
      |)
      |SELECT media_a, media_b, ham_a, ham_d FROM hams
      |WHERE ham_a <= 6
      |ORDER BY media_a, media_b""".stripMargin

  /** q271 oracle: q127's hash/band replay, then the exact-class collapse —
    * the band-segment string key is the (ah, dh) pair (the 16-bit segments
    * tile both hashes bijectively) — and the canonical-level band join +
    * lowest-qualifying-id verdict. */
  val q271Sql: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE len(text) >= 64
      |),
      |pos AS (
      |  SELECT doc_id, r.r AS rend,
      |    CAST(p.p * 64 // len(text) AS INT) AS cell,
      |    ord(substring(text, CAST(p.p + 1 AS INT), 1))
      |      + CASE WHEN r.r = 1 OR (r.r = 2 AND p.p % 16 = 0) THEN 1 ELSE 0 END AS b
      |  FROM base, UNNEST(range(0, len(text))) AS p(p), UNNEST(range(0, 3)) AS r(r)
      |),
      |cellavg AS (
      |  SELECT doc_id, rend, cell, SUM(b) // COUNT(*) AS v
      |  FROM pos GROUP BY doc_id, rend, cell
      |),
      |thresh AS (
      |  SELECT doc_id, rend, SUM(v) // 64 AS t FROM cellavg GROUP BY doc_id, rend
      |),
      |bits AS (
      |  SELECT c.doc_id, c.rend, c.cell,
      |    CASE WHEN c.v > t.t THEN 1 ELSE 0 END AS bit_a,
      |    CASE WHEN c.v > coalesce(lead(c.v) OVER w, first_value(c.v) OVER w)
      |      THEN 1 ELSE 0 END AS bit_d
      |  FROM cellavg c JOIN thresh t ON c.doc_id = t.doc_id AND c.rend = t.rend
      |  WINDOW w AS (PARTITION BY c.doc_id, c.rend ORDER BY c.cell)
      |),
      |bands AS (
      |  SELECT doc_id * 10 + rend AS media_id, cell // 16 AS band_idx,
      |    SUM(bit_a * (1 << (cell % 16))) AS aband,
      |    SUM(bit_d * (1 << (cell % 16))) AS dband
      |  FROM bits GROUP BY doc_id, rend, cell // 16
      |),
      |hkeys AS (
      |  SELECT media_id,
      |    string_agg(aband::VARCHAR, ',' ORDER BY band_idx) || '|' ||
      |      string_agg(dband::VARCHAR, ',' ORDER BY band_idx) AS hkey
      |  FROM bands GROUP BY media_id
      |),
      |cls AS (
      |  SELECT media_id, min(media_id) OVER (PARTITION BY hkey) AS rep_id
      |  FROM hkeys
      |),
      |repbands AS (
      |  SELECT b.* FROM bands b JOIN cls c
      |    ON b.media_id = c.media_id AND c.media_id = c.rep_id
      |),
      |cand AS (
      |  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
      |  FROM repbands a JOIN repbands b
      |    ON a.band_idx = b.band_idx AND a.aband = b.aband
      |      AND a.media_id < b.media_id
      |),
      |hams AS (
      |  SELECT c.media_a, c.media_b,
      |    SUM(bit_count(xor(x.aband, y.aband))) AS ham_a
      |  FROM cand c
      |  JOIN repbands x ON x.media_id = c.media_a
      |  JOIN repbands y ON y.media_id = c.media_b AND y.band_idx = x.band_idx
      |  GROUP BY c.media_a, c.media_b
      |),
      |nearv AS (
      |  SELECT media_b AS rep_id, min(media_a) AS near_dup_of
      |  FROM hams WHERE ham_a <= 6 GROUP BY 1
      |)
      |SELECT c.media_id,
      |  CAST(CASE WHEN c.media_id <> c.rep_id THEN c.rep_id
      |            ELSE n.near_dup_of END AS BIGINT) AS dup_of,
      |  CASE WHEN c.media_id <> c.rep_id THEN 'exact'
      |       WHEN n.near_dup_of IS NOT NULL THEN 'near' END AS dup_kind,
      |  CAST(CASE WHEN c.media_id <> c.rep_id OR n.near_dup_of IS NOT NULL
      |            THEN 0 ELSE 1 END AS BIGINT) AS kept
      |FROM cls c LEFT JOIN nearv n ON n.rep_id = c.media_id
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q132

  /** q132_audio_segments — energy-threshold voice-activity segmentation
    * (VAD), the audio-modality op that completes the multimodal family
    * (metadata q28, frame windowing q84, image near-dup q127, now
    * content SEGMENTATION): each media object's sampled frames (q84's
    * every-4th-64-byte grid, the stub for fixed-width PCM blocks) get an
    * ENERGY = Σ unsigned byte values via the native codegen'd
    * [[graft.functions.expressions.ByteEnergy]]; frames whose mean byte
    * value sits under τ = 94.5 (the corpus median — both classes present
    * at every SF) are "silent"; consecutive same-class frames fuse into
    * runs (gaps-and-islands, q72's fuse) — the segment inventory an audio
    * pipeline feeds to transcription (skip silence, batch voiced spans).
    *
    * The threshold compare is INTEGER (`energy·10 < n_bytes·945`) — no
    * float crosses the engine boundary. A real decoder swaps in at the
    * documented StubCodec seam; energy-over-samples and the islands fuse
    * are unchanged by that swap.
    *
    * Scale shape: energy is one O(bytes) codegen'd loop per frame riding
    * q84's distributed flatMap (no shuffle before the windows); the two
    * row_numbers and the run aggregation share ONE media_id-keyed
    * exchange; runs per media ≤ frames per media — content-proportional,
    * the q84 class. */
  def q132AudioSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.multimodal.Multimodal.fromDocuments(
      s, Tables.documents(s, dir))
    val frames = graft.multimodal.Multimodal
      .sampleFrames(media, frameBytes = 64, everyK = 4)
      .select($"media_id", $"frame_idx",
        length($"frame").cast("long").as("n_bytes"),
        call_function("graft_byte_energy", $"frame").as("energy"))
      .withColumn("silent",
        when($"energy" * 10 < $"n_bytes" * 945, lit(1L)).otherwise(lit(0L)))
    val wAll = Window.partitionBy($"media_id").orderBy($"frame_idx")
    val wFlag = Window.partitionBy($"media_id", $"silent").orderBy($"frame_idx")
    frames
      .withColumn("run_key",
        row_number().over(wAll) - row_number().over(wFlag))
      .groupBy($"media_id", $"silent", $"run_key")
      .agg(min($"frame_idx").as("start_frame"),
        count(lit(1)).as("n_frames"),
        sum($"energy").as("energy_sum"))
      .select($"media_id", $"start_frame", $"n_frames", $"silent", $"energy_sum")
      .orderBy($"media_id", $"start_frame")
  }

  /** q132 oracle: q84's frame windows, per-char codepoint energy (byte ≡
    * codepoint on this ASCII corpus), the identical integer threshold and
    * the row_number-difference islands fuse. */
  val q132Sql: String =
    """WITH f AS (
      |  SELECT doc_id AS media_id, CAST(u.i AS BIGINT) AS frame_idx,
      |    substring(text, CAST(u.i * 64 + 1 AS INT), 64) AS fr
      |  FROM documents,
      |    UNNEST(range(0, (len(text) + 63) // 64)) AS u(i)
      |  WHERE u.i % 4 = 0),
      |e AS (
      |  SELECT media_id, frame_idx, CAST(len(fr) AS BIGINT) AS n_bytes,
      |    CAST(list_sum([unicode(c) for c in string_split_regex(fr, '')]) AS BIGINT) AS energy
      |  FROM f),
      |fl AS (
      |  SELECT *, CAST(CASE WHEN energy * 10 < n_bytes * 945 THEN 1 ELSE 0 END AS BIGINT) AS silent
      |  FROM e),
      |rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY media_id ORDER BY frame_idx)
      |    - row_number() OVER (PARTITION BY media_id, silent ORDER BY frame_idx) AS run_key
      |  FROM fl)
      |SELECT media_id, min(frame_idx) AS start_frame,
      |  count(*) AS n_frames, silent, CAST(sum(energy) AS BIGINT) AS energy_sum
      |FROM rk GROUP BY media_id, silent, run_key
      |ORDER BY media_id, start_frame""".stripMargin

  // ---------------------------------------------------------------- q145

  /** q145_scene_cuts — shot-boundary detection on the visual modality:
    * a cut is a frame whose MEAN byte energy jumps ≥ 5.0/byte against the
    * previous sampled frame. q132 segments by absolute level (silence
    * islands); this is its temporal-DELTA dual — the standard first pass
    * of video understanding (shot boundaries feed scene-level sampling,
    * dedup, and captioning budgets), here over the same deterministic
    * byte-frame stand-in as q84/q132 (the real pixel decode is the
    * documented container limitation; the Spark-side plumbing is real).
    *
    * Engine-exact: the mean-delta comparison is CROSS-MULTIPLIED —
    * `|e·pn − pe·n| · 10 ≥ 50 · n · pn` — so the flag never divides;
    * the exported magnitude divides once onto the e6 grid with identical
    * formula text both engines (floor of an exact-int64 ratio, q133's
    * convention). Threshold 5.0/byte sits at the corpus's p90 transition
    * delta (profiled), so cuts are sparse but present at every SF.
    *
    * Scale shape: ONE media-keyed exchange for the lag window; the
    * energy pass is the native codegen'd `graft_byte_energy` scan
    * (content-proportional, no shuffle); only cut rows export. */
  def q145SceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.multimodal.Multimodal.fromDocuments(
      s, Tables.documents(s, dir))
    val w = Window.partitionBy($"media_id").orderBy($"frame_idx")
    graft.multimodal.Multimodal
      .sampleFrames(media, frameBytes = 64, everyK = 4)
      .select($"media_id", $"frame_idx",
        length($"frame").cast("long").as("n"),
        call_function("graft_byte_energy", $"frame").as("en"))
      .withColumn("pn", lag($"n", 1).over(w))
      .withColumn("pen", lag($"en", 1).over(w))
      .filter($"pn".isNotNull &&
        abs($"en" * $"pn" - $"pen" * $"n") * 10 >= lit(50L) * $"n" * $"pn")
      .select($"media_id", $"frame_idx",
        floor(lit(1000000.0) * abs($"en" * $"pn" - $"pen" * $"n") /
          ($"n" * $"pn").cast("double")).cast("long").as("delta_e6"))
      .orderBy($"media_id", $"frame_idx")
  }

  /** q145 oracle: q132's frame/energy replay, the lag pair, the
    * cross-multiplied flag, and the single e6 division. */
  val q145Sql: String =
    """WITH f AS (
      |  SELECT doc_id AS media_id, CAST(u.i AS BIGINT) AS frame_idx,
      |    substring(text, CAST(u.i * 64 + 1 AS INT), 64) AS fr
      |  FROM documents,
      |    UNNEST(range(0, (len(text) + 63) // 64)) AS u(i)
      |  WHERE u.i % 4 = 0),
      |e AS (
      |  SELECT media_id, frame_idx, CAST(len(fr) AS BIGINT) AS n,
      |    CAST(list_sum([unicode(c) for c in string_split_regex(fr, '')]) AS BIGINT) AS en
      |  FROM f),
      |d AS (
      |  SELECT media_id, frame_idx, n, en,
      |    lag(n) OVER w AS pn, lag(en) OVER w AS pen
      |  FROM e WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx))
      |SELECT media_id, frame_idx,
      |  CAST(floor(1000000.0 * abs(en * pn - pen * n)
      |       / CAST(n * pn AS DOUBLE)) AS BIGINT) AS delta_e6
      |FROM d
      |WHERE pn IS NOT NULL AND abs(en * pn - pen * n) * 10 >= 50 * n * pn
      |ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- q211

  /** q211_av_align — audio/visual alignment: every q132 audio segment
    * annotated with the q145 scene cuts that fall INSIDE its frame
    * span (cut count + first cut) — the A/V synchronization shape
    * (subtitles→shots, VAD→scene sampling) a multimodal curation
    * pipeline runs after both single-modality passes, here composed
    * from the ENGINE'S OWN operators: the two derivations are the
    * production q132/q145 plans verbatim, and the alignment is one
    * media-keyed interval-stab join.
    *
    * Scale shape: both sides are already media-keyed; the stab join's
    * equi key is media_id with the span test as residual — per-media
    * work is segments × cuts of ONE document, never cross-media. */
  def q211AvAlign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seg = q132AudioSegments(s, dir)
      .select($"media_id", $"start_frame", $"n_frames", $"silent")
    val cuts = q145SceneCuts(s, dir)
      .select($"media_id".as("cm"), $"frame_idx".as("cut"))
    seg.join(cuts,
        $"cm" === $"media_id" && $"cut" >= $"start_frame" &&
          $"cut" <= $"start_frame" + lit(4L) * ($"n_frames" - 1), "left")
      .groupBy($"media_id", $"start_frame", $"n_frames", $"silent")
      .agg(count($"cut").as("n_cuts"),
        coalesce(min($"cut"), lit(-1L)).as("first_cut"))
      .orderBy($"media_id", $"start_frame")
  }

  /** q211 oracle: both single-modality pipelines inlined + the
    * declarative stab join. */
  val q211Sql: String =
    """WITH f AS (
      |  SELECT doc_id AS media_id, CAST(u.i AS BIGINT) AS frame_idx,
      |    substring(text, CAST(u.i * 64 + 1 AS INT), 64) AS fr
      |  FROM documents,
      |    UNNEST(range(0, (len(text) + 63) // 64)) AS u(i)
      |  WHERE u.i % 4 = 0),
      |e AS (
      |  SELECT media_id, frame_idx, CAST(len(fr) AS BIGINT) AS nb,
      |    CAST(list_sum([unicode(c) for c in string_split_regex(fr, '')])
      |         AS BIGINT) AS en
      |  FROM f),
      |fl AS (
      |  SELECT *, CAST(CASE WHEN en * 10 < nb * 945 THEN 1 ELSE 0 END
      |         AS BIGINT) AS silent
      |  FROM e),
      |rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY media_id ORDER BY frame_idx)
      |    - row_number() OVER (PARTITION BY media_id, silent
      |                         ORDER BY frame_idx) AS run_key
      |  FROM fl),
      |seg AS (
      |  SELECT media_id, CAST(min(frame_idx) AS BIGINT) AS start_frame,
      |    CAST(count(*) AS BIGINT) AS n_frames, silent
      |  FROM rk GROUP BY media_id, silent, run_key),
      |d AS (
      |  SELECT media_id, frame_idx, nb, en,
      |    lag(nb) OVER w AS pn, lag(en) OVER w AS pen
      |  FROM e WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
      |cuts AS (
      |  SELECT media_id, frame_idx AS cut
      |  FROM d WHERE pn IS NOT NULL
      |    AND abs(en * pn - pen * nb) * 10 >= 50 * nb * pn),
      |j AS (
      |  SELECT seg.media_id, seg.start_frame, seg.n_frames, seg.silent,
      |    CAST(count(cuts.cut) AS BIGINT) AS n_cuts,
      |    CAST(coalesce(min(cuts.cut), -1) AS BIGINT) AS first_cut
      |  FROM seg LEFT JOIN cuts
      |    ON cuts.media_id = seg.media_id
      |   AND cuts.cut >= seg.start_frame
      |   AND cuts.cut <= seg.start_frame + 4 * (seg.n_frames - 1)
      |  GROUP BY 1, 2, 3, 4)
      |SELECT * FROM j ORDER BY media_id, start_frame""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q211_av_align" -> (q211AvAlign _),
    "q145_scene_cuts" -> (q145SceneCuts _),
    "q132_audio_segments" -> (q132AudioSegments _),
    "q28_media_meta"    -> (q28MediaMeta _),
    "q84_frame_sample"  -> (q84FrameSample _),
    "q29_clustered_scan" -> (q29ClusteredScan _),
    "q60_zorder_scan"   -> (q60ZOrderScan _),
    "q69_bucketed_join" -> (q69BucketedJoin _),
    "q120_partition_prune" -> (q120PartitionPrune _),
    "q127_image_neardup" -> (q127ImageNearDup _),
    "q271_image_neardup_verdicts" -> (q271ImageNearDupVerdicts _))

  val oracles: Map[String, String] = Map(
    "q211_av_align" -> q211Sql,
    "q145_scene_cuts" -> q145Sql,
    "q132_audio_segments" -> q132Sql,
    "q28_media_meta"    -> q28Sql,
    "q84_frame_sample"  -> q84Sql,
    "q29_clustered_scan" -> q29Sql,
    "q60_zorder_scan"   -> q60Sql,
    "q69_bucketed_join" -> q69Sql,
    "q120_partition_prune" -> q120Sql,
    "q127_image_neardup" -> q127Sql,
    "q271_image_neardup_verdicts" -> q271Sql)
}
