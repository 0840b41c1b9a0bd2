package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.CartesianProductExec

import graft.SparkSpec

/** Plan audits — the 100 TB survivability checks from SURVEY.md §4 /
  * VERDICT r1: filters and projections reach the parquet scan, broadcasts
  * appear only where a side is O(1)-sized or an explicit small set, and the
  * similarity pipelines never degenerate to a cartesian product.
  *
  * Runs at sf0.001: plan SHAPE is what's asserted, and the properties
  * checked (pushdown, no-cartesian) are scale-factor-independent. Broadcast
  * absence is asserted with AQE's runtime re-planning disabled per query via
  * the explain of the INITIAL plan — at real scale AQE would only downgrade
  * broadcasts, never invent a cartesian join.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }
  private def leaves(df: DataFrame): String =
    executed(df).collectLeaves().map(_.toString).mkString("\n")

  /** Every node including those hidden behind AQE query-stage boundaries
    * and inside cached (InMemoryRelation) plans — plain `collect` stops at
    * QueryStageExec leaves, which is where persisted relations live. */
  private def deepNodes(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(i.relation.cachedPlan)
      case _ => p.children
    }
    p +: below.flatMap(deepNodes)
  }

  test("q2: both predicates and the narrow projection reach the parquet scan") {
    val s = leaves(CoreQueries.q2FilterProject(spark, dir))
    assert(s.contains("PushedFilters"))
    assert(s.contains("l_shipdate") && s.contains("l_quantity"))
    // pruned read schema: exactly the 4 projected + 2 filter columns, no more
    assert(!s.contains("l_extendedprice,l_discount") || !s.contains("l_comment"))
    assert(!s.contains("l_returnflag"))
  }

  test("q1: aggregation pushes partial aggregates below the exchange") {
    val p = executed(CoreQueries.q1Agg(spark, dir)).toString
    // two HashAggregate layers around one shuffle = map-side combine
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q24/q26: no cartesian product anywhere in the similarity pipelines") {
    for (df <- Seq(TextQueries.q24DedupMinhash(spark, dir),
                   VectorQueries.q26EmbedNearDup(spark, dir))) {
      val plan = executed(df)
      assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
        "similarity pipeline must stay bucketed, never all-pairs")
    }
  }

  test("q25: the k query vectors are the broadcast side; top-k runs as WindowGroupLimit") {
    // note: AQE wraps exchanges in QueryStageExec leaves, so string-match the
    // final plan rather than collect()ing exchange nodes
    val p = executed(VectorQueries.q25AnnTopK(spark, dir)).toString
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      "query-vector side should broadcast")
    assert(p.contains("WindowGroupLimit"), "rank<=3 should prune before the final sort")
    assert(p.contains("graft_dot"), "native dot product should be in the plan")
  }

  test("q37: vocabulary join is a shuffle join; only the 1-row corpus count broadcasts") {
    // Plan under auto-broadcast DISABLED — the 100 TB shape, where no size
    // estimate makes the corpus-sized vocabulary look broadcastable: the
    // only BroadcastExchange left must be the explicitly hinted 1-row
    // n_docs aggregate. (At sf0.001 the size estimator and AQE both
    // legitimately broadcast the tiny vocabulary; those are runtime calls,
    // not pins in this code.)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val initial = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      TextQueries.q37Tfidf(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert(initial.linesIterator.count(_.contains("BroadcastExchange")) == 1,
      "exactly one pinned broadcast: the n_docs scalar")
    assert(initial.contains("BroadcastNestedLoopJoin"), "1-row corpus count should broadcast")
    assert(initial.contains("SortMergeJoin") || initial.contains("ShuffledHashJoin"),
      "vocabulary join must be a shuffle join when nothing is auto-broadcastable")
    val hints = TextQueries.q37Tfidf(spark, dir).queryExecution.logical.toString
      .linesIterator.count(l =>
        l.contains("UnresolvedHint BROADCAST") || l.contains("ResolvedHint"))
    assert(hints == 1, "exactly one explicit broadcast hint: the n_docs scalar")
    val p = executed(TextQueries.q37Tfidf(spark, dir)).toString
    // partial aggregation below the exchange for the explode->count
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("WindowGroupLimit"), "top-5 should prune before the final sort")
  }

  test("q40: label propagation never multiplies the edge mining pipeline") {
    val plan = executed(TextQueries.q40DedupClusters(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    // the LSH mining subtree is localCheckpointed: the executed plan reads
    // the edges from an RDD scan, not 3 re-evaluations of the minhash plan
    val p = plan.toString
    assert(!p.contains("graft_minhash"),
      "edges must come from the checkpoint, not re-mined per propagation round")
  }

  test("q45: sketch aggregates keep map-side partial aggregation (one shuffle)") {
    val p = executed(EventQueries.q45ApproxStats(spark, dir)).toString
    // partial ObjectHashAggregate/HashAggregate below the exchange, final
    // above: the sketches (HLL registers / quantile summaries) merge, the
    // raw values never all travel
    assert("Aggregate".r.findAllIn(p).size >= 2, "expected partial+final aggregate")
    assert(p.contains("approx_count_distinct") || p.contains("approx_percentile"))
  }

  test("q46: interval join is an equi-shuffle join on user_id, never cartesian") {
    val plan = executed(EventQueries.q46IntervalJoin(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "interval join must keep the user_id equi-key")
    val p = plan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), // AQE may downgrade at sf0.001
      s"expected an equi-join on user_id, got:\n$p")
  }

  test("q30: vector norms are computed below the probe join, never per pair") {
    // in a plan printout parents precede children: a sqrt appearing BEFORE
    // the first join line would be a projection ABOVE the join — the
    // O(pairs*d) per-candidate recompute this pins against
    val lines = executed(VectorQueries.q30AnnIvf(spark, dir)).toString.linesIterator.toSeq
    val firstJoin = lines.indexWhere(l => l.contains("Join"))
    assert(firstJoin >= 0, "expected a probe join in the q30 plan")
    val sqrtAbove = lines.take(firstJoin).exists(_.toLowerCase.contains("sqrt"))
    assert(!sqrtAbove, "norms must be per-row columns below the join, not per-pair")
    assert(lines.drop(firstJoin).exists(_.toLowerCase.contains("sqrt")),
      "expected the per-row norm projections below the join")
  }

  test("q47: the corpus-prep pipeline reads the source once, one data shuffle") {
    val plan = executed(TextQueries.q47TrainingPrep(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    // score+filter+fingerprint are one narrow pass over ONE scan: a
    // re-read of documents would mean a stage recomputes the text work
    val p = plan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected exactly one documents scan, got $scans")
    // exactly ONE hash shuffle (the fp dedup) and ONE range exchange (the
    // trailing sort of the small surviving output) — a source-side sort
    // would add a second rangepartitioning whose sampling pass re-runs the
    // scan and the quality gates
    val hash = "Exchange hashpartitioning".r.findAllIn(p).size
    val range = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(hash == 1 && range <= 1,
      s"expected exactly one fp hash shuffle and at most the trailing sort, got hash=$hash range=$range")
  }

  test("q52: prefix-filter join is never cartesian; candidates shuffle on tokens") {
    val plan = executed(TextQueries.q52NgramJaccard(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "prefix filtering must index, never all-pairs")
    // partial aggregation below the df and posting shuffles
    assert("HashAggregate".r.findAllIn(plan.toString).size >= 2)
  }

  test("q53: winnowing is one narrow codegen pass — no shuffle except the source sort") {
    val plan = executed(TextQueries.q53WinnowFingerprint(spark, dir))
    val p = plan.toString
    assert(p.contains("graft_winnow"), "native winnow expression should be in the plan")
    assert(!p.contains("Exchange hashpartitioning"),
      "fingerprinting must not shuffle — it is per-row column work")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q58: repetition stats are one narrow pass — native expression, no hash shuffle") {
    val plan = executed(TextQueries.q58RepetitionSignals(spark, dir))
    val p = plan.toString
    assert(p.contains("graft_repetition"), "native one-pass stats expression must be in the plan")
    assert(!p.contains("Exchange hashpartitioning"),
      "the whole point of the native expression is zero corpus shuffles " +
        "(the composable shape would shuffle every exploded gram twice)")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q63: the eval gram set broadcasts; the corpus side never hash-shuffles its grams") {
    val plan = executed(TextQueries.q63Decontaminate(spark, dir))
    val p = plan.toString
    // the fixed-size eval suite is the build side of a BroadcastHashJoin;
    // the only hash exchanges are keyed by doc_id (the per-doc count and
    // the count-back join), never by the gram strings of the full corpus
    assert(p.contains("BroadcastHashJoin"), "eval grams must be the broadcast side")
    val gramExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning(g#"))
    assert(gramExchanges <= 1,
      "only the eval-side distinct may shuffle by gram; the training side " +
        "must ride the broadcast probe, not a corpus-sized gram shuffle")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q64: assignment is the codegen'd argmin, pairing never leaves the cell join") {
    val plan = executed(VectorQueries.q64SemDedup(spark, dir))
    val p = plan.toString
    assert(p.contains("graft_nearest_centroid"),
      "cell assignment must be the per-row native expression, not a centroid join")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "semantic dedup must stay cell-blocked, never all-pairs")
  }

  test("q65: content-defined chunking is one narrow pass — no hash shuffle at all") {
    val plan = executed(TextQueries.q65CdcChunk(spark, dir))
    assert(!plan.toString.contains("Exchange hashpartitioning"),
      "boundary detection, span building and explode are all per-row column work")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q66: the 256-bucket weight table is the broadcast side of the scoring join") {
    val plan = executed(TextQueries.q66DsirWeights(spark, dir))
    val p = plan.toString
    assert(p.contains("BroadcastHashJoin"),
      "per-bucket weights are fixed-size at any corpus scale — they must broadcast")
    // the corpus-sized exploded token stream shuffles only for the 256-key
    // count (partial-aggregated) — it must not hash-shuffle for the lookup
    val bExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning(b#"))
    assert(bExchanges <= 1,
      "one bucket-keyed exchange (the count) — the scoring lookup rides the broadcast")
  }

  test("q67: quantize+dequantize stay narrow; only the k quantized queries broadcast") {
    val p = executed(VectorQueries.q67AnnSq8(spark, dir)).toString
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      "the q25 shape must survive quantization: queries broadcast into one scan")
    assert(p.contains("WindowGroupLimit"), "rank<=3 should prune before the final sort")
    assert(p.contains("graft_dot"), "search must run on the native dot, post-quantization")
    // the only hash exchange is the q_id-keyed top-k reduction (shared with
    // q25); quantization itself adds no exchange anywhere
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.forall(_.contains("q_id")),
      s"quantization must stay narrow; unexpected exchange:\n${hashEx.mkString("\n")}")
  }

  test("q68: corpus-derived LM tables shuffle; only the 1-row vocabulary size broadcasts") {
    // q37's rule, applied to the bigram model: under auto-broadcast
    // disabled, the c1/c2 fit joins and the score join must be shuffle
    // joins (they grow with the corpus); the single pinned broadcast is
    // the 1-row vocab count
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val initial = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      TextQueries.q68BigramPpl(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert(initial.linesIterator.count(_.contains("BroadcastExchange")) == 1,
      "exactly one pinned broadcast: the vocabulary-size scalar")
    assert(initial.contains("SortMergeJoin") || initial.contains("ShuffledHashJoin"),
      "model joins must shuffle when nothing is auto-broadcastable")
  }

  test("q69: co-bucketed tables join with NO exchange on the bucket key") {
    // build the bucketed tables (side effect), then pin the join plan with
    // auto-broadcast off — the 100 TB shape where neither side looks small
    val df = MultimodalQueries.q69BucketedJoin(spark, dir)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val initial = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      MultimodalQueries.q69BucketedJoin(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert(initial.contains("SortMergeJoin"), "co-located join must be a merge join")
    assert(!initial.contains("Exchange hashpartitioning(c_custkey") &&
      !initial.contains("Exchange hashpartitioning(o_custkey"),
      "the bucket layout IS the exchange — the join must not shuffle either side:\n" +
        initial)
    assert(df.queryExecution.executedPlan.toString.contains("Bucketed: true") ||
      initial.contains("Bucketed: true"), "scans must actually use the bucket metadata")
  }

  test("q70: fuzzy matching pairs only within simhash blocks, verify runs balanced") {
    // audit the candidate stage (the public query checkpoints after the
    // verify, which cuts the executed plan at the checkpoint scan)
    val plan = executed(TextQueries.fuzzyCandidates(spark, dir))
    val p = plan.toString
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "the levenshtein verify must only ever see block-local candidates")
    assert(p.contains("graft_simhash"),
      "blocking key must be the native fingerprint expression")
    assert(p.contains("Exchange RoundRobinPartitioning") || p.contains("AQEShuffleRead"),
      "pairs must rebalance before the O(len^2) verify — hot fingerprint " +
        "buckets would otherwise serialize it in one task")
  }

  test("q59: the bloom probe is a narrow filter below the semi-join, scan stays pruned") {
    val plan = executed(CoreQueries.q59BloomSemiJoin(spark, dir))
    val p = plan.toString
    // the probe (seeded xxhash64 + bit test) must execute as plain column
    // algebra in the lineitem scan stage — NOT as a join against the filter
    assert(p.contains("xxhash64"), "bloom probe must be in the executed plan")
    val joinLine = p.linesIterator.indexWhere(l => l.contains("LeftSemi"))
    val probeLine = p.linesIterator.indexWhere(l => l.contains("xxhash64"))
    assert(joinLine >= 0 && probeLine > joinLine,
      "probe filter must sit BELOW the semi-join (pre-shuffle), not above it")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q60: both z-dimensions' predicates are pushed to the clustered scan") {
    val s = leaves(MultimodalQueries.q60ZOrderScan(spark, dir))
    assert(s.contains("PushedFilters"))
    assert(s.contains("l_orderkey") && s.contains("l_partkey"),
      "both range predicates must reach parquet so min/max stats can prune")
  }

  test("q120: day range is a plan-time PartitionFilter — 7 of 30 directories read") {
    // AQE hides the scan inside leaf QueryStageExec nodes; pruning is a
    // static plan property, so pin it on the non-adaptive plan
    val adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    val plan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = MultimodalQueries.q120PartitionPrune(spark, dir)
      df.collect()
      df.queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", adaptive)
    val scan = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.map(_.toString).mkString.contains("day"),
      "day predicate must prune at plan time (PartitionFilters), " +
        "not run as a per-row data filter:\n" + scan)
    // the scan's file index is ALREADY pruned (PruneFileSourcePartitions
    // rewrote the relation), so compare against the catalog's full listing
    val totalParts = spark.sql("SHOW PARTITIONS q120_events_daypart").count()
    assert(totalParts == 30, s"the corpus spans 30 days, got $totalParts")
    assert(scan.selectedPartitions.partitionCount == 7,
      s"the 7-day range must touch exactly its 7 day-directories (of " +
        s"$totalParts), got ${scan.selectedPartitions.partitionCount}")
  }

  test("q121: corpus joins only broadcast probe/query sides; never all-pairs") {
    // at-scale shape: auto-broadcast off leaves exactly the three pinned
    // broadcasts — centroid table (probe stage), (query, cell) probe set
    // (the cell restriction on the corpus scan), and the refine's query
    // vectors. The corpus side itself must never broadcast or cartesian.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val initial = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      VectorQueries.q121AnnIvfRerank(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert(initial.linesIterator.count(_.contains("BroadcastExchange")) == 3,
      "exactly three pinned broadcasts: centroids, probes, refine queries\n" + initial)
    val plan = executed(VectorQueries.q121AnnIvfRerank(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "composed ANN must probe cells, never scan all pairs per query")
  }

  test("q54: only the O(k) query side broadcasts; signature dots stay below the join") {
    // at-scale shape: auto-broadcast off, so the only broadcasts left are
    // the two explicit hints on the query side (bands + rescore vectors)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val initial = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      VectorQueries.q54AnnLsh(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert(initial.linesIterator.count(_.contains("BroadcastExchange")) == 2,
      "exactly two pinned broadcasts: query band keys and query vectors")
    val plan = executed(VectorQueries.q54AnnLsh(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "LSH ANN must probe buckets, never scan all pairs per query")
  }

  test("q56/q57: no cartesian; q57's only pinned broadcasts are the tiny quota relations") {
    val plan56 = executed(EventQueries.q56OuterIntervalJoin(spark, dir))
    assert(plan56.collect { case c: CartesianProductExec => c }.isEmpty,
      "outer interval join must keep the user_id equi-key")
    // the quotas × 1-row T cross join is hinted, so it must execute as a
    // BroadcastNestedLoopJoin — a raw CartesianProductExec anywhere means
    // a data-sized relation lost its equi-key or its broadcast
    val plan57 = executed(TextQueries.q57MixtureSample(spark, dir))
    assert(plan57.collect { case c: CartesianProductExec => c }.isEmpty,
      "q57 must never materialize a cartesian product")
    // STRUCTURAL broadcast discipline: every hinted subtree must be either
    // the literal weights (LocalRelation leaves) or sit ABOVE an Aggregate
    // (counts/T/quotas — O(strata) rows however big the corpus); a hint
    // whose subtree reaches a parquet scan un-aggregated would pin a
    // corpus-sized broadcast
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, ResolvedHint}
    val analyzed = TextQueries.q57MixtureSample(spark, dir).queryExecution.analyzed
    val hinted = analyzed.collect { case h: ResolvedHint => h.child }
    assert(hinted.nonEmpty, "q57 must pin its tiny sides explicitly")
    hinted.foreach { c =>
      val tiny = c.find(_.isInstanceOf[Aggregate]).isDefined ||
        c.collectLeaves().forall(_.isInstanceOf[LocalRelation])
      assert(tiny, s"hinted side must be the weights literal or an aggregate, got:\n$c")
    }
  }

  test("q5: only O(1)-size dims (region/nation) carry explicit broadcast hints") {
    // structural check on the OPTIMIZED logical plan: explicit hints resolve
    // to ResolvedHint nodes before AQE; customer/supplier must carry none
    val analyzed = CoreQueries.q5JoinRegion(spark, dir).queryExecution.optimizedPlan
    val hinted = analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.hint
    }
    // no assertion on AQE's runtime choice at tiny SF; the guarantee needed
    // is that WE only pin region/nation. The code carries two broadcast()
    // hints; both wrap subtrees reading region or nation only.
    val planStr = CoreQueries.q5JoinRegion(spark, dir).queryExecution.logical.toString
    val hintLines = planStr.linesIterator.filter(_.contains("UnresolvedHint BROADCAST")).size
    assert(hintLines <= 2)
    assert(hinted.nonEmpty)
  }

  test("q72: span mining shuffles 16-byte fingerprints, never the gram strings") {
    val plan = executed(TextQueries.q72RepeatSpans(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    val p = plan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).nonEmpty)
    // no exchange keyed on the gram string column g — only fingerprints
    // (h1/h2) and doc keys may partition
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("(g#")),
      s"the gram string must be fingerprinted before it reaches an exchange:\n$p")
  }

  test("q87: keep-one span scrub shares the fingerprint-shuffle discipline") {
    val plan = executed(TextQueries.q87SpanScrub(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    val p = plan.toString
    // same contract as q61/q72: the gram string never partitions an
    // exchange — the canonical-doc min rides the fingerprint aggregation
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("(g#")),
      s"the gram string must be fingerprinted before it reaches an exchange:\n$p")
  }

  test("q73: fixed query terms prune at the scan; corpus stats broadcast back") {
    // the term semi-join and the df/stats/query joins are all bounded by
    // the fixed workload — every one must be a broadcast, and nothing may
    // degenerate to a cartesian product
    val plan = executed(TextQueries.q73Bm25(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "the 1-row stats crossJoin must resolve as a broadcast nested loop")
    val p = plan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bhj >= 3 && bnlj >= 1,
      s"terms/df/queries must ride broadcast hash joins (got $bhj) and the " +
        s"1-row stats a broadcast nested loop (got $bnlj):\n$p")
  }

  test("q75: the frozen-weights model is scan-speed algebra — no hash shuffle at all") {
    // the weights live in the instruction stream: no model table, no join,
    // no aggregation — only the output sort may exchange
    val p = executed(TextQueries.q75QualityModel(spark, dir)).toString
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("q76: every funnel exchange is keyed on user_id — stages share one partitioning") {
    val plan = executed(EventQueries.q76Funnel(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    val bad = plan.toString.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("user_id")).toSeq
    assert(bad.isEmpty,
      "a non-user_id hash exchange breaks the shared-partitioning chain:\n" +
        bad.mkString("\n"))
  }

  test("q90: weighted sample is TakeOrdered over a narrow scan — no sort, no hash shuffle") {
    // priorities are computed in the scan projection; top-50 must run as
    // per-partition partial top-k (TakeOrderedAndProject), never a global
    // sort — THE property that lets a weighted subsample run at 100 TB
    val p = executed(TextQueries.q90WeightedSample(spark, dir)).toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "the pick phase must not shuffle the corpus:\n" + p)
  }

  test("q91: sketch and exact branches each merge in ONE token-keyed exchange") {
    val plan = executed(TextQueries.q91HeavyHitters(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "the 1-row total must ride a broadcast nested loop, not a cartesian")
    val p = plan.toString
    // token-keyed shuffles: the Misra-Gries union-merge + the exact agg
    // (partial aggs below each); nothing else may shuffle by token
    val tokenEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("token"))
    assert(tokenEx <= 3, s"unexpected extra token shuffles ($tokenEx):\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "both branches need map-side partial aggregation:\n" + p)
  }

  test("q92: PQ encode/score stays native and broadcasts only the query side") {
    val p = executed(VectorQueries.q92AnnPq(spark, dir)).toString
    assert(p.contains("graft_nearest_centroid"),
      "PQ codes must come from the codegen'd argmin expression:\n" + p)
    assert(p.contains("graft_dot"), "ADC scoring must use the native dot:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      "the k queries are the broadcast side (q25's shape):\n" + p)
    // the only permissible hash exchange is the top-k window's q_id
    // repartition — O(queries·k) candidate rows; the corpus itself
    // (vec_id-keyed) must never shuffle
    val bad = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("q_id")).toSeq
    assert(bad.isEmpty,
      "encode+score must not shuffle the corpus:\n" + bad.mkString("\n"))
  }

  test("q93: both robust-stats tables broadcast back into the flag scan") {
    val p = executed(EventQueries.q93Outliers(spark, dir)).toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "median and MAD tables are O(|types|) — they must broadcast:\n" + p)
  }

  test("q94: one event_type-keyed exchange feeds agg AND all 8 lag windows") {
    val p = executed(EventQueries.q94EwmaTrend(spark, dir)).toString
    // groupBy(event_type, day) then Window(partitionBy event_type): the
    // window must NOT add a second hash exchange beyond the agg's
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"lag chain re-shuffled ($hashEx exchanges):\n$p")
    assert("Window".r.findAllIn(p).nonEmpty)
  }

  test("q97: the keyless range join runs as a broadcast EQUI join on the bin") {
    val plan = executed(EventQueries.q97RangeBinJoin(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "a keyless range join must bin, never go cartesian")
    val p = plan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("bin"),
      "window-bins must broadcast into the event scan as an equi join:\n" + p)
    // the event side's only exchange is the final O(windows) aggregation
    assert(!p.contains("SortMergeJoin"),
      "the event scan must not shuffle for the join itself:\n" + p)
  }

  test("q98: octile boundaries ride 1-row broadcasts; no cartesian, no merge join") {
    val plan = executed(EventQueries.q98EquidepthHist(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "the 1-row boundary table must broadcast")
    val p = plan.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2,
      "both boundary cross joins should be broadcast nested loops:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q101: the join exchanges key on (key, salt) and stay shuffled, not broadcast") {
    val plan = executed(EventQueries.q101SaltedJoin(spark, dir))
    val p = plan.toString
    // the whole point: the fact exchange hashes on BOTH the join key and
    // the salt, so one hot user_id spreads over R reducer tasks
    val saltedEx = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        l.contains("user_id") && l.contains("salt")).toSeq
    assert(saltedEx.nonEmpty,
      "fact side must exchange on (user_id, salt):\n" + p)
    // the shuffled-join shape the technique exists for (a broadcast of the
    // replicated dim would collapse the salted exchange)
    assert(p.contains("ShuffledHashJoin"),
      "salted join must run as a shuffled join:\n" + p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("q102: incremental dedup exchanges only on doc_id or fp; no cartesian") {
    val plan = executed(TextQueries.q102IncrDedup(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    val p = plan.toString
    // delta detection keys on the pk, index build + probe on the
    // fingerprint — nothing may shuffle on anything wider
    val bad = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        !l.contains("doc_id") && !l.contains("fp")).toSeq
    assert(bad.isEmpty, "unexpected exchange key:\n" + bad.mkString("\n"))
  }

  test("q104: the postings self-join is token-keyed — never cartesian") {
    val plan = executed(TextQueries.q104SparseCosine(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "sparse cosine must pair through the inverted index, not all-pairs")
    val p = plan.toString
    // every keyed exchange is on the token (postings), the pair, or the
    // doc — the Σ df² bound depends on the join running on token alone
    val bad = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        !l.contains("token") && !l.contains("doc")).toSeq
    assert(bad.isEmpty, "unexpected exchange key:\n" + bad.mkString("\n"))
  }

  test("q108: entropy is one narrow HOF pass — zero hash shuffles, zero explodes") {
    val plan = executed(TextQueries.q108CharEntropy(spark, dir))
    val p = plan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      "alphabet counts and grid terms live in transform/aggregate HOFs " +
        "over the scan — the (doc,char) explode-and-groupBy shape this " +
        "replaces would shuffle a row per character class")
    assert(!p.contains("Generate "), "no explode may appear — the alphabet is a literal array")
  }

  test("q111: only the O(1) totals row broadcasts; count joins shuffle by token keys") {
    val plan = executed(TextQueries.q111PmiCollocations(spark, dir))
    val p = plan.toString
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    // corpus-derived count tables must exchange (q37's rule) — the single
    // BroadcastNestedLoopJoin/broadcast is the hinted 1-row totals
    val bad = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        !l.contains("w1") && !l.contains("w2") && !l.contains("w#")).toSeq
    assert(bad.isEmpty, "unexpected exchange key:\n" + bad.mkString("\n"))
  }

  test("q112: pair expansion rides the shingle-keyed join — never cartesian") {
    val plan = executed(TextQueries.q112SourceOverlap(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "source pairs must come from shared-shingle postings, not |S|x|S| all-pairs")
  }

  test("q116: filter pushdown and column pruning reach the ORC scan like the parquet one") {
    val s = leaves(CoreQueries.q116OrcScan(spark, dir))
    assert(s.toLowerCase.contains("orc"), "the read side must be the ORC source:\n" + s)
    assert(s.contains("PushedFilters") && s.contains("event_type"),
      "the type filter must reach the ORC scan:\n" + s)
    assert(!s.contains("event_id"),
      "event_id is written but unused — the read schema must prune it:\n" + s)
  }

  test("q125: filter pushdown and column pruning reach the Avro scan like the ORC one") {
    val s = leaves(CoreQueries.q125AvroRoundtrip(spark, dir))
    assert(s.toLowerCase.contains("avro"), "the read side must be the Avro source:\n" + s)
    assert(s.contains("PushedFilters") && s.contains("event_type"),
      "the type filter must reach the Avro scan:\n" + s)
    assert(!s.contains("event_id") && !s.contains("props"),
      "event_id/props are written but unused — the read schema must prune them:\n" + s)
  }

  test("q127: band-blocked pairs never cartesian; the scan prunes to doc_id+text") {
    val plan = executed(MultimodalQueries.q127ImageNearDup(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "perceptual near-dup must pair within band buckets, never all media pairs")
    // the hash relation is persisted (guard + join share one scan), so the
    // file scan to audit lives inside the InMemoryRelation's cached plan
    val nodes = deepNodes(plan)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
      "the guarded path must reuse the persisted hash relation")
    val s = nodes.filter(_.children.isEmpty).map(_.toString).mkString("\n")
    assert(s.contains("doc_id") && s.contains("text"),
      "the media synth needs doc_id+text:\n" + s)
    assert(!s.contains("lang") && !s.contains("source") && !s.contains("n_chars"),
      "unused document columns must be pruned from the scan:\n" + s)
  }

  test("q271: verdicts reuse the persisted hash pass; no cartesian anywhere") {
    val plan = executed(MultimodalQueries.q271ImageNearDupVerdicts(spark, dir))
    val nodes = deepNodes(plan)
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
      "canonical-level near-dup must pair within band buckets")
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
      "the guarded verdict path must reuse the persisted relations")
  }

  test("q95: contract validation is ONE lineitem scan, all rules as conditional sums") {
    val p = executed(CoreQueries.q95ContractCheck(spark, dir)).toString
    // 9 rules -> 9 branches of a unioned 1-row aggregate, but each branch
    // re-reads only the single shared scan's columns; no rule may induce a
    // hash shuffle (single-row partial aggs exchange as SinglePartition)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "a contract rule induced a keyed shuffle:\n" + p)
  }

  test("q129: the split assignment adds ZERO exchanges over q40's clustering") {
    def hashEx(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
    val q40 = executed(TextQueries.q40DedupClusters(spark, dir)).toString
    val q129 = executed(TextQueries.q129LeakageSplit(spark, dir)).toString
    assert(hashEx(q129) == hashEx(q40),
      s"the md5 fence must be a narrow projection over q40's labels: " +
        s"q40=${hashEx(q40)} vs q129=${hashEx(q129)} exchanges")
  }

  test("q130: corpus-sized work is one token-keyed shuffle; top-20 is TakeOrdered") {
    val p = executed(TextQueries.q130BpeMerges(spark, dir)).toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "exactly the token-count and pair-count exchanges:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be a partial top-k, not a global sort:\n" + p)
    assert(!p.contains("Exchange rangepartitioning"),
      "no global sort anywhere:\n" + p)
  }

  test("q131: assignment is the codegen'd argmin; only k-row/1-row sides broadcast") {
    val p = executed(VectorQueries.q131EmbeddingDrift(spark, dir)).toString
    assert(p.contains("graft_nearest_centroid"),
      "cell assignment must be the native per-row argmin, not a centroid join:\n" + p)
    // two snapshots -> two cell-keyed partial-agg exchanges; totals are
    // 1-row SinglePartition aggs that then broadcast into the k-row join
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "exactly the two cell-count exchanges:\n" + p)
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "both occupancy counts must fold map-side before their exchange:\n" + p)
  }

  test("q132: both windows and the run aggregation share ONE media-keyed exchange") {
    val p = executed(MultimodalQueries.q132AudioSegments(spark, dir)).toString
    assert(p.contains("graft_byte_energy"),
      "frame energy must be the native codegen'd loop:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "the media_id partitioning must serve the (media_id, silent) window " +
        "and the run groupBy without re-shuffling:\n" + p)
  }

  test("q139: every rank join is a hash join probing the pinned edges — never a per-iteration sort") {
    val p = executed(CoreQueries.q139PageRank(spark, dir)).toString
    assert(p.contains("ShuffledHashJoin"),
      "the O(V) rank table must be the hash-join build side:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge rank join re-sorts the O(E) edge relation every " +
        "iteration (measured 4x slower at x10):\n" + p)
    assert(executed(CoreQueries.q139PageRank(spark, dir))
      .collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q140: the dense grid rides a 1-row broadcast; the corpus shuffles once") {
    val df = EventQueries.q140GapFill(spark, dir)
    val p = executed(df).toString
    assert(p.contains("BroadcastNestedLoop") || p.contains("BroadcastExchange"),
      "global bounds must broadcast (1 row), never shuffle the grid:\n" + p)
    assert(p.contains("explode") || p.contains("Generate"),
      "grid hours come from sequence+explode, not a data scan:\n" + p)
  }

  test("q143: checksums are scan+aggregate only — no joins, no row-data shuffle") {
    val plan = executed(CoreQueries.q143TableChecksum(spark, dir))
    val p = plan.toString
    assert(!p.contains("Join"), "a replica fingerprint must not join:\n" + p)
    // only the 48-group aggregate exchanges; every input row stays local
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      "one partial->final agg exchange per table at most:\n" + p)
    assert("HashAggregate".r.findAllIn(p).size >= 6,
      "map-side partial sums must fold rows before any exchange:\n" + p)
  }

  test("q144: the census joins are all keyed — never cartesian") {
    val plan = executed(CoreQueries.q144Triangles(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "wedge and closing joins must ride (src)/(x,y) keys")
  }

  test("q145: cuts ride the native energy scan and one media-keyed window exchange") {
    val p = executed(MultimodalQueries.q145SceneCuts(spark, dir)).toString
    assert(p.contains("graft_byte_energy"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "one media_id exchange serves the lag window:\n" + p)
  }

  test("q146: the regression collapses map-side before its single hour shuffle") {
    val p = executed(EventQueries.q146GroupTrend(spark, dir)).toString
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "partial (type, hour) aggregation must precede the exchange:\n" + p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q152: the corpus-level window is bucket-partitioned — the global window sees only the bucket table") {
    val p = executed(TextQueries.q152TokenBudget(spark, dir)).toString
    assert(p.contains("windowspecdefinition(bkt#") ||
      p.contains("Window [sum") && p.contains("[bkt#"),
      "the per-doc running sum must partition by the score bucket:\n" + p)
    // the only SinglePartition work is the <=101-row offsets window (and
    // nothing doc-sized): every doc-level operator rides hashpartitioning
    assert(p.contains("hashpartitioning(bkt#") || p.contains("hashpartitioning(bkt"),
      "doc rows must exchange on the bucket key, never into one partition:\n" + p)
  }

  test("q153/q154: the carry-forward and balance plans are ONE user-keyed exchange each") {
    for (df <- Seq(EventQueries.q153Attribution(spark, dir),
                   EventQueries.q154ClampedBalance(spark, dir))) {
      val p = executed(df).toString
      assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 2,
        "window and aggregate must share the user partitioning:\n" + p)
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q161: all four grouping sets ride one Expand + partial aggregation") {
    val p = executed(CoreQueries.q161GroupingSets(spark, dir)).toString
    assert(p.contains("Expand"),
      "grouping sets must expand once, not scan four times:\n" + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "map-side partial agg must precede the exchange:\n" + p)
  }
  test("q182/q188/q193: corpus ranks are bucket-partitioned — no corpus-sized single-partition window") {
    for (df <- Seq(CoreQueries.q182Gini(spark, dir),
                   CoreQueries.q188Gains(spark, dir),
                   CoreQueries.q193Rfm(spark, dir))) {
      val p = executed(df).toString
      // every row_number over the corpus partitions by its bucket key;
      // SinglePartition windows exist only over the tiny bucket/decile tables
      assert(p.contains("hashpartitioning(bucket") ||
        p.contains("hashpartitioning(__b"),
        "corpus rows must exchange on the bucket key:\n" + p)
    }
  }

  test("q189: candidate generation broadcasts only the per-label query vectors; no cartesian") {
    val plan = executed(VectorQueries.q189Mmr(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "the rel join must ride the label key")
    // AQE wraps exchanges in QueryStageExec leaves — string-match instead
    assert(plan.toString.contains("BroadcastHashJoin"),
      "the |labels|-row query-vector side must broadcast")
  }

  test("q190/q192: the policy tables broadcast; postings/domains never cartesian") {
    for (df <- Seq(TextQueries.q190Blocklist(spark, dir),
                   TextQueries.q192PhraseQuery(spark, dir))) {
      val plan = executed(df)
      assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
      assert(plan.toString.contains("BroadcastHashJoin"),
        "blocklist/phrase tables are policy-sized and must broadcast")
    }
  }

  test("q196: the audited-part predicate pushes below the pair expansion") {
    val s2 = leaves(CoreQueries.q196RelatedItems(spark, dir))
    assert(s2.contains("PushedFilters") && s2.contains("l_partkey"),
      "part < 50 must reach the u-side scan:\n" + s2)
    val plan = executed(CoreQueries.q196RelatedItems(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q219/q221: the redaction/canonicalization passes are join-free projections") {
    for (df <- Seq(TextQueries.q219PiiRedact(spark, dir),
                   TextQueries.q221UrlCanonical(spark, dir))) {
      val p = executed(df).toString
      assert(!p.contains("Join"),
        "per-row string pipelines must never join:\n" + p)
    }
    // q221's dedup partial-aggregates before its one exchange
    val p21 = executed(TextQueries.q221UrlCanonical(spark, dir)).toString
    assert("HashAggregate".r.findAllIn(p21).size >= 2)
  }

  test("q222/q230: the user-keyed window and fold share one user_id exchange") {
    for (df <- Seq(EventQueries.q222BotScore(spark, dir),
                   EventQueries.q230Streaks(spark, dir))) {
      val p = executed(df).toString
      assert(p.contains("hashpartitioning(user_id"),
        "corpus rows must exchange on user_id:\n" + p)
      assert(plan_noCartesian(df))
    }
  }

  test("q223: FIFO rides one l_partkey partitioning — window and fold co-keyed") {
    val p = executed(CoreQueries.q223FifoCost(spark, dir)).toString
    assert(p.contains("hashpartitioning(pk"),
      "lot window and fold must share the pk exchange:\n" + p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q224/q227: iterative graph rounds never cartesian and never rescan the base join") {
    for (df <- Seq(CoreQueries.q224Khop(spark, dir),
                   CoreQueries.q227Kcore(spark, dir))) {
      val plan = executed(df)
      assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
      // the pinned edge relation surfaces as in-memory scans, so the
      // orders-lineitem base join must not appear once per round
      assert(!plan.toString.contains("o_orderkey"),
        "rounds must consume the pinned edges, not re-derive them:\n" + plan)
    }
  }

  test("q225: the snapshot diff is one co-partitioned full outer join") {
    val p = executed(CoreQueries.q225SnapshotDiff(spark, dir)).toString
    assert(p.contains("FullOuter"), "diff must be a full outer join:\n" + p)
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q226: candidates ride the block-key equi join, never all pairs") {
    val plan = executed(CoreQueries.q226EditdistJoin(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "the self-join must key on the block prefix")
  }

  test("q232: the deletion list is the broadcast side of every audit join") {
    val p = executed(CoreQueries.q232ForgetAudit(spark, dir)).toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "per-table audits must broadcast the tiny deletion list:\n" + p)
    assert(!p.contains("CartesianProduct"))
  }

  private def plan_noCartesian(df: DataFrame): Boolean =
    executed(df).collect { case c: CartesianProductExec => c }.isEmpty

  test("q237: the final pass consumes only the pinned distance state") {
    // the per-round relaxation joins execute INSIDE the localCheckpoint
    // materializations (the q70 plan-cut effect), so the final plan must
    // be a scan of the pinned O(V) state — no cartesian, no re-derivation
    // of the base orders-lineitem join, nothing corpus-sized left to run
    val plan = executed(CoreQueries.q237Sssp(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(!plan.toString.contains("o_orderkey"),
      "the output must consume the pinned state, not re-derive it:\n" + plan)
    assert(plan.toString.contains("ExistingRDD"),
      "the distance table must be localCheckpoint-pinned:\n" + plan)
  }

  test("q238/q239: the corpus folds to the matrix/propensity tables before any iteration") {
    // both plans: corpus-side scans feed aggregations; the chain/estimator
    // algebra must never join back to the events scan
    for (df <- Seq(EventQueries.q238MarkovConversion(spark, dir),
                   EventQueries.q239IpsEval(spark, dir))) {
      val plan = executed(df)
      assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
      val scans = plan.collectLeaves().map(_.toString)
        .count(_.contains("events.parquet"))
      assert(scans <= 1, s"the corpus must be scanned once, saw $scans")
    }
  }

  test("q240: the Gram fold is one narrow explode + map-side partial aggregation") {
    val p = executed(VectorQueries.q240EmbedGram(spark, dir)).toString
    assert(!p.contains("Join"), "the co-moment pass has no joins:\n" + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "cells must partially aggregate map-side before the exchange:\n" + p)
  }

  test("q241: open/close marking and the bar fold share one (type,hour) exchange") {
    val p = executed(EventQueries.q241OhlcBars(spark, dir)).toString
    // one shuffle keyed on the bar: the window sort and the aggregation
    // reuse it — no second corpus-sized exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "window and fold must share the bar partitioning:\n" + p)
  }

  test("q245: the pairwise slope join runs on the daily fold, not the corpus") {
    val plan = executed(CoreQueries.q245TheilSen(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "pair generation must key on the flag")
    val p = plan.toString
    // the corpus is scanned exactly once, behind the daily checkpoint —
    // the final plan's leaves are the pinned daily/slope relations
    assert(!plan.collectLeaves().map(_.toString)
        .exists(_.contains("lineitem.parquet")),
      "the corpus scan must be pinned behind the daily localCheckpoint")
    // the median sort is bucket-decomposed: the row_number window
    // partitions by (rf, bucket), never by the flag alone
    assert("""windowspecdefinition\(rf#\d+, bucket#\d+""".r
        .findFirstIn(p).isDefined,
      "median selection must rank within (rf, bucket):\n" + p)
    assert(!("""windowspecdefinition\(rf#\d+, slope_e6#\d+""".r
        .findFirstIn(p).isDefined),
      "no per-flag global rank over all slopes may remain:\n" + p)
    // the two-pass pick: only the rank-t bucket's slopes meet a row_number
    // sort; no aggregate collects every bucket's slopes into an array
    assert("""row_number\(\) windowspecdefinition\(rf#\d+, bucket#\d+L, slope_e6#\d+L""".r
        .findFirstIn(p).isDefined && !p.contains("collect_list"),
      "the median must be picked by row_number within the rank-t bucket:\n" + p)
  }

  test("q242/q243: the ser/de passes are join-free scan pipelines") {
    for (df <- Seq(CoreQueries.q242FixedWidth(spark, dir),
                   EventQueries.q243VariantShred(spark, dir))) {
      val p = executed(df).toString
      assert(!p.contains("Join"), "ser/de must stay row-local:\n" + p)
    }
  }

  test("q251: both distinct aggregates ride one source-keyed exchange (multi-distinct Expand)") {
    val p = executed(TextQueries.q251DatasetCard(spark, dir)).toString
    assert(!p.contains("Join"), "the dataset card is one scan + one fold:\n" + p)
    assert(p.contains("Expand"),
      "two distincts must share the exchange via Expand, not two passes:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "one fold exchange (plus Expand's distinct exchange) at most:\n" + p)
  }

  test("q252: pagination executes as TakeOrdered, never a global sort") {
    val p = executed(CoreQueries.q252SortLimitOffset(spark, dir)).toString
    assert(p.contains("TakeOrderedAndProject"),
      "sort+offset+limit must run as per-partition top-(offset+limit):\n" + p)
  }

  test("q254: the label filter composes into the broadcast join, never post-filters scored pairs") {
    val plan = executed(VectorQueries.q254AnnFiltered(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    val p = plan.toString
    assert(p.contains("BroadcastHashJoin"),
      "queries broadcast into one corpus scan (the q25 shape):\n" + p)
    // label equality must be a JOIN key (pre-filter), not a Filter above
    // the join output — scored-pair count stays k-bounded per label
    assert(p.contains("label"),
      "the label constraint must appear in the join:\n" + p)
  }

  test("q255/q256: malformed-CSV fold and the capped DP release stay single-exchange") {
    val p255 = executed(CoreQueries.q255CsvMalformed(spark, dir)).toString
    assert(!p255.contains("Join"), "ser/de tolerance is row-local:\n" + p255)
    val p256 = executed(
      PrivacyQueries.q256DpContribBound(spark, dir)).toString
    assert(!p256.contains("Join"),
      "cap + histogram + noise need no joins:\n" + p256)
    assert("HashAggregate".r.findAllIn(p256).size >= 2,
      "the histogram must partially aggregate map-side:\n" + p256)
  }

  test("q260: the SQL function body inlines — no UDF call survives in the physical plan") {
    val p = executed(CoreQueries.q260SqlUdf(spark, dir)).toString
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "a SQL function must inline, never execute as a code UDF:\n" + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "after inlining this is q1's map-side-partial shape:\n" + p)
  }

  test("q261/q262: quota broadcast and single user-keyed carry exchange") {
    val p261 = executed(TextQueries.q261ClassRebalance(spark, dir)).toString
    assert(p261.contains("Broadcast"),
      "the 1-row quota must broadcast, never shuffle the corpus against it:\n" + p261)
    val p262 = executed(EventQueries.q262AsofTtl(spark, dir)).toString
    // two exchanges total: the click-side (user, ms) dedup fold and the
    // user-keyed carry window — never a third, and never a range join
    assert("Exchange hashpartitioning".r.findAllIn(p262).size <= 2,
      "the AS-OF carry adds no exchange beyond dedup + carry (q44's shape):\n" + p262)
    assert(!p262.contains("CartesianProduct") &&
      !p262.contains("BroadcastNestedLoop"),
      "the TTL AS-OF must never degenerate to a range join:\n" + p262)
  }

  test("q263: both island windows and both folds share one user_id exchange — never an interval self-join") {
    val plan = executed(EventQueries.q263IntervalCoverage(spark, dir))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty)
    val p = plan.toString
    assert(!p.contains("Join"), "coverage merge is window algebra, not an overlap join:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "windows and folds must reuse the user_id partitioning:\n" + p)
  }

  test("q246/q247/q248: conformance sweeps are join-free single-fold pipelines") {
    val q246 = executed(CoreQueries.q246StringConformance(spark, dir)).toString
    assert(!q246.contains("Join"), "string sweep is row-local:\n" + q246)
    for (df <- Seq(CoreQueries.q247BitwiseAgg(spark, dir),
                   CoreQueries.q248RegexExtract(spark, dir))) {
      val p = executed(df).toString
      assert(!p.contains("Join"), "fold pipelines have no joins:\n" + p)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        "the fold must partially aggregate map-side:\n" + p)
    }
  }

}
