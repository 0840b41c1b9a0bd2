package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}

/** Plan dumps on 4 local cores, each query run once so AQE finalizes;
  * plan SHAPE is the evidence, so sf0.001 is the default data dir.
  *
  * `sbt "runMain graft.tools.DumpPlans"` regenerates PLANS.md: the executed
  * (post-AQE) physical plans of the scale-critical queries, for review
  * without a cluster. Run it after changing any query.
  *
  * `sbt "runMain graft.tools.DumpPlans <outDir> <suffix> q1,q2,..."` writes
  * `<outDir>/<q>_<suffix>.txt` per named query instead: the pre-execution
  * formatted explain (PushedFilters, ReadSchema) and the executed plan
  * (final join strategies, exchange count) — the before/after evidence
  * for a touched entry, from SPARK_GRAFT_SF_DIR if set. */
object DumpPlans {
  private val Picked = Seq(
    "q1_agg"            -> "partial agg below the exchange; pushed filter",
    "q2_filter_project" -> "predicate + projection pushdown to the scan",
    "q3_join_agg"       -> "no forced broadcast of SF-scaling customer",
    "q5_join_region"    -> "broadcast ONLY on O(1) dims region/nation",
    "q24_dedup_minhash" -> "bucketed LSH: no self-join, no cartesian product",
    "q25_ann_topk"      -> "k queries broadcast; WindowGroupLimit top-k; native graft_dot",
    "q26_embed_neardup" -> "label x frozen-quantizer-cell blocked similarity join (assignment in-scan)",
    "q30_ann_ivf"       -> "IVF: probe join, centroid assignment in-scan",
    "q45_approx_stats"  -> "sketch aggregates: one partial-aggregable pass, fixed-size state",
    "q46_interval_join" -> "interval join: equi-shuffle on user_id, range as join residual",
    "q47_training_prep" -> "corpus prep: narrow score+filter, ONE hash shuffle (fp), narrow sample",
    "q51_range_frame"   -> "RANGE frame: one shuffle on user_id, sliding frame state",
    "q52_ngram_jaccard" -> "prefix-filter join: int postings, no cartesian, checkpointed gid sets",
    "q53_winnow_fingerprint" -> "winnowing: one narrow codegen pass (graft_winnow), zero shuffles",
    "q54_ann_lsh"       -> "LSH ANN: constant-plane signature in-scan, broadcast query probe",
    "q63_decontaminate" -> "fixed-size eval gram set broadcasts; corpus side never shuffles grams",
    "q64_semdedup"      -> "frozen-quantizer cell assignment in-scan; cell-blocked pair join",
    "q65_cdc_chunk"     -> "content-defined chunking: zero-shuffle narrow span building",
    "q66_dsir_weights"  -> "256-bucket weight table broadcasts; one bucket-keyed count shuffle",
    "q67_ann_sq8"       -> "SQ8 quantize/dequantize in-scan; q25 broadcast search shape",
    "q68_bigram_ppl"    -> "corpus-derived LM tables shuffle; only the 1-row vocab broadcasts",
    "q69_bucketed_join" -> "co-bucketed scans join with no exchange on the bucket key",
    "q70_fuzzy_match"   -> "simhash-blocked pairing, rebalanced before the levenshtein verify",
    "q72_repeat_spans"  -> "gram mining shuffles 128-bit fingerprints; islands window per doc",
    "q73_bm25"          -> "fixed terms prune at the scan; df/stats broadcast back",
    "q74_hybrid_rrf"    -> "two top-K retrievers fused; fusion join is fixed-size",
    "q75_quality_model" -> "frozen-weights scoring: zero shuffles, weights in the instruction stream",
    "q76_funnel"        -> "three stage aggs chained on ONE user_id partitioning",
    "q79_curriculum"    -> "quartile boundaries broadcast; assignment is integer compares, not NTILE",
    "q80_table_stats"   -> "per-column two-level dedup aggs over pruned scans; no expand",
    "q81_fk_audit"      -> "one anti-join per FK, folded to 1-row aggregates",
    "q83_cohort_retention" -> "cohort min-agg + activity join share the user_id key",
    "q87_span_scrub"    -> "shared fingerprint mining + canonical min; keep-one filter; doc-keyed reassembly",
    "q88_vocab_drift"   -> "two token-count shuffles, |V| full-outer join, broadcast totals, pruned top-20",
    "q90_weighted_sample" -> "A-ES priorities in-scan; TakeOrderedAndProject — no sort, no shuffle",
    "q91_heavy_hitters" -> "mapPartitions Misra-Gries; union-merge + exact agg, both map-side partial",
    "q92_ann_pq"        -> "PQ codes via m in-scan argmins; reconstruct + broadcast-query ADC score",
    "q93_outliers"      -> "median/MAD tables broadcast back into the flag scan",
    "q94_ewma_trend"    -> "one (type,day) agg; all 8 lags on one event_type window partitioning",
    "q95_contract_check" -> "ONE lineitem scan; 9 conditional-sum rules folding to a single row",
    "q97_range_bin_join" -> "keyless range join binned: broadcast equi join on the hour bin + residual",
    "q98_equidepth_hist" -> "octile boundaries as 1-row broadcasts; integer bucket membership",
    "q121_ann_ivf_rerank" -> "composed serving path: probe/ADC/refine — three broadcasts, corpus scanned once",
    "q127_image_neardup" -> "auto-width banded pHash blocking over the persisted hash pass; band-keyed pair join, never cartesian",
    "q129_leakage_split" -> "cluster-keyed split: md5 fence is a narrow projection over q40's labels",
    "q130_bpe_merges"   -> "corpus folds to (token, n) once; pair work is vocab-sized; TakeOrdered top-20",
    "q131_embedding_drift" -> "two in-scan assignment passes fold to k cells; totals broadcast",
    "q132_audio_segments" -> "native byte-energy in-scan; windows + run agg on ONE media_id exchange",
    "q139_pagerank"     -> "5 rank rounds: SHUFFLE_HASH probes the pinned src-partitioned edges — no per-iteration sort",
    "q140_gap_fill"     -> "1-row bounds broadcast generates the grid; corpus shuffles once on (type, hr)",
    "q143_table_checksum" -> "join-free: three scans with map-side partial lane sums, 48-row output",
    "q144_triangles"    -> "degree-oriented wedges: co-partitioned (src) self-join + one (x,y) closing probe",
    "q145_scene_cuts"   -> "native energy in-scan; one media_id exchange serves the lag window",
    "q146_group_trend"  -> "map-side (type, hr) collapse; regression is 5 int64 sums per type",
    "q148_cuped"        -> "one user-keyed fold; pooled 1-row aggregate broadcasts into the 2-row variant agg",
    "q149_time_to_convert" -> "two user-keyed min-aggs + same-key join; percentiles over per-user durations",
    "q152_token_budget" -> "global prefix sum decomposed: bucket-partitioned doc windows, global window on the tiny bucket table only",
    "q153_attribution" -> "one user-keyed carry-forward; the ASOF semantics never build a range join",
    "q156_share_rollup" -> "fact-side e2 fold behind broadcast dims; ratio windows on the 25-row aggregate",
    "q161_grouping_sets" -> "one Expand (x4 sets) + map-side partial agg, single exchange",
    "q162_unpivot" -> "melt is a row-local Expand after the order-keyed fold — no extra exchange",
    "q164_record_linkage" -> "digit-tail block join only — never A x B; weights in the instruction stream",
    "q182_gini" -> "bucket-decomposed global rank: corpus rows exchange on the revenue bucket, global window on the bucket table only",
    "q186_stratified_split" -> "quota table (3/stratum) broadcasts; ranks ride (stratum, hash-bucket) partitioned windows",
    "q189_mmr" -> "per-label query vectors broadcast into one corpus scan; greedy on pools capped at 100 inside flatMapGroups",
    "q190_blocklist" -> "policy list broadcasts on the reversed-suffix block key + residual suffix verify",
    "q192_phrase_query" -> "positional postings; both sides semi-filter on broadcast term lists before the adjacency shuffle",
    "q193_rfm" -> "three domain-bucketed ranks; quintiles are integer arithmetic over broadcast prefix tables",
    "q196_related_items" -> "audited-part predicate pushed below the within-order pair expansion; per-part top-5 windows",
    "q220_decontam" -> "eval shingles vs distinct train shingles: one shingle-keyed shuffle, eval-sized join output",
    "q223_fifo_cost" -> "FIFO closed form: lot window and fold share ONE l_partkey partitioning",
    "q224_khop" -> "3 frontier hops probe the pinned src-partitioned edges; anti-join keys on node",
    "q226_editdist_join" -> "block-prefix equi join; 4-cell tail DP via the prefix-stripping lemma",
    "q227_kcore" -> "3 peel rounds: degree fold + two semi-joins per round over the pinned shrinking edges",
    "q230_streaks" -> "islands by day - dense_rank: one user_id exchange serves window and both folds",
    "q232_forget_audit" -> "every audit join broadcasts the deletion list; per-table 1-row folds",
    "q237_sssp" -> "4 min-plus relaxation rounds: SHUFFLE_HASH O(V) distance probes of the pinned weighted edges",
    "q238_markov_conversion" -> "corpus folds to the transition matrix on ONE user_id partitioning; 6 chain rounds on the O(1) matrix",
    "q240_embed_gram" -> "join-free: 36-cell narrow explode + map-side partial agg, one tiny exchange",
    "q241_ohlc_bars" -> "open/close marking and the bar fold share one (type,hour) exchange",
    "q245_theil_sen" -> "daily fold map-side FIRST (checkpoint-pinned); bucket-decomposed median selection — the rank window partitions by (rf, bucket), never one task per flag",
    "q251_dataset_card" -> "one scan; both distincts ride one source-keyed exchange via Expand",
    "q252_sort_limit_offset" -> "TakeOrderedAndProject: offset+limit rows per partition, no global sort",
    "q254_ann_filtered" -> "label equality INSIDE the broadcast join — pre-filter, scored pairs k-bounded per label",
    "q256_dp_contrib_bound" -> "user-keyed cap window + map-side histogram; noise is one scalar per output group",
    "q271_image_neardup_verdicts" -> "exact-hash class collapse (one group-by) before ANY join; canonical-only band join; one verdict row per media row")

  /** q70's public query localCheckpoints right after the verify, which cuts
    * the executed plan at the checkpoint scan — dump its candidate stage
    * instead (the join + rebalance shape is what the note describes). */
  private val PlanOf: Map[String, (SparkSession, String) => DataFrame] =
    Map("q70_fuzzy_match" -> ((s, d) => graft.queries.TextQueries.fuzzyCandidates(s, d)),
        "q88_vocab_drift" -> ((s, d) => graft.queries.TextQueries.vocabDriftJoined(s, d)))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("4", "dump-plans")
    val sf = "/root/testdata/sf0.001"
    args match {
      case Array() => writePlansMd(spark, sf)
      case Array(outDir, suffix, names) =>
        dumpEach(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sf), Paths.get(outDir),
          suffix, names.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case _ => sys.error("usage: DumpPlans [<outDir> <suffix> q1,q2,...]")
    }
    spark.stop()
  }

  private def writePlansMd(spark: SparkSession, sf: String): Unit = {
    val sb = new StringBuilder
    sb ++= "# PLANS — executed physical plans of the scale-critical queries\n\n"
    sb ++= "Generated by `graft.tools.DumpPlans` at sf0.001 (plan SHAPE is what\n"
    sb ++= "matters; AQE finalized). Regenerate after query changes.\n"
    for ((name, note) <- Picked) {
      val df = PlanOf.getOrElse(name, SparkEntry.queries(name))(spark, sf)
      df.collect() // finalize AQE
      sb ++= s"\n## $name — $note\n\n```\n"
      sb ++= df.queryExecution.executedPlan.toString.take(6000)
      sb ++= "\n```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${Picked.size} queries)")
  }

  private def dumpEach(spark: SparkSession, sf: String, outDir: Path,
      suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(outDir)
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sf)
      val formatted = df.queryExecution.explainString(FormattedMode)
      df.collect() // finalize AQE so the executed plan is the real one
      val body = s"== $name ($suffix, ${Paths.get(sf).getFileName}) ==\n\n" +
        "---- explain(\"formatted\") ----\n" + formatted +
        "\n---- executed plan (post-AQE) ----\n" +
        df.queryExecution.executedPlan.toString + "\n"
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), body)
      println(s"[plans] wrote ${name}_$suffix.txt")
    }
  }
}
