package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.matching.Regex

/** Dumps formatted physical plans for the flagship queries to PLANS.md —
  * the at-scale design evidence (pushdown, broadcasts, partial aggregation,
  * bucket co-location, partition pruning, native expressions) in one
  * reviewable artifact. Run: `sbt "runMain graft.Plans"`.
  */
object Plans {
  // PlanDriftSpec re-derives each of these plans and compares the node
  // shape against the committed PLANS.md, so plan review happens at commit
  // time; regenerate with `sbt "runMain graft.Plans"` when a change is
  // intentional.
  private[graft] val flagship = Seq(
    "q02_filter" -> "filter pushed into the parquet scan (PushedFilters)",
    "q11_join_multi" -> "TPC-H Q5 shape: fact-side joins + broadcast dims",
    "q31_topk" -> "top-k: partial TakeOrdered, no global sort of the fact",
    "q45_ngram_jaccard" -> "shingle self-join keyed on (source, hash)",
    "q46_minhash_lsh" ->
      "band-keyed candidate join with signatures carried through, no broadcast",
    "q62_embed_neardup" -> "all-pairs BNLJ over the native graft_dot kernel",
    "q67_simhash_banded" -> "near-dup candidates from a band-bucket equi-join",
    "q105_simhash_banded16" ->
      "4×16-bit bands: same bucket equi-join shape, no corpus broadcast",
    "q68_neardup_rerank" ->
      "banded LSH candidates + exact re-rank, no BNLJ on the pair space",
    "q71_sessionize" -> "single shuffle on user_id, windowed scan",
    "q92_bucketed_join" -> "bucketed SMJ: zero join-side Exchange",
    "q93_partition_pruning" -> "PartitionFilters: directory-level pruning",
    "q94_incremental_dedup" ->
      "digest-keyed shuffled anti-join, seen-set never broadcast",
    "q96_shard_pack" -> "per-stratum running-sum window, no global sort",
    "q110_bloom_decontaminate" ->
      "bloom prefilter fused into the pre-Exchange gram filter + exact confirm",
    "q111_semdedup" ->
      "within-cluster pair equi-join behind one shared cid Exchange",
    "q112_minhash_calibration" ->
      "gram-keyed pair join + doc_id-keyed signature joins, no broadcast",
    "q113_cdc_chunks" ->
      "native one-pass chunker expression; only the fingerprint agg shuffles",
    "q115_frame_neardup" ->
      "dHash band-bucket equi-join over frames, no corpus broadcast",
    "q116_skew_aqe_join" ->
      "skewed fact join re-planned at runtime by AQE OptimizeSkewedJoin",
    "q118_span_scrub" -> ("gram-df combine → semi-join span starts → " +
      "per-doc window, 3 keyed shuffles, no corpus broadcast"),
    "q119_ann_ivfpq" ->
      "PQ/ADC: codebook broadcast over the 64x-narrower code scan",
    "q120_pq_recall" ->
      "shortlist-recall calibration: ADC top-k joined to exact top-k",
    "q125_ann_ivf_pq" -> ("IVF×PQ composed: broadcast probed-list join " +
      "restricts the ADC code scan before the per-neighbor aggregate"),
    "q121_bpe_merges" -> ("BPE pair counts per distinct word weighted " +
      "by frequency — vocab-not-corpus"),
    "q123_curation_audit" -> ("audit consume side: doc_id-keyed " +
      "membership joins over checkpointed stage ID sets"),
    // q122_stream_incremental_dedup is a streaming query (memory-sink
    // scan in batch explain) — its plan is pinned by StreamingResumeSpec
    // semantics, not here.
    "q117_curation_chain" -> ("five curation stages composed in one " +
      "plan (the shared derivation q117/q123 checkpoint once and both " +
      "consume)"),
    "q117_curation_pipeline" ->
      "consume side: select+sort over the checkpointed admitted frame",
    "q127_lm_score" ->
      "vocab-sized bigram LM broadcast over the scoring scan",
    "q128_sparse_cosine" ->
      "df-pruned posting-list self-join keyed on the gram hash",
    "q129_zorder_layout" ->
      "value-range Morton file assignment: no global rank/ntile window",
    "q130_scd2_merge" ->
      "one full-outer merge join; both SCD2 version rows from one Generate",
    // q131_pagerank's consume-side plan is a checkpoint scan + sort (its
    // per-round join/agg plans are transient, like the CC loop's) — the
    // round shape is documented in the query's Scaladoc instead.
    "q132_interval_join" -> ("grid-cell interval join: keyed equi-join on " +
      "(user, cell), exactly-once via the max-start cell, no BNLJ"),
    "q133_bm25" -> ("BM25: 10-row query broadcast over posting lists, " +
      "doc_id-keyed dl join, top-20 TakeOrdered"),
    "q134_triangle_count" -> ("degree-oriented wedge join + left-semi " +
      "closing-edge probe, all keyed, only the 1-row stats broadcast"),
    "q135_weighted_sample" -> ("ticket explode → map-side-combined min " +
      "agg → global top-k TakeOrdered, no full sort"),
    "q136_jaccard_prefix" -> ("prefix-token candidate equi-join + keyed " +
      "exact-intersection verify, no all-pairs product"),
    "q137_funnel" -> ("three ordered-stage aggregates riding one user_id " +
      "partitioning, left joins keep non-converters"),
    "q138_cohort" -> ("first-day agg + join on one user_id partitioning; " +
      "cell agg on (cohort, offset) is days²-sized"),
    "q139_sequence_pack" -> ("per-source running-sum window + codegen'd " +
      "window-span Generate, no global sort"),
    "q140_schema_evolution" -> ("mergeSchema union read: old files " +
      "null-fill the added column before one keyed agg"),
    "q141_approx_quantiles" -> ("one-pass mergeable quantile sketch: " +
      "partial+final agg, no window sort, no value buffering"),
    "q142_dataset_split" -> ("pure-projection md5 bucket split + one " +
      "small keyed agg; the split expr is the freeze partition column"),
    "q143_contamination_severity" -> ("both counting branches ride " +
      "grams5's shared g5 Exchange; bench set shuffled, never broadcast"),
    "q144_video_neardup" -> ("per-video majority vote in one keyed agg; " +
      "band-bucket equi-join over video signatures, no video×video product"),
    "q152_rrf_fusion" -> ("RRF: query-gram + query-vector broadcasts " +
      "over single corpus scans; rank windows on list-sized frames"),
    "q153_mutual_knn" -> ("mutual-kNN over PQ codes: (m, code) blocking " +
      "equi-join, broadcast SDC LUT, per-node rank window, mutual " +
      "semi-join — never a vector×vector product"),
    "q154_audio_neardup" -> ("landmark fingerprints: one doc_id window, " +
      "df-capped inverted-index self-join keyed on the landmark hash"),
    "q155_snapshot_diff" -> ("CDC: ONE key-keyed full-outer join, row " +
      "hashes computed map-side on each branch"),
    "q156_mad_outliers" -> ("two keyed rank-selection windows (value, " +
      "deviation) + broadcast 3-row medians — exact MAD"),
    "q157_sorted_neighborhood" -> ("within-noun rank window + " +
      "rank-arithmetic pair equi-join, pair count ≤ (w−1)·n by shape"),
    "q158_token_drift" -> ("one corpus-scale (side, tok) combine; " +
      "vocab-sized full-outer + 1-row totals broadcast, top-15 TakeOrdered"),
    "q159_late_interaction" -> ("MaxSim: 8-row query-bag broadcast over " +
      "one exploded scan; max-then-sum map-side-combined aggregates"),
    "q160_k_anonymity" -> ("per-level QI aggregate → 1-row rollup; " +
      "broadcast nation dim; group keys shuffle, never row data"),
    "q161_incremental_agg" -> ("IVM: base view + per-key delta " +
      "aggregates merged in one custkey-keyed full-outer join — batch " +
      "cost O(|delta|), never a fact rescan"),
    "q162_attribution" -> ("first/last-touch credit in ONE user_id " +
      "window with a strictly-preceding frame — no self-join"),
    "q163_adaptive_gate" -> ("per-source rank-selected cuts broadcast " +
      "over a map-only verdict pass"),
    "q164_detector_calibration" -> ("two edge-list frames, one keyed " +
      "full-outer merge, 1-row PR rollup"),
    "q165_group_trend_ols" -> ("exact OLS sums: min-day window and the " +
      "moment aggregate share ONE grp Exchange"),
    "q166_column_profiler" -> ("stack unpivot → (col,val)-keyed partial " +
      "dedup → per-column distinct/min/max, one scan any width"),
    "q167_inverted_index" -> ("two-level agg: per-(term,doc) map-side " +
      "combine before the term-keyed posting build"),
    "q168_consistent_hash" -> ("136-marker rings broadcast; ownership " +
      "is a map-only array probe — no range join, no global window"),
    "q169_expectation_suite" -> ("five constraints = one multi-metric " +
      "agg + one broadcast anti-join, never N table scans"),
    "q170_ks_test" -> ("cumulative window over the DISTINCT-value " +
      "frame only; 1-row totals broadcast"),
    "q171_pmi_collocations" -> ("pair counts thresholded before the " +
      "vocab-sized unigram broadcasts; top-50 TakeOrdered"),
    "q172_skew_audit" -> ("group counts map-side combined; rank windows " +
      "run over the ndv-sized group-size frame only"),
    "q173_table_checksum" -> ("bit_xor digests fold map-side; each side " +
      "ships 17 numbers into one full-outer merge"),
    "q174_frequent_pairs" -> ("basket self-join keyed on the order key " +
      "(bounded fanout); item supports broadcast"),
    "q175_bot_regularity" -> ("per-user gaps + CV verdict ride ONE " +
      "user_id shuffle"),
    "q176_dsir_importance" -> ("one token scan feeds doc counts + both " +
      "model sides; 256-row model broadcast, map-only selection"),
    "q177_history_pack" -> ("ordering window and (user,window) agg share " +
      "ONE user_id Exchange (subset rule); bounded 16-struct state"),
    "q178_epoch_reshard" -> ("three md5 shards in one map pass, stack " +
      "unpivot, one small agg — the shard expr IS the write key"),
    "q179_length_bucket_batch" -> ("per-shard/per-band windows, " +
      "parallel across partitions — never a global sort"),
    "q180_budget_waterfill" -> ("windows over the #sources stats frame " +
      "only; 1-row level broadcast back over the stats"),
    "q181_leakage_split" -> ("CC labels joined doc-keyed; split is a " +
      "map expression of cluster_id — no extra shuffle past the CC loop"),
    "q182_containment" -> ("shared-gram posting join bounded by " +
      "co-occurring grams; sizes shuffle on doc_id — never n² pairs"),
    "q183_ivf_maintenance" -> ("frozen k x 64 centroid broadcast over " +
      "train and delta scans; only per-list counts shuffle"),
    "q184_luhn_scrub" -> ("checksum-validated PII: map-only single " +
      "pass, nested HOF Luhn fold, zero shuffles before the sort"),
    "q185_residual_pq" -> ("per-probed-list residual LUT broadcast " +
      "(640 rows) restricts the code scan — q125's prune, residual " +
      "geometry"),
    // q186_transform_with_state is a streaming query (memory-sink
    // rollup) — plan pinned by its oracle + StreamingResumeSpec family,
    // not a static explain.
    "q187_variant_props" -> ("parse_json once into the binary variant; " +
      "typed variant_get paths; one partial+final aggregate"),
    "q233_retrieval_eval" -> ("20-probe broadcast over one corpus scan; " +
      "per-query rank window + WindowGroupLimit top-10; label-cohort " +
      "recall denominators broadcast"),
    "q244_rank_windows" -> ("ntile/rank/count windows share ONE " +
      "priority-keyed Exchange (subset rule) before the quartile rollup " +
      "— no global sort"),
  )

  /** Resolves a flagship name to its DataFrame. Almost always the
    * inventory query itself; `q117_curation_chain` is the one synthetic
    * pin — the UN-materialized composition of the five curation stages
    * (identity pin), which no longer appears in q117's own consume-side
    * plan since the r9 shared-derivation change but is exactly the plan
    * shape worth guarding against drift. */
  private[graft] def flagshipDf(name: String, s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = name match {
    case "q117_curation_chain" =>
      graft.queries.PipelineOps.curationStages(s, dir).admitted
    case n => SparkEntry.queries(n)(s, dir)
  }

  /** A formatted explain with its run-specific numbers in one stable form,
    * so regenerating PLANS.md changes only the plans that changed:
    * expression ids (`l_orderkey#11L`) and physical plan ids (`plan_id=`,
    * a subquery's `[id=#`) and the counter suffixes of lambda variables
    * (`lambda x_41`) are renumbered per plan in order of first appearance; RDD ids, checkpoint
    * call-site line numbers and scratch directories' random suffixes become
    * `N`. Node names, and so PlanDriftSpec's header-tree shapes, are kept. */
  private[graft] def normalize(explain: String): String = {
    def renumber(s: String, re: Regex): String = {
      val ids = mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m =>
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1))
    }
    val stable = Seq("""(plan_id=|\[id=#)(\d+)""".r, """(lambda [A-Za-z]\w*?_)(\d+)(?=#)""".r)
      .foldLeft(renumber(explain, """(?<=[\w)\]])(#)(\d+)""".r))(renumber)
    Seq("""(RDD\[)\d+""", """( at \w+\.scala:)\d+""",
      """(graft_\w*?_)\d{6,}(?=/)""")
      .foldLeft(stable)((t, re) => t.replaceAll(re, "$1N"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the same session defaults and extensions as Bench and Verify, so
      // PLANS.md shows the plans those runs execute
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
    sb.append(s"Generated by `graft.Plans` against `$sfDir`. These are the\n")
    sb.append("plan shapes the engine is designed around; PlanSpec pins the\n")
    sb.append("load-bearing properties in CI.\n")
    flagship.foreach { case (name, why) =>
      val df = flagshipDf(name, spark, sfDir)
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(normalize(df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
