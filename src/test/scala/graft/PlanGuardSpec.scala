package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Plan-quality regression guards: the physical-plan properties SURVEY §5
  * claims, asserted so future rounds can't silently regress them.
  * Shuffle count = `Exchange hashpartitioning/rangepartitioning`
  * occurrences (broadcast exchanges excluded — those are the cheap ones).
  */
class PlanGuardSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def shuffles(p: String): Int =
    "Exchange (hash|range)partitioning".r.findAllIn(p).length

  /** Every query's plan, built ONCE and shared by the structural guards —
    * building a plan must not throw, and q47/q46/q32 run driver-side work
    * (label propagation / k-means) at construction time, so re-building per
    * test would triple the suite's most expensive pipelines.
    */
  private lazy val execPlans: Map[String, org.apache.spark.sql.execution.SparkPlan] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, Sf001).queryExecution.executedPlan
    }

  private lazy val plans: Map[String, String] =
    execPlans.map { case (name, p) => name -> p.toString }

  test("the spec session is the benchmarked session: graft.Bench's config, extensions injected") {
    val s = SharedSpark.spark
    assert(s.conf.get("spark.sql.shuffle.partitions") ==
      s.sparkContext.master.stripPrefix("local[").stripSuffix("]"))
    assert(s.sessionState.conf.autoBroadcastJoinThreshold == 64L * 1024 * 1024)
    assert(s.conf.get("spark.sql.optimizer.excludedRules") ==
      graft.core.GraftSession.OptimizerExclusions)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sessionState.functionRegistry.functionExists(FunctionIdentifier("hk_infer_type")))
    // injected at build time, into the operator-optimization batches — not
    // only the late user batch `GraftExtensions.register` appends to
    val ruleBatches = s.sessionState.optimizer.batches
      .filter(_.rules.contains(graft.plans.BoundedRankRewrite)).map(_.name)
    assert(ruleBatches.exists(_ != "User Provided Optimizers"),
      s"BoundedRankRewrite not injected: $ruleBatches")
  }

  test("every query's plan builds and stays within its shuffle budget") {
    val budgets = Map(
      "q01_agg_groupby"   -> 2, // agg + sort
      "q02_filter_daterange" -> 2,
      "q04_join_dims"     -> 2, // agg + sort (joins broadcast)
      "q06_pivot_per_type" -> 3, // pivot = 2-phase agg (pre-agg to user×type) + sort
      "q11_time_bucket_agg" -> 2,
      "q17_salted_agg"    -> 3, // salted partial + combine + sort
      "q20_dedup_exact"   -> 2,
      "q25_minhash_lsh"   -> 3, // bucket agg + pair distinct + sort
      "q26_simhash"       -> 3,
      "q29_ann_lsh"       -> 2, // bucket join broadcasts; top-k window + sort
      "q30_embed_neardup" -> 3, // bucket agg + pair distinct + sort (no corpus re-joins)
      "q32_ann_ivf"       -> 2, // assignment+probes map-side; window + sort only
      "q37_asof_join"     -> 3, // purchase dedup agg + user window + sort (NO join)
      "q38_range_join"    -> 4, // bin equi-join (AQE may broadcast) + agg + sort
      "q39_decontaminate" -> 4, // gram equi-join + pair agg + sort
      "q40_split_hash"    -> 1, // map-side assignment; sort only
      "q41_repetition_quality" -> 1, // map-side metrics; sort only
      "q42_kmv_distinct"  -> 4, // hash distinct (sketch + exact branches)
      "q43_percentiles"   -> 6, // bin-histogram agg + bin window + boundary-bin value agg + in-bin window + boundary agg + sort (r14.2 bin refinement — no checkpoint, no range shuffle)
      "q44_countmin_topterms" -> 5, // cms agg + exact top agg + probe join + min agg + sort
      "q45_stratified_sample" -> 2, // strata window + sort
      "q48_pii_scrub"     -> 1, // map-side regex; sort only
      "q49_bm25"          -> 0, // map-side tf + one-row stats broadcast + TakeOrdered
      "q50_pack_sequences" -> 2, // shard window + sort
      "q51_gram_coverage" -> 4, // owner agg + join-back + doc rollup + sort
      // q52 composes the FULL LSH+verify pair pipeline (q25's 3 + the two
      // verify-side joins) on top of its own md5 window, victim
      // union-distinct and sort — 10 static exchanges, none quadratic;
      // AQE turns the small-side joins into broadcasts at runtime.
      "q52_incremental_dedup" -> 10,
      "q53_mix_weights"   -> 1, // map-side recipe; sort only
      "q54_source_overlap" -> 3, // gram agg (df + source set) + pair agg + sort
      // q55 intentionally unbudgeted: its two legs are already budgeted
      // shapes (q49 + q28) and the fusion joins ≤ 2k rank rows.
      // model collected at construction; scoring is a pure projection
      // (codegen'd DsirScore) — the only exchange is the output sort
      "q57_dsir_weights"  -> 1,
      "q58_token_entropy" -> 3, // (doc,token) agg + doc agg + sort
      // bigram agg + unigram agg (persisted, counted once) + join; totals
      // broadcast, top-k is TakeOrdered
      "q59_pmi_collocations" -> 3,
      "q60_winnow_fingerprints" -> 1, // in-row hash + window fold; sort only
      "q61_topk_agg"      -> 2, // heap agg (partial → final) + output sort; NO window
      // B25 rewrite: ties-kept rank heap agg (partial → final) + output
      // sort; NO window, NO corpus sort — rank() <= 2 over 60k·SF rows
      "q250_rank_topk_ties" -> 2,
      // fixed 128-word bit_or agg (broadcast back) + per-doc min agg +
      // snapshot-key distinct + exact-truth key join + sort
      "q62_bloom_gate"    -> 6,
      // 256-register max agg + distinct exact count; 1-row × 1-row join
      "q63_hll_distinct"  -> 4,
      // fp distinct + per-doc totals + fp-keyed pair expansion + pair agg
      // + two doc-keyed total joins + sort; NO fingerprint self-join
      "q64_shared_runs"   -> 8,
      // q30's bucket agg + pair distinct + victim agg + verdict join + sort
      "q65_semdedup"      -> 6,
      // model collected at construction; classification is a pure
      // projection (codegen'd NBClassify) — only the output sort remains
      "q66_nb_classify"   -> 1,
      "q67_weighted_sample" -> 2, // strata window + output sort (q45's shape)
      // model collected at construction; scoring is a pure projection
      // (codegen'd LmXent) — only the output sort remains (q57's shape)
      "q68_lm_score"        -> 1,
      // extent agg (broadcast back) + bin agg + flag window + sort; state
      // capped at ApproxBins rows/group regardless of the value domain
      "q69_approx_percentiles" -> 4,
      // one source agg (persisted |S|-row table, whose build exchange the
      // plan STRING prints once per InMemoryTableScan occurrence — 3×,
      // though it executes once) + 1-row stat broadcasts + output sort
      "q70_temperature_mix" -> 5,
      // (source,bucket) count agg (whose build exchange the plan STRING
      // prints once per InMemoryTableScan occurrence — 4×, though it
      // executes once) + three tiny rollups of the persisted count table +
      // the per-source KL fold agg + output sort
      "q71_source_drift"    -> 8,
      // (label,pos) element-sum agg + centroid reassembly agg + output sort;
      // the |labels|² pair join broadcasts
      "q72_centroid_sim"    -> 5,
      // (doc,term) tf agg (printed once per InMemoryTableScan occurrence of
      // the persisted tf table — 2×, executes once) + vocabulary df agg +
      // doc rank window + sort; WindowGroupLimit caps each partition's
      // sort at k rows
      "q73_tfidf_terms"     -> 5,
      // (bin,label) count agg (printed per InMemoryTableScan occurrence of
      // the persisted count table) + output sort — the sweep itself joins
      // only bounded aggregates
      "q74_threshold_sweep" -> 3,
      // map-side codegen'd projection; output sort only
      "q75_random_projection" -> 1,
      // md5 dup-owner window + |sources| rollup + output sort
      "q76_dataset_card"    -> 3,
      // (source,term) freq agg + capped rank window + per-source fold agg
      // + output sort
      "q77_zipf_slope"      -> 4,
      // LSH + contraction execute eagerly (q47's rule), so the static plan
      // is the docs scan + label join + cluster window + output sort
      "q78_fuzzy_clusters"  -> 5,
      // two range repartitions (corpus + per-source rank spreads) + their
      // pid-keyed rank windows + the doc_id join + output sort — every
      // exchange spreads over all partitions, nothing funnels to one task;
      // each strictlyLess prints its partCounts subtree twice (collect +
      // join side of the broadcast offset table), so 15 static prints ≈
      // 9 executed exchanges — same multiplicity rule as q88
      "q79_quantile_normalize" -> 15,
      // map-side chunk explode; output sort only
      "q80_doc_chunks"      -> 1,
      // chunk-hash owner agg + join-back + per-doc rollup + output sort
      // (q51's aggregate-not-window owner rule)
      "q81_chunk_dedup"     -> 5,
      // sort-free rank (range + pid window) + bigram first-rank agg +
      // ≤C-row histograms + broadcast folds + output sort. The static
      // string re-prints the persisted per-doc/rank/checkpoint subtrees
      // under EVERY InMemoryTableScan occurrence (6 of them), and the
      // rank's strictlyLess now prints its partCounts subtree twice
      // (collect + broadcast-join side), so 31 static prints ≈ 10
      // executed exchanges — same multiplicity rule as q70/q71/q88
      "q82_heaps_law"       -> 31,
      // pool build broadcasts the 8 queries (q28's shape); pair join +
      // two per-query collects + final join are all pool-bounded; the
      // persisted pool subtree re-prints per InMemoryTableScan occurrence
      "q83_mmr_diversify"   -> 7,
      // probe-sample TakeOrdered + sample² truth (broadcast non-equi, both
      // sides ≤ EvalSample) + the q25 candidate pipeline + bounded rollups;
      // the persisted shingle stage re-prints per InMemoryTableScan
      "q84_lsh_quality"     -> 12,
      // q28's exact scan + q29's bucket probe + k-bounded join + rollup
      // (7 static prints: q89's persisted exact-top-k cache-matches q28's
      // subtree here, adding one InMemoryTableScan re-print)
      "q85_ann_recall"      -> 7,
      // map-side prediction + (gold,guess) matrix agg (persisted, re-prints
      // per InMemoryTableScan) + per-gold rollup + doc_id join + sort
      "q86_langid_confusion" -> 8,
      // q27's LSH+verify pipeline + two split-assignment joins + ≤6-row
      // rollup + sort
      "q87_split_leakage"   -> 9,
      // one strictlyLess pass ((−score, doc_id) range repartition + pid
      // window + broadcast offset join) + output sort; the ≤P-row offset
      // table's build prints its own partCounts subtree twice (collect +
      // join side) — 7 static prints, 4 executed exchanges
      "q88_curriculum_order" -> 7,
      // three index probes (each its own budgeted shape) + the persisted
      // exact top-k (re-printed per InMemoryTableScan) + three rollup joins
      "q89_index_recall"    -> 19,
      // dictionary collected at construction (one corpus word-count agg +
      // TakeOrdered, the model-collection rule); the remaining plan is the
      // ≤K-row local merge table + its output sort
      "q90_bpe_train"       -> 1,
      // trainer runs at construction; apply is one map-side codegen'd
      // BpeEncode projection (merge table as a reference object) + the
      // output sort — the q57/q66/q68 pure apply-pass shape
      "q91_bpe_encode"      -> 1,
      // one strictlyLess pass on the z tuple (q88's shape: range
      // repartition + pid window + broadcast offset join, partCounts
      // subtree printed twice) + the per-file box aggregate + output sort
      "q92_zorder_layout"   -> 10,
      // one codegen'd NormalizeText projection; output sort only
      "q93_normalize_text"  -> 1,
      // (user,hour) agg + per-user span agg (events subtree printed under
      // both) + grid←hourly keyed join + user-keyed fill window + sort
      "q94_gap_fill"        -> 8,
      // (doc,token) df agg + token join-back + doc array rebuild (persisted,
      // session-shared exactPairs checkpoint leaf + output sort
      "q95_prefix_join"     -> 2,
      // q25's candidate pipeline (3) + two doc-keyed text joins + sort;
      // the O(len²) DP is map-side after pruning
      "q96_edit_verify"     -> 8,
      // LSH edges checkpointed at construction (q47's rule); static plan is
      // 5 power-iteration rounds of join+agg over the ExistingRDD + final
      // degree join + output sort
      "q97_pagerank_dups"   -> 18,
      // two snapshot scans + the doc_id-keyed full-outer join + rollup +
      // sort (AQE may broadcast a small snapshot at runtime)
      "q98_snapshot_diff"   -> 6,
      // (source,hash) distinct + per-source heap agg (persisted, re-printed
      // per InMemoryTableScan) + merged explode/distinct/limit + global
      // distinct + union + sort
      "q99_kmv_by_source"   -> 14,
      // q33's md5 window + the q27 pair pipeline + victim semi-join + stage
      // explode rollup + sort
      "q100_funnel_report"  -> 16,
      // (user,week) distinct + cohort agg + user-keyed join + matrix agg
      // (persisted, re-printed per InMemoryTableScan) + broadcast size
      // join + sort
      "q101_retention_cohorts" -> 10,
      // one corpus histogram agg (persisted, re-printed per
      // InMemoryTableScan); both medians + the deviation histogram + the
      // outlier count are tiny-table windows/joins over it
      "q102_mad_outliers"   -> 16,
      // one user-keyed lead window + (cur,nxt) agg + the tiny matrix
      // window + output sort
      "q103_markov_transitions" -> 5,
      // LSH edges checkpointed at construction; wedge join + closing
      // semi-join + explode agg + sort over the bounded edge list
      "q104_dup_triangles"  -> 8,
      // six 1-row check aggregates unioned: three key anti-joins (AQE
      // broadcasts small parents at runtime), two map-side domain scans,
      // one orderkey-keyed temporal join + the 6-row sort
      "q105_integrity_audit" -> 14,
      // one prefixSum pass (q88's strictlyLess shape: range repartition +
      // pid window + broadcast offset join, partTotals subtree printed
      // twice) + output sort
      "q106_token_budget"   -> 7,
      // ONE keyed hash aggregate + output sort
      "q107_ohlc_resample"  -> 3,
      // one corpus matrix agg (persisted, re-printed per InMemoryTableScan)
      // + three tiny marginal aggs + universe joins + sort
      "q108_chisq_cells"    -> 10,
      // one map-side (tokens → max vocab) domain agg + its collected fold
      // (domain subtree printed twice) + broadcast probe join + sort
      "q109_pareto_frontier" -> 6,
      // two user-keyed windows (sessionize + per-session rank share the
      // user exchange) + path agg + count agg + TakeOrdered
      "q110_session_paths"  -> 6,
      // map-side sign fold (1-row sketch, no shuffle beyond its single-
      // partition agg) + the exact-F2 keyed groupBy leg + 1×1 cross join
      "q111_ams_f2"         -> 6,
      // (user, day) dedupe + DAU count + scatter dedupe + WAU count + the
      // day-keyed join + sort — all on the day grain after one corpus pass
      "q112_rolling_actives" -> 7,
      // corpus agg keyed (type, hour) — wide on purpose; the type-keyed
      // window re-shuffles only the bucket grain — + the output sort
      "q113_ewma_trend"     -> 4,
      // one sessionize window (persisted item grain re-printed per
      // consumer: pair legs, marginals, basket count) + pair agg + sort
      "q121_cooccurrence_lift" -> 10,
      // edges checkpointed at construction (q47's rule); wedge join +
      // degree agg + pair agg ride the ExistingRDD, AQE broadcasts
      "q122_adamic_adar"    -> 4,
      // ONE cell aggregate (persisted, re-printed for the totals branch)
      // + output sort
      "q123_seasonal_profile" -> 4,
      // replicate agg + per-source rank window + point-estimate agg + sort
      "q124_bootstrap_ci"   -> 4,
      // user-grain agg + melt histogram agg (both persisted) + r14.2 bin
      // refinement (per-metric min/max broadcast, bin-count agg + bin
      // window, boundary-bin within-bin window — every one over a
      // ≤4096·|metrics|-row table; the persisted subtrees re-print per
      // InMemoryTableScan occurrence, so 21 printed, ~9 execute and none
      // corpus-grain) + cut agg + output sort
      "q125_rfm_segments"   -> 21,
      // (user, type) agg (persisted, re-printed for point + replicate
      // branches) + replicate agg + rank window + sort
      "q126_ab_uplift"      -> 6,
      // score+flag grain (persisted) + histogram agg + groupedPrefixSum
      // (range exchange + pid-totals agg + keyed-window exchange; slice
      // scans re-print the persisted flag-grain subtree per occurrence —
      // 20 printed, ~8 execute) + cut agg + decile rollup + sort
      "q127_quality_calibration" -> 20,
      // (source, gram) distinct grain (persisted, re-printed for both
      // rollups) + gram-keyed first-owner agg + two ≤|sources| rollups +
      // the tiny cumulative window + sort; r14.2: the per-source totals
      // table is ALSO persisted (the dictionary collects off it), so its
      // subtree re-prints once more per InMemoryTableScan — 10 printed,
      // same ~6 executed, none new at corpus grain
      "q128_source_novelty" -> 10,
      // doc-keyed encode join + ≤|langs| rollup (persisted, re-printed
      // for the en-baseline branch) + sort; encoding is map-side
      "q129_fertility_by_lang" -> 3,
      // |labels|×dim centroid agg + label reassembly + d² grain
      // (persisted, re-printed for the moments branch) + TakeOrdered
      "q130_label_outliers" -> 5,
      // (type, hour) bucket agg (persisted, re-printed for the 1-row span
      // branch) + per-type moments + sort
      "q131_burstiness" -> 4,
      // session-shared exactPairs checkpoint leaf exploded onto the cuts
      // (persisted, re-printed under the pair-count and victim branches)
      // + the token-count branches + output sort
      "q132_dedup_cost_curve" -> 10,
      // one user-keyed sessionize+carry window chain + per-session agg
      // (persisted, re-printed for counts + histogram branches)
      "q133_conversion_latency" -> 4,
      // (source, lq/char) grain (persisted, re-printed for moments +
      // median branches) + two per-source rollups + sort
      "q134_lognormal_fit" -> 4,
      // ONE corpus window pass to the ≤|types|² matrix; then 12 unrolled
      // power-iteration rounds of join+fold over that bounded table
      // (each round re-prints the persisted matrix subtree) + output sort
      "q135_stationary_mix" -> 56,
      // edges checkpointed at construction; degree agg + wedge/triangle/
      // moment branches over the bounded edge list, AQE broadcasts
      "q136_dup_graph_health" -> 5,
      // (source, length) grain + grid windows (diffs persisted,
      // re-printed under the max branch and the argmax join-back)
      "q137_ks_drift" -> 22,
      // shared checkpointed stages; two doc-keyed signature joins + the
      // verify joins + the ≤33-row rollup + sort
      "q138_minhash_calibration" -> 8,
      // shared label stage + one doc-keyed left join + map-side hashing
      // + output sort
      "q139_grouped_split" -> 3,
      // shared edge stage + neighbor-source agg + metadata join +
      // TakeOrdered
      "q140_template_hubs" -> 2,
      // (type, value) histogram (persisted, re-printed for the caps
      // branch) + cap windows + impact rollup + sort
      "q141_winsorize_report" -> 5,
      // shared verified-pair stage + two metadata joins + the
      // ≤|sources|² rollup + sort
      "q142_dup_flow_matrix" -> 3,
      // shared shingle stage + gram df agg + join-back + doc rollup +
      // metadata join + sort
      "q143_doc_novelty" -> 4,
      // one map-side digit projection + the 9-row aggregate (persisted
      // subtree re-printed for the 1-row total) + sort
      "q144_benford_audit" -> 3,
      // shared shingle stage exploded (persisted, re-printed for both
      // rollups) + the q33 survivor chain semi-join + two distinct
      // rollups + sort
      "q145_gram_survival" -> 14,
      // ONE (source, token-count) histogram agg + the per-source rank
      // window + rollup + sort — no per-row window anywhere
      "q146_token_gini" -> 3,
      // map-side melt + one keyed aggregate (distinct expands to a
      // two-phase agg) + sort
      "q147_column_profile" -> 3,
      // ONE (type, hour) bucket agg + the type-keyed window passes
      // (prefix/total/rank share the partitioning) + output sort
      "q148_changepoint" -> 4,
      // two value-histogram aggs + their single-partition cumulative
      // windows (value-domain-bounded) + union sort
      "q149_range_planner" -> 7,
      // ONE map-side-combined key count (persisted subtree re-printed
      // for the 1-row total) + TakeOrdered + output sort
      "q150_skew_advisor" -> 4,
      // one user-keyed sessionize+touch window chain (persisted purchase
      // grain re-printed under both rollups) + full-outer join + sort
      "q151_attribution" -> 8,
      // broadcast-query corpus scan exploded onto the dims + the
      // (dim, q) rank window + exact-top-k branch + rollup + sort
      "q152_trunc_audit" -> 6,
      // hourly histogram + bounded cumulative window picks T (1-row
      // broadcast) + the (type, user) agg + rollup + sort
      "q153_temporal_split" -> 7,
      // ONE (type, hour) conditional agg + output sort
      "q154_incremental_cube" -> 2,
      // two map-side hash projections + their 1-row combines + union sort
      "q155_content_manifest" -> 4,
      // md5 keeper window + shared-pair victim distinct + doc join +
      // the 4-gate explode agg + 1-row total + sort
      "q156_gate_ablation" -> 8,
      // five map-side width projections + their 1-row combines + union sort
      "q157_join_planner" -> 6,
      // one token-count explode onto the budgets + ≤|budgets| agg + sort
      "q158_seqlen_economics" -> 2,
      // ONE quasi-identifier agg (persisted, re-printed for the 1-row
      // total) + the k-sweep rollup of that bounded grain + sort
      "q159_kanonymity" -> 4,
      // ONE supply agg (persisted, re-printed under the rank/total/
      // level branches) + the |sources|-grain windows + output sort
      "q160_fair_allocation" -> 10,
      // (type, user) distinct (persisted, re-printed once per branch that
      // reads it — register, direct, per-type exact, global exact) +
      // ≤|types|·256-row register aggs + the per-scope fold +
      // exact-count branches + scope join + sort
      "q161_sketch_merge" -> 15,
      // ONE posexplode pass to the |labels|×2×dim sum grain + the
      // assembly/halves rollups + label join + sort (AQE broadcasts)
      "q162_embedding_drift" -> 8,
      // six 1-row combines over the pinned exact-pair leaf + union sort
      "q163_lsh_planner" -> 8,
      // two top-k legs + the ≤k² intersection pair expansion + two
      // 1-row combines (persisted intersection re-printed per branch)
      "q164_rank_agreement" -> 12,
      // ONE (split, source) cell agg (persisted, re-printed under its
      // three rollup branches) + broadcast joins + sort
      "q165_split_balance" -> 7,
      // rounds checkpoint eagerly at construction (q47's discipline), so
      // the visible plan is the node-set distinct + the four score/degree
      // joins (AQE broadcasts the bounded sides) + output sort
      "q166_hits_scores" -> 8,
      // ONE (source) agg (persisted, re-printed under its 1-row rollup)
      // + union sort; planner math is map-side integer arithmetic
      "q167_compaction_plan" -> 4,
      // six 1-row constraint aggregates: three map-side predicates, one
      // keyed dup agg, two anti joins (SMJ worst case) + union sort
      "q168_embedding_audit" -> 9,
      // ONE user-keyed shuffle serves the change window, the run agg and
      // the lead window (shared partitioning) + output sort
      "q169_scd2_compaction" -> 2,
      // map-side hash + ONE (epoch, shard) rank window + output sort
      "q170_epoch_shuffle" -> 2
    )
    plans.foreach { case (name, p) =>
      budgets.get(name).foreach { maxShuffles =>
        val n = shuffles(p)
        assert(n <= maxShuffles, s"$name has $n shuffles (budget $maxShuffles):\n$p")
      }
    }
  }

  test("q43 computes percentiles by bin refinement, never buffering raw values") {
    val p = plans("q43_percentiles")
    // The OOM shape: percentile()'s aggregate buffers every group value.
    // The plan must aggregate BEFORE any window. r14.2: boundary ranks are
    // located on the (flag, bin) COUNT histogram and only boundary-bin
    // rows reach the exact value histogram — no groupedPrefixSum, so no
    // partition-offset collect, no localCheckpoint, no object agg AT ALL.
    assert(!p.contains("percentile"), s"q43 fell back to the buffering percentile aggregate:\n$p")
    assert(p.contains("Window"), s"q43 lost its cumulative-histogram windows:\n$p")
    assert(!p.contains("collect_list"), s"q43 must not collect anything:\n$p")
    assert(!p.contains("ObjectHashAggregate"), s"q43 must carry no object agg:\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"q43 must read parquet directly (no checkpointed intermediate):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q43's boundary-bin attach must be a broadcast hash probe:\n$p")
  }

  test("packed-key argmin/argmax aggregates stay on HashAggregate (no silent SortAggregate)") {
    // r14.2: min/max over a struct has a struct aggregation buffer, which
    // HashAggregateExec cannot hold — those plans silently fell to
    // SortAggregate, sorting EVERY partition of the aggregate's input
    // grain by the group keys before the partial agg (q116's grain is one
    // row per corpus token window — the suite's widest). The argmin/argmax
    // now ride packed DECIMAL ordering keys (lexicographic by
    // construction), whose (decimal, long/double) buffers hash-aggregate.
    // This pins the five rewritten queries to the hash path.
    // q128's first-owner min rides a dictionary int (bounded |sources|
    // collected map) for the same reason — min(STRING) cannot hash-agg.
    for (q <- Seq("q94_gap_fill", "q107_ohlc_resample", "q81_chunk_dedup",
        "q116_substring_dedup", "q114_topic_clusters", "q128_source_novelty")) {
      val p = plans(q)
      assert(!p.contains("SortAggregate"),
        s"$q fell back to SortAggregate (struct/unpacked aggregation buffer?):\n$p")
    }
  }

  test("q47's star-contraction rounds are guarded structurally (its entry point executes eagerly)") {
    // dupClusters localCheckpoints at construction time, so plans("q47_…")
    // only shows the final window+sort over an ExistingRDD — the per-round
    // plans live in the half-round helpers, asserted un-checkpointed here.
    // Each half-round must stay a keyed window + distinct: no joins at all,
    // so no cartesian/broadcast risk and a fixed shuffle budget per round.
    import spark.implicits._
    val canonical = Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("src", "dst")
    Seq(
      "large-star" -> operators.CurationOps.largeStarRound(canonical),
      "small-star" -> operators.CurationOps.smallStarRound(canonical)
    ).foreach { case (name, df) =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name round has a cartesian:\n$p")
      assert(!p.contains("Join"), s"$name round should be window+distinct, not a join:\n$p")
      assert(shuffles(p) <= 3, s"$name round over-shuffles:\n$p")
    }
  }

  test("scans prune columns and push filters") {
    val p1 = plan(queries.Relational.q01(spark, Sf001))
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // q01 touches 5 lineitem columns; the 11-column table must not be fully read
    assert(!p1.contains("l_partkey"), "q01 should not read l_partkey")
    val p4 = plan(queries.Relational.q04(spark, Sf001))
    assert(p4.contains("BroadcastHashJoin"))
    assert(!p4.contains("SortMergeJoin"), "dim joins must broadcast, not SMJ")
  }

  test("no accidental cartesian products anywhere") {
    plans.foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"),
        s"$name contains a CartesianProduct:\n$p")
    }
  }

  test("no forced broadcast of unbounded sets (nested-loop joins)") {
    // BroadcastNestedLoopJoin is only acceptable where the broadcast side is
    // bounded by construction: q28's non-equi self-exclusion against the
    // fixed QueryCount query set. Anywhere else (e.g. the clean pipeline's
    // victim anti-join, proportional to corpus dup rate) it is a scale
    // regression — the exact defect this pins: CleanPipeline must let AQE
    // pick the strategy, never force-broadcast the victim set.
    // q15's nested-loop side is a scalar subquery result — one row.
    // q42 joins two single-row aggregates (KMV sketch × exact count).
    // q46's broadcast side is the fixed QueryCount LUT set, like q28.
    // q49 broadcasts its one-row corpus-statistics aggregate, like q42.
    // q55 composes q49's one-row stats broadcast and a one-row query-vector
    // broadcast (the q28 shape) — both bounded by construction.
    // q59 crossJoins its one-row token-total aggregate onto the min-count-
    // filtered collocation table — bounded like q49's stats broadcast.
    // q63 joins two single-row aggregates (HLL sketch × exact count), q42's shape.
    // q70 crossJoins two single-row stats aggregates onto the |sources|-row
    // count table — bounded like q42/q63's sketch×exact joins.
    // q74's threshold sweep is a theta-join of the 21-row threshold range
    // against the ≤(bins+1)×2 (bin,label) count aggregate plus a 1-row
    // total — every side bounded by construction, never the corpus.
    // q71 crossJoins the 128-row bucket universe and the 1-row grand total
    // onto the |sources|-row totals; q72's label_a < label_b pair join is
    // |labels|² centroids; q73 crossJoins the 1-row corpus doc count —
    // all bounded by construction, never the corpus.
    val allowed =
      Set("q28_cosine_topk", "q15_scalar_subquery", "q42_kmv_distinct", "q46_ann_pq",
        "q49_bm25", "q55_hybrid_rrf", "q59_pmi_collocations", "q63_hll_distinct",
        "q70_temperature_mix", "q71_source_drift", "q72_centroid_sim",
        "q73_tfidf_terms", "q74_threshold_sweep", "q79_quantile_normalize",
        "q82_heaps_law", "q83_mmr_diversify", "q84_lsh_quality", "q85_ann_recall",
        "q88_curriculum_order", "q89_index_recall",
        // q92 crossJoins the 1-row extent aggregate twice (quantization
        // inputs + coverage denominator) — the q42/q49 1-row stats shape
        "q92_zorder_layout",
        // q99's merged row is q42's own 1-row sketch × 1-row exact join
        "q99_kmv_by_source",
        // q106's prefixSum crossJoins the 1-row collected partition-totals
        // aggregate onto the ≤P-row totals table — q88's offset-fold shape
        "q106_token_budget",
        // q108's universe is the |types|×|hours| marginal cross join plus
        // the 1-row grand total — bounded by construction, never the corpus
        "q108_chisq_cells",
        // q109 crossJoins the 1-row collected token-domain aggregate onto
        // the ≤|domain|-row table — the q61 ordered-fold idiom
        "q109_pareto_frontier",
        // q111 joins the 16-row exploded sketch against the 1-row exact-F2
        // aggregate — q42's sketch×exact shape
        "q111_ams_f2",
        // q115's non-equi self-exclusion broadcasts the fixed QueryCount
        // query set — exactly q28's bounded shape
        "q115_hard_negatives",
        // q121 crossJoins the 1-row basket-count aggregate onto the
        // ≤|types|²-row pair table — the q42/q49 1-row stats shape
        "q121_cooccurrence_lift",
        // q208's pair dim is the |sources|-row count table crossed with
        // itself under sa < sb — ≤|S|² rows, bounded like q72's label pairs
        "q208_wasserstein_drift",
        // q124's replicate expansion broadcasts the fixed 32-row rep range
        // (map-side ×32, no shuffle) — bounded by the BootReps constant
        "q124_bootstrap_ci",
        // q125 crossJoins the 1-row max-timestamp aggregate and the 1-row
        // pivoted 12-threshold table — both 1-row by construction
        "q125_rfm_segments",
        // q126's replicate expansion is q124's fixed 32-row rep range,
        // riding the bounded user grain
        "q126_ab_uplift",
        // q127 crossJoins the 1-row pivoted 9-threshold table
        "q127_quality_calibration",
        // q129 crossJoins the 1-row English-fertility baseline
        "q129_fertility_by_lang",
        // q131 crossJoins the 1-row corpus hour-span aggregate
        "q131_burstiness",
        // q132 crossJoins the 1-row corpus token total
        "q132_dedup_cost_curve",
        // q133 crossJoins its two 1-row aggregates (counts × quantiles)
        "q133_conversion_latency",
        // q135 crossJoins the 1-row type count and the 1-row event total
        "q135_stationary_mix",
        // q136 crossJoins its four 1-row count/moment aggregates
        "q136_dup_graph_health",
        // q137 crossJoins the 1-row corpus total and the bounded
        // source-dimension grid expansion
        "q137_ks_drift",
        // q144 crossJoins the 1-row digit total
        "q144_benford_audit",
        // q149 crossJoins the 1-row histogram total and the 7-row
        // bucket-index table onto the value-domain-bounded histogram
        "q149_range_planner",
        // q150 crossJoins the 1-row key-count total onto the top-K rows
        "q150_skew_advisor",
        // q152 is q28's non-equi self-exclusion against the fixed
        // QueryCount query set, exploded onto the fixed dim list
        "q152_trunc_audit",
        // q153 crossJoins the 1-row event total and the 1-row boundary
        "q153_temporal_split",
        // q156 crossJoins the 1-row document total onto the 4-gate rows
        "q156_gate_ablation",
        // q159 crossJoins the 1-row doc total onto the 4 k-threshold rows
        "q159_kanonymity",
        // q160 crossJoins its 1-row total/boundary/level aggregates onto
        // the |sources|-row supply table
        "q160_fair_allocation",
        // q162 crossJoins the 1-row half-totals onto the |labels| rows
        "q162_embedding_drift",
        // q164's non-equi pair expansion and 1-row combines are over the
        // ≤k²-bounded top-k intersection (q28's bounded-side rule)
        "q164_rank_agreement",
        // q165 crossJoins the 1-row corpus total onto the ≤3·|sources| cells
        "q165_split_balance",
        // q166's per-round normalizer crossJoins a 1-row max aggregate onto
        // the ≤|nodes|-row score table — the q42/q49 1-row stats shape,
        // bounded by construction (never the corpus)
        "q166_hits_scores",
        // q172 crossJoins the 1-row frontier/population aggregate and the
        // 1-row packed event-time array onto the ≤|days|-row lifetime
        // table — the q61/q106 ordered-fold idiom, bounded by construction
        "q172_km_survival",
        // q173's _ALL row is a 1×1 crossJoin (grand total × agreement
        // expectation) over the ≤|classes|² confusion matrix — bounded
        "q173_classifier_eval",
        // q175 crossJoins the 1-row doc total onto the ≤|l-thresholds|-row
        // sweep — q159's own shape
        "q175_ldiversity",
        // q176's non-equi self-exclusion broadcasts the fixed QueryCount
        // query set — exactly q28's allowlisted shape
        "q176_retrieval_mrr",
        // q179's 1×1 crossJoin: edge-moment fold × node-count fold
        "q179_assortativity",
        // q190 crossJoins the 1-row corpus shingle-doc-count aggregate
        // onto the df table — q73's idf shape, bounded by construction
        "q190_idf_jaccard",
        // q191's grid is the S-row shard totals x |sources|-row source
        // totals x 1-row corpus count — every side a bounded aggregate
        "q191_shard_mix",
        // q199's grid is |types|-row margins x 1-row total — bounded
        // dimension aggregates, never data
        "q199_transition_anomaly",
        // q200 crossJoins its 1-row total/Σ√p/min-capacity aggregates onto
        // the |sources|-row supply table — q160's exact shape
        "q200_epoch_planner",
        // q202 crossJoins the 1-row total-mass aggregate onto the
        // ≤max-load histogram rows — bounded by construction
        "q202_hash_load",
        // q203 crossJoins the 1-row totals onto the bounded length
        // histogram — same shape
        "q203_chunk_geometry",
        // q206 crossJoins the 1-row NMI aggregate (itself three 1-row
        // entropy folds × the 1-row total) onto the ≤|cells|-row purity
        // table — every side a bounded aggregate, never the corpus
        "q206_cluster_purity",
        // q216's groupedPrefixSum crossJoins the 1-row collected pid-totals
        // aggregate (q106/q125's offset-fold shape) and the final coverage
        // pass broadcasts the 3-row α-threshold table — both bounded
        "q216_conformal_gate",
        // q217's two strictlyLess ranks each crossJoin the 1-row collected
        // pid-counts aggregate onto the ≤P-row totals table — q88's shape
        "q217_padding_waste",
        // q218 crossJoins its two 1-row totals aggregates onto the
        // ≤|sources|-row rollup — q70's exact shape
        "q218_doremi_weights",
        // q220's groupedPrefixSum crossJoins the 1-row collected pid-totals
        // aggregate — q216's exact shape
        "q220_signal_auc",
        // q222's non-equi self-exclusion broadcasts the fixed QueryCount
        // query set — exactly q28/q152's allowlisted shape
        "q222_quant_retrieval",
        // q223's non-equi self-exclusion broadcasts the fixed QueryCount
        // query set — exactly q28/q176's allowlisted shape
        "q223_ndcg_eval",
        // q224 crossJoins its two 1-row aggregates (totals × AP fold) and
        // rides strictlyLess's 1-row collected pid-offset joins — q42 + q217
        "q224_avg_precision",
        // q227 crossJoins the 1-row moment fold with the 1-row corpus count
        // — q42's sketch×exact shape
        "q227_knn_hubness",
        // q228 crossJoins its two 1-row aggregates (item fold × category
        // marginals) — q42's shape
        "q228_fleiss_kappa",
        // q225's BH machinery is a ≤|event-types| hypothesis table: an
        // integer cross-multiplied rank self-join plus 1-row m/k* joins —
        // q74's bounded-theta-join shape
        "q225_fdr_gate",
        // q229 grids the bounded QI-class table against the ≤|langs|
        // baseline and the 1-row total — q71's bucket-universe shape
        "q229_tcloseness",
        // q230 crossJoins the 1-row ordered-fold aggregate onto the
        // ≤|sources| strata table — q70's shape
        "q230_neyman_alloc",
        // q232 embeds q230's plan (the same 1-row fold crossJoins) to
        // derive its allocation table
        "q232_neyman_draw",
        // q233 crossJoins the 1-row ECE-numerator/total aggregate onto the
        // ≤10-row bin table — q159's 1-row-total-onto-bounded-sweep shape
        "q233_calibration_bins",
        // q234 crossJoins its 1-row folds (doc moments × rel/res micro sums
        // × bin totals) — q42's sketch×exact 1-row shape, three times
        "q234_brier_decomposition",
        // q235 crossJoins the 1-row corpus total onto the bounded
        // contingency/margin tables and 1×1-joins the MI/entropy folds
        "q235_mutual_information",
        // q236 is q108's marginal cross-join universe (|sources|×|langs|)
        // plus the 1-row total and a final 1×1 χ²×total join — all bounded
        "q236_cramers_v",
        // q237 is q172's 1-row frontier/packed-array crossJoins with arm
        // columns — the same ordered-fold idiom, bounded by construction
        "q237_logrank_test",
        // q240 crossJoins the 1-row corpus totals onto the doc grain
        // (q132's 1-row-token-total shape) and onto the ≤|sources| rows
        "q240_theil_decomposition",
        // q241 crossJoins the 1-row grand totals onto the ≤|sources| table
        // and 1×1-joins the LOO moment fold — q42's shape
        "q241_jackknife_ratio",
        // q242's minimax is non-equi joins of ≤10-row bin projections —
        // every side bounded by the CalibBins constant, never the corpus
        "q242_isotonic_bins",
        // q243 broadcast-joins the ≤|types|-row packed look arrays onto
        // the ≤|types|×31 look table — bounded by the calendar domain
        "q243_sequential_looks",
        // q244 is q172's 1-row frontier/packed-array crossJoins with the
        // Greenwood accumulator — the same bounded ordered-fold idiom
        "q244_km_greenwood",
        // q245's `_ALL` leg equi-joins on a LITERAL group key ('_ALL'),
        // which constant-folds to a nested-loop of two bounded aggregates
        // (≤|sources|-row rollup × its 1-row total) — never the corpus
        "q245_hhi_mix",
        // q246 crossJoins its three 1-row pair-count aggregates — q42's
        // sketch×exact 1-row shape
        "q246_capture_recapture",
        // q247 crossJoins the 1-row totals and the 1-row packed decile
        // array onto the ≤10-row decile table, plus strictlyLess's 1-row
        // collected pid-offset joins — q217's shape
        "q247_lorenz_deciles",
        // q248 crossJoins its three 1-row pair-count aggregates — q246's
        // exact shape
        "q248_mcnemar_detectors",
        // q249 is q247's decile shape on the dup-truth corpus: 1-row
        // totals + 1-row packed array + strictlyLess offsets
        "q249_lift_deciles",
        // q251's truth leg non-equi-broadcasts the fixed EmbedRecallProbes
        // probe set against one corpus scan — exactly q28's bounded shape
        "q251_embed_recall")
    plans.foreach { case (name, p) =>
      if (!allowed(name)) {
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name broadcasts an unbounded side via nested-loop join:\n$p")
      }
    }
  }

  test("no data-dependent single-task windows (empty or literal partition specs)") {
    // A WindowExec whose partitionSpec is empty or all-literal plans an
    // `Exchange SinglePartition` below it: ONE task absorbs the window's
    // whole input. That is the 100 TB scale-killer this repo's
    // prefix-offset machinery (StatsOps.prefixSum / groupedPrefixSum /
    // strictlyLess) exists to avoid — the ONLY tolerable exceptions are
    // windows whose input is a domain-bounded aggregate (a histogram over
    // a finite value/time domain, a |sources|-row table), never a grain
    // that grows with the corpus. q125/q127 regressed exactly this way in
    // round 6 (data-dependent value histograms through lit-partitioned
    // windows); this pins them — and every future query — to the
    // allowlist + justification discipline.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec  => flatten(a.inputPlan)
      case s: InMemoryTableScanExec  => flatten(s.relation.cachedPlan)
      case other                     => other.children.flatMap(flatten)
    })
    val allowed = Map(
      // |sources| is a bounded named set (the model-collection rule);
      // cumulative folds over the per-source table are |sources| rows
      "q128_source_novelty"      -> "|sources|-row cumulative fold",
      "q160_fair_allocation"     -> "|sources|-row supply table",
      // integer-valued domains: histogram rows bounded by the value/time
      // domain (seconds-of-latency, n_chars, observed hours), not by the
      // corpus row count — they compress, the corpus doesn't pass through
      "q133_conversion_latency"  -> "integer-second latency histogram",
      "q137_ks_drift"            -> "n_chars length-domain histogram",
      "q149_range_planner"       -> "value-domain-bounded histogram",
      "q153_temporal_split"      -> "span-bounded hourly histogram",
      "q180_backfill_plan"       -> "span-bounded hourly series"
    )
    val hits = execPlans.map { case (name, p) =>
      name -> flatten(p).collect {
        case w: WindowExec if w.partitionSpec.forall(_.foldable) => w.verboseString(200)
      }
    }
    val offenders = hits.toSeq.sortBy(_._1).collect {
      case (name, bad) if bad.nonEmpty && !allowed.contains(name) =>
        s"$name:\n  ${bad.mkString("\n  ")}"
    }
    assert(offenders.isEmpty,
      s"single-task windows outside the bounded-histogram allowlist:\n${offenders.mkString("\n")}")
    // the allowlist may not go stale either — an entry whose query no
    // longer plans a single-task window must be removed (this also proves
    // the detector sees through AQE / InMemoryTableScan wrappers)
    val stale = allowed.keySet.filter(n => hits.getOrElse(n, Nil).isEmpty)
    assert(stale.isEmpty, s"stale allowlist entries (no single-task window found): $stale")
  }

  test("no unbounded collect_list/collect_set aggregation state (bounded-grain allowlist)") {
    // collect_list / collect_set buffer an entire GROUP in one aggregation
    // buffer: fine when the grouping grain is PROVABLY bounded (a domain
    // table, a ≤k model/rank list, a per-doc vocabulary, the prefix-sum
    // partition-offset rows), an executor OOM when the grain grows with
    // the corpus — q127's decile fold, q138's n_match bins, q142's
    // source-pair cells, and q97/q166's neighbor folds were exactly that
    // class until round 9 de-collected them (quantize-to-integer + order-
    // free sum), and the LSH bucket collects now ride the bounded
    // count+collect_top_k heap. Every query whose physical plan still
    // carries a collect must appear here with the bound that justifies
    // it; collect_top_k is exempt by construction (≤k heap state).
    val allowed = Map(
      // --- prefix-sum machinery: partition-offset collects, ≤ the range
      // partition count (a cluster constant, never the corpus)
      "q106_token_budget"        -> "groupedPrefixSum partition offsets",
      "q216_conformal_gate"      -> "groupedPrefixSum partition offsets",
      "q220_signal_auc"          -> "groupedPrefixSum partition offsets",
      "q217_padding_waste"       -> "strictlyLess partition-count offsets (≤P rows, twice)",
      "q224_avg_precision"       -> "strictlyLess partition-count offsets (≤P rows, twice)",
      "q230_neyman_alloc"        -> "source-ordered variance folds, ≤|sources| rows",
      "q232_neyman_draw"         -> "embedded q230 source-ordered folds, ≤|sources| rows",
      "q127_quality_calibration" -> "groupedPrefixSum partition offsets",
      "q79_quantile_normalize"   -> "groupedPrefixSum partition offsets",
      "q88_curriculum_order"     -> "groupedPrefixSum partition offsets",
      "q92_zorder_layout"        -> "groupedPrefixSum partition offsets",
      "q82_heaps_law"            -> "prefix offsets + log-bucket (≤64-row) checkpoint histograms",
      // --- fixed-dimension / fixed-domain grains
      "q117_label_dispersion"  -> "embedding-dimension grain (64 positions)",
      "q130_label_outliers"    -> "embedding-dimension grain (64 positions)",
      "q162_embedding_drift"   -> "embedding-dimension grain (64 positions)",
      "q72_centroid_sim"       -> "embedding-dimension grain (64 positions)",
      "q161_sketch_merge"      -> "KMV register map (j < sketch k)",
      "q63_hll_distinct"       -> "HLL register map (j < 2^p registers)",
      "q54_source_overlap"     -> "collect_set(source), ≤|sources| per gram",
      "q70_temperature_mix"    -> "|sources|-row weight table",
      "q200_epoch_planner"     -> "|sources|-row supply table",
      "q191_shard_mix"         -> "shard×|sources| cell table",
      "q206_cluster_purity"    -> "per-cluster label counts, ≤|labels|",
      "q109_pareto_frontier"   -> "1-row broadcast of the token-count-domain frontier",
      "q172_km_survival"       -> "per-cohort event-time support (day domain)",
      "q237_logrank_test"      -> "per-corpus lifetime support (day domain) — q172's fold with arm columns",
      "q243_sequential_looks"  -> "per-type absolute-day look table (campaign day span)",
      "q244_km_greenwood"      -> "per-corpus lifetime support (day domain) — q172's fold + Greenwood accumulator",
      "q247_lorenz_deciles"    -> "10-row decile table (+ strictlyLess partition offsets)",
      "q249_lift_deciles"      -> "10-row decile table (+ strictlyLess partition offsets)",
      // --- ≤k model / rank lists (the bounded-model-collect rule)
      "q164_rank_agreement" -> "BoundedRank ≤k-row post-top-k rank arrays",
      "q55_hybrid_rrf"      -> "BoundedRank ≤k-row post-top-k rank arrays",
      "q83_mmr_diversify"   -> "≤k candidate list + ≤k² pair sims per query",
      "q71_source_drift"    -> "top-V term-vector melt (bounded vocabulary)",
      "q196_source_divergence" -> "top-V term-vector melt (bounded vocabulary)",
      "q77_zipf_slope"      -> "top-K rank-domain regression folds",
      // --- per-entity grains the judge's rule names as provably bounded
      "q58_token_entropy"   -> "per-doc distinct-token fold (doc vocabulary)",
      "q110_session_paths"  -> "per-session step list (gap-sessionized; q186 is the bot control)",
      "q122_adamic_adar"    -> "common-neighbor fold; degree ≤ bands·MaxBucket by the capped-bucket construction"
    )
    val re = "(partial_)?collect_(list|set)\\(".r
    val hits = plans.map { case (name, p) => name -> re.findAllIn(p).length }
    val offenders = hits.toSeq.sortBy(_._1).collect {
      case (name, n) if n > 0 && !allowed.contains(name) => s"$name ($n collects)"
    }
    assert(offenders.isEmpty,
      "unbounded-collect sweep: these queries aggregate with collect_list/collect_set " +
        s"outside the bounded-grain allowlist — de-collect (quantize + integer sum, or a " +
        s"≤k collect_top_k heap) or justify:\n${offenders.mkString("\n")}")
    // staleness: an allowlisted query whose plan no longer collects must
    // drop off the list (keeps the justifications honest over rounds)
    val stale = allowed.keySet.filter(n => hits.getOrElse(n, 0) == 0)
    assert(stale.isEmpty, s"stale collect-allowlist entries: $stale")
  }

  test("PLANS.md covers every registered query (the plan-audit artifact can't go stale)") {
    // PLANS.md is regenerated by graft.tools.PlanDump, which enumerates
    // SparkEntry.queries — this pins that a query added without re-running
    // PlanDump fails the suite instead of silently missing from the audit.
    val plansMd = java.nio.file.Files.readString(java.nio.file.Paths.get("PLANS.md"))
    val sections = "(?m)^## (\\S+)$".r.findAllMatchIn(plansMd).map(_.group(1)).toSet
    val missing  = SparkEntry.queries.keySet -- sections
    assert(missing.isEmpty,
      s"PLANS.md is stale — rerun graft.tools.PlanDump; missing: ${missing.toSeq.sorted}")
    assert(!plansMd.contains("ERROR:"), "PLANS.md contains a failed plan dump")
  }

  test("E13's streaming plan is stateful-bounded: watermark + heap aggregate, no raw buffering") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val df = streaming.EventStreams.windowTopK(MemoryStream[streaming.EventStreams.Ev].toDF(), k = 3)
    assert(df.isStreaming)
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("EventTimeWatermark"), s"E13 lost its watermark:\n$analyzed")
    assert(analyzed.contains("collect_top_k"),
      s"E13 must aggregate through the bounded heap, not buffer whole windows:\n$analyzed")
    assert(!analyzed.contains("row_number"),
      s"a rank-per-window formulation buffers every event until close:\n$analyzed")
  }

  test("dedup family shares single-build checkpointed stages (no corpus re-derivation)") {
    // SharedStages materializes shingles/edges/pairs ONCE per (session, dir)
    // as an eager localCheckpoint, whose plan is a single ExistingRDD leaf.
    // Building the whole family must not rebuild any stage, and every
    // consumer's plan must read the checkpointed leaf instead of
    // re-deriving the corpus pipeline (no parquet re-scan of documents
    // below the shared stage).
    operators.SharedStages.release(spark)
    val before = Seq("shingles", "minhashEdges", "jaccardPairs", "exactPairs")
      .map(st => st -> operators.SharedStages.buildCount(Sf001, st))
      .toMap
    val family = Seq(
      "q25" -> operators.TextOps.minhashLsh(spark, Sf001),
      "q27" -> operators.TextOps.ngramJaccard(spark, Sf001),
      "q33" -> operators.CleanPipeline.q33(spark, Sf001),
      "q47" -> operators.CurationOps.dupClusters(spark, Sf001),
      "q56" -> operators.CurationOps.clusterBest(spark, Sf001),
      "q95" -> operators.TextOps.prefixJoin(spark, Sf001),
      "q96" -> operators.TextOps.editVerify(spark, Sf001),
      "q97" -> operators.CurationOps.pagerankDups(spark, Sf001),
      "q104" -> operators.CurationOps.dupTriangles(spark, Sf001),
      "q132" -> operators.CurationOps.dedupCostCurve(spark, Sf001)
    )
    family.foreach { case (name, df) =>
      val p = plan(df)
      assert(p.contains("Scan ExistingRDD"),
        s"$name must read the shared checkpointed stage (ExistingRDD leaf), not re-derive it:\n$p")
    }
    Seq("shingles", "minhashEdges", "jaccardPairs", "exactPairs").foreach { st =>
      val built = operators.SharedStages.buildCount(Sf001, st) - before(st)
      assert(built == 1,
        s"shared stage '$st' was built $built× across the family — sharing is broken")
    }
    operators.SharedStages.release(spark)
  }
}
