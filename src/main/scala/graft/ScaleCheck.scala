package graft

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-validation runner (PERF.md §3): materializes the 10×
  * HOT-SHINGLE document corpus and the 4× vector set from a base SF
  * dir, then times target operators on base vs scaled, printing one
  * JSON line per op (and a final summary line).
  *
  * The salted corpus construction (round-2 discipline, now committed
  * as a tool so every round can re-run it): each of the 10 copies
  * interleaves a per-copy salt token between every pair of original
  * tokens. Trigrams like (salt, word, salt) then carry the word's own
  * document frequency — the hot-shingle regime (boilerplate, stock
  * phrases) that separates df-bounded near-dup designs from Σ freq²
  * detonations. Copies do not collide across salts, so corpus-level
  * stats scale ~10× while within-copy structure matches the base.
  * Vectors: 4 copies, each dimension shifted by a small per-copy
  * constant — distinct vectors, same geometry class. Each side is timed
  * by [[Bench.measure]]: one warm pass, then the min of two timed.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<base> SPARK_GRAFT_SCALE_OUT=<dir>
  *        sbt "runMain graft.ScaleCheck [op,op,...]"
  */
object ScaleCheck {

  /** Build the scaled tables once (idempotent per out dir). */
  def materialize(s: SparkSession, base: String, out: String): Unit = {
    val docsOut = s"$out/documents.parquet"
    val embOut = s"$out/embeddings.parquet"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(docsOut))) {
      val docs = Tables.read(s, base, "documents")
      val copies = (0 until 10).map { c =>
        docs.select(
          (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "\\s+", s" salt$c ").as("text"),
          col("lang"), col("source"))
      }
      copies.reduce(_ unionAll _)
        .withColumn("n_chars", length(col("text")))
        .repartition(32)
        .write.mode("overwrite").parquet(docsOut)
    }
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(embOut))) {
      val emb = Tables.read(s, base, "embeddings")
      val copies = (0 until 4).map { c =>
        emb.select(
          (col("vec_id") + lit(c * 10000000L)).as("vec_id"),
          transform(col("embedding"),
            x => (x + lit(c * 0.01f)).cast("float")).as("embedding"),
          col("label"))
      }
      copies.reduce(_ unionAll _)
        .repartition(8)
        .write.mode("overwrite").parquet(embOut)
    }
    // 10× events with UNCHANGED user_ids — every user becomes a hot
    // key (10× events each), the skew regime for q106's full-outer
    // pre-aggregation and the state-boundedness regime for sq10: input
    // rows grow 10× while the distinct (user, event_type) key set —
    // the streaming dedup STATE — does not grow at all. The customer
    // dimension copies over unscaled: activity grows, registrations
    // don't (the realistic audit shape).
    // gated on the base files existing: spec corpora (and partial
    // fixture dirs) materialize only the tables they carry
    val eventsOut = s"$out/events.parquet"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/events.parquet")) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(eventsOut))) {
      val ev = Tables.read(s, base, "events")
      val copies = (0 until 10).map { c =>
        ev.withColumn("event_id", col("event_id") + lit(c * 1000000000L))
      }
      copies.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(eventsOut)
    }
    // 10× orders+lineitem with CONSISTENT key offsets — the q113
    // bloom-join drill needs both sides to grow together so the claim
    // under test is "probe-side reduction tracks build-side
    // selectivity" (the filter stays ~20% selective at any copy
    // count); 10× part for the skyline (distinct-price level growth)
    // and the fuzzy join (rows ×10 while the NAME VOCABULARY — the
    // quadratic scoring space — stays fixed, the dedup-before-scoring
    // claim).
    val ordersOut = s"$out/orders.parquet"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/orders.parquet")) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(ordersOut))) {
      val ord = Tables.read(s, base, "orders")
      (0 until 10).map(c => ord.withColumn("o_orderkey",
          col("o_orderkey") + lit(c * 1000000000L)))
        .reduce(_ unionAll _)
        .repartition(16)
        .write.mode("overwrite").parquet(ordersOut)
      val li = Tables.read(s, base, "lineitem")
      (0 until 10).map(c => li.withColumn("l_orderkey",
          col("l_orderkey") + lit(c * 1000000000L)))
        .reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }
    // customer and the tiny dims copy over unscaled (round-9 consumers:
    // q142's nation/supplier profile, q145's customer→nation chain) —
    // the realistic shape: facts grow, dimensions don't
    Seq("customer", "nation", "region", "supplier").foreach { d =>
      val dOut = s"$out/$d.parquet"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/$d.parquet")) &&
          !java.nio.file.Files.exists(java.nio.file.Paths.get(dOut))) {
        Tables.read(s, base, d).write.mode("overwrite").parquet(dOut)
      }
    }
    val partOut = s"$out/part.parquet"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/part.parquet")) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(partOut))) {
      val pt = Tables.read(s, base, "part")
      (0 until 10).map(c => pt.withColumn("p_partkey",
          col("p_partkey") + lit(c * 1000000000L)))
        .reduce(_ unionAll _)
        .repartition(8)
        .write.mode("overwrite").parquet(partOut)
    }
  }

  val DefaultOps: Seq[String] = Seq(
    "q77_dup_ngrams", "q81_bm25", "q78_semdedup", "q84_pq_adc_recall",
    // q53 BEFORE its graph consumers: the producer's own build is the
    // number (previously only visible inside q75/q67 warm passes), and
    // the consumers then read the published artifact — the bench's
    // steady-state shape reproduced in the drill
    "q53_simhash_neardup",
    "q75_pagerank", "q67_dedup_clusters", "q87_bloom_decontaminate",
    // round-7: containment rides the same hot-shingle regime as the
    // Jaccard family; IVFADC adds coarse+residual training to q84's
    // panel-bounded cert shape
    "q88_containment", "q89_ivfpq_recall",
    // incremental dedup: the banded probe-vs-index join rides the same
    // hot-shingle regime; the 10× corpus multiplies both sides
    "q92_incremental_dedup",
    // PMI: the pair aggregation must collapse the 10× corpus to the
    // (salt-inflated) bigram vocabulary; quality sampling is the
    // map-only flat-by-construction claim, verified not assumed
    "q93_pmi_collocations", "q94_quality_sample",
    // PII redaction: three regex rewrites per row over 10× the chars —
    // the map-only linearity claim, verified not assumed
    "q95_pii_redact",
    // edit-distance verify: O(la·lb) per CANDIDATE — cost must track
    // the q53 pair count, not the corpus
    "q96_editdist_verify",
    // round-8: winnowing is the fingerprinting family's linear-map
    // claim (the salted 10× corpus also ~2×es tokens per doc, so
    // grams grow ~20×); phrase search must join only the two matching
    // postings lists; Zipf must collapse to the vocabulary before the
    // tiny regression; blocklist is the pure-map claim. The vector
    // entries ride the 4× set with their round-7 artifact shapes
    // (build in the warm pass, steady in the timed).
    "q103_winnowing", "q101_phrase_search", "q100_zipf_slope",
    "q99_blocklist_filter", "q41_ann_lsh", "q65_trunc_fidelity",
    "q102_label_separation",
    // round-8 (verdict #5): the full-outer audit over 10× hot-key
    // events (partial agg must absorb the skew before the shuffle)
    // and the TTL streaming dedup whose state must track the DISTINCT
    // key set (unchanged at 10× input), not the row count. q105 runs
    // as a special drill below (its media fixture is generated, not
    // dir-addressed).
    "q106_reconcile", "sq10_stream_dedup_ttl", "q105_image_phash",
    // round-10: the span cut list rides q77's hot-shingle regime (the
    // windowed per-gram frequency is the skew point; islands are
    // per-doc scans); gopher rules + token entropy are the
    // explode-then-combine linearity claim; JL projection is a pure
    // linear map over the 4× vectors; the left-outer stream join's
    // state must track the watermark horizon, not the 10× row count
    "q107_span_dedup", "q108_gopher_rules", "q110_token_entropy",
    "q109_jl_projection", "sq11_stream_left_join",
    // batch 2: the anomaly z-scores ride the 10× hot-key events (the
    // per-user window partitions grow 10×; the (user, hour) combine
    // must absorb it first); the chained rollup's two state maps must
    // track the window count, not the 10× row count; the temperature
    // apportionment must collapse to the source table before any math
    "q112_user_anomaly", "sq12_stream_rollup", "q111_temperature_mix",
    // round-8 second wave: the bloom join's probe reduction must track
    // build selectivity (both sides ×10, same ~20% filter); gap-fill's
    // grid is horizon-bounded (10× events collapse to the SAME
    // (user, day) grid — near-flat is the claim); the rolling peak is
    // one per-user range-window pass (×10 rows per user → linear);
    // triangles saturate against the fixed user-pair space (denser
    // cells, bounded edges); the skyline sweep rides distinct prices,
    // not rows; the fuzzy join's scoring space is the fixed name
    // vocabulary (near-flat); HLL sketches ride (day, user) — both
    // fixed; the transformWithState profile holds one row per user
    // (state flat, scan linear)
    "q113_bloom_join", "q114_gapfill_locf", "q115_rolling_peak",
    "q116_triangles", "q117_skyline", "q118_fuzzy_join",
    "q119_hll_incremental", "sq13_stream_profile",
    // batch 3: SCD2's islands ride the one user_id shuffle (runs ×10
    // when every copy extends the timeline); the fingerprint is the
    // pure-map + partial-agg linearity claim; the A/B readout
    // collapses to (type, bucket) partials map-side; the sweep rides
    // session BOUNDARIES (events ×10 but sessions merge — near-flat);
    // the foreachBatch sink's rewrite cost is the aggregate's size
    "q120_scd2", "q121_table_checksum", "q122_ab_test",
    "q123_interval_peak", "sq14_foreach_sink",
    // JSON extraction: parse+extract fused map work, the linearity claim
    "q124_json_extract",
    // ML eval pair: confusion rides the 4× vectors against |labels|
    // broadcast centroids; AUC collapses to distinct score groups
    "q125_confusion_matrix", "q126_roc_auc",
    // drift/dependency: both collapse to bounded tables (distinct
    // values per type; the |types|x24 contingency) at the first agg
    "q127_ks_drift", "q128_mutual_info",
    // per-entity model fits: both collapse to (user, day/hour)
    // partials, then user-keyed moments/windows — hot keys absorb 10×
    "q129_user_trend", "q130_changepoint",
    // MV cascade touches raw volume exactly once; the PIT join is the
    // as-of union idiom — one user-shuffle, state points ride runs
    "q131_rollup_cascade", "q132_pit_join",
    // recursion rows = sum of unique-path depths (the forest rule);
    // the lateral limit rewrites to a rank window under the hood
    "q133_hierarchy", "q134_lateral_topk",
    // profiler: explode ×|columns| of narrow pairs, per-column distinct
    // partials; benford: 9-row collapse at the first agg
    "q135_profile", "q136_benford",
    // V2 state legs: timers re-arm per batch (state = one row/user);
    // the last-N buffer is O(N)/user; the type map is |types|/user
    "sq15_stream_timer_session", "sq16_stream_lastn",
    "sq17_stream_type_counts",
    // round-9: histogram/winsorize are one-partial-agg linearity
    // claims over 10× facts; the itemset pair join's volume is
    // Σ basket² (baskets ×10, sizes fixed → linear); unpivot is
    // Expand fan-out (pure map); the null-aware anti probes ride the
    // broadcast subquery; as-of tolerance is q18's one user-shuffle
    // window; IVM's per-delta cost must track the delta (each ×10);
    // BFS frontiers ride the DENSER 10×-events graph (same users →
    // more edges — super-linear edge growth is the graph's property,
    // per-level equi-join cost per edge is the op's claim); the
    // cluster split consumes the published 10×-corpus label artifact
    "q139_histogram", "q140_winsorize", "q141_itemsets", "q142_unpivot",
    "q143_notin_nulls", "q144_asof_tolerance", "q145_ivm_view",
    "q146_bfs_paths", "q147_cluster_split",
    // batch 2: the PPS sample is ONE global-order window (the range
    // sort is the cost, linear-ish in rows); the skew profiler
    // collapses to key cardinality at the first partial agg; the
    // equi-depth bands ride the per-type sort (hot types are the
    // partition bound); CDC-apply is one user-shuffle serving both
    // windows — hot users absorb the 10× rows
    "q148_pps_sample", "q149_skew_report", "q150_equidepth_hist",
    "q151_cdc_apply",
    // batch 3: the embedding audit is the pure map + |labels| agg
    // linearity claim over the 4× vectors; the graph profile rides
    // the densified 10×-events graph (wedge sum predicts the triangle
    // join's cost — the profile must stay cheap even when the
    // triangle chain isn't); multi-touch is the sq3 interval-join
    // shape (touch volume grows with cell density); the bottom-k
    // certification's sample stays k per group while the scan ×10s
    "q152_embed_audit", "q153_graph_profile", "q154_multitouch",
    "q155_bottomk_quantile",
    // batch 4: observe() rides the scan it annotates (zero extra
    // passes is the claim); the dynamic overwrite's cost must track
    // the changed partition + the 10× full write; label propagation
    // consumes the exact-top-k artifact over the 4× vectors (the
    // n² build is the warm pass, the q47 shape); the late-data
    // replay drops 10× the rows at the same watermark fenceposts
    "q156_observed_metrics", "q157_dynamic_overwrite",
    "q158_label_prop", "sq19_late_data",
    // batch 5 (SQL surface): pipe/param queries must cost exactly
    // their classic twins (plan identity is spec-asserted; the drill
    // proves the 10× wall matches); VARIANT parse+get is fused map
    // work; collated grouping shuffles the collated key once
    "q159_pipe_syntax", "q160_variant_shred", "q161_collation",
    "q162_param_sql",
    // batch 6: the window zoo is one partition-sort pass (the filter
    // sits ABOVE the windows by semantics); multiset algebra plans
    // as count-compare partials; keyset pagination's claim IS the
    // depth-independence (boundary top-k + pushed seek predicate);
    // GROUP BY ALL is sugar; update-mode emission volume tracks
    // touched windows per batch, not state size
    "q163_window_zoo", "q164_setops_all", "q165_paginate",
    "q166_group_by_all", "sq20_update_mode",
    // the chunk manifest is the pure fan-out claim over 10× media
    // (special generated-table drill, the q105 mechanism)
    "q167_chunk_manifest",
    // IO legs: the round trip pays three writes + three fingerprint
    // scans of the 10× table (linear is the claim); the merged-schema
    // read costs one footer per file, the scan stays columnar
    "q168_format_roundtrip", "q169_merge_schema",
    // hint legs: forcing SMJ/shuffle-hash on the 10× fact side costs
    // the honest shuffle the hint asks for — the knob's price, measured
    "q170_join_hints",
    // HOFs fuse into the scan (linear map claim over 4× vectors);
    // the calendar derivations are pure projection + quarter agg
    "q171_hof_zoo", "q172_calendar_zoo",
    // round-10 corpus-lifecycle ops: the diff moves map-side digests
    // through one co-partitioned join (linear in docs); the budget
    // selection's bucket frame is BOUNDED BY THE SCORE SPACE (≤ 10⁴+1
    // rows at any corpus size — the claim that separates the
    // two-phase plan from the naive global window it replaces); PSI
    // collapses to the |types|·10-band contingency table at the first
    // partial agg over 10× events
    "q173_corpus_diff", "q174_token_budget_select", "q175_psi_drift",
    // the sampler's exchange carries ≤ k·parts rows per stratum
    // (WindowGroupLimit before the shuffle); novelty joins distinct
    // trigram SETS (the salted 10× corpus multiplies the vocabulary,
    // not the pair space); the streaming monitor's state is the open
    // days' band counts — 10× events grow batch volume, not state
    "q176_bottomk_sample", "q177_crawl_novelty", "sq21_stream_psi_monitor",
    // the LR trainer is three scalar aggregates (pure linear scans —
    // the only growth axis is the map side); the AUC's ranking runs
    // on the per-(source, 4-dp score) bucket table, bounded by the
    // score space like q174's frame
    "q178_lr_quality", "q179_auc_midrank", "q180_calibration",
    // the epoch waterfill collapses the corpus to the |sources|-row
    // policy table at the first partial agg — everything after is
    // frame-sized
    "q181_epoch_alloc",
    // the shuffle's global rank is two-phase on the key's own leading
    // byte (256-row prefix frame + partitioned rank — never a global
    // per-doc window); preference pairing is two WindowGroupLimit
    // rank cuts + a j·|groups|-row co-partitioned join
    "q182_train_shuffle", "q183_preference_pairs",
    // triplet mining broadcasts the FIXED anchor panel — the corpus
    // side is one linear scan; growth axis is |panel|·n scored rows
    "q184_hard_negatives",
    // the anonymity audit is two stacked partial aggs (corpus →
    // quasi-groups → |sources| rows); span corruption fuses its
    // position arithmetic into the scan (plan-asserted: no explode,
    // no join, one agg shuffle)
    "q185_k_anonymity", "q186_span_corruption",
    // soft dedup: digest-keyed copy counts + one co-partitioned
    // re-join; the salted 10× corpus multiplies copy counts, not the
    // digest space — the weighted mass stays one copy per group
    "q187_soft_dedup_weights",
    // DSIR: both hashed profiles collapse to ≤1024 rows and
    // broadcast; the corpus is scanned twice, shuffled only for the
    // per-doc/per-source partial aggs
    "q188_dsir_weights",
    // Spearman rides the q179 bucket discipline twice: midranks from
    // score-space-bounded bucket tables broadcast onto the corpus,
    // one moment aggregate to |sources| rows
    "q189_rank_agreement",
    // the sweep joins the 10-row grid against the score-space-bounded
    // bucket table — one corpus-touching aggregate at any resolution
    "q190_retention_sweep",
    // hybrid retrieval: both legs end in a rank-pushed top-K, so only
    // 2·K rows ever reach the fusion join — the growth axis is the
    // two linear scans (lexical leg postings-filtered to the query
    // terms, semantic leg one broadcast query row)
    "q191_rrf_fusion",
    // neighborhood Jaccard: candidates exist only through the wedge
    // join on the shared-neighbor key; NOTE the 10× events corpus
    // replicates (user, ts) so the distinct (type, bucket, user) set —
    // and hence the graph — is UNCHANGED at 10×: the drill verifies
    // the distinct-collapse absorbs replicated traffic (flat wall),
    // not wedge-volume growth, which PERF.md §3 analyzes separately
    "q193_neighbor_jaccard",
    // MMR: only the rank-pushed top-C relevance scan touches the
    // corpus; the greedy is a bounded panel (≤ C+C² rows) at any size
    "q194_mmr_diversify",
    // silhouette: one centroid agg + a map-side HOF pass over the
    // broadcast centroid list + the |labels|-row agg — pure linear
    "q195_silhouette",
    // code-switch: the q31 shape — slices of one tokenization, fused
    // argmaxes, one partial-agged cross-tab
    "q196_code_switch",
    // semantic decon: the broadcast eval panel never grows with the
    // corpus; per-doc max is partial-agged, final agg is |sources| rows
    "q197_semantic_decon",
    // snapshot drift: two DECIMAL centroid aggs + broadcast dispersion
    // passes + a |labels|-row reconciliation — linear in vectors
    "q199_embed_drift",
    // CDC dedup: map-side boundaries, one per-doc running sum, one
    // uniform-key (content hash) exchange — no pair joins
    "q200_cdc_chunks",
    // assortativity: broadcast degree joins + one scalar agg; rides
    // the q193 distinct-collapse on the replicated drill corpus
    "q201_assortativity",
    // source sketch-Jaccard: the estimate is |sources|-row work over
    // the persisted signature table; the exact cert side joins the
    // salted 10× corpus's distinct (source, shingle) rows — vocab-
    // linear (the q177 regime), never source-pair set products
    "q202_source_sketch_jaccard",
    // shuffle audit: 256 bucket-local windows, no global order
    "q203_shuffle_quality",
    // context pack: windows over the ≤K fused rows; growth is the
    // retriever legs it composes (q191's two linear scans)
    "q204_context_pack",
    // coverage audit: one full-outer id reconciliation → |sources| rows
    "q205_embed_coverage",
    // concentration audit: one scan → |sources| frame → 1 row
    "q206_source_concentration",
    // kappa: two per-doc passes co-keyed on doc_id, one scalar agg
    "q207_labeler_kappa",
    // marginal novelty: one shingle-keyed groupBy + co-keyed join;
    // value-based deciles — no global rank window
    "q208_marginal_novelty",
    // cohort matrix: distinct (user, week) collapse absorbs the
    // replicated drill traffic; sizes broadcast
    "q209_cohort_retention",
    // funnel: k filtered per-user aggs co-keyed on user_id — the 10×
    // event volume is scanned, the user frames are not multiplied
    "q210_funnel_steps",
    // gaps: (user, type)-local lag windows + per-type midrank — the
    // replicated drill events create zero-gap ties, not new frames
    "q211_event_gaps")
  // q198 (rank-aware ANN eval) is EXCLUDED from the default drill with
  // the certification family (q40/q47/q61 are likewise not default
  // ops): its warm pass builds the declared-quadratic exact-top-k
  // artifact (16× pairs on the 4× vector set — 44 s once), which the
  // round-8 artifact drills already characterize. Measured once via an
  // explicit arg: timed growth 2.92× on 4× vectors (LSH candidate
  // density), rides exactTopk + lshPairCache thereafter.
  // q192 (margin alignment) is EXCLUDED from the default drill for
  // the q40 reason: its X×Y similarity pass is the DECLARED exact
  // baseline, so the 4× vector set multiplies the pair space ×16 by
  // construction — a per-round re-measurement of a declared quadratic
  // proves nothing new. Measured once via an explicit arg (×16 pairs
  // → ×3.4 wall; PERF.md §3 records the analysis); the 100 TB
  // candidate path is the q44 IVF index.
  // sq18 (chained stream-stream joins) is EXCLUDED from the default
  // drill for the q138 reason: the 10× events corpus REPLICATES
  // timestamps (unchanged user/ts), so 3-way funnel matches multiply
  // COMBINATORIALLY (×10³ output at ×10 input) — an artifact of the
  // drill corpus, not a property of the operator (real 10× traffic
  // spreads over time). Measured once via an explicit arg; PERF.md §3
  // records the analysis.
  // q138 (prefix-filtering exact join) is EXCLUDED from the default
  // drill, measured not assumed: the salted corpus is dup-SATURATED —
  // its exact-dup groups survive ×10 copies, so candidates ≈ true
  // output pairs (Σc² = 178M at t=0.8) and ANY exact strategy pays
  // the output (q35 measured 711 s on the same corpus in round 5;
  // q138: 555 s). The rewrite's claim — candidates from the rare
  // vocabulary end — holds on the base corpus (300 k candidate bound,
  // 2.3 s); re-running a ten-minute output-bound join per drill
  // proves nothing new. PERF.md §3 records the full analysis.

  /** q105's drill can't ride the dir mechanism (the media fixture is
    * a generated table at a fixed path), so it scales by GENERATing a
    * 10× media table and timing the same phash composition on both —
    * the claim under test is the linear per-row map + one media_id
    * window, no pair blowup as band buckets fill. */
  private def q105Drill(s: SparkSession): (DataFrame, DataFrame) = {
    import graft.llmops.MultimodalOps
    val base = MultimodalOps.imagePhashOf(MultimodalOps.thumbnailOf(
      Tables.read(s, MultimodalOps.MediaPath)))
    val scaled = MultimodalOps.imagePhashOf(MultimodalOps.thumbnailOf(
      MultimodalOps.generate(s, graft.sources.GenFixtures.MediaRows * 10, seed = 42L)))
    (base, scaled)
  }

  /** q167 rides the same generated-table mechanism (the manifest is a
    * pure per-row fan-out — the 10× table must cost ~10× the rows and
    * nothing else). */
  private def q167Drill(s: SparkSession): (DataFrame, DataFrame) = {
    import graft.llmops.MultimodalOps
    val base = MultimodalOps.chunkManifestOf(Tables.read(s, MultimodalOps.MediaPath))
    val scaled = MultimodalOps.chunkManifestOf(
      MultimodalOps.generate(s, graft.sources.GenFixtures.MediaRows * 10, seed = 42L))
    (base, scaled)
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft_scale10")
    val ops = args.headOption.fold(DefaultOps)(a =>
      SparkEntry.select(a.split(",").toSeq).map(_.name))
    val spark = Bench.session("graft-scale")
    new java.io.File(out).mkdirs()
    materialize(spark, base, out)

    def drill(name: String, baseDf: () => DataFrame,
        scaledDf: () => DataFrame): String = {
      def timing(df: () => DataFrame) =
        Bench.measure(spark, 2, Seq(() => Bench.noop(df()))).head.timing
      val b = timing(baseDf)
      val s = timing(scaledDf)
      def num(v: Double) = Bench.jnum(v, 2)
      val line =
        s"""{"op":"$name","base_warm":${num(b.warm)},"base":${num(b.min)},""" +
          s""""scaled_warm":${num(s.warm)},"scaled":${num(s.min)},""" +
          s""""growth":${num(s.min / b.min)}}"""
      println(line)
      line
    }

    val lines = ops.map {
      case name @ "q105_image_phash" =>
        val (bdf, sdf) = q105Drill(spark)
        drill(name, () => bdf, () => sdf)
      case name @ "q167_chunk_manifest" =>
        val (bdf, sdf) = q167Drill(spark)
        drill(name, () => bdf, () => sdf)
      case name =>
        val fn = SparkEntry.queries(name)
        drill(name, () => fn(spark, base), () => fn(spark, out))
    }
    println(s"""{"scale_check":"done","base":"$base","scaled":"$out","ops":${lines.size}}""")
    spark.stop()
  }
}
