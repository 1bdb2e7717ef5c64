package graft

import graft.llmops.MultimodalOps
import graft.sources.Tables
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale instrument (PERF.md §3, §7): times each operator of one
  * op table at every rung of a LADDER of fixture dirs, and counts the
  * physical plan's exchanges at every rung.
  *
  * The ladder shows the growth CURVE: a plan that is secretly quadratic
  * shows an accelerating wall-growth factor between rungs; a scale-safe
  * plan shows a stable or falling factor and an UNCHANGED exchange
  * inventory (new exchanges appearing only at scale would mean the plan
  * shape itself degrades — e.g. a broadcast silently flipping to a
  * shuffle join).
  *
  * A rung that does not exist yet is built by [[materialize]] from the
  * rung below it. The first rung must exist, and a dir the materializer
  * did not create (a testdata rung) is never written.
  *
  * Output: per rung, one line with its document/vector row counts; per
  * (op, rung), one line with warm/min wall (timed by [[Bench.measure]]),
  * `growth` (this rung's min over the previous rung's), the shuffle /
  * broadcast exchange counts of the initial physical plan and, for
  * stateful stream ops, the last run's state rows — or, for a declared
  * skip, `skipped` and `reason`; then one summary line. The plan an op
  * actually ran at a rung is `SPARK_GRAFT_SF_DIR=<rung> runMain
  * graft.Bench <op>`.
  *
  * Usage:
  *   SPARK_GRAFT_SWEEP_DIRS=dir1,dir2,... SPARK_GRAFT_SWEEP_PASSES=2 \
  *   sbt "runMain graft.Scale [op,op,...]"
  * The default ladder is sf0.01, sf0.1 and an sf1-equivalent rung built
  * from sf0.1; the 10× drill is the two-rung ladder sf0.1,/tmp/graft_sf1.
  */
object Scale {

  // ------------------------------------------------------------ op table

  /** How the runner treats an op. */
  sealed trait Treatment
  /** One warm pass, then the min of the timed passes at every rung. */
  case object Timed extends Treatment
  /** Declared output-bound: the result VOLUME grows with the true
    * duplicate pair count (the salted corpus multiplies real near-dup
    * pairs ~upper-quadratically by construction), so the op runs one
    * timed pass and its growth is read per output row, not per input
    * row (the §3 q138 analysis). */
  case object OutputBound extends Treatment
  /** The media fixture is a generated table at a fixed path, not a
    * dir-addressed one, so rung i applies the op's composition `of` to
    * the fixture (rung 0) or to a GENERATED table of 10^i × its rows —
    * the base-vs-10× drill on the two-rung ladder. */
  final case class Media(of: DataFrame => DataFrame) extends Treatment
  /** Runs only when named; at the rung whose directory BASENAME is
    * exactly `rung`, emits an explicit skip row carrying `reason`: a
    * measured out-of-envelope declaration, or inherited coverage from
    * another family's measured ladder. The basename match is exact so
    * the skip stays pinned to the one measured rung (a substring match
    * on "graft_sf10" would also skip a future /tmp/graft_sf100). */
  final case class Skip(rung: String, reason: String) extends Treatment

  private def timed(ops: String*): Seq[(String, Treatment)] = ops.map(_ -> Timed)

  /** Every op with a treatment, in default run order. An op not listed
    * here is [[Timed]] when named. */
  val Table: Seq[(String, Treatment)] = Seq(
    // the dedup/ANN flagships of the 100 TB design claims (round-10
    // verdict #5), the near-dup pair family first
    timed("q37_neardup_lsh", "q39_neardup_capped",
      "q77_dup_ngrams", "q81_bm25", "q78_semdedup", "q84_pq_adc_recall",
      // q53 BEFORE its graph consumers: the producer's own build is the
      // number (previously only visible inside q75/q67 warm passes), and
      // the consumers then read the published artifact — the bench's
      // steady-state shape reproduced in the drill
      "q53_simhash_neardup",
      "q75_pagerank", "q67_dedup_clusters"),
    // the salted corpus is dup-SATURATED: its exact-dup groups survive
    // ×10 copies, so candidates ≈ true output pairs (Σc² = 178M at
    // t=0.8 on the 10× rung) and ANY exact strategy pays the output
    // (q35 measured 711 s on that corpus in round 5; q138: 555 s). The
    // rewrite's claim — candidates from the rare vocabulary end — holds
    // on the base corpus (300 k candidate bound, 2.3 s).
    Seq("q138_prefix_jaccard" -> OutputBound),
    timed("q87_bloom_decontaminate",
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
      "q99_blocklist_filter", "q41_ann_lsh", "q44_ivf_topk", "q65_trunc_fidelity",
      "q102_label_separation",
      // round-8 (verdict #5): the full-outer audit over 10× hot-key
      // events (partial agg must absorb the skew before the shuffle)
      // and the TTL streaming dedup whose state must track the DISTINCT
      // key set (unchanged at 10× input), not the row count
      "q106_reconcile", "sq10_stream_dedup_ttl"),
    // the linear per-row map + one media_id window, no pair blowup as
    // band buckets fill
    Seq("q105_image_phash" -> Media(m =>
      MultimodalOps.imagePhashOf(MultimodalOps.thumbnailOf(m)))),
    timed(
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
      "q166_group_by_all", "sq20_update_mode"),
    // the chunk manifest is the pure fan-out claim over 10× media: the
    // 10× table must cost ~10× the rows and nothing else
    Seq("q167_chunk_manifest" -> Media(m => MultimodalOps.chunkManifestOf(m))),
    timed(
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
      "q211_event_gaps"),
    // Not in the table, so timed only when named: q198 (rank-aware ANN
    // eval) with the certification family (q40/q47/q61 are likewise not
    // default ops) — its warm pass builds the declared-quadratic
    // exact-top-k artifact (16× pairs on the 4× vector set — 44 s once),
    // which the round-8 artifact drills already characterize; measured
    // once named: timed growth 2.92× on 4× vectors (LSH candidate
    // density). q192 (margin alignment) for the q40 reason: its X×Y
    // similarity pass is the DECLARED exact baseline, so the 4× vector
    // set multiplies the pair space ×16 by construction; measured once
    // named (×16 pairs → ×3.4 wall; PERF.md §3), and the 100 TB
    // candidate path is the q44 IVF index.
    Seq(
      // the 10× events corpus REPLICATES timestamps (unchanged user/ts),
      // so 3-way funnel matches multiply COMBINATORIALLY (×10³ output at
      // ×10 input) — an artifact of the drill corpus, not a property of
      // the operator. Measured once named; PERF.md §3 records the analysis.
      "sq18_stream_join_chain" -> Skip("graft_sf10",
        "single-box envelope exceeded at the 1000x rung, measured twice: " +
        "heap state provider OOM-died at 38 min; RocksDB provider held " +
        "bounded RSS but exceeded 88 min without completing. The op's " +
        "OUTPUT compounds ~x1000 by fixture construction (two cascaded " +
        "interval joins over 10x-replicated same-key events); its STATE " +
        "stays watermark-horizon-bounded per the sq3/sq11 measured " +
        "algebra at the same rung (PERF.md section 7 batch 6/6e)"),
      "q243_exact_topk_blocked" -> Skip("graft_sf10",
        "declared exact-baseline envelope at the 32k-vector rung: the " +
        "n-squared pair generation this op shares with q40 measured " +
        "551 s there (q241's warm pass, building the same product " +
        "through the q40 artifact, same session) and q243 recomputes " +
        "it EVERY pass by design (no artifact - it IS the baseline " +
        "formulation). The op's contribution, the two-stage window " +
        "shape, holds its exchange inventory flat through 100x; the " +
        "certified ANN paths (q41/q44/q218) are the production search " +
        "at this rung and above"),
      // inherited coverage: an op whose heavy upstream artifact is
      // ANOTHER family's measured ladder does not re-run that family's
      // top rung — it inherits it (the q226-over-q53/q67 precedent)
      "q227_split_survivors" -> Skip("graft_sf10",
        "inherits the q53/q67 pair-graph family's 1000x coverage: its " +
        "input is the q53 banded pair set + q67 label table, both " +
        "measured on this rung in SWEEP_r13; the op adds a per-cluster " +
        "density gate and the tight-CC loop measured to 100x"),
      "q228_template_coverage" -> Skip("graft_sf10",
        "inherits the q53/q67 pair-graph family's 1000x coverage: rides " +
        "the same banded pair graph; adds one per-cluster aggregation"),
      "q229_split_leakage" -> Skip("graft_sf10",
        "inherits the q53/q67 pair-graph family's 1000x coverage: audits " +
        "the q227 split against the same pair set; adds one " +
        "broadcast-joined leak count"),
      "q232_phash_neardup" -> Skip("graft_sf10",
        "fixture-bound: the media table is a FIXED generated fixture " +
        "(dir-independent input - the three identical-cost measured " +
        "rungs demonstrate exactly that); the media family's scale " +
        "story is the 10x generated-media drill (q105/q167)"),
      "q249_audio_segments" -> Skip("graft_sf10",
        "fixture-bound like q232: reads the FIXED generated media " +
        "fixture (dir-independent input), so rungs measure identical " +
        "cost; per-clip windows are bounded by the container's u16 " +
        "frame count, and the media family's scale story is the 10x " +
        "generated-media drill (q105/q167)"))
  ).flatten

  private lazy val treatments: Map[String, Treatment] = Table.toMap

  def treatment(op: String): Treatment = treatments.getOrElse(op, Timed)

  /** The ops a run without an op list times, in table order. */
  lazy val DefaultOps: Seq[String] = Table.collect {
    case (op, Timed | OutputBound | Media(_)) => op
  }

  /** The declared-skip reason for an (op, rung dir), if any. */
  def skipReason(op: String, dir: String): Option[String] = treatment(op) match {
    case Skip(rung, reason) if dir.stripSuffix("/").split('/').last == rung => Some(reason)
    case _ => None
  }

  // ---------------------------------------------------------- the ladder

  private val LadderVar = "SPARK_GRAFT_SWEEP_DIRS"

  /** The rungs of `raw` (the default ladder when unset), trimmed, blanks
    * dropped. Fewer than 2 rungs, a repeated rung or a first rung that
    * does not exist fails with a message naming the variable and its
    * value, before any session starts. */
  private[graft] def ladder(raw: Option[String]): Seq[String] = {
    val testdata = s"${sys.props("user.home")}/testdata"
    val v = raw.getOrElse(s"$testdata/sf0.01,$testdata/sf0.1,/tmp/graft_sf1")
    def bad(why: String) = throw new IllegalArgumentException(s"$LadderVar='$v' $why")
    val dirs = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (dirs.size < 2) bad("names fewer than 2 rungs")
    val paths = dirs.map(d => Paths.get(d).toAbsolutePath.normalize)
    if (paths.distinct.size < paths.size) bad("repeats a rung")
    if (!Files.isDirectory(paths.head)) bad(s"starts at ${dirs.head}, which does not exist")
    dirs
  }

  // ------------------------------------------------------ the materializer

  /** The file naming the level of a rung [[materialize]] built. */
  private val LevelFile = "_scale_level"

  /** A rung's level: the one its level file names, else 0 (a given dir). */
  private[graft] def levelOf(dir: String): Int = {
    val f = Paths.get(dir, LevelFile)
    if (Files.exists(f)) Files.readString(f).trim.toInt else 0
  }

  /** Dimensions copy over UNSCALED: facts grow, dimensions stay fixed. A
    * digit-append on c_custkey would break customer⋈orders referential
    * integrity (orders keeps base o_custkey values), and replicating rows
    * under the same key would fan every dimension join out 10× — both
    * silently wrong, not empty. Dimension-side ops (q253) are therefore
    * dimension-bound on generated rungs. */
  private val Dims = Seq("customer", "nation", "region", "supplier")

  /** Build the rung `out` one level above `below` (idempotent per table:
    * a table already written is kept; a table `below` lacks is skipped,
    * so partial corpora materialize only what they carry).
    *
    * Every fact key takes a DEPTH-SAFE id (`id*10 + c`, a base-10 digit
    * append: collision-free at any chaining depth). orders and lineitem
    * ride the same append, so copy c of an order matches exactly copy c
    * of its lineitems — join fanout and key skew are preserved per copy
    * while both sides grow (q50/q51/q113's claim: the bloom filter stays
    * ~20% selective at any copy count).
    *
    * The salted corpus: each of the 10 document copies interleaves a
    * per-copy salt token between every pair of original tokens.
    * Trigrams like (salt, word, salt) then carry the word's own document
    * frequency — the HOT-SHINGLE regime (boilerplate, stock phrases)
    * that separates df-bounded near-dup designs from Σ freq²
    * detonations. Copies do not collide across salts, and each level's
    * salt family (`salt$c` at level 1, `ssalt$c` at level 2, …) is
    * disjoint from the others, so copies stay exact-dup-free per level
    * while the regime compounds. Vectors: each dimension shifted by a
    * per-copy constant (c·0.01 at level 1, c·0.001 at level 2, …) —
    * distinct vectors, same geometry class. Events replicate with
    * UNCHANGED user_id/ts: every user becomes a 10× hot key (the skew
    * regime for q106, the bounded-state regime for sq10: input rows
    * grow while the distinct (user, event_type) key set does not). */
  def materialize(s: SparkSession, below: String, out: String): Unit = {
    val level = levelOf(below) + 1
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, LevelFile), level.toString)
    val salt = "s" * (level - 1) + "salt"
    val shift = (0.01 / math.pow(10, level - 1)).toFloat
    def id(key: String, c: Int) = (col(key) * 10 + lit(c.toLong)).as(key)
    def rekey(key: String)(t: DataFrame, c: Int) = t.withColumn(key, id(key, c))
    // (table, copies, output files per level, copy c of the table).
    // Embeddings are DELIBERATELY 4× (round-11 ADVICE: do not read the
    // ANN rungs as 10× input steps — the per-dir row-count lines are the
    // true denominators; the quadratic-leaning ANN ops get a gentler
    // input ramp so a rung stays runnable on one box).
    val facts = Seq[(String, Int, Int, (DataFrame, Int) => DataFrame)](
      ("documents", 10, 32, (t, c) => t.select(id("doc_id", c),
          regexp_replace(col("text"), "\\s+", s" $salt$c ").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))),
      ("embeddings", 4, 8, (t, c) => t.select(id("vec_id", c),
        transform(col("embedding"), x => (x + lit(c * shift)).cast("float")).as("embedding"),
        col("label"))),
      ("events", 10, 32, rekey("event_id")),
      ("orders", 10, 16, rekey("o_orderkey")),
      ("lineitem", 10, 32, rekey("l_orderkey")),
      ("part", 10, 8, rekey("p_partkey")))
    // a table counts as written once Spark committed it: a write cut
    // short leaves the table dir without _SUCCESS, and a top-up redoes it
    def write(table: String)(df: => DataFrame): Unit =
      if (Files.exists(Paths.get(below, s"$table.parquet")) &&
          !Files.exists(Paths.get(out, s"$table.parquet", "_SUCCESS")))
        df.write.mode("overwrite").parquet(s"$out/$table.parquet")
    facts.foreach { case (table, copies, files, copy) =>
      write(table) {
        val t = Tables.read(s, below, table)
        (0 until copies).map(copy(t, _)).reduce(_ unionAll _).repartition(files * level)
      }
    }
    Dims.foreach(d => write(d)(Tables.read(s, below, d)))
  }

  /** Make `d` a rung above `below`: build it when it does not exist, top
    * up a rung built earlier (tables added to the policy since), and
    * leave any other dir as it is. */
  private def ensureRung(s: SparkSession, below: String, d: String): Unit =
    if (!Files.exists(Paths.get(d)) || Files.exists(Paths.get(d, LevelFile)))
      materialize(s, below, d)

  // ------------------------------------------------------------ the runner

  /** (shuffle, broadcast) exchange counts from the initial physical
    * plan string (the PlanSpec idiom — AQE can only COALESCE from
    * here, never add). */
  def exchangeCounts(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan.toString
    val broadcast = "BroadcastExchange".r.findAllIn(plan).size
    val reused = "ReusedExchange".r.findAllIn(plan).size
    val total = "Exchange".r.findAllIn(plan).size
    (total - broadcast - reused, broadcast)
  }

  private[graft] def skipRow(op: String, dir: String, reason: String): String =
    s"""{"op":${Json.str(op)},"dir":${Json.str(dir)},"skipped":true,""" +
      s""""reason":${Json.str(reason)}}"""

  private def mediaTable(s: SparkSession, rung: Int): DataFrame =
    if (rung == 0) Tables.read(s, MultimodalOps.MediaPath)
    else MultimodalOps.generate(s,
      graft.sources.GenFixtures.MediaRows * math.pow(10, rung).toLong, seed = 42L)

  /** One timed (op, rung) row and its min wall. */
  private def timeRow(s: SparkSession, op: String, rung: Int, dir: String,
      passes: Int, below: Option[Double]): (String, Double) = {
    val how = treatment(op)
    val build: () => DataFrame = how match {
      case Media(of) => () => of(mediaTable(s, rung))
      case _ => val fn = SparkEntry.queries(op); () => fn(s, dir)
    }
    val (sh, bc) = exchangeCounts(build())
    val p = if (how == OutputBound) 1 else passes
    val t = Bench.measure(s, p, Seq(() => Bench.noop(build()))).head.timing
    val growth = below.filter(_ > 0)
      .fold("")(b => s""","growth":${Bench.jnum(t.min / b, 2)}""")
    // stateful streaming ops also report the last run's state rows
    // (round-11 verdict #4: bounded state must be MEASURED per rung)
    val state =
      graft.streaming.StreamOps.lastStatePeak(op).fold("")(v => s""","state_rows_peak":$v""") +
        graft.streaming.StreamOps.lastStateFinal(op).fold("")(v => s""","state_rows_final":$v""")
    (s"""{"op":${Json.str(op)},"dir":${Json.str(dir)},"warm":${Bench.jnum(t.warm, 2)},""" +
      s""""min":${Bench.jnum(t.min, 2)}$growth,"shuffle_exchanges":$sh,""" +
      s""""broadcast_exchanges":$bc$state}""", t.min)
  }

  private def rows(s: SparkSession, dir: String, table: String): Long =
    if (Files.exists(Paths.get(dir, s"$table.parquet"))) Tables.read(s, dir, table).count()
    else -1L

  /** Build the missing rungs, then time every op at every rung; prints
    * and returns every output line. */
  private[graft] def run(s: SparkSession, dirs: Seq[String], ops: Seq[String],
      passes: Int): Seq[String] = {
    def emit(line: String): String = { println(line); line }
    dirs.zip(dirs.tail).foreach { case (below, d) => ensureRung(s, below, d) }
    val counts = dirs.map(d => emit(s"""{"dir":${Json.str(d)},""" +
      s""""documents":${rows(s, d, "documents")},"embeddings":${rows(s, d, "embeddings")}}"""))
    val entries = ops.flatMap { op =>
      var below = Option.empty[Double]
      dirs.zipWithIndex.map { case (d, i) =>
        emit(skipReason(op, d) match {
          case Some(reason) => below = None; skipRow(op, d, reason)
          case None =>
            val (line, min) = timeRow(s, op, i, d, passes, below)
            below = Some(min)
            line
        })
      }
    }
    (counts ++ entries) :+
      emit(s"""{"scale":"done","dirs":${dirs.size},"entries":${entries.size}}""")
  }

  def main(args: Array[String]): Unit = {
    val dirs = ladder(sys.env.get(LadderVar))
    val ops = args.headOption.fold(DefaultOps)(a =>
      SparkEntry.select(a.split(",").toSeq).map(_.name))
    val passes = GraftSession.envPositive("SPARK_GRAFT_SWEEP_PASSES", 2)
    val spark = Bench.session("graft-scale")
    try run(spark, dirs, ops, passes) finally spark.stop()
  }
}
