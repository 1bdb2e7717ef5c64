"""The benchmark's workloads: what one pass runs, why, which layers each
one stresses and bypasses, and how it was sized. run.py reads the
`kind`, `entries`, `fresh`, `msgs`, `warm_msgs`, `pass_s` and `min_passes`
fields; the rest is the recorded rationale (`python3 graftbench/run.py --describe` prints it).

Sizing notes were measured at local[4] on a 4-core, 15 GiB box, from
outside the harness (graft.QBench and probe runs of the harness); they
are notes, not benchmark results."""

# Why stream_replay and query_small are defined and runnable
# (`--workload NAME`) but not listed in BENCHMARK.json.
NOT_SCHEDULED = (
    "a full check runs every scheduled workload 22 times and has to finish within "
    "57 minutes; a run pays 25-37 s of JVM, session and warm-pass start before it "
    "measures and took 40-63 s at local[4] on a 4-core VM with 3-35 % CPU steal, so "
    "two workloads fit; dedup_cold carries the streaming layer through sq2, and "
    "planning, scheduling and scans are measured on both scheduled workloads")

WORKLOADS = {
    "serde_roundtrip": {
        "kind": "serde",
        "msgs": 20_000,
        "warm_msgs": 5_000,
        "pass_s": 6.0,
        "min_passes": 2,
        "what": "graft.Main produce_avro, produce_json, then consume_{avro,json} in "
                "E2E_PARSE and in TRANSPORTE mode, offline path, 20 000 x 1 KB messages, "
                "warmupMensagens=0, codec lz4; one op is one such round trip of six legs, "
                "each leg's rate is a per-layer metric; the seed is EngineConf.seed; the "
                "untimed warm pass runs every leg once on 5 000 messages",
        "why": "the paper's own workload and the only one through functions.AvroSerde, "
               "JSON encode/decode, the write/codec path and operators.Metrics; it has "
               "writes beside reads, so an encoding cheaper to read but dearer to write "
               "shows on both sides",
        "stresses": ["sources (Generator)", "functions (AvroSerde, to/from_json)",
                     "Main write path and codec", "operators (Metrics)"],
        "bypasses": ["operators (PlanCache)", "streaming", "queries/llmops entry construction"],
        "sizing": "100 000 msgs (the reference README shape): warm pass 29.6 s, steady pass "
                  "15 s, traced pass 37 s, 85 s per run, too long for the run "
                  "budget; 20 000 msgs keeps every leg and check at about a fifth of that",
    },
    "dedup_cold": {
        "kind": "entries",
        "entries": ["q37_neardup_lsh", "sq2_stream_dedup"],
        "pass_s": 4.5,
        # five passes: the median pass is then neither the first pass,
        # which still warms up, nor one slow pass
        "min_passes": 5,
        "fresh": True,
        "what": "batch near-dup detection (MinHash LSH) and streaming exact dedup "
                "(AvailableNow, state store, checkpoints inside the work directory); each "
                "timed pass runs on a fresh copy of sf0.1 in a new directory, made outside "
                "the timed window and reported as input_copy_s; one op is one pass of both "
                "entries",
        "why": "the north star's dedup path, where shuffle, task CPU and shared-artifact "
               "builds dominate; fresh inputs make every pass pay its artifact builds, so "
               "a cache that only helps repeated runs cannot pass as a speed-up; sq2 "
               "carries the streaming layer (micro-batches, state store, commits)",
        "stresses": ["operators (PlanCache artifact builds)", "Spark execution (shuffle, "
                     "task CPU)", "queries/llmops entry construction (eager jobs)",
                     "streaming (micro-batches, state store, checkpoint commits)"],
        "bypasses": ["functions (serde)", "Main write path"],
        "sizing": "all 8 entries of the full pipeline (q37 q38 q39 q41 q59 q67 q116 q218): "
                  "cold pass 40 s, warm pass 64 s, 158 s per run with 9 artifact builds "
                  "per pass. q37 is the cheapest entry that builds artifacts (2 per pass, "
                  "3.6 s cold); q38 and q59 build none. sq2 is the cheapest stateful "
                  "stream (1.1 s). Pass 4.5-5 s",
    },
    "stream_replay": {
        "kind": "entries",
        "entries": ["sq1_stream_tumbling", "sq2_stream_dedup", "sq3_stream_join"],
        "pass_s": 6.2,
        "min_passes": 2,
        "fresh": False,
        "what": "AvailableNow streaming entries over the sf0.1 events table, checkpoints "
                "inside the benchmark's work directory",
        "why": "streaming.StreamOps micro-batches, state stores and checkpoint commits "
               "over three stream shapes (tumbling window, dedup, stream-stream join)",
        "stresses": ["streaming (micro-batches, state stores, checkpoint commits)",
                     "Spark planning and scheduling"],
        "bypasses": ["operators (PlanCache)", "functions (serde)", "Main write path"],
        "sizing": "all six entries (sq1 sq2 sq3 sq8 sq18 sq24): steady pass 24.8 s with "
                  "on-disk checkpoints, warm pass 44 s, 76 s per run; sq8/sq18/sq24 "
                  "take 5.7-6.8 s each, so the three cheapest (6.2 s per pass) remain",
        "not_scheduled": NOT_SCHEDULED,
    },
    "query_small": {
        "kind": "entries",
        "entries": ["q01_metrics", "q20_latest_by_key", "q21_tumbling", "q45_media_meta",
                    "q60_partition_pruning", "q236_sql_script", "q253_listagg",
                    "q30_textstats", "q13_window_orders", "q247_seasonal_residuals",
                    "q10_pricing_sql", "q17_distinct"],
        "pass_s": 6.5,
        "min_passes": 1,
        "fresh": False,
        "what": "floor-bound batch entries at sf0.1 on warm, unchanged inputs",
        "why": "driver planning, job/task scheduling and partition counts are most of "
               "each op; no PlanCache artifact and no serde",
        "stresses": ["Spark planning", "Spark scheduling", "sources (parquet scans)"],
        "bypasses": ["operators (PlanCache)", "functions (serde)", "streaming"],
        "sizing": "the 16 entries of the floor list: steady pass 15.8 s, warm pass 28 s; "
                  "the 12 under 1.2 s each take 6.5 s per pass",
        "not_scheduled": NOT_SCHEDULED,
    },
}

EXCLUDED = {
    "q52_sketches": "above its size gate it takes the sketch-only branch by design, with "
                    "its exact columns null, so the static oracle does not apply at sf0.1",
    "q38 q39 q41 q59 q67 q116 q218 (dedup_cold)": "cold passes of 1-10 s each; they do "
                                                  "not fit the run budget",
    "sq8 sq18 sq24 (stream_replay)": "5.7-6.8 s each with on-disk checkpoints; they do "
                                     "not fit the run budget",
}

SCHEDULED = ("serde_roundtrip", "dedup_cold")
