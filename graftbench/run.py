#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the engine
and the harness from source (sbt, in graftbench/); later runs reuse the
build while no source changed. One JVM runs Spark local[nproc] with the
driver memory of the repository's tier-1 formula; the harness writes a
raw record, this script checks every answer outside the timed window
(DuckDB oracles, serde report checks) and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). A fuller
result (per entry, per layer) is saved under graftbench/out/results/
for diff.py.

`--describe` prints the workload rationale instead of running."""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import oracle  # noqa: E402
from workloads import EXCLUDED, SCHEDULED, WORKLOADS  # noqa: E402

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 165
SMOKE_MSGS = 2_000


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile engine + harness with sbt unless the last build saw the
    same sources; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout (no build.sbt / src/main/scala/graft)")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(OUT, exist_ok=True)
    cp_file, stamp_file = os.path.join(OUT, "classpath"), os.path.join(OUT, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log = os.path.join(OUT, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if "classes" in ln and ".jar" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        die(f"build failed, see {log}", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def driver_mem():
    """Tier-1 formula: half of MemTotal in GiB, clamped to 2..8 g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cores():
    return len(os.sched_getaffinity(0))


def plan(w, seconds, trace, smoke=False):
    """Number of timed passes: the seconds asked for, at least the
    workload's minimum; a traced run makes one
    settling pass, then untraced, two traced and one untraced pass; a
    smoke run one pass."""
    if trace:
        return 5
    if smoke:
        return 1
    return max(w["min_passes"], round(seconds / w["pass_s"]))


def run_jvm(name, w, seed, passes, trace, cp, sf_dir, smoke=False):
    work = os.path.join(OUT, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "ckpt"):
        os.makedirs(os.path.join(work, d))
    raw = os.path.join(work, "raw.json")
    args = ["--kind", w["kind"], "--work", work, "--out", raw, "--seed", str(seed),
            "--trace", "1" if trace else "0", "--passes", str(passes),
            "--deadline", str(RUN_TIMEOUT_S - 25)]
    if w["kind"] == "serde":
        msgs = SMOKE_MSGS if smoke else w["msgs"]
        args += ["--msgs", str(msgs), "--warm-msgs", str(min(msgs, w["warm_msgs"]))]
    else:
        orders = benchlib.entry_orders(w["entries"], seed, passes)
        args += ["--entries", ",".join(w["entries"]), "--sf", sf_dir,
                 "--fresh", "1" if w["fresh"] else "0",
                 "--orders", ";".join(",".join(o) for o in orders)]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    opts += [f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.local.dir={work}/spark-local",
             f"-Dspark.sql.warehouse.dir={work}/warehouse",
             f"-Dgraft.fixtures.dir={ROOT}/fixtures"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
               SPARK_GRAFT_STREAM_CKPT_DIR=os.path.join(work, "ckpt"))
    env.pop("KAFKA_BOOTSTRAP_SERVERS", None)
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen([java, *opts, "-cp", cp, "graftbench.Harness", *args],
                                cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{name}: JVM did not finish in {RUN_TIMEOUT_S} s", 1)
    if rc != 0 or not os.path.exists(raw):
        die(f"{name}: JVM exited {rc}, see {work}/jvm.log", 1)
    with open(raw) as f:
        return json.load(f), launched


def check(w, rec):
    """Answer checks outside the timed window: {entry: reason} for wrong
    answers and [(op, reason)] for serde report violations."""
    if w["kind"] == "serde":
        return {}, (oracle.serde_violations(rec["warm"], rec["warm_msgs"])
                    + oracle.serde_violations(rec["ops"], rec["msgs"]))
    with open(os.path.join(os.path.dirname(rec["out_dir"]), "oracle_sql.json")) as f:
        sqls = json.load(f)
    return oracle.check(rec["checked_input"], rec["out_dir"], sqls, w["entries"]), []


def e2e_metrics(ops, rec, launched):
    timed = [o for o in ops if o["status"] == "ok" and not o["traced"]]
    walls = [o["wall_s"] for o in timed]
    tail, pct, n = benchlib.tail_latency(walls)
    metrics = {
        "setup_s": (rec["setup_end_ms"] / 1e3 - launched, "s"),
        "ops_per_s": (len(walls) / sum(walls) if walls else 0.0, "op/s"),
        "op_p50_s": (benchlib.median(walls), "s"),
        "op_tail_s": (tail, "s"),
    }
    return metrics, {"op_tail_percentile": pct, "op_tail_n": n}


def serde_rates(rec):
    out = {}
    untraced = [o for o in rec["ops"] if o["status"] == "ok" and not o["traced"]]
    for leg in benchlib.SERDE_E2E_LEGS:
        walls = [o["wall_s"] for o in untraced if o["entry"] == leg]
        fmt = leg.rsplit("_", 1)[1]
        kind = leg.rsplit("_", 1)[0]
        out[f"{fmt}_{kind}_msgs_per_s"] = rec["msgs"] / benchlib.median(walls) if walls else 0.0
    return out


def layer_metrics(rec, w, cores_n):
    """Per-layer metrics of a traced run; layers a workload bypasses
    read 0."""
    ops = [o for o in rec["ops"] if o["status"] == "ok" and o["traced"]]
    spans = rec.get("spans", [])
    n = max(1, len(ops))

    def mean(key):
        return sum(o.get(key, 0) for o in ops) / n

    walls = {o["op"]: o["wall_s"] for o in ops}
    jobs_cover = {o["op"]: benchlib.job_cover(spans, o["op"]) for o in ops}
    m = {
        "scan_bytes": mean("scan_bytes"), "scan_files": mean("scan_files"),
        "build_s": sum(s["end_ns"] - s["start_ns"] for s in spans
                       if s["kind"] == "build" and s["op"] in walls) / 1e9 / n,
        "build_jobs": sum(benchlib.jobs_inside(spans, o["op"], "build") for o in ops) / n,
        "plan_s": sum(s["end_ns"] - s["start_ns"] for s in spans
                      if s["kind"] == "plan" and s["op"] in walls) / 1e9 / n,
        "aqe_updates": mean("aqe_updates"),
        "jobs_per_op": mean("jobs"), "stages_per_op": mean("stages"),
        "tasks_per_op": mean("tasks"),
        "driver_gap_s": sum(walls[k] - jobs_cover[k] for k in walls) / n,
        "task_queue_s": mean("task_queue_s"),
        "failed_tasks": sum(o.get("failed_tasks", 0) for o in ops),
        "exec_s": sum(jobs_cover.values()) / n,
        "task_run_s": mean("task_run_s"), "task_cpu_s": mean("task_cpu_s"),
        "task_gc_s": mean("task_gc_s"),
        "shuffle_write_bytes": mean("shuffle_write_bytes"),
        "shuffle_read_bytes": mean("shuffle_read_bytes"),
        "fetch_wait_s": mean("fetch_wait_s"), "spill_bytes": mean("spill_bytes"),
        "batches_per_op": mean("batches"),
        "state_commit_s": mean("state_commit_s"),
        "state_rows": max([o.get("state_rows", 0) for o in ops] or [0]),
        "state_rows_updated": mean("state_rows_updated"),
        "state_mem_bytes": max([o.get("state_mem_bytes", 0) for o in ops] or [0]),
        "driver_gc_s": mean("driver_gc_s"),
        "peak_rss_mb": rec["peak_rss_kb"] / 1024,
        "op_wall_s": sum(walls.values()) / n,
    }
    cover = sum(jobs_cover.values())
    m["core_util"] = (sum(o.get("task_run_s", 0) for o in ops) / (cover * cores_n)
                      if cover > 0 else 0.0)
    for phase, key in (("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                       ("getBatch", "get_batch_s"), ("walCommit", "wal_commit_s"),
                       ("commitOffsets", "commit_offsets_s")):
        m[key] = sum(o.get("stream_phase_s", {}).get(phase, 0) for o in ops) / n
    traced_passes = sorted({o["pass"] for o in ops})
    per_pass = max(1, len(traced_passes))
    builds = sum(o.get("artifact_builds", 0) for o in ops)
    hits = sum(o.get("artifact_hits", 0) for o in ops)
    m.update({
        "artifact_builds": builds / per_pass, "artifact_hits": hits / per_pass,
        "artifact_hit_ratio": hits / (hits + builds) if hits + builds else 0.0,
        "artifact_build_s": sum(o.get("artifact_build_s", 0) for o in ops) / per_pass,
        "persisted_bytes": max([o.get("persisted_bytes", 0) for o in ops] or [0]),
    })
    split = {k: 0.0 for k in ("gen_s", "avro_encode_s", "json_encode_s", "avro_write_s",
                              "json_write_s", "codec_s", "read_s", "aggregate_s",
                              "avro_decode_s", "json_decode_s")}
    rates = {f"{f}_{k}_msgs_per_s": 0.0 for f in ("avro", "json")
             for k in ("produce", "consume", "transport")}
    bytes_per_msg = {"avro_bytes_per_msg": 0.0, "json_bytes_per_msg": 0.0}
    if w["kind"] == "serde":
        legs = [{o["entry"]: o["wall_s"] for o in ops if o["pass"] == p} for p in traced_passes]
        split = benchlib.serde_split(legs)
        rates = serde_rates(rec)
        for f in ("avro", "json"):
            stored = [o["stored_bytes"] for o in rec["ops"]
                      if o["entry"] == f"produce_{f}" and o["status"] == "ok"]
            bytes_per_msg[f"{f}_bytes_per_msg"] = benchlib.median(stored) / rec["msgs"]
    m.update(split)
    m.update(rates)
    m.update(bytes_per_msg)
    self_t, overlap, residual = benchlib.self_times(spans, walls)
    for k, v in self_t.items():
        m[f"self_{k}_s"] = v / n
    m["self_overlap_s"] = overlap / n
    m["self_residual_s"] = residual / n
    m["trace_overhead_frac"] = benchlib.trace_overhead(rec["ops"])
    m["input_copy_s"] = benchlib.median(rec.get("input_copy_s", []))
    return m


def describe():
    print(json.dumps({"workloads": WORKLOADS, "scheduled": SCHEDULED,
                      "excluded": EXCLUDED}, indent=2))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--describe", action="store_true")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny run (one pass, 2 000 serde messages) to prove the command")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "GRAFTBENCH_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")))
    a = ap.parse_args(argv)
    if a.describe:
        return describe()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    w = WORKLOADS[a.workload]
    cp = build()
    if w["kind"] == "entries" and not os.path.isfile(os.path.join(a.sf_dir, "events.parquet")):
        die(f"no sf0.1 tables at {a.sf_dir} (set GRAFTBENCH_SF_DIR)")
    passes = plan(w, a.seconds, a.trace, a.smoke)
    rec, launched = run_jvm(a.workload, w, a.seed, passes, a.trace, cp, a.sf_dir, a.smoke)
    wrong, violations = check(w, rec)
    bad_warm = [o for o in rec["warm"] if o["status"] != "ok"]
    for o in bad_warm:
        wrong.setdefault(o["entry"], f"warm pass {o['status']}: {o.get('error', '')}")
    summed = benchlib.SERDE_E2E_LEGS if w["kind"] == "serde" else w["entries"]
    timed = benchlib.pass_ops([o for o in rec["ops"] if o["pass"] >= 0], summed,
                              [op for op, _ in violations], wrong)
    attempted, failed = benchlib.failure_counts(timed)
    result = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "passes": passes,
              "attempted": attempted, "failed": failed, "wrong": wrong,
              "violations": violations,
              "errors": [o.get("error") for o in rec["ops"]
                         if o["pass"] >= 0 and o["status"] not in ("ok", "wrong")]}
    if a.trace:
        layers = layer_metrics(rec, w, rec["cores"])
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        e2e, notes = e2e_metrics(timed, rec, launched)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        result.update(notes)
        result["serde_rates"] = serde_rates(rec) if w["kind"] == "serde" else {}
        result["input_copy_s"] = rec.get("input_copy_s", [])
        result["artifacts_per_pass"] = rec.get("passes", [])
    result["entries"] = per_entry(rec)
    result["metrics"] = metrics
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    path = os.path.join(OUT, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"correct": failed == 0 and not wrong and not violations,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


NOT_LAYER = {"op", "pass", "entry", "traced", "status", "wall_s", "report", "error"}


def per_entry(rec):
    """Per entry, for diff.py: median wall untraced and traced, and the
    median over its traced ops of every per-op layer counter."""
    out = {}
    for o in rec["ops"]:
        if o["status"] != "ok":
            continue
        d = out.setdefault(o["entry"], {})
        d.setdefault("traced_wall_s" if o["traced"] else "wall_s", []).append(o["wall_s"])
        if o["traced"]:
            for k, v in o.items():
                if k not in NOT_LAYER and isinstance(v, (int, float)):
                    d.setdefault(k, []).append(v)
    return {e: {k: benchlib.median(v) for k, v in d.items()} for e, d in out.items()}


UNITS = {"scan_files": "count", "build_jobs": "count", "aqe_updates": "count",
         "jobs_per_op": "count", "stages_per_op": "count", "tasks_per_op": "count",
         "failed_tasks": "count", "batches_per_op": "count", "state_rows": "count",
         "state_rows_updated": "count", "artifact_builds": "count",
         "artifact_hits": "count", "artifact_hit_ratio": "ratio", "core_util": "ratio",
         "trace_overhead_frac": "ratio", "peak_rss_mb": "MB"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_msgs_per_s"):
        return "msg/s"
    if name.endswith("_bytes_per_msg"):
        return "B/msg"
    if name.endswith("_bytes"):
        return "B"
    return "s"


if __name__ == "__main__":
    main()
