"""Pure functions of the graft benchmark: entry order, latency rules,
failure accounting, span self times and the metric roll-ups. run.py
feeds them the raw record the JVM harness writes; test_graftbench.py
tests them without a JVM."""
import random
import statistics

# Cumulative serde legs of a traced pass, in the order they stack.
SERDE_E2E_LEGS = ("produce_avro", "produce_json", "consume_avro", "consume_json",
                  "transport_avro", "transport_json")

# Span nesting: the kinds a span may hang under, and their depth. A
# span's parent is the deepest enclosing span of an allowed kind in the
# same op (a stage hangs under its own job when that job is traced).
SPAN_LEVEL = {"op": 0, "build": 1, "exec": 1, "batch": 2, "plan": 3, "job": 3, "stage": 4}
SPAN_PARENTS = {"op": (), "build": ("op",), "exec": ("op",),
                "batch": ("build", "exec", "op"),
                "plan": ("batch", "build", "exec", "op"),
                "job": ("batch", "build", "exec", "op"),
                "stage": ("job", "batch", "build", "exec", "op")}
SPAN_KINDS = ("op", "build", "exec", "plan", "batch", "job", "stage")
TOLERANCE_NS = 1_000_000  # listener stamps are whole milliseconds


def entry_orders(entries, seed, passes):
    """The entry order of each timed pass: a permutation of `entries`
    drawn from (seed, pass), so the same seed gives the same orders."""
    out = []
    for p in range(passes):
        rng = random.Random(seed * 1_000_003 + p)
        out.append(rng.sample(list(entries), len(entries)))
    return out


def tail_latency(values):
    """Latency at the highest percentile that has at least 10 samples
    beyond it: the (n-10)-th smallest of n samples, at percentile
    100*(n-10)/n. Returns (value, percentile, n). The rule is applied
    only where it lands at or above the median (n >= 20); with fewer
    samples the maximum is returned at percentile 100, so the output
    says the rule could not apply."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 20:
        return xs[-1], 100.0, n
    k = n - 10
    return xs[k - 1], 100.0 * k / n, n


def pass_ops(ops, summed, violated_ops=(), wrong_entries=()):
    """The ops of each timed pass folded into one op: its wall is the sum
    of the walls of the pass's ops whose entry is in `summed`, so every
    latency compares a whole pass (a serde round trip, every entry of a
    workload once) with another, never the midpoint between two kinds of
    op. A pass fails when any of its ops (a traced pass's extra legs
    included) did not finish ok, broke a serde report check, or belongs
    to an entry whose checked answer was wrong (status "wrong")."""
    bad, wrong = set(violated_ops), set(wrong_entries)
    out = {}
    for o in ops:
        r = out.setdefault(o["pass"], {"op": o["pass"], "entry": "pass", "pass": o["pass"],
                                       "traced": o["traced"], "status": "ok", "wall_s": 0.0})
        if r["status"] == "ok" and o["status"] != "ok":
            r["status"] = o["status"]
        elif r["status"] == "ok" and (o["op"] in bad or o["entry"] in wrong):
            r["status"] = "wrong"
        if o["entry"] in summed:
            r["wall_s"] += o["wall_s"]
    return [out[p] for p in sorted(out)]


def failure_counts(ops):
    """(attempted, failed): an op fails unless its status is ok (it
    threw, timed out, was skipped at the run deadline, or is wrong)."""
    return len(ops), sum(1 for o in ops if o["status"] != "ok")


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def serde_split(passes):
    """Serde layer times from the cumulative legs of traced passes.
    `passes` is a list of {leg name: wall seconds}; each layer is the
    median over passes of one leg minus the leg it stacks on."""
    def layer(f):
        return median(f(p) for p in passes)

    def each(fmt_fn):
        return layer(lambda p: (fmt_fn(p, "avro") + fmt_fn(p, "json")) / 2)

    return {
        "gen_s": layer(lambda p: p["gen"]),
        "avro_encode_s": layer(lambda p: p["encode_avro"] - p["gen"]),
        "json_encode_s": layer(lambda p: p["encode_json"] - p["gen"]),
        "avro_write_s": layer(lambda p: p["produce_none_avro"] - p["encode_avro"]),
        "json_write_s": layer(lambda p: p["produce_none_json"] - p["encode_json"]),
        "codec_s": each(lambda p, f: p[f"produce_{f}"] - p[f"produce_none_{f}"]),
        "read_s": each(lambda p, f: p[f"read_{f}"]),
        "aggregate_s": each(lambda p, f: p[f"transport_{f}"] - p[f"read_{f}"]),
        "avro_decode_s": layer(lambda p: p["consume_avro"] - p["transport_avro"]),
        "json_decode_s": layer(lambda p: p["consume_json"] - p["transport_json"]),
    }


def _union(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _parent(span, candidates):
    if span["kind"] == "stage":
        jobs = [c for c in candidates if c["kind"] == "job" and c["job"] == span["job"]]
        if jobs:
            return jobs[0]
    best = None
    allowed = SPAN_PARENTS[span["kind"]]
    for c in candidates:
        cl = SPAN_LEVEL[c["kind"]]
        if c["kind"] not in allowed or c is span:
            continue
        if c["start_ns"] - TOLERANCE_NS <= span["start_ns"] <= c["end_ns"] + TOLERANCE_NS:
            if best is None or (cl, c["start_ns"]) > (SPAN_LEVEL[best["kind"]], best["start_ns"]):
                best = c
    return best


def self_times(spans, op_walls):
    """Self time per span kind summed over ops, the overlap, and the
    residual.

    A span's self time is its duration minus the part of it covered by
    its children (clipped to the span). Where children overlap (stages
    or jobs running side by side) the overlap is counted once per extra
    child, so op wall = sum of self times - overlap + residual; the
    residual is what listener stamps, rounded to milliseconds, leave
    unaccounted. `op_walls` maps op id -> op wall seconds."""
    by_op = {}
    for s in spans:
        if s["op"] in op_walls:
            by_op.setdefault(s["op"], []).append(s)
    out = {k: 0.0 for k in SPAN_KINDS}
    overlap = 0.0
    for op_spans in by_op.values():
        children = {id(s): [] for s in op_spans}
        for s in op_spans:
            p = _parent(s, op_spans)
            if p is not None:
                children[id(p)].append(s)
        for s in op_spans:
            clipped = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                       for c in children[id(s)]]
            clipped = [(a, b) for a, b in clipped if b > a]
            cov = _union(clipped)
            out[s["kind"]] += max(0, (s["end_ns"] - s["start_ns"]) - cov) / 1e9
            overlap += (sum(b - a for a, b in clipped) - cov) / 1e9
    wall = sum(op_walls.values())
    return out, overlap, wall - (sum(out.values()) - overlap)


def job_cover(spans, op_id):
    """Seconds of an op during which at least one Spark job ran."""
    return _union((s["start_ns"], s["end_ns"]) for s in spans
                  if s["op"] == op_id and s["kind"] == "job") / 1e9


def jobs_inside(spans, op_id, kind):
    """Number of jobs of an op whose parent span is of `kind`."""
    mine = [s for s in spans if s["op"] == op_id]
    return sum(1 for j in mine if j["kind"] == "job"
               and (_parent(j, mine) or {}).get("kind") == kind)


def trace_overhead(ops):
    """Tracing overhead as a share: traced op wall over untraced op wall
    of the same entries (medians per entry), minus one. Pass 0, which
    still settles after the warm pass, is not compared."""
    t, u = {}, {}
    for o in ops:
        if o["status"] == "ok" and o["pass"] >= 1:
            (t if o["traced"] else u).setdefault(o["entry"], []).append(o["wall_s"])
    common = sorted(set(t) & set(u))
    num = sum(median(t[e]) for e in common)
    den = sum(median(u[e]) for e in common)
    return num / den - 1 if den > 0 else 0.0
