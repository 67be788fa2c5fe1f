"""Turns the JVM's raw observations into the benchmark's metrics.

Pure functions over plain data, so the accounting rules are unit-tested
(test_stats.py): nearest-rank percentiles that need ten samples beyond
them, latency from each operation's due time, and failures counted against
attempts.
"""
import math
import statistics

VIEWS = ("counts", "platforms", "weather")
STREAM_QUERIES = ("positions", "counts", "weather")
LAYERS = ("gen", "sources", "streaming", "serving", "operators", "plans", "spark")
MIN_BEYOND = 10


def percentile(xs, p):
    """Nearest-rank p-quantile (0 < p < 1) of xs, or None when fewer than
    MIN_BEYOND samples lie above it."""
    n = len(xs)
    k = max(1, math.ceil(p * n))
    if n == 0 or n - k < MIN_BEYOND:
        return None
    return sorted(xs)[k - 1]


def latency_ms(due_ns, seen_ns, limit_ms):
    """Latency of one operation from its due time, or None when it failed:
    never visible (seen_ns None) or visible only after the limit."""
    if seen_ns is None:
        return None
    ms = (seen_ns - due_ns) / 1e6
    return ms if ms <= limit_ms else None


def summarize(lat, limit_ms):
    """p50/p80 of per-operation latencies; a failed operation (None) ranks
    above every success and, if a percentile lands on it, reads as the limit."""
    ranked = [math.inf if x is None else x for x in lat]
    out = {}
    for name, p in (("latency_p50_ms", 0.5), ("latency_p80_ms", 0.8)):
        v = percentile(ranked, p)
        if v is None:
            raise ValueError(f"{len(ranked)} operations are too few for {name}")
        out[name] = limit_ms if math.isinf(v) else v
    return out


def transit_ops(raw):
    """(view, tick, latency ms or None) for every (tick, view) sample of the
    measured ticks; a view whose output check failed fails all its samples."""
    ops = []
    for v in VIEWS:
        bad = bool(raw["check"][v])
        seen = raw["seen_ns"][v]
        for i in range(raw["first"], len(raw["due_ns"])):
            if v == "weather" and not raw["has_weather"][i]:
                continue
            lat = None if bad else latency_ms(raw["due_ns"][i], seen[i], raw["limit_ms"])
            ops.append((v, i, lat))
    return ops


def end_to_end(workload, raw, check_failures):
    """(metrics, attempted, failed, correct) of one run."""
    if workload.startswith("transit"):
        ops = transit_ops(raw)
        lat = [x for _, _, x in ops]
        tput = sum(raw["events"][raw["first"]:]) / raw["window_s"]
        correct = not any(raw["check"].values())
        limit = raw["limit_ms"]
    else:
        failed_q = set(raw["errors"]) | set(check_failures)
        lat = [None if (not s["ok"] or s["q"] in failed_q) else s["construct_ms"] + s["action_ms"]
               for s in raw["samples"]]
        tput = len(raw["samples"]) / raw["window_s"]
        correct = not failed_q
        limit = max((s["construct_ms"] + s["action_ms"] for s in raw["samples"]), default=0.0)
    m = summarize(lat, limit)
    m["throughput_per_s"] = tput
    m["setup_s"] = statistics.median(raw["setup_s"])
    m["heap_live_mb"] = raw["heap_live_mb"]
    failed = sum(1 for x in lat if x is None)
    return m, len(lat), failed, correct


def self_time(spans):
    """Per layer (the span name's first segment), the summed duration of its
    spans minus the part of each covered by that span's children."""
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                           for c in children.get(s["id"], ())):
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def per_layer(raw, spans, e2e, attempted):
    """Every per-layer metric; a layer off this workload's path reads 0."""
    w0 = raw["window_start_ms"]
    in_win = [s for s in spans if s["start"] >= w0]
    # Catalyst phases carry no parent: give each the innermost operators span around it
    ops_spans = sorted((s for s in spans if s["name"].startswith("operators.")),
                       key=lambda s: s["end"] - s["start"])
    for s in spans:
        if s["name"].startswith("plans.") and s["parent"] is None:
            for o in ops_spans:
                if o["start"] <= s["start"] and s["end"] <= o["end"]:
                    s["parent"] = o["id"]
                    break

    def named(prefix, pool=in_win):
        return [s for s in pool if s["name"].startswith(prefix)]

    def dur(s):
        return s["end"] - s["start"]

    def jobs_under(parents):
        ids = {p["id"] for p in parents}
        return sum(1 for s in spans if s["name"] == "spark.job" and s["parent"] in ids)

    c0, c1 = raw.get("counters_start", {}), raw.get("counters_window", {})

    def delta(k):
        return c1.get(k, 0.0) - c0.get(k, 0.0)

    m = {}
    loads = named("sources.load", spans)
    m["sources.load_ms"] = _mean([dur(s) for s in loads])
    m["sources.load_jobs"] = jobs_under(loads) / len(loads) if loads else 0.0
    batches = [s for s in in_win if s["name"].startswith("streaming.") and s["name"].endswith(".batch")]
    listing = [dur(s) for s in in_win if s["name"].startswith("sources.")
               and s["name"].rsplit(".", 1)[-1] in ("latestOffset", "getBatch")]
    m["sources.list_ms"] = sum(listing) / len(batches) if batches else 0.0
    m["sources.files_per_batch"] = raw.get("files_landed", 0) / len(batches) if batches else 0.0

    for q in STREAM_QUERIES:
        bs = [s for s in batches if s["name"] == f"streaming.{q}.batch"]
        trig = [dur(s) for s in bs]
        kids, ids = {}, {b["id"] for b in bs}
        for s in in_win:
            if s["parent"] in ids:
                kids.setdefault(s["name"].rsplit(".", 1)[-1], []).append(dur(s))
        n = len(bs) or 1
        p = f"streaming.{q}."
        m[p + "batches"] = len(bs)
        m[p + "trigger_p50_ms"] = statistics.median(trig) if trig else 0.0
        m[p + "trigger_max_ms"] = max(trig, default=0.0)
        m[p + "plan_ms"] = sum(kids.get("queryPlanning", [])) / n
        m[p + "add_batch_ms"] = sum(kids.get("addBatch", [])) / n
        m[p + "commit_ms"] = (sum(kids.get("walCommit", [])) + sum(kids.get("commitOffsets", []))) / n
        m[p + "rows_in"] = sum(b["attrs"]["rows_in"] for b in bs)
        last = max(bs, key=lambda b: b["end"], default=None)
        m[p + "state_rows"] = last["attrs"]["state_rows"] if last else 0.0
        m[p + "state_mb"] = last["attrs"]["state_bytes"] / 2**20 if last else 0.0
        m[p + "state_commit_ms"] = _mean([b["attrs"]["state_commit_ms"] for b in bs])
        m[p + "recover_ms"] = _mean([dur(s) for s in named(f"streaming.{q}.recover", spans)])
    fed = sum(raw.get("fed_change_events", []))
    emitted = raw.get("counters_end", {}).get("positions.emitted", 0.0)
    m["streaming.positions.emit_ratio"] = emitted / fed if fed else 0.0

    renders = raw.get("render_ms", [])
    m["serving.render_p50_ms"] = percentile(renders, 0.5) or 0.0
    m["serving.render_p90_ms"] = percentile(renders, 0.9) or 0.0
    m["serving.errors"] = raw.get("render_errors", 0)

    cons, acts = named("operators.construct", spans), named("operators.action", spans)
    m["operators.construct_s"] = _mean([dur(s) for s in cons]) / 1e3
    m["operators.construct_jobs"] = jobs_under(cons) / len(cons) if cons else 0.0
    m["operators.action_s"] = _mean([dur(s) for s in acts]) / 1e3
    jobs = [s for s in in_win if s["name"] == "spark.job"]
    m["operators.jobs_per_op"] = len(jobs) / attempted
    m["operators.stages_per_op"] = delta("spark.stages") / attempted
    m["operators.tasks_per_op"] = delta("spark.tasks") / attempted
    m["operators.task_busy_frac"] = delta("spark.task_ms") / (raw["cpus"] * raw["window_s"] * 1e3)
    m["operators.shuffle_mb_per_op"] = delta("spark.shuffle_bytes") / 2**20 / attempted
    m["operators.spill_mb"] = delta("spark.spill_bytes") / 2**20

    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.{phase}_ms"] = _mean([dur(s) for s in named(f"plans.{phase}")])
    m["jvm.gc_s"] = raw["gc_s"]
    late = raw.get("late_ms", [])
    m["gen.late_p50_ms"] = percentile(late, 0.5) or 0.0
    m["gen.late_max_ms"] = max(late, default=0.0)

    selfs = self_time(in_win)
    for layer in LAYERS:
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0) / 1e3
    m["trace.spans"] = raw.get("spans", len(spans))
    m["trace.cost_ms"] = raw.get("trace_cost_ms", 0.0)
    m["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
    return m
