"""Turns one run's raw record (written by ksbench.Main) into metrics.

Pure functions over the record: percentiles under the sample-count rule,
span self-time arithmetic, and the end-to-end and per-layer metrics of each
workload. `test_metrics.py` covers the percentile rule, the self time and
the trigger waits.
"""
import bisect
import math
import statistics

# A reported percentile needs at least this many samples above it.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile `p` (0-100] of `values`."""
    if not values:
        return float("nan")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """Samples above the nearest-rank percentile `p` of `n` samples."""
    return n - max(1, math.ceil(p / 100.0 * n))


def min_samples(p):
    """Fewest samples for which percentile `p` has MIN_BEYOND above it."""
    n = 1
    while beyond(n, p) < MIN_BEYOND:
        n += 1
    return n


def merge_intervals(intervals, lo=-math.inf, hi=math.inf):
    """Disjoint, sorted union of [start, end) intervals clipped to [lo, hi)."""
    out = []
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    return sum(b - a for a, b in merge_intervals(intervals, lo, hi))


def self_times(spans):
    """Self time per layer.

    `spans` is a list of dicts with `id`, `parent` (None for a root),
    `layer`, `start` and `end`. A span's self time is its duration minus the
    part of its interval that its children cover (children may overlap one
    another; the covered part is their union, clipped to the parent).
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s["id"], [])
        covered = union_length([(k["start"], k["end"]) for k in kids],
                               s["start"], s["end"])
        own = max(0.0, (s["end"] - s["start"]) - covered)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def subtract_intervals(intervals, cuts):
    """Parts of the union of `intervals` that no interval of `cuts` covers."""
    out = []
    cuts = merge_intervals(cuts)
    for a, b in merge_intervals(intervals):
        for c, d in cuts:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append((a, c))
            a = max(a, d)
            if a >= b:
                break
        if a < b:
            out.append((a, b))
    return out


class Percentiles:
    """Nearest-rank percentiles under the sample-count rule.

    A percentile reported from fewer samples than the rule asks for is
    still returned, but recorded in `problems`; a run counts each problem
    as a failed operation, so such a figure never passes silently.
    """

    def __init__(self):
        self.problems = []

    def __call__(self, name, values, p):
        if beyond(len(values), p) < MIN_BEYOND:
            self.problems.append(f"{name}: {len(values)} samples, p{p} needs "
                                 f"{min_samples(p)}")
        return percentile(values, p) if values else 0.0


def geomean_of_means(by_name):
    """Geometric mean over names of the mean of each name's values.

    Every topology weighs the same, whatever its size; a pooled percentile
    of a mix this varied is the cost of whichever topology sits there.
    """
    by_name = {k: v for k, v in by_name.items() if v}
    if not by_name:
        return float("nan")
    return math.exp(sum(math.log(statistics.fmean(v)) for v in by_name.values()) / len(by_name))


def by_topology(samples, key):
    out = {}
    for s in samples:
        out.setdefault(s["name"], []).append(key(s))
    return out


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def steal_pct(steal, total):
    return 100.0 * steal / total if total else 0.0


# Application CPU ms of one `ReferenceJob` run on the reference host.
REF_CPU_MS = 200.0


def host_slowdown(ref_cpu_ms):
    """How much slower than the reference host this run's host ran the
    engine: the median of its ReferenceJob readings over REF_CPU_MS."""
    return statistics.median(ref_cpu_ms) / REF_CPU_MS if ref_cpu_ms else float("nan")


# --------------------------------------------------------------------- batch

SCHEMA_SITE = "parquet at Compiler.scala"


def clip_end(j, hi):
    """A job or execution's end, or `hi` if the record never saw it end."""
    return min(j["end"], hi) if j["end"] >= j["start"] else hi


def batch_spans(sample, jobs, phases, executions=()):
    """Span tree of one timed topology run (times in epoch ms).

    run ─┬ construct: the query-builder call (compile)
         │   ├ schema-inference jobs started inside it (compile)
         │   └ other jobs started inside it (ext)
         ├ write: the noop write (unattributed)
         │   ├ its Catalyst phases (catalyst)
         │   └ its SQL executions and jobs, less those phases (exec)
         └ release of operator caches (ext)

    The part of the write that no engine event covers stays `unattributed`.
    """
    t0, t1, t2, t3 = sample["t0"], sample["t1"], sample["t2"], sample["t3"]
    spans = [
        {"id": "run", "parent": None, "layer": "harness", "start": t0, "end": t3},
        {"id": "construct", "parent": "run", "layer": "compile", "start": t0, "end": t1},
        {"id": "write", "parent": "run", "layer": "unattributed", "start": t1, "end": t2},
        {"id": "release", "parent": "run", "layer": "ext", "start": t2, "end": t3},
    ]
    # jobs started inside construction, merged per layer where they overlap
    # (jobs launched from futures run side by side)
    by_layer = {}
    for j in jobs:
        if t0 <= j["start"] < t1:
            layer = "compile" if j["call_site"].startswith(SCHEMA_SITE) else "ext"
            by_layer.setdefault(layer, []).append((j["start"], clip_end(j, t1)))
    for layer, ivs in by_layer.items():
        for k, (a, b) in enumerate(merge_intervals(ivs)):
            spans.append({"id": f"{layer}-job{k}", "parent": "construct",
                          "layer": layer, "start": a, "end": b})
    cat = [(p["start"], min(p["end"], t2)) for p in phases
           if p["phase"] in ("analysis", "optimization", "planning") and t1 <= p["start"] < t2]
    for i, (a, b) in enumerate(merge_intervals(cat)):
        spans.append({"id": f"phase{i}", "parent": "write", "layer": "catalyst",
                      "start": a, "end": b})
    engine = [(e["start"], clip_end(e, t2)) for e in list(executions) + list(jobs)
              if t1 <= e["start"] < t2]
    for i, (a, b) in enumerate(subtract_intervals(engine, cat)):
        spans.append({"id": f"exec{i}", "parent": "write", "layer": "exec",
                      "start": a, "end": b})
    return spans


def batch_metrics(rec, oracle_failures):
    """End-to-end metrics of the timed passes (the warm passes excluded).

    The end-to-end figures are CPU time, which host CPU steal does not
    stretch: process CPU for the set-up, application CPU (the Java threads,
    without the JIT compiler and GC) for the runs. The wall figures of the
    same runs go to `info`.
    """
    warm = rec.get("warm_passes", 0)
    all_samples = rec.get("samples", [])
    samples = [s for s in all_samples if s["pass"] >= warm]
    checked = rec.get("checked", [])
    untraced = [s for s in samples if not s["traced"]]
    ok = [s for s in untraced if s["ok"]]
    # CPU of each run from the builder call through the cache release; the
    # harness between runs is left out
    cpu_s = sum(s["run_cpu_ms"] for s in untraced) / 1000.0
    # an operation is a topology run: ops_per_cpu_s counts the runs,
    # op_cpu_ms is the geometric mean over topologies of each one's CPU
    raw = {
        "setup_s": rec["first_timed_cpu_s"],
        "ops_per_cpu_s": len(untraced) / cpu_s if cpu_s else 0.0,
        "op_cpu_ms": geomean_of_means(by_topology(ok, lambda s: s["cpu_ms"])),
    }
    slow = host_slowdown([s["ref_cpu_ms"] for s in untraced])
    e2e = {"setup_s": raw["setup_s"] / slow,
           "ops_per_cpu_s": raw["ops_per_cpu_s"] * slow,
           "op_cpu_ms": raw["op_cpu_ms"] / slow}
    info = {"samples": len(ok), "timed_passes": len(rec.get("passes", [])) - warm,
            "steal_pct": steal_pct(sum(s["steal_jiffies"] for s in samples),
                                   sum(s["total_jiffies"] for s in samples)),
            "host_slowdown": slow}
    info.update({f"raw.{k}": v for k, v in raw.items()})
    info.update(batch_wall(rec))
    attempted = len(all_samples) + len(checked)
    failed = (sum(1 for s in all_samples if not s["ok"])
              + sum(1 for c in checked if "error" in c) + oracle_failures)
    return e2e, info, attempted, failed


def batch_wall(rec):
    """Wall-clock figures of the untraced timed passes (stretched by steal)."""
    warm = rec.get("warm_passes", 0)
    ok = [s for s in rec.get("samples", [])
          if s["pass"] >= warm and not s["traced"] and s["ok"]]
    passes = [p for p in rec.get("passes", []) if not p["traced"] and p["pass"] >= warm]
    wall_s = sum(p["end"] - p["start"] for p in passes) / 1000.0
    runs = sum(1 for s in rec.get("samples", []) if s["pass"] >= warm and not s["traced"])
    return {
        "wall.setup_s": (rec["first_timed_ms"] - rec["jvm_start_ms"]) / 1000.0,
        "wall.topologies_per_s": runs / wall_s if wall_s else 0.0,
        "wall.topology_ms_gmean": geomean_of_means(by_topology(ok, lambda s: s["t2"] - s["t0"])),
    }


def batch_layers(rec):
    samples = [s for s in rec.get("samples", []) if s["ok"] and s["traced"]]
    jobs = rec.get("jobs", [])
    phases = rec.get("phases", [])
    executions = rec.get("executions", [])
    per = {k: [] for k in (
        "construct_self", "schema_jobs", "schema_job_ms", "eager_jobs",
        "eager_job_ms", "analysis", "optimization", "planning",
        "exec_jobs", "exec_tasks", "exec_cpu", "exec_shuffle", "exec_spill",
        "exec_gc")}
    layer_tot = {}
    for s in samples:
        for k, v in self_times(batch_spans(s, jobs, phases, executions)).items():
            layer_tot[k] = layer_tot.get(k, 0.0) + v
        construct_jobs = [j for j in jobs if s["t0"] <= j["start"] < s["t1"]]
        schema = [j for j in construct_jobs if j["call_site"].startswith(SCHEMA_SITE)]
        eager = [j for j in construct_jobs if not j["call_site"].startswith(SCHEMA_SITE)]
        span_of = lambda js: [(j["start"], clip_end(j, s["t1"])) for j in js]
        per["construct_self"].append(
            (s["t1"] - s["t0"]) - union_length(span_of(construct_jobs), s["t0"], s["t1"]))
        per["schema_jobs"].append(len(schema))
        per["schema_job_ms"].append(union_length(span_of(schema)))
        per["eager_jobs"].append(len(eager))
        per["eager_job_ms"].append(union_length(span_of(eager)))
        ph = [p for p in phases if s["t1"] <= p["start"] < s["t2"]]
        for name in ("analysis", "optimization", "planning"):
            per[name].append(sum(p["end"] - p["start"] for p in ph if p["phase"] == name))
        wj = [j for j in jobs if s["t1"] <= j["start"] < s["t2"]]
        per["exec_jobs"].append(len(wj))
        per["exec_tasks"].append(sum(j["tasks"] for j in wj))
        per["exec_cpu"].append(sum(j["cpu_s"] for j in wj))
        per["exec_shuffle"].append(sum(j["shuffle_write_bytes"] for j in wj))
        per["exec_spill"].append(sum(j["spill_bytes"] for j in wj))
        per["exec_gc"].append(sum(j["gc_s"] for j in wj))
    n = len(samples)
    passes = rec.get("passes", [])
    warm = rec.get("warm_passes", 0)
    traced_wall = sum(p["end"] - p["start"] for p in passes if p["traced"])
    # time inside the runs that a layer span explains; the harness between
    # runs and the unattributed part of each write are left out
    explained = (sum(s["t3"] - s["t0"] for s in samples)
                 - layer_tot.get("harness", 0.0) - layer_tot.get("unattributed", 0.0))
    m = {
        "compile.construct_self_ms": mean(per["construct_self"]),
        "compile.schema_jobs": mean(per["schema_jobs"]),
        "compile.schema_job_ms": mean(per["schema_job_ms"]),
        "ext.eager_jobs": mean(per["eager_jobs"]),
        "ext.eager_job_ms": mean(per["eager_job_ms"]),
        "ext.cache_leaked_blocks": max([s["leaked_blocks"] for s in rec.get("samples", [])] or [0]),
        "catalyst.analysis_ms": mean(per["analysis"]),
        "catalyst.optimization_ms": mean(per["optimization"]),
        "catalyst.planning_ms": mean(per["planning"]),
        "exec.jobs": mean(per["exec_jobs"]),
        "exec.tasks": mean(per["exec_tasks"]),
        "exec.cpu_s": mean(per["exec_cpu"]),
        "exec.shuffle_write_bytes": mean(per["exec_shuffle"]),
        "exec.spill_bytes": mean(per["exec_spill"]),
        "exec.gc_s": mean(per["exec_gc"]),
        "trace.coverage_pct": 100.0 * explained / traced_wall if traced_wall else 0.0,
    }
    # exec's self time is exec.busy_ms
    for layer in ("compile", "ext", "catalyst"):
        m[f"{layer}.self_ms"] = layer_tot.get(layer, 0.0) / n if n else 0.0
    m["exec.busy_ms"] = layer_tot.get("exec", 0.0) / n if n else 0.0
    # tracing overhead in CPU time: runs of traced against untraced passes
    # of the same mix in the same run
    tc = [s["run_cpu_ms"] for s in samples]
    uc = [s["run_cpu_ms"] for s in rec.get("samples", [])
          if s["ok"] and not s["traced"] and s["pass"] >= warm]
    m["trace.overhead_pct"] = 100.0 * (mean(tc) / mean(uc) - 1.0) if tc and uc else 0.0
    m.update(batch_wall(rec))
    return m


# -------------------------------------------------------------------- stream

# A batch that starts this close after a trigger tick was waiting for it.
TICK_SLACK_MS = 50.0


def data_batches(progress):
    """(start_offset, end_offset, progress) per data batch, by end offset."""
    return sorted(((p["start_offset"], p["end_offset"], p) for p in progress
                   if p["end_offset"] > p["start_offset"]), key=lambda t: t[1])


def event_latencies(calls, progress, phase="rate"):
    """Per-event (to commit, queue wait) in ms for the events of `phase`.

    Events of one call are due evenly between its first and last due time;
    an event's result is committed when the batch holding its call ends.
    """
    batches = data_batches(progress)
    ends = [b[1] for b in batches]
    to_commit, waits = [], []
    for c in calls:
        if c["phase"] != phase:
            continue
        i = bisect.bisect_left(ends, c["index"])
        if i == len(batches) or batches[i][0] >= c["index"]:
            continue
        p = batches[i][2]
        start = p["start_ms"]
        end = start + p["durations"].get("triggerExecution", 0)
        n = c["n"]
        step = (c["last_due_ms"] - c["first_due_ms"]) / (n - 1) if n > 1 else 0.0
        for k in range(n):
            due = c["first_due_ms"] + k * step
            to_commit.append(end - due)
            waits.append(max(0.0, start - due))
    return to_commit, waits


def trigger_waits(batch_spans, trigger_ms):
    """Gaps in which the engine waited for its next trigger tick.

    Between two batches, the gap up to the tick the second one started on,
    if it started on a tick; a batch that starts off the tick grid followed
    an overrunning one, and its gap is not a wait.
    """
    out = []
    spans = sorted(batch_spans)
    for (_, a_end), (b_start, _) in zip(spans, spans[1:]):
        tick = b_start - math.fmod(b_start, trigger_ms)
        if b_start - tick <= TICK_SLACK_MS and tick > a_end:
            out.append((a_end, tick))
    return out


def stream_metrics(rec):
    """End-to-end metrics of stream_serve: set-up in process CPU time, the
    drain and the quiet lookups in application CPU time."""
    calls = rec.get("calls", [])
    progress = rec.get("progress", [])
    lookups = rec.get("lookups", [])
    quiet = rec.get("quiet_lookups", [])
    to_commit, _ = event_latencies(calls, progress)
    drain = rec["drain"]
    # ops_per_cpu_s counts drained events, op_cpu_ms is a quiet lookup
    raw = {
        "setup_s": rec["first_timed_cpu_s"],
        "ops_per_cpu_s": 1000.0 * drain["rows"] / drain["app_cpu_ms"],
        "op_cpu_ms": mean([l["cpu_ms"] for l in quiet if l["ok"] and not l["traced"]]),
    }
    slow = host_slowdown(rec.get("ref_cpu_ms", []))
    # the drain is one stretch of a few seconds: it is read against the
    # readings taken around its chunks, not the run's median
    drain_slow = host_slowdown(drain.get("ref_cpu_ms") or [])
    e2e = {"setup_s": raw["setup_s"] / slow,
           "ops_per_cpu_s": raw["ops_per_cpu_s"] * drain_slow,
           "op_cpu_ms": raw["op_cpu_ms"] / slow}
    rate_events = sum(c["n"] for c in calls if c["phase"] == "rate")
    fc = rec.get("final_check", {"entries": 0, "wrong": 1})
    dropped = sum(p["state_dropped"] for p in progress)
    w = rec.get("timed_window", {})
    info = {"events": rate_events, "event_samples": len(to_commit),
            "lookups": len(lookups), "quiet_lookups": len(quiet),
            "final_entries": fc["entries"], "final_wrong": fc["wrong"],
            "dropped_by_watermark": dropped,
            "steal_pct": steal_pct(w.get("steal_jiffies", 0), w.get("total_jiffies", 0)),
            "host_slowdown": slow, "drain_slowdown": drain_slow}
    info.update({f"raw.{k}": v for k, v in raw.items()})
    info.update(stream_wall(rec, Percentiles()))
    attempted = len(lookups) + len(quiet) + fc["entries"] + 1
    failed = (sum(1 for l in lookups + quiet if not l["ok"]) + fc["wrong"]
              + (1 if dropped else 0))
    if len(to_commit) < rate_events:
        failed += 1  # rate-phase events whose batch was never seen
    return e2e, info, attempted, failed


def stream_wall(rec, pct):
    """Wall-clock figures of stream_serve (stretched by steal)."""
    to_commit, _ = event_latencies(rec.get("calls", []), rec.get("progress", []))
    lk = [l["end_ms"] - l["due_ms"] for l in rec.get("lookups", [])
          if l["ok"] and not l["warmup"]]
    drain = rec["drain"]
    drain_s = drain["wall_ms"] / 1000.0
    return {
        "wall.setup_s": (rec["first_timed_ms"] - rec["jvm_start_ms"]) / 1000.0,
        "wall.event_to_result_ms_p50": pct("wall.event_to_result_ms_p50", to_commit, 50),
        "wall.event_to_result_ms_p95": pct("wall.event_to_result_ms_p95", to_commit, 95),
        "wall.lookup_ms_p50": pct("wall.lookup_ms_p50", lk, 50),
        "wall.drain_rows_per_s": drain["rows"] / drain_s if drain_s else 0.0,
    }


def stream_layers(rec, pct):
    calls = rec.get("calls", [])
    progress = rec.get("progress", [])
    lookups = [l for l in rec.get("lookups", []) if not l["warmup"]]
    quiet = rec.get("quiet_lookups", [])
    jobs = rec.get("jobs", [])
    t_lo = rec["first_timed_ms"]
    t_hi = rec["timed_end_ms"]
    drain_start = rec["drain"]["start_ms"]
    timed = [p for p in progress if t_lo <= p["start_ms"] < t_hi]
    d = lambda p, k: p["durations"].get(k, 0)
    to_commit, waits = event_latencies(calls, progress)
    # backlog during ingest: rows fed but not yet in a committed batch, at
    # each commit seen
    backlog = []
    for p in timed:
        if p["start_ms"] >= drain_start:
            continue
        fed = sum(c["n"] for c in calls if c["add_end_ms"] <= p["seen_ms"])
        done = sum(c["n"] for c in calls if c["index"] <= p["end_offset"])
        backlog.append(max(0, fed - done))
    rate_calls = [c for c in calls if c["phase"] == "rate"]
    traced = [l for l in quiet if l["traced"] and l["ok"]]
    untraced = [l for l in quiet if not l["traced"] and l["ok"]]
    http = lambda l: l["end_ms"] - l["start_ms"]
    direct = lambda l: l["direct_end_ms"] - l["direct_start_ms"]
    # HTTP lookup jobs: not streaming jobs, not the direct lookups, started
    # while a traced HTTP lookup was in flight
    lk_jobs = [j for j in jobs if not j["streaming"] and j["tag"] != "iq.direct"
               and any(l["start_ms"] <= j["start"] < l["end_ms"] for l in traced)]
    store_rows = []
    for l in lookups:
        rows = sum(p["sink_rows"] for p in progress
                   if p["end_offset"] <= l["committed"] and p["sink_rows"] > 0)
        if l["ok"] and l["windows"]:
            store_rows.append(rows / l["windows"])
    batch_spans_ = [(p["start_ms"], p["start_ms"] + d(p, "triggerExecution")) for p in timed]
    lookup_spans = ([(l["start_ms"], l["end_ms"]) for l in lookups + quiet]
                    + [(l["direct_start_ms"], l["direct_end_ms"]) for l in traced])
    spans = batch_spans_ + lookup_spans
    # waits for a trigger tick are idle engine time, neither explained by a
    # layer nor left unexplained: coverage is taken over the rest
    idle = union_length(spans + trigger_waits(batch_spans_, rec["trigger_ms"]), t_lo, t_hi) \
        - union_length(spans, t_lo, t_hi)
    busy_wall = (t_hi - t_lo) - idle
    m = {
        "streaming.batches": len(timed),
        "streaming.empty_batch_share": (sum(1 for p in timed if p["rows"] == 0) / len(timed)) if timed else 0.0,
        # per-batch figures are means: the 500 ms trigger caps a run at
        # about 30 batches, and a slow host leaves fewer than the 20 a
        # median needs
        "streaming.trigger_ms_mean": mean([d(p, "triggerExecution") for p in timed]),
        "streaming.add_batch_ms_mean": mean([d(p, "addBatch") for p in timed]),
        "streaming.query_planning_ms_mean": mean([d(p, "queryPlanning") for p in timed]),
        "streaming.wal_commit_ms_mean": mean([d(p, "walCommit") for p in timed]),
        "streaming.commit_offsets_ms_mean": mean([d(p, "commitOffsets") for p in timed]),
        "streaming.queue_wait_ms_p50": pct("streaming.queue_wait_ms_p50", waits, 50),
        "streaming.backlog_rows_max": max(backlog or [0]),
        "streaming.generator_lag_ms_max": max([c["add_start_ms"] - c["first_due_ms"] for c in rate_calls] or [0.0]),
        "streaming.self_ms": union_length(batch_spans_, t_lo, t_hi),
        "state.commit_ms_mean": mean([p["state_commit_ms"] for p in timed if p["rows"] > 0]),
        "state.rows_total_max": max([p["state_rows_total"] for p in progress] or [0]),
        "state.memory_bytes_max": max([p["state_memory_bytes"] for p in progress] or [0]),
        "state.rows_dropped_by_watermark": sum(p["state_dropped"] for p in progress),
        "iq.lookup_direct_ms_p50": pct("iq.lookup_direct_ms_p50", [direct(l) for l in traced], 50),
        "iq.http_overhead_ms_p50": pct("iq.http_overhead_ms_p50", [http(l) - direct(l) for l in traced], 50),
        "iq.jobs_per_lookup": len(lk_jobs) / len(traced) if traced else 0.0,
        "iq.store_rows_max": rec.get("final_check", {}).get("store_rows", 0),
        "iq.rows_scanned_per_hit": pct("iq.rows_scanned_per_hit", store_rows, 50),
        "iq.self_ms": union_length(lookup_spans, t_lo, t_hi),
        "trace.coverage_pct": 100.0 * union_length(spans, t_lo, t_hi) / busy_wall if busy_wall > 0 else 0.0,
    }
    # tracing overhead in CPU time: HTTP lookups with the job listener
    # attached against those without it, alternating in the same run
    tc = mean([l["cpu_ms"] for l in traced])
    uc = mean([l["cpu_ms"] for l in untraced])
    m["trace.overhead_pct"] = 100.0 * (tc / uc - 1.0) if tc and uc else 0.0
    m.update(stream_wall(rec, pct))
    return m


# ------------------------------------------------------------------- process

def process_layers(rec):
    w = rec.get("timed_window", {})
    return {
        "process.cpu_s": w.get("cpu_s", 0.0),
        "process.gc_s": w.get("gc_s", 0.0),
        "process.peak_rss_mb": rec.get("peak_rss_mb", 0.0),
        "process.steal_pct": steal_pct(w.get("steal_jiffies", 0), w.get("total_jiffies", 0)),
    }
