"""Pure functions behind the benchmark's figures: percentiles, the span
tree and its self times, and the per-layer profile. `run.py` feeds them
the JVM's raw `result.json`; `tests/test_perfbench.py` pins them.
"""
import math
import re
import statistics
from collections import Counter, defaultdict

# micro-batch phases of StreamingQueryProgress.durationMs, in the order
# MicroBatchExecution runs them
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets"]


def hist_n(hist):
    return sum(hist.values())


def hist_quantile(hist, k):
    """The k-th smallest sample (0-based) of a value -> count histogram."""
    seen = 0
    for v in sorted(hist):
        seen += hist[v]
        if seen > k:
            return v
    raise ValueError("k out of range")


def hist_median(hist):
    n = hist_n(hist)
    return hist_quantile(hist, (n - 1) // 2) if n else 0.0


def hist_tail(hist):
    """(value, percentile, n) of a value -> count histogram (a
    `collections.Counter` of a list will do): the highest percentile
    with at least 10 samples beyond it. With 10 samples or fewer, no
    percentile has 10 beyond it and the maximum stands in (percentile
    100)."""
    n = hist_n(hist)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return max(hist), 100.0, n
    k = n - 11
    return hist_quantile(hist, k), 100.0 * (k + 1) / n, n


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end) intervals, clipped to
    [lo, hi] when given."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(spans):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    kids = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_ms(kids[s["id"]], s["start_ms"], s["end_ms"])
            for s in spans}


def _reparent(child, candidates):
    """The deepest candidate in the child's trace whose interval holds the
    child's start; ties go to the latest start."""
    best = None
    for c in candidates:
        if c["trace"] == child["trace"] and c["start_ms"] <= child["start_ms"] <= c["end_ms"]:
            if best is None or (c["level"], c["start_ms"]) > (best["level"], best["start_ms"]):
                best = c
    return best["id"] if best else child["parent"]


def build_spans(trace):
    """Assembles the span tree from the tracer's raw records.

    Levels: 1 workload, 2 item, 3 build/plan/write or micro-batch,
    4 micro-batch phase or Spark job, 5 stage. Harness spans carry their
    parent. A micro-batch hangs under the deepest harness span of its
    trace that encloses its start (a streaming twin's batches run inside
    its build), a job under the deepest harness span or micro-batch; the
    phases are laid end to end from their batch's start.
    """
    spans = [dict(s, id=f"h{s['id']}", parent=f"h{s['parent']}" if s["parent"] else "w",
                  kind=s.get("kind", s["name"])) for s in trace["spans"]]
    if not spans and not trace["batches"]:
        return []
    starts = [s["start_ms"] for s in spans] + [b["start_ms"] for b in trace["batches"]]
    ends = [s["end_ms"] for s in spans] + [
        b["start_ms"] + b["duration_ms"].get("triggerExecution", 0) for b in trace["batches"]]
    spans.append({"id": "w", "name": "workload", "level": 1, "parent": None,
                  "start_ms": min(starts), "end_ms": max(ends), "trace": "", "kind": "workload"})
    harness = list(spans)
    for b in trace["batches"]:
        bid = f"b{b['query']}:{b['batch']}"
        d = b["duration_ms"]
        mb = {"id": bid, "name": f"batch {b['batch']}", "level": 3, "kind": "micro-batch",
              "start_ms": b["start_ms"], "end_ms": b["start_ms"] + d.get("triggerExecution", 0),
              "trace": b["trace"], "parent": f"h{b['parent']}" if b["parent"] else "w",
              "rows": b["rows"]}
        mb["parent"] = _reparent(mb, harness)
        spans.append(mb)
        t = b["start_ms"]
        for p in PHASES:
            if p in d:
                spans.append({"id": f"{bid}:{p}", "name": p, "level": 4, "kind": "phase",
                              "parent": bid, "start_ms": t, "end_ms": t + d[p],
                              "trace": b["trace"]})
                t += d[p]
    level3 = [s for s in spans if s["level"] <= 3 and s["kind"] != "workload"]
    for j in trace["jobs"]:
        job = {"id": f"j{j['job']}", "name": j["call_site"], "level": 4, "kind": "job",
               "start_ms": j["start_ms"], "end_ms": j.get("end_ms", j["start_ms"]),
               "trace": j["trace"], "parent": f"h{j['parent']}" if j["parent"] else "w",
               "module": module_of(j["call_site"])}
        job["parent"] = _reparent(job, level3)
        spans.append(job)
    for st in trace["stages"]:
        spans.append({"id": f"s{st['stage']}.{st['attempt']}", "name": st["name"],
                      "level": 5, "kind": "stage", "parent": f"j{st['job']}",
                      "start_ms": st["start_ms"], "end_ms": st["end_ms"], "trace": "",
                      "tasks": st["tasks"]})
    own = self_times(spans)
    for s in spans:
        s["self_ms"] = own[s["id"]]
    return spans


def module_of(call_site):
    """`parquet at SwapStore.scala:123` -> `SwapStore`. Jobs submitted from
    a future carry the JDK frame (`CompletableFuture`)."""
    m = re.search(r"at (\w+)\.(?:scala|java):", call_site or "")
    return m.group(1) if m else "other"


def layer_profile(result, cores):
    """(per-layer figures {name: value}, span tree) of a traced run. The
    figures cover everything the tracer saw: the traced warm pass, the
    traced timed pass and, in the stream workload, the open-loop ladder."""
    trace = result["trace"]
    jobs, stages, batches = trace["jobs"], trace["stages"], trace["batches"]
    spans = build_spans(trace)
    items = [s for s in spans if s["level"] == 2]
    out = {}

    def stage_sum(key, sel=stages):
        return sum(s[key] for s in sel)

    job_iv = [(j["start_ms"], j.get("end_ms", j["start_ms"])) for j in jobs]
    jobs_ms = union_ms(job_iv)
    busy_ms = stage_sum("busy_ms")
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] > 1 and s["task_median_ms"] > 0]
    gap = sum((it["end_ms"] - it["start_ms"]) - union_ms(job_iv, it["start_ms"], it["end_ms"])
              for it in items)
    out.update({
        "sources.scan_s": sum(result.get("scan_s", {}).values()),
        "sources.bytes_read": (stage_sum("input_bytes")),
        "sources.rows_read": (stage_sum("input_rows")),
        "spark.jobs": (len(jobs)),
        "spark.stages": (len(stages)),
        "spark.tasks": (stage_sum("tasks")),
        "spark.task_busy_s": (busy_ms / 1000.0),
        "spark.parallel_eff": busy_ms / (cores * jobs_ms) if jobs_ms else 0.0,
        "spark.gap_s": (gap / 1000.0),
        "spark.shuffle_read_bytes": (stage_sum("shuffle_read_bytes")),
        "spark.shuffle_write_bytes": (stage_sum("shuffle_write_bytes")),
        "spark.spill_bytes": (stage_sum("spill_bytes")),
        "spark.stage_skew": max(skews) if skews else 1.0,
        "spark.narrow_stages": (sum(1 for s in stages if s["tasks"] < cores)),
        "spark.failed_tasks": (stage_sum("failed_tasks")),
    })
    for kind in ("build", "plan", "write"):
        secs = sum(s["end_ms"] - s["start_ms"] for s in spans
                   if s["level"] == 3 and s["kind"] == kind) / 1000.0
        out[f"ops.{'run' if kind == 'write' else kind}_s"] = (secs)

    data = [b for b in batches if b["rows"] > 0]
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    out["streaming.batches"] = (len(batches))
    out["streaming.rows_per_batch"] = statistics.mean(b["rows"] for b in data) if data else 0.0
    out["streaming.trigger_p50_ms"] = statistics.median(trig) if trig else 0.0
    out["streaming.trigger_tail_ms"] = hist_tail(Counter(trig))[0]
    for p in PHASES:
        vals = [b["duration_ms"][p] for b in batches if p in b["duration_ms"]]
        out[f"streaming.{p}_ms"] = statistics.median(vals) if vals else 0.0
    out["state.rows_total"] = max((b["state_rows_total"] for b in batches), default=0)
    out["state.rows_updated"] = (sum(b["state_rows_updated"] for b in batches))
    out["state.rows_removed"] = (sum(b["state_rows_removed"] for b in batches))
    out["state.commit_ms"] = (sum(b["state_commit_ms"] for b in batches))
    out["state.memory_bytes"] = max((b["state_memory_bytes"] for b in batches), default=0)
    out["state.instances"] = max((b["state_instances"] for b in batches), default=0)

    # a SwapStore fold inside a stream carries the stream's start() call
    # site, so a fold is also any job writing rows inside a micro-batch
    # (the open loop's sink collects and writes nothing)
    in_batch = {s["id"] for s in spans if s["kind"] == "job" and str(s["parent"]).startswith("b")}
    writes = {s["job"] for s in stages if s["output_rows"] > 0}
    fold_jobs = {j["job"] for j in jobs if module_of(j["call_site"]) == "SwapStore"
                 or (f"j{j['job']}" in in_batch and j["job"] in writes)}
    fold_stages = [s for s in stages if s["job"] in fold_jobs]
    fold_traces = {j["trace"] for j in jobs if j["job"] in fold_jobs}
    fold_input = sum(b["rows"] for b in batches if b["trace"] in fold_traces)
    written = stage_sum("output_rows", fold_stages)
    out["swapstore.folds"] = (len({j["job"] for j in jobs if j["job"] in fold_jobs
                                      and any(s["output_rows"] for s in fold_stages
                                              if s["job"] == j["job"])}))
    out["swapstore.job_s"] = (sum(j.get("end_ms", j["start_ms"]) - j["start_ms"]
                                     for j in jobs if j["job"] in fold_jobs) / 1000.0)
    out["swapstore.rows_written"] = (written)
    out["swapstore.bytes_written"] = (stage_sum("output_bytes", fold_stages))
    out["swapstore.rows_written_per_input_row"] = written / fold_input if fold_input else 0.0

    jb, ja = result["jvm_before"], result["jvm_after"]
    out["jvm.gc_s"] = (ja["gc_ms"] - jb["gc_ms"]) / 1000.0
    out["jvm.heap_after_gc_mb"] = ja["heap_after_gc_bytes"] / 2**20
    return out, spans


def call_sites(trace):
    """Jobs and job seconds per graft module, from each job's call site."""
    count, secs = defaultdict(int), defaultdict(float)
    for j in trace["jobs"]:
        m = module_of(j["call_site"])
        count[m] += 1
        secs[m] += (j.get("end_ms", j["start_ms"]) - j["start_ms"]) / 1000.0
    return dict(count), dict(secs)
