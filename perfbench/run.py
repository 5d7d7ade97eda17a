#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <batch-ops|stream|all>
                             --seed N [--seconds S] [--trace 0|1]

Run from the repository root. It builds the engine's sources together with
the harness in perfbench/src (sbt, once per source tree), runs the workload
in one JVM on local[nproc] through `graft.core.GraftSession.local` over the
tables in perfbench/data, checks every output, and prints one line per item
and per metric, then a final JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
attaches Spark's listeners, records spans, writes a per-layer profile to
perfbench/.work/ and reports the per-layer metrics. Metric names, units and
the workload list live in BENCHMARK.json; perfbench/README.md explains them.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ["batch-ops", "stream"]
# Spark on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            if os.sep + "target" in d:
                continue
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless this exact source tree is built."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("no engine sources under src/main/scala/graft; run from the repository root")
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(CLASSPATH) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(WORK, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
                       cwd=HERE, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        print(r.stdout[-3000:], file=sys.stderr)
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_jvm(cfg, workload, seed, seconds, trace, data, out):
    tmp = os.path.join(WORK, "tmp", f"{workload}-{seed}-{trace}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cores = len(os.sched_getaffinity(0))
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    wl = cfg["workloads"][workload]
    # a fixed heap with a pinned young generation: left to G1's sizing,
    # identical runs grew the heap differently and peak RSS wandered
    cmd = ["java", f"-Xms{cfg['heap']}", f"-Xmx{cfg['heap']}", f"-Xmn{cfg['young']}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           *ADD_OPENS, "-cp", classpath, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores), "--data", data, "--out", out]
    cmd += ["--items", ",".join(wl["items"])]
    if "openloop" in wl:
        cmd += ["--openloop", json.dumps(wl["openloop"])]
    cpu0 = cpu_times()
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=cfg["run_timeout_s"])
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    shutil.rmtree(tmp, ignore_errors=True)
    res = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res):
        with open(log) as fh:
            print(fh.read()[-3000:], file=sys.stderr)
        fail(f"{workload}: JVM exited with {code}")
    with open(res) as fh:
        result = json.load(fh)
    result["cpu_steal"] = steal_share(cpu0, cpu_times())
    return result, cores


def cpu_times():
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests while the JVM
    ran: on a shared host it explains a run that is slow throughout."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def oracle_check(data, out, name, sql):
    """(ok, detail): the item's dumped result against its DuckDB oracle,
    with the repository's oracle-gate normalization."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from local_verify import norm_rows
    con = duckdb.connect()
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    try:
        o = con.sql(sql)
        oc, orows = norm_rows(list(o.columns), o.fetchall())
        s = con.sql(f"SELECT * FROM '{os.path.join(out, 'results', name)}/*.parquet'")
        sc, srows = norm_rows(list(s.columns), s.fetchall())
    except Exception as e:  # an oracle or read error fails the item
        return False, f"error: {str(e).splitlines()[0][:200]}"
    if oc != sc:
        return False, f"columns {sc} vs oracle {oc}"
    if len(orows) != len(srows):
        return False, f"rows {len(srows)} vs oracle {len(orows)}"
    bad = sum(1 for a, b in zip(srows, orows) if a != b)
    if bad:
        return False, f"{bad}/{len(orows)} rows differ"
    return True, f"{len(orows)} rows match the oracle"


def query_items(res, data, out, lines):
    """Checks every query item; returns (attempted, failed, untraced
    timed samples per passing item)."""
    failed, samples = 0, {}
    for name in res["items"]:
        plain = [r["s"] for r in res["repeats"] if r["item"] == name and not r["traced"]]
        if name in res["errors"]:
            ok, detail = False, f"error: {res['errors'][name]}"
        else:
            ok, detail = oracle_check(data, out, name, res["oracle"][name])
        failed += not ok
        if ok and plain:
            samples[name] = plain
        med = statistics.median(plain) if plain else 0.0
        drift = plain[-1] / plain[0] if plain else 0.0
        lines.append(f"item {name} n={len(plain)} median_s={med:.4f} "
                     f"warm_s={res['warm_s'].get(name, 0):.3f} drift={drift:.3f} "
                     f"runs_s=[{', '.join(f'{x:.3f}' for x in plain)}] "
                     f"check={'PASS' if ok else 'FAIL'} ({detail})")
    return len(res["items"]), failed, samples


def rung_tag(r):
    return "local1" if r.get("single_thread") else ("traced" if r["traced"] else "plain")


def openloop_rungs(res, lines):
    """Checks every open-loop rung; returns (attempted, failed, (latency
    histogram, batches it spans) per (scenario, rate, tag))."""
    failed, hists = 0, {}
    for r in res.get("rungs", []):
        ok = r["check"]["ok"]
        failed += not ok
        hist = {int(k): v for k, v in r["latency_hist_ms"].items()}
        t, pct, n = metrics.hist_tail(hist)
        trig = [b["duration_ms"].get("triggerExecution", 0) for b in r["batches"]]
        mx, slope = backlog(r)
        lines.append(
            f"rung {r['scenario']}@{r['rate']} {rung_tag(r)} "
            f"latency_p50_ms={metrics.hist_median(hist)} latency_tail_ms={t} "
            f"(p{pct:.2f}) n={n} batches={r['latency_batches']}/{len(trig)} "
            f"trigger_p50_ms={statistics.median(trig) if trig else 0} "
            f"backlog_max_rows={mx:.0f} backlog_slope={slope:.0f}/s "
            f"check={'PASS' if ok else 'FAIL'} (expected {r['check']['expected']}, "
            f"got {r['check']['got']}{', ' + r['check']['error'] if 'error' in r['check'] else ''})")
        hists.setdefault((r["scenario"], r["rate"], rung_tag(r)), (hist, r["latency_batches"]))
    return len(res.get("rungs", [])), failed, hists


def backlog(rung):
    """(max, slope per second) of due-minus-processed rows, sampled at
    each batch end; due rows are counted from the query's start."""
    pts = []
    for b in rung["batches"]:
        end = b["start_ms"] + b["duration_ms"].get("triggerExecution", 0)
        t = (end - rung["start_ms"]) / 1000.0
        pts.append((t, max(0.0, rung["rate"] * (t - b["end_offset"]))))
    if len(pts) < 2:
        return (pts[0][1] if pts else 0.0), 0.0
    mx = statistics.mean(p[0] for p in pts)
    my = statistics.mean(p[1] for p in pts)
    den = sum((p[0] - mx) ** 2 for p in pts)
    slope = sum((p[0] - mx) * (p[1] - my) for p in pts) / den if den else 0.0
    return max(p[1] for p in pts), slope


def item_figures(samples):
    """total_s, geomean_s and tail_total_s over items, each item given
    as a list of times (s) or as an open-loop scenario's (latency
    histogram (ms), batches it spans). The count printed with them is
    the samples (timed runs and latency rows), with the batches beside
    it: a scenario's rows come in a handful of batches, not one by one."""
    meds, tails, n, batches = [], [], 0, 0
    for v in samples.values():
        if isinstance(v, tuple):
            hist, k = v
            meds.append(metrics.hist_median(hist) / 1000.0)
            tails.append(metrics.hist_tail(hist)[0] / 1000.0)
            n, batches = n + metrics.hist_n(hist), batches + k
        else:
            meds.append(statistics.median(v))
            tails.append(metrics.hist_tail(Counter(v))[0])
            n += len(v)
    count = f"n={n}" + (f" batches={batches}" if batches else "")
    ok = bool(meds) and min(meds) > 0
    return {"total_s": (sum(meds), "s", count),
            "geomean_s": (metrics.geomean(meds) if ok else 0.0, "s", count),
            "tail_total_s": (sum(tails), "s", count)}


def latency_lines(hists, wl, lines):
    """Prints the per-scenario latency figures at the base rate (untraced)."""
    for s in ("s1", "s2"):
        if (s, wl["base_rate"], "plain") in hists:
            h, k = hists[(s, wl["base_rate"], "plain")]
            t, pct, n = metrics.hist_tail(h)
            lines.append(f"metric {s}.latency_p50_ms {metrics.hist_median(h)} ms "
                         f"n={n} batches={k}")
            lines.append(f"metric {s}.latency_tail_ms {t} ms (p{pct:.2f}) n={n} batches={k}")


def openloop_layers(res, wl, hists):
    """Open-loop figures of a traced run: the sustainable rate per
    scenario, backlog, the base-rate latencies (untraced, and traced for
    the overhead), the single-slot baseline and the sink."""
    out = {}
    limit = wl["latency_limit_ms"]
    for s in ("s1", "s2"):
        best = 0
        for r in res["rungs"]:
            if r["scenario"] != s or rung_tag(r) != "traced":
                continue
            h = hists[(s, r["rate"], "traced")][0]
            mx, slope = backlog(r)
            if (h and metrics.hist_tail(h)[0] <= limit[s] and r["check"]["ok"]
                    and slope <= wl["backlog_slope_limit"] * r["rate"]):
                best = max(best, r["rate"])
            if r["rate"] == wl["base_rate"]:
                out["sources.backlog_rows"] = max(out.get("sources.backlog_rows", 0), mx)
        out[f"{s}.sustainable_eps"] = best
        for tag, suffix in (("plain", ""), ("traced", "_traced")):
            h = hists.get((s, wl["base_rate"], tag), ({},))[0]
            if h:
                out[f"{s}.latency_p50_ms{suffix}"] = metrics.hist_median(h)
                out[f"{s}.latency_tail_ms{suffix}"] = metrics.hist_tail(h)[0]
    h = hists.get(("s1", min(wl["ladder"]["s1"]), "local1"), ({},))[0]
    if h:
        out["s1.local1_latency_p50_ms"] = metrics.hist_median(h)
        out["s1.local1_latency_tail_ms"] = metrics.hist_tail(h)[0]
    for k in ("p50", "tail"):
        out[f"trace.overhead_latency_{k}_ms"] = sum(
            out.get(f"{s}.latency_{k}_ms_traced", 0) - out.get(f"{s}.latency_{k}_ms", 0)
            for s in ("s1", "s2"))
    traced = [r for r in res["rungs"] if r["traced"]]
    out["sink.rows_out"] = sum(r["rows_out"] for r in traced)
    out["sink.s"] = sum(r["sink_s"] for r in traced)
    return out


def report(cfg, bench, workload, seed, trace, res, cores, data, out):
    """Checks a run's outputs and computes its figures: (lines, attempted,
    failed, {metric: (value, unit)}) with the end-to-end metrics
    untraced and the per-layer ones traced."""
    wl = cfg["workloads"][workload]
    lines = [f"workload {workload} seed={seed} trace={trace} data={cfg['data']} "
             f"cores={cores} setup_s={res['setup_s']:.3f} session_s={res['session_s']:.3f} "
             f"cpu_steal={res.get('cpu_steal', 0.0):.3f}"]
    qa, qf, samples = query_items(res, data, out, lines)
    oa, of, hists = openloop_rungs(res, lines)
    attempted, failed = qa + oa, qf + of
    ol = wl.get("openloop")
    if trace:
        layer, spans = metrics.layer_profile(res, cores)
        traced = {n: [r["s"] for r in res["repeats"] if r["item"] == n and r["traced"]]
                  for n in samples}
        if samples and all(traced.values()):
            a, b = item_figures(traced), item_figures(samples)
            for k in a:
                layer[f"trace.overhead_{k}"] = a[k][0] - b[k][0]
        if ol:
            layer.update(openloop_layers(res, ol, hists))
        counts, secs = metrics.call_sites(res["trace"])
        for mod in sorted(counts):
            lines.append(f"call_site {mod} jobs={counts[mod]} job_s={secs[mod]:.3f}")
        prof = os.path.join(WORK, f"profile-{workload}-seed{seed}.json")
        with open(prof, "w") as fh:
            json.dump({"workload": workload, "seed": seed, "cores": cores, "layers": layer,
                       "call_sites": {"jobs": counts, "job_s": secs}, "spans": spans}, fh)
        lines.append(f"profile {os.path.relpath(prof, ROOT)} spans={len(spans)}")
        figures = {m["name"]: (layer.get(m["name"], 0.0), m["unit"], None)
                   for m in bench["per_layer"]}
    else:
        if ol:
            latency_lines(hists, ol, lines)
            samples.update({s: hists[(s, ol["base_rate"], "plain")] for s in ("s1", "s2")
                            if hists.get((s, ol["base_rate"], "plain"), ({},))[0]})
        figures = {"setup_s": (res["setup_s"], "s", "n=1"),
                   "peak_rss_mb": (res["rss_hwm_kb"] / 1024.0, "MB", None)}
        figures.update(item_figures(samples))
    for name, (v, unit, n) in figures.items():
        lines.append(f"metric {name} {v:.6g} {unit}" + (f" {n}" if n is not None else ""))
    lines.append(f"metric error_rate {failed / attempted if attempted else 1.0:.4g} ratio "
                 f"({failed}/{attempted})")
    return lines, attempted, failed, {k: (v, u) for k, (v, u, _) in figures.items()}


def run_one(cfg, bench, workload, seed, seconds, trace):
    data = os.path.join(HERE, cfg["data"])
    out = os.path.join(WORK, "runs", f"{workload}-seed{seed}-trace{trace}")
    res, cores = run_jvm(cfg, workload, seed, seconds, trace, data, out)
    return report(cfg, bench, workload, seed, trace, res, cores, data, out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(bench_file) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "config.json")) as fh:
        cfg = json.load(fh)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    build()
    attempted, failed, figures = 0, 0, {}
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        t0 = time.time()
        lines, at, fa, figs = run_one(cfg, bench, w, a.seed, seconds, a.trace)
        print("\n".join(lines) + f"\nwall_s {time.time() - t0:.1f}", flush=True)
        attempted, failed = attempted + at, failed + fa
        prefix = f"{w}." if a.workload == "all" else ""
        figures.update({prefix + k: v for k, v in figs.items()})
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
