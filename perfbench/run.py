#!/usr/bin/env python3
"""The repo's benchmark (see BENCHMARK.json and perfbench/README.md).

One run:
    python3 perfbench/run.py --workload catalog --seed 1 --seconds 6 --trace 0

builds the program from source, makes the workload's inputs from the seed,
runs one closed-loop client in a fresh JVM, checks every output, and prints
one JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1 (per-query detail goes to .bench_build/perfbench/trace/).

Other entry points:
    --all                 every workload, each metric printed by name and unit
    --classify            re-measure which catalog queries write (classes-sf<scale>.json)
    --baseline            re-record the counter tripwire baseline (baseline.json)
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

RUN_LIMIT_S = 170  # a run must end within 180 s


def load(name):
    with open(os.path.join(HERE, name), encoding="utf-8") as f:
        return json.load(f)


SPEC = load("spec.json")


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ JVM side
def tables(scale):
    """The catalog tables at `scale`, made once per checkout."""
    d = os.path.join(BUILD, "data", f"sf{scale}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(d, scale)
        open(os.path.join(d, "_done"), "w").close()
    return d


def jvm(classpath, work, args, deadline):
    """Run perfbench.Main; return its records."""
    out = os.path.join(work, "records.jsonl")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap: a growing one keeps slowing the first passes with GC
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp"]
           + build.JVM_OPTIONS
           + ["-cp", classpath, "perfbench.Main", "--cores", str(cores()), "--work", work,
              "--out", out] + [str(a) for a in args])
    with open(os.path.join(work, "jvm.log"), "wb") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("the JVM ran past the time limit")
    if rc != 0:
        with open(os.path.join(work, "jvm.log"), "rb") as f:
            sys.stderr.write(f.read()[-4000:].decode("utf-8", "replace"))
        raise SystemExit(f"the JVM exited with code {rc}")
    with open(out, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


# ------------------------------------------------------------------ metrics
def check_catalog(ops, rows):
    """Failed operations: threw, or returned another row count than recorded
    (a query with no recorded count fails too)."""
    bad = []
    for o in ops:
        want = rows.get(o["name"])
        if o["error"] or want is None or o.get("rows") != want:
            bad.append(o)
    return bad


def kpi_ok(rows, want):
    got = {r[0]: r[1:] for r in rows}
    if set(got) != set(want):
        return False
    for name, rates in want.items():
        for g, w in zip(got[name], rates):
            if g is None or not math.isfinite(g) or abs(g - w) > 1e-9 * max(1.0, abs(w)):
                return False
    return True


def check_batch(calls, want):
    """One EDINET batch is correct when all three calls ran and every staged
    row count, the quarantine count and every KPI margin match the generator."""
    if {c["name"] for c in calls} != {"stage", "load", "kpi"} or any(c["error"] for c in calls):
        return False
    for c in calls:
        if c["name"] == "stage" and c["rows"] != want["rows"]:
            return False
        if c["name"] == "load" and c["quarantined"] != want["malformed"]:
            return False
        if c["name"] == "kpi" and not kpi_ok(c["kpi"], want["kpi"]):
            return False
    return True


def summarize(records, wl, trace, expect, scale):
    ops = [r for r in records if r["t"] == "op"]
    passes = {r["pass"]: r for r in records if r["t"] == "pass"}
    timed = sorted(p for p in passes if p >= 0)
    kind = SPEC["workloads"][wl]["kind"]
    failed_units = set()  # (pass, unit)
    lat = {}  # (pass, unit) -> seconds
    if kind == "catalog":
        for o in ops:
            lat[(o["pass"], o["name"])] = o["build_s"] + o["action_s"]
        for o in check_catalog(ops, SPEC["rows"].get(str(scale), {})):
            failed_units.add((o["pass"], o["name"]))
            log(f"FAILED {o['name']} (pass {o['pass']}): rows={o.get('rows')} "
                f"want={SPEC['rows'].get(str(scale), {}).get(o['name'])} error={o['error']}")
        for p in passes:
            for q in SPEC["workloads"][wl]["members"]:
                if (p, q) not in lat:
                    failed_units.add((p, q))
    else:
        for p in passes:
            calls = [o for o in ops if o["pass"] == p]
            b = calls[0]["batch"]
            lat[(p, b)] = sum(c["build_s"] + c["action_s"] for c in calls)
            if not check_batch(calls, expect[b]):
                failed_units.add((p, b))
                log(f"FAILED batch {b} (pass {p}): " + json.dumps(
                    [{k: c.get(k) for k in ("name", "rows", "quarantined", "error")}
                     for c in calls], ensure_ascii=False))
    attempted = sum(1 for (p, _) in lat if p >= 0)
    failed = sum(1 for (p, _) in failed_units if p >= 0)
    correct = not failed_units
    setup = next(r["setup_s"] for r in records if r["t"] == "setup")
    if not trace:
        per_op = {}
        for o in ops:
            if o["pass"] >= 0:
                per_op.setdefault(o["name"], []).append(o["build_s"] + o["action_s"])
        medians = [statistics.median(v) for v in per_op.values()]
        metrics = {
            "pass_s": (statistics.median(passes[p]["wall_s"] for p in timed), "s"),
            "op_geomean_s": (statistics.geometric_mean(medians), "s"),
            "setup_s": (setup, "s"),
        }
        return correct, attempted, failed, metrics, None
    base = BASELINE.get(wl, {}) if scale == SPEC["scale"] else {}
    return (correct, attempted, failed) + layers(records, ops, passes, expect, base)


def layers(records, ops, passes, expect, base):
    """Per-layer metrics: the median over timed passes of per-pass totals of
    the traced operations; shares are of those operations' summed wall."""
    timed = [p for p in sorted(passes) if p >= 0]
    ops = [o for o in ops if o["pass"] >= 0]
    traced = [o for o in ops if o["traced"]]
    per_pass = []
    for p in timed:
        po = [o for o in traced if o["pass"] == p]
        c = {}
        for o in po:
            for k, v in o["counters"].items():
                c[k] = c.get(k, 0.0) + v
        wall = sum(o["build_s"] + o["action_s"] for o in po)
        g = c.get
        m = {
            "queries.build_s": sum(o["build_s"] for o in po),
            "queries.action_s": sum(o["action_s"] for o in po),
            "catalyst.sql_execs": g("catalyst.sql_execs", 0.0),
            "catalyst.analysis_share": g("catalyst.analysis_s", 0.0) / wall,
            "catalyst.optimization_share": g("catalyst.optimization_s", 0.0) / wall,
            "catalyst.planning_share": g("catalyst.planning_s", 0.0) / wall,
            "plans.rule_s": g("plans.rule_s", 0.0),
            "plans.rule_invocations": g("plans.rule_invocations", 0.0),
            "plans.rule_effective_frac":
                g("plans.rule_effective", 0.0) / max(1.0, g("plans.rule_invocations", 0.0)),
            "scheduler.jobs": g("scheduler.jobs", 0.0),
            "scheduler.stages": g("scheduler.stages", 0.0),
            "scheduler.tasks": g("scheduler.tasks", 0.0),
            "scheduler.job_active_s": g("scheduler.job_active_s", 0.0),
            "tasks.run_s": g("tasks.run_s", 0.0),
            "tasks.cpu_s": g("tasks.cpu_s", 0.0),
            "tasks.gc_share": g("tasks.gc_s", 0.0) / max(1e-9, g("tasks.run_s", 0.0)),
            "shuffle.write_bytes": g("shuffle.write_bytes", 0.0),
            "shuffle.read_bytes": g("shuffle.read_bytes", 0.0),
            "shuffle.fetch_wait_share": g("shuffle.fetch_wait_s", 0.0) / wall,
            "shuffle.spill_bytes": g("shuffle.spill_bytes", 0.0),
            "scan.input_bytes": g("scan.input_bytes", 0.0),
            "sources.fs_read_bytes": g("sources.fs_read_bytes", 0.0),
            "sources.fs_write_bytes": g("sources.fs_write_bytes", 0.0),
            "streaming.batches": g("streaming.batches", 0.0),
            "streaming.trigger_share": g("streaming.trigger_s", 0.0) / wall,
            "streaming.add_batch_share": g("streaming.add_batch_s", 0.0) / wall,
            "streaming.get_batch_share": g("streaming.get_batch_s", 0.0) / wall,
        }
        op_wall = m["queries.build_s"] + m["queries.action_s"]
        m["driver.gap_s"] = op_wall - m["scheduler.job_active_s"]
        m["tasks.cpu_util"] = m["tasks.cpu_s"] / max(1e-9, m["scheduler.job_active_s"] * cores())
        etl = {n: [o for o in po if o["name"] == n] for n in ("stage", "load", "kpi")}
        t = {n: sum(o["build_s"] + o["action_s"] for o in v) for n, v in etl.items()}
        staged = sum(o.get("rows", 0) for o in etl["stage"])
        # bytes written per input byte: the batch's CSV files, else the scans
        src_bytes = expect[po[0]["batch"]]["bytes"] if expect else m["scan.input_bytes"]
        m.update({
            "sources.write_amp": m["sources.fs_write_bytes"] / src_bytes if src_bytes else 0.0,
            "etl.stage_share": t["stage"] / wall,
            "etl.load_share": t["load"] / wall,
            "etl.kpi_share": t["kpi"] / wall,
            "etl.rows_staged": float(staged),
            "etl.quarantined": float(sum(o.get("quarantined", 0) for o in etl["load"])),
            "etl.rows_per_s": staged / (t["stage"] + t["load"]) if staged else 0.0,
        })
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    loads = [o["build_s"] + o["action_s"] for o in traced if o["name"] == "load"]
    out["etl.load_growth"] = loads[-1] / loads[0] if len(loads) > 1 else 0.0
    out["jvm.heap_peak_mb"] = next(r["heap_peak_mb"] for r in records if r["t"] == "end")
    out["trace.overhead_s"] = overhead(ops, timed)
    detail = per_unit(traced)
    out["tripwire.flagged"] = float(len(tripwire(detail, base)))
    units = {m["name"]: m["unit"] for m in load_benchmark()["per_layer"]}
    return {k: (v, units.get(k, "")) for k, v in out.items()}, detail


def overhead(ops, timed):
    """Traced minus untraced seconds per pass, summed over the operations
    that ran both ways on the same state, averaged over passes (which
    alternate the order, so the mean cancels a linear warm-up drift)."""
    per_pass = []
    for p in timed:
        runs = {}
        for o in ops:
            if o["pass"] == p:
                runs.setdefault(o["name"], {})[o["traced"]] = o["build_s"] + o["action_s"]
        per_pass.append(sum(t[True] - t[False] for t in runs.values() if len(t) == 2))
    return statistics.mean(per_pass)


def per_unit(traced):
    """Median counters per query (per call for EDINET) over traced passes."""
    groups = {}
    for o in traced:
        groups.setdefault(o["name"], []).append(o)
    detail = {}
    for key, os_ in sorted(groups.items()):
        keys = sorted({k for o in os_ for k in o["counters"]})
        d = {k: statistics.median(o["counters"].get(k, 0.0) for o in os_) for k in keys}
        d["build_s"] = statistics.median(o["build_s"] for o in os_)
        d["action_s"] = statistics.median(o["action_s"] for o in os_)
        detail[key] = d
    return detail


TRIPWIRE = ("scheduler.jobs", "scheduler.tasks", "catalyst.sql_execs", "shuffle.write_bytes")


def tripwire(detail, base):
    """Units whose jobs or shuffle bytes grew more than 1.5x over the baseline."""
    flagged = []
    for key, b in base.items():
        d = detail.get(key)
        if d is None:
            continue
        for k in TRIPWIRE:
            if d.get(k, 0.0) != b.get(k, 0.0):
                log(f"counter change {key} {k}: {b.get(k, 0.0):g} -> {d.get(k, 0.0):g}")
        if any(d.get(k, 0.0) > 1.5 * b.get(k, 0.0) and d.get(k, 0.0) > 0
               for k in ("scheduler.jobs", "shuffle.write_bytes")):
            flagged.append(key)
            log(f"TRIPWIRE {key}: jobs {b.get('scheduler.jobs', 0):g} -> "
                f"{d.get('scheduler.jobs', 0):g}, shuffle bytes "
                f"{b.get('shuffle.write_bytes', 0):g} -> {d.get('shuffle.write_bytes', 0):g}")
    return flagged


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


BASELINE = load("baseline.json") if os.path.exists(os.path.join(HERE, "baseline.json")) else {}


# ------------------------------------------------------------------ one run
def run_once(wl, seed, seconds, trace, scale):
    """One benchmark run; returns (correct, attempted, failed, metrics, detail)."""
    if wl not in SPEC["workloads"]:
        raise SystemExit(f"unknown workload {wl!r}")
    deadline = time.time() + RUN_LIMIT_S
    classpath = build.build(BUILD)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        w = SPEC["workloads"][wl]
        args = ["--mode", "bench", "--workload", w["kind"], "--seed", seed,
                "--seconds", seconds, "--trace", trace]
        expect = []
        if w["kind"] == "catalog":
            args += ["--data", tables(scale), "--members", ",".join(w["members"])]
        else:
            # two batches for set-up (Main.Edinet), then one per timed pass
            n = 6 + seconds // 4
            expect = gen.filings(os.path.join(work, "filings"), seed, n)
            args += ["--batches", ",".join(b["dir"] for b in expect)]
        records = jvm(classpath, work, args, deadline)
        return summarize(records, wl, trace == 1, expect, scale)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(correct, attempted, failed, metrics):
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}})


def write_detail(wl, seed, detail):
    d = os.path.join(BUILD, "trace")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{wl}-seed{seed}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    log(f"per-query trace: {path}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SPEC["scale"])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--classify", action="store_true")
    ap.add_argument("--baseline", action="store_true")
    a = ap.parse_args()
    seconds = a.seconds if a.seconds is not None else load_benchmark()["run_seconds"]
    if a.classify:
        return classify(a.scale)
    if a.baseline:
        return baseline(a.seed, seconds)
    if a.all:
        return run_all(a.seed, seconds, a.trace, a.scale)
    correct, attempted, failed, metrics, detail = run_once(
        a.workload, a.seed, seconds, a.trace, a.scale)
    if detail is not None:
        write_detail(a.workload, a.seed, detail)
    print(result_line(correct, attempted, failed, metrics), flush=True)


def run_all(seed, seconds, trace, scale):
    ok = True
    for wl in SPEC["workloads"]:
        correct, attempted, failed, metrics, detail = run_once(wl, seed, seconds, trace, scale)
        ok &= correct and failed == 0
        print(f"== {wl}  attempted={attempted} failed={failed} "
              f"failed_frac={failed / attempted:.4f} correct={correct}")
        for k, (v, u) in metrics.items():
            print(f"  {k:28s} {v:14.6g} {u}")
        if detail is not None:
            write_detail(wl, seed, detail)
    return 0 if ok else 1


# ------------------------------------------------------------------ upkeep
def classify(scale):
    """Which catalog queries write through the file system or start a stream,
    measured by two probed runs of each at `scale`, and their row counts;
    refreshes the members' recorded row counts in spec.json. At the bench
    scale every catalog query is classified (classes-sf<scale>.json), at
    other scales only the members."""
    classpath = build.build(BUILD)
    work = os.path.join(BUILD, f"classify-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    members = [m for w in SPEC["workloads"].values() if w["kind"] == "catalog"
               for m in w["members"]]
    args = ["--mode", "classify", "--data", tables(scale)]
    if scale != SPEC["scale"]:
        args += ["--members", ",".join(members)]
    recs = jvm(classpath, work, args, time.time() + 3600)
    shutil.rmtree(work, ignore_errors=True)
    q = {}
    for r in recs:
        if r["t"] == "classify":
            e = q.setdefault(r["name"], {"write": False, "rows": [], "seconds": [], "error": None})
            e["write"] |= r["fs_write_bytes"] > 0 or r["streams"] > 0
            e["rows"].append(r["rows"])
            e["seconds"].append(round(r["seconds"], 3))
            e["error"] = e["error"] or r["error"]
    for name, e in q.items():
        if e["error"] or len(set(e["rows"])) > 1:
            log(f"{name}: rows {e['rows']} error {e['error']}")
    if scale == SPEC["scale"]:
        path = os.path.join(HERE, f"classes-sf{scale}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"scale": scale, "queries": q}, f, indent=1, sort_keys=True)
        log(f"wrote {path}")
    SPEC["rows"][str(scale)] = {m: q[m]["rows"][0] for m in members}
    with open(os.path.join(HERE, "spec.json"), "w", encoding="utf-8") as f:
        json.dump(SPEC, f, indent=1, ensure_ascii=False)
    return 0


def baseline(seed, seconds):
    """Record every workload's per-unit counters from one traced run."""
    out = {}
    for wl in SPEC["workloads"]:
        _, _, _, _, detail = run_once(wl, seed, seconds, 1, SPEC["scale"])
        out[wl] = {k: {c: d.get(c, 0.0) for c in TRIPWIRE} for k, d in detail.items()}
    with open(os.path.join(HERE, "baseline.json"), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except Exception as e:  # no result line on any failure
        log(f"error: {type(e).__name__}: {e}")
        sys.exit(1)
