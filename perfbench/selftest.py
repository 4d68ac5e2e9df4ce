#!/usr/bin/env python3
"""Self-test of the benchmark at the small scale in spec.json: one timed pass
of every workload, untraced and traced, asserting that every metric named in
BENCHMARK.json is emitted with its unit and that nothing failed.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as f:
        scale = json.load(f)["selftest_scale"]
    problems = []
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "7", "--seconds", "0", "--trace", str(trace), "--scale", str(scale)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            tag = f"{w['name']} --trace {trace}"
            if p.returncode != 0 or not p.stdout.strip():
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics {sorted(set(got) ^ set(want))} or units differ")
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{tag}: correct={r['correct']} failed={r['failed']}"
                                f"/{r['attempted']}\n{p.stderr[-2000:]}")
            print(f"{tag}: {len(got)} metrics, failed_frac={r['failed'] / max(1, r['attempted'])}",
                  flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
