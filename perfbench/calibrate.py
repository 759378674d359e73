#!/usr/bin/env python3
"""Measure the benchmark's own run-to-run spread and write CALIBRATION.md.

    python3 perfbench/calibrate.py --workloads queries,ingest \
        --seeds 10 --sets 2 --out perfbench/CALIBRATION.md

For each workload it makes `sets` sets of untraced runs on identical code,
one run per seed (seeds 1..N), then one traced run. For every end-to-end
metric it reports each set's median and the distance between the first and
third quartile as a share of the median (statistics.quantiles, n=4), and
the ratio of the second set's median to the first. The traced run gives the
tracing overhead. Raw results are kept in perfbench/.work/calibration.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    t = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    rec = {"workload": workload, "seed": seed, "trace": trace,
           "code": p.returncode, "wall_s": time.monotonic() - t, "result": res}
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", "calibration.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    if res is None:
        sys.stderr.write(p.stderr[-2000:])
    return rec


def spread(values):
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q[2] - q[0]) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="queries,ingest")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--out", default=os.path.join(HERE, "CALIBRATION.md"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = ["# Calibration", "",
           f"Identical code, `--seconds {seconds:g}`, seeds 1..{a.seeds}, "
           f"{a.sets} sets per workload, made by `calibrate.py` on "
           f"{time.strftime('%Y-%m-%d')}.", "",
           "Spread is the distance between the first and third quartile "
           "of the ten values as a share of their median.", ""]
    for wl in a.workloads.split(","):
        sets, walls = [], []
        for _ in range(a.sets):
            recs = [run(wl, s, seconds, 0) for s in range(1, a.seeds + 1)]
            walls += [r["wall_s"] for r in recs]
            sets.append([r["result"] for r in recs if r["result"]])
        traced = run(wl, 1, seconds, 1)["result"]
        out += [f"## {wl}", "",
                f"Run wall time: mean {statistics.mean(walls):.1f} s, "
                f"max {max(walls):.1f} s. Failed runs: "
                f"{sum(a.seeds - len(s) for s in sets)}; runs reporting "
                f"failed operations: "
                f"{sum(1 for s in sets for r in s if r['failed'])}.", "",
                "| metric | bound | " + " | ".join(
                    f"set {i + 1} median | set {i + 1} spread"
                    for i in range(a.sets)) + " | set 2 / set 1 |",
                "|---|---|" + "---|---|" * a.sets + "---|"]
        for m in bounds:
            cells = []
            meds = []
            for s in sets:
                med, sp = spread([r["metrics"][m]["value"] for r in s])
                meds.append(med)
                cells += [f"{med:.4g}", f"{sp:.3f}"]
            ratio = meds[1] / meds[0] if len(meds) > 1 else float("nan")
            out.append(f"| `{m}` | {bounds[m]} | " + " | ".join(cells)
                       + f" | {ratio:.3f} |")
        if traced:
            t = traced["metrics"]
            out += ["", f"Tracing overhead (one traced run, seed 1, "
                    f"alternating traced and untraced passes): traced pass "
                    f"{t['trace.pass_s']['value']:.3f} s, untraced pass "
                    f"{t['trace.untraced_pass_s']['value']:.3f} s, overhead "
                    f"{t['trace.overhead_share']['value']:+.3f}; largest "
                    f"share of a traced pass outside every operation's "
                    f"timer {t['trace.reconcile_gap_share']['value']:.2g}."]
        out.append("")
    with open(a.out, "w") as f:
        f.write("\n".join(out))
    print("\n".join(out))


if __name__ == "__main__":
    main()
