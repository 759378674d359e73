#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Inputs are generated from the seed and cached
under perfbench/.work/inputs; each run's files go to perfbench/.work/run.

The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
holding the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The lines before it print every metric with its unit. The
exit code is 0 when every operation ran and every answer matched, 1 when
some did not, 2 when the benchmark could not run at all.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
JVM = os.path.join(HERE, "jvm")
CORES = 4
SETUP_REPS = 3
# a run must end within 180 s; the JVM stops measuring early to stay in
DEADLINE_S = 170
WORKLOADS = ["queries", "ingest", "relational", "pipeline"]

# input sizes per workload
RELATIONAL = dict(lineitem_rows=60000, docs_rows=500, emb_rows=500)
PIPELINE = dict(lineitem_rows=6000, docs_rows=500, emb_rows=500)
INGEST = dict(base_vecs=1000, base_docs=500, batch=50, cycles=100, dim=32)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(JVM, "build.sbt"),
             os.path.join(JVM, "project", "build.properties")]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(JVM, "src")]:
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:20]


def build():
    """Compile graft and the benchmark; return the runtime classpath and
    graft's own JVM options."""
    stamp_file = os.path.join(WORK, "build", source_stamp() + ".json")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            b = json.load(f)
        return b["classpath"], b["java_options"]
    log("building graft and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath", "writeJavaOptions"],
        cwd=JVM, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    with open(os.path.join(JVM, "target", "java-options.txt")) as f:
        java_options = [l for l in f.read().splitlines() if l]
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"classpath": cp[-1], "java_options": java_options}, f)
    return cp[-1], java_options


def prepare_inputs(workload, seed):
    """Generate (or reuse) the inputs; cached per seed and size."""
    import inputs
    size = INGEST if workload == "ingest" else \
        PIPELINE if workload == "pipeline" else RELATIONAL
    key = "-".join(str(v) for v in size.values())
    kind = "ingest" if workload == "ingest" else "tables"
    d = os.path.join(WORK, "inputs", f"{kind}-{seed}-{key}")
    if workload == "ingest":
        return inputs.write_ingest(d, seed, **size), None
    return inputs.write_tables(d, seed, **size), d


def run_jvm(classpath, java_options, args, run_dir, budget_s):
    java = shutil.which("java") or die("java not found")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # graft's own JVM options, then the benchmark's overrides: every
    # file the run writes stays inside the run directory, and the heap
    # has one fixed size (the last -Xmx wins over graft's default, which
    # its build reads from the environment). A heap that grows and
    # shrinks moves the points where collections happen from run to run,
    # and with them peak_heap_mb.
    cmd = [java] + java_options + [
        "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dderby.system.home={run_dir}",
        "-cp", classpath, "graftbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"the run did not finish within {budget_s:.0f} s")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"the benchmark JVM exited with code {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no graft sources next to {HERE}; run from a graft checkout")
    classpath, java_options = build()
    build_s = time.monotonic() - started
    t = time.monotonic()
    input_dir, table_dir = prepare_inputs(a.workload, a.seed)
    log(f"inputs ready in {time.monotonic() - t:.1f} s")

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    t = time.monotonic()
    # what is left of the deadline, less the answer check after the JVM
    budget = DEADLINE_S - (time.monotonic() - started - build_s) - 20
    run_jvm(classpath, java_options,
            [a.workload, str(a.seed), str(a.seconds), str(a.trace),
             input_dir, run_dir, out, str(SETUP_REPS), str(CORES),
             f"{budget - 5:.1f}"],
            run_dir, budget)
    log(f"JVM done in {time.monotonic() - t:.1f} s")
    t = time.monotonic()
    with open(out) as f:
        res = json.load(f)
    failures = list(res["failures"])
    unverified = []
    if table_dir is not None:
        import oracle
        with open(os.path.join(run_dir, "oracle_sql.json")) as f:
            spec = json.load(f)
        answers = oracle.oracle_answers(
            table_dir, spec["sql"], os.path.join(input_dir, "oracle"),
            os.path.join(run_dir, "duckdb-tmp"))
        unverified = sorted(set(spec["names"]) - set(spec["sql"]))
        mismatches, no_oracle = oracle.compare(
            os.path.join(run_dir, "answers"), answers)
        failures += [f"answer mismatch: {m}" for m in mismatches]
        unverified += no_oracle
    log(f"answers checked in {time.monotonic() - t:.1f} s")
    attempted = res["attempted"]
    failed = len(failures)
    e2e = res["end_to_end"]
    e2e["failed_ratio"] = {"value": failed / attempted, "unit": "1"}
    res["failures"] = failures
    res["unverified"] = unverified
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    print(f"workload {a.workload}  seed {a.seed}  passes {res['passes']}  "
          f"ops {res['op_samples']}  tail = p{res['op_tail_percentile']:.1f} "
          f"of {res['op_tail_samples']}")
    for k, v in e2e.items():
        print(f"  {k:32s} {v['value']:14.6g} {v['unit']}")
    if a.trace:
        for k, v in sorted(res["per_layer"].items()):
            print(f"  {k:40s} {v['value']:14.6g} {v['unit']}")
    for fl in failures:
        print(f"  FAILED {fl}")
    for u in unverified:
        print(f"  UNVERIFIED {u} (no oracle answer)")
    if a.trace:
        metrics = res["per_layer"]
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            gated = [m["name"] for m in json.load(f)["end_to_end"]]
        metrics = {k: e2e[k] for k in gated}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
