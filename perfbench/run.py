"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (see build.py), generates the seeded
inputs (gen.py) into a fresh per-run directory, runs the harness
(harness/Harness.scala) as one closed-loop client in `local[cpus]`
for `--seconds / pass_s` whole timed passes (at least one; `pass_s` is
the workload's nominal pass length on a 4-core machine, in
workloads.json, so the pass count never depends on how fast a run
happens to be and two commits always time the same work),
checks every item's output against its DuckDB oracle (oracle.py) and
prints, as its last line, one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).

The full run record (provenance, input sizes, per-item latencies, the
oracle verdicts and every metric) goes to `.perfbench/records/`. Each
run gets its own warehouse, checkpoint root and `java.io.tmpdir`, removed
at the end, so no layout, replay source or plan survives into the next
run.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

DEADLINE_S = 165.0
SETUP_REPS = 3


def calibrate():
    """Seconds for a fixed CPU-bound task, to tell a slow machine phase
    from a regression when reading records."""
    buf = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    for _ in range(24):
        hashlib.sha256(buf).digest()
    return time.perf_counter() - t0


def catalog_spec(seed):
    """Seeded batch cut points of the Catalog loop (see CatalogLoop): rows
    hash to 0..999; a text index built from the rows below the first cut
    takes two upserts, an aggregate MV two refreshes."""
    rng = random.Random(seed)
    text = sorted(rng.sample(range(550, 950), 2))
    return f"seed={seed};text={','.join(map(str, text))};mv={rng.randrange(600, 900)}"


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in workloads:
        sys.exit(f"unknown workload {a.workload}; have {sorted(workloads)}")
    w = workloads[a.workload]
    try:
        out = build.ensure_built(root)
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    started = time.time()  # the deadline counts from here: a first run also builds
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass

    state = os.path.join(root, ".perfbench")
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=os.path.join(state, "tmp"))
    proc = None
    try:
        calib_before = calibrate()
        data = os.path.join(run_dir, "data")
        t0 = time.time()
        tables = gen.generate(data, a.seed, tables=w["tables"], replicas=w["replicas"])
        gen_s = time.time() - t0
        verify = os.path.join(run_dir, "verify")
        os.makedirs(verify)
        items = w["items"]
        passes = max(1, int(a.seconds / w["pass_s"]))
        cmd = build.harness_command(out, run_dir, {
            "data": data, "cpus": cpus, "items": ",".join(items), "passes": passes,
            "trace": a.trace, "setup_reps": SETUP_REPS, "verify": verify,
            "out": os.path.join(run_dir, "record.json"),
            "replay_source": 1 if w.get("replay_source") else 0,
            "catalog": catalog_spec(a.seed)})
        log_path = os.path.join(run_dir, "harness.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        proc = None
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"harness failed: {rc}")
        with open(os.path.join(run_dir, "record.json")) as f:
            rec = json.load(f)

        verdicts, oracle_s = oracle.check(
            oracle.Oracle(root, data, gen.content_key(w["replicas"]),
                          os.path.join(out, "oracle"), cpus), verify, items)
        for v in rec["verify"]:
            v["rows"] = verdicts[v["name"]]["rows"]
        bad = {n for n, v in verdicts.items() if not v["ok"]}
        bad |= {v["name"] for v in rec["verify"] if not v["ok"]}
        attempted = len(rec["verify"]) + len(rec["runs"])
        failed = sum(1 for v in rec["verify"] if v["name"] in bad) + \
            sum(1 for r in rec["runs"] if not r["ok"] or r["name"] in bad)

        e2e, extra = metrics.end_to_end(rec)
        layer = dominance = job_s = None
        if a.trace:
            ingests = w.get("ingests", {})
            per_pass = sum(tables[t]["bytes"] for i in items for t in ingests.get(i, []))
            distinct = sum(tables[t]["bytes"] for t in {t for v in ingests.values() for t in v})
            layer = metrics.per_layer(rec, per_pass, distinct, cpus)
            dominance = metrics.dominance(rec)
            job_s = {str(k): v / rec["passes"] for k, v in metrics.job_seconds_by_module(
                [j for j in rec["trace"]["jobs"] if "end" in j]).items()}
        chosen = layer if a.trace else e2e
        result = {"correct": not bad, "attempted": attempted, "failed": failed,
                  "metrics": {m["name"]: {"value": chosen[m["name"]], "unit": m["unit"]}
                              for m in bench["per_layer" if a.trace else "end_to_end"]}}
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "replicas": w["replicas"], "items": items, "cpus": cpus,
            "master": rec["master"], "heap": build.HEAP, "heap_max_mb": rec["heap_max_mb"],
            "spark_version": rec["spark_version"], "java_version": rec["java_version"],
            "build_stamp": build.stamp(root), "catalog": catalog_spec(a.seed),
            "tables": tables, "gen_s": gen_s, "oracle_s": oracle_s,
            "calibration_s": {"before": calib_before, "after": calibrate()},
            "passes": rec["passes"], "setups": rec["setups"], "latency": extra,
            "verdicts": verdicts,
            "latencies": metrics.latencies(rec),
            "failed_frac": failed / attempted, "end_to_end": e2e, "per_layer": layer,
            "dominance": dominance, "job_s_by_module": job_s,
        }
        os.makedirs(os.path.join(state, "records"), exist_ok=True)
        rec_path = os.path.join(state, "records",
                                f"{a.workload}-s{a.seed}-t{a.trace}-{int(started)}.json")
        with open(rec_path, "w") as f:
            json.dump(record, f, indent=1)
        for n in sorted(bad):
            print(f"[perfbench] {n}: {verdicts.get(n, {}).get('detail', 'threw')}", file=sys.stderr)
        print(f"[perfbench] record: {rec_path}", file=sys.stderr)
        print(json.dumps(result))
    finally:
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
