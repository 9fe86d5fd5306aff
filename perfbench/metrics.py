"""Arithmetic of the benchmark: from one harness record to its metrics.

Every time in a record is in epoch milliseconds; every per-layer figure
is reported per workload pass (totals over the timed passes divided by
the number of passes), so runs of different length compare.
"""
import statistics

MB = 1 << 20

# Catalog functions the incremental loop calls (sources.<fn>_s/_calls)
CATALOG_FNS = ["dropDerived", "buildTextIndex", "upsertTextIndex",
               "compactTextIndex", "loadTextIndex", "refreshAggMvBucketed",
               "bucketedMvLookup"]

# module of a job: the package (or object) of the first graft frame
MODULE_PACKAGES = ("operators", "sources", "streaming", "functions", "plans")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """Value at the highest percentile with at least `beyond` samples
    above it: the (beyond+1)-th largest sample. Returns (value,
    percentile, n); with too few samples the percentile is None and the
    value is the maximum."""
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        return (s[-1] if s else 0.0), None, n
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def driver_only(entries, jobs):
    """Wall time of the entries minus the union of the job intervals
    inside each: time the driver alone was busy."""
    return sum(self_time(e, jobs) for e in entries)


def amp(before, after, base):
    """Growth of a counter or a directory size, relative to `base`."""
    return (after - before) / base if base else 0.0


def space_amp(layout_end, ckpt_before, ckpt_after, base):
    """Live bytes the timed passes leave, relative to `base`: the derived
    layouts at the end (rebuilt in place by each pass) plus the growth of
    the checkpoint root during the passes."""
    return (layout_end + amp(ckpt_before, ckpt_after, 1)) / base if base else 0.0


def module_of(call_site):
    """Module of the first `graft.` frame of a long call site:
    `graft.operators.Dedup$.x(...)` -> operators, `graft.Tables$...` ->
    Tables; None when no graft frame is on the stack."""
    for line in (call_site or "").splitlines():
        frame = line.strip()
        if not frame.startswith("graft."):
            continue
        parts = frame.split("(")[0].split(".")
        if len(parts) > 2 and parts[1] in MODULE_PACKAGES:
            return parts[1]
        return parts[1].split("$")[0]
    return None


def job_modules(jobs):
    """Module of each job. A job submitted from one of Spark's own
    thread pools (broadcast, adaptive query stages) has no graft frame on
    its stack; it takes the module of a job of the same SQL execution
    that has one."""
    by_execution = {}
    for j in jobs:
        mod = module_of(j.get("call_site"))
        if mod and j.get("execution") is not None:
            by_execution.setdefault(j["execution"], mod)
    return [module_of(j.get("call_site")) or by_execution.get(j.get("execution"))
            for j in jobs]


def job_seconds_by_module(jobs):
    """Summed job durations (s) per module; None for jobs with no graft
    frame, such as the noop write of a lazily built frame."""
    out = {}
    for j, mod in zip(jobs, job_modules(jobs)):
        out[mod] = out.get(mod, 0.0) + (j["end"] - j["start"]) / 1e3
    return out


def end_to_end(rec):
    """The end-to-end metrics of one run (tracing off), and the figures
    the record keeps beside them: the median per-entry latency, the tail
    by the rule of `tail` with its percentile and sample count, the JVM's
    peak RSS and the median of the warm re-setups.

    `setup_s` is the first set-up, made in a fresh JVM: it includes the
    one-time class loading and initialisation of Spark and the program,
    which the later set-ups of the same JVM no longer pay."""
    lat = latencies(rec)
    per_item = {}
    for name, t in lat:
        per_item.setdefault(name, []).append(t)
    pooled = [t for _, t in lat]
    tail_v, tail_p, n = tail(pooled)
    return {
        "setup_s": rec["setups"][0]["total_s"],
        "makespan_s": sum(median(v) for v in per_item.values()),
    }, {"job_p50_s": median(pooled), "job_tail_s": tail_v, "tail_percentile": tail_p,
        "samples": n, "peak_rss_mb": rec["peak_rss_kb"] / 1024.0,
        "setup_warm_s": median([s["total_s"] for s in rec["setups"][1:]])}


def latencies(rec):
    return [(r["name"], (r["end"] - r["start"]) / 1e3) for r in rec["runs"] if r["ok"]]


def per_layer(rec, input_bytes, source_bytes, cpus):
    """The per-layer metrics of one traced run. `input_bytes`: bytes of
    the input tables one pass ingests; `source_bytes`: bytes of the
    distinct input tables the workload reads."""
    t = rec["trace"]
    passes = rec["passes"]
    runs = rec["runs"]
    per = lambda x: x / passes
    entries = [(r["start"], r["end"]) for r in runs]
    jobs = [j for j in t["jobs"] if "end" in j]
    job_iv = [(j["start"], j["end"]) for j in jobs]
    stages = t["stages"]
    actions = t["actions"]
    wall_s = rec["wall_ms"] / 1e3

    m = {}
    cold = rec["setups"][0]
    m["Graft.session_s"] = cold["session_s"]
    m["Graft.warmup_s"] = cold["warmup_s"]
    m["streaming.source_s"] = cold["source_s"]
    m["SparkEntry.build_s"] = per(sum(r["built"] - r["start"] for r in runs) / 1e3)
    m["SparkEntry.write_s"] = per(sum(r["end"] - r["built"] for r in runs) / 1e3)
    m["SparkEntry.actions"] = per(len(actions))
    m["SparkEntry.self_s"] = per(sum(
        self_time(e, [(a["start"], a["end"]) for a in actions] + job_iv)
        for e in entries) / 1e3)
    for ph in ("analysis", "optimization", "planning"):
        m[f"plans.{ph}_s"] = per(sum(a[f"{ph}_ms"] for a in actions) / 1e3)

    m["exec.jobs"] = per(len(jobs))
    m["exec.stages"] = per(len(stages))
    m["exec.tasks"] = per(sum(s["tasks"] for s in stages))
    m["exec.in_job_s"] = per(union_length(job_iv) / 1e3)
    m["exec.driver_only_s"] = per(driver_only(entries, job_iv) / 1e3)
    by_job = {}
    for s in stages:
        if s["start"] is not None and s["end"] is not None:
            by_job.setdefault(s["job"], []).append((s["start"], s["end"]))
    m["exec.job_self_s"] = per(sum(
        self_time((j["start"], j["end"]), by_job.get(j["id"], [])) for j in jobs) / 1e3)
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    m["exec.task_run_s"] = per(run_s)
    m["exec.task_cpu_s"] = per(sum(s["cpu_ns"] for s in stages) / 1e9)
    m["exec.gc_s"] = per(sum(s["gc_ms"] for s in stages) / 1e3)
    m["exec.core_util"] = run_s / (wall_s * cpus) if wall_s else 0.0
    m["exec.task_skew"] = median([s["task_run_max_ms"] / s["task_run_median_ms"]
                                  for s in stages
                                  if s["tasks"] >= cpus and s["task_run_median_ms"] > 0])
    m["exec.shuffle_write_mb"] = per(sum(s["shuffle_write_bytes"] for s in stages) / MB)
    m["exec.shuffle_read_mb"] = per(sum(s["shuffle_read_bytes"] for s in stages) / MB)
    m["exec.fetch_wait_s"] = per(sum(s["fetch_wait_ms"] for s in stages) / 1e3)
    m["exec.spill_mb"] = per(sum(s["spill_bytes"] for s in stages) / MB)
    m["exec.agg_build_s"] = per(sum(s["agg_build_ms"] for s in stages) / 1e3)
    m["exec.sort_s"] = per(sum(s["sort_ns"] for s in stages) / 1e9)

    rows_scanned = sum(s["input_records"] for s in stages)
    m["Tables.input_mb"] = per(sum(s["input_bytes"] for s in stages) / MB)
    m["Tables.rows_scanned"] = per(rows_scanned)
    result_rows = sum(v.get("rows", 0) for v in rec["verify"])
    m["Tables.rows_per_result"] = per(rows_scanned) / result_rows if result_rows else 0.0

    job_s = job_seconds_by_module(jobs)
    for mod in ("operators", "sources", "streaming"):
        m[f"{mod}.job_s"] = per(job_s.get(mod, 0.0))

    for fn in CATALOG_FNS:
        calls = [c for c in rec["catalog_spans"] if c["fn"] == fn]
        m[f"sources.{fn}_s"] = per(sum(c["end"] - c["start"] for c in calls) / 1e3)
        m[f"sources.{fn}_calls"] = per(len(calls))
    m["sources.bytes_written_mb"] = per(amp(rec["fs_bytes_before"], rec["fs_bytes_after"], MB))
    m["sources.live_mb"] = (rec["layout_bytes"] + rec["tmp_bytes_after"] - rec["tmp_bytes_before"]) / MB
    m["sources.live_files"] = rec["layout_files"] + rec["tmp_files_after"] - rec["tmp_files_before"]
    m["write_amp"] = amp(rec["fs_bytes_before"], rec["fs_bytes_after"], passes * input_bytes)
    m["space_amp"] = space_amp(rec["layout_bytes"], rec["tmp_bytes_before"],
                               rec["tmp_bytes_after"], source_bytes)

    prog = t["progress"]
    started, last = {}, {}
    for p in prog:
        started.setdefault(p["query"], p["start"] + p["trigger_ms"])
        last[p["query"]] = p
    m["streaming.queries"] = per(len(t["queries"]))
    m["streaming.triggers"] = per(len(prog))
    m["streaming.start_s"] = per(sum(started.get(q["id"], q["start"]) - q["start"]
                                     for q in t["queries"]) / 1e3)
    for k in ("add_batch", "wal_commit", "query_planning", "state_commit"):
        m[f"streaming.{k}_s"] = per(sum(p[f"{k}_ms"] for p in prog) / 1e3)
    m["streaming.state_rows"] = per(sum(p["state_rows"] for p in last.values()))
    trig = [p["trigger_ms"] for p in prog]
    m["trigger_p50_ms"] = median(trig)
    m["trigger_tail_ms"] = tail(trig)[0]
    m["jvm.peak_rss_mb"] = rec["peak_rss_kb"] / 1024.0
    m["trace.makespan_s"] = end_to_end(rec)[0]["makespan_s"]
    return m


def dominance(rec):
    """Per-item split of a traced run, for checking what each workload
    was chosen for: wall, time inside jobs, driver-only time and its
    share, executor busy time, and the share of the item's build time
    spent in `Catalog` calls and streaming triggers."""
    t = rec["trace"]
    jobs = [j for j in t["jobs"] if "end" in j]
    stages = [s for s in t["stages"] if s["start"] is not None and s["end"] is not None]
    cat = rec["catalog_spans"]
    out = {}
    for r in rec["runs"]:
        iv = (r["start"], r["end"])
        mine = [(j["start"], j["end"]) for j in jobs if j.get("entry") == str(r["span"])]
        wall = iv[1] - iv[0]
        build = r["built"] - r["start"]
        cat_ms = sum(c["end"] - c["start"] for c in cat if c["parent"] == r["span"])
        trig_ms = sum(p["trigger_ms"] for p in t["progress"]
                      if iv[0] <= p["start"] <= iv[1])
        busy = union_length(clip([(s["start"], s["end"]) for s in stages], *iv))
        d = out.setdefault(r["name"], [])
        d.append({"wall_s": wall / 1e3, "jobs": len(mine),
                  "driver_only_s": self_time(iv, mine) / 1e3,
                  "driver_only_share": self_time(iv, mine) / wall if wall else 0.0,
                  "stage_busy_share": busy / wall if wall else 0.0,
                  "build_s": build / 1e3,
                  "sources_streaming_share_of_build":
                      min(1.0, (cat_ms + trig_ms) / build) if build else 0.0})
    return out
