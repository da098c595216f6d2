"""Metrics of one benchmark run, computed from the harness's result file
and (traced) its spans."""
import re
import statistics
from collections import defaultdict
from pathlib import Path

MB = 1048576.0
LAYERS = ["pipelines", "graph", "dedup", "sim", "text", "streaming", "ops", "sources"]
WRITES = {"upsert": "upsert_ms", "append": "append_ms", "delete": "delete_ms",
          "update": "update_ms"}
READS = {"read_range": "read_range_ms", "read_at": "read_at_ms", "changes": "changes_ms"}


def _bytes_under(d):
    d = Path(d)
    return sum(p.stat().st_size for p in d.rglob("*") if p.is_file()) if d.exists() else 0


def space(res, work):
    """Bytes the run keeps on disk over the bytes of its live output: the
    table directory over the current version's files for snapshot_churn,
    the written results over themselves for the query workloads; both
    plus whatever the engine left in its temp root."""
    if "table_bytes" in res:
        kept, live = res["table_bytes"], res["live_bytes"]
    else:
        live = _bytes_under(Path(work) / "out")
        kept = live
    return (kept + res["tmp_left_bytes"]) / live


def end_to_end(res, ops):
    lat = [o["lat_s"] * 1000.0 for o in ops]
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (res["wall_s"], "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "space_amp": (res["space"], "ratio"),
    }


def _union_s(intervals):
    """Seconds covered by the union of (start_us, end_us) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e6


def per_layer(res, ops, spans, cpus, untraced_wall):
    by_id = {s["id"]: s for s in spans}
    op_of = {o["op"]: o for o in ops}

    def phase_of(s):
        while s["parent"] >= 0 and by_id[s["parent"]]["kind"] not in ("op", "workload"):
            s = by_id[s["parent"]]
        return s["name"] if s["kind"] == "phase" else None

    jobs = [s for s in spans if s["kind"] == "job"]
    tot = defaultdict(float)
    for j in jobs:
        for k in ("jobs", "stages", "tasks", "cpu_ns", "run_ms", "gc_ms",
                  "shuffle_write", "shuffle_read", "spill", "input", "output"):
            tot[k] += j[k]
    exec_s = _union_s([(j["start_us"], j["end_us"]) for j in jobs])
    m = {
        "sessions.init_s": (res["init_s"], "s"),
        "sessions.warmup_s": (res["warmup_s"], "s"),
        "queries.build_s": (sum(o.get("build_s", 0.0) for o in ops), "s"),
        "queries.build_jobs": (sum(j["jobs"] for j in jobs if phase_of(j) == "build"), "count"),
        "planning.s": (sum(s["end_us"] - s["start_us"] for s in spans
                           if s["kind"] == "plan") / 1e6, "s"),
        "hygiene.drain_s": (sum(o.get("drain_s", 0.0) for o in ops), "s"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (tot["jobs"], "count"),
        "exec.stages": (tot["stages"], "count"),
        "exec.tasks": (tot["tasks"], "count"),
        "exec.task_cpu_s": (tot["cpu_ns"] / 1e9, "s"),
        "exec.task_run_s": (tot["run_ms"] / 1e3, "s"),
        "exec.task_gc_s": (tot["gc_ms"] / 1e3, "s"),
        "exec.shuffle_write_mb": (tot["shuffle_write"] / MB, "MB"),
        "exec.shuffle_read_mb": (tot["shuffle_read"] / MB, "MB"),
        "exec.spill_mb": (tot["spill"] / MB, "MB"),
        "exec.input_mb": (tot["input"] / MB, "MB"),
        "exec.output_mb": (tot["output"] / MB, "MB"),
        "exec.slot_idle_frac": (1.0 - tot["run_ms"] / 1e3 / (exec_s * cpus)
                                if exec_s else 1.0, "ratio"),
    }
    # per catalogue layer; snapshot_churn's calls are the `sources` layer
    lay = {l: defaultdict(float) for l in LAYERS}
    for o in ops:
        d = lay[o.get("layer", "sources")]
        d["wall_s"] += o["lat_s"]
        d["build_s"] += o.get("build_s", 0.0)
        d["exec_s"] += o.get("exec_s", o["lat_s"] if "layer" not in o else 0.0)
    for j in jobs:
        o = op_of.get(j["op"])
        if o is None:
            continue
        d = lay[o.get("layer", "sources")]
        d["task_cpu_s"] += j["cpu_ns"] / 1e9
        d["shuffle_mb"] += (j["shuffle_write"] + j["shuffle_read"]) / MB
        d["jobs"] += j["jobs"]
    for l in LAYERS:
        for k, u in (("wall_s", "s"), ("build_s", "s"), ("exec_s", "s"),
                     ("task_cpu_s", "s"), ("shuffle_mb", "MB"), ("jobs", "count")):
            m[f"{l}.{k}"] = (lay[l][k], u)
    m["artifacts.dirs_created"] = (sum(o.get("art_dirs", 0) for o in ops), "count")
    m["artifacts.mb_written"] = (sum(o.get("art_bytes", 0) for o in ops) / MB, "MB")
    m["artifacts.mb_left"] = (res["tmp_left_bytes"] / MB, "MB")
    m["jvm.gc_s"] = (res["gc_s"], "s")
    m["jvm.heap_after_gc_mb"] = (res["heap_after_gc_mb"], "MB")
    m.update(_snapshot(res, ops, jobs))
    m["trace.overhead_s"] = (res["wall_s"] - untraced_wall, "s")
    return m


def _snapshot(res, ops, jobs):
    def med_ms(kinds):
        xs = [o["lat_s"] * 1000.0 for o in ops if o["name"] in kinds]
        return statistics.median(xs) if xs else 0.0

    writes = [o for o in ops if o["name"] in WRITES]
    commits = [o for o in writes if o.get("version", 0) > o.get("based_on", 0)]
    reads = [o for o in ops if o["name"] in READS]
    jobs_by_op = defaultdict(lambda: defaultdict(float))
    for j in jobs:
        for k in ("jobs", "input", "output"):
            jobs_by_op[j["op"]][k] += j[k]
    ranged = [o for o in ops if o["name"] == "read_range" and o.get("files")]
    batch_bytes = sum(o.get("batch_bytes", 0) for o in writes)
    n = max(1, len(commits))
    m = {f"snapshot.{v}": (med_ms({k}), "ms") for k, v in {**WRITES, **READS}.items()}
    m.update({
        "snapshot.jobs_per_commit": (sum(jobs_by_op[o["op"]]["jobs"] for o in commits) / n,
                                     "count"),
        "snapshot.files_per_commit": (sum(o.get("files_added", 0) for o in commits) / n,
                                      "count"),
        # one client: a commit conflict (ConcurrentModificationException)
        # would fail the operation, so no commit is ever retried
        "snapshot.commit_retries": (0, "count"),
        "snapshot.manifest_kb": (sum(o.get("manifest_bytes", 0) for o in commits) / n / 1024.0,
                                 "KB"),
        "snapshot.files_skipped_frac": (
            sum(1.0 - o["files_read"] / o["files"] for o in ranged) / len(ranged)
            if ranged else 0.0, "ratio"),
        "snapshot.read_mb_per_read": (
            sum(jobs_by_op[o["op"]]["input"] for o in reads) / MB / max(1, len(reads)), "MB"),
        "snapshot.write_amp": (
            sum(jobs_by_op[o["op"]]["output"] for o in writes) / batch_bytes
            if batch_bytes else 0.0, "ratio"),
        "snapshot.compact_ms": (med_ms({"compact"}), "ms"),
        "snapshot.vacuum_ms": (med_ms({"vacuum"}), "ms"),
    })
    return m


def print_self_times(spans):
    """Each span kind's self time (its duration minus the part its
    children cover) and count."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    self_s, count = defaultdict(float), defaultdict(int)
    for s in spans:
        inside = [(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                  for c in kids[s["id"]]]
        covered = _union_s([i for i in inside if i[1] > i[0]])
        key = s["name"] if s["kind"] == "phase" else s["kind"]
        self_s[key] += (s["end_us"] - s["start_us"]) / 1e6 - covered
        count[key] += 1
    print("layer self time (s) and span count:")
    for k in sorted(self_s, key=lambda k: -self_s[k]):
        print(f"  {k:<12} {self_s[k]:10.3f}  {count[k]:6d}")


def inputs_read(rows, data, work, ops):
    """(table, rows, bytes) of each input the run's operations read: the
    tables their oracle SQL names, or the snapshot base and batches."""
    data, work = Path(data), Path(work)
    if (work / "plan.tsv").exists():
        batches = list((work / "batches").glob("*.parquet"))
        return [("snapshot base", rows["lineitem"], (work / "base.parquet").stat().st_size),
                (f"{len(batches)} write batches", None, sum(b.stat().st_size for b in batches))]
    sql = " ".join(o.get("oracle") or "" for o in ops).lower()
    return [(t, n, (data / f"{t}.parquet").stat().st_size) for t, n in rows.items()
            if re.search(rf"\b{t}\b", sql)]


def print_table(args, w, inputs, res, ops, metrics):
    lat = [o["lat_s"] for o in ops]
    print(f"workload {args.workload}  seed {args.seed}  sf {w['sf']}  "
          f"local[{res['cpus']}]  heap {res['max_heap_mb']:.0f} MB  "
          "closed loop, one client")
    print(f"host CPU steal during the timed region: {res['steal_frac']:.1%}")
    print(f"set-up {res['setup_s']:.2f} s: session {res['init_s']:.2f} s, warm-up "
          f"{res['warmup_s']:.2f} s, preparation {res['prep_s']:.2f} s")
    print("inputs read: " + ", ".join(
        f"{t} ({'' if n is None else f'{n} rows, '}{b} bytes)" for t, n, b in inputs))
    if lat:
        print(f"operations {len(ops)}: p50 {statistics.median(lat):.4f} s, "
              f"max {max(lat):.4f} s")
    for o in ops:
        print(f"  op {o['op']:3d} {o['name']:<24} {o['lat_s']:9.4f} s")
    for k, (v, u) in metrics.items():
        print(f"  {k:<28} {v:14.4f} {u}")
