#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from this checkout's sources (once per
source state), generates the workload's inputs from the seed, runs the
harness JVM, checks every operation's output, and prints the metrics: a
readable table first, then as the last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`.

`--trace 0` prints the end-to-end metrics. `--trace 1` runs the workload
traced and prints its per-layer metrics, each layer's self time and counts,
and the tracing overhead: its `wall_s` minus that of an untraced run of the
same sources, workload and seed (the one recorded by `--trace 0`, or one it
makes first on the same inputs).

Everything the run writes goes under `.bench_build/perfbench/` in the
checkout; the run deletes its own work directory before it exits.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"
RUN_LIMIT_S = 170   # the whole invocation, build excluded
STEAL_WARN = 0.05   # host CPU steal above which a run's timings are flagged

# Tables are generated at scale factor `sf`. Which queries catalogue_sweep
# runs is the harness's (perfbench.Harness.CatalogueSweep); snapshot_churn
# keeps the last `keep` versions when it vacuums.
WORKLOADS = {
    "catalogue_sweep": {"kind": "queries", "sf": 0.001},
    "snapshot_churn": {"kind": "churn", "sf": 0.01, "keep": 4},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and harness; return (classpath, jvm options,
    source stamp)."""
    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src/main/scala/graft/SparkEntry.scala").is_file():
        fail(f"no engine sources next to {HERE.name}/: nothing to benchmark")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp, spec = BUILD / "launch.stamp", BUILD / "launch.txt"
    want = _source_stamp()
    if not (spec.is_file() and stamp.is_file() and stamp.read_text() == want):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'} "
                       "-Dsbt.offline=true -Xmx2g")
        log("building engine and harness with sbt")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if r.returncode != 0:
            fail("build failed")
        shutil.copy(HERE / "target" / "launch.txt", spec)
        stamp.write_text(want)
    lines = spec.read_text().splitlines()
    return lines[0], lines[1:], want


# --------------------------------------------------------------------- JVM

class Harness:
    def __init__(self, launch, args, work, data, deadline):
        self.cp, self.opts, _ = launch
        self.args, self.work, self.data, self.deadline = args, work, data, deadline

    def run(self, trace):
        """Run the harness JVM once; return its result, with `setup_s`: from
        the launch to the end of the workload's preparation."""
        for d in ("tmp", "spark-local", "out", "table", "warmup"):
            shutil.rmtree(self.work / d, ignore_errors=True)
        (self.work / "tmp").mkdir()
        cmd = ["java", *self.opts, f"-Xmx{HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={self.work / 'tmp'}", "-cp", self.cp,
               "perfbench.Harness", "--workload", self.args.workload,
               "--data", str(self.data), "--work", str(self.work),
               "--seed", str(self.args.seed), "--seconds", str(self.args.seconds),
               "--trace", "1" if trace else "0", "--cpus", str(CPUS)]
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(self.work / "spark-local"))
        logf = self.work / "jvm.log"
        t0 = time.time()
        with open(logf, "w") as out:
            p = subprocess.Popen(cmd, cwd=self.work, env=env, stdout=out, stderr=out,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = p.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        if rc != 0:
            sys.stderr.write(logf.read_text()[-3000:])
            fail(f"harness JVM exited with {rc}")
        res = json.loads((self.work / "result.json").read_text())
        res["setup_s"] = res["setup_done_ms"] / 1000.0 - t0
        return res


# ------------------------------------------------------------------ checks

def check_ops(args, res, data, work):
    """Check each operation's output: set its `bad` field to what was
    wrong, or None when right. An operation the run did not
    start within --seconds is a failed one."""
    for o in res["ops"]:
        if o["status"] == "skipped":
            o["bad"] = f"not run: --seconds {args.seconds:g} ran out before it"
    ops = [o for o in res["ops"] if o["status"] != "skipped"]
    if WORKLOADS[args.workload]["kind"] == "queries":
        oracle = check.Oracle(data)
        for o in ops:
            o["bad"] = o.get("error") or _guard(lambda: oracle.check(o["out"], o["oracle"]))
        return
    plan = [l.split("\t") for l in (work / "plan.tsv").read_text().splitlines()]
    replay = check.Replay(plan[0][1], WORKLOADS[args.workload]["keep"])
    for o in ops:
        kind, a = plan[o["op"] + 1][0], plan[o["op"] + 1][1:]
        if o.get("error"):
            o["bad"] = o["error"]
            break
        if "out" in o:
            o["bad"] = _guard(lambda: replay.check_read(kind, a, o))
        else:
            o["bad"] = _guard(lambda: replay.apply(kind, a, o["version"], o["based_on"]))
            if o["bad"]:
                break
    # an operation after a failed write cannot be replayed: count it failed
    for o in ops:
        o.setdefault("bad", "not checked: an earlier write failed")
    res["final_bad"] = _guard(lambda: replay.check_final(res["final_out"]))


def _guard(fn):
    try:
        return fn()
    except Exception as e:  # a check that cannot run is a failed check
        return f"check raised {type(e).__name__}: {e}"


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))
    launch = build()
    deadline = time.time() + RUN_LIMIT_S
    w = WORKLOADS[args.workload]
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        data = work / "data"
        sizes = gen.tables(data, w["sf"], args.seed)
        if w["kind"] == "churn":
            gen.churn_plan(work, data / "lineitem.parquet", args.seed, w["keep"])
        h = Harness(launch, args, work, data, deadline)

        def measure(trace):
            res = h.run(trace)
            res["space"] = report.space(res, work)
            check_ops(args, res, data, work)
            bad = [f"op {o['op']} {o['name']}: {o['bad']}" for o in res["ops"] if o["bad"]]
            if res.get("final_bad"):
                bad.append(f"final version: {res['final_bad']}")
            # metrics cover the operations that ran; the final-version read of
            # snapshot_churn is one more checked output
            ran = [o for o in res["ops"] if o["status"] != "skipped"]
            return res, ran, bad, len(res["ops"]) + ("final_out" in res)

        # the untraced wall_s of this workload and seed, for the tracing
        # overhead: recorded by an untraced run of the same sources, or
        # measured here first
        wall_rec = BUILD / "walls" / launch[2][:16] / f"{args.workload}-seed{args.seed}"
        attempted, bad = 0, []
        if not args.trace or not wall_rec.is_file():
            res, ops, bad, attempted = measure(False)
            untraced_wall = res["wall_s"]
            if not bad:  # a failed or cut-short run is no baseline for later ones
                wall_rec.parent.mkdir(parents=True, exist_ok=True)
                wall_rec.write_text(repr(untraced_wall))
        else:
            untraced_wall = float(wall_rec.read_text())
        if args.trace:
            res, ops, traced_bad, traced_attempted = measure(True)
            attempted += traced_attempted
            bad += traced_bad
            spans = [json.loads(l) for l in (work / "spans.jsonl").read_text().splitlines()]
            trace_dir = BUILD / "traces"
            trace_dir.mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl",
                        trace_dir / f"{args.workload}-seed{args.seed}.jsonl")
            metrics = report.per_layer(res, ops, spans, CPUS, untraced_wall)
            report.print_self_times(spans)
        else:
            metrics = report.end_to_end(res, ops)
        for b in bad:
            log(b)
        if res["steal_frac"] > STEAL_WARN:
            log(f"host CPU steal was {res['steal_frac']:.0%} during the timed region: "
                "its timings are not comparable with those of a quiet host")
        report.print_table(args, w, report.inputs_read(sizes, data, work, ops), res, ops,
                           metrics)
        print(json.dumps({
            "correct": not bad, "attempted": attempted, "failed": len(bad),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
