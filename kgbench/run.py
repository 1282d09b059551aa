#!/usr/bin/env python3
"""Closed-loop benchmark of the knowledge-graph pipeline.

    python3 kgbench/run.py --workload kg_transcripts --seed 1 \
        --seconds 5 --trace 0

Run from the repository root.  One process, one ``local[<cores>]``
session: set up the session and stage the seeded input, run one warm-up
job, then run jobs back to back for ``--seconds`` (a job that starts in
the window runs to its end), each checked against the local oracle before
the next starts.  The last stdout line is one JSON object; the lines
before it print every metric with its unit and sample count.

``--trace 0`` reports the end-to-end metrics, measured without tracing.
``--trace 1`` alternates untraced and traced jobs on a session that writes
an uncompressed event log, and reports the per-layer metrics; the spans go
to ``.kgbench/trace/<workload>-seed<seed>.json``.

Everything the run writes stays under ``.kgbench/`` in the working
directory; its scratch part is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import EventLog, Tracer, attribute, layer_stats  # noqa: E402
from workloads import WORKLOADS, JobCtx, dir_mb  # noqa: E402

# bounds the JVM heap so RSS peaks are comparable between runs and the
# benchmark stays small on a shared host
DRIVER_MEMORY = "2g"


# ---------------------------------------------------------------------------
# process tree: peak RSS and shutdown
# ---------------------------------------------------------------------------

def proc_tree(root: int) -> set[int]:
    """``root`` and every live descendant."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        if fields[0] != "Z":
            parent[int(d)] = int(fields[1])
    tree, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p in parent or p == root:
            tree.add(p)
            todo.extend(c for c, pp in parent.items() if pp == p)
    return tree


def reset_peak_rss(pids) -> None:
    """Restart each process's RSS high-water mark (VmHWM) from its
    current RSS."""
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss(pids) -> int:
    """Sum of the processes' RSS high-water marks, in bytes.  The kernel
    keeps the marks, so nothing samples while a job runs."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass
    return total


def stop_spark(spark) -> None:
    """Stop the session, end its JVM, and wait for every process the JVM
    started (the Python daemon and its workers) to end."""
    from pyspark import SparkContext
    kids = proc_tree(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()   # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while kids and time.time() < deadline:
        kids = {p for p in kids if _alive(p)}
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            st = fh.read()
    except OSError:
        return False
    return st[st.rindex(")") + 2] != "Z"


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------

def retained_mb(spark) -> float:
    """Block-manager bytes held by persisted/checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2 ** 20


class Loop:
    """Runs, checks and releases jobs of one workload on one session."""

    def __init__(self, spark, wl, expected: str, work: str):
        self.spark, self.wl, self.expected = spark, wl, expected
        self.work = work
        self.attempted = self.failed = 0
        self.jobs: list[dict] = []

    def job(self, tracer: Tracer, timed: bool) -> dict:
        """One job: run, check, release.  Only ``wl.run`` is timed."""
        n = len(self.jobs)
        ctx = JobCtx(self.spark, tracer, f"job{n}",
                     os.path.join(self.work, f"job{n}"))
        before = retained_mb(self.spark)
        rec = {"run": ctx.run, "traced": tracer.enabled, "timed": timed,
               "ok": False}
        out = None
        self.attempted += 1
        reset_peak_rss(proc_tree(os.getpid()))
        try:
            t0 = time.perf_counter()
            with tracer.span("job", ctx.run):
                out = self.wl.run(ctx)
            rec["wall_s"] = time.perf_counter() - t0
            # processes that started during the job are in the tree now
            rec["peak_rss_mb"] = peak_rss(proc_tree(os.getpid())) / 2 ** 20
            rec["ok"] = self.wl.digest(out) == self.expected
            rec["canon_metrics"] = out.res.metrics
            rec["kg_mb"] = dir_mb(out.kg_dir)
            rec["ckpt_mb"] = dir_mb(out.ckpt_dir)
        except Exception:
            traceback.print_exc()
        finally:
            if out is not None:
                out.res.unpersist()
            ctx.release()
            shutil.rmtree(ctx.workdir, ignore_errors=True)
        if not rec["ok"]:
            self.failed += 1
            print(f"kgbench: {ctx.run} FAILED its output check",
                  file=sys.stderr)
        rec["retained_mb"] = retained_mb(self.spark) - before
        self.jobs.append(rec)
        return rec


def median_of(recs, key, default=0.0):
    vals = [r[key] for r in recs if key in r]
    return statistics.median(vals) if vals else default


def per_layer(loop: Loop, tracer: Tracer, log: EventLog, cores: int,
              get_spark_s: float) -> dict:
    """Per-layer numbers: medians over the traced jobs."""
    jobs_of = attribute(tracer.spans, log)
    rows = []
    for rec in loop.jobs:
        if not rec["traced"] or "wall_s" not in rec:
            continue
        spans = {s.name: s for s in tracer.spans
                 if s.run == rec["run"] and s.parent is not None}
        root = next(s for s in tracer.spans
                    if s.run == rec["run"] and s.parent is None)
        st = {n: layer_stats(s, jobs_of[s.id], log, cores)
              for n, s in spans.items()}
        absent = dict.fromkeys(st["canon"], 0.0)   # a layer not run
        ex, le, ca = (st.get(n, absent)
                      for n in ("extract", "lean", "canon"))
        cm = rec["canon_metrics"]
        it = cm.get("iterations_log", [])
        rows.append({
            "extract.wall_s": ex["wall_s"],
            "extract.task_busy_s": ex["task_busy_s"],
            "lean.wall_s": le["wall_s"],
            "lean.kernel_tasks": le["kernel_tasks"],
            "lean.kernel_task_max_over_mean": le["kernel_task_max_over_mean"],
            "lean.core_idle_frac": le["core_idle_frac"],
            "canon.kernel_stage_s": ca["kernel_stage_s"],
            "canon.kernel_tasks": ca["kernel_tasks"],
            "canon.kernel_task_max_over_mean":
                ca["kernel_task_max_over_mean"],
            "canon.task_busy_s": ca["task_busy_s"],
            "canon.prep_s": cm.get("t_prep_s", 0.0),
            "canon.rounds": cm.get("colour_iterations", 0),
            "canon.round_s": median_of(it, "t_round_s"),
            "canon.jobs_per_round": median_of(it, "n_jobs"),
            "canon.stages_per_round": median_of(it, "n_stages"),
            "canon.driver_gap_s": ca["driver_gap_s"],
            "canon.tail_s": sum(cm.get(k, 0.0) for k in (
                "t_leaf_kernel_s", "t_comp_mux_s", "t_mux_s")),
            "canon.wall_s": ca["wall_s"],
            "canon.jobs": ca["jobs"],
            "canon.stages": ca["stages"],
            "canon.shuffle_write_mb": ca["shuffle_write_mb"],
            "canon.spill_mb": ca["spill_mb"],
            "canon.core_idle_frac": ca["core_idle_frac"],
            "sources.materialize_kg_s":
                st.get("materialize_kg", absent)["wall_s"],
            "sources.bytes_written_mb": rec["kg_mb"],
            "sources.ckpt_bytes_mb": rec["ckpt_mb"],
            "trace.span_cover_frac":
                sum(s.dur for s in spans.values()) / root.dur,
            "_traced_total_s": root.dur,
        })
    if not rows:
        return {}
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    untraced = [r["wall_s"] for r in loop.jobs
                if r["timed"] and not r["traced"] and "wall_s" in r]
    out["trace.overhead_s"] = (out.pop("_traced_total_s")
                               - statistics.median(untraced))
    out["spark_util.get_spark_s"] = get_spark_s
    out["blocks.retained_mb"] = median_of(loop.jobs, "retained_mb")
    return out


UNITS = {"_s": "s", "_mb": "MB", "_frac": "frac", "_over_mean": "ratio"}


def unit_of(name: str) -> str:
    return next((u for suf, u in UNITS.items() if name.endswith(suf)),
                "count")


def measure(args, work: str) -> dict:
    from blabel_spark.spark_util import get_spark
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    off = Tracer(False)

    t0 = time.perf_counter()
    with tracer.span("get_spark", "setup"):
        spark = get_spark("kgbench", cpus=cores)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t0 = time.perf_counter()
        with tracer.span("stage", "setup"):
            wl = WORKLOADS[args.workload](args.seed)
            wl.stage(spark, os.path.join(work, "input"))
        stage_s = time.perf_counter() - t0
        expected = wl.expected()        # local oracle: outside every timing

        loop = Loop(spark, wl, expected, work)
        loop.job(off, timed=False)      # warm-up: checked, not timed
        # traced mode runs untraced/traced/untraced blocks, so a steady
        # drift in speed over the run biases neither side of
        # trace.overhead_s
        block = [off, tracer, off] if args.trace else [off]
        deadline = time.perf_counter() + args.seconds
        while True:
            for t in block:
                loop.job(t, timed=True)
            if time.perf_counter() >= deadline:
                break
    finally:
        stop_spark(spark)

    timed = [r for r in loop.jobs if r["timed"] and not r["traced"]
             and "wall_s" in r]
    walls = [r["wall_s"] for r in timed]
    res = {"workload": wl.name, "seed": args.seed, "cores": cores,
           "input_digest": wl.input_digest, "n_triples": wl.n_triples,
           "attempted": loop.attempted, "failed": loop.failed,
           "n_samples": len(walls), "walls": walls}
    if not walls:
        res["metrics"] = {}
        return res
    wall = statistics.median(walls)
    if not args.trace:
        res["metrics"] = {
            "wall_s": (wall, "s"),
            "triples_per_s": (wl.n_triples / wall, "1/s"),
            "setup_s": (get_spark_s + stage_s, "s"),
            "peak_rss_mb": (max(r["peak_rss_mb"] for r in timed), "MB"),
        }
        return res
    logs = os.listdir(os.path.join(work, "events"))
    log = EventLog(os.path.join(work, "events", logs[0]))
    layers = per_layer(loop, tracer, log, cores, get_spark_s)
    res["metrics"] = {k: (v, unit_of(k)) for k, v in layers.items()}
    trace_dir = os.path.join(os.getcwd(), ".kgbench", "trace")
    os.makedirs(trace_dir, exist_ok=True)
    tracer.write(os.path.join(trace_dir,
                              f"{wl.name}-seed{args.seed}.json"),
                 {"input_digest": wl.input_digest, "per_layer": layers})
    return res


def configure_env(root: str, work: str, trace: bool) -> None:
    """Session settings that must exist before the JVM starts: workers
    import the library from the checkout, scratch stays in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    # C1-only JIT: under the default tiered C2 the driver-side code keeps
    # recompiling for 3-4 jobs, so the first timed job was 20-70 % slower
    # than steady state and varied from run to run; with C1 the job after
    # one warm-up is already steady
    conf = [f"spark.driver.extraJavaOptions=-XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={tmp}"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        # Spark 4 writes rolling, zstd-compressed event logs by default;
        # the reader here takes one plain JSON-lines file
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{events}",
                 "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"


def report(res: dict) -> dict:
    """Print every metric with its unit and sample count; return the
    result line."""
    print(f"{res['workload']} seed={res['seed']} cores={res['cores']} "
          f"input={res['input_digest']} triples={res['n_triples']} "
          f"jobs={res['attempted']} samples={res['n_samples']}")
    for k, (v, u) in sorted(res["metrics"].items()):
        print(f"  {k:36s} {v:14.4f} {u}")
    print(f"  {'failed_frac':36s} {res['failed'] / res['attempted']:14.4f} "
          f"frac  ({res['failed']}/{res['attempted']} jobs)")
    if res["walls"]:
        print("  job walls (s): "
              + " ".join(f"{w:.3f}" for w in res["walls"]))
    return {"correct": res["failed"] == 0 and bool(res["metrics"]),
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in res["metrics"].items()}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kgbench")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "blabel_spark",
                                       "spark_util.py")):
        print("kgbench: run from the repository root (blabel_spark/ not "
              "found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # a terminated run still stops its JVM and workers (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".kgbench", f"work-{os.getpid()}")
    configure_env(root, work, bool(args.trace))
    try:
        res = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(res)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
