#!/usr/bin/env python
"""Stage-level decomposition of the FULL sf1 (10x sf0.1) fixpoint via the
Spark event log — prep/loop/leaf/comp_mux/mux job timeline at the first
scale where the phase mix differs from sf0.1 (prep and comp_mux dominate
there; CC alone measured <=10% of prep, BENCH.md).

Usage: SPARK_DRIVER_MEMORY=48g python tools/prof_sf1.py [cpus]
"""
import glob
import json
import os
import subprocess
import sys
import time

cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

EVDIR = "/tmp/spark-events-sf1"
os.makedirs(EVDIR, exist_ok=True)
os.makedirs("/dev/shm/spark-local", exist_ok=True)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

spark = (SparkSession.builder.master(f"local[{cpus}]").appName("prof-sf1")
         .config("spark.local.dir", "/dev/shm/spark-local")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                 "true")
         .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
         .config("spark.checkpoint.checkpointAllMarkedAncestors", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory", os.environ["SPARK_DRIVER_MEMORY"])
         .config("spark.eventLog.enabled", "true")
         .config("spark.eventLog.dir", EVDIR)
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())

from blabel_spark.canon.distributed import canonicalize  # noqa: E402
from blabel_spark.ops.triples_view import build_triples  # noqa: E402

base = build_triples(spark, "/root/testdata/sf0.1")
corpus = (base.select(
    F.explode(F.sequence(F.lit(0), F.lit(9))).alias("r"), "*")
    .select(F.concat(F.lit("r"), F.col("r").cast("string"), F.lit("_"),
                     "graph_id").alias("graph_id"),
            "subj", "pred", "obj")
    # match sf1_run.py: spread the derived corpus across the cores (a
    # real 100 TB scan arrives with thousands of splits, the 10x explode
    # of a 6-partition scan does not)
    .repartition(cpus)).localCheckpoint(True)
n = corpus.count()

warm = canonicalize(spark, corpus)
warm.labelled.write.format("noop").mode("overwrite").save()
warm.unpersist()

t0 = time.time()
res = canonicalize(spark, corpus, route="fixpoint")
t_pre_save = time.time()
res.labelled.write.format("noop").mode("overwrite").save()
wall = round(time.time() - t0, 3)
app_id = spark.sparkContext.applicationId
m = res.metrics
print(json.dumps({"n_triples": n, "wall_s": wall,
                  **{k: v for k, v in m.items()
                     if k != "iterations_log"}}, default=str))
bounds, acc = [], t0 * 1000
for ph in ("t_prep_s", "t_loop_s", "t_leaf_kernel_s", "t_comp_mux_s",
           "t_mux_s"):
    acc += m[ph] * 1000
    bounds.append((ph, acc))
bounds.append(("save", t_pre_save * 1000))
spark.stop()

evd = glob.glob(f"{EVDIR}/eventlog_v2_{app_id}/events_*.zstd")
raw = f"/tmp/sf1_events_{app_id}.json"
subprocess.run(["zstd", "-d", "-f", evd[0], "-o", raw], check=True,
               capture_output=True)
jobs, stages = {}, {}
for line in open(raw):
    try:
        e = json.loads(line)
    except ValueError:
        continue
    t = e.get("Event")
    if t == "SparkListenerJobStart":
        jobs[e["Job ID"]] = {"t0": e["Submission Time"],
                             "stages": [s["Stage ID"]
                                        for s in e["Stage Infos"]]}
    elif t == "SparkListenerJobEnd":
        jobs.setdefault(e["Job ID"], {}).setdefault("t0", 0)
        jobs[e["Job ID"]]["t1"] = e["Completion Time"]
    elif t == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        stages[si["Stage ID"]] = {
            "name": si["Stage Name"].split(" at ")[0],
            "ms": si.get("Completion Time", 0)
            - si.get("Submission Time", 0),
            "tasks": si["Number of Tasks"]}


def phase_of(ts_ms: float) -> str:
    for ph, end in bounds[:-1]:
        if ts_ms <= end:
            return ph
    return "post"


for jid in sorted(jobs):
    j = jobs[jid]
    dur = (j.get("t1", 0) - j.get("t0", 0)) / 1000
    if dur < 0.3 or j.get("t0", 0) < t0 * 1000:
        continue
    done = [(stages[s]["ms"], stages[s]["name"], stages[s]["tasks"])
            for s in j.get("stages", []) if s in stages]
    done.sort(reverse=True)
    off = (j["t0"] - t0 * 1000) / 1000
    print(f"[{phase_of(j['t0'])}] +{off:6.2f}s job {jid}: {dur:.2f}s "
          + "; ".join(f"{nm}({tk}t)={ms}ms" for ms, nm, tk in done[:4]))
