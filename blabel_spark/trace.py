"""Phase tracer: per phase of an operator, a Spark job group of its own
(named with a per-call nonce: the status tracker matches groups by name
over the whole application), its wall time and its job/stage counts.
On exit, also on an exception, the caller's job properties come back, so
a nested phase hands the group back to its enclosing phase and a job
counts toward the innermost phase it ran in only."""

from __future__ import annotations

import contextlib
import time
import uuid
from dataclasses import dataclass

from pyspark import SparkContext

_PROPS = ("spark.jobGroup.id", "spark.job.description",
          "spark.job.interruptOnCancel")


@dataclass
class Phase:
    name: str
    wall_s: float = 0.0
    n_jobs: int = 0
    n_stages: int = 0

    def flat(self) -> dict:
        return {f"t_{self.name}_s": round(self.wall_s, 3),
                f"n_jobs_{self.name}": self.n_jobs,
                f"n_stages_{self.name}": self.n_stages}


@contextlib.contextmanager
def phase(name: str):
    """Yield the phase's ``Phase`` record; it is filled in on exit."""
    sc = SparkContext.getOrCreate()
    saved = {p: sc.getLocalProperty(p) for p in _PROPS}
    group = f"blabel-{name}-{uuid.uuid4().hex}"
    rec = Phase(name)
    t0 = time.perf_counter()
    sc.setJobGroup(group, name)
    try:
        yield rec
    finally:
        rec.wall_s = time.perf_counter() - t0
        for p, v in saved.items():
            sc.setLocalProperty(p, v)
        st = sc.statusTracker()
        infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        rec.n_jobs = len(infos)
        rec.n_stages = sum(len(i.stageIds) for i in infos if i is not None)
