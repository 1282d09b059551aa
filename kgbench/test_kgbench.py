"""Tests of the benchmark itself: span coverage, failure accounting,
isomorphism invariance of the output check, and pinned inputs.

    python -m pytest kgbench/test_kgbench.py -q
"""

from __future__ import annotations

import glob
import os

import pytest

import gen
from run import Loop
from tracing import EventLog, Job, Span, Tracer, attribute, covered
from workloads import DeepResumable, KgTranscripts

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def small(cls, seed):
    if cls is KgTranscripts:
        return KgTranscripts(seed, n_convs=40)
    return DeepResumable(seed, n_chains=10)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from blabel_spark.spark_util import get_spark
    s = get_spark("kgbench-tests", cpus=2, shuffle_partitions=4)
    yield s
    s.stop()


def loop_for(spark, wl, tmp_path):
    wl.stage(spark, str(tmp_path / "input"))
    return Loop(spark, wl, wl.expected(), str(tmp_path))


# ---------------------------------------------------------------------------
# pure-Python pieces
# ---------------------------------------------------------------------------

def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered([], 0, 1) == 0


def test_jobs_go_to_the_deepest_span():
    tr = Tracer(True)
    tr.spans = [Span(0, "job", "r", None, 0.0, 10.0),
                Span(1, "lean", "r", 0, 1.0, 4.0),
                Span(2, "canon", "r", 0, 4.0, 9.0)]
    log = EventLog.__new__(EventLog)
    log.jobs = {0: Job(0, 0.5), 1: Job(1, 2.0), 2: Job(2, 5.0),
                3: Job(3, 11.0)}
    log.stages = {}
    got = {k: [j.id for j in v] for k, v in attribute(tr.spans, log).items()}
    assert got == {0: [0], 1: [1], 2: [2]}
    assert tr.self_time(tr.spans[0]) == pytest.approx(2.0)


def test_inputs_are_pinned():
    """The benchmark owns its generators: a change to them shows here
    before it silently changes what the workloads measure."""
    assert gen.input_digest(gen.transcripts(1, KgTranscripts.N_CONVS)[0]) \
        == "af0354c0ba2502bd"
    assert gen.input_digest(gen.chains(1, DeepResumable.N_CHAINS,
                                       DeepResumable.LENGTH)) \
        == "f635e2c967396e47"


def test_seed_renames_but_keeps_the_work():
    a, b = (gen.transcripts(s, 50) for s in (1, 2))
    assert gen.input_digest(a[0]) != gen.input_digest(b[0])
    assert sorted(map(len, a[1].values())) == sorted(map(len, b[1].values()))
    assert small(DeepResumable, 1).expected() == \
        small(DeepResumable, 2).expected()


# ---------------------------------------------------------------------------
# through Spark
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("cls", [KgTranscripts, DeepResumable])
def test_spans_cover_the_traced_job(spark, tmp_path, cls):
    loop = loop_for(spark, small(cls, 3), tmp_path)
    tracer = Tracer(True)
    rec = loop.job(tracer, timed=True)
    assert rec["ok"] and loop.failed == 0
    root = next(s for s in tracer.spans if s.parent is None)
    layers = tracer.children(root)
    assert layers
    assert covered([(s.start, s.end) for s in layers],
                   root.start, root.end) >= 0.9 * root.dur


def test_corrupted_output_counts_as_failed(spark, tmp_path):
    class DropsAFile(KgTranscripts):
        def run(self, ctx):
            out = super().run(ctx)
            parts = glob.glob(os.path.join(out.kg_dir, "triples", "*",
                                           "*.parquet"))
            os.remove(sorted(parts)[0])
            return out

    class Raises(KgTranscripts):
        def run(self, ctx):
            raise RuntimeError("injected")

    for cls in (DropsAFile, Raises):
        wl = cls(3, n_convs=40)
        loop = loop_for(spark, wl, tmp_path / cls.__name__)
        rec = loop.job(Tracer(False), timed=True)
        assert not rec["ok"]
        assert (loop.attempted, loop.failed) == (1, 1)


def test_output_digest_is_seed_invariant(spark, tmp_path):
    """Chains keep their graph ids, so every seed's canonical output is
    the same set of rows — and each job's output matched it."""
    expected = set()
    for seed in (1, 2):
        loop = loop_for(spark, small(DeepResumable, seed),
                        tmp_path / str(seed))
        assert loop.job(Tracer(False), timed=True)["ok"]
        expected.add(loop.expected)
    assert len(expected) == 1
