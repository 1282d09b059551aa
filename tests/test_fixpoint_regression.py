"""Regression tests for the fixpoint loop's per-round plans, its
checkpoint retention and its phase metrics.

Each colour round marks two tables (colours under the convergence table)
for LAZY local checkpointing and materializes both with one status
collect.  If lineage leaked through those checkpoints, per-round plans
would grow from round to round (the event-log signature: job stage counts
growing ~3/round, "Broadcasting large task binary" warnings).  Sessions
without ``spark.checkpoint.checkpointAllMarkedAncestors`` (set by
``get_spark``) truncate the colour table one round later.  These tests
pin

(a) that per-round job/stage counts stay FLAT across rounds, with or
    without that flag, and repeat exactly from one run to the next in
    the same session;
(b) that the loop retains O(1) checkpoints and ``unpersist`` frees them;
(c) that the phase tracer hands the caller's job properties back, and
    that the phase timings account for the call's wall time.

Reference anchor: the one-pass-per-round colouring loop,
GraphColouring.java:463-666.
"""

from __future__ import annotations

import time

import pytest

_PROPS = ("spark.jobGroup.id", "spark.job.description",
          "spark.job.interruptOnCancel")


def _chain_corpus(spark, n_chains: int = 40, length: int = 12):
    """Directed bnode chains force ~length/2 refinement rounds with every
    component staying active until the simultaneous final round — rounds
    2..N-1 are structurally identical, so any plan growth is the bug."""
    from blabel_spark.synthetic import chain
    rows = []
    for i in range(n_chains):
        rows.extend((f"c{i}", s, p, o)
                    for s, p, o in chain(length, tag=f"c{i}_"))
    return spark.createDataFrame(
        rows, "graph_id string, subj string, pred string, obj string"
    ).localCheckpoint(True)


def _assert_flat(log):
    """Rounds 2..N-1 must have identical (n_jobs, n_stages): round 1 has
    no active-semi-join yet and the final round folds resolved
    components, but any growth in the middle is lineage leaking through
    the lazy checkpoints."""
    mids = log[1:-1]
    assert len(mids) >= 2, f"corpus too shallow for the check: {log}"
    shapes = {(e["n_jobs"], e["n_stages"]) for e in mids}
    assert len(shapes) == 1, (
        f"per-round plan size must stay constant, got {shapes}: {log}")


def test_lazy_path_flat_plans(spark):
    from blabel_spark.canon import distributed as D
    res = D.canonicalize(spark, _chain_corpus(spark), route="fixpoint")
    assert res.metrics["colour_iterations"] >= 5
    _assert_flat(res.metrics["iterations_log"])


def test_lazy_path_without_ancestor_flag(spark):
    """A session not built by ``get_spark`` (``jobs/build_kg.py`` under
    spark-submit) lacks the ancestor flag, so each round's colour table
    truncates one round later: labels must not change, and per-round
    plans must still stay flat."""
    from blabel_spark.canon import distributed as D
    key = "spark.checkpoint.checkpointAllMarkedAncestors"
    tri = _chain_corpus(spark)

    def run():
        res = D.canonicalize(spark, tri, route="fixpoint")
        labels = sorted(map(tuple, res.labels.collect()))
        log = res.metrics["iterations_log"]
        res.unpersist()
        return labels, log

    want, _ = run()
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        got, log = run()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == want
    _assert_flat(log)


def test_loop_retains_o1_checkpoints_and_unpersist(spark):
    """A long fixpoint must not accumulate O(rounds) checkpointed tables:
    superseded round state is released the moment its last consumer
    materializes, the returned result rides on a fixed handful of blocks
    (btri, node table, final labels), and ``CanonResult.unpersist``
    releases those too once the result has been consumed — the
    session-hygiene contract for long-lived sessions running many
    corpora."""
    from blabel_spark.canon import distributed as D

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = persistent_ids()
    tri = _chain_corpus(spark)
    res = D.canonicalize(spark, tri, route="fixpoint")
    rows = res.labels.count()
    assert rows > 0
    assert res.metrics["colour_iterations"] >= 5
    ours = persistent_ids() - before
    # input checkpoint (tri) + btri + node_comp/CC + leaf_final, NOT
    # 2 tables x colour_iterations
    assert len(ours) <= 6, (
        f"fixpoint retained {len(ours)} checkpointed RDDs after "
        f"{res.metrics['colour_iterations']} rounds — loop state leaking")
    res.unpersist(blocking=True)
    left = persistent_ids() - before
    # only the test's own input checkpoint may remain
    assert len(left) <= 1, (
        f"unpersist left {len(left)} RDDs behind")
    # the result is no longer usable after unpersist — that's documented


def test_round_counts_repeat_across_runs(spark):
    """Each round's job group carries a per-call nonce: two back-to-back
    runs in one session must report the same per-round (n_jobs,
    n_stages).  A group name reused across runs would fold the first
    run's jobs into the second run's rounds."""
    from blabel_spark.canon import distributed as D
    tri = _chain_corpus(spark)
    shapes = []
    for _ in range(2):
        res = D.canonicalize(spark, tri, route="fixpoint")
        shapes.append([(e["n_jobs"], e["n_stages"])
                       for e in res.metrics["iterations_log"]])
        res.unpersist()
    assert shapes[0] == shapes[1]
    assert all(j > 0 for j, _ in shapes[0]), shapes


def test_caller_job_properties_survive(spark):
    """The caller's job group, description and interruptOnCancel read the
    same after a fixpoint run, and after one that raises (a blank-node
    predicate fails the routing probe inside the traced call)."""
    from blabel_spark.canon import distributed as D
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description",
                   interruptOnCancel=True)
    want = {p: sc.getLocalProperty(p) for p in _PROPS}
    assert want == dict(zip(_PROPS, ("caller-group", "caller description",
                                     "true")))
    try:
        res = D.canonicalize(spark, _chain_corpus(spark, 4, 6),
                             route="fixpoint")
        res.unpersist()
        assert {p: sc.getLocalProperty(p) for p in _PROPS} == want
        bad = spark.createDataFrame(
            [("g", "_:a", "_:p", "_:b")],
            "graph_id string, subj string, pred string, obj string")
        with pytest.raises(ValueError, match="predicate"):
            D.canonicalize(spark, bad, route="fixpoint")
        assert {p: sc.getLocalProperty(p) for p in _PROPS} == want
    finally:
        for p in _PROPS:
            sc.setLocalProperty(p, None)


def test_phases_cover_fixpoint_wall(spark):
    """The phase timings account for at least 90 % of the wall time
    around a forced-fixpoint call, and every phase reports flat job and
    stage counts."""
    from blabel_spark.canon import distributed as D
    tri = _chain_corpus(spark)
    t0 = time.perf_counter()
    res = D.canonicalize(spark, tri, route="fixpoint")
    wall = time.perf_counter() - t0
    m = res.metrics
    res.unpersist()
    covered = sum(m[k] for k in ("t_prep_s", "t_loop_s", "t_leaf_kernel_s",
                                 "t_comp_mux_s", "t_mux_s"))
    assert covered >= 0.9 * wall, (covered, wall, m)
    for ph in ("total", "prep", "loop", "leaf_kernel", "comp_mux", "mux",
               "relabel"):
        assert isinstance(m[f"n_jobs_{ph}"], int)
        assert isinstance(m[f"n_stages_{ph}"], int)
    assert m["n_jobs_prep"] > 0 and m["n_jobs_leaf_kernel"] > 0
