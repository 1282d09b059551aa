"""The shared per-graph kernel runner: batch-boundary carry, parallelism,
empty input, and the partitioned KG write."""

import os

import pandas as pd
import pytest

from blabel_spark.canon.local import blank_node_components, label_graph
from blabel_spark.kernel_runner import complete_groups, run_graph_kernel
from blabel_spark.lean.local import lean_graph
from tests.test_distributed_canon import random_graph
from tests.test_lean import CASES
from tests.test_local_canon import FIXTURES

SCHEMA = "graph_id string, subj string, pred string, obj string"


def _df(spark, graphs):
    rows = [(g, s, p, o) for g, trips in graphs.items() for s, p, o in trips]
    return spark.createDataFrame(rows, SCHEMA)


def _by_graph(rows):
    out = {}
    for r in rows:
        out.setdefault(r[0], set()).add(tuple(r[1:]))
    return out


@pytest.fixture()
def tiny_batches(spark):
    """Arrow batches of 3 rows: every multi-triple graph straddles a
    batch boundary inside the kernel stage."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture()
def graphs():
    g = {f"lean-{k}": v for k, v in CASES.items()}
    g.update({f"fx-{k}": v for k, v in FIXTURES.items()})
    g.update({f"r{s}": random_graph(s) for s in range(4)})
    return g


def test_complete_groups_never_splits_a_group():
    keys = ["k"] * 4 + ["m"] * 2 + ["n"] * 5 + ["p"]
    frame = pd.DataFrame({"k": keys, "v": range(len(keys))})
    batches = [frame.iloc[i:i + 3] for i in range(0, len(frame), 3)]
    cut = list(complete_groups(batches, ["k"]))
    seen = []
    for pdf, starts in cut:
        assert starts[0] and starts.sum() == pdf["k"].nunique()
        seen.extend(pdf["k"].unique())
    # each group arrives whole, exactly once, in order
    assert seen == ["k", "m", "n", "p"]
    assert pd.concat([p for p, _ in cut])["v"].tolist() == \
        frame["v"].tolist()


def test_lean_graphs_straddling_batches_match_local(spark, graphs,
                                                   tiny_batches):
    from blabel_spark.lean.distributed import lean_graphs
    lean, witness = lean_graphs(spark, _df(spark, graphs))
    got = _by_graph(lean.collect())
    wit = {}
    for r in witness.collect():
        wit.setdefault(r.graph_id, {})[r.bnode] = r.target
    for g, trips in graphs.items():
        res = lean_graph(trips)
        assert got.get(g, set()) == set(res.lean), g
        assert wit.get(g, {}) == res.core_map, g


@pytest.mark.parametrize("route", ["by_graph", "fixpoint"])
def test_canonicalize_straddling_batches_matches_local(spark, graphs,
                                                      tiny_batches, route):
    """by_graph runs every graph through the runner; the fixpoint finishes
    its automorphic components (cycles, grids, cliques) through it with
    (graph_id, comp) keys."""
    from blabel_spark.canon.distributed import canonicalize
    res = canonicalize(spark, _df(spark, graphs), route=route)
    got = _by_graph(res.labelled.collect())
    for g, trips in graphs.items():
        assert got[g] == set(label_graph(trips).graph), g


def test_bnode_components_straddling_batches_match_local(spark, graphs,
                                                        tiny_batches):
    from blabel_spark.canon.distributed import bnode_components
    got = sorted(map(tuple, bnode_components(_df(spark, graphs)).collect()))
    want = sorted(
        (g, b, pivot)
        for g, trips in graphs.items()
        for pivot, ctrips in blank_node_components(trips).items()
        for b in {t for tr in ctrips for t in (tr[0], tr[2])
                  if t.startswith("_:")})
    assert got == want


def test_kernel_stages_fill_default_parallelism(spark):
    """A small corpus shuffles a few KB, which AQE would coalesce to one
    task; the runner's output keeps one partition per core."""
    from blabel_spark.canon.distributed import canonicalize
    from blabel_spark.lean.distributed import lean_graphs
    df = _df(spark, {f"g{i}": random_graph(i, n_edges=6) for i in range(50)})
    n = spark.sparkContext.defaultParallelism
    lean, _ = lean_graphs(spark, df)
    assert lean.rdd.getNumPartitions() == n
    res = canonicalize(spark, df, route="by_graph")
    assert res.labelled.rdd.getNumPartitions() == n


def test_empty_input_gives_no_rows(spark):
    from blabel_spark.lean.distributed import lean_graphs
    df = spark.createDataFrame([], SCHEMA)
    out = run_graph_kernel(df, lambda key, rows: [(key[0], len(rows))],
                           "graph_id string, n long")
    assert out.count() == 0
    lean, witness = lean_graphs(spark, df)
    assert lean.count() == 0 and witness.count() == 0


def test_materialize_kg_writes_one_file_per_bucket(spark, tmp_path):
    """Each graph bucket is written by exactly one task, however many
    partitions the labelled table arrives in."""
    from blabel_spark.sources.io import materialize_kg
    df = _df(spark, {f"g{i}": [(f"_:a{i}", "<p>", f"<o{i}>"),
                               (f"<s{i}>", "<q>", f"_:a{i}")]
                     for i in range(200)})
    out_dir = str(tmp_path / "kg")
    materialize_kg(spark, df.repartition(8), df, out_dir)
    buckets = [d for d in os.listdir(f"{out_dir}/triples")
               if d.startswith("graph_bucket=")]
    assert len(buckets) > 32
    for d in buckets:
        files = [f for f in os.listdir(f"{out_dir}/triples/{d}")
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    assert spark.read.parquet(f"{out_dir}/triples").count() == 400
