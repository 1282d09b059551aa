"""The benchmark workloads: input staging, the timed job, the output check.

Each workload owns one seeded input (``gen``), stages it as parquet the
way ``jobs/build_kg.py`` reads its input, runs one job through the
library's public functions, and checks the job's output against a digest
computed by the local single-machine kernels, independently of Spark.

A job runs under a ``JobCtx``.  With tracing on, every layer call sits in
a span and the layer's output is materialized at the span's end, so the
next layer's span holds only its own work.  With tracing off the pipeline
runs as ``build_kg`` runs it: lazily, one plan per action.
"""

from __future__ import annotations

import os
from collections import defaultdict
from dataclasses import dataclass, field

import gen
import pandas as pd

TRIPLE_COLS = ["graph_id", "subj", "pred", "obj"]


@dataclass
class JobCtx:
    spark: object
    tracer: object          # tracing.Tracer; a disabled one when untraced
    run: str                # run id shared by the spans of one job
    workdir: str            # fresh per job, removed after its check
    handles: list = field(default_factory=list)

    def span(self, name: str):
        return self.tracer.span(name, self.run)

    def boundary(self, df):
        """Materialize a layer's output at its boundary (traced only)."""
        if not self.tracer.enabled:
            return df
        df = df.localCheckpoint(True)
        self.handles.append(df)
        return df

    def release(self) -> None:
        for df in self.handles:
            df.unpersist()
        self.handles = []


@dataclass
class JobOut:
    res: object                     # the job's CanonResult
    labelled: object = None         # DataFrame the check reads, or None
    kg_dir: str | None = None       # materialized KG the check reads
    ckpt_dir: str | None = None


def dir_mb(path: str | None) -> float:
    total = 0
    for base, _dirs, files in os.walk(path or ""):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2 ** 20


def _stage_parquet(spark, pdf: pd.DataFrame, schema: str, path: str):
    spark.createDataFrame(pdf, schema).write.parquet(path)
    return spark.read.parquet(path)


class KgTranscripts:
    """``build_kg --lean``: transcripts -> extract_triples -> lean_graphs
    -> canonicalize (auto route) -> materialize_kg into a fresh dir."""

    name = "kg_transcripts"
    # ~8 s per warm job on 4 cores; the fixed per-stage cost of the four
    # layers dominates at this size
    N_CONVS = 500

    def __init__(self, seed: int, n_convs: int = N_CONVS):
        self.rows, self.truth = gen.transcripts(seed, n_convs)
        self.input_digest = gen.input_digest(self.rows)
        # extraction is exact (tests/test_extract.py), so the extracted
        # triple count is the truth count
        self.n_triples = sum(len(f) for f in self.truth.values())

    def stage(self, spark, path: str) -> None:
        pdf = pd.DataFrame(self.rows, columns=gen.TRANSCRIPT_COLS)
        pdf["ts"] = (pd.Timestamp("2026-01-01")
                     + pd.to_timedelta(pdf["ts"], unit="s"))
        self.df = _stage_parquet(
            spark, pdf, "conv_id string, turn_idx int, role string, "
            "text string, tool string, ts timestamp", path)

    def expected(self) -> str:
        from blabel_spark.canon.local import label_graph
        from blabel_spark.lean.local import lean_graph
        rows = []
        for g, facts in self.truth.items():
            lean = lean_graph(sorted(facts)).lean
            rows.extend((g, *t) for t in label_graph(list(lean)).graph)
        return gen.graph_digest(rows)

    def run(self, ctx: JobCtx) -> JobOut:
        from blabel_spark.canon.distributed import canonicalize
        from blabel_spark.extract.pipeline import extract_triples
        from blabel_spark.lean.distributed import lean_graphs
        from blabel_spark.sources.io import materialize_kg
        sp = ctx.spark
        out = os.path.join(ctx.workdir, "kg")
        with ctx.span("extract"):
            triples = ctx.boundary(
                extract_triples(sp, self.df, gen.gazetteer()))
        with ctx.span("lean"):
            lean, _witness = lean_graphs(sp, triples)
            lean = ctx.boundary(lean)
        with ctx.span("canon"):
            res = canonicalize(sp, lean)
            labelled = ctx.boundary(res.labelled)
        with ctx.span("materialize_kg"):
            materialize_kg(sp, labelled, lean, out,
                           {k: v for k, v in res.metrics.items()
                            if isinstance(v, (int, float, str))})
        return JobOut(res, kg_dir=out)

    def digest(self, out: JobOut) -> str:
        """The KG as read back from disk, without Spark."""
        import pyarrow.dataset as ds
        tab = ds.dataset(os.path.join(out.kg_dir, "triples"),
                         format="parquet", partitioning="hive") \
            .to_table(columns=TRIPLE_COLS)
        return gen.graph_digest(zip(*(tab.column(c).to_pylist()
                                      for c in TRIPLE_COLS)))


class DeepResumable:
    """``build_kg --checkpoint``'s path: directed bnode chains through
    ``canonicalize`` with ``checkpoint_dir`` set, which routes to the
    distributed fixpoint and commits loop state between rounds."""

    name = "deep_resumable"
    # 4-edge chains take 2 colour rounds; with a commit every round the
    # loop writes its state once per job.  Every round and commit is a
    # fixed cost of about 2 s here, and one run must fit its time budget.
    N_CHAINS = 200
    LENGTH = 4
    CHECKPOINT_EVERY = 1

    def __init__(self, seed: int, n_chains: int = N_CHAINS,
                 length: int = LENGTH):
        self.rows = gen.chains(seed, n_chains, length)
        self.input_digest = gen.input_digest(self.rows)
        self.n_triples = len(self.rows)

    def stage(self, spark, path: str) -> None:
        self.df = _stage_parquet(
            spark, pd.DataFrame(self.rows, columns=TRIPLE_COLS),
            "graph_id string, subj string, pred string, obj string", path)

    def expected(self) -> str:
        from blabel_spark.canon.local import label_graph
        graphs = defaultdict(list)
        for g, s, p, o in self.rows:
            graphs[g].append((s, p, o))
        return gen.graph_digest(
            (g, *t) for g, trips in graphs.items()
            for t in label_graph(trips).graph)

    def run(self, ctx: JobCtx) -> JobOut:
        from blabel_spark.canon.distributed import canonicalize
        ckpt = os.path.join(ctx.workdir, "ckpt")
        with ctx.span("canon"):
            res = canonicalize(ctx.spark, self.df, checkpoint_dir=ckpt,
                               checkpoint_every=self.CHECKPOINT_EVERY)
            res.labelled.write.format("noop").mode("overwrite").save()
        return JobOut(res, labelled=res.labelled, ckpt_dir=ckpt)

    def digest(self, out: JobOut) -> str:
        return gen.graph_digest(
            tuple(r) for r in out.labelled.select(*TRIPLE_COLS).collect())


WORKLOADS = {w.name: w for w in (KgTranscripts, DeepResumable)}
