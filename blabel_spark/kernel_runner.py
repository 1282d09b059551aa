"""One runner for every per-graph Python kernel.

The reference labels and leans one document at a time
(RunNQuadsTest.java:257-451); the Spark shape of that loop is a stage that
hands each graph, whole, to a Python function.  ``run_graph_kernel`` is
that stage, shared by the lean kernel, the per-graph canonicalizer, the
component union-find, the automorphic-residue kernel and the synthetic
benchmark:

* groups are placed by an explicit ``repartition(n, *keys)`` with ``n`` the
  session's default parallelism.  AQE never coalesces a repartition with a
  fixed count, so a kernel stage fills every core however few bytes its
  input shuffles (AQE sizes post-shuffle partitions by bytes, which says
  nothing about Python cost);
* each partition is sorted by key and streamed through ONE ``mapInPandas``
  pass: every Arrow batch is cut at its last key boundary and the tail
  carries into the next batch (``complete_groups``), so a group never
  straddles two kernel calls and many groups share one batch;
* the kernel sees ``(key, rows)`` with ``rows`` a list of plain tuples, and
  its output rows become one pandas frame per batch — no pandas frame per
  graph on either side.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def _group_starts(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Boolean mask of the rows that open a new key group (``pdf`` sorted
    by ``keys``)."""
    starts = np.zeros(len(pdf), dtype=bool)
    starts[0] = True
    for k in keys:
        v = pdf[k].to_numpy()
        starts[1:] |= v[1:] != v[:-1]
    return starts


def complete_groups(batches: Iterable[pd.DataFrame], keys: Sequence[str]
                    ) -> Iterator[tuple[pd.DataFrame, np.ndarray]]:
    """Re-cut a key-sorted stream of frames so that no key group straddles
    two yielded frames.  Each frame is cut at its last group start and the
    tail is carried into the next one.  Yields ``(frame, starts)`` with
    ``starts`` marking the first row of each group."""
    buf: pd.DataFrame | None = None
    for pdf in batches:
        if buf is not None:
            pdf = pd.concat([buf, pdf], ignore_index=True)
            buf = None
        if not len(pdf):
            continue
        starts = _group_starts(pdf, keys)
        last = int(np.flatnonzero(starts)[-1])
        buf = pdf.iloc[last:].reset_index(drop=True)
        if last:
            yield pdf.iloc[:last], starts[:last]
    if buf is not None:
        yield buf, _group_starts(buf, keys)


def run_graph_kernel(df: DataFrame,
                     fn: Callable[[tuple, list[tuple]], Iterable[tuple]],
                     schema: str,
                     keys: Sequence[str] = ("graph_id",)) -> DataFrame:
    """Apply ``fn(key, rows)`` once per distinct ``keys`` value of ``df``.

    ``key`` is the tuple of key values; ``rows`` is the group's rows as
    tuples of ``df``'s remaining columns, in column order.  ``fn`` returns
    (or yields) output tuples in ``schema`` order.  Row order inside a
    group is unspecified.  The result has one partition per default-
    parallelism slot; each group's rows must fit one Python worker."""
    keys = list(keys)
    vals = [c for c in df.columns if c not in keys]
    out_cols = StructType.fromDDL(schema).fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf, starts in complete_groups(batches, keys):
            bounds = np.append(np.flatnonzero(starts), len(pdf)).tolist()
            gkeys = list(zip(*(pdf[k].to_numpy()[bounds[:-1]].tolist()
                               for k in keys)))
            rows = list(zip(*(pdf[c].tolist() for c in vals)))
            out: list[tuple] = []
            for key, lo, hi in zip(gkeys, bounds, bounds[1:]):
                out.extend(fn(key, rows[lo:hi]))
            if out:
                yield pd.DataFrame.from_records(out, columns=out_cols)

    n = df.sparkSession.sparkContext.defaultParallelism
    return (df.repartition(n, *keys).sortWithinPartitions(*keys)
            .mapInPandas(run, schema))
