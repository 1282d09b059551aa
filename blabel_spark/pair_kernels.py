"""Spark kernels for the int64-pair digest representation.

Every 16-byte md5 digest travels through the distributed engine as two
sign-flipped int64 columns (see hashing.py pairs section).  Consequences:

* static term hashes are pure JVM expressions (md5 → conv(…,16,-10) →
  xor sign bit) — no Python at all;
* signed (h0, h1) ordering == the algorithm's hex ordering, so plain
  sort/sortWithinPartitions/array_sort give the fold order;
* shuffles move primitive longs (UnsafeRow-inline, no object churn, no GC
  amplification — the binary representation measurably ANTI-scaled on
  32 cores because of per-row byte[]/bytes allocation on both sides);
* the neighbourhood fold (A1) is a repartition+sortWithinPartitions and
  ONE mapInPandas pass: numpy segmented fold over contiguous key runs,
  with carry of the trailing incomplete key across Arrow batches
  (``kernel_runner.complete_groups``, shared with the per-graph kernels).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from blabel_spark.hashing import (
    MIN_LONG,
    lanes_to_pairs,
    pairs_to_lanes,
    segmented_fold_ordered,
)
from blabel_spark.kernel_runner import complete_groups

PAIR = StructType([StructField("h0", LongType()), StructField("h1", LongType())])


# ---------------------------------------------------------------------------
# JVM-side static hashing / rendering
# ---------------------------------------------------------------------------

def md5_pair(col: Column) -> tuple[Column, Column]:
    """md5(term) as stored (h0, h1) — whole-stage-codegen only."""
    h = F.md5(F.encode(col, "UTF-8"))
    raw0 = F.conv(F.substring(h, 1, 16), 16, -10).cast("long")
    raw1 = F.conv(F.substring(h, 17, 16), 16, -10).cast("long")
    return (raw0.bitwiseXOR(F.lit(MIN_LONG)),
            raw1.bitwiseXOR(F.lit(MIN_LONG)))


def pair_hex(h0: Column, h1: Column) -> Column:
    """Stored pair → the digest's 32-char lowercase hex (label rendering)."""
    def hx(c: Column) -> Column:
        return F.lower(F.lpad(F.hex(c.bitwiseXOR(F.lit(MIN_LONG))), 16, "0"))
    return F.concat(hx(h0), hx(h1))


def lanes_from_pair_sql(h0: Column, h1: Column) -> list[Column]:
    """16 byte lanes of a stored pair as JVM int columns (used only on
    tiny tables; bulk lane extraction goes through numpy)."""
    out = []
    for c in (h0, h1):
        raw = c.bitwiseXOR(F.lit(MIN_LONG))
        for i in range(8):
            out.append(F.shiftrightunsigned(raw, (7 - i) * 8)
                       .bitwiseAND(F.lit(255)).cast("int"))
    return out


def pair_from_lanes_sql(lanes: list[Column]) -> tuple[Column, Column]:
    """16 int lane columns (0..255) → stored pair (tiny tables only)."""
    hx = F.concat(*[F.lpad(F.hex(c), 2, "0") for c in lanes])
    raw0 = F.conv(F.substring(hx, 1, 16), 16, -10).cast("long")
    raw1 = F.conv(F.substring(hx, 17, 16), 16, -10).cast("long")
    return (raw0.bitwiseXOR(F.lit(MIN_LONG)),
            raw1.bitwiseXOR(F.lit(MIN_LONG)))


# ---------------------------------------------------------------------------
# whole-stage-codegen combineOrdered: the same per-byte-lane arithmetic as
# the Arrow kernels below, but as shift/mask long expressions the JVM
# executes inline — no Python worker roundtrip, no Arrow serialization.
# Used wherever a combine is applied row-wise outside the sorted fold
# (per-triple hashes, message construction, final label folds); the
# segmented variable-length fold itself stays numpy (_fold_partition).
# ---------------------------------------------------------------------------

def _sql_lanes(h0: Column, h1: Column) -> list[Column]:
    out = []
    for c in (h0, h1):
        raw = c.bitwiseXOR(F.lit(MIN_LONG))
        for i in range(8):
            out.append(F.shiftrightunsigned(raw, (7 - i) * 8)
                       .bitwiseAND(F.lit(255)))
    return out


def _sql_pair(lanes: list[Column]) -> tuple[Column, Column]:
    def asm(ls):
        r = None
        for i, c in enumerate(ls):
            t = F.shiftleft(c, (7 - i) * 8)
            r = t if r is None else r.bitwiseOR(t)
        return r.bitwiseXOR(F.lit(MIN_LONG))
    return asm(lanes[:8]), asm(lanes[8:])


def combine2_pairs_sql(a0, a1, b0, b1) -> tuple[Column, Column]:
    """combineOrdered(a, b): per lane (a*37 ^ b) mod 256 — pure codegen."""
    M, T = F.lit(255), F.lit(37)
    la = _sql_lanes(_c(a0), _c(a1))
    lb = _sql_lanes(_c(b0), _c(b1))
    r = [(x * T).bitwiseAND(M).bitwiseXOR(y) for x, y in zip(la, lb)]
    return _sql_pair(r)


def combine3_pairs_sql(a0, a1, b0, b1, c0, c1) -> tuple[Column, Column]:
    """combineOrdered(a, b, c): ((a*37 ^ b)*37 ^ c) per lane mod 256."""
    M, T = F.lit(255), F.lit(37)
    la = _sql_lanes(_c(a0), _c(a1))
    lb = _sql_lanes(_c(b0), _c(b1))
    lc = _sql_lanes(_c(c0), _c(c1))
    r = [((x * T).bitwiseAND(M).bitwiseXOR(y) * T).bitwiseAND(M)
         .bitwiseXOR(z) for x, y, z in zip(la, lb, lc)]
    return _sql_pair(r)


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else \
        (F.lit(x) if isinstance(x, int) else x)


# ---------------------------------------------------------------------------
# Arrow-batched scalar kernels
# ---------------------------------------------------------------------------

def _np(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64)


@F.pandas_udf(PAIR)
def combine3_pairs_udf(a0: pd.Series, a1: pd.Series, b0: pd.Series,
                       b1: pd.Series, c0: pd.Series,
                       c1: pd.Series) -> pd.DataFrame:
    """combineOrdered(a, b, c) over stored pairs → stored pair."""
    t37 = np.uint8(37)
    la = pairs_to_lanes(_np(a0), _np(a1))
    lb = pairs_to_lanes(_np(b0), _np(b1))
    lc = pairs_to_lanes(_np(c0), _np(c1))
    r = (((la * t37) ^ lb) * t37) ^ lc
    h0, h1 = lanes_to_pairs(r)
    return pd.DataFrame({"h0": h0, "h1": h1})


@F.pandas_udf(PAIR)
def combine2_pairs_udf(a0: pd.Series, a1: pd.Series, b0: pd.Series,
                       b1: pd.Series) -> pd.DataFrame:
    t37 = np.uint8(37)
    la = pairs_to_lanes(_np(a0), _np(a1))
    lb = pairs_to_lanes(_np(b0), _np(b1))
    r = (la * t37) ^ lb
    h0, h1 = lanes_to_pairs(r)
    return pd.DataFrame({"h0": h0, "h1": h1})


def hash_int_pair_sql(col: Column) -> tuple[Column, Column]:
    """Guava ``hashInt`` for the md5 family as pure codegen: md5 over the
    int's 4 little-endian bytes (hashing.hash_int twin — parity-tested).
    Keeps the duplicate-mux digest out of the Python worker entirely."""
    i = col.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    le = F.concat(*[
        F.lpad(F.hex(F.shiftrightunsigned(i, 8 * k).bitwiseAND(F.lit(255))),
               2, "0")
        for k in range(4)])
    h = F.md5(F.unhex(le))
    raw0 = F.conv(F.substring(h, 1, 16), 16, -10).cast("long")
    raw1 = F.conv(F.substring(h, 17, 16), 16, -10).cast("long")
    return (raw0.bitwiseXOR(F.lit(MIN_LONG)),
            raw1.bitwiseXOR(F.lit(MIN_LONG)))


def hash_int_pair_udf_for(hash_name: str):
    """Guava hashInt as a stored pair, for any 16-byte hash family.

    Inputs are duplicate-mux ranks (0, 2, 3, …) — a handful of distinct
    values across millions of rows — so the digest is computed once per
    DISTINCT value and broadcast back by pandas map."""
    @F.pandas_udf(PAIR)
    def f(i: pd.Series) -> pd.DataFrame:
        from blabel_spark.hashing import enc_pair, get_hash_family
        hf = get_hash_family(hash_name)
        memo = {int(v): enc_pair(hf.hash_int(int(v)))
                for v in i.unique()}
        h0 = i.map(lambda v: memo[int(v)][0])
        h1 = i.map(lambda v: memo[int(v)][1])
        return pd.DataFrame({"h0": h0, "h1": h1})
    return f


hash_int_pair_udf = hash_int_pair_udf_for("md5")


def _try_register_jvm_murmur() -> bool:
    """Register the shaded-Guava murmur3_128 Java UDF (blabel_spark/jvm/)
    on the active session.  Returns False when no session is active or
    the companion jar is not on the classpath — callers fall back to the
    Arrow UDF.  Registration is idempotent (re-register overwrites)."""
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    try:
        from pyspark.sql.types import StringType
        spark.udf.registerJavaFunction("blabel_murmur128",
                                       "BlabelMurmur128", StringType())
        return True
    except Exception:
        return False


def murmur128_jvm_pair(col: Column) -> tuple[Column, Column]:
    """murmur3_128(term) through the registered shaded-Guava Java UDF
    (call ``_try_register_jvm_murmur()`` first).  Row-at-a-time on the
    JVM — parity-tested, shipped as an alternative for Python-less
    clusters, but NOT the engine default: on a 9.3×-vocabulary sf0.1
    corpus (1.86M distinct terms) it measured 1.23× md5 wall while the
    batch-memoized Arrow path below measured 1.01× md5 — per-row JVM UDF
    boxing costs more than hashing each distinct term once per Arrow
    batch in Python (tools/bench_murmur.py, 2026-08-17)."""
    h = F.call_udf("blabel_murmur128", col)
    raw0 = F.conv(F.substring(h, 1, 16), 16, -10).cast("long")
    raw1 = F.conv(F.substring(h, 17, 16), 16, -10).cast("long")
    return (raw0.bitwiseXOR(F.lit(MIN_LONG)),
            raw1.bitwiseXOR(F.lit(MIN_LONG)))


def term_pair_exprs(hash_name: str):
    """Column expression factory: term string → stored (h0, h1) pair.

    md5 stays the pure-codegen JVM fast path.  Other 16-byte families
    (murmur3_128) hash in a batch-memoized Arrow UDF — each DISTINCT
    term once per batch.  Measured at parity with codegen md5 even at
    9.3× the corpus vocabulary (see murmur128_jvm_pair's docstring for
    the JVM-UDF alternative and why it is not the default)."""
    if hash_name == "md5":
        return md5_pair

    @F.pandas_udf(PAIR)
    def f(s: pd.Series) -> pd.DataFrame:
        from blabel_spark.hashing import enc_pair, get_hash_family
        hf = get_hash_family(hash_name)
        # RDF terms repeat heavily (predicates above all): hash each
        # DISTINCT term once per Arrow batch and broadcast back
        memo = {x: enc_pair(hf.hash_string(x)) for x in s.unique()}
        return pd.DataFrame({"h0": s.map(lambda x: memo[x][0]),
                             "h1": s.map(lambda x: memo[x][1])})

    def pair(col: Column) -> tuple[Column, Column]:
        p = f(col)
        return p.getField("h0"), p.getField("h1")
    return pair


PAIR_PREV = StructType(PAIR.fields + [StructField("oh0", LongType()),
                                      StructField("oh1", LongType())])


@F.pandas_udf(PAIR_PREV)
def fold_pair_array_udf(lists: pd.Series) -> pd.DataFrame:
    """combineOrdered-fold a pre-sorted array<struct<h0,h1,is_prev>>
    column — the salted aggregation path (array elements arrive as
    dicts).  Also passes through the tagged previous colour (oh) for the
    driver's refinement audit."""
    out0, out1, po0, po1 = [], [], [], []
    for lst in lists:
        h0 = np.fromiter((e["h0"] for e in lst), np.int64, len(lst))
        h1 = np.fromiter((e["h1"] for e in lst), np.int64, len(lst))
        lanes = pairs_to_lanes(h0, h1)
        seg = np.zeros(len(lst), bool)
        seg[0] = True
        r = segmented_fold_ordered(seg, lanes)
        p0, p1 = lanes_to_pairs(r)
        out0.append(int(p0[0]))
        out1.append(int(p1[0]))
        prev = next(e for e in lst if e["is_prev"])
        po0.append(int(prev["h0"]))
        po1.append(int(prev["h1"]))
    return pd.DataFrame({"h0": out0, "h1": out1, "oh0": po0, "oh1": po1})


# ---------------------------------------------------------------------------
# A1: repartition + sortWithinPartitions + segmented numpy fold
# ---------------------------------------------------------------------------

_KEY = ["ck0", "ck1", "bk0", "bk1"]
_FOLD_SCHEMA = ("ck0 long, ck1 long, bk0 long, bk1 long, "
                "h0 long, h1 long, oh0 long, oh1 long")


def _fold_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf, seg_start in complete_groups(batches, _KEY):
        m0, m1 = _np(pdf["m0"]), _np(pdf["m1"])
        lanes = pairs_to_lanes(m0, m1)
        folded = segmented_fold_ordered(seg_start, lanes)
        h0, h1 = lanes_to_pairs(folded)
        starts = np.flatnonzero(seg_start)
        out = {k: pdf[k].to_numpy()[starts] for k in _KEY}
        out["h0"] = h0
        out["h1"] = h1
        # previous colour passthrough (exactly one tagged row per segment):
        # lets the driver verify each round REFINES the partition without
        # re-joining the previous state
        seg_id = np.cumsum(seg_start) - 1
        prev = pdf["is_prev"].to_numpy(dtype=bool)
        oh0 = np.zeros(len(starts), dtype=np.int64)
        oh1 = np.zeros(len(starts), dtype=np.int64)
        oh0[seg_id[prev]] = m0[prev]
        oh1[seg_id[prev]] = m1[prev]
        out["oh0"] = oh0
        out["oh1"] = oh1
        yield pd.DataFrame(out)


def fold_messages(msgs: DataFrame, num_partitions: int | None = None
                  ) -> DataFrame:
    """(graph_id, comp, bnode, m0, m1) message rows → folded colour per
    bnode.  The previous colour must already be unioned in as message rows
    (it sorts into place — GraphColouring.java:542-548 appends it to the
    list before sorting).

    A hub bnode's messages land contiguously in one partition and fold in
    one numpy pass — cross-key parallelism is unaffected; per-key memory
    equals the key's message count (same bound as the reference's
    per-node ArrayList)."""
    parts = num_partitions or msgs.sparkSession.conf.get(
        "spark.sql.shuffle.partitions")
    arranged = (msgs.repartition(int(parts), *_KEY)
                .sortWithinPartitions(*_KEY, "m0", "m1"))
    return arranged.mapInPandas(_fold_partition, _FOLD_SCHEMA)


# ---------------------------------------------------------------------------
# combineUnordered aggregation: numpy partial lane sums + JVM merge
# ---------------------------------------------------------------------------

def unordered_sum_pairs_sql(df: DataFrame, keys: list[str], h0: str, h1: str,
                            out0: str, out1: str,
                            extra_init: tuple[int, int] | None = None,
                            count_col: str | None = None) -> DataFrame:
    """groupBy(keys) combineUnordered over stored pairs — pure JVM.

    Byte lanes come out of the stored longs as shift/mask codegen
    expressions and aggregate as 16 ``sum`` buffers (128 B per group,
    map-side partial combine for free) — one hash aggregate, no Python
    worker, no Arrow.  Semantically identical to ``unordered_sum_pairs``
    (per-lane sums mod 256, optional seed / group count)."""
    lanes = _sql_lanes(_c(h0), _c(h1))
    aggs = [F.sum(c) for c in lanes]
    if extra_init is not None:
        from blabel_spark.hashing import pairs_to_lanes as p2l
        init = p2l(np.array([extra_init[0]], dtype=np.int64),
                   np.array([extra_init[1]], dtype=np.int64))[0]
        aggs = [a + int(init[i]) for i, a in enumerate(aggs)]
    aggs = [(a % 256).alias(f"_s{i}") for i, a in enumerate(aggs)]
    if count_col:
        aggs.append(F.count("*").alias(count_col))
    merged = df.groupBy(*keys).agg(*aggs)
    p0, p1 = _sql_pair([F.col(f"_s{i}") for i in range(16)])
    extra = [count_col] if count_col else []
    return merged.select(*keys, p0.alias(out0), p1.alias(out1), *extra)

def unordered_sum_pairs(df: DataFrame, keys: list[str], h0: str, h1: str,
                        out0: str, out1: str,
                        extra_init: tuple[int, int] | None = None,
                        count_col: str | None = None) -> DataFrame:
    """groupBy(keys) combineUnordered over stored pairs.

    Stage 1 (mapInPandas): per Arrow batch, pandas-groupby partial sums of
    the 16 byte lanes — map-side combine without JVM objects.
    Stage 2 (JVM): sum the partial lanes, mod 256, reassemble the pair.
    ``extra_init`` seeds every group (the reference's blank-hash seed,
    HashGraph.java:166).  ``count_col`` additionally emits the group's row
    count, riding the same two passes (saves consumers a separate
    aggregation over the full input)."""
    lane_cols = [f"_l{i}" for i in range(16)]
    ktypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join(f"{k} {ktypes[k]}" for k in keys) + ", " + \
        ", ".join(f"{c} long" for c in lane_cols)
    if count_col:
        schema += ", _cnt long"

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            lanes = pairs_to_lanes(_np(pdf[h0]), _np(pdf[h1]))
            d = pd.DataFrame(lanes.astype(np.int64), columns=lane_cols)
            if count_col:
                d["_cnt"] = np.int64(1)
            for k in keys:
                d[k] = pdf[k].to_numpy()
            yield d.groupby(keys, as_index=False, sort=False).sum()

    part = df.select(*keys, h0, h1).mapInPandas(partial, schema)
    aggs = [F.sum(c) for c in lane_cols]
    if extra_init is not None:
        from blabel_spark.hashing import pairs_to_lanes as p2l
        init = p2l(np.array([extra_init[0]], dtype=np.int64),
                   np.array([extra_init[1]], dtype=np.int64))[0]
        aggs = [a + int(init[i]) for i, a in enumerate(aggs)]
    aggs = [(a % 256).cast("int").alias(f"_s{i}") for i, a in enumerate(aggs)]
    if count_col:
        aggs.append(F.sum("_cnt").alias(count_col))
    merged = part.groupBy(*keys).agg(*aggs)
    p0, p1 = pair_from_lanes_sql([F.col(f"_s{i}") for i in range(16)])
    extra = [count_col] if count_col else []
    return merged.select(*keys, p0.alias(out0), p1.alias(out1), *extra)
