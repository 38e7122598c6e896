"""Gorilla-compressed block storage for the 1m tier (SURVEY.md F7,
FIXTURES.md F-5).

At 10^12 sequences the raw 1-minute tier is the volume problem: one
row per token. These operators store it as one compressed block per
(series, UTC day) — ~14 bits/point on token walks vs 96+ raw — via a
single narrow ``mapInArrow`` pass (no shuffle: each input row carries
its whole series). Decompression is the exact inverse; round-trip
token-array equality is the per-row invariant (BASELINE.json
input_hint) and is enforced in tests.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import gorilla
from .rollup import DAY_POINTS, EPOCH_SECONDS, rows_matrix, series_columns

BLOCKS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("source", T.StringType(), False),
    T.StructField("tier", T.StringType(), False),
    T.StructField("bucket_day", T.DateType(), False),
    T.StructField("t0", T.LongType(), False),
    T.StructField("v0", T.LongType(), False),
    T.StructField("n", T.IntegerType(), False),
    T.StructField("payload", T.BinaryType(), True),
])

_ARROW_BLOCKS = pa.schema([
    ("doc_id", pa.string()),
    ("source", pa.string()),
    ("tier", pa.string()),
    ("bucket_day", pa.date32()),
    ("t0", pa.int64()),
    ("v0", pa.int64()),
    ("n", pa.int32()),
    ("payload", pa.binary()),
])

TOKENS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])


def _const_str(value: str, n: int) -> pa.Array:
    """Constant string column of length n without building n Python
    objects (dictionary-encode then cast)."""
    return pa.DictionaryArray.from_arrays(
        pa.array(np.zeros(n, dtype=np.int32)),
        pa.array([value])).cast(pa.string())


def compress_tokens(tokens_df: DataFrame, tier: str = "1m") -> DataFrame:
    """tokens table -> Gorilla blocks, one per (doc_id, day). For the
    canonical 144-token (one day at 1-minute grain) series this is one
    block per series; longer series split on UTC-day boundaries."""

    def fn(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            c_doc, c_src, n_tok, flat, offsets = series_columns(rb)
            out_cols: dict[str, list] = {k: [] for k in
                                         ("take", "bucket_day", "t0", "v0", "n", "payload")}
            for nt in np.unique(n_tok):
                idx = np.nonzero(n_tok == nt)[0]
                vals = rows_matrix(flat, offsets, idx, int(nt))
                for s in range(0, int(nt), DAY_POINTS):
                    e = min(s + DAY_POINTS, int(nt))
                    ts = (EPOCH_SECONDS + (np.arange(s, e, dtype=np.int64) * 60))
                    ts2d = np.broadcast_to(ts, (len(idx), e - s))
                    t0a, v0a, na, payloads = gorilla.encode_batch_arrow(
                        ts2d, vals[:, s:e])
                    out_cols["take"].append(idx)
                    out_cols["bucket_day"].append(
                        np.full(len(idx), (EPOCH_SECONDS + s * 60) // 86400, dtype=np.int32))
                    out_cols["t0"].append(t0a)
                    out_cols["v0"].append(v0a)
                    out_cols["n"].append(na.astype(np.int32))
                    out_cols["payload"].append(payloads)
            if not out_cols["take"]:  # only empty series
                continue
            take = pa.array(np.concatenate(out_cols["take"]), type=pa.int64())
            pay = (out_cols["payload"][0] if len(out_cols["payload"]) == 1
                   else pa.concat_arrays(out_cols["payload"]))
            yield pa.RecordBatch.from_arrays([
                c_doc.take(take),
                c_src.take(take),
                _const_str("1m", len(take)),
                pa.array(np.concatenate(out_cols["bucket_day"]), type=pa.date32()),
                pa.array(np.concatenate(out_cols["t0"]), type=pa.int64()),
                pa.array(np.concatenate(out_cols["v0"]), type=pa.int64()),
                pa.array(np.concatenate(out_cols["n"]), type=pa.int32()),
                pay,
            ], schema=_ARROW_BLOCKS)

    return tokens_df.mapInArrow(fn, BLOCKS_SCHEMA)


#: union schema for the fused pass: kind='block' rows carry the Gorilla
#: block columns, kind='tier' rows the rollup columns; unused columns
#: are null. One scan + one Python pass instead of two.
FUSED_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("source", T.StringType(), False),
    # block columns
    T.StructField("bucket_day", T.DateType(), True),
    T.StructField("t0", T.LongType(), True),
    T.StructField("v0", T.LongType(), True),
    T.StructField("n", T.IntegerType(), True),
    T.StructField("payload", T.BinaryType(), True),
    # tier columns
    T.StructField("tier", T.StringType(), True),
    T.StructField("bucket", T.LongType(), True),
    T.StructField("cnt", T.LongType(), True),
    T.StructField("sum", T.LongType(), True),
    T.StructField("min", T.LongType(), True),
    T.StructField("max", T.LongType(), True),
    T.StructField("first", T.LongType(), True),
    T.StructField("last", T.LongType(), True),
    T.StructField("n_filled", T.LongType(), True),
])


def compress_and_cascade(tokens_df: DataFrame,
                         tiers: tuple[str, ...] = ("1h", "1d")) -> DataFrame:
    """The production pipeline's whole per-series compute in ONE narrow
    mapInArrow pass: Gorilla 1m blocks AND the coarse-tier rollups from
    a single scan + a single Arrow transfer (the two-pass version reads
    and ships every token twice). Output is a tagged union
    (``kind`` = 'block' | 'tier'); split it with two filters — at
    100 TB that halves the dominant cost (scan + JVM->Python transfer)
    of the production pipeline. Zero shuffles, like both parents."""
    import pyarrow as pa

    from .rollup import TIERS, _locf_2d, _tier_reduce

    fused_arrow = pa.schema([
        ("kind", pa.string()), ("doc_id", pa.string()),
        ("source", pa.string()),
        ("bucket_day", pa.date32()), ("t0", pa.int64()), ("v0", pa.int64()),
        ("n", pa.int32()), ("payload", pa.binary()),
        ("tier", pa.string()), ("bucket", pa.int64()), ("cnt", pa.int64()),
        ("sum", pa.int64()), ("min", pa.int64()), ("max", pa.int64()),
        ("first", pa.int64()), ("last", pa.int64()),
        ("n_filled", pa.int64()),
    ])

    def _nulls(pa_type, n):
        return pa.nulls(n, type=pa_type)

    def fn(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            c_doc, c_src, n_tok, flat, offsets = series_columns(rb)
            # an empty series (n_tok = 0) emits no rows
            for nt in np.unique(n_tok[n_tok > 0]):
                idx = np.nonzero(n_tok == nt)[0]
                vals = rows_matrix(flat, offsets, idx, int(nt))
                # --- blocks (same layout as compress_tokens) ---
                for s in range(0, int(nt), DAY_POINTS):
                    e = min(s + DAY_POINTS, int(nt))
                    ts = EPOCH_SECONDS + np.arange(s, e, dtype=np.int64) * 60
                    ts2d = np.broadcast_to(ts, (len(idx), e - s))
                    t0a, v0a, na, payloads = gorilla.encode_batch_arrow(
                        ts2d, vals[:, s:e])
                    take = pa.array(idx, type=pa.int64())
                    m = len(idx)
                    yield pa.RecordBatch.from_arrays([
                        _const_str("block", m), c_doc.take(take),
                        c_src.take(take),
                        pa.array(np.full(
                            m, (EPOCH_SECONDS + s * 60) // 86400,
                            dtype=np.int32), type=pa.date32()),
                        pa.array(t0a, type=pa.int64()),
                        pa.array(v0a, type=pa.int64()),
                        pa.array(na.astype(np.int32), type=pa.int32()),
                        payloads,
                        _nulls(pa.string(), m), _nulls(pa.int64(), m),
                        _nulls(pa.int64(), m), _nulls(pa.int64(), m),
                        _nulls(pa.int64(), m), _nulls(pa.int64(), m),
                        _nulls(pa.int64(), m), _nulls(pa.int64(), m),
                        _nulls(pa.int64(), m),
                    ], schema=fused_arrow)
                # --- tiers (same kernels as cascade_fast) ---
                filled, fmask = _locf_2d(vals)
                for tier in tiers:
                    mins = TIERS[tier]
                    rr, bb, cnt, sm, mn, mx, first, last, nfil = _tier_reduce(
                        filled, fmask, mins)
                    take = pa.array(idx[rr], type=pa.int64())
                    m = len(rr)
                    yield pa.RecordBatch.from_arrays([
                        _const_str("tier", m), c_doc.take(take),
                        c_src.take(take),
                        _nulls(pa.date32(), m), _nulls(pa.int64(), m),
                        _nulls(pa.int64(), m), _nulls(pa.int32(), m),
                        _nulls(pa.binary(), m),
                        _const_str(tier, m),
                        pa.array(EPOCH_SECONDS + bb.astype(np.int64, copy=False) * mins * 60),
                        pa.array(cnt), pa.array(sm), pa.array(mn),
                        pa.array(mx), pa.array(first), pa.array(last),
                        pa.array(nfil),
                    ], schema=fused_arrow)

    return tokens_df.mapInArrow(fn, FUSED_SCHEMA)


DECOMP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
    T.StructField("t0", T.LongType(), False),
])

_DECOMP_ARROW = pa.schema(list(TOKENS_ARROW) + [pa.field("t0", pa.int64())])


def decompress_tokens(blocks_df: DataFrame) -> DataFrame:
    """Gorilla blocks -> tokens rows, one per day-block, carrying the
    block start timestamp ``t0`` (sort by it to reassemble multi-day
    series). Only the columns the decoder reads cross to Python, and
    they are resolved by NAME (a partitioned read-back moves partition
    columns to the end). A null payload, or one whose length disagrees
    with the bits its ``n`` points consume, raises a ``ValueError``
    naming the block's ``doc_id``."""

    def fn(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            col = dict(zip(rb.schema.names, rb.columns))
            doc, payload = col["doc_id"], col["payload"]
            n = col["n"].to_numpy(zero_copy_only=False)
            _check_blocks(doc, col["t0"], payload.is_null().to_numpy(
                zero_copy_only=False), "has a null payload")
            _, vals, bits = gorilla.decode_batch_arrow(
                col["t0"].to_numpy(zero_copy_only=False),
                col["v0"].to_numpy(zero_copy_only=False), n, payload)
            lens = pc.binary_length(payload).to_numpy(zero_copy_only=False)
            _check_blocks(doc, col["t0"], (bits + 7) // 8 != lens,
                          "has a payload whose length disagrees with its n")
            offsets = np.zeros(len(n) + 1, dtype=np.int32)
            np.cumsum(n, out=offsets[1:])
            yield pa.RecordBatch.from_arrays([
                _as_array(doc),
                pa.ListArray.from_arrays(pa.array(offsets),
                                         pa.array(vals.astype(np.int32))),
                col["n"],
                _as_array(col["source"]),
                col["t0"],
            ], schema=_DECOMP_ARROW)

    return (blocks_df.select("doc_id", "source", "t0", "v0", "n", "payload")
            .mapInArrow(fn, DECOMP_SCHEMA))


def _check_blocks(doc: pa.Array, t0: pa.Array, bad: np.ndarray,
                  what: str) -> None:
    rows = np.nonzero(bad)[0]
    if len(rows):
        i = int(rows[0])
        raise ValueError(
            f"block doc_id={doc[i].as_py()!r} t0={t0[i].as_py()} {what} "
            f"({len(rows)} such blocks in this batch)")


def _as_array(col):
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_dictionary(col.type):
        col = col.dictionary_decode()
    return col.cast(pa.string())
