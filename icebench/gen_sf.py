"""Frozen copy of the lineitem generator of ``tools/gen_sf.py``.

The benchmark generates its inputs from this copy so that they do not
move when the tool changes. Only what the benchmark uses is copied: the
chunked parquet writer and ``gen_lineitem``, with the tool's value
distributions (TPC-H-like, profiled from the sf0.1 test data).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000

EPOCH_1995 = np.datetime64("1995-01-01").astype("datetime64[us]").astype(np.int64)


def _ts_col(micros: np.ndarray) -> pa.Array:
    return pa.array(micros, type=pa.timestamp("us"))


def write_chunked(path: str, schema: pa.Schema, batches) -> int:
    n = 0
    with pq.ParquetWriter(path, schema) as w:
        for b in batches:
            w.write_table(pa.Table.from_arrays(b, schema=schema))
            n += len(b[0])
    return n


def gen_lineitem(
    out: str, rng: np.random.Generator, n_orders: int, n_part: int, n_supp: int
) -> int:
    schema = pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    )
    flags = np.array(["A", "N", "R"])
    stats = np.array(["F", "O"])

    def batches():
        chunk_orders = 150_000  # ~600k lineitems per chunk
        for lo in range(0, n_orders, chunk_orders):
            hi = min(lo + chunk_orders, n_orders)
            nlines = rng.integers(1, 8, hi - lo)  # avg 4 per order
            okey = np.repeat(np.arange(lo, hi, dtype=np.int64), nlines)
            m = len(okey)
            linenumber = (
                np.arange(m, dtype=np.int64)
                - np.repeat(np.cumsum(nlines) - nlines, nlines)
                + 1
            ).astype(np.int32)
            days = rng.integers(0, 2500, m)  # 1995-01-01 .. ~2001-11
            yield [
                pa.array(okey),
                pa.array(rng.integers(0, n_part, m).astype(np.int64)),
                pa.array(rng.integers(0, n_supp, m).astype(np.int64)),
                pa.array(linenumber),
                pa.array(rng.integers(1, 51, m).astype(np.float64)),
                pa.array(np.round(rng.uniform(900, 105000, m), 2)),
                pa.array(np.round(rng.integers(0, 11, m) * 0.01, 2)),
                pa.array(np.round(rng.integers(0, 9, m) * 0.01, 2)),
                pa.array(flags[rng.integers(0, 3, m)]),
                pa.array(stats[rng.integers(0, 2, m)]),
                _ts_col(EPOCH_1995 + days * DAY_US),
            ]

    return write_chunked(f"{out}/lineitem.parquet", schema, batches())
