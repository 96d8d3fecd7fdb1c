"""Seeded inputs, commit ledgers and model answers of each workload.

Runs in the parent process before the worker starts, so input
generation and the DuckDB model stay out of ``setup_s`` and out of the
driver's memory. Everything here is a function of ``--seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen_sf
from model import COLUMNS, GROUP_HASH, GROUP_SUMS, LedgerModel, fold, spark_xxhash64

# Sizes, stated against the engine's caches: 64 manifest walks in
# plans.manifests._SCAN_CACHE and 128 relations in
# sources.iceberg._READ_CACHE.
MOR_SLICES = 4            # data files of the mor_scan table, disjoint key ranges
MOR_ROWS = 60_000
MOR_DELETES = 3           # position-delete snapshots on top
TT_COMMITS = 96           # > 64 scan-cache walks
# Interleaved MoR deletes, at fixed places in the history: every walk
# pair (s, 97 - s) then holds exactly one history with deletes, so the
# cost of a round does not depend on which pairs a seed visits.
TT_DELETE_AT = (49, 50)
# Walk order over snapshots 1..48: a fixed stride (coprime to 48), so
# every run's rounds read the same history lengths; seeds vary the data.
TT_STRIDE = 29
TT_SLICE_ROWS = 300

GROUP_SQL = (
    "SELECT l_linenumber, count(*) AS n, sum(l_partkey) AS sp FROM live "
    "WHERE l_suppkey < {cut} GROUP BY l_linenumber"
)


def _field_id_schema() -> pa.Schema:
    """Table column order with the field ids the writer assigns (1..n)."""
    fields = []
    for i, name in enumerate(COLUMNS, start=1):
        fields.append(pa.field(name, _ARROW_TYPES[name], metadata={b"PARQUET:field_id": str(i).encode()}))
    return pa.schema(fields)


_ARROW_TYPES = {
    "l_orderkey": pa.int64(),
    "l_partkey": pa.int64(),
    "l_suppkey": pa.int64(),
    "l_linenumber": pa.int32(),
    "l_quantity": pa.float64(),
    "l_extendedprice": pa.float64(),
    "l_discount": pa.float64(),
    "l_tax": pa.float64(),
    "l_shipdate": pa.timestamp("us"),
}


def _lineitem(out: str, rng: np.random.Generator, rows: int) -> pa.Table:
    """At least ``rows`` generated lineitem rows, ordered by key."""
    n_orders = rows // 3 + 64
    gen_sf.gen_lineitem(out, rng, n_orders, 20_000, 1_000)
    path = os.path.join(out, "lineitem.parquet")
    t = pq.read_table(path, columns=COLUMNS)
    os.remove(path)
    if t.num_rows < rows:
        raise RuntimeError(f"generator gave {t.num_rows} rows, need {rows}")
    return t.cast(_field_id_schema())


def _write(t: pa.Table, path: str) -> str:
    pq.write_table(t, path, compression="snappy")
    return path


def plan_mor_scan(d: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    t = _lineitem(d, rng, MOR_ROWS).slice(0, MOR_ROWS)
    bounds = np.linspace(0, MOR_ROWS, MOR_SLICES + 1).astype(int)
    slices = [
        _write(t.slice(bounds[i], bounds[i + 1] - bounds[i]), os.path.join(d, f"slice{i}.parquet"))
        for i in range(MOR_SLICES)
    ]
    # one create, range-partitioned on the key: one data file per key range
    commits = [{"kind": "create", "source": slices, "range_files": MOR_SLICES}]
    for r in rng.choice(16, MOR_DELETES, replace=False):
        commits.append({"kind": "delete", "where": f"l_orderkey % 16 = {int(r)}"})
    m = _replay(commits)
    last = m.seq
    # the entries read the created rows as a plain lineitem.parquet
    sf_dir = os.path.join(d, "sf")
    os.makedirs(sf_dir)
    lineitem = _write(t, os.path.join(sf_dir, "lineitem.parquet"))
    # fixed selectivities: half of the first file, half of the suppliers
    cut = int(t.column("l_orderkey").to_numpy()[bounds[1] // 2])
    prune = f"l_orderkey < {cut}"
    supp = 500
    return {
        "commits": commits,
        "live_bytes": m.live_parquet_bytes(last, os.path.join(d, "live.parquet")),
        "prune_where": prune,
        "group_where": f"l_suppkey < {supp}",
        "sf_dir": sf_dir,
        "answers": {
            "full": m.scan(last),
            "pruned": m.scan(last, prune),
            "group": m.group(last, GROUP_SQL.format(cut=supp), GROUP_HASH, GROUP_SUMS),
            **m.entries(lineitem),
        },
    }


def plan_time_travel_meta(d: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    n_adds = TT_COMMITS - len(TT_DELETE_AT)
    t = _lineitem(d, rng, n_adds * TT_SLICE_ROWS)
    # distinct residues: a repeated one would delete nothing
    residues = iter(rng.choice(13, len(TT_DELETE_AT), replace=False))
    commits, k = [], 0
    for seq in range(1, TT_COMMITS + 1):
        if seq in TT_DELETE_AT:
            commits.append({"kind": "delete", "where": f"l_orderkey % 13 = {int(next(residues))}"})
            continue
        src = _write(t.slice(k * TT_SLICE_ROWS, TT_SLICE_ROWS), os.path.join(d, f"slice{k:03d}.parquet"))
        commits.append({"kind": "create" if k == 0 else "add_files", "source": src})
        k += 1
    m = _replay(commits)
    seqs = list(range(1, m.seq + 1))
    n = len(seqs)
    seq_arr = np.array(seqs, dtype=np.int64)
    return {
        "commits": commits,
        "live_bytes": m.live_parquet_bytes(m.seq, os.path.join(d, "live.parquet")),
        # visiting order over the first half; each visit pairs s with 97 - s
        "order": [1 + (i * TT_STRIDE) % (n // 2) for i in range(n // 2)],
        "answers": {
            "scan": {str(s): m.scan(s) for s in seqs},
            "metadata": {str(s): [m.added_rows[s], m.deleted_rows[s] or None] for s in seqs},
            "list_files": {str(s): [m.data_files[s]] for s in seqs},
            "snapshots": [n, int(seq_arr.sum()), fold(spark_xxhash64([seq_arr]))],
        },
    }


def _replay(commits: list[dict]) -> LedgerModel:
    m = LedgerModel(threads=2)
    for c in commits:
        before = m.deleted_rows[-1]
        m.apply(c)
        if c["kind"] == "delete" and m.deleted_rows[-1] == before:
            # the writer skips a commit that deletes nothing
            raise RuntimeError(f"delete {c['where']!r} matches no live row")
    return m


PLANS = {
    "mor_scan": plan_mor_scan,
    "time_travel_meta": plan_time_travel_meta,
}
