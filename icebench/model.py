"""DuckDB model of a workload's commit ledger, plus Spark's row hash.

Every timed op is checked against this model, never against the engine
itself. The model keeps one DuckDB table of every row ever committed,
with the ledger sequence that added it and the one that removed it, so
the live rows of any snapshot are ``added <= seq < removed``.

The check of a scan is ``(count, exact integer sums, fold)``, where the
fold is ``bit_xor(xxhash64(cols))`` as Spark computes it on the JVM. The
model recomputes Spark's ``XxHash64`` (seed 42) in NumPy for the column
types the benchmark tables use: int, long, double and timestamp.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Columns of every benchmark table, in table order. All are hashable by
# spark_xxhash64 below; string columns of the generator are dropped.
COLUMNS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_shipdate",
]
KEYS = ["l_orderkey", "l_linenumber"]
SUM_COLS = ["l_partkey", "l_suppkey"]
# Output of the filter-aggregate op: l_linenumber, count(*) n, sum(l_partkey) sp.
GROUP_HASH = ["l_linenumber", "n", "sp"]
GROUP_SUMS = ["n", "sp"]
# Analytics entries of the engine's entry module that read only these
# lineitem columns: name -> (hashed output columns, summed columns).
ENTRY_FOLDS = {
    "q6_revenue": (["revenue"], []),
    "sort_topk": (["l_orderkey", "l_linenumber", "l_extendedprice"], ["l_orderkey"]),
}

_U = np.uint64
P1 = _U(0x9E3779B185EBCA87)
P2 = _U(0xC2B2AE3D27D4EB4F)
P3 = _U(0x165667B19E3779F9)
P4 = _U(0x85EBCA77C2B2AE63)
P5 = _U(0x27D4EB2F165667C5)
SEED = 42
_NEVER = 2**31 - 1


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U(33))
    h = h * P2
    h = h ^ (h >> _U(29))
    h = h * P3
    return h ^ (h >> _U(32))


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + P5 + _U(8)
    h = h ^ (_rotl(v * P2, 31) * P1)
    return _fmix(_rotl(h, 27) * P1 + P4)


def _hash_int(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + P5 + _U(4)
    h = h ^ ((v & _U(0xFFFFFFFF)) * P1)
    return _fmix(_rotl(h, 23) * P2 + P3)


def _as_u64(col: np.ndarray) -> tuple[np.ndarray, bool]:
    """(bits as uint64, is_int32) for one column, as Spark hashes it."""
    if col.dtype.kind == "M":
        return col.astype("datetime64[us]").view(np.int64).view(np.uint64), False
    if col.dtype == np.int32:
        return col.astype(np.int64).view(np.uint64), True
    if col.dtype == np.float64:
        return col.view(np.uint64), False
    if col.dtype == np.int64:
        return col.view(np.uint64), False
    raise TypeError(f"no Spark hash for dtype {col.dtype}")


def spark_xxhash64(cols: list[np.ndarray]) -> np.ndarray:
    """Row-wise ``xxhash64(c1, c2, ...)`` as Spark computes it (int64)."""
    n = len(cols[0]) if cols else 0
    h = np.full(n, SEED, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in cols:
            bits, is_int = _as_u64(np.ascontiguousarray(c))
            h = _hash_int(bits, h) if is_int else _hash_long(bits, h)
    return h.view(np.int64)


def fold(hashes: np.ndarray):
    """Spark's ``bit_xor`` over row hashes (NULL on no rows)."""
    if len(hashes) == 0:
        return None
    return int(np.bitwise_xor.reduce(hashes))


def answer(cols: dict[str, np.ndarray], hash_cols: list[str], sum_cols: list[str]) -> list:
    """``[count, *sums, fold]`` — the shape the benchmark's drain returns."""
    n = len(cols[hash_cols[0]]) if hash_cols else 0
    sums = [int(cols[c].astype(np.int64).sum()) if n else None for c in sum_cols]
    return [n, *sums, fold(spark_xxhash64([cols[c] for c in hash_cols]))]


class LedgerModel:
    """Replays a commit ledger in DuckDB and answers each op's check.

    Commits (dicts, applied in order; the n-th commit is sequence n):
    ``{"kind": "create", "source": path or [paths]}``,
    ``{"kind": "add_files", "source": path}`` and
    ``{"kind": "delete", "where": sql}``.
    """

    def __init__(self, threads: int = 2):
        import duckdb

        self.con = duckdb.connect(config={"threads": threads})
        cols = ", ".join(f"{c} {t}" for c, t in _SQL_TYPES.items())
        self.con.execute(f"CREATE TABLE rows ({cols}, h BIGINT, added INTEGER, removed INTEGER)")
        self.seq = 0
        self.data_files = [0]  # live data files per sequence
        self.deleted_rows = [0]
        self.added_rows = [0]

    def _load(self, source) -> pa.Table:
        paths = [source] if isinstance(source, str) else source
        t = pa.concat_tables([pq.read_table(p, columns=COLUMNS) for p in paths])
        h = spark_xxhash64([t.column(c).to_numpy() for c in COLUMNS])
        return t.append_column("h", pa.array(h))

    def apply(self, commit: dict) -> int:
        self.seq += 1
        s = self.seq
        kind = commit["kind"]
        files, deleted, added = self.data_files[-1], 0, 0
        if kind in ("create", "add_files"):
            src = self._load(commit["source"])
            self.con.register("src", src)
            self.con.execute(f"INSERT INTO rows SELECT *, {s}, {_NEVER} FROM src")
            self.con.unregister("src")
            files += commit.get("range_files", 1)
            added = src.num_rows
        elif kind == "delete":
            deleted = self.con.execute(
                f"UPDATE rows SET removed = {s} WHERE {self._live(s - 1)} AND ({commit['where']})"
            ).fetchone()[0]
        else:
            raise ValueError(f"unknown commit kind {kind!r}")
        self.data_files.append(files)
        self.deleted_rows.append(self.deleted_rows[-1] + deleted)
        self.added_rows.append(self.added_rows[-1] + added)
        return s

    @staticmethod
    def _live(seq: int) -> str:
        return f"(added <= {seq} AND removed > {seq})"

    def live_sql(self, seq: int, where: str | None = None) -> str:
        cond = self._live(seq) + (f" AND ({where})" if where else "")
        return f"SELECT {', '.join(COLUMNS)}, h FROM rows WHERE {cond}"

    def scan(self, seq: int, where: str | None = None) -> list:
        """Answer of a full drain of the live rows (optionally filtered)."""
        t = self.con.execute(self.live_sql(seq, where)).arrow()
        n = t.num_rows
        sums = [int(t.column(c).to_numpy().sum()) if n else None for c in SUM_COLS]
        return [n, *sums, fold(t.column("h").to_numpy())]

    def group(self, seq: int, sql: str, hash_cols: list[str], sum_cols: list[str]) -> list:
        """Answer of a drain over ``sql``, where ``live`` names the rows."""
        rel = self.con.execute(f"WITH live AS ({self.live_sql(seq)}) {sql}").fetchnumpy()
        cols = {k: np.asarray(v) for k, v in rel.items()}
        for c, want in _GROUP_DTYPES.items():
            if c in cols:
                cols[c] = cols[c].astype(want)
        return answer(cols, hash_cols, sum_cols)

    def entries(self, path: str) -> dict:
        """Answers of the ``ENTRY_FOLDS`` entries over a lineitem parquet
        file, computed from their SQL definitions."""
        # q6: revenue in exact cents, each product rounded half up
        cents = self.con.execute(
            "SELECT sum((round(l_extendedprice * 100)::BIGINT * round(l_discount * 100)::BIGINT + 50) // 100) "
            f"FROM '{path}' WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' "
            "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
        ).fetchone()[0]
        top = self.con.execute(
            f"SELECT l_orderkey, l_linenumber, l_extendedprice FROM '{path}' "
            "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100"
        ).fetchnumpy()
        # prices carry two decimals, so the entry's round(price, 2) is exact
        cols = {"revenue": np.array([int(cents) / 100.0])}
        cols.update({c: np.asarray(v) for c, v in top.items()})
        cols["l_linenumber"] = cols["l_linenumber"].astype(np.int32)
        return {name: answer(cols, *folds) for name, folds in ENTRY_FOLDS.items()}

    def live_parquet_bytes(self, seq: int, path: str) -> int:
        """Snappy-parquet bytes of the live rows (the user's bytes)."""
        order = ", ".join(KEYS)
        self.con.execute(
            f"COPY (SELECT {', '.join(COLUMNS)} FROM ({self.live_sql(seq)}) ORDER BY {order}) "
            f"TO '{path}' (FORMAT PARQUET, COMPRESSION SNAPPY)"
        )
        try:
            return os.path.getsize(path)
        finally:
            os.remove(path)


_SQL_TYPES = {
    "l_orderkey": "BIGINT",
    "l_partkey": "BIGINT",
    "l_suppkey": "BIGINT",
    "l_linenumber": "INTEGER",
    "l_quantity": "DOUBLE",
    "l_extendedprice": "DOUBLE",
    "l_discount": "DOUBLE",
    "l_tax": "DOUBLE",
    "l_shipdate": "TIMESTAMP",
}
# Spark types of aggregate outputs: count and sum(long) are long.
_GROUP_DTYPES = {"l_linenumber": np.int32, "n": np.int64, "sp": np.int64}
