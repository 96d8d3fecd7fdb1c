"""Engine side of the workloads: table builds and the ops of a round.

Each workload builds its table from the plan the parent wrote (the
commit ledger and the sources), then yields rounds: a fixed sequence of
``Op``s. An op's ``run`` is the timed user action and returns the
drained answer; ``expect`` is the model's answer, compared after the
timed interval.
"""

from __future__ import annotations

import contextlib
import json
import os
from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np

from model import COLUMNS, ENTRY_FOLDS, GROUP_HASH, GROUP_SUMS, SUM_COLS, fold, spark_xxhash64


def queries() -> dict:
    """The engine's analytics entries by name (its public entry module)."""
    import __spark_entry__

    return __spark_entry__.queries()


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    expect: Optional[list]  # None: checked by the read-back that follows
    scan: bool = False      # reads data files through the Spark path
    # turns the op's result into the checked answer, after the timing
    digest: Callable[[object], object] = lambda got: got


class Drainer:
    """The user's action on an op's DataFrame: the ``spark`` layer.

    ``fold`` runs one JVM-side aggregate that forces every listed column
    to be produced and returns a short list of Python ints; ``collect``
    returns the rows of a small listing. ``span`` wraps the action when
    the run is traced; ``last`` keeps the DataFrames for trace analysis.
    """

    def __init__(self):
        from pyspark.sql import functions as F

        self.F = F
        self.span: Callable = contextlib.nullcontext
        self.last = None

    def aggs(self, df, aggs: list) -> list:
        with self.span():
            agg = df.agg(*aggs)
            row = agg.collect()[0]
        self.last = (df, agg)
        return [None if v is None else int(v) for v in row]

    def collect(self, df) -> list:
        """All rows of a small result (metadata listings)."""
        with self.span():
            rows = df.collect()
        self.last = (df, df)
        return rows

    def fold(self, df, hash_cols: list[str], sum_cols: list[str]) -> list:
        F = self.F
        return self.aggs(
            df,
            [F.count(F.lit(1)), *[F.sum(c) for c in sum_cols], F.bit_xor(F.xxhash64(*hash_cols))],
        )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    """Shared build helpers; subclasses define ``prepare`` and ``round``."""

    # The first rounds after a build run slower (JIT): on mor_scan the
    # first round takes about 14 s, and after two warm-up rounds the
    # timed rounds still fell from 3.9 s to 2.9 s within one run. Three
    # warm-up rounds are what a run's time budget allows.
    warm_rounds = 3

    def __init__(self, spark, engine, plan: dict, run_dir: str, drain: Drainer):
        self.spark = spark
        self.E = engine
        self.plan = plan
        self.tables = os.path.join(run_dir, "tables")
        os.makedirs(self.tables, exist_ok=True)
        self.drain = drain
        self.path: Optional[str] = None

    def apply(self, table, commit: dict, path: str):
        """Apply one ledger commit through the engine's writer."""
        kind = commit["kind"]
        if kind == "create":
            src = commit["source"]
            with self.drain.span():  # a Spark read: the spark layer
                df = self.spark.read.parquet(*([src] if isinstance(src, str) else src))
            if "range_files" in commit:
                df = df.repartitionByRange(commit["range_files"], "l_orderkey")
            return self.E.IcebergTable.create(self.spark, path, df)
        if kind == "add_files":
            table.add_files([commit["source"]])
        elif kind == "delete":
            table.delete_where(commit["where"])
        else:
            raise ValueError(f"unknown commit kind {kind!r}")
        return table

    def build(self, path: str) -> None:
        table = None
        for c in self.plan["commits"]:
            table = self.apply(table, c, path)
        self.path = path

    def table_bytes(self) -> int:
        return dir_bytes(self.path)

    def user_bytes(self) -> float:
        """Stored bytes per snappy-parquet byte of the live rows."""
        return self.table_bytes() / self.plan["live_bytes"]


class MorScan(Workload):
    """Repeated reads of the latest snapshot of one merge-on-read table,
    and two headline analytics entries over the same rows as parquet."""

    def prepare(self) -> None:
        self.build(os.path.join(self.tables, "mor"))

    def round(self, r: int) -> list[Op]:
        E, s, p, d, F = self.E, self.spark, self.path, self.drain, self.drain.F
        a = self.plan["answers"]

        def group():
            df = (
                E.iceberg_scan(s, p)
                .where(self.plan["group_where"])
                .groupBy("l_linenumber")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("l_partkey").alias("sp"))
            )
            return d.fold(df, GROUP_HASH, GROUP_SUMS)

        return [
            Op("full_scan", lambda: d.fold(E.iceberg_scan(s, p), COLUMNS, SUM_COLS), a["full"], True),
            Op("filter_agg", group, a["group"], True),
            Op(
                "pruned_scan",
                lambda: d.fold(E.iceberg_scan(s, p, where=self.plan["prune_where"]), COLUMNS, SUM_COLS),
                a["pruned"],
                True,
            ),
            Op("arrow_scan", lambda: d.fold(E.iceberg_scan(s, p, io="arrow"), COLUMNS, SUM_COLS), a["full"]),
            *[
                # the entry is looked up per round, so a traced round
                # calls the wrapped function
                Op(name, lambda q=queries()[name], f=folds: d.fold(q(s, self.plan["sf_dir"]), *f), a[name])
                for name, folds in ENTRY_FOLDS.items()
            ],
        ]


class TimeTravelMeta(Workload):
    """Reads of many snapshots of a long history, in an LRU-defeating order."""

    def prepare(self) -> None:
        self.build(os.path.join(self.tables, "tt"))
        doc = _current_metadata(self.path)
        snaps = doc["snapshots"]
        if len(snaps) != len(self.plan["commits"]):
            raise RuntimeError(f"{len(snaps)} snapshots for {len(self.plan['commits'])} commits")
        # the n-th snapshot of the log is ledger sequence n
        self.sid = {n: s["snapshot-id"] for n, s in enumerate(snaps, start=1)}
        ts = [s["timestamp-ms"] for s in snaps]
        self.ts = {n: t for n, t in enumerate(ts, start=1) if ts.count(t) == 1}

    def table_bytes(self) -> int:
        # add_files registers the slices in place, outside the table tree
        imported = [c["source"] for c in self.plan["commits"] if c["kind"] == "add_files"]
        return dir_bytes(self.path) + sum(os.path.getsize(f) for f in imported)

    def round(self, r: int) -> list[Op]:
        """Four manifest walks and the snapshot listing.

        Walks visit snapshot ``s`` together with its mirror ``n + 1 - s``
        (a short and a long history), so every round reads about the same
        number of files. ``s`` follows the plan's fixed stride order over
        the first half, which revisits a snapshot only after every other
        one and so defeats the LRU scan cache. Listings are collected, as
        a user would."""
        E, s, p, d = self.E, self.spark, self.path, self.drain
        a = self.plan["answers"]
        order = self.plan["order"]
        n = len(self.sid)
        first, second = order[(2 * r) % len(order)], order[(2 * r + 1) % len(order)]
        at, by_ts = first, n + 1 - first
        if by_ts not in self.ts:  # a timestamp shared by two commits is ambiguous
            at, by_ts = by_ts, at
        if by_ts not in self.ts:
            by_ts = next(x for x in order if x in self.ts)
        meta_at, files_at = second, n + 1 - second

        def metadata(rows):
            data = [x.record_count for x in rows if x.content == "EXISTING"]
            deletes = [x.record_count for x in rows if x.content == "POSITION_DELETES"]
            return [sum(data), sum(deletes) if deletes else None]

        def snapshots(rows):
            seqs = [x.sequence_number for x in rows]
            return [len(seqs), sum(seqs), fold(spark_xxhash64([np.array(seqs, dtype=np.int64)]))]

        return [
            Op(
                "scan_snapshot",
                lambda: d.fold(E.iceberg_scan(s, p, snapshot_id=self.sid[at]), COLUMNS, SUM_COLS),
                a["scan"][str(at)],
                True,
            ),
            Op(
                "scan_timestamp",
                lambda: d.fold(E.iceberg_scan(s, p, timestamp=self.ts[by_ts]), COLUMNS, SUM_COLS),
                a["scan"][str(by_ts)],
                True,
            ),
            Op("snapshots", lambda: d.collect(E.iceberg_snapshots(s, p)), a["snapshots"], digest=snapshots),
            Op(
                "metadata",
                lambda: d.collect(E.iceberg_metadata(s, p, snapshot_id=self.sid[meta_at])),
                a["metadata"][str(meta_at)],
                digest=metadata,
            ),
            Op(
                "list_files",
                lambda: d.collect(E.iceberg_scan(s, p, snapshot_id=self.sid[files_at], mode="list_files")),
                a["list_files"][str(files_at)],
                digest=lambda rows: [sum(1 for x in rows if x.type == "data")],
            ),
        ]


def _current_metadata(path: str) -> dict:
    """The table's current metadata document, read directly from disk."""
    meta = os.path.join(path, "metadata")
    with open(os.path.join(meta, "version-hint.text")) as f:
        v = f.read().strip()
    with open(os.path.join(meta, f"v{v}.metadata.json")) as f:
        return json.load(f)


WORKLOADS = {
    "mor_scan": MorScan,
    "time_travel_meta": TimeTravelMeta,
}
