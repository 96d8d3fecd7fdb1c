"""The DuckDB ledger model against the engine on a tiny seeded history.

Every commit kind the benchmark uses is applied through the engine's
writer and replayed in the model; after each commit the engine's
JVM-side drain (count, sums, xxhash64 fold) of the latest snapshot and
of the first snapshot must equal the model's answer.
"""

import os

import numpy as np
import pyarrow as pa
import pytest

import inputs
from model import COLUMNS, ENTRY_FOLDS, GROUP_HASH, GROUP_SUMS, SUM_COLS, LedgerModel, fold, spark_xxhash64


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from duckdb_iceberg_spark import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark("icebench-test", **{"spark.ui.showConsoleProgress": "false", "spark.sql.warehouse.dir": str(wh)})
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_hash_matches_spark_for_every_column_type(spark):
    from pyspark.sql import functions as F

    t = pa.table(
        {
            "a": pa.array([0, 1, -7, 2**40], pa.int64()),
            "b": pa.array([3, -1, 0, 2**31 - 1], pa.int32()),
            "c": pa.array([0.5, 1.0, 2.25, 1e9], pa.float64()),
            "d": pa.array(np.array([0, 1, 86_400_000_000, 10**15], dtype="datetime64[us]")),
        }
    )
    df = spark.createDataFrame(t.to_pandas())
    want = df.agg(F.bit_xor(F.xxhash64("a", "b", "c"))).collect()[0][0]
    got = fold(spark_xxhash64([t.column(c).to_numpy() for c in ("a", "b", "c")]))
    assert got == want


def test_ledger_model_matches_engine(spark, tmp_path):
    import duckdb_iceberg_spark as engine
    from workloads import Drainer, Workload

    rng = np.random.default_rng(11)
    src = tmp_path / "src"
    src.mkdir()
    t = inputs._lineitem(str(src), rng, 900)
    parts = [inputs._write(t.slice(i * 200, 200), str(src / f"s{i}.parquet")) for i in range(3)]
    commits = [
        {"kind": "create", "source": parts[:2], "range_files": 2},
        {"kind": "add_files", "source": parts[2]},
        {"kind": "delete", "where": "l_orderkey % 3 = 1"},
        {"kind": "delete", "where": "l_orderkey % 3 = 2"},
    ]
    model = LedgerModel(threads=1)
    drain = Drainer()
    wl = Workload(spark, engine, {"commits": commits, "live_bytes": 1}, str(tmp_path / "run"), drain)
    path = str(tmp_path / "table")
    table = None
    first_sid = None
    for c in commits:
        table = wl.apply(table, c, path)
        seq = model.apply(c)
        first_sid = first_sid or table.meta.current_snapshot_id
        assert drain.fold(engine.iceberg_scan(spark, path), COLUMNS, SUM_COLS) == model.scan(seq), c
        old = engine.iceberg_scan(spark, path, snapshot_id=first_sid)
        assert drain.fold(old, COLUMNS, SUM_COLS) == model.scan(1)
    assert model.added_rows[2] == 600 and model.data_files[2] == 3
    assert 0 < model.deleted_rows[3] < model.deleted_rows[4]

    from pyspark.sql import functions as F

    df = (
        engine.iceberg_scan(spark, path)
        .where("l_suppkey < 500")
        .groupBy("l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_partkey").alias("sp"))
    )
    sql = inputs.GROUP_SQL.format(cut=500)
    assert drain.fold(df, GROUP_HASH, GROUP_SUMS) == model.group(model.seq, sql, GROUP_HASH, GROUP_SUMS)


def test_entry_answers_match_engine(spark, tmp_path):
    from workloads import Drainer, queries

    t = inputs._lineitem(str(tmp_path), np.random.default_rng(5), 3000)
    inputs._write(t, str(tmp_path / "lineitem.parquet"))
    want = LedgerModel(threads=1).entries(str(tmp_path / "lineitem.parquet"))
    drain = Drainer()
    for name, folds in ENTRY_FOLDS.items():
        got = drain.fold(queries()[name](spark, str(tmp_path)), *folds)
        assert got == want[name], name
    assert want["sort_topk"][0] == 100 and want["q6_revenue"][0] == 1


def test_plans_are_a_function_of_the_seed(tmp_path):
    plans = []
    for name in ("a", "b"):
        d = tmp_path / name
        d.mkdir()
        plans.append(inputs.plan_time_travel_meta(str(d), 3))
    a, b = plans
    assert a["answers"] == b["answers"] and a["order"] == b["order"]
    assert len(a["commits"]) == inputs.TT_COMMITS > 64
