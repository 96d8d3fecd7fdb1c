"""Which engine functions the traced run wraps, and the per-layer
metrics computed from the spans they leave."""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import Span, Tracer, layer_totals, self_times

WRITER_KINDS = {
    "create": "create",
    "add_files": "add_files",
    "delete_where": "delete",
}


def norm_path(p: str) -> str:
    for prefix in ("file://", "file:"):
        if p.startswith(prefix):
            return p[len(prefix):]
    return p


def _set_bytes_from_result(tracer, span, args, kwargs, out):
    span.attrs["bytes"] = len(out) if isinstance(out, (bytes, bytearray)) else int(out or 0)


def _set_bytes_from_data(tracer, span, args, kwargs, out):
    data = args[-1] if args else kwargs.get("data", b"")
    span.attrs["bytes"] = len(data)


def _set_decode_bytes(tracer, span, args, kwargs, out):
    span.attrs["bytes"] = len(args[0])


def _set_files(tracer, span, args, kwargs, out):
    span.attrs["files"] = len(out or [])
    span.attrs["bytes"] = sum(int(f.get("file_size_in_bytes", 0)) for f in out or [])


def _set_data_files(tracer, span, args, kwargs, out):
    span.attrs["data_files"] = {norm_path(e.file_path) for e in out.data_files()}


def install(tracer: Tracer) -> None:
    """Wrap every listed layer function (idempotent per tracer)."""
    import py4j.clientserver
    import py4j.java_gateway

    import duckdb_iceberg_spark.sources.arrow_scan  # noqa: F401  (imported lazily by the engine)
    from duckdb_iceberg_spark.plans.fs import LocalFS
    from duckdb_iceberg_spark.writer import IcebergTable
    from model import ENTRY_FOLDS
    from workloads import queries

    pkg = "duckdb_iceberg_spark"
    md, mf, av = f"{pkg}.plans.table_metadata", f"{pkg}.plans.manifests", f"{pkg}.plans.avro"
    for mod, attr, layer, cb in [
        (md, "load_table_metadata", "plans.table_metadata", None),
        (md, "parse_table_metadata", "plans.table_metadata", None),
        (md, "_read_metadata_bytes", "plans.table_metadata", _set_bytes_from_result),
        (mf, "load_table_scan", "plans.manifests", _set_data_files),
        (mf, "read_manifest_list", "plans.manifests", None),
        (mf, "read_manifest_entries", "plans.manifests", None),
        (av, "read_avro_file", "plans.avro", None),
        (av, "read_avro_bytes", "plans.avro", _set_decode_bytes),
        (av, "write_avro_file", "plans.avro", _set_bytes_from_result),
        (f"{pkg}.sources.iceberg", "iceberg_scan", "sources.iceberg", None),
        (f"{pkg}.sources.iceberg", "iceberg_snapshots", "sources.iceberg", None),
        (f"{pkg}.sources.iceberg", "iceberg_metadata", "sources.iceberg", None),
        (f"{pkg}.sources.arrow_scan", "arrow_scan_df", "sources.arrow_scan", None),
    ]:
        tracer.patch_function(mod, attr, layer, cb)
    for name in ENTRY_FOLDS:
        fn = queries()[name]
        tracer.patch_function(fn.__module__, fn.__name__, "entries")
    for attr in ("write_bytes", "write_atomic", "create_exclusive"):
        tracer.patch_method(LocalFS, attr, "plans.fs", _set_bytes_from_data)
    for attr in WRITER_KINDS:
        tracer.patch_method(IcebergTable, attr, "writer")
    for attr in ("_write_parquet_files", "_write_position_deletes"):
        tracer.patch_method(IcebergTable, attr, "writer", _set_files)
    tracer.patch_method(IcebergTable, "_write_metadata", "writer")
    tracer.patch_counter(py4j.clientserver.ClientServerConnection, "send_command", "py4j.round_trips")
    tracer.patch_counter(py4j.java_gateway.GatewayConnection, "send_command", "py4j.round_trips")


def _ancestors(s: Span, by_id: dict):
    p = by_id.get(s.parent) if s.parent is not None else None
    while p is not None:
        yield p
        p = by_id.get(p.parent) if p.parent is not None else None


def _outermost(spans: list[Span], by_id: dict, layer: str) -> list[Span]:
    """Spans of ``layer`` with no ancestor in the same layer."""
    return [s for s in spans if s.layer == layer and all(a.layer != layer for a in _ancestors(s, by_id))]


def per_layer(tracer: Tracer, op_records: list[dict]) -> dict:
    """Per-layer metrics of the traced ops (and of traced commits).

    ``op_records``: one dict per traced op with ``op`` (span op id),
    ``kind``, ``ms`` and the post-op ``plan_ms``, ``jobs``, ``tasks``,
    ``kept``/``files`` (data files read / in snapshot).
    """
    spans = tracer.spans
    by_id = {s.sid: s for s in spans}
    ops = {r["op"] for r in op_records}
    n_ops = max(1, len(op_records))
    st = self_times(spans)
    main = tracer.main_thread
    in_ops = [s for s in spans if s.op in ops]
    totals = layer_totals(spans, main, ops)

    def self_ms(layer: str) -> float:
        return 1000.0 * totals.get(layer, {}).get("self_s", 0.0) / n_ops

    def named(name: str, pool=in_ops) -> list[Span]:
        return [s for s in pool if s.name == name]

    m: dict = {}
    # plans.table_metadata
    m["plans.table_metadata.calls_per_op"] = len(named("parse_table_metadata")) / n_ops
    m["plans.table_metadata.self_ms_per_op"] = self_ms("plans.table_metadata")
    m["plans.table_metadata.json_bytes_read_per_op"] = (
        sum(s.attrs.get("bytes", 0) for s in named("_read_metadata_bytes")) / n_ops
    )
    # plans.manifests
    lts = named("load_table_scan")
    walks = {s.sid for s in lts}
    missed = {a.sid for s in named("read_manifest_list") for a in _ancestors(s, by_id) if a.sid in walks}
    m["plans.manifests.scan_cache_hit_ratio"] = (len(lts) - len(missed)) / len(lts) if lts else 0.0
    m["plans.manifests.manifests_decoded_per_op"] = len(named("read_manifest_entries")) / n_ops
    m["plans.manifests.self_ms_per_op"] = self_ms("plans.manifests")
    # plans.avro (decodes run on the manifest pool: busy time, all threads)
    dec = [s for s in _outermost(in_ops, by_id, "plans.avro") if s.name != "write_avro_file"]
    m["plans.avro.decode_bytes_per_op"] = sum(s.attrs.get("bytes", 0) for s in named("read_avro_bytes")) / n_ops
    m["plans.avro.decode_ms_per_op"] = 1000.0 * sum(s.dur for s in dec) / n_ops
    # commits: every top-level writer call, traced set-up included
    commits = _outermost(spans, by_id, "writer")
    n_commits = max(1, len(commits))
    enc = named("write_avro_file", spans)
    m["plans.avro.encode_bytes_per_commit"] = sum(s.attrs.get("bytes", 0) for s in enc) / n_commits
    m["plans.avro.encode_ms_per_commit"] = 1000.0 * sum(s.dur for s in enc) / n_commits
    fs_writes = _outermost(spans, by_id, "plans.fs")
    m["plans.fs.writes_per_commit"] = len(fs_writes) / n_commits
    m["plans.fs.bytes_written_per_commit"] = sum(s.attrs.get("bytes", 0) for s in fs_writes) / n_commits
    writer_self: dict = defaultdict(float)
    kind_count: dict = defaultdict(int)
    top_of: dict = {}
    for c in commits:
        kind_count[WRITER_KINDS.get(c.name, c.name)] += 1
        top_of[c.sid] = c
    for s in spans:
        if s.layer != "writer" or s.thread != main:
            continue
        top = s if s.sid in top_of else next((a for a in _ancestors(s, by_id) if a.sid in top_of), None)
        if top is not None:
            writer_self[WRITER_KINDS.get(top.name, top.name)] += st[s.sid]
    for kind in WRITER_KINDS.values():
        n = kind_count.get(kind, 0)
        m[f"writer.self_ms_per_commit.{kind}"] = 1000.0 * writer_self[kind] / n if n else 0.0
    files = [s for s in spans if s.name in ("_write_parquet_files", "_write_position_deletes")]
    m["writer.files_written_per_commit"] = sum(s.attrs.get("files", 0) for s in files) / n_commits
    m["writer.bytes_written_per_commit"] = sum(s.attrs.get("bytes", 0) for s in files) / n_commits
    m["writer.commit_conflicts"] = sum(
        v for (k, _), v in tracer.counters.items() if k == "raised.CommitConflictError"
    )
    # sources
    m["sources.iceberg.construct_ms_per_op"] = self_ms("sources.iceberg")
    scans = [r for r in op_records if r.get("files")]
    m["sources.iceberg.files_kept_ratio"] = (
        statistics.mean(r["kept"] / r["files"] for r in scans) if scans else 0.0
    )
    m["sources.arrow_scan.construct_ms_per_op"] = self_ms("sources.arrow_scan")
    # entries: self time of the entry function, which builds the query
    queries_built = [s for s in in_ops if s.layer == "entries"]
    m["entries.construct_ms_per_query"] = (
        1000.0 * totals.get("entries", {}).get("self_s", 0.0) / len(queries_built) if queries_built else 0.0
    )
    # py4j and Spark
    trips = sum(v for (k, op), v in tracer.counters.items() if k == "py4j.round_trips" and op in ops)
    m["py4j.round_trips_per_op"] = trips / n_ops
    spark_ms = 1000.0 * totals.get("spark", {}).get("self_s", 0.0)
    plan_ms = min(spark_ms, sum(r["plan_ms"] for r in op_records))
    m["spark.plan.ms_per_op"] = plan_ms / n_ops
    m["spark.exec.ms_per_op"] = (spark_ms - plan_ms) / n_ops
    m["spark.exec.jobs_per_op"] = sum(r["jobs"] for r in op_records) / n_ops
    m["spark.exec.tasks_per_op"] = sum(r["tasks"] for r in op_records) / n_ops
    # what no layer covers; per-kind latency comes from the untraced rounds
    traced_ms = sum(r["ms"] for r in op_records)
    m["harness.self_ms_per_op"] = self_ms("harness")
    accounted = traced_ms - 1000.0 * totals.get("harness", {}).get("self_s", 0.0)
    m["harness.layers_accounted_pct"] = 100.0 * accounted / traced_ms if traced_ms else 0.0
    m["_traced_ops_ms"] = traced_ms
    m["_layer_self_ms"] = {k: 1000.0 * v["self_s"] / n_ops for k, v in totals.items()}
    return m
