"""Which layer functions the traced run wraps, and the per-layer table
it reduces to.

Every name in ``PER_LAYER`` is printed by every traced run; a layer a
workload does not load reads 0 there.  The records rewrite in
``__main__`` is the layer ``cli`` (a metric name cannot start with
``_``).  ``<layer>.wall_s`` is the layer's self time: its spans'
durations minus the nested spans they contain.  The layers' self times,
``monitor_http.wall_s`` (HTTP round trip outside the server's board
calls), ``trace.probe_s`` (counting inputs for the ratios) and
``trace.uncovered_s`` (op time outside any layer) add up to
``trace.wall_s``.
"""

from __future__ import annotations

import os
from contextlib import ExitStack

from .eventlog import label_table
from .trace import Tracer

EXEC_LAYERS = (
    "sources.gtfs", "sources.rt", "operators.records", "streaming.pipeline",
    "cli", "operators.specific_curves", "operators.default_curves",
    "sources.sinks", "operators.predict", "operators.monitor",
)
PYTHON_LAYERS = (
    "sources.rt", "operators.specific_curves", "operators.default_curves",
    "operators.predict", "operators.monitor",
)
GENERIC = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
)
PYTHON = (
    ("python_s", "s", "lower"),
    ("python_rows", "count", "lower"),
    ("python_bytes", "bytes", "lower"),
)
SPECIFIC = (
    ("session.start_s", "s", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("sources.rt.updates", "count", "higher"),
    ("sources.rt.files", "count", "higher"),
    ("sources.rt.failed_files", "count", "lower"),
    ("operators.records.match_ratio", "ratio", "higher"),
    ("operators.records.keep_ratio", "ratio", "lower"),
    ("streaming.pipeline.batches", "count", "lower"),
    ("streaming.pipeline.trigger_s", "s", "lower"),
    ("streaming.pipeline.overhead_s", "s", "lower"),
    ("cli.records_bytes_written", "bytes", "lower"),
    ("cli.write_amplification", "ratio", "lower"),
    ("cli.records_files", "count", "lower"),
    ("operators.specific_curves.curves", "count", "higher"),
    ("operators.specific_curves.pair_groups", "count", "higher"),
    ("operators.specific_curves.curves_per_s", "1/s", "higher"),
    ("operators.default_curves.curves", "count", "higher"),
    ("sources.sinks.save_statistics_s", "s", "lower"),
    ("sources.sinks.statistics_files", "count", "lower"),
    ("sources.sinks.save_predictions_s", "s", "lower"),
    ("sources.sinks.predictions_files", "count", "lower"),
    ("operators.predict.requests", "count", "higher"),
    ("operators.predict.hit_ratio", "ratio", "higher"),
    ("operators.monitor.board_ms", "ms", "lower"),
    ("operators.monitor.jobs_per_board", "count", "lower"),
    ("operators.monitor.rows_read_per_row_returned", "ratio", "lower"),
    ("monitor_http.wall_s", "s", "lower"),
    ("monitor_http.overhead_ms", "ms", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.uncovered_s", "s", "lower"),
    ("trace.probe_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)
PER_LAYER = (
    [(f"{layer}.{m}", u, b) for layer in EXEC_LAYERS for m, u, b in GENERIC]
    + [(f"{layer}.{m}", u, b) for layer in PYTHON_LAYERS for m, u, b in PYTHON]
    + list(SPECIFIC)
)
PROBE = "probe"


def _parquet_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def install(tracer: Tracer, board_only: bool = False) -> None:
    """Wrap the layer functions the CLI and the monitor server call.
    ``board_only`` wraps just the departure-board path."""
    from dystonse_gtfs_data_spark import __main__ as cli
    from dystonse_gtfs_data_spark import monitor_http
    from dystonse_gtfs_data_spark.operators import monitor

    def board_rows(fn):
        def wrapped(board):
            with tracer.span("operators.monitor") as s:
                rows = fn(board)
                s.counts["boards"] = 1
                s.counts["rows_returned"] = len(rows)
                return rows

        return wrapped

    def departure_board(fn):
        def wrapped(*args, **kwargs):
            with tracer.span("operators.monitor"):
                return fn(*args, **kwargs)

        return wrapped

    tracer.patch(monitor_http, "board_rows_json", board_rows)
    tracer.patch(monitor, "departure_board", departure_board)
    if board_only:
        return

    from dystonse_gtfs_data_spark.operators import (
        default_curves,
        predict,
        records,
        specific_curves,
    )
    from dystonse_gtfs_data_spark.sources import gtfs, sinks
    from dystonse_gtfs_data_spark.streaming import pipeline

    def read_gtfs(fn):
        def wrapped(*args, **kwargs):
            with tracer.span("sources.gtfs"):
                tables = fn(*args, **kwargs)
                return {k: tracer.materialize(v)[0] for k, v in tables.items()}

        return wrapped

    def build_records(fn):
        def wrapped(rt_updates, *args, **kwargs):
            with tracer.span("sources.rt") as s:
                rt_updates, n_in = tracer.materialize(rt_updates)
                s.counts["updates"] = n_in
                s.counts["files"] = rt_updates.select("feed_file").distinct().count()
            with tracer.span("operators.records") as s:
                out, n = tracer.materialize(fn(rt_updates, *args, **kwargs))
                s.counts["records_out"] = n
                s.counts["updates_in"] = n_in
            return out

        return wrapped

    def merge_records(fn):
        def wrapped(existing, updates, key):
            with tracer.span(PROBE):
                n_in = existing.count() + updates.count()
            with tracer.span("operators.records") as s:
                out, n = tracer.materialize(fn(existing, updates, key))
                s.counts["merge_in"] = n_in
                s.counts["merge_out"] = n
            return out

        return wrapped

    def merge_into_records(fn):
        def wrapped(spark, batch, records_path):
            with tracer.span("cli") as s:
                fn(spark, batch, records_path)
                s.counts["bytes_written"], s.counts["files"] = _parquet_stats(
                    records_path
                )

        return wrapped

    def start_records_stream(fn):
        def wrapped(*args, **kwargs):
            stack = ExitStack()
            stack.enter_context(tracer.span("streaming.pipeline"))
            query = fn(*args, **kwargs)

            class _Query:
                def awaitTermination(self, *a):  # noqa: N802 (Spark naming)
                    try:
                        return query.awaitTermination(*a)
                    finally:
                        stack.close()

                def __getattr__(self, name):
                    return getattr(query, name)

            return _Query()

        return wrapped

    def materialized(name: str, after=None):
        def factory(fn):
            def wrapped(*args, **kwargs):
                with tracer.span(name) as s:
                    out, n = tracer.materialize(fn(*args, **kwargs))
                    s.counts["rows"] = n
                if after is not None:
                    with tracer.span(PROBE):
                        after(s, out, args)
                return out

            return wrapped

        return factory

    def pair_groups(s, out, _args):
        s.counts["pair_groups"] = (
            out.filter("start_stop_index is not null")
            .select("route_id", "route_variant", "start_stop_index", "end_stop_index")
            .distinct()
            .count()
        )

    def prediction_requests(s, _out, args):
        recs, sti, routes, trips = args[:4]
        s.counts["requests"] = predict.build_prediction_requests(
            predict.realtime_bases(recs), sti, routes, trips
        ).count()

    def save(kind: str):
        def factory(fn):
            def wrapped(df, path):
                with tracer.span("sources.sinks") as s:
                    fn(df, path)
                    s.counts[f"{kind}_files"] = _parquet_stats(path)[1]
                    s.counts[f"{kind}_saves"] = 1

            return wrapped

        return factory

    def load(fn):
        def wrapped(*args, **kwargs):
            with tracer.span("sources.sinks"):
                return fn(*args, **kwargs)

        return wrapped

    tracer.patch(gtfs, "read_gtfs", read_gtfs)
    for owner in (records, pipeline):
        tracer.patch(owner, "build_records", build_records)
        tracer.patch(owner, "merge_records", merge_records)
    tracer.patch(cli, "_merge_into_records", merge_into_records)
    tracer.patch(pipeline, "start_records_stream", start_records_stream)
    tracer.patch(
        specific_curves, "specific_statistics",
        materialized("operators.specific_curves", pair_groups),
    )
    tracer.patch(
        default_curves, "default_statistics",
        materialized("operators.default_curves"),
    )
    tracer.patch(
        predict, "generate_realtime_predictions",
        materialized("operators.predict", prediction_requests),
    )
    tracer.patch(sinks, "save_statistics", save("statistics"))
    tracer.patch(sinks, "save_predictions", save("predictions"))
    tracer.patch(sinks, "load_statistics", load)
    tracer.patch(sinks, "load_predictions", load)


def reduce(
    tracer: Tracer,
    events,
    extra: dict[str, float],
) -> dict[str, float]:
    """The ``PER_LAYER`` table from the spans, the event log and the
    workload's own measurements in ``extra`` (session, streaming
    progress, HTTP overhead, tracing overhead, failed files)."""
    table = label_table(events, prefix=f"bench:{tracer.workload}:")
    self_t = tracer.self_times()
    by_layer: dict[str, list] = {}
    for s in tracer.spans:
        by_layer.setdefault(s.name, []).append(s)

    def total(layer: str, count: str) -> float:
        return sum(s.counts.get(count, 0) for s in by_layer.get(layer, []))

    def wall(layer: str) -> float:
        return sum(self_t[s.sid] for s in by_layer.get(layer, []))

    out: dict[str, float] = {name: 0 for name, _u, _b in PER_LAYER}
    for layer in EXEC_LAYERS:
        row = table.get(f"bench:{tracer.workload}:{layer}", {})
        out[f"{layer}.wall_s"] = wall(layer)
        for m, _u, _b in GENERIC[1:]:
            out[f"{layer}.{m}"] = row.get(m, 0)
        if layer in PYTHON_LAYERS:
            for m, _u, _b in PYTHON:
                out[f"{layer}.{m}"] = row.get(m, 0)

    out["sources.rt.updates"] = total("sources.rt", "updates")
    out["sources.rt.files"] = total("sources.rt", "files")
    upd = total("operators.records", "updates_in")
    out["operators.records.match_ratio"] = (
        total("operators.records", "records_out") / upd if upd else 0
    )
    m_in = total("operators.records", "merge_in")
    out["operators.records.keep_ratio"] = (
        total("operators.records", "merge_out") / m_in if m_in else 0
    )
    main_spans = by_layer.get("cli", [])
    out["cli.records_bytes_written"] = total("cli", "bytes_written")
    out["cli.records_files"] = main_spans[-1].counts["files"] if main_spans else 0
    spec = total("operators.specific_curves", "rows")
    out["operators.specific_curves.curves"] = spec
    out["operators.specific_curves.pair_groups"] = total(
        "operators.specific_curves", "pair_groups"
    )
    spec_s = wall("operators.specific_curves")
    out["operators.specific_curves.curves_per_s"] = spec / spec_s if spec_s else 0
    out["operators.default_curves.curves"] = total("operators.default_curves", "rows")
    sink_spans = by_layer.get("sources.sinks", [])
    for kind in ("statistics", "predictions"):
        mine = [s for s in sink_spans if f"{kind}_saves" in s.counts]
        out[f"sources.sinks.save_{kind}_s"] = sum(self_t[s.sid] for s in mine)
        out[f"sources.sinks.{kind}_files"] = mine[-1].counts[f"{kind}_files"] if mine else 0
    req = total("operators.predict", "requests")
    out["operators.predict.requests"] = req
    out["operators.predict.hit_ratio"] = (
        total("operators.predict", "rows") / req if req else 0
    )
    boards = total("operators.monitor", "boards")
    if boards:
        mon = table.get(f"bench:{tracer.workload}:operators.monitor", {})
        returned = total("operators.monitor", "rows_returned")
        out["operators.monitor.board_ms"] = 1e3 * wall("operators.monitor") / boards
        out["operators.monitor.jobs_per_board"] = mon.get("jobs", 0) / boards
        out["operators.monitor.rows_read_per_row_returned"] = (
            mon.get("scan_rows", 0) / returned if returned else 0
        )

    # HTTP, parsing and server time around the server's board calls
    out["monitor_http.wall_s"] = wall("monitor_http")
    roots = [s for s in tracer.spans if s.parent is None]
    out["trace.wall_s"] = sum(s.duration for s in roots)
    out["trace.uncovered_s"] = sum(self_t[s.sid] for s in roots)
    out["trace.probe_s"] = wall(PROBE)
    out.update(extra)
    return out


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    trig = [p["durations_ms"].get("triggerExecution", 0) for p in progress]
    add = [p["durations_ms"].get("addBatch", 0) for p in progress]
    return {
        "streaming.pipeline.batches": len(progress),
        "streaming.pipeline.trigger_s": sum(trig) / 1e3,
        "streaming.pipeline.overhead_s": (sum(trig) - sum(add)) / 1e3,
    }
