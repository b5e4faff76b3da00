"""The workloads.  Each builds its inputs from the seed, sets up, runs
closed-loop operations for ``--seconds``, checks the outputs, and
returns its end-to-end metrics.  Traced runs add a traced pass whose
spans ``finish_trace`` turns into the per-layer table.

``ingest-stream``
    Set-up imports a history of feed snapshots (``import --automatic``).
    Then one feed client lands a few new snapshot files per round and
    runs ``import --automatic`` again, until the time is up.  A round
    runs from the moment its files land to the moment the records table
    is committed.  Loads sources.gtfs, sources.rt, operators.records,
    streaming.pipeline and the records rewrite in ``__main__`` (layer
    ``cli``); there is
    no ``curves/`` directory, so no curve or prediction work.

``departures-board``
    Set-up runs ``import`` → ``analyse`` → ``import`` (the predictions
    refresh) on a small network, then ``monitor --serve --port 0`` with
    the CLI defaults (no board cache).  Four closed-loop clients then
    request ``/departures`` pages whose stops are drawn Zipf-popular, so
    (stop set, window) keys repeat.  The set-up loads the analyse and
    predict layers and the sinks' write side; the timed phase loads
    operators.monitor, monitor_http and the sinks' read side.
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import os
import random
import resource
import statistics
import threading
import time
import urllib.parse
import urllib.request

from . import gen, layers
from .trace import Tracer

ROUND_DEADLINE_S = 60.0
MIN_ROUND_S = 0.5  # the shortest round the ingest inputs provide files for
BOARD_TIMEOUT_S = 30.0
CLIENTS = 4

INGEST = {
    "replicas": 50,
    "wide_width": 40,
    "history_days": 6,
    "files_per_round": 3,
    "traced_rounds": 3,
}
BOARD = {
    "replicas": 2,
    "wide_width": 24,
    "days": 30,
    "mid_trip_days": 4,
    # assumed traffic, not measured from a real deployment (NOTES.md):
    # a morning-peak window, mostly single-stop pages, Zipf-popular stops
    # and days
    "window": ("07:00:00", "11:00:00"),
    "stops_per_page": (1, 1, 2, 1, 1, 1, 3, 1, 2, 1),
    "zipf_stops": 1.3,
    "zipf_days": 2.0,
    "checked_keys": 2,
    "warmup_pages": 2,
    "traced_requests": 3,
}


def _p(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))]


def _phase_start(ctx) -> None:
    ctx.setup_s = time.perf_counter() - ctx.t_setup0


# ---------------------------------------------------------------- ingest


def ingest_stream(ctx) -> dict:
    p = INGEST
    # future days: files for every round the time allows, however short
    rounds = int(ctx.seconds / MIN_ROUND_S) + 1 + p["traced_rounds"]
    extra_days = -(-rounds * p["files_per_round"] // gen.FILES_PER_DAY) + 1
    inputs = gen.make_inputs(
        ctx.seed, p["replicas"], p["wide_width"], p["history_days"] + extra_days
    )
    history = [f for d in inputs.feeds_by_day[: p["history_days"]] for f in d]
    future = [f for d in inputs.feeds_by_day[p["history_days"]:] for f in d]
    data = os.path.join(ctx.workdir, "data")
    rt = os.path.join(data, "rt")
    gen.write_schedule(inputs.net, data)
    history_updates = gen.write_feeds(history, rt)

    landed = list(history)
    rounds: list[tuple[float, int]] = []
    k = p["files_per_round"]

    def one_round(batch) -> float:
        n = gen.write_feeds(batch, rt)
        dt_s, _ = ctx.op(lambda: ctx.cli(data, "import", "--automatic"),
                         ROUND_DEADLINE_S)
        landed.extend(batch)
        rounds.append((dt_s, n))
        return dt_s

    # set-up: the history import, then one round so that the measured
    # rounds all merge into an existing table on warm code paths
    ctx.report["generate_s"] = time.perf_counter() - ctx.t0
    ctx.t_setup0 = time.perf_counter()
    ctx.start_session()
    ctx.cli(data, "import", "--automatic")
    ctx.report["history_import_s"] = time.perf_counter() - ctx.t_setup0 - ctx.session_s
    batch, future = future[:k], future[k:]
    one_round(batch)
    rounds.clear()
    _phase_start(ctx)

    end = time.perf_counter() + ctx.seconds
    while future and (not rounds or time.perf_counter() < end):
        batch, future = future[:k], future[k:]
        one_round(batch)
    untraced = list(rounds)

    if ctx.traced:
        ctx.tracer = Tracer(ctx.spark, ctx.workload)
        ctx.tracer.listen()
        layers.install(ctx.tracer)
        landed_bytes = 0
        traced_s = []
        for _ in range(p["traced_rounds"]):
            batch, future = future[:k], future[k:]
            landed_bytes += sum(len(gen.encode(f)) for f in batch)
            with ctx.tracer.span("op"):
                traced_s.append(one_round(batch))
        ctx.tracer.uninstall()
        ctx.extra_layer["cli.write_amplification"] = _written(ctx.tracer) / landed_bytes
        ctx.extra_layer["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(
            [r[0] for r in untraced]
        )
        ctx.report["traced_rounds_s"] = traced_s

    t_check = time.perf_counter()
    _check_records(ctx, inputs, landed, data)
    ctx.report["check_s"] = time.perf_counter() - t_check
    secs = [r[0] for r in untraced]
    upd = sum(r[1] for r in untraced)
    ctx.report["metrics"] = {
        "setup_s": {"value": ctx.setup_s, "unit": "s"},
        "failed_ratio": {"value": ctx.failed / max(ctx.attempted, 1), "unit": "ratio"},
        "ingest_updates_per_s": {"value": upd / sum(secs), "unit": "1/s"},
        "ingest_round_p50_s": {"value": statistics.median(secs), "unit": "s",
                               "samples": len(secs)},
    }
    ctx.report["rounds_s"] = secs
    ctx.report["inputs"] = {
        "history_files": len(history), "history_updates": history_updates,
        "rounds": len(untraced), "updates_per_round": upd / len(untraced),
    }
    return {
        "setup_s": ctx.setup_s,
        "latency_p50_ms": 1e3 * statistics.median(secs),
        "throughput_per_s": upd / sum(secs),
    }


def _written(tracer) -> int:
    """Records-table bytes the traced ``cli`` rewrites wrote."""
    return sum(s.counts.get("bytes_written", 0) for s in tracer.spans if s.name == "cli")


def _failed_files(spark, rt: str) -> int:
    from dystonse_gtfs_data_spark.sources.rt import (
        decode_feed_messages,
        failed_feed_files,
    )

    files = spark.read.format("binaryFile").load(rt)
    return failed_feed_files(files, decode_feed_messages(files)).count()


def _check_records(ctx, inputs, landed, data: str) -> None:
    """The records table equals the latest-wins ground truth, and the
    quarantine report names exactly the truncated files."""
    want = gen.expected_records(inputs, landed)
    pdf = ctx.spark.read.parquet(os.path.join(data, "db", "records")).toPandas()
    got = {}
    for r in pdf.itertuples(index=False):
        key = (r.route_id, r.trip_id, r.trip_start_date, int(r.trip_start_time),
               int(r.stop_sequence))
        got[key] = (int(r.delay_arrival), int(r.delay_departure),
                    r.time_of_recording.to_pydatetime(),
                    os.path.basename(r.schedule_file_name))
    bad = sum(1 for k in want if got.get(k) != want[k])
    # a key written twice collapses in ``got``; the row count shows it
    ctx.check("records_latest_wins", len(pdf) == len(got) == len(want) and bad == 0
              and set(pdf["source"]) == {gen.SOURCE},
              f"rows {len(pdf)} keys {len(got)} want {len(want)}, {bad} differ")
    truncated = sum(f.truncated for f in landed)
    failed = _failed_files(ctx.spark, os.path.join(data, "rt"))
    ctx.check("failed_files", failed == truncated, f"{failed} != {truncated}")
    ctx.extra_layer["sources.rt.failed_files"] = failed


# ----------------------------------------------------------------- board


def _board_requests(inputs, seed: int, client: int):
    """Endless seeded request stream for one client: 1-3 stops drawn
    Zipf-popular from the stops the mid-trip vehicles still serve inside
    the window, and the window on one of the mid-trip days (also
    Zipf-popular), so keys repeat and pages are not empty."""
    rng = random.Random(seed * 1000 + client)
    lo, hi = BOARD["window"]
    in_window = {
        (t, seq)
        for t, seq, _s, _arr, dep in inputs.net.stop_times
        if _secs(lo) <= dep < _secs(hi)
    }
    served = set()
    for trip_id, (_r, stops, _d) in inputs.net.trip_stops.items():
        first_sighting = -(-len(stops) // gen.OVERLAP)
        served.update(
            s for q, s in stops[first_sighting:-1] if (trip_id, q) in in_window
        )
    # one popularity order for every seed: seeds vary the delays and the
    # request sequence, not which stops are busy
    rank = sorted(served)
    random.Random(0).shuffle(rank)
    days = inputs.days[::-1][: BOARD["mid_trip_days"]]  # today first
    w_stop = [1 / (i + 1) ** BOARD["zipf_stops"] for i in range(len(rank))]
    w_day = [1 / (i + 1) ** BOARD["zipf_days"] for i in range(len(days))]
    # the page-size mix is the same for every seed and client (only its
    # phase differs), so seeds vary the data, not the kind of work
    sizes = BOARD["stops_per_page"]
    for i in itertools.count(client * 3):
        n = sizes[i % len(sizes)]
        stops = sorted(set(rng.choices(rank, weights=w_stop, k=n)))
        day = rng.choices(days, weights=w_day)[0].isoformat()
        yield (",".join(stops), f"{day}T{lo}", f"{day}T{hi}")


def _secs(hms: str) -> int:
    h, m, s = (int(x) for x in hms.split(":"))
    return h * 3600 + m * 60 + s


def _http_board(port: int, key) -> list[dict]:
    qs = urllib.parse.urlencode({"stop_ids": key[0], "start": key[1], "end": key[2]})
    url = f"http://127.0.0.1:{port}/departures?{qs}"
    # urlopen raises on 4xx/5xx; any other status but 200 fails too
    with urllib.request.urlopen(url, timeout=BOARD_TIMEOUT_S) as resp:
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status} for {url}")
        return json.load(resp)


def _capture_server(ctx) -> None:
    """Keep the server ``monitor --serve`` starts, so the run can shut
    it down (the CLI does not return it)."""
    from dystonse_gtfs_data_spark import monitor_http

    orig = monitor_http.start_monitor_server

    def start(*args, **kwargs):
        server, port = orig(*args, **kwargs)
        ctx.server = server
        return server, port

    monitor_http.start_monitor_server = start


def _run_clients(fn) -> None:
    threads = [threading.Thread(target=fn, args=(c,)) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def departures_board(ctx) -> dict:
    p = BOARD
    inputs = gen.make_inputs(
        ctx.seed, p["replicas"], p["wide_width"], p["days"],
        mid_trip_days=p["mid_trip_days"],
    )
    data = os.path.join(ctx.workdir, "data")
    gen.write_schedule(inputs.net, data)
    gen.write_feeds(inputs.feeds, os.path.join(data, "rt"))
    _capture_server(ctx)

    ctx.t_setup0 = time.perf_counter()
    ctx.start_session()
    if ctx.traced:
        ctx.tracer = Tracer(ctx.spark, ctx.workload)
        ctx.tracer.listen()
        layers.install(ctx.tracer)
    tracer = ctx.tracer
    steps = {}

    def step(name, *argv):
        t0 = time.perf_counter()
        if tracer:
            with tracer.span("op"):
                out = ctx.cli(data, *argv)
        else:
            out = ctx.cli(data, *argv)
        steps[name] = time.perf_counter() - t0
        return out

    n_records = step("import", "import", "--automatic")[0]["records"]
    n_stats = step("analyse", "analyse")[0]["statistics_rows"]
    n_preds = step("refresh", "import", "--automatic")[1]["predictions"]
    port = step("serve", "monitor", "--serve", "--port", "0")[0]["serving"]["port"]
    if tracer:
        tracer.uninstall()
        rt_bytes = sum(len(gen.encode(f)) for f in inputs.feeds)
        ctx.extra_layer["cli.write_amplification"] = _written(tracer) / rt_bytes
    # the first concurrent pages compile the board query and start the
    # Python workers; displays that just booted pay that once, so it
    # belongs to set-up
    def warm(c: int) -> None:
        keys = _board_requests(inputs, ctx.seed, CLIENTS + c)
        for _ in range(p["warmup_pages"]):
            _http_board(port, next(keys))

    _run_clients(warm)
    _phase_start(ctx)

    # timed phase: CLIENTS closed-loop station displays
    samples: list[tuple[float, bool, tuple, int]] = []
    responses: dict[tuple, list] = {}
    rates: list[float] = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    end = t0 + ctx.seconds

    def client(c: int) -> None:
        done = 0
        for key in _board_requests(inputs, ctx.seed, c):
            if time.perf_counter() >= end:
                break
            dt_s, rows = ctx.op(lambda: _http_board(port, key), BOARD_TIMEOUT_S)
            done += rows is not None
            with lock:
                samples.append((dt_s, rows is not None, key, len(rows or [])))
                if rows is not None:
                    responses.setdefault(key, rows)
        with lock:  # this display's pages per second over its own loop
            rates.append(done / (time.perf_counter() - t0))

    _run_clients(client)
    rps = sum(rates)
    ok_lat = [s[0] for s in samples if s[1]]

    _check_board(ctx, inputs, data, responses, n_stats, n_preds)
    if tracer:
        _trace_boards(ctx, inputs, port, data)
    ctx.server.shutdown()
    ctx.server.server_close()

    lat = sorted(ok_lat)
    p90_ok = len(lat) - int(0.9 * len(lat)) >= 10
    ctx.report["metrics"] = {
        "setup_s": {"value": ctx.setup_s, "unit": "s"},
        "failed_ratio": {"value": ctx.failed / max(ctx.attempted, 1), "unit": "ratio"},
        "board_p50_ms": {"value": 1e3 * statistics.median(lat), "unit": "ms",
                         "samples": len(lat)},
        "board_p90_ms": {"value": 1e3 * _p(lat, 0.9), "unit": "ms",
                         "samples": len(lat),
                         "note": None if p90_ok else "fewer than 10 samples beyond p90"},
        "board_rps": {"value": rps, "unit": "1/s"},
        "analyse_records_per_s": {"value": n_records / steps["analyse"], "unit": "1/s"},
        "predictions_per_s": {"value": n_preds / steps["refresh"], "unit": "1/s"},
    }
    ctx.report["setup_steps_s"] = steps
    distinct = len({s[2] for s in samples})
    ctx.report["pages_s"] = [s[0] for s in samples]
    ctx.report["inputs"] = {
        "records": n_records, "statistics_rows": n_stats, "predictions": n_preds,
        "requests": len(samples), "distinct_keys": distinct,
        "repeat_share": (len(samples) - distinct) / len(samples),
        "empty_boards": sum(1 for s in samples if s[1] and s[3] == 0),
    }
    return {
        "setup_s": ctx.setup_s,
        "latency_p50_ms": 1e3 * statistics.median(lat),
        "throughput_per_s": rps,
    }


def _table_hash(df) -> str:
    """Order-independent content hash: the row count and the sum of
    per-row xxhash64 values."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"


PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


def _direct_board(spark, data: str):
    """``key -> rows`` through ``departure_board`` + ``board_rows_json``
    called directly, on the inputs ``monitor --serve`` gives the
    server."""
    from pyspark.sql import functions as F

    from dystonse_gtfs_data_spark import monitor_http
    from dystonse_gtfs_data_spark.operators import monitor
    from dystonse_gtfs_data_spark.sources.gtfs import read_gtfs
    from dystonse_gtfs_data_spark.sources.sinks import load_predictions

    preds = load_predictions(spark, os.path.join(data, "db", "predictions"))
    sched = read_gtfs(spark, os.path.join(data, "schedules", gen.SCHEDULE_NAME))
    trip_max = sched["stop_times"].groupBy("trip_id").agg(
        F.max("stop_sequence").alias("max_stop_sequence")
    )

    def board(key) -> list[dict]:
        # module attributes, looked up per call: the traced pass wraps them
        return monitor_http.board_rows_json(monitor.departure_board(
            preds, stop_ids=key[0].split(","),
            window_min=monitor_http._parse_dt(key[1]),
            window_max=monitor_http._parse_dt(key[2]),
            trip_max_sequences=trip_max,
        ))

    return board, preds


def _check_board(ctx, inputs, data, responses, n_stats, n_preds) -> None:
    """HTTP pages equal direct ``departure_board`` pages for a seeded
    sample of keys; statistics and predictions hash to the values
    pinned for this seed (when pinned) and are non-empty."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    board, preds = _direct_board(spark, data)
    keys = sorted(responses)
    sample = random.Random(ctx.seed).sample(keys, min(BOARD["checked_keys"], len(keys)))
    same = all(
        json.loads(json.dumps(board(key), default=str)) == responses[key]
        for key in sample
    )
    ctx.check("http_equals_direct", bool(sample) and same)
    ctx.check("boards_not_all_empty", any(responses.values()))
    if ctx.traced:
        truncated = sum(f.truncated for f in inputs.feeds)
        failed = _failed_files(spark, os.path.join(data, "rt"))
        ctx.check("failed_files", failed == truncated, f"{failed} != {truncated}")
        ctx.extra_layer["sources.rt.failed_files"] = failed

    # the source file path depends on where the checkout is; keep its name
    file_name = F.regexp_extract("schedule_file_name", "[^/]*$", 0)
    hashes = {
        "statistics": _table_hash(spark.read.parquet(os.path.join(data, "curves"))),
        "predictions": _table_hash(preds.withColumn("schedule_file_name", file_name)),
    }
    ctx.report["content_hashes"] = hashes
    ctx.check("statistics_and_predictions_nonempty", n_stats > 0 and n_preds > 0)
    with open(PINNED) as fh:
        pinned = json.load(fh).get(str(ctx.seed))
    if pinned is not None:
        ctx.check("content_hashes_pinned", pinned == hashes, f"{hashes} != {pinned}")
    ctx.report["content_hashes_pinned"] = pinned is not None


def _trace_boards(ctx, inputs, port: int, data: str) -> None:
    """Traced pass: per key, one direct ``departure_board`` +
    ``board_rows_json`` call and one HTTP request, one at a time, after
    the same requests untraced."""
    tracer = ctx.tracer
    stream = _board_requests(inputs, ctx.seed, CLIENTS)
    keys = [next(stream) for _ in range(BOARD["traced_requests"])]
    untraced = [ctx.op(lambda: _http_board(port, k), BOARD_TIMEOUT_S)[0] for k in keys]

    board, _preds = _direct_board(ctx.spark, data)
    layers.install(tracer, board_only=True)
    direct, http = [], []

    def direct_call(key) -> None:
        t0 = time.perf_counter()
        board(key)
        direct.append(time.perf_counter() - t0)

    def http_call(key) -> None:
        with tracer.span("monitor_http", tag=False):
            http.append(ctx.op(lambda: _http_board(port, key), BOARD_TIMEOUT_S)[0])

    for i, key in enumerate(keys):
        # alternate which goes first: the second call of a key meets
        # warmer caches
        with tracer.span("op"):
            for call in (direct_call, http_call)[:: 1 if i % 2 else -1]:
                call(key)
    tracer.uninstall()
    ctx.extra_layer["monitor_http.overhead_ms"] = 1e3 * (
        statistics.median(http) - statistics.median(direct)
    )
    ctx.extra_layer["trace.overhead_s"] = statistics.median(http) - statistics.median(untraced)
    ctx.report["traced_requests_s"] = {"untraced": untraced, "direct": direct, "http": http}


# ----------------------------------------------------------------- trace


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's."""
    jvm_kb = 0
    try:
        pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024


def finish_trace(ctx) -> dict:
    """Session figures and streaming progress, then stop the session
    (which completes the event log) and reduce to the per-layer
    table."""
    from .eventlog import read_events

    extra = dict(ctx.extra_layer)
    extra["session.start_s"] = ctx.session_s
    extra["session.peak_rss_mb"] = peak_rss_mb(ctx.spark)
    time.sleep(1.0)  # let the listener bus hand over the last progress events
    extra.update(layers.progress_metrics(ctx.tracer.progress))
    ctx.spark.stop()
    table = layers.reduce(ctx.tracer, read_events(ctx.eventlog_dir), extra)
    ctx.spark = None
    ctx.spans = [dataclasses.asdict(s) for s in ctx.tracer.spans]
    return table


WORKLOADS = {
    "ingest-stream": ingest_stream,
    "departures-board": departures_board,
}
