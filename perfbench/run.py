"""Domain-lifecycle benchmark: drives the CLI
(``dystonse_gtfs_data_spark.__main__.main``) in process on seeded inputs.

    python3 perfbench/run.py --workload ingest-stream --seed 1 --seconds 5 --trace 0

Run it from the repository root.  ``--trace 0`` measures the workload and
prints its end-to-end metrics; ``--trace 1`` also runs the traced pass
and prints the per-layer metrics instead.  Both check the outputs.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a
report with the workload's own metric names, the environment stamp and
(traced) the per-layer table.  The full record, spans included, goes to
``.perfbench/results/``.  A failed check exits 1, a missing package 2,
a run past its time limit 3.

The measurement runs in a child process with a session of its own.  The
parent waits for it, then stops whatever it left behind (the Spark JVM
outlives its Python parent for a moment; the Python worker daemon keeps
a process group of its own) and waits until every process of that
session has ended before it exits with the child's code.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
DRIVER_MEMORY = "2g"
RUN_LIMIT_S = 160  # the whole measurement, set-up and checks included
CHILD_WAIT_S = RUN_LIMIT_S + 5  # then the parent stops the child itself
EXIT_GRACE_S = 5.0  # for the JVM to see its stdin close and exit
TERM_GRACE_S = 3.0  # between SIGTERM and SIGKILL
KILL_WAIT_S = 5.0  # for the kernel to take SIGKILLed processes down
CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36

END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("throughput_per_s", "1/s"),
)


def _bootstrap() -> None:
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (calibration probe)
        import dystonse_gtfs_data_spark.__main__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package to measure is missing: {exc}", file=sys.stderr)
        sys.exit(2)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_MONITOR_NO_BLOCK"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _watchdog(limit_s: float) -> None:
    def fire():
        print(f"perfbench: run exceeded {limit_s} s, aborting", file=sys.stderr)
        sys.stderr.flush()
        os._exit(3)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()


def _session_members(sid: int) -> tuple[list[int], list[int]]:
    """Live and zombie processes of session ``sid``, plus any orphan
    re-parented to this process."""
    me = os.getpid()
    live, dead = [], []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # gone meanwhile
        state, ppid, session = fields[0], int(fields[1]), int(fields[3])
        if session == sid or ppid == me:
            (dead if state in ("Z", "X") else live).append(int(name))
    return live, dead


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_session(sid: int, grace_s: float, subreaper: bool) -> None:
    """Wait up to ``grace_s`` for session ``sid`` to empty, then
    SIGTERM what is left, then SIGKILL, and return once none is left.
    As a subreaper this process inherits the session's exited
    processes too, and reaps them before it returns."""
    t0 = time.monotonic()
    while True:
        _reap()
        live, dead = _session_members(sid)
        if not live and not (subreaper and dead):
            return
        waited = time.monotonic() - t0
        if waited >= grace_s + 2 * TERM_GRACE_S + KILL_WAIT_S:
            print(f"perfbench: processes {live + dead} outlived SIGKILL", file=sys.stderr)
            return
        if waited >= grace_s + TERM_GRACE_S:
            sig = signal.SIGKILL
        elif waited >= grace_s:
            sig = signal.SIGTERM
        else:
            sig = None
        for pid in live if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _supervise(argv: list[str]) -> int:
    """Run the measurement in a child in a new session; stop and wait
    for everything it started; return its exit code."""
    try:  # orphans of the session become our children, so we reap them
        libc = ctypes.CDLL(None, use_errno=True)
        subreaper = libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        subreaper = False
    env = dict(os.environ, **{CHILD_ENV: "1"})
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env=env, start_new_session=True,
    )
    grace = EXIT_GRACE_S

    def on_signal(signum, _frame):
        raise KeyboardInterrupt

    signal.signal(signal.SIGTERM, on_signal)
    try:
        rc = child.wait(timeout=CHILD_WAIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_WAIT_S} s, stopping it", file=sys.stderr)
        rc, grace = 3, 0.0
    except KeyboardInterrupt:
        rc, grace = 130, 0.0
    finally:
        _stop_session(child.pid, grace, subreaper)
    return rc


class Context:
    """What a workload gets: its seed and time, a work directory inside
    the checkout, the Spark session, and op/CLI helpers."""

    def __init__(self, args, workdir: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.workdir = workdir
        self.spark = None
        self.session_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.report: dict = {}
        self.extra_layer: dict[str, float] = {}
        self.tracer = None
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()

    def start_session(self) -> None:
        from dystonse_gtfs_data_spark.session import build_session

        local = os.path.join(self.workdir, "spark-local")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        }
        if self.traced:
            self.eventlog_dir = os.path.join(self.workdir, "eventlog")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        os.makedirs(local, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = build_session(
            f"perfbench-{self.workload}", master=f"local[{CPUS}]", extra_conf=conf
        )
        self.session_s = time.perf_counter() - t0

    def cli(self, data_dir: str, *argv: str) -> list[dict]:
        """One CLI call in process; returns its JSON stdout lines."""
        import contextlib
        import io

        from dystonse_gtfs_data_spark.__main__ import main
        from perfbench import gen

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            main(["--dir", data_dir, "--source", gen.SOURCE,
                  "--master", f"local[{CPUS}]", *argv])
        return [
            json.loads(line)
            for line in buf.getvalue().splitlines()
            if line.startswith("{")
        ]

    def op(self, fn, deadline_s: float):
        """Run one timed operation.  It fails if it raises or passes
        its deadline.  Returns (seconds, result or None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # counted, and the run goes on
            print(f"perfbench: op failed: {exc!r}", file=sys.stderr)
            self.failed += 1
            return time.perf_counter() - t0, None
        dt = time.perf_counter() - t0
        if dt > deadline_s:
            self.failed += 1
        return dt, out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = bool(ok)
        if not ok:
            print(f"perfbench: check failed: {name} {detail}", file=sys.stderr)


def environment(spark, probe: bool) -> dict:
    """The run's environment.  ``probe`` adds ``bench``'s fixed-work
    calibration probe (about 4 s at 4 cores)."""
    import bench
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "cpus": CPUS,
        "host_cpus": os.cpu_count(),
        "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "calibration_probe_s": bench._calibration_probe(spark) if probe else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if os.environ.get(CHILD_ENV) != "1":
        sys.exit(_supervise(sys.argv[1:]))
    _bootstrap()
    _watchdog(RUN_LIMIT_S)

    from perfbench import workloads
    from perfbench.layers import PER_LAYER

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    state = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(state, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    ctx = Context(args, workdir)
    try:
        metrics = workloads.WORKLOADS[args.workload](ctx)
        t_env = time.perf_counter()
        ctx.report["environment"] = environment(ctx.spark, probe=ctx.traced)
        ctx.report["environment_s"] = time.perf_counter() - t_env
        if ctx.traced:
            layer = workloads.finish_trace(ctx)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    ctx.report["run_s"] = time.perf_counter() - ctx.t0
    correct = bool(ctx.checks) and all(ctx.checks.values())
    ctx.report.update({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "trace": args.trace,
                       "checks": ctx.checks})
    if ctx.traced:
        out = {name: {"value": layer[name], "unit": unit}
               for name, unit, _b in PER_LAYER}
    else:
        out = {name: {"value": metrics[name], "unit": unit} for name, unit in END_TO_END}
    os.makedirs(os.path.join(state, "results"), exist_ok=True)
    with open(os.path.join(
        state, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as fh:
        json.dump({"report": ctx.report, "metrics": out, "spans": ctx.spans},
                  fh, indent=1, default=str)
    print(json.dumps({"report": ctx.report}, default=str))
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": out}))
    sys.stdout.flush()
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
