"""Harvest benchmark: one workload per process, in a fresh
``local[nproc]`` Spark session, one harvest at a time (closed loop,
one client).

    python3 perfbench/run.py --workload harvest_recrawl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (medians over the
timed calls); with ``--trace 1`` they are the per-layer ones from a
replay under Spark's event log (see layers.py). ``--workload all``
runs every workload in its own process and prints a table of the
end-to-end metrics with their units and each workload's
``failed_ratio``.

All scratch state (inputs, lakes, Spark local dirs, the event log,
temporary files) lives under ``.perfbench_work/`` in the repository
root and is removed on exit; every process a run starts has ended
before it exits (``stop_all``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_CALLS = 3  # timed calls before the time limit may end the loop
TRACE_MIN_CALLS = 1  # the same, per session of a traced run
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "urls_per_s": "1/s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "lake_bytes_per_doc": "bytes",
}


def _proc_table() -> dict[int, tuple[int, str, int, str]]:
    """Every process in /proc: pid -> (parent pid, state, resident
    pages, start time in clock ticks)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        fields = stat[stat.rindex(")") + 2:].split()
        table[int(entry)] = (int(fields[1]), fields[0], int(fields[21]), fields[19])
    return table


def descendants(table=None) -> dict[int, str]:
    """The live processes below this one (the JVM, the Python daemon
    and its workers): pid -> start time, so a reused pid is told apart."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = {}, list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        found[pid] = table[pid][3]
        todo.extend(children.get(pid, ()))
    return found


class PeakRss:
    """Peak summed resident memory of this process and every
    descendant (the JVM, the Python daemon and its workers), sampled
    from /proc on a background thread while the block runs."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        table = _proc_table()
        pids = [os.getpid(), *descendants(table)]
        return sum(table[p][2] for p in pids if p in table) * self._page

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self.peak = self._tree_rss()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _still_running(procs: dict[int, str]) -> dict[int, str]:
    table = _proc_table()
    return {pid: start for pid, start in procs.items()
            if pid in table and table[pid][3] == start and table[pid][1] != "Z"}


def stop_all(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, then the JVM behind it, and wait until every
    process this one started has ended; what is still running after
    ``timeout_s`` is killed. The JVM otherwise outlives this process for
    as long as its shutdown hooks take, and orphans the Python workers
    it leaves behind."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second signal must not cut this short
    procs = descendants()
    try:
        if spark is not None:
            spark.stop()
    except Exception:  # noqa: BLE001 - e.g. a call cut by a signal; the JVM is ended below
        traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while (left := _still_running(procs)) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + timeout_s
    while _still_running(left) and time.monotonic() < deadline:
        time.sleep(0.05)


def start_session(ws: str):
    """A ``gleaner_spark.session.build_session`` over local[nproc],
    with every scratch path inside ``ws``."""
    cores = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(ws, d), exist_ok=True)
    path = os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ.update({
        "PYTHONPATH": path,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(ws, "local"),
        "TMPDIR": os.path.join(ws, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={ws}/tmp -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    from gleaner_spark.session import build_session

    spark = build_session(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_event_log(jvm, log_dir: str | None) -> None:
    """Switch Spark's event log on (uncompressed, in one file, under
    ``log_dir``) or off (``None``) for every SparkContext the running
    JVM creates after this call: SparkConf takes its defaults from the
    JVM's spark.* properties."""
    if log_dir is None:
        jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
        return
    os.makedirs(log_dir, exist_ok=True)
    for key, value in {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }.items():
        jvm.java.lang.System.setProperty(key, value)


class Run:
    """One workload in one session: set-up, the timed loop, the trace."""

    def __init__(self, workload, ws: str, seed: int):
        self.w = workload
        self.ws = ws
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.spark = None  # the running session

    def _record(self, what: str, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            for e in errors[:5]:
                print(f"[perfbench] {self.w.name} {what}: {e}", file=sys.stderr)

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.spark = spark = start_session(self.ws)
        t1 = time.perf_counter()
        self.w.prepare(os.path.join(self.ws, "inputs"), self.seed)
        self.w.oracle()
        t2 = time.perf_counter()
        try:
            errors = self.w.warm(spark, self.ws)
        except Exception:  # noqa: BLE001 - a failed warm-up is a failed run
            errors = [traceback.format_exc()]
        self._record("warm-up", errors)
        for k in range(self.w.warm_calls):
            self._call_checked(spark, "warm-up call", f"warm-{k}")
        t3 = time.perf_counter()
        self.setup_s = t3 - t0
        print(f"[perfbench] {self.w.name} set-up: session {t1 - t0:.3f} s, inputs and "
              f"oracle {t2 - t1:.3f} s, warm-up {t3 - t2:.3f} s", file=sys.stderr)

    def _fresh_lake(self, tag) -> str:
        lake_dir = os.path.join(self.ws, f"lake-{tag}")
        start = self.w.start_lake(self.ws)
        if start is not None:
            shutil.copytree(start, lake_dir)
        return lake_dir

    def _call_checked(self, spark, what: str, tag) -> dict | None:
        """One call on a fresh starting lake, timed and then checked;
        its measurements, or None when it raised."""
        lake_dir = self._fresh_lake(tag)
        base_bytes = layers.tree_stats(lake_dir)[1]
        try:
            with PeakRss() as mem:
                t = time.perf_counter()
                res = self.w.call(spark, lake_dir)
                run_s = time.perf_counter() - t
            out = self.w.check(lake_dir, res, base_bytes)
        except Exception:  # noqa: BLE001 - counted as a failed call
            self._record(what, [traceback.format_exc()])
            return None
        finally:
            shutil.rmtree(lake_dir, ignore_errors=True)
        self._record(what, out.errors)
        print(f"[perfbench] {self.w.name} {what}: {run_s:.3f} s", file=sys.stderr)
        return {"run_s": run_s, "units": out.units, "docs": out.extracted,
                "lake_bytes": out.lake_bytes, "rss": mem.peak, "ok": not out.errors}

    def timed(self, spark, seconds: float, min_calls: int = MIN_CALLS) -> list[dict]:
        """Calls back to back (closed loop, one client) until
        ``seconds`` have passed and at least ``min_calls`` were made.
        The measurements of the calls that passed their check, or of
        all that returned when none did (the run then reports
        ``correct: false``)."""
        reps = []
        t_loop = time.perf_counter()
        k = 0
        while k < min_calls or time.perf_counter() - t_loop < seconds:
            rep = self._call_checked(spark, "call", k)
            k += 1
            if rep is not None:
                reps.append(rep)
        return [r for r in reps if r["ok"]] or reps

    def end_to_end(self, reps: list[dict]) -> dict[str, float]:
        run_s = statistics.median(r["run_s"] for r in reps)
        return {
            "setup_s": self.setup_s,
            "run_s": run_s,
            "urls_per_s": statistics.median(r["units"] for r in reps) / run_s,
            "docs_per_s": statistics.median(r["docs"] for r in reps) / run_s,
            "peak_rss_mb": statistics.median(r["rss"] for r in reps) / 2**20,
            "lake_bytes_per_doc": statistics.median(
                r["lake_bytes"] / r["docs"] for r in reps),
        }

    def restart(self, seconds: float) -> list[dict]:
        """Stop the session, start a new one in the same JVM, re-warm it
        with one call and repeat the timed calls. A traced run makes
        three of these, so each takes fewer calls than an untraced run."""
        self.spark.stop()
        self.spark = start_session(self.ws)
        self._call_checked(self.spark, "re-warm", "rewarm")
        return self.timed(self.spark, seconds, TRACE_MIN_CALLS)

    def trace(self, seconds: float) -> dict[str, float]:
        """Time the calls in three restarted sessions: untraced, with
        the event log on, untraced again. The JVM keeps warming up
        across sessions, so the traced ``run_s`` is set against the mean
        of the untraced ones before and after it. The traced session
        also replays the work one layer at a time; its event log is then
        folded per layer."""
        log_dir = os.path.join(self.ws, "eventlog")
        jvm = self.spark.sparkContext._jvm
        before = self.restart(seconds / 2)
        set_event_log(jvm, log_dir)
        traced = self.restart(seconds / 2)
        tracer = layers.Tracer(self.spark.sparkContext)
        try:
            ratios, errors = self.w.replay(self.spark, tracer, self._fresh_lake("replay"))
        except Exception:  # noqa: BLE001 - counted as a failed run
            ratios, errors = {}, [traceback.format_exc()]
        self._record("replay", errors)
        set_event_log(jvm, None)
        after = self.restart(seconds / 2)  # stopping the traced session writes its log
        self.spark.stop()
        self.spark = None
        if not (before and traced and after):
            raise RuntimeError("a session of the traced run had no successful call")
        folded = layers.fold_event_log(layers.event_log_file(log_dir), tracer.layer_of)
        untraced_run_s = statistics.mean(
            statistics.median(r["run_s"] for r in reps) for reps in (before, after))
        return layers.layer_metrics(
            tracer, folded, ratios,
            statistics.median(r["run_s"] for r in traced), untraced_run_s)


def run_one(args) -> dict:
    from workloads import WORKLOADS

    ws = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    run = Run(WORKLOADS[args.workload](), ws, args.seed)
    try:
        run.setup()
        if args.trace:
            metrics = run.trace(args.seconds)
            units = {n: layers.metric_unit(n) for n in metrics}
        else:
            reps = run.timed(run.spark, args.seconds)
            if not reps:
                raise RuntimeError("no timed call succeeded")
            metrics = run.end_to_end(reps)
            units = END_TO_END
    finally:
        stop_all(run.spark)
        shutil.rmtree(ws, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ws))  # only when no other run uses it
        except OSError:
            pass
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }


def run_all(args) -> int:
    from workloads import WORKLOADS

    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        if proc.returncode != 0:
            print(f"{name}: exited {proc.returncode}", file=sys.stderr)
            return proc.returncode
        results[name] = json.loads(proc.stdout.strip().splitlines()[-1])
    names = list(results)
    first = results[names[0]]["metrics"]
    print(f"{'metric':<26}{'unit':<8}" + "".join(f"{n:>18}" for n in names))
    for m in first:
        print(f"{m:<26}{first[m]['unit']:<8}"
              + "".join(f"{results[n]['metrics'][m]['value']:>18.4f}" for n in names))
    print(f"{'failed_ratio':<26}{'ratio':<8}"
          + "".join(f"{results[n]['failed'] / results[n]['attempted']:>18.4f}" for n in names))
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its session and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    try:
        import gleaner_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the gleaner_spark package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)} or all", file=sys.stderr)
        return 2
    print(json.dumps(run_one(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
