"""One measured run of a workload in a fresh process.

Started by ``run.py``; not meant to be run by hand. One closed-loop client:
each job starts only after the previous one has finished. The only thread
added to the program's is the RSS sampler. Writes its raw records as JSON to
``--out``; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans as tracing  # noqa: E402
from workloads import RASTER_JOBS, SINK_JOBS, WORKLOADS, warm_passes  # noqa: E402

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        stack.extend(kids.get(p, ()))
    return total


class RssSampler(threading.Thread):
    """Peak RSS of this process tree (driver, JVM, Python workers): over
    the whole run, and per window between :meth:`take_window` calls."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.window_peak = 0
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    def run(self):
        pid = os.getpid()
        while not self._stop_evt.is_set():
            total = tree_rss_bytes(pid)
            with self._lock:
                self.peak = max(self.peak, total)
                self.window_peak = max(self.window_peak, total)
            self._stop_evt.wait(self.interval)

    def take_window(self) -> int:
        with self._lock:
            peak, self.window_peak = self.window_peak, 0
        return peak

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


# Public functions the raster CLI calls, timed from outside in traced runs:
# (module, function, kind). The plan builders return lazy DataFrames, so
# their time is plan building; the sink call covers the CSV write.
RASTER_CALLS = (
    ("compute_histogram_spark.multimodal.geotiff", "raster_minmax", "build"),
    ("compute_histogram_spark.multimodal.geotiff", "raster_histogram", "build"),
    ("compute_histogram_spark.operators.deciles", "deciles", "build"),
    ("compute_histogram_spark.sources.sinks", "write_histogram_csv", "sink"),
)


@contextlib.contextmanager
def timed_calls(targets, calls: dict[str, list]):
    """Wrap module-level functions for the duration of the block and append
    ``(module.function, start, end)`` of every call to ``calls[kind]``."""
    import importlib

    saved = []
    for mod_name, fn_name, kind in targets:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, fn_name)
        label = f"{mod_name.rsplit('.', 1)[-1]}.{fn_name}"

        def wrapper(*a, _fn=fn, _kind=kind, _label=label, **kw):
            t = time.time()
            try:
                return _fn(*a, **kw)
            finally:
                calls[_kind].append((_label, t, time.time()))

        saved.append((mod, fn_name, fn))
        setattr(mod, fn_name, wrapper)
    try:
        yield
    finally:
        for mod, fn_name, fn in saved:
            setattr(mod, fn_name, fn)


class Client:
    """Runs jobs by name, checks their outputs, optionally traces them."""

    def __init__(self, spark, args, data: dict, expected: dict):
        from compute_histogram_spark import cli, registry
        from compute_histogram_spark.session import release_persists
        from compute_histogram_spark.sources import sinks

        self.spark, self.args, self.data, self.expected = spark, args, data, expected
        self.cli, self.registry, self.sinks = cli, registry, sinks
        self.release = release_persists
        self.trace = tracing.Trace()
        self.records = tracing.SparkRecords(spark.sparkContext) if args.trace else None
        self.n = 0

    # -- running -----------------------------------------------------------
    def run(self, name: str, traced: bool) -> dict:
        self.n += 1
        out_dir = os.path.join(self.args.work, f"out-{name}")
        sc = self.spark.sparkContext
        group = f"bench-{self.n}-{name}"
        if traced:
            sc.setJobGroup(group, name)
        rec = {"name": name, "ok": False, "error": None}
        times = None
        result = None
        try:
            if name in RASTER_JOBS:
                times, result = self._raster(name, out_dir, traced)
            else:
                times, result = self._declared(name, out_dir)
        except Exception as e:  # noqa: BLE001 - a failed job is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            traceback.print_exc(file=sys.stderr)
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        if times is None:
            return rec
        rec["wall"] = times["wall"]
        try:
            rec["ok"], why = self._check(name, result)
            if not rec["ok"]:
                rec["error"] = why
        except Exception as e:  # noqa: BLE001 - an unreadable output is a failure
            rec["error"] = f"check: {type(e).__name__}: {e}"[:300]
        if traced:
            got = self.records.collect(group)
            acc = tracing.account(
                self.trace, name, times["t0"], times["t1"], times["t2"], got,
                builds=times["builds"], sinks=times["sinks"],
                raster=name in RASTER_JOBS,
            )
            rec["vector"], rec["layers"] = acc["vector"], acc["layers"]
            rec["trace_wall"], rec["vector_error"] = acc["wall"], acc["error"]
        return rec

    def _declared(self, name: str, out_dir: str):
        fn = self.registry.QUERIES[name]
        p0, t0 = time.perf_counter(), time.time()
        df = fn(self.spark, self.data["dir"])
        t1 = time.time()
        if name in SINK_JOBS:
            self.sinks.write_parquet(df, out_dir)
            result = ("parquet", out_dir)
        else:
            result = ("pandas", df.toPandas())
        t2, p2 = time.time(), time.perf_counter()
        self.release(df)
        times = {"t0": t0, "t1": t1, "t2": t2, "wall": p2 - p0,
                 "builds": [("registry.build", t0, t1)],
                 "sinks": [("sources.sink", t1, t2)] if name in SINK_JOBS else []}
        return times, result

    def _raster(self, name: str, out_dir: str, traced: bool):
        tif = os.path.join(self.data["dir"], "tif")
        if name == "raster_two_pass":
            argv = [tif, "--raster", "--output", out_dir, "--deciles"]
        else:
            argv = [tif, "--raster", "--min_value", repr(self.data["min"]),
                    "--max_value", repr(self.data["max"])]
        buf = io.StringIO()
        calls: dict[str, list] = {"build": [], "sink": []}
        timing = timed_calls(RASTER_CALLS, calls) if traced else contextlib.nullcontext()
        p0, t0 = time.perf_counter(), time.time()
        with contextlib.redirect_stdout(buf), timing:
            rc = self.cli.main(argv, spark=self.spark)
        t2, p2 = time.time(), time.perf_counter()
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        times = {"t0": t0, "t1": t0, "t2": t2, "wall": p2 - p0,
                 "builds": calls["build"], "sinks": calls["sink"]}
        return times, ("stdout", buf.getvalue(), out_dir)

    # -- checking (never timed) -------------------------------------------
    def _check(self, name: str, result) -> tuple[bool, str | None]:
        import checks  # pandas: imported after setup, so import_s is the program's

        if name in RASTER_JOBS:
            want = self.data["counts"]
            if name == "raster_two_pass":
                got = checks.read_histogram_csv(result[2])
                n_dec = sum(1 for ln in result[1].splitlines() if ln.startswith("p"))
                if n_dec == 0:
                    return False, "no decile lines printed"
            else:
                got = checks.histogram_lines(result[1])
            if got != want:
                return False, f"histogram counts differ ({len(got)} bins vs {len(want)})"
            return True, None
        kind, value = result[0], result[1]
        df = checks.read_parquet_dir(value) if kind == "parquet" else value
        got, want = checks.digest(df), self.expected.get(name)
        if want is None:
            return False, "no expected result"
        if got != want:
            return False, f"digest {got} != oracle {want}"
        return True, None


def measure_setup(args):
    """import + get_session + input resolution, timed separately."""
    t = time.perf_counter()
    from compute_histogram_spark import cli, registry  # noqa: F401
    from compute_histogram_spark.session import get_session
    from compute_histogram_spark.sources import tables

    import_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = get_session("benchmark")
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    if args.workload == "catalog_sf001":
        for name in tables.TABLES:
            tables.load(spark, args.data, name)
    else:
        os.listdir(os.path.join(args.data, "tif"))
    load_s = time.perf_counter() - t
    return spark, {"import_s": import_s, "start_s": start_s, "load_s": load_s}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sampler = RssSampler()
    sampler.start()
    spark, setup = measure_setup(args)
    spark.sparkContext.setLogLevel("ERROR")

    with open(args.expected) as f:
        exp = json.load(f)
    data = dict(exp["manifest"], dir=args.data)
    client = Client(spark, args, data, exp["digests"])

    rng = random.Random(args.seed)
    jobs = list(WORKLOADS[args.workload])

    pass_peaks = []

    def one_pass(traced: bool) -> list[dict]:
        order = jobs[:]
        rng.shuffle(order)
        sampler.take_window()
        recs = [client.run(n, traced) for n in order]
        pass_peaks.append(sampler.take_window())
        return recs

    out = {"setup": setup, "cold": one_pass(False), "warm": [], "traced": []}
    out["cold_peak_rss_bytes"] = sampler.peak
    if client.records is not None:
        client.records.skip_existing()
    n = warm_passes(args.workload, args.seconds)
    if args.trace:  # untraced and traced passes in pairs, which goes first alternating
        for i in range(max(2, n // 2)):
            for traced in (i % 2 == 1, i % 2 == 0):
                out["traced" if traced else "warm"].append(one_pass(traced))
    else:
        for _ in range(n):
            out["warm"].append(one_pass(False))

    out["peak_rss_bytes"] = sampler.stop()
    out["pass_peak_rss_bytes"] = pass_peaks
    sc = spark.sparkContext
    out["versions"] = {
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
    out["cores"] = sc.defaultParallelism
    if args.trace:
        path = os.path.join(args.work, "trace.jsonl")
        client.trace.dump(path)
        out["trace_file"] = path
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
