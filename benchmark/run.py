"""Benchmark entry point.

    python3 benchmark/run.py --workload raster_ep1 --seed 1 --seconds 16 --trace 0

Run from the repository root. Generates (or reuses) the seeded inputs for
the workload under ``.benchwork/``, computes the expected outputs once per
dataset, starts one fresh measured process (``worker.py``), checks every
job's output, and prints human-readable lines followed by one JSON object
on the last line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import datagen  # noqa: E402
import stats  # noqa: E402
from workloads import (  # noqa: E402
    ALL_JOBS, RASTER_JOBS, RASTER_SIZE, RASTER_TILES, WORKLOADS,
)

RUN_LIMIT_S = 150  # the whole command, clean-up included, must end within 180 s

END_TO_END = ("setup_s", "cold_s", "warm_s", "job_p50_s", "job_tail_s", "peak_rss_mb")
UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "job_p50_s": "s",
         "job_tail_s": "s", "peak_rss_mb": "MB"}

LAYER_SUMS = (
    "sources.metadata_s", "sources.input_bytes", "sources.input_records",
    "sources.scan_s", "sources.sink_s", "sources.output_bytes",
    "registry.build_s", "registry.eager_jobs", "registry.eager_s",
    "plans.plan_s", "plans.between_jobs_s", "plans.jobs", "plans.stages", "plans.tasks",
    "plans.broadcast_joins", "plans.sort_merge_joins",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.deserialize_s",
    "exec.spill_bytes",
    "exchange.write_bytes", "exchange.read_bytes", "exchange.records",
    "exchange.write_s", "exchange.fetch_wait_s",
    "python.start_s", "python.init_s", "python.run_s", "python.bytes_sent",
    "python.bytes_returned",
    "geotiff.minmax_s", "geotiff.histogram_s", "deciles.collect_s",
    "driver.residual_s",
)
PER_LAYER = (
    ("session.import_s", "session.start_s", "sources.load_s")
    + LAYER_SUMS
    + ("exec.peak_memory_bytes", "exec.busy_ratio", "geotiff.tile_reads",
       "trace.warm_untraced_s", "trace.warm_traced_s", "trace.overhead_ratio",
       "trace.vector_error_max")
    + tuple(f"q.{j}_s" for j in ALL_JOBS)
)


def fail(msg: str) -> int:
    print(f"benchmark: {msg}", file=sys.stderr)
    return 2


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "compute_histogram_spark", "cli.py"))


def cpu_canary() -> float:
    """Fixed CPU work (the bench.py calib_cpu row on DuckDB, one thread);
    best of two. Box state, not a metric."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=1")
    best = float("inf")
    for _ in range(2):
        t = time.perf_counter()
        con.execute("SELECT sum(hash(i)) FROM range(5000000) t(i)").fetchall()
        best = min(best, time.perf_counter() - t)
    con.close()
    return best


def expected_digests(cache_dir: str, info: dict, names) -> dict:
    """DuckDB's digest of ``registry.ORACLES[name]`` on the workload's
    tables, for each name that has an oracle.

    Cached in ``cache_dir`` per table-bytes hash, and each entry carries a
    hash of its oracle SQL: a changed oracle or changed tables recompute."""
    import hashlib

    from compute_histogram_spark import registry

    tables_dir = os.path.join(HERE, info["dir"])
    path = os.path.join(cache_dir, f"expected-{info['hash']}.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    sql = {n: registry.ORACLES[n] for n in names if n in registry.ORACLES}
    key = {n: hashlib.sha256(q.encode()).hexdigest()[:12] for n, q in sql.items()}
    out = {n: cached[n] for n in sql if cached.get(n, {}).get("sql") == key[n]}
    missing = [n for n in sql if n not in out]
    if missing:
        import duckdb

        import checks
        from compute_histogram_spark.sources.tables import TABLES

        con = duckdb.connect()
        con.execute("SET threads=4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(tables_dir, t)}.parquet'")
        for n in missing:
            out[n] = {"sql": key[n], "digest": checks.digest(con.sql(sql[n]).df())}
        con.close()
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump({**cached, **out}, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return {n: e["digest"] for n, e in out.items()}


def prepare(workload: str, seed: int, root: str) -> tuple[str, dict, dict]:
    """(input dir, input manifest, expected digests) of a workload."""
    if workload == "raster_ep1":
        path, info = datagen.tiles_dataset(root, seed, RASTER_TILES, RASTER_SIZE)
        return path, info, {}
    info = datagen.tables_info()
    return (os.path.join(HERE, info["dir"]), info,
            expected_digests(root, info, WORKLOADS[workload]))


def worker_env(work: str) -> dict:
    env = dict(os.environ)
    # Spark's Python workers import the program by module path, whatever
    # the caller's cwd and PYTHONPATH were.
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Every JVM (spark-submit's launcher and the driver) keeps its temp
    # files in the work dir and writes no perf-data file to /tmp.
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""),
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if p)
    return env


def run_worker(argv: list[str], env: dict, cwd: str, timeout: float) -> int:
    """Run ``worker.py`` in its own process group; afterwards make sure
    every process it started (JVM, Python workers) has ended."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py")] + argv,
        env=env, cwd=cwd, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        rc = -1
    finally:
        _reap_group(proc.pid)
    return rc


def _reap_group(pgid: int) -> None:
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def git_sha() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def walls_by_job(passes: list[list[dict]]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for p in passes:
        for r in p:
            if "wall" in r:
                out.setdefault(r["name"], []).append(r["wall"])
    return out


def median_pass(passes: list[list[dict]]) -> float:
    """A median pass: the sum over jobs of each job's median wall, so one
    disturbed pass does not move it."""
    return sum(stats.median(ws) for ws in walls_by_job(passes).values())


def end_to_end(raw: dict) -> tuple[dict, dict]:
    """Metric values and their sample counts."""
    cold = [r["wall"] for r in raw["cold"] if "wall" in r]
    jobs = [w for ws in walls_by_job(raw["warm"]).values() for w in ws]
    tail, pct, n = stats.tail(jobs)
    values = {
        "setup_s": sum(raw["setup"].values()),
        "cold_s": sum(cold),
        "warm_s": median_pass(raw["warm"]),
        "job_p50_s": stats.median(jobs),
        "job_tail_s": tail,
        "peak_rss_mb": raw["cold_peak_rss_bytes"] / 2**20,
    }
    counts = {"setup_s": 1, "cold_s": 1, "warm_s": len(raw["warm"]),
              "job_p50_s": len(jobs), "job_tail_s": n, "peak_rss_mb": 1,
              "job_tail_pct": pct}
    return values, counts


def per_layer(raw: dict, workload: str, info: dict) -> dict:
    traced = raw["traced"]
    out = {
        "session.import_s": raw["setup"]["import_s"],
        "session.start_s": raw["setup"]["start_s"],
        "sources.load_s": raw["setup"]["load_s"],
    }
    per_pass = []
    for p in traced:
        recs = [r for r in p if "layers" in r]
        s = {k: sum(r["layers"][k] for r in recs) for k in LAYER_SUMS}
        wall = sum(r["wall"] for r in recs)
        s["exec.peak_memory_bytes"] = max(
            (r["layers"]["exec.peak_memory_bytes"] for r in recs), default=0)
        s["exec.busy_ratio"] = s["exec.run_s"] / (wall * raw["cores"]) if wall else 0.0
        tif = info.get("tif_bytes")
        s["geotiff.tile_reads"] = (
            sum(r["layers"]["sources.input_bytes"] for r in recs
                if r["name"] in RASTER_JOBS) / tif if tif else 0.0)
        per_pass.append(s)
    for k in per_pass[0] if per_pass else ():
        out[k] = stats.median([s[k] for s in per_pass])
    untraced = median_pass(raw["warm"])
    traced_s = median_pass(traced)
    out["trace.warm_untraced_s"] = untraced
    out["trace.warm_traced_s"] = traced_s
    out["trace.overhead_ratio"] = traced_s / untraced - 1.0 if untraced else 0.0
    out["trace.vector_error_max"] = max(
        (r["vector_error"] for p in traced for r in p if "vector_error" in r),
        default=0.0)
    walls = walls_by_job(traced)
    for j in ALL_JOBS:
        out[f"q.{j}_s"] = stats.median(walls[j]) if j in walls else 0.0
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        return fail(f"program sources not found under {ROOT}; run from a "
                    "checkout of the repository")

    t_start = time.monotonic()
    work = os.path.join(ROOT, ".benchwork")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    load_before = os.getloadavg()
    jiffies_before = cpu_jiffies()
    canary = cpu_canary()

    t = time.perf_counter()
    data_dir, info, expected = prepare(args.workload, args.seed,
                                       os.path.join(work, "data"))
    prepare_s = time.perf_counter() - t
    expected_path = os.path.join(run_dir, "expected.json")
    with open(expected_path, "w") as f:
        json.dump({"manifest": info, "digests": expected}, f)

    env = worker_env(work)
    common = ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data_dir, "--expected", expected_path, "--work", run_dir]
    out_path = os.path.join(run_dir, "result.json")
    rc = run_worker(common + ["--out", out_path], env, run_dir,
                    timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - t_start)))
    if rc != 0 or not os.path.exists(out_path):
        return fail(f"measured process failed (exit {rc})")
    with open(out_path) as f:
        raw = json.load(f)

    recs = raw["cold"] + [r for p in raw["warm"] + raw["traced"] for r in p]
    attempted = len(recs)
    failed = sum(1 for r in recs if not r["ok"])
    for r in recs:
        if not r["ok"]:
            print(f"FAILED {r['name']}: {r['error']}")

    values, counts = end_to_end(raw)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{attempted} jobs, {failed} failed")
    for k in END_TO_END:
        extra = ""
        if k == "job_tail_s":
            pct = counts["job_tail_pct"]
            extra = f" p{pct:.1f}" + ("" if pct >= 90 else
                                      " (too few samples for a tail estimate)")
        print(f"  {k:<12} {values[k]:12.4f} {UNITS[k]:<3} n={counts[k]}{extra}")
    print(f"  {'failed_ratio':<12} {failed / attempted:12.4f} 1   n={attempted}")
    manifest = {
        "git_sha": git_sha(), "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"], "cores": raw["cores"],
        "versions": raw["versions"], "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(), "cpu_canary_s": canary,
        "cpu_steal_share": steal_share(jiffies_before, cpu_jiffies()),
        "prepare_s": prepare_s,
        "run_peak_rss_mb": raw["peak_rss_bytes"] / 2**20,
        "pass_peak_rss_mb": [round(b / 2**20) for b in raw["pass_peak_rss_bytes"]],
        "data": {k: v for k, v in info.items() if k != "counts"},
    }
    print("manifest " + json.dumps(manifest, sort_keys=True))

    if args.trace:
        metrics = per_layer(raw, args.workload, info)
        print(f"trace file {raw.get('trace_file')}")
        if info.get("tif_bytes"):
            reads = {r["name"]: r["layers"]["sources.input_bytes"] / info["tif_bytes"]
                     for p in raw["traced"] for r in p if "layers" in r}
            print("  tile reads per job: " + ", ".join(
                f"{k} {v:.2f}" for k, v in sorted(reads.items())))
        for k, v in metrics.items():
            print(f"  {k:<40} {v:.6g}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ratio") or name.endswith("_max") or name.endswith("tile_reads"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
