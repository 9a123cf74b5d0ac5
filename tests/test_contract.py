"""Driver-contract invariants: the external driver checks EXACTLY 50
registered queries, each oracle-backed, plus a working entry(). A
rotation or refactor that breaks any of these fails here before it
costs a round (see VERDICT r04: two silently-unregistered entries)."""

import __spark_entry__ as entrymod

from compute_histogram_spark import registry


def test_registry_is_exactly_50_oracle_backed():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert len(qs) == 50, f"driver window must hold exactly 50, got {len(qs)}"
    assert set(os_) == set(qs), (
        "rows-only entries present: " + str(sorted(set(qs) - set(os_)))
    )
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in os_.values())


def test_registry_module_matches_entry_module():
    assert entrymod.queries().keys() == registry.QUERIES.keys()
    assert entrymod.oracle_sql().keys() == registry.ORACLES.keys()


def test_entry_runs_flagship(spark):
    df = entrymod.entry(spark)
    # stable, non-degenerate output with a stable schema
    assert len(df.columns) >= 2
    assert df.count() > 0


def test_each_query_name_has_one_catalog_entry():
    """bench.py's LOCAL_QUERIES/LOCAL_ORACLES hold only rows the registry
    does not: a name in both would let the bench time one function while
    the tools that look in the registry first time another. Importing
    bench builds no SparkSession."""
    import json
    import os
    import subprocess
    import sys

    import bench

    assert set(bench.LOCAL_QUERIES) & set(registry.QUERIES) == set()
    assert set(bench.LOCAL_ORACLES) & set(registry.QUERIES) == set()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = (
        "import json, bench; from pyspark import SparkContext; "
        "print(json.dumps(SparkContext._active_spark_context is None))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, capture_output=True,
        text=True, check=True,
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) is True


def _compact(queries):
    sweep = {
        "spark_total_s": 63.594, "duckdb_total_s": 96.675, "ratio": 0.658,
        "floor_adjusted_ratio": 0.648, "n_both": 26,
    }
    c = {
        "metric": "mixed_queries_warm_total", "value": 18.605,
        "unit": "sec", "sf": 0.1, "n_ok": 26, "n_err": 0,
        "fresh_total": 15.108,
    }
    c.update({k: dict(sweep) for k in ("sf10", "sf1", "sf01", "tpch_sf1",
                                        "tpch_sf10")})
    c["full"] = "tools/bench_full.json"
    c["queries"] = queries
    return c


def test_compact_line_keeps_headline_map_whole():
    import json

    import bench

    queries = {n: round(0.25 + 0.091 * i, 3)
               for i, n in enumerate(bench.HEADLINE)}
    compact = _compact(queries)
    line = bench.compact_line(compact)
    assert len(line) <= 1900
    assert json.loads(line) == compact  # nothing shed


def test_compact_line_fits_an_oversized_queries_map():
    import json

    import bench

    queries = {f"query_number_{i:03d}": round(0.01 * i + 0.5, 2)
               for i in range(300)}
    line = bench.compact_line(_compact(queries))
    assert len(line) <= 1900
    got = json.loads(line)
    assert got["metric"] == "mixed_queries_warm_total"
    kept = got["queries"]
    assert 0 < len(kept) < 300
    # the slowest queries are the ones kept
    slowest = sorted(queries, key=queries.get, reverse=True)[: len(kept)]
    assert set(kept) == set(slowest)
