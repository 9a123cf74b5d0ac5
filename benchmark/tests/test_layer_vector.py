"""On the shipped tables and small tiles, Spark's records and the timed calls
explain each traced job's wall to within 10%."""

import types

import pytest

import datagen
import run
import worker


@pytest.fixture(scope="module")
def spark():
    from compute_histogram_spark.session import get_session

    s = get_session("benchmark-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def _client(spark, tmp_path, data_dir, info, expected):
    data = dict(info, dir=data_dir)
    args = types.SimpleNamespace(work=str(tmp_path), trace=1)
    return worker.Client(spark, args, data, expected)


def _assert_adds_up(rec):
    """The measured pieces (everything but the residual) explain the wall
    within 10%, and nothing measured falls outside it."""
    assert rec["ok"], rec["error"]
    assert rec["vector_error"] <= 0.10, rec["vector"]
    assert rec["vector"]["residual"] <= 0.10 * rec["trace_wall"]
    assert sum(rec["vector"].values()) == pytest.approx(rec["trace_wall"])
    assert all(v >= 0 for v in rec["vector"].values())


def test_declared_and_sink_jobs_add_up(spark, tmp_path):
    info = datagen.tables_info()
    names = ("pricing_summary", "normalized_dedup")
    expected = run.expected_digests(str(tmp_path / "data"), info, names)
    client = _client(spark, tmp_path, datagen.TABLES_DIR, info, expected)
    client.records.skip_existing()
    for name in names:
        rec = client.run(name, traced=True)
        _assert_adds_up(rec)
        assert rec["layers"]["plans.jobs"] >= 1
        assert rec["layers"]["sources.input_bytes"] > 0
    assert rec["layers"]["sources.sink_s"] > 0  # normalized_dedup writes parquet


def test_raster_job_adds_up_and_reads_tiles_three_times(spark, tmp_path):
    # 512-pixel tiles: see test_datagen.py for the 256-pixel all-NaN tile
    data_dir, info = datagen.tiles_dataset(str(tmp_path / "data"), 5, 3, 512)
    client = _client(spark, tmp_path, data_dir, info, {})
    client.records.skip_existing()
    rec = client.run("raster_two_pass", traced=True)
    _assert_adds_up(rec)
    reads = rec["layers"]["sources.input_bytes"] / info["tif_bytes"]
    assert reads == pytest.approx(3.0)
    assert rec["layers"]["geotiff.minmax_s"] > 0
    assert rec["layers"]["deciles.collect_s"] > 0
    # the program's plan-building and CSV sink calls are timed from outside
    assert rec["vector"]["build"] > 0
    assert rec["vector"]["sink"] > 0
