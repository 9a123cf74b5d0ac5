"""The generators are deterministic and the program reads what they write."""

import numpy as np
import pytest

import datagen


def test_same_seed_same_bytes():
    g1 = datagen.make_tiles(3, 2, 256)
    g2 = datagen.make_tiles(3, 2, 256)
    g3 = datagen.make_tiles(4, 2, 256)
    t1 = datagen.encode_tiled_float32(g1[0], datagen.NODATA)
    assert t1 == datagen.encode_tiled_float32(g2[0], datagen.NODATA)
    assert t1 != datagen.encode_tiled_float32(g3[0], datagen.NODATA)


def test_pixels_come_from_events_value():
    values = datagen.event_values()
    px = datagen.make_tiles(3, 2, 256)[0].ravel()
    drawn = px[~np.isnan(px) & (px != np.float32(datagen.NODATA))]
    assert np.isin(drawn, values.astype(np.float32)).all()
    assert 0.03 < np.isnan(px).mean() < 0.07


def test_tables_are_the_shipped_testdata():
    info = datagen.tables_info()
    assert info["rows"]["lineitem"] == 60_000
    assert set(info["rows"]) >= {"region", "nation", "customer", "supplier", "part",
                                 "orders", "lineitem", "events", "documents",
                                 "embeddings"}


def test_tiles_roundtrip_through_the_program_decoder():
    from compute_histogram_spark.multimodal.geotiff import decode_geotiff, geotiff_info

    grid = datagen.make_tiles(9, 2, 512)[0]
    blob = datagen.encode_tiled_float32(grid, datagen.NODATA)
    info = geotiff_info(blob)
    assert (info["width"], info["height"], info["nodata"]) == (512, 512, datagen.NODATA)
    assert np.array_equal(decode_geotiff(blob).view(np.uint32), grid.view(np.uint32))


@pytest.mark.parametrize("size", [
    pytest.param(256, marks=pytest.mark.xfail(
        strict=True, raises=ValueError,
        reason="decode_geotiff's 1100:1 deflate expansion guard rejects a "
               "valid all-NaN 256x256 float32 tile (predictor 3 compresses "
               "it about 1250:1)")),
    512, 1024,
])
def test_all_nan_tile_decodes(size):
    from compute_histogram_spark.multimodal.geotiff import decode_geotiff

    blob = datagen.encode_tiled_float32(
        np.full((size, size), np.nan, np.float32), datagen.NODATA)
    assert np.isnan(decode_geotiff(blob)).all()
