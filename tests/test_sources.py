"""Source helpers: band-from-filename ingestion (SURVEY K9/S1)."""

import pyarrow.parquet as pq
import pytest

from rio_toa_spark.sources.tables import read_band_files


def test_read_band_files_extracts_band(spark, fixture_paths, tmp_path):
    # split the tiles fixture into per-band files named like the
    # reference's LC8..._B5.TIF layout
    table = pq.read_table(fixture_paths["tiles"])
    paths = []
    for band in (4, 5):
        sub = table.filter(pq.filters_to_expression([("band", "=", band)])).drop_columns(["band"])
        p = str(tmp_path / ("tiles_B%d.parquet" % band))
        pq.write_table(sub, p)
        paths.append(p)
    df = read_band_files(spark, paths, template=r".*_B{b}\.parquet")
    got = {r.band for r in df.select("band").distinct().collect()}
    assert got == {4, 5}
    n4 = df.where("band = 4").count()
    assert n4 == table.filter(pq.filters_to_expression([("band", "=", 4)])).num_rows


def test_read_band_files_bad_template_raises(spark, tmp_path):
    p = str(tmp_path / "noband.parquet")
    with pytest.raises(ValueError, match="not a valid template"):
        read_band_files(spark, [p], template=r".*_B{b}\.parquet")
