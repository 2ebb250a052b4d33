"""Resumability: kill-and-rerun produces identical output (port of the
north rule's checkpoint/lineage requirement)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from rio_toa_spark.operators import toa
from rio_toa_spark.plans.manifest import ResumableJob


def _result_rows(spark, path):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("scene_id", "band", "tile_row", "tile_col", "px_min", "px_max")
        .collect()
    )


@pytest.fixture()
def toa_stats(spark, tiles_df, scenes_df):
    return toa.tile_stats(toa.radiance_tiles(tiles_df, scenes_df, band=5))


def test_kill_and_resume_identical(spark, toa_stats, tmp_path):
    lineage = {"op": "radiance", "band": 5, "fixture": "unit"}

    # one-shot reference run
    ref_path = str(tmp_path / "oneshot")
    ResumableJob(ref_path, "scene_id", lineage).run(toa_stats)
    expected = _result_rows(spark, ref_path)

    # killed run: only the first scene's chunk committed before the
    # kill — the same job (same lineage) over just that scene
    out_path = str(tmp_path / "resumable")
    job = ResumableJob(out_path, "scene_id", lineage)
    first = toa_stats.agg(F.min("scene_id")).first()[0]
    stats1 = job.run(toa_stats.where(F.col("scene_id") == first), chunk_partitions=1)
    assert stats1["chunks_run"] == 1
    assert job.completed_partitions() == {first}

    # resume to completion
    job2 = ResumableJob(out_path, "scene_id", lineage)
    stats2 = job2.run(toa_stats, chunk_partitions=1)
    assert stats2["previously_done"] == 1
    assert _result_rows(spark, out_path) == expected

    # idempotent: a third run does nothing and changes nothing
    stats3 = ResumableJob(out_path, "scene_id", lineage).run(toa_stats)
    assert stats3["chunks_run"] == 0
    assert _result_rows(spark, out_path) == expected


def test_metrics_and_lineage_recorded(spark, toa_stats, tmp_path):
    path = str(tmp_path / "metrics")
    lineage = {"op": "radiance", "band": 5}
    job = ResumableJob(path, "scene_id", lineage)
    job.run(toa_stats, chunk_partitions=2)
    m = job.metrics(spark)
    rows = m.collect()
    assert {r.partition for r in rows} == {r.scene_id for r in toa_stats.select("scene_id").distinct().collect()}
    assert all(r.rows > 0 and r.chunk_wall_sec > 0 for r in rows)
    assert all(json.loads(r.lineage) == lineage for r in rows)


def test_lineage_mismatch_refuses(spark, toa_stats, tmp_path):
    path = str(tmp_path / "lineage")
    ResumableJob(path, "scene_id", {"v": 1}).run(toa_stats)
    with pytest.raises(ValueError, match="lineage"):
        ResumableJob(path, "scene_id", {"v": 2}).run(toa_stats)


def test_reprocessing_partition_does_not_duplicate(spark, toa_stats, tmp_path):
    """Dynamic partition overwrite: deleting a manifest record and
    rerunning rewrites that partition without row duplication."""
    path = str(tmp_path / "rewrite")
    job = ResumableJob(path, "scene_id", {})
    job.run(toa_stats, chunk_partitions=1)
    expected = _result_rows(spark, path)
    # drop one manifest record -> its partition is "incomplete"
    manifest_dir = os.path.join(path, "_manifest")
    victim = sorted(os.listdir(manifest_dir))[0]
    os.remove(os.path.join(manifest_dir, victim))
    job2 = ResumableJob(path, "scene_id", {})
    job2.run(toa_stats, chunk_partitions=1)
    assert _result_rows(spark, path) == expected


def test_snapshots_record_each_commit(spark, toa_stats, tmp_path):
    """snapshots() lists the commit log oldest first, one record per
    committed chunk — the Iceberg-snapshot analogue over the manifest
    log."""
    out = str(tmp_path / "snap")
    job = ResumableJob(out, "scene_id", {"op": "radiance", "v": 1})
    job.run(toa_stats, chunk_partitions=1)

    snaps = job.snapshots()
    assert len(snaps) == 4  # one chunk per scene
    assert [len(s["partitions"]) for s in snaps] == [1, 1, 1, 1]
