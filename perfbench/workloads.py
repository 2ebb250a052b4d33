"""The workloads: each is a fixed list of jobs, run in order once
per pass. A job is one call into a public operator or into
``rio_toa_spark.cli.main(argv)``, timed through the end of its action;
its check then compares the output with the expectations generated
beside the inputs (inputs.py), outside the timed region.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from perfbench import inputs


@dataclass
class Ctx:
    spark: Any
    d: str  # input dir
    expect: dict
    out: str  # this job's output dir (deleted after every job)

    def path(self, name: str) -> str:
        return os.path.join(self.d, name)


@dataclass
class Job:
    name: str  # metric prefix, e.g. cli.radiance
    layer: str  # engine module the call exercises
    run: Callable[[Ctx], tuple[Any, float | None]]  # -> (result, plan_s)
    check: Callable[[Ctx, Any], str | None]  # -> None, or what is wrong


def _cli(ctx: Ctx, *argv: str) -> tuple[dict | None, None]:
    from rio_toa_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli.main(list(argv))
    lines = buf.getvalue().strip().splitlines()
    return (json.loads(lines[-1]) if lines else None), None


def _split(build: Callable[[], Any], act: Callable[[Any], Any]) -> tuple[Any, float]:
    """Build the DataFrame (eager driver work included), then run its
    action; returns (result, build seconds)."""
    t0 = time.perf_counter()
    df = build()
    plan_s = time.perf_counter() - t0
    return act(df), plan_s


def _observe_noop(**aggs):
    """Action: write to the noop sink while an Observation computes the
    check's aggregates on the same pass."""

    def act(df):
        from pyspark.sql import Observation

        obs = Observation()
        df.observe(obs, *[e.alias(k) for k, e in aggs.items()]).write.format("noop").mode(
            "overwrite"
        ).save()
        return {k: (v if v is not None else 0) for k, v in obs.get.items()}

    return act


def _rows_and_digest(a: str, b: str, c: str | None = None):
    """Action: noop sink, observing the row count and the Spark twin of
    inputs.row_digest over string columns a, b (and integer column c)."""
    from pyspark.sql import functions as F

    h = F.pmod(
        (F.crc32(F.col(a).cast("binary")) * 4 + (F.col(c).cast("long") if c else F.lit(0))) * 1000003
        + F.crc32(F.col(b).cast("binary")),
        F.lit(inputs.M31),
    )
    return _observe_noop(rows=F.count(F.lit(1)), digest=F.coalesce(F.sum(h), F.lit(0)))


def _expect_equal(got: dict, want: dict) -> str | None:
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    return None if not bad else "got != expected: %r" % bad


def _read_out(ctx: Ctx):
    import pyarrow.dataset as ds

    return ds.dataset(ctx.out, format="parquet", partitioning="hive").to_table()


# --------------------------------------------------------- scene_toa


def _check_toa(kind: str, band: int):
    def check(ctx: Ctx, _result) -> str | None:
        t = _read_out(ctx).to_pydict()
        want = ctx.expect["toa"][kind]
        if set(t["band"]) != {band}:
            return "bands %r" % sorted(set(t["band"]))
        got = {
            "%s/%d/%d" % (s, r, c): hashlib.md5(p).hexdigest()
            for s, r, c, p in zip(t["scene_id"], t["tile_row"], t["tile_col"], t["pixels"])
        }
        if len(t["pixels"]) != len(want):
            return "%d tiles, expected %d" % (len(t["pixels"]), len(want))
        bad = [k for k, v in want.items() if got.get(k) != v]
        return None if not bad else "%d/%d tiles differ bitwise, e.g. %s" % (len(bad), len(want), bad[0])

    return check


def _zones(spark, scenes_path: str, inset):
    from pyspark.sql import functions as F

    from rio_toa_spark.operators.spatial_join import scene_footprints

    fw, fs, fe, fn = (F.col(c) for c in ("fw", "fs", "fe", "fn"))
    a, b, c, d = inset
    return scene_footprints(spark.read.parquet(scenes_path)).select(
        F.col("scene_id").alias("zone_id"),
        (fw + F.lit(a) * (fe - fw)).alias("fw"),
        (fs + F.lit(b) * (fn - fs)).alias("fs"),
        (fw + F.lit(c) * (fe - fw)).alias("fe"),
        (fs + F.lit(d) * (fn - fs)).alias("fn"),
    )


def _zonal(ctx: Ctx):
    from rio_toa_spark.operators import zonal

    return _split(
        lambda: zonal.zonal_stats(
            ctx.spark.read.parquet(ctx.path("tiles.parquet")),
            _zones(ctx.spark, ctx.path("scenes.parquet"), ctx.expect["zone_inset"]),
        ),
        lambda df: df.collect(),
    )


def _check_zonal(ctx: Ctx, rows) -> str | None:
    want = ctx.expect["zonal"]
    got = {"%s/%d" % (r.zone_id, r.band): r for r in rows}
    if set(got) != set(want):
        return "zones %r, expected %r" % (sorted(got), sorted(want))
    for k, (count, total, lo, hi) in want.items():
        r = got[k]
        if (r.px_count, r.px_min, r.px_max, r.px_mean) != (count, lo, hi, total / count):
            return "%s: got %r, expected %r" % (k, r, (count, total / count, lo, hi))
    return None


def _scene_toa_jobs() -> list[Job]:
    def cli_job(name, band, kind, *extra):
        return Job(
            "cli." + name,
            "toa",
            lambda ctx: _cli(
                ctx, name, ctx.path("tiles.parquet"), ctx.path("scenes.parquet"), ctx.out, *extra
            ),
            _check_toa(kind, band),
        )

    return [
        cli_job("radiance", 5, "radiance", "--band", "5"),
        cli_job("reflectance", 4, "reflectance", "--bands", "4", "--pixel-sunangle"),
        Job("zonal.zonal_stats", "zonal", _zonal, _check_zonal),
    ]


# --------------------------------------------------------- web_pages


def _pip(ctx: Ctx):
    from rio_toa_spark.operators.spatial_join import pip_join, scene_footprints

    spark = ctx.spark
    return _split(
        lambda: pip_join(
            spark.read.parquet(ctx.path("pages.parquet")),
            scene_footprints(spark.read.parquet(ctx.path("scenes.parquet"))),
            level=inputs.PIP_LEVEL,
        ).select("url", "scene_id"),
        _rows_and_digest("url", "scene_id"),
    )


def _knn(ctx: Ctx):
    from rio_toa_spark.operators.spatial_join import knn_join

    spark = ctx.spark
    return _split(
        lambda: knn_join(
            spark.read.parquet(ctx.path("pages.parquet")),
            spark.read.parquet(ctx.path("tiles.parquet")),
            k=inputs.KNN_K,
            strategy="broadcast",
        ),
        _rows_and_digest("url", "tile_id", "rank"),
    )


def _textstats(ctx: Ctx):
    from pyspark.sql import functions as F

    from rio_toa_spark.operators.textstats import quality_features, with_extracted_text

    return _split(
        lambda: quality_features(
            with_extracted_text(ctx.spark.read.parquet(ctx.path("docs.parquet"))),
            text="extracted_text",
        ),
        _observe_noop(
            docs=F.count(F.lit(1)),
            tokens=F.sum("n_tokens"),
            mismatched=F.sum((F.col("extracted_text") != F.col("text")).cast("long")),
        ),
    )


def _exact_dedup(ctx: Ctx):
    from pyspark.sql import functions as F

    from rio_toa_spark.operators.dedup import exact_dedup

    return _split(
        lambda: exact_dedup(ctx.spark.read.parquet(ctx.path("docs.parquet"))),
        _observe_noop(
            rows=F.count(F.lit(1)),
            docs=F.sum("dup_count"),
            key_sum=F.sum("doc_id"),
            dup_groups=F.sum((F.col("dup_count") > 1).cast("long")),
        ),
    )


def _check_sample(ctx: Ctx, summary) -> str | None:
    got = sorted(_read_out(ctx).column("doc_id").to_pylist())
    if summary is None or summary.get("kept") != len(got):
        return "CLI summary %r, but %d rows written" % (summary, len(got))
    if got != ctx.expect["sampled"]:
        return "kept %d docs, expected the %d keyed-md5 members" % (len(got), len(ctx.expect["sampled"]))
    return None


def _topk(ctx: Ctx):
    from rio_toa_spark.operators.similarity import cosine_topk

    spark = ctx.spark
    return _split(
        lambda: cosine_topk(
            spark.read.parquet(ctx.path("emb.parquet")),
            spark.read.parquet(ctx.path("queries.parquet")),
            k=inputs.TOPK,
        ),
        lambda df: df.collect(),
    )


def _check_topk(ctx: Ctx, rows) -> str | None:
    """Exact top-k against the numpy ranking; at a near tie on the k-th
    place (cosines within 1e-9) either neighbour is accepted."""
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.q_id, r.rank)):
        got.setdefault(r.q_id, []).append((r.vec_id, r.cosine))
    for q, want in ctx.expect["topk"].items():
        g = got.get(int(q), [])
        if len(g) != inputs.TOPK:
            return "query %s: %d results" % (q, len(g))
        for (gid, gc), (wid, wc) in zip(g, want):
            if abs(gc - wc) > 1e-9:
                return "query %s: cosine %r, expected %r" % (q, gc, wc)
            if gid != wid and abs(wc - want[inputs.TOPK][1]) > 1e-9:
                return "query %s: vec %d, expected %d" % (q, gid, wid)
    return None


def _check_media(ctx: Ctx, summary) -> str | None:
    t = _read_out(ctx).to_pydict()
    feats, kinds = ctx.expect["media_features"], ctx.expect["media_kinds"]
    if summary is None or summary.get("genuine") != len(feats):
        return "CLI summary %r" % (summary,)
    for mid, f, status in zip(t["media_id"], t["features"], t["decode_status"]):
        kind = kinds[str(mid)]
        if status != "genuine_" + kind:
            return "media %d decoded as %s" % (mid, status)
        want = np.array(feats[str(mid)], dtype=np.float32)
        got = np.array(f, dtype=np.float32)
        # PNG is lossless, so features match up to float32 reduction
        # order; JPEG (q92, smooth images) is lossy but close
        tol = 1e-3 if kind == "png" else 4.0
        if np.abs(got - want).max() > tol:
            return "media %d features %r, expected %r" % (mid, got, want)
    return None if len(t["media_id"]) == len(feats) else "%d media rows" % len(t["media_id"])


def _web_pages_jobs() -> list[Job]:
    return [
        Job(
            "spatial_join.pip_join",
            "spatial_join",
            _pip,
            lambda ctx, got: _expect_equal(got, ctx.expect["pip_scenes"]),
        ),
        Job(
            "spatial_join.knn_join",
            "spatial_join",
            _knn,
            lambda ctx, got: _expect_equal(got, ctx.expect["knn"]),
        ),
        Job(
            "textstats",
            "textstats",
            _textstats,
            lambda ctx, got: _expect_equal(
                got, {"docs": ctx.expect["docs"], "tokens": ctx.expect["tokens"], "mismatched": 0}
            ),
        ),
        Job(
            "dedup.exact_dedup",
            "dedup",
            _exact_dedup,
            lambda ctx, got: _expect_equal(got, {"docs": ctx.expect["docs"], **ctx.expect["exact"]}),
        ),
        Job(
            "cli.sample",
            "sampling",
            lambda ctx: _cli(ctx, "sample", ctx.path("docs.parquet"), ctx.out, "--rate", str(inputs.SAMPLE_RATE)),
            _check_sample,
        ),
        Job("similarity.cosine_topk", "similarity", _topk, _check_topk),
        Job("cli.media", "multimodal", lambda ctx: _cli(ctx, "media", ctx.path("media.parquet"), ctx.out), _check_media),
    ]


WORKLOADS: dict[str, Callable[[], list[Job]]] = {
    "scene_toa": _scene_toa_jobs,
    "web_pages": _web_pages_jobs,
}
# Timed passes per plain run, fixed per workload and independent of
# --seconds and of host speed: after one warm-up pass the JVM is still
# compiling and a second pass runs 10-20 % faster, so a pass count that
# moved with speed would move pass_s on its own.
PASSES = {"scene_toa": 2, "web_pages": 1}

# Per-layer names (by prefix) a workload's traced run must report: a
# run in which one is missing, or zero where ZERO_OK does not allow it,
# fails. Names of the other workload's layers read 0.
TRACED_COMMON = (
    "session.", "kernels.", "sun.", "cells.", "mtl.", "write.", "spark.",
    "peak_rss_mb", "trace_overhead_s", "host.",
)
TRACED = {
    "scene_toa": TRACED_COMMON + ("toa.", "cli.radiance.", "cli.reflectance.", "zonal."),
    "web_pages": TRACED_COMMON
    + ("spatial_join.", "textstats.", "dedup.", "cli.sample.", "similarity.", "cli.media.", "multimodal."),
}
ZERO_OK = {"spark.failed_tasks", "host.steal_frac", "trace_overhead_s"}


def untraced(workload: str, names, values: dict) -> list[str]:
    """The names among ``names`` that belong to the workload's layers
    but that the traced run did not produce: missing, or zero where
    ZERO_OK does not allow it. A missing name is a renamed Spark metric
    or a node attributed to the wrong layer, not "does not apply"."""
    return [
        n for n in names
        if n.startswith(TRACED[workload]) and (n not in values or (values[n] == 0 and n not in ZERO_OK))
    ]
