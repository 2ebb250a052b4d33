"""Command-line entry points (the Spark analogue of the reference's
``rio toa`` CLI, rio_toa/scripts/cli.py:22-157), runnable directly or
via ``spark-submit --py-files``.

    python -m rio_toa_spark.cli radiance   TILES SCENES DST --band 5
    python -m rio_toa_spark.cli reflectance TILES SCENES DST --bands 2 3 4 [--pixel-sunangle]
    python -m rio_toa_spark.cli brighttemp TILES SCENES DST --band 10 [--temp-scale K]
    python -m rio_toa_spark.cli parsemtl   MTL_TXT_FILE
    python -m rio_toa_spark.cli pipjoin    PAGES SCENES DST [--strategy broadcast]
    python -m rio_toa_spark.cli dedup      DOCS DST [--threshold 0.8]
    python -m rio_toa_spark.cli sample     DOCS DST (--rate R | --mixture dom=w,dom=w)
    python -m rio_toa_spark.cli media      MEDIA DST [--thumb 8]

TILES/SCENES/PAGES are parquet paths (tables per sources/fixtures
schemas); DST is a parquet output directory; with --resume it is written
through the manifest checkpoint layer (idempotent chunk commits,
anti-join resume; plans/manifest.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from rio_toa_spark.session import get_spark

    return get_spark(app_name="rio_toa_spark_cli", master=args.master)


def _write(df, dst, partition_cols=("scene_id", "band"), args=None):
    """Plain partitioned write, or — with --resume — a manifest-
    checkpointed ResumableJob keyed on the first partition column
    (idempotent dynamic-partition-overwrite chunks; see
    plans/manifest.py)."""
    cols = [c for c in partition_cols if c in df.columns]
    if args is not None and getattr(args, "resume", False) and cols:
        from rio_toa_spark.plans.manifest import ResumableJob

        # the lineage fingerprint must cover EVERY parameter that
        # changes the output, not just the input paths — otherwise
        # rerunning with e.g. a different --band would find all
        # partitions committed and silently keep stale data
        lineage = {
            k: (sorted(v) if isinstance(v, list) else v)
            for k, v in sorted(vars(args).items())
            if k not in ("fn", "master", "resume", "chunk_partitions", "dst")
            and v is not None
        }
        job = ResumableJob(dst, cols[0], lineage=lineage)
        stats = job.run(df, chunk_partitions=getattr(args, "chunk_partitions", 0))
        print(json.dumps(stats))
        return
    writer = df.write.mode("overwrite")
    if cols:
        writer = writer.partitionBy(*cols)
    writer.parquet(dst)


def cmd_radiance(args):
    from rio_toa_spark.operators import toa

    spark = _spark(args)
    out = toa.radiance_tiles(
        spark.read.parquet(args.tiles),
        spark.read.parquet(args.scenes),
        band=args.band,
        dst_dtype=args.dst_dtype,
        rescale_factor=args.rescale_factor,
        clip=not args.no_clip,
    )
    _write(out, args.dst, args=args)


def cmd_reflectance(args):
    import re

    from rio_toa_spark.operators import toa
    from rio_toa_spark.sources.tables import read_band_files

    spark = _spark(args)
    # variadic sources: TILES may be a comma-separated list of parquet
    # paths (reference cli.py:54-55 takes nargs=-1 srcs)
    paths = args.tiles.split(",")
    if args.l8_bidx == 0:
        # reference cli.py:96-97: bidx 0 derives each band from the
        # source file name via the template; --bands then defaults to
        # every band present in the file names
        tiles = read_band_files(spark, paths, template=args.template)
        pattern = re.compile(args.template.replace("{b}", "([0-9]+?)"))
        bands = args.bands or sorted({int(pattern.match(p).group(1)) for p in paths})
    elif args.l8_bidx is not None:
        # reference cli.py:96-101: a non-zero bidx is the explicit band
        # index for the source (skips filename derivation entirely)
        if args.l8_bidx < 1 or args.l8_bidx > 11:
            raise SystemExit(
                "--l8-bidx must be 0 (derive from filename) or a Landsat-8 "
                "band 1-11, got %d" % args.l8_bidx
            )
        tiles = spark.read.parquet(*paths)
        bands = [args.l8_bidx]
    else:
        tiles = spark.read.parquet(*paths)
        bands = args.bands or [4]
    out = toa.reflectance_tiles(
        tiles,
        spark.read.parquet(args.scenes),
        bands=bands,
        dst_dtype=args.dst_dtype,
        rescale_factor=args.rescale_factor,
        clip=not args.no_clip,
        per_pixel_sun=args.pixel_sunangle,
    )
    _write(out, args.dst, args=args)


def cmd_brighttemp(args):
    from rio_toa_spark.operators import toa

    spark = _spark(args)
    out = toa.brightness_temp_tiles(
        spark.read.parquet(args.tiles),
        spark.read.parquet(args.scenes),
        band=args.band,
        temp_scale=args.temp_scale,
        dst_dtype=args.dst_dtype,
    )
    _write(out, args.dst, args=args)


def cmd_resume_inspect(args):
    """Print a resumable output dir's commit log (and optionally its
    per-partition metrics) as JSON — the operator's view of what a
    killed/resumed job has durably finished."""
    from rio_toa_spark.plans.manifest import ResumableJob

    job = ResumableJob(args.dst, args.partition_col)
    out = {"snapshots": job.snapshots(), "completed": sorted(job.completed_partitions())}
    if args.metrics:
        spark = _spark(args)
        out["metrics"] = [r.asDict() for r in job.metrics(spark).collect()]
    print(json.dumps(out, indent=2))


def cmd_ingest(args):
    from rio_toa_spark.sources.geotiff import ingest_cli

    spark = _spark(args)
    ingest_cli(spark, args.srcs.split(","), args.dst, tile_size=args.tile_size)


def cmd_parsemtl(args):
    """MTL ODL text -> JSON on stdout (reference: cli.py:146-157,
    minus its IOError-path NameError bug)."""
    from rio_toa_spark.functions.mtl import parse_mtl_txt

    text = sys.stdin.read() if args.mtl == "-" else open(args.mtl).read()
    json.dump(parse_mtl_txt(text), sys.stdout)
    sys.stdout.write("\n")


def cmd_dedup(args):
    """End-to-end near-duplicate removal: minhash-LSH candidate pairs
    -> exact Jaccard verify at --threshold -> connected-component
    clusters -> keep one representative per cluster. Prints the kept /
    dropped counts as JSON and writes the surviving rows."""
    from rio_toa_spark.operators.dedup import (
        drop_duplicates_clustered,
        ngram_jaccard_pairs,
    )

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    # input count first: a column-pruned scan of the source parquet,
    # NOT a second run of the dedup pipeline
    n_in = docs.count()
    # pairs=None fuses LSH candidate generation with the exact verify
    pairs = ngram_jaccard_pairs(docs, threshold=args.threshold).select("a", "b")
    kept = drop_duplicates_clustered(docs, pairs)
    # the kept count rides the write via observe() — ONE execution of
    # the LSH -> verify -> cluster -> anti-join pipeline per CLI run
    # (a trailing kept.count() would replay all of it; same pattern as
    # plans/manifest.py ResumableJob.run)
    obs = Observation()
    _write(kept.observe(obs, F.count(F.lit(1)).alias("n_kept")), args.dst, (), args=args)
    n_kept = int(obs.get["n_kept"])
    print(json.dumps({"input": n_in, "kept": n_kept, "dropped": n_in - n_kept}))


def cmd_sample(args):
    """Deterministic curation sampling: --rate keeps a keyed-md5
    Bernoulli sample; --mixture 'dom=w,dom=w' hits target domain
    proportions at the largest size the inventory allows. Membership
    is a pure function of (seed, key): stable across reruns, cluster
    sizes, and engines (operators/sampling.py)."""
    from rio_toa_spark.operators.sampling import hash_sample, mixture_sample

    if (args.rate is None) == (args.mixture is None):
        raise SystemExit("exactly one of --rate / --mixture is required")
    spark = _spark(args)

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # the input count is observed ON the shared scan, upstream of the
    # map-side sample filter, so both counts ride the ONE write job —
    # no trailing docs.count() second pass (same single-pass discipline
    # as cmd_dedup / ResumableJob). For --mixture the inventory job
    # inside mixture_sample may fulfil the observation first; either
    # job sees every input row, so the count is identical.
    obs_in = Observation()
    docs = spark.read.parquet(args.docs).observe(
        obs_in, F.count(F.lit(1)).alias("n_in")
    )
    if args.rate is not None:
        out = hash_sample(docs, args.rate, key=args.key, seed=args.seed)
    else:
        weights = {}
        for part in args.mixture.split(","):
            dom, w = part.split("=")
            weights[dom] = float(w)
        out = mixture_sample(
            docs, weights, domain=args.domain, key=args.key, seed=args.seed
        )
    # kept count rides the write (one pass over the map-side filter)
    obs = Observation()
    _write(out.observe(obs, F.count(F.lit(1)).alias("n_kept")), args.dst, (), args=args)
    print(json.dumps({"input": int(obs_in.get["n_in"]), "kept": int(obs.get["n_kept"])}))


def cmd_media(args):
    """Multimodal feature extraction: binary payloads -> genuine
    decode (PNG/JPEG incl. progressive; labeled stub fallback) ->
    nearest-neighbor thumbnail -> per-channel mean/std features.
    Prints a decode-provenance summary as JSON — the counts ride the
    ONE write job via Observation, so a 100 TB run learns its
    genuine-vs-fallback decode mix for free."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from rio_toa_spark.operators.multimodal import (
        decode_image,
        image_features,
        resize_image,
    )

    spark = _spark(args)
    media = spark.read.parquet(args.media)
    if args.kind == "audio":
        from rio_toa_spark.operators.multimodal import audio_features, decode_audio

        feats = audio_features(
            decode_audio(media, payload=args.payload, key=args.key), key=args.key
        )
    else:
        feats = image_features(
            resize_image(
                decode_image(media, payload=args.payload, key=args.key),
                out_h=args.thumb,
                out_w=args.thumb,
                key=args.key,
            ),
            key=args.key,
        )
    obs = Observation()
    observed = feats.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        # coalesce: SUM over zero rows is NULL, and int(None) would
        # raise after the (successful) write on an empty input
        F.coalesce(
            F.sum(F.col("decode_status").startswith("genuine").cast("long")), F.lit(0)
        ).alias("n_genuine"),
        F.coalesce(
            F.sum((F.col("decode_status") == "stub").cast("long")), F.lit(0)
        ).alias("n_stub"),
    )
    _write(observed, args.dst, (), args=args)
    print(
        json.dumps(
            {
                "input": int(obs.get["n"]),
                "genuine": int(obs.get["n_genuine"]),
                "stub": int(obs.get["n_stub"]),
            }
        )
    )


def cmd_pipjoin(args):
    from rio_toa_spark.operators.spatial_join import pip_join, scene_footprints

    spark = _spark(args)
    out = pip_join(
        spark.read.parquet(args.pages),
        scene_footprints(spark.read.parquet(args.scenes)),
        level=args.level,
        strategy=args.strategy,
    )
    _write(out.select("url", "scene_id", "lon", "lat"), args.dst, ("scene_id",), args=args)


def main(argv=None):
    ap = argparse.ArgumentParser(prog="rio_toa_spark")
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    def common(p, thermal=False):
        p.add_argument("tiles")
        p.add_argument("scenes")
        p.add_argument("dst")
        p.add_argument("--resume", action="store_true",
                       help="manifest-checkpointed write (resumable; plans/manifest.py)")
        p.add_argument("--chunk-partitions", type=int, default=0,
                       help="partition values per resumable chunk (0 = one chunk)")
        p.add_argument("--dst-dtype", default="float32", choices=["uint8", "uint16", "float32", "float64"])
        if not thermal:
            p.add_argument("--rescale-factor", "-r", type=float, default=None)
            p.add_argument("--no-clip", action="store_true")

    p = sub.add_parser("radiance")
    common(p)
    p.add_argument("--band", "-b", type=int, default=5)
    p.set_defaults(fn=cmd_radiance)

    p = sub.add_parser("reflectance")
    common(p)
    p.add_argument("--bands", type=int, nargs="+", default=None)
    p.add_argument("--pixel-sunangle", "-p", action="store_true")
    p.add_argument(
        "--l8-bidx",
        type=int,
        default=None,
        help="0 = derive band from each source file name (reference cli.py:96-97)",
    )
    p.add_argument("--template", "-t", default=r".*_B{b}\.parquet")
    p.set_defaults(fn=cmd_reflectance)

    p = sub.add_parser("brighttemp")
    common(p, thermal=True)
    p.add_argument("--band", "-b", type=int, default=10)
    p.add_argument("--temp-scale", "-s", default="K", choices=["K", "F", "C"])
    p.set_defaults(fn=cmd_brighttemp)

    p = sub.add_parser("parsemtl")
    p.add_argument("mtl", nargs="?", default="-")
    p.set_defaults(fn=cmd_parsemtl)

    p = sub.add_parser(
        "resume-inspect",
        help="print a resumable output dir's commit log / metrics as JSON",
    )
    p.add_argument("dst")
    p.add_argument("--partition-col", default="scene_id")
    p.add_argument("--metrics", action="store_true")
    p.set_defaults(fn=cmd_resume_inspect)

    p = sub.add_parser(
        "ingest",
        help="GeoTIFF files -> partitioned parquet tile table "
        "(requires rasterio; sources/geotiff.py)",
    )
    p.add_argument("srcs", help="comma-separated *_B{n}.TIF paths")
    p.add_argument("dst")
    p.add_argument("--tile-size", type=int, default=512)
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser(
        "dedup",
        help="near-dup removal: LSH -> Jaccard verify -> cluster -> "
        "keep one representative per cluster",
    )
    p.add_argument("docs")
    p.add_argument("dst")
    p.add_argument("--threshold", type=float, default=0.8)
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser(
        "sample",
        help="deterministic keyed sampling: --rate R or --mixture dom=w,dom=w",
    )
    p.add_argument("docs")
    p.add_argument("dst")
    p.add_argument("--rate", type=float, default=None)
    p.add_argument("--mixture", default=None)
    p.add_argument("--domain", default="source")
    p.add_argument("--key", default="doc_id")
    p.add_argument("--seed", type=int, default=0)
    p.set_defaults(fn=cmd_sample)

    p = sub.add_parser(
        "media",
        help="decode image payloads (genuine codecs, labeled stub "
        "fallback) -> thumbnails -> features; prints provenance counts",
    )
    p.add_argument("media")
    p.add_argument("dst")
    p.add_argument("--key", default="media_id")
    p.add_argument("--payload", default="payload")
    p.add_argument("--thumb", type=int, default=8)
    p.add_argument("--kind", default="image", choices=["image", "audio"])
    p.set_defaults(fn=cmd_media)

    p = sub.add_parser("pipjoin")
    p.add_argument("pages")
    p.add_argument("scenes")
    p.add_argument("dst")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--chunk-partitions", type=int, default=0)
    p.add_argument("--level", type=int, default=6)
    p.add_argument("--strategy", default="broadcast", choices=["broadcast", "salted"])
    p.set_defaults(fn=cmd_pipjoin)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
