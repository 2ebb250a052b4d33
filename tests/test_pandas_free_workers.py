"""Python workers that run engine kernels never import pandas.

pyarrow imports pandas (~30 MB resident per worker) through its pandas
shim on ``Array.to_numpy``, ``pa.array``, ``RecordBatch.from_pydict``
and an ndarray ``take``. The kernels read and write Arrow only through
``operators.numpy_view`` / ``value_offsets`` / ``arrow_batch``, and
the MTL parse is an ``arrow_udf``. Both checks run in a fresh
interpreter: this test session's driver and its shared workers already
hold pandas (PySpark's driver imports it; test-side kernels use
``to_numpy``).
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_IMPORT_ALL = """
import importlib, json, pkgutil, sys
import rio_toa_spark
names = [
    m.name
    for m in pkgutil.walk_packages(rio_toa_spark.__path__, "rio_toa_spark.")
    if not m.name.endswith("__main__")
]
for name in names:
    importlib.import_module(name)
print(json.dumps({"modules": names, "pandas": "pandas" in sys.modules}))
"""

# Runs every engine kernel in its own local session, then reads the
# memory maps of the session's live pyspark.daemon processes (the
# daemon and the workers it forked) after each job.
_WORKER_PROBE = """
import json, os, sys
from pyspark.sql import functions as F

from rio_toa_spark import cli
from rio_toa_spark.operators import similarity, toa
from rio_toa_spark.operators import multimodal as mm
from rio_toa_spark.operators import spatial_join as sj
from rio_toa_spark.operators.zonal import dn_histogram, zonal_stats
from rio_toa_spark.session import get_spark

paths, out = json.loads(sys.argv[1]), sys.argv[2]
spark = get_spark(
    app_name="pandas_free_probe",
    master="local[2]",
    shuffle_partitions=2,
    extra_conf={"spark.driver.memory": "1g"},
)


def daemon_pids():
    children = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open("/proc/%s/stat" % p) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(p))
    todo, found = [os.getpid()], []
    while todo:
        for c in children.get(todo.pop(), []):
            todo.append(c)
            try:
                with open("/proc/%d/cmdline" % c, "rb") as f:
                    if b"pyspark.daemon" in f.read():
                        found.append(c)
            except OSError:
                pass
    return found


def pandas_pids():
    hits = []
    for pid in daemon_pids():
        try:
            with open("/proc/%d/maps" % pid) as f:
                if "pandas/_libs" in f.read():
                    hits.append(pid)
        except OSError:
            pass
    return hits


tiles = spark.read.parquet(paths["tiles"])
scenes = spark.read.parquet(paths["scenes"])
pages = spark.read.parquet(paths["pages"])
emb = spark.createDataFrame(
    [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(40)],
    "vec_id long, embedding array<float>",
)
queries = emb.limit(2).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
media = spark.createDataFrame([(1, b"\\x00payload")], "media_id long, payload binary")
rad = toa.radiance_tiles(tiles, scenes, band=5)
zones = sj.scene_footprints(scenes).select(
    F.col("scene_id").alias("zone_id"), "fw", "fs", "fe", "fn"
)
jobs = {
    "knn broadcast": lambda: sj.knn_join(pages, tiles, k=2),
    "pip broadcast": lambda: sj.pip_join(pages, sj.scene_footprints(scenes)),
    "cosine_topk": lambda: similarity.cosine_topk(emb, queries, k=3),
    "cosine_topk_ivf": lambda: similarity.cosine_topk_ivf(
        emb, queries, k=3, n_centroids=2, n_probe=1
    ),
    "image chain": lambda: mm.image_features(mm.resize_image(mm.decode_image(media))),
    "audio chain": lambda: mm.audio_features(mm.decode_audio(media)),
    "frames chain": lambda: mm.sample_video_frames(media, n_frames=2),
    "tile_stats": lambda: toa.tile_stats(rad),
    "value_histogram": lambda: toa.value_histogram(rad),
    "dn_histogram": lambda: dn_histogram(tiles),
    "zonal_stats": lambda: zonal_stats(tiles, zones),
    "mosaic_scene": lambda: toa.mosaic_scene(tiles),
}
result = {"daemons": 0, "pandas": {}}
for name, build in jobs.items():
    build().write.format("noop").mode("overwrite").save()
    result["pandas"][name] = pandas_pids()
for name, argv in {
    "cli radiance": ["radiance", "--band", "5"],
    "cli reflectance": ["reflectance", "--bands", "4", "--pixel-sunangle"],
}.items():
    dst = os.path.join(out, argv[0])
    cli.main([argv[0], paths["tiles"], paths["scenes"], dst] + argv[1:])
    result["pandas"][name] = pandas_pids()
result["daemons"] = len(daemon_pids())
spark.stop()
print(json.dumps(result))
"""


def _run(code, *args, timeout):
    r = subprocess.run(
        [sys.executable, "-c", code, *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_package_imports_without_pandas():
    got = _run(_IMPORT_ALL, timeout=120)
    assert "rio_toa_spark.operators.toa" in got["modules"], got
    assert "rio_toa_spark.functions.mtl" in got["modules"], got
    assert not got["pandas"], got


def test_workers_never_load_pandas(fixture_paths, tmp_path):
    """Every engine kernel, broadcast ``pip_join`` (its MTL UDF) and
    ``cli radiance`` / ``cli reflectance --pixel-sunangle`` leave no
    live Python worker with pandas mapped."""
    got = _run(_WORKER_PROBE, json.dumps(fixture_paths), str(tmp_path), timeout=600)
    assert got["daemons"] > 1, got
    assert not any(got["pandas"].values()), got["pandas"]
