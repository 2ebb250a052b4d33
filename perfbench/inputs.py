"""Seeded benchmark inputs and the expected results the checks compare
against, generated once per (workload, seed) and cached on disk.

Every table comes from ``--seed``; the same seed gives byte-identical
inputs. Expectations are computed here with plain numpy / hashlib from
the generated arrays, never by calling the engine's operators, so a
check compares the engine against an independent derivation.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generator or an expectation changes: stale caches are
# regenerated instead of being checked against new rules
VERSION = 7
# cached seeds kept per workload (~40 MB each): enough for a set of ten
# seeds to be run twice without regenerating
KEEP_SEEDS = 12

M31 = (1 << 31) - 1

# ------------------------------------------------------------ sizes

SCENES = 6
TOA_BANDS = [4, 5, 10]
TOA_GRID = 2  # 6 scenes x 3 bands x 2x2 tiles of 512^2 uint16 = 72 tiles
TOA_TILE = 512
# zonal zones: each scene footprint inset by these fractions
ZONE_INSET = (0.137, 0.211, 0.763, 0.829)

PAGES = 60_000
FOOTPRINT_GRID = 8  # 6 scenes x 8x8 tile footprints = 384 footprints
PIP_LEVEL = 7
KNN_K = 3

DOCS = 2_500
EXACT_GROUPS = 60  # base docs given 1-2 exact copies each
NEAR_PAIRS = 60  # base docs given one near-duplicate (one appended token)
HOT_DOCS = 150  # boilerplate-heavy docs, pairwise Jaccard ~0.6
EMB_ROWS = 8_000
EMB_DIM = 64
QUERIES = 8
TOPK = 10
MEDIA = 64
SAMPLE_RATE = 0.25


def crc32(s: str) -> int:
    """Spark's crc32(binary) of a UTF-8 string."""
    return zlib.crc32(s.encode("utf-8"))


def row_digest(a_crc, b_crc, c=0):
    """Order-free digest of result rows: sum of pmod((a*4 + c) * 1000003
    + b, 2^31 - 1). The Spark side computes the same sum in an
    Observation on the job's own pass (workloads._rows_and_digest)."""
    a = np.asarray(a_crc, dtype=np.int64)
    b = np.asarray(b_crc, dtype=np.int64)
    c = np.asarray(c, dtype=np.int64)
    return int((((a * 4 + c) * 1000003 + b) % M31).sum())


# --------------------------------------------------------- scene_toa


def _scene_toa(d: str, seed: int) -> dict:
    from rio_toa_spark.sources import fixtures as fx
    from rio_toa_spark.sources import truth

    scenes = fx.make_scenes(SCENES)
    pq.write_table(fx.scenes_arrow(scenes), os.path.join(d, "scenes.parquet"))
    tiles = fx.tiles_arrow(
        scenes, bands=TOA_BANDS, grid=TOA_GRID, tile_size=TOA_TILE, seed=seed
    )
    pq.write_table(tiles, os.path.join(d, "tiles.parquet"), row_group_size=4)

    mtls = {sid: mtl["L1_METADATA_FILE"] for sid, mtl in scenes}
    zones = {}
    for sid, mtl in scenes:
        w, s, e, n = fx.scene_bounds(mtl)
        fw, fs, fe, fn = ZONE_INSET
        zones[sid] = (w + fw * (e - w), s + fs * (n - s), w + fe * (e - w), s + fn * (n - s))

    toa = {"radiance": {}, "reflectance": {}}
    zacc: dict[str, list] = {}
    for r in tiles.to_pylist():
        sid, band = r["scene_id"], r["band"]
        key = "%s/%d/%d" % (sid, r["tile_row"], r["tile_col"])
        dn = np.frombuffer(r["pixels"], dtype="<u2").reshape(r["height"], r["width"])
        rr = mtls[sid]["RADIOMETRIC_RESCALING"]
        if band == 5:
            # L = ML * float32(Q) + AL, nodata 0 -> 0, clip to [0, 1]
            lum = rr["RADIANCE_MULT_BAND_5"] * dn.astype(np.float32) + rr["RADIANCE_ADD_BAND_5"]
            lum[dn == 0] = 0.0
            toa["radiance"][key] = hashlib.md5(np.clip(lum, 0.0, 1.0).astype(np.float32).tobytes()).hexdigest()
        elif band == 4:
            pm = mtls[sid]["PRODUCT_METADATA"]
            buf = truth._reflectance_ps_f32(
                dn,
                rr["REFLECTANCE_MULT_BAND_4"],
                rr["REFLECTANCE_ADD_BAND_4"],
                [r["bounds_w"], r["bounds_s"], r["bounds_e"], r["bounds_n"]],
                pm["DATE_ACQUIRED"],
                pm["SCENE_CENTER_TIME"],
            )
            toa["reflectance"][key] = hashlib.md5(buf.tobytes()).hexdigest()
        # zonal: pixel centers inside [fw, fe) x [fs, fn), nodata excluded
        fw, fs, fe, fn = zones[sid]
        dx = (r["bounds_e"] - r["bounds_w"]) / r["width"]
        dy = (r["bounds_n"] - r["bounds_s"]) / r["height"]
        cx = r["bounds_w"] + (np.arange(r["width"]) + 0.5) * dx
        cy = r["bounds_n"] - (np.arange(r["height"]) + 0.5) * dy
        inside = ((cy >= fs) & (cy < fn))[:, None] & ((cx >= fw) & (cx < fe))[None, :]
        vals = dn[inside & (dn != 0)]
        if vals.size:
            acc = zacc.setdefault("%s/%d" % (sid, band), [0, 0, 65536, -1])
            acc[0] += int(vals.size)
            acc[1] += int(vals.sum(dtype=np.int64))
            acc[2] = min(acc[2], int(vals.min()))
            acc[3] = max(acc[3], int(vals.max()))
    return {"toa": toa, "zonal": zacc, "zone_inset": list(ZONE_INSET)}


# ---------------------------------------- web_pages: geo-join part


def _page_geojoin(d: str, seed: int) -> dict:
    from rio_toa_spark.sources import fixtures as fx

    scenes = fx.make_scenes(SCENES)
    pq.write_table(fx.scenes_arrow(scenes), os.path.join(d, "scenes.parquet"))
    # footprint-only tile table: 4x4-pixel payloads keep the file tiny;
    # the join reads only ids and bounds
    tiles = fx.tiles_arrow(scenes, bands=[4], grid=FOOTPRINT_GRID, tile_size=4, seed=seed)
    pq.write_table(tiles, os.path.join(d, "tiles.parquet"))
    pages = fx.pages_arrow(scenes, n_pages=PAGES, seed=seed)
    pq.write_table(pages, os.path.join(d, "pages.parquet"), row_group_size=4096)

    lon = pages.column("lon").to_numpy()
    lat = pages.column("lat").to_numpy()
    url_crc = np.array([crc32(u) for u in pages.column("url").to_pylist()], dtype=np.int64)

    # pip: every (page, scene) with the page inside the footprint,
    # boundaries inclusive
    scene_crc = [crc32(sid) for sid, _ in scenes]
    pip_rows, pip_digest = 0, 0
    for (w, s_, e, n), c in zip((fx.scene_bounds(m) for _, m in scenes), scene_crc):
        hit = np.nonzero((lon >= w) & (lon <= e) & (lat >= s_) & (lat <= n))[0]
        pip_rows += int(hit.size)
        pip_digest += row_digest(url_crc[hit], np.full(hit.size, c))

    # tile footprints: distinct (scene, tile_row, tile_col) geometries
    t = tiles.to_pydict()
    tile_ids = ["%s/%d/%d" % k for k in zip(t["scene_id"], t["tile_row"], t["tile_col"])]
    tw, ts_, te, tn = (np.array(t[c]) for c in ("bounds_w", "bounds_s", "bounds_e", "bounds_n"))

    # kNN: brute force over tile centroids, ties broken by tile_id
    cx, cy = (tw + te) / 2, (ts_ + tn) / 2
    order = np.argsort(np.array(tile_ids))
    cx, cy = cx[order], cy[order]
    sorted_ids = np.array(tile_ids)[order]
    id_crc = np.array([crc32(i) for i in sorted_ids], dtype=np.int64)
    knn_digest = 0
    for s in range(0, PAGES, 8192):
        px, py = lon[s : s + 8192, None], lat[s : s + 8192, None]
        d2 = (px - cx[None, :]) ** 2 + (py - cy[None, :]) ** 2
        # stable argsort over the tile_id-sorted columns = (d2, tile_id) order
        top = np.argsort(d2, axis=1, kind="stable")[:, :KNN_K]
        ranks = np.broadcast_to(np.arange(1, KNN_K + 1), top.shape)
        knn_digest += row_digest(
            np.repeat(url_crc[s : s + 8192], KNN_K), id_crc[top].ravel(), ranks.ravel()
        )
    return {
        "pip_scenes": {"rows": pip_rows, "digest": pip_digest},
        "knn": {"rows": PAGES * KNN_K, "digest": knn_digest},
    }


# ---------------------------------------- web_pages: curation part

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _vocab(n: int = 4000) -> np.ndarray:
    k = len(_SYLLABLES)
    return np.array(
        [_SYLLABLES[i % k] + _SYLLABLES[(i // k) % k] + _SYLLABLES[(i // (k * k)) % k] for i in range(n)]
    )


def _words(rng, vocab, n) -> str:
    return " ".join(vocab[rng.integers(0, len(vocab), size=n)])


def _media_image(mid: int, seed: int) -> tuple[np.ndarray, str]:
    """Even ids: 24x24 seeded noise (PNG, lossless). Odd ids: a smooth
    32x32 gradient (JPEG, lossy but close)."""
    rng = np.random.default_rng([seed, mid])
    if mid % 2 == 0:
        return rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8), "png"
    yy, xx = np.mgrid[0:32, 0:32]
    base = rng.integers(40, 200, size=3)
    img = base[None, None, :] + (xx[:, :, None] * rng.integers(1, 3, size=3)) + yy[:, :, None]
    return np.clip(img, 0, 255).astype(np.uint8), "jpeg"


def _image_features(img: np.ndarray, out: int = 8) -> list[float]:
    h, w = img.shape[:2]
    small = img[(np.arange(out) * h // out)][:, (np.arange(out) * w // out)].astype(np.float32)
    return np.concatenate([small.mean(axis=(0, 1)), small.std(axis=(0, 1))]).astype(np.float32).tolist()


def _corpus_curate(d: str, seed: int) -> dict:
    from rio_toa_spark.functions.jpeg import encode_jpeg
    from rio_toa_spark.functions.png import encode_png
    from rio_toa_spark.sources.fixtures import page_html

    rng = np.random.default_rng([seed, 11])
    vocab = _vocab()
    n_unique = DOCS - EXACT_GROUPS * 3 // 2 - NEAR_PAIRS - HOT_DOCS
    texts = [_words(rng, vocab, int(rng.integers(30, 250))) for _ in range(n_unique)]
    # near-duplicate bases are long (>= 220 tokens) so one appended
    # token leaves Jaccard >= 0.995: exact_dedup must keep both, and
    # MinHash with 4 bands x 4 rows of independent hashes puts such a
    # pair in a shared bucket except with probability < 2e-7
    # (perfbench/tests/test_minhash_defect.py)
    near_base = range(n_unique - NEAR_PAIRS, n_unique)
    for i in near_base:
        texts[i] = _words(rng, vocab, int(rng.integers(220, 300)))
    near_pairs = []
    for i in near_base:
        near_pairs.append((i, len(texts)))
        texts.append(texts[i] + " " + _words(rng, vocab, 1))
    # exact copies of unique (non-near) docs: 1 or 2 copies each
    n_copies = EXACT_GROUPS * 3 // 2
    exact_base = rng.choice(n_unique - NEAR_PAIRS, size=EXACT_GROUPS, replace=False)
    copies_of = np.ones(EXACT_GROUPS, dtype=int)
    copies_of[: n_copies - EXACT_GROUPS] = 2
    for i, c in zip(exact_base, copies_of):
        texts.extend([texts[i]] * c)
    # boilerplate-heavy docs: 150 shared tokens + 50 unique ones
    boiler = _words(rng, vocab, 150)
    texts.extend(boiler + " " + _words(rng, vocab, 50) for _ in range(HOT_DOCS))
    assert len(texts) == DOCS

    doc_ids = (rng.permutation(DOCS) + 1000).astype(np.int64)
    urls = ["https://corpus-%03d.test/doc/%d" % (i % 211, i) for i in doc_ids]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(doc_ids, pa.int64()),
                "url": pa.array(urls, pa.string()),
                "text": pa.array(texts, pa.string()),
                "html": pa.array([page_html(u, t) for u, t in zip(urls, texts)], pa.binary()),
            }
        ),
        os.path.join(d, "docs.parquet"),
        row_group_size=512,
    )

    by_text: dict[str, int] = {}
    for i, t in zip(doc_ids.tolist(), texts):
        by_text[t] = min(by_text.get(t, i), i)
    sampled = sorted(
        i for i in doc_ids.tolist()
        if int(hashlib.md5(b"0_%d" % i).hexdigest()[:15], 16) / float(1 << 60) < SAMPLE_RATE
    )

    erng = np.random.default_rng([seed, 13])
    emb = erng.normal(size=(EMB_ROWS, EMB_DIM)).astype(np.float32)
    qv = erng.normal(size=(QUERIES, EMB_DIM)).astype(np.float32)
    vec_ids = np.arange(EMB_ROWS, dtype=np.int64) * 7 + 3
    pq.write_table(
        pa.table({"vec_id": pa.array(vec_ids), "embedding": pa.array(list(emb), pa.list_(pa.float32()))}),
        os.path.join(d, "emb.parquet"),
        row_group_size=EMB_ROWS // 16,
    )
    pq.write_table(
        pa.table({"q_id": pa.array(np.arange(QUERIES, dtype=np.int64)), "q_vec": pa.array(list(qv), pa.list_(pa.float32()))}),
        os.path.join(d, "queries.parquet"),
    )
    e64, q64 = emb.astype(np.float64), qv.astype(np.float64)
    cos = (q64 @ e64.T) / (np.linalg.norm(q64, axis=1)[:, None] * np.linalg.norm(e64, axis=1)[None, :])
    topk = {}
    for q in range(QUERIES):
        order = np.lexsort((vec_ids, -cos[q]))[: TOPK + 1]
        topk[str(q)] = [[int(vec_ids[j]), float(cos[q, j])] for j in order]

    payloads, feats, kinds = [], {}, {}
    for mid in range(MEDIA):
        img, kind = _media_image(mid, seed)
        payloads.append(encode_png(img) if kind == "png" else encode_jpeg(img, quality=92))
        feats[str(mid)] = _image_features(img)
        kinds[str(mid)] = kind
    pq.write_table(
        pa.table({"media_id": pa.array(np.arange(MEDIA, dtype=np.int64)), "payload": pa.array(payloads, pa.binary())}),
        os.path.join(d, "media.parquet"),
    )
    return {
        "docs": DOCS,
        "tokens": int(sum(len(t.split(" ")) for t in texts)),
        "exact": {
            "rows": len(by_text),
            "key_sum": int(sum(by_text.values())),
            "dup_groups": EXACT_GROUPS,
        },
        "near_pairs": [[int(doc_ids[a]), int(doc_ids[b])] for a, b in near_pairs],
        "sampled": sampled,
        "topk": topk,
        "media_features": feats,
        "media_kinds": kinds,
    }


def _web_pages(d: str, seed: int) -> dict:
    return {**_page_geojoin(d, seed), **_corpus_curate(d, seed)}


GENERATORS = {"scene_toa": _scene_toa, "web_pages": _web_pages}


def prepare(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (input dir, expectations) for one workload and seed,
    generating them on a cache miss. Older seeds beyond KEEP_SEEDS are
    evicted so the cache stays bounded."""
    d = os.path.join(cache_root, "v%d-%s-s%d" % (VERSION, workload, seed))
    done = os.path.join(d, "expect.json")
    if not os.path.exists(done):
        # in a child process: the generator's peak memory must not show
        # in this process's peak RSS, which is the same on a cache hit
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        code = "from perfbench import inputs; inputs._generate(%r, %r, %d)" % (d, workload, seed)
        subprocess.run([sys.executable, "-c", code], cwd=root, check=True)
    os.utime(d)
    _evict(cache_root, workload, keep=d)
    with open(done) as fh:
        return d, json.load(fh)


def _generate(d: str, workload: str, seed: int) -> None:
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expect = GENERATORS[workload](tmp, seed)
    with open(os.path.join(tmp, "expect.json"), "w") as fh:
        json.dump(expect, fh)
    os.rename(tmp, d)


def _evict(cache_root: str, workload: str, keep: str) -> None:
    prefix = "v%d-%s-s" % (VERSION, workload)
    mine = [
        os.path.join(cache_root, n)
        for n in os.listdir(cache_root)
        if n.startswith(prefix) and not n.endswith(".tmp")
    ]
    stale = [
        os.path.join(cache_root, n)
        for n in os.listdir(cache_root)
        if "-%s-s" % workload in n and not n.startswith(prefix)
    ]
    mine.sort(key=os.path.getmtime, reverse=True)
    for p in stale + [p for p in mine[KEEP_SEEDS:] if p != keep]:
        shutil.rmtree(p, ignore_errors=True)


def warm(d: str) -> None:
    """Flush dirty pages, then read every input file once so the page
    cache is warm before any timer starts."""
    os.sync()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            while fh.read(1 << 22):
                pass
