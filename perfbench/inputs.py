"""Seeded benchmark inputs, written under the benchmark's own data directory.

The geo workloads draw a fixed number of documents per AOI from the
deterministic sf0.1 corpus (40 AOIs x 60 dates, plus the legacy duplicate
products of the qvidja clones). The draw is stratified. Within each AOI
the documents fall into strata by tile, by processing variant and by whether
they pass the QI filter (the share of filter classes in their 20 m SCL inside
the AOI, from the generator's raster functions), and each stratum gets its
proportional share of the AOI's documents (largest remainder); the seed picks
which documents of each stratum are kept. So every seed has the corpus's
AOI, tile and cloud mix and nearly the same QI survivors per AOI while the
dates, and with them the pixel values, change. A plain random draw lets the
survivor count, and with it the work per operation, move with the seed.
Beside the documents the draw writes the corpus generator's brute-force
oracle tables (scene dimension, pixel table with the inside flag, 20 m SCL
table) for the same documents; the engine never reads them.
"""

from __future__ import annotations

import os
import random
import shutil
from collections import defaultdict

import numpy as np

from satellitetools_spark import datagen, geometry, rasterops
from satellitetools_spark.constants import S2_FILTER1, SCL_CLASS_VALUE

CORPUS_TAG = "sf0.1"
# sf0.1 writes 2,910 documents into 128 files; keep that file granularity
DOCS_PER_FILE = 23
QI_THRESHOLD = 0.02
_FILTER_CODES = [SCL_CLASS_VALUE[c] for c in S2_FILTER1]


def draw_geo(out_dir: str, seed: int, per_aoi: int) -> dict:
    """Write ``per_aoi`` seeded documents of every sf0.1 AOI to ``out_dir``,
    with their oracle tables. Returns paths and the drawn document ids."""
    corpus = datagen.build_documents(CORPUS_TAG)
    strata = defaultdict(lambda: defaultdict(list))
    grids = {}
    for i, d in enumerate(corpus):
        strata[d["aoi"]][_stratum(d, grids)].append(i)
    rng = random.Random(seed)
    keep = sorted(i for aoi in sorted(strata)
                  for key, n in _allocate(strata[aoi], per_aoi)
                  for i in rng.sample(strata[aoi][key], n))
    docs = [corpus[i] for i in keep]  # corpus order: AOI-clustered files

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    paths = {name: os.path.join(out_dir, f"{name}.parquet")
             for name in ("docs", "scenes", "oracle_pixels", "oracle_scl20")}
    datagen._write_docs(docs, paths["docs"],
                        n_files=-(-len(docs) // DOCS_PER_FILE))
    datagen._write_scenes(docs, paths["scenes"])
    datagen._write_oracle_pixels(docs, paths["oracle_pixels"],
                                 paths["oracle_scl20"])
    return {"dir": out_dir, "paths": paths, "doc_ids": [d["doc_id"] for d in docs]}


def _stratum(doc: dict, grids: dict) -> tuple:
    """What decides whether a document survives QI, dedup and tile mode:
    its tile, its processing variant, and its QI verdict."""
    if doc["aoi"] not in grids:
        txs, tys = rasterops.target_grid(doc["bbox"], 20.0)
        x2, y2 = np.meshgrid(txs, tys)
        grids[doc["aoi"]] = (txs, tys, geometry.points_in_rings(
            x2.ravel(), y2.ravel(), doc["rings_utm"]))
    txs, tys, inside = grids[doc["aoi"]]
    scl = rasterops.render_band_on_grid("SCL", doc["productid"], txs, tys)
    bad = np.isin(scl.ravel()[inside], _FILTER_CODES).mean()
    return (doc["tile"], doc["processing"], bool(bad <= QI_THRESHOLD))


def _allocate(strata: dict, n: int) -> list:
    """``n`` draws shared over ``strata`` in proportion to their sizes:
    floors first, then the largest remainders (ties in key order)."""
    total = sum(len(v) for v in strata.values())
    quota = {k: n * len(v) / total for k, v in strata.items()}
    alloc = {k: int(q) for k, q in quota.items()}
    for k in sorted(quota, key=lambda k: (alloc[k] - quota[k], k))[:n - sum(alloc.values())]:
        alloc[k] += 1
    return sorted((k, c) for k, c in alloc.items() if c)
