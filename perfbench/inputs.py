"""Seeded benchmark inputs, generated outside the tracked tree.

The program's own fixture generator (`fixtures.generate.write_sf`) makes
the tables. Its output root, seed and size table are module attributes
read at call time, so they are redirected here at runtime and the
generated tables land under the benchmark's work directory, never under
`synthdata/`. Inputs are cached by (seed, sizes): a second run with the
same seed reuses them.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import sys

import pyarrow.parquet as pq

# Table sizes per scale. "default" keeps one build near ten seconds on
# a 4-core host, so every workload fits its share of the time budget;
# "smoke" is the sf0.001 shape, "sf0.1" the frozen reference shape.
SCALES = {
    "default": dict(places=2000, wd=1200, persons=800, orgs=120, po=240,
                    docs=4000),
    "smoke": dict(places=800, wd=500, persons=300, orgs=60, po=120,
                  docs=400),
    "sf0.1": dict(places=50000, wd=30000, persons=20000, orgs=3000,
                  po=5000, docs=60000),
}

# Share of MemTotal given to the driver heap, per scale. The small
# scales need far less than an eighth of this host's 15 GB; a larger heap
# only lets the JVM's footprint wander from run to run (peak Pss spread
# 21 % at a quarter, 8 % at an eighth, over the same seeds).
HEAP_SHARE = {"default": 1 / 8, "smoke": 1 / 8, "sf0.1": 1 / 2}

# Triple counts known for (scale, seed): the sf0.1 output at seed 42 is
# the repository's frozen reference build.
EXPECTED_TRIPLES = {("sf0.1", 42): 724363}

DROP_DOCS = 500
# the serve workload's graph: the same gazetteer with a small corpus, so
# gazetteer triples dominate the graph it reads
SERVE_DOCS = 1000
INPUT_TABLES = ["places", "wikidata_places", "persons", "organizations",
                "post_offices", "admin1_names", "feature_priority",
                "wd_type_priority", "geo_documents"]


def prepare(work_dir: str, seed: int, scale: str,
            docs: int | None = None) -> str:
    """Generate (or reuse) the tables for (seed, scale), with the corpus
    cut to `docs` documents if given; returns the sf dir to hand to the
    program's `load`/`run_pipeline`. The generator draws the gazetteer
    before the corpus, so the corpus size leaves the gazetteer rows
    unchanged."""
    from geo_linked_open_data_kg_spark.fixtures import generate

    sizes = dict(SCALES[scale], **({"docs": docs} if docs else {}))
    digest = hashlib.sha1(json.dumps(sizes, sort_keys=True).encode())
    key = f"bench-s{seed}-{digest.hexdigest()[:10]}"
    root = os.path.join(work_dir, "data")
    generate.SYNTH_ROOT = root
    # the centroid fixture reads driver embeddings under DRIVER_ROOT;
    # point it inside the work dir so nothing outside is read
    generate.DRIVER_ROOT = root
    generate.SEED = seed
    generate.SF_SIZES[key] = sizes
    sf_dir = os.path.join(root, f"sf{key}")
    if not os.path.exists(os.path.join(sf_dir, "_complete")):
        tmp = sf_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(sf_dir, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            generate.write_sf(tmp, key)
        _cut_drops(tmp)
        open(os.path.join(tmp, "_complete"), "w").close()
        os.replace(tmp, sf_dir)
    return sf_dir


def _cut_drops(sf_dir: str) -> None:
    """Cut the corpus into DROP_DOCS-document parquet files, in corpus
    order, for the streaming workload."""
    docs = pq.read_table(os.path.join(sf_dir, "geo_documents.parquet"))
    out = os.path.join(sf_dir, "drops")
    os.makedirs(out)
    for i, start in enumerate(range(0, docs.num_rows, DROP_DOCS)):
        pq.write_table(docs.slice(start, DROP_DOCS),
                       os.path.join(out, f"drop-{i:04d}.parquet"))


def drop_files(sf_dir: str) -> list[str]:
    d = os.path.join(sf_dir, "drops")
    return sorted(os.path.join(d, f) for f in os.listdir(d))


def n_rows(sf_dir: str, table: str) -> int:
    return pq.ParquetFile(
        os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows
