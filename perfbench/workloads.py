"""The untraced workloads: build-docs, serve and link-drops.

Each returns a `Result`: the end-to-end metrics of BENCHMARK.json,
the workload-specific metrics under the names the benchmark documents
(README.md), and the operation counts. Output checks run outside the
timed regions; an operation whose check fails counts as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import inputs
from runtime import log

RECALL_MIN = PRECISION_MIN = 0.95
# micro-batches that warm the JIT, left out of the per-batch median (the
# first one is reported as cold_s)
WARM_BATCHES = 2


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)   # end-to-end, by name
    detail: dict = field(default_factory=dict)    # workload-named metrics
    checks: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = dict(value=value, unit=unit)

    def note(self, name: str, value, unit: str | None = None) -> None:
        self.detail[name] = value if unit is None else dict(value=value,
                                                            unit=unit)

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def pct(values: list[float], q: float) -> float:
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def time_setup(prep, reps: int = 3) -> float:
    """Median wall of `reps` runs of a workload's set-up step."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        prep()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def scan_inputs(spark, sf_dir: str) -> int:
    from geo_linked_open_data_kg_spark.sources.registry import load
    return sum(load(spark, sf_dir, t).count() for t in inputs.INPUT_TABLES)


def build_resume(spark, sf_dir: str, out_dir: str) -> float:
    """`run_pipeline` into out_dir, resuming from its checkpoints;
    returns the wall until every stage table (edges and nodes included)
    is written."""
    from geo_linked_open_data_kg_spark.plans.pipeline import run_pipeline
    t0 = time.perf_counter()
    run_pipeline(spark, sf_dir, out_dir)
    return time.perf_counter() - t0


def build(spark, sf_dir: str, out_dir: str) -> float:
    """One fresh build: no checkpoint to resume from."""
    shutil.rmtree(out_dir, ignore_errors=True)
    return build_resume(spark, sf_dir, out_dir)


def triple_digest(spark, out_dir: str) -> tuple[int, str]:
    """(rows, order-insensitive digest) of the canonical triples."""
    from pyspark.sql import functions as F
    t = spark.read.parquet(os.path.join(out_dir, "canonical_triples"))
    h = F.xxhash64("subj", "pred", "obj", "confidence", "evidence")
    r = t.agg(F.count("*").alias("n"),
              F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
              F.sum(h.bitwiseAND(0xFFFFFFFF)).alias("lo")).first()
    return r["n"], f"{r['hi'] or 0:x}-{r['lo'] or 0:x}"


def mention_quality(spark, sf_dir: str, out_dir: str) -> tuple[float, float]:
    """(recall, precision) of the linked mentions against the generated
    truth, defined as in the repository's tier-1 tests."""
    from pyspark.sql import functions as F
    truth = spark.read.parquet(os.path.join(sf_dir, "mention_truth.parquet"))
    linked = spark.read.parquet(os.path.join(out_dir, "linked_mentions"))
    t = truth.where(F.col("geoname_id").isNotNull())
    hit = linked.select("doc_id", "span_offset",
                        F.col("geoname_id").alias("gid")).distinct()
    nh = t.join(hit, (t.doc_id == hit.doc_id)
                & (t.span_offset == hit.span_offset)
                & (t.geoname_id == hit.gid), "left_semi").count()
    det = linked.select("doc_id", "span_offset", "start",
                        "mention_text").distinct()
    tm = truth.select("doc_id", "span_offset",
                      F.lower(F.col("mention_text")).alias("mt")).distinct()
    p = det.join(tm, (det.doc_id == tm.doc_id)
                 & (det.span_offset == tm.span_offset)
                 & (F.lower(det.mention_text) == tm.mt), "left_semi").count()
    return nh / max(1, t.count()), p / max(1, det.count())


def check_build(spark, sf_dir: str, out_dir: str, res: Result,
                digests: set, quality: bool) -> tuple[bool, int]:
    n, digest = triple_digest(spark, out_dir)
    digests.add(digest)
    n_edges = spark.read.parquet(os.path.join(out_dir, "edges")).count()
    ok = n_edges == n and len(digests) == 1
    expected = res.detail.get("expected_triples")
    if expected is not None:
        ok = ok and n == expected
    if quality:
        recall, precision = mention_quality(spark, sf_dir, out_dir)
        res.note("mention_recall", round(recall, 4))
        res.note("mention_precision", round(precision, 4))
        ok = ok and recall >= RECALL_MIN and precision >= PRECISION_MIN
    res.checks.setdefault("build", []).append(
        dict(ok=ok, n_triples=n, n_edges=n_edges, digest=digest))
    return ok, n


def run_build_docs(spark, ctx) -> Result:
    res = Result()
    sf_dir = ctx.sf_dir
    n_docs = inputs.n_rows(sf_dir, "geo_documents")
    res.note("expected_triples", inputs.EXPECTED_TRIPLES.get(
        (ctx.scale, ctx.seed)))
    prep = time_setup(lambda: scan_inputs(spark, sf_dir))
    res.put("setup_s", ctx.session_s + prep, "s")
    digests: set = set()

    out = os.path.join(ctx.run_dir, "build")
    cold = build(spark, sf_dir, out)
    log(f"cold build {cold:.1f}s")
    ok, n_triples = check_build(spark, sf_dir, out, res, digests,
                                quality=True)
    res.op(ok)
    log("cold build checked")
    walls, cpus = [], []
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < ctx.seconds:
        c0 = ctx.proc.cpu_s()
        walls.append(build(spark, sf_dir, out))
        cpus.append(ctx.proc.cpu_s() - c0)
        log(f"warm build {walls[-1]:.1f}s")
        ok, _ = check_build(spark, sf_dir, out, res, digests, quality=False)
        res.op(ok)
    shutil.rmtree(out, ignore_errors=True)

    build_s = statistics.median(walls)
    res.put("cold_s", cold, "s")
    res.put("op_p50_ms", build_s * 1e3, "ms")
    res.put("items_per_s", n_docs / build_s, "1/s")
    res.put("cpu_s_per_op", statistics.median(cpus), "CPU-s")
    res.note("cold_build_s", cold, "s")
    res.note("build_s", build_s, "s")
    res.note("build_cpu_s", statistics.median(cpus), "CPU-s")
    res.note("docs_per_s", n_docs / build_s, "docs/s")
    res.note("triples_per_s", n_triples / build_s, "triples/s")
    res.note("n_builds", len(walls))
    res.note("n_docs", n_docs)
    res.note("n_triples", n_triples)
    res.note("triple_digest", sorted(digests))
    return res


# One cycle of the serve mix: every (pred, radius) pair once, plus two
# k=2 ego graphs. The seed draws only the points and start ids, so every
# seed sends the same kinds of query in the same proportions.
CYCLE = [("nearTo", 10.0), ("locatedIn", 100.0), ("sameAs", 10.0), "ego",
         ("nearTo", 100.0), ("locatedIn", 10.0), ("sameAs", 100.0), "ego"]


def serve_mix(seed: int, sf_dir: str, n_cycles: int) -> list[tuple]:
    """Seeded query mix, in cycles of CYCLE: `ego_edges` from a random
    Place id; `nearby_edges` at a random node coordinate or, for every
    fifth one, in an empty ocean area."""
    rng = np.random.default_rng(seed)
    places = pq.read_table(os.path.join(sf_dir, "places.parquet"),
                           columns=["geoname_id", "latitude", "longitude"])
    wd = pq.read_table(os.path.join(sf_dir, "wikidata_places.parquet"),
                       columns=["latitude", "longitude"])
    lat = np.concatenate([places["latitude"].to_numpy(),
                          wd["latitude"].to_numpy()])
    lon = np.concatenate([places["longitude"].to_numpy(),
                          wd["longitude"].to_numpy()])
    gids = places["geoname_id"].to_numpy()
    mix, n_nearby = [], 0
    for kind in CYCLE * n_cycles:
        if kind == "ego":
            mix.append(("ego", f"gn:{gids[rng.integers(len(gids))]}"))
            continue
        n_nearby += 1
        if n_nearby % 5 == 0:
            pt = (float(rng.uniform(-60, -45)), float(rng.uniform(-170, -130)))
        else:
            j = rng.integers(len(lat))
            pt = (float(lat[j]), float(lon[j]))
        mix.append(("nearby", kind[0], pt[0], pt[1], kind[1]))
    return mix


def run_query(spark, graph: str, q: tuple) -> list:
    from geo_linked_open_data_kg_spark.operators.serving import (
        ego_edges,
        nearby_edges,
    )
    if q[0] == "ego":
        return ego_edges(spark, graph, [q[1]], k=2).collect()
    _, pred, lat, lon, radius = q
    return nearby_edges(spark, graph, pred, lat, lon, radius).collect()


def brute_nearby(spark, graph: str, q: tuple) -> set:
    """`nearby_edges` by a full scan: every edge of the predicate, with
    its subject's canonical coordinate, filtered by haversine distance."""
    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.functions.geo import haversine_km
    _, pred, lat, lon, radius = q
    edges = (spark.read.parquet(os.path.join(graph, "edges"))
             .where(F.col("pred") == pred))
    coords = (spark.read.parquet(os.path.join(graph, "nodes"))
              .where(F.col("latitude").isNotNull())
              .groupBy(F.col("id").alias("subj"))
              .agg(F.min(F.struct("latitude", "longitude")).alias("c")))
    dist = F.round(haversine_km(F.col("c.latitude"), F.col("c.longitude"),
                                F.lit(lat), F.lit(lon)), 3)
    rows = (edges.join(coords, "subj").withColumn("dist_km", dist)
            .where(F.col("dist_km") <= radius)
            .select("subj", "pred", "obj", "confidence", "evidence",
                    "dist_km").collect())
    return {tuple(r) for r in rows}


def open_graph(spark, graph: str) -> int:
    return (spark.read.parquet(os.path.join(graph, "edges")).count()
            + spark.read.parquet(os.path.join(graph, "nodes")).count())


def run_serve(spark, ctx, n_checked: int = 2) -> Result:
    res = Result()
    graph = os.path.join(ctx.run_dir, "graph")
    cold = build(spark, ctx.sf_dir, graph)
    prep = time_setup(lambda: open_graph(spark, graph))
    res.put("setup_s", ctx.session_s + prep, "s")
    res.put("cold_s", cold, "s")

    mix = serve_mix(ctx.seed, ctx.sf_dir, 1000)
    warm, mix = mix[:len(CYCLE)], mix[len(CYCLE):]
    for q in warm:        # the first queries of each shape plan cold
        run_query(spark, graph, q)
    lat: dict[str, list[float]] = {"nearby": [], "ego": []}
    done: list[tuple] = []
    c0 = ctx.proc.cpu_s()
    t_start = time.perf_counter()
    for i, q in enumerate(mix):
        # whole cycles only, at least two, so the mix is the same
        if (i % len(CYCLE) == 0 and i >= 2 * len(CYCLE)
                and time.perf_counter() - t_start >= ctx.seconds):
            break
        t0 = time.perf_counter()
        try:
            rows = run_query(spark, graph, q)
        except Exception as exc:  # a failed query counts, the loop goes on
            res.op(False)
            res.checks.setdefault("errors", []).append(repr(exc)[:300])
            continue
        lat[q[0]].append(time.perf_counter() - t0)
        done.append((q, rows, lat[q[0]][-1]))
    wall = time.perf_counter() - t_start
    cpu = ctx.proc.cpu_s() - c0

    checked = [d for d in done if d[0][0] == "nearby"][:n_checked]
    res.note("queries", [[*q, round(t * 1e3), len(rows)]
                         for q, rows, t in done])
    for q, rows, _t in done:
        ok = True
        if any(q is c[0] for c in checked):
            ok = {tuple(r) for r in rows} == brute_nearby(spark, graph, q)
            res.checks.setdefault("nearby_vs_bruteforce", []).append(
                dict(query=list(q), rows=len(rows), ok=ok))
        res.op(ok)

    all_lat = lat["nearby"] + lat["ego"]
    res.put("op_p50_ms", statistics.median(all_lat) * 1e3, "ms")
    res.put("items_per_s", len(done) / wall, "1/s")
    res.put("cpu_s_per_op", cpu / max(1, len(done)), "CPU-s")
    res.note("nearby_p50_ms", statistics.median(lat["nearby"]) * 1e3, "ms")
    res.note("nearby_p90_ms", pct(lat["nearby"], 0.9) * 1e3, "ms")
    res.note("nearby_samples_beyond_p90",
             sum(x > pct(lat["nearby"], 0.9) for x in lat["nearby"]))
    res.note("ego_p50_ms", (statistics.median(lat["ego"]) * 1e3
                            if lat["ego"] else None), "ms")
    res.note("serve_qps", len(done) / wall, "queries/s")
    res.note("n_nearby", len(lat["nearby"]))
    res.note("n_ego", len(lat["ego"]))
    shutil.rmtree(graph, ignore_errors=True)
    return res


def pin_stoplist(spark, sf_dir: str):
    """The fuzzy stoplist snapshot over the whole corpus, materialized."""
    from geo_linked_open_data_kg_spark.operators.linking import (
        snapshot_stop_surfaces,
    )
    from geo_linked_open_data_kg_spark.sources.registry import load
    docs = load(spark, sf_dir, "geo_documents")
    places = load(spark, sf_dir, "places")
    return snapshot_stop_surfaces(docs, places).localCheckpoint(eager=True)


def stream_pass(spark, sf_dir: str, stop, pass_dir: str, files: list[str],
                timeout_s: int = 150):
    """One `stream_link_mentions` run over the drop directory, one drop
    per micro-batch; returns (wall, progress list, out path)."""
    from geo_linked_open_data_kg_spark.sources.registry import load
    from geo_linked_open_data_kg_spark.streaming.documents import (
        DOCUMENTS_SCHEMA,
        stream_link_mentions,
    )
    shutil.rmtree(pass_dir, ignore_errors=True)
    src = os.path.join(pass_dir, "src")
    os.makedirs(src)
    for f in files:
        shutil.copyfile(f, os.path.join(src, os.path.basename(f)))
    stream = (spark.readStream.schema(DOCUMENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = os.path.join(pass_dir, "out")
    t0 = time.perf_counter()
    q = stream_link_mentions(stream, load(spark, sf_dir, "places"), stop,
                             out, os.path.join(pass_dir, "ck"),
                             available_now=True, timeout_sec=timeout_s)
    wall = time.perf_counter() - t0
    try:
        if q.isActive:
            raise TimeoutError(f"stream still running after {timeout_s} s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return wall, list(q.recentProgress), out
    finally:
        q.stop()


def batch_equals_stream(spark, sf_dir: str, stop, src: str,
                        out: str) -> bool:
    """The union of the drop outputs equals one `link_mentions` batch
    over the same documents with the same pinned stoplist."""
    from geo_linked_open_data_kg_spark.operators.linking import link_mentions
    from geo_linked_open_data_kg_spark.sources.registry import load
    from geo_linked_open_data_kg_spark.streaming.documents import (
        DOCUMENTS_SCHEMA,
    )
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(src)
    want = link_mentions(docs, load(spark, sf_dir, "places"),
                         stop_surfaces=stop).localCheckpoint(eager=True)
    got = spark.read.parquet(out).drop("_batch_id").select(*want.columns)
    return (got.exceptAll(want).isEmpty()
            and want.exceptAll(got).isEmpty())


def run_link_drops(spark, ctx) -> Result:
    res = Result()
    box: list = []
    prep = time_setup(lambda: box.append(pin_stoplist(spark, ctx.sf_dir)))
    stop = box[-1]
    res.put("setup_s", ctx.session_s + prep, "s")
    drops = inputs.drop_files(ctx.sf_dir)

    def run_pass(name: str, files: list[str]):
        pass_dir = os.path.join(ctx.run_dir, name)
        try:
            wall, progress, out = stream_pass(spark, ctx.sf_dir, stop,
                                              pass_dir, files)
        except Exception as exc:  # every batch of the pass failed
            res.attempted += len(files)
            res.failed += len(files)
            res.checks.setdefault("errors", []).append(repr(exc)[:300])
            return None
        batches = [p for p in progress if p.numInputRows]
        return wall, batches, (os.path.join(pass_dir, "src"), out)

    passes = []
    c0 = ctx.proc.cpu_s()
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < ctx.seconds:
        r = run_pass(f"pass{len(passes)}", drops)
        if r is None:
            break
        passes.append(r)
    cpu = ctx.proc.cpu_s() - c0

    ok = bool(passes) and batch_equals_stream(spark, ctx.sf_dir, stop,
                                              *passes[0][2])
    res.checks["stream_equals_batch"] = ok
    for _wall, batches, _dirs in passes:
        for _ in batches:
            res.op(ok)
    if not passes:
        return res
    triggers = [b.durationMs["triggerExecution"] / 1e3
                for _w, batches, _d in passes for b in batches]
    n_docs = sum(b.numInputRows for _w, batches, _d in passes
                 for b in batches)
    wall = sum(w for w, _b, _d in passes)
    drop_p50 = statistics.median(triggers[WARM_BATCHES:] or triggers)
    res.put("cold_s", triggers[0], "s")
    res.put("op_p50_ms", drop_p50 * 1e3, "ms")
    res.put("items_per_s", n_docs / wall, "1/s")
    res.put("cpu_s_per_op", cpu / len(triggers), "CPU-s")
    res.note("drop_p50_s", drop_p50, "s")
    res.note("trigger_s", triggers, "s")
    res.note("stream_docs_per_s", n_docs / wall, "docs/s")
    res.note("n_batches", len(triggers))
    res.note("n_passes", len(passes))
    for i in range(len(passes)):
        shutil.rmtree(os.path.join(ctx.run_dir, f"pass{i}"),
                      ignore_errors=True)
    return res


WORKLOADS = {
    "build-docs": run_build_docs,
    "serve": run_serve,
    "link-drops": run_link_drops,
}
