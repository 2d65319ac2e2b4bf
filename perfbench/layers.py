"""The traced run: per-layer metrics, measured from outside the program.

Layers are measured through their public entry points only:

- `plans.pipeline` stages, by deleting one stage's checkpoint and
  re-running `run_pipeline` on the traced out-dir (the resume semantics
  of `CheckpointStore` recompute exactly that stage), minus a re-run with
  every checkpoint present;
- cascade steps, gazetteer edge-family functions and canonicalization, each
  materialized alone with `localCheckpoint(eager=True)`;
- `nearby_edges`/`ego_edges` and `stream_link_mentions` calls, with Spark
  jobs attributed to each call or micro-batch by time.

Counters come from Spark's status store and `/proc`. During one full
build the program's public functions are wrapped in spans (restored
afterwards); the spans are written once, at the end, with self times.
The ratio of that build's wall to an untraced build's is the tracing
overhead.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

import inputs
import runtime
import workloads
from sparkstats import SparkStats, Tracer, covered_s, totals

STAGES = ["linked_mentions", "mention_triples", "gazetteer_triples", "nodes",
          "canonical_triples", "edges"]
BIOGRAPHY = ["born_in", "died_in", "resided_in", "worked_at", "citizen_of",
             "spouse_pairs", "parent_of", "headquartered_in", "founded_in"]
SKEW_MIN_SHARE = 0.05
N_DROPS = 2

RATIOS = {"busy_frac", "skew_max_over_median", "rank1_per_candidate",
          "kept_per_candidate", "overhead_ratio"}


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf in RATIOS:
        return "ratio"
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if "rows" in leaf:
        return "rows"
    return "count"


class Layers:
    def __init__(self, spark, ctx):
        self.spark = spark
        self.ctx = ctx
        self.stats = SparkStats(spark)
        self.tracer = Tracer()
        self.values: dict[str, float] = {}
        self.res = workloads.Result()

    def put(self, name: str, value: float) -> None:
        self.values[name] = value

    def measure(self, name: str, fn):
        """Run fn() in a span; returns (fn's value, window counters)."""
        m = self.stats.mark()
        with self.tracer.span(name) as sp:
            t0 = time.time()
            value = fn()
            wall = time.time() - t0
        stages = self.stats.stages_since(m)
        jobs = self.stats.jobs_since(m)
        c = dict(totals(stages), wall_s=wall, n_jobs=len(jobs),
                 stages=stages, jobs=jobs, t0=t0, t1=t0 + wall)
        sp.update({k: v for k, v in c.items()
                   if k not in ("stages", "jobs")})
        return value, c

    def op(self, name: str, fn):
        """measure() that records a failure instead of raising."""
        try:
            return self.measure(name, fn)
        except Exception as exc:  # the run reports every layer it can
            self.res.op(False)
            self.res.checks.setdefault("errors", []).append(
                f"{name}: {exc!r}"[:300])
            return None, None

    def materialize(self, name: str, fn) -> tuple[int, dict] | None:
        """Materialize fn()'s DataFrame alone; returns (rows, window
        counters), or None when it failed."""
        df, c = self.op(name, lambda: fn().localCheckpoint(eager=True))
        if c is None:
            return None
        self.res.op(True)
        return df.count(), c

    def piece(self, prefix: str, fn,
              fields=("wall_s", "task_s", "rows_out")) -> int:
        """materialize() that records `fields` under `prefix`; returns
        the row count."""
        r = self.materialize(prefix, fn)
        if r is None:
            return 0
        rows, c = r
        for f in fields:
            self.put(f"{prefix}.{f}", rows if f == "rows_out" else c[f])
        return rows


def run_traced(spark, ctx) -> workloads.Result:
    lay = Layers(spark, ctx)
    with lay.tracer.span("traced_run"):
        graph = _builds(lay)
        _linking(lay, graph)
        _gazetteer(lay)
        _canonicalize(lay, graph)
        _serving(lay, graph)
        _streaming(lay)
    trace_dir = os.path.join(runtime.WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{ctx.workload}-s{ctx.seed}.json")
    lay.tracer.write(path)
    lay.res.note("trace_file", path)
    for name, value in sorted(lay.values.items()):
        lay.res.put(name, value, unit_of(name))
    return lay.res


def _load(spark, sf_dir, name):
    from geo_linked_open_data_kg_spark.sources.registry import load
    return load(spark, sf_dir, name)


def _out_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


@contextmanager
def _wrapped(tracer: Tracer, targets):
    """Replace each (owner, attr) with a span-recording wrapper for the
    duration of the block."""
    saved = []
    for owner, attr, label in targets:
        orig = getattr(owner, attr)

        def wrapper(*a, __orig=orig, __label=label, **kw):
            name = __label(a) if callable(__label) else __label
            with tracer.span(name):
                return __orig(*a, **kw)
        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def _public_entry_points():
    """(owner, attribute, span name) for every public function a build
    calls; spans are named after the function they wrap."""
    from geo_linked_open_data_kg_spark.operators import (
        admin,
        biography,
        direct_link,
        linking,
        postal,
        spatial,
    )
    from geo_linked_open_data_kg_spark.plans import checkpoint, pipeline
    targets = [(pipeline, "load", lambda a: f"sources.load:{a[2]}")]
    targets += [(pipeline, f, f"pipeline.{f}") for f in (
        "canonical_mapping", "rewrite_triples", "build_nodes")]
    targets += [(linking, f, f"linking.{f}") for f in (
        "link_mentions", "mention_triples", "combined_gram_streams",
        "scored_exact_candidates", "surface_stats", "corpus_stop_surfaces",
        "fuzzy_candidates")]
    targets += [(direct_link, "direct_id_links", "direct_link.direct_id_links"),
                (admin, "admin_triples", "admin.admin_triples"),
                (spatial, "spatial_links", "spatial.spatial_links"),
                (spatial, "promote_near_to_same_as",
                 "spatial.promote_near_to_same_as"),
                (postal, "post_office_links", "postal.post_office_links")]
    targets += [(biography, b, f"biography.{b}") for b in BIOGRAPHY]
    store = checkpoint.CheckpointStore
    targets += [(store, f, lambda a, f=f: f"CheckpointStore.{f}:{a[2]}")
                for f in ("get_or_compute", "write")]
    return targets


def _digest(lay, out_dir):
    return workloads.triple_digest(lay.spark, out_dir)[1]


def _builds(lay: Layers) -> str:
    """Warm-up, traced and untraced builds, the resume no-op and the
    per-stage re-runs. Returns the traced out-dir (the graph)."""
    from geo_linked_open_data_kg_spark.plans import checkpoint
    spark, ctx = lay.spark, lay.ctx
    sf = ctx.sf_dir

    def scan():
        return workloads.scan_inputs(spark, sf)
    rows_in, c = lay.measure("sources", scan)
    lay.put("sources.wall_s", c["wall_s"])
    lay.put("sources.rows_in", rows_in)

    untraced = os.path.join(ctx.run_dir, "untraced")
    traced = os.path.join(ctx.run_dir, "traced")
    workloads.build(spark, sf, untraced)          # JIT and codegen warm-up
    with lay.tracer.span("build.traced") as sp:
        with _wrapped(lay.tracer, _public_entry_points()):
            wall_t = workloads.build(spark, sf, traced)
    sp["wall_s"] = wall_t
    # the untraced build runs after the traced one, so JIT warm-up drift
    # can only make the overhead read larger than it is
    py0 = ctx.proc.cpu_s(python_only=True)
    wall_u, c = lay.measure("build.untraced",
                            lambda: workloads.build(spark, sf, untraced))
    lay.put("geo.python_cpu_s", ctx.proc.cpu_s(python_only=True) - py0)
    lay.put("trace.overhead_ratio", wall_t / wall_u)
    lay.put("pipeline.task_s", c["task_s"])
    lay.put("pipeline.n_jobs", c["n_jobs"])
    lay.put("pipeline.n_stages", c["n_stages"])
    lay.put("pipeline.n_tasks", c["n_tasks"])
    lay.put("pipeline.gc_s", c["gc_s"])
    lay.put("pipeline.busy_frac",
            c["task_s"] / (wall_u * ctx.settings["cores"]))
    heavy = [s for s in c["stages"]
             if s["task_s"] >= SKEW_MIN_SHARE * c["task_s"]]
    lay.put("pipeline.skew_max_over_median",
            max((lay.stats.max_over_median(s) for s in heavy), default=1.0))

    noop_wall, noop = lay.measure(
        "pipeline.resume_noop",
        lambda: workloads.build_resume(spark, sf, traced))
    lay.put("pipeline.resume_noop_s", noop_wall)

    write_jobs: list[int] = []
    store = checkpoint.CheckpointStore
    orig_write = store.write

    def write(*a, **kw):
        out, c = lay.measure(f"CheckpointStore.write:{a[2]}",
                             lambda: orig_write(*a, **kw))
        write_jobs.append(c["n_jobs"])
        return out

    store.write = write
    try:
        for st in STAGES:
            shutil.rmtree(os.path.join(traced, st))
            wall, c = lay.measure(
                f"stage.{st}",
                lambda: workloads.build_resume(spark, sf, traced))
            p = f"stage.{st}"
            lay.put(f"{p}.wall_s", max(0.0, wall - noop_wall))
            for f in ("task_s", "cpu_s", "n_tasks"):
                lay.put(f"{p}.{f}", max(0, c[f] - noop[f]))
            lay.put(f"{p}.shuffle_bytes", c["shuffle_bytes"])
            lay.put(f"{p}.spill_bytes", c["spill_bytes"])
            lay.put(f"{p}.rows_out", _stage_rows(spark, traced, st))
    finally:
        store.write = orig_write
    lay.put("checkpoint.n_jobs", statistics.mean(write_jobs))
    files = [_out_files(os.path.join(traced, st)) for st in STAGES]
    lay.put("checkpoint.files_written", sum(f[0] for f in files))
    lay.put("checkpoint.bytes_written", sum(f[1] for f in files))

    same = _digest(lay, untraced) == _digest(lay, traced)
    lay.res.checks["traced_rerun_output_equals_untraced"] = same
    for _ in range(4 + len(STAGES)):     # 3 builds, no-op, stage re-runs
        lay.res.op(same)
    shutil.rmtree(untraced, ignore_errors=True)
    return traced


def _stage_rows(spark, out_dir: str, stage: str) -> int:
    from pyspark.sql import functions as F
    m = spark.read.parquet(os.path.join(out_dir, "_metrics", stage))
    return m.where(F.col("metric") == "n_rows").first()["value"]


def _linking(lay: Layers, graph: str) -> None:
    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.operators import linking
    spark, sf = lay.spark, lay.ctx.sf_dir
    n_part = lay.ctx.settings["shuffle_partitions"]
    raw = _load(spark, sf, "geo_documents")
    docs = raw.repartition(n_part, F.col("doc_id"))
    places = _load(spark, sf, "places")
    n_docs = raw.count()

    box = {}

    def gram_pass():
        exact, cap = linking.combined_gram_streams(docs, places)
        box["exact"] = exact.localCheckpoint(eager=True)
        box["cap"] = cap.localCheckpoint(eager=True)
        return box["exact"]
    _, c = lay.op("linking.gram_pass", gram_pass)
    if c is None:
        return
    lay.res.op(True)
    exact_g, cap_g = box["exact"], box["cap"]
    for f in ("wall_s", "task_s", "shuffle_bytes"):
        lay.put(f"linking.gram_pass.{f}", c[f])
    lay.put("linking.gram_pass.rows_out", exact_g.count() + cap_g.count())

    n_exact = lay.piece("linking.exact", lambda: (
        box.setdefault("all", linking.scored_exact_candidates(
            docs, places, grams=exact_g).localCheckpoint(eager=True))),
        fields=("wall_s", "task_s", "shuffle_bytes", "rows_out"))

    def fuzzy():
        surf = linking.surface_stats(cap_g).localCheckpoint(eager=False)
        stop = linking.corpus_stop_surfaces(
            cap_g, n_docs,
            exempt_alias_norms=linking.alias_map(places, dedup=False)
            .select("alias_norm"), surfaces=surf)
        return linking.fuzzy_candidates(
            cap_g, places,
            box["all"].select(*linking.OCC_KEYS, "is_ctx_occ"),
            stop_surfaces=stop, distinct_surfaces=surf)
    n_fuzzy = lay.piece("linking.fuzzy", fuzzy,
                        fields=("wall_s", "task_s", "shuffle_bytes",
                                "rows_out"))
    rank1 = (spark.read.parquet(os.path.join(graph, "linked_mentions"))
             .where(F.col("rank") == 1).count())
    lay.put("linking.rank1_per_candidate",
            rank1 / max(1, n_exact + n_fuzzy))


def _gazetteer(lay: Layers) -> None:
    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.operators import (
        admin,
        biography,
        direct_link,
        postal,
        spatial,
    )
    spark, sf = lay.spark, lay.ctx.sf_dir
    t = {n: _load(spark, sf, n) for n in inputs.INPUT_TABLES}
    places, wd = t["places"], t["wikidata_places"]
    fprio, wprio = t["feature_priority"], t["wd_type_priority"]

    lay.piece("direct_link", lambda: direct_link.direct_id_links(wd, places))
    lay.piece("admin", lambda: admin.admin_triples(places))
    n_cand = lay.piece("spatial.candidates", lambda: spatial.spatial_candidates(
        wd, places, fprio, wprio), fields=("rows_out",))
    n_links = lay.piece("spatial.links", lambda: spatial.promote_near_to_same_as(
        spatial.spatial_links(wd, places, fprio, wprio)))
    lay.put("spatial.kept_per_candidate", n_links / max(1, n_cand))
    a1 = t["admin1_names"].where(F.col("country_code") == "AA")
    lay.piece("postal", lambda: postal.post_office_links(
        t["post_offices"], places, a1))

    args = {"headquartered_in": (t["organizations"], wd),
            "founded_in": (t["organizations"], wd),
            "spouse_pairs": (t["persons"],), "parent_of": (t["persons"],)}
    total = dict(wall_s=0.0, task_s=0.0, rows_out=0)
    for b in BIOGRAPHY:
        fn = getattr(biography, b)
        a = args.get(b, (t["persons"], wd))
        r = lay.materialize(f"biography.{b}", lambda: fn(*a))
        if r is None:
            continue
        total["rows_out"] += r[0]
        for f in ("wall_s", "task_s"):
            total[f] += r[1][f]
    for f, v in total.items():
        lay.put(f"biography.{f}", v)


def _canonicalize(lay: Layers, graph: str) -> None:
    from pyspark.sql import functions as F

    from geo_linked_open_data_kg_spark.operators import canonicalize
    from geo_linked_open_data_kg_spark.plans.pipeline import TRIPLE_COLS
    spark = lay.spark
    gaz = spark.read.parquet(os.path.join(graph, "gazetteer_triples"))
    mt = spark.read.parquet(os.path.join(graph, "mention_triples"))
    box = {}

    def mapping():
        box["m"] = canonicalize.canonical_mapping(
            gaz.where(F.col("pred") == "sameAs")).localCheckpoint(eager=True)
        return box["m"]
    lay.piece("canonicalize.mapping", mapping, fields=("wall_s", "task_s"))
    lay.put("canonicalize.mapping.cc_rounds",
            canonicalize.LAST_CC_STATS.get("rounds_run", -1))
    if "m" in box:
        lay.piece("canonicalize.rewrite", lambda: canonicalize.rewrite_triples(
            gaz.unionByName(mt.select(*TRIPLE_COLS)), box["m"]),
            fields=("wall_s", "task_s"))


def _serving(lay: Layers, graph: str) -> None:
    from geo_linked_open_data_kg_spark.functions.geo import (
        coarse_cells_covering,
    )
    ctx = lay.ctx
    per: dict[str, list[dict]] = {"nearby": [], "ego": []}
    for q in workloads.serve_mix(ctx.seed, ctx.sf_dir, 1):
        rows, c = lay.op(f"serving.{q[0]}",
                         lambda: workloads.run_query(lay.spark, graph, q))
        if c is None:
            continue
        lay.res.op(True)
        r = dict(jobs=c["n_jobs"], task_s=c["task_s"],
                 driver_s=c["wall_s"] - covered_s(
                     [(j["start"], j["end"]) for j in c["jobs"]],
                     c["t0"], c["t1"]))
        if q[0] == "nearby":
            _, pred, la, lo, radius = q
            cells = coarse_cells_covering(la, lo, radius)
            r.update(cells=len(cells), rows=len(rows), files=sum(
                _out_files(os.path.join(graph, "edges", f"pred={pred}",
                                        f"cell={cell}"))[0]
                for cell in cells))
        else:
            r.update(frontier_rows=len(rows))
        per[q[0]].append(r)
    for kind, rs in per.items():
        for f in (rs[0] if rs else {}):
            lay.put(f"serving.{kind}.{f}", statistics.mean(x[f] for x in rs))


def _streaming(lay: Layers) -> None:
    ctx, spark = lay.ctx, lay.spark
    stop = workloads.pin_stoplist(spark, ctx.sf_dir)
    pass_dir = os.path.join(ctx.run_dir, "stream")
    r, c = lay.op("streaming", lambda: workloads.stream_pass(
        spark, ctx.sf_dir, stop, pass_dir,
        inputs.drop_files(ctx.sf_dir)[:N_DROPS]))
    if c is None:
        return
    _wall, progress, out = r
    rows = {row["_batch_id"]: row["count"] for row in
            spark.read.parquet(out).groupBy("_batch_id").count().collect()}
    per = []
    for p in progress:
        if not p.numInputRows:
            continue
        lay.res.op(True)
        d = p.durationMs
        t0 = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        t0 = t0.timestamp()
        t1 = t0 + d["triggerExecution"] / 1e3
        per.append(dict(
            trigger_s=d["triggerExecution"] / 1e3,
            add_batch_s=d.get("addBatch", 0) / 1e3,
            planning_s=d.get("queryPlanning", 0) / 1e3,
            jobs=sum(1 for j in c["jobs"]
                     if j["start"] is not None and t0 <= j["start"] <= t1),
            task_s=sum(s["task_s"] for s in c["stages"]
                       if s["submitted"] is not None
                       and t0 <= s["submitted"] <= t1),
            rows_out=rows.get(p.batchId, 0)))
    for f in (per[0] if per else {}):
        lay.put(f"streaming.batch.{f}", statistics.mean(x[f] for x in per))
    shutil.rmtree(pass_dir, ignore_errors=True)
