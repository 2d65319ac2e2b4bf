"""Benchmark entry point for the KG-construction program in this checkout.

    python3 perfbench/run.py --workload build-docs --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --workload build-docs --seed 42 --scale sf0.1 \
        --seconds 1 --trace 0        # the frozen 724,363-triple check

One run generates the seeded inputs (cached by seed and sizes under
`.bench_work/`), starts one Spark session on `local[<cores>]`, runs the
workload, checks its outputs and prints, as the last line of standard
output, one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics, or with `--trace 1` the per-layer metrics).
The line before it is a `detail` object: the imported package path, the
session settings, the workload's own metrics by name and unit, and the
output checks. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import runtime

SMOKE_WORKLOADS = ["build-docs", "serve", "link-drops"]


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    scale: str
    sf_dir: str
    run_dir: str
    session_s: float
    settings: dict
    proc: object


def bench_config() -> dict:
    with open(os.path.join(runtime.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_one(args):
    run_dir = os.path.join(runtime.WORK, "runs", f"{os.getpid()}")
    import inputs
    settings = runtime.configure(run_dir, inputs.HEAP_SHARE[args.scale])
    pkg_path = runtime.package_path()

    import host
    import workloads

    sf_dir = inputs.prepare(
        runtime.WORK, args.seed, args.scale,
        docs=inputs.SERVE_DOCS if args.workload == "serve" else None)
    runtime.log(f"inputs ready in {sf_dir}")
    spark = None
    with host.ProcTree() as proc:
        try:
            spark, session_s = runtime.start_session(settings)
            runtime.log(f"session started: {settings}")
            ctx = Context(args.workload, args.seed, args.seconds, args.scale,
                          sf_dir, run_dir, session_s, settings, proc)
            if args.trace:
                import layers
                res = layers.run_traced(spark, ctx)
            else:
                res = workloads.WORKLOADS[args.workload](spark, ctx)
            pss, hwm = proc.peak_mb()
            runtime.log(f"{args.workload} done")
        finally:
            if spark is not None:
                runtime.stop_session(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    if not args.trace:
        res.put("peak_pss_mb", pss, "MB")
    res.note("peak_hwm_sum_mb", hwm, "MB")
    runtime.log("session stopped")

    res.note("failed_frac", res.failed / max(1, res.attempted), "ratio")
    correct = res.failed == 0 and res.attempted > 0
    detail = dict(workload=args.workload, seed=args.seed, scale=args.scale,
                  trace=args.trace, package_path=pkg_path,
                  session=settings, metrics=res.detail, checks=res.checks)
    return correct, detail, res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=SMOKE_WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="default",
                    choices=["default", "smoke", "sf0.1"])
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once, untraced and traced, at "
                         "sf0.001 sizes and check every metric is printed")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")

    # the program prints progress and warnings to stdout; keep stdout
    # for the two result lines
    out = sys.stdout
    try:
        with contextlib.redirect_stdout(sys.stderr):
            correct, detail, res = run_one(args)
    except runtime.CheckoutError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(dict(detail=detail), default=str), file=out)
    print(json.dumps(dict(correct=correct, attempted=res.attempted,
                          failed=res.failed, metrics=res.metrics)), file=out)
    out.flush()
    return 0 if correct else 1


def smoke() -> int:
    """Every workload once, untraced and traced, at the smoke scale, each
    in its own process; every declared metric must be printed with its
    unit."""
    cfg = bench_config()
    want = {0: {m["name"]: m["unit"] for m in cfg["end_to_end"]},
            1: {m["name"]: m["unit"] for m in cfg["per_layer"]}}
    bad = []
    for w in SMOKE_WORKLOADS:
        for trace in (0, 1):
            t0 = time.perf_counter()
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace),
                 "--scale", "smoke"], capture_output=True, text=True,
                timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                last = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                bad.append(f"{w} trace={trace}: no result line "
                           f"(exit {p.returncode}): {p.stderr[-2000:]}")
                continue
            got = last["metrics"]
            missing = [n for n, u in want[trace].items()
                       if n not in got or got[n].get("unit") != u]
            extra = sorted(set(got) - set(want[trace]))
            print(f"{w} trace={trace} exit={p.returncode} "
                  f"correct={last['correct']} {len(got)} metrics "
                  f"{time.perf_counter() - t0:.0f}s", flush=True)
            if missing or extra or not last["correct"] or p.returncode:
                bad.append(f"{w} trace={trace}: missing={missing} "
                           f"extra={extra} correct={last['correct']}")
    for b in bad:
        print("SMOKE FAIL", b)
    print("smoke ok" if not bad else "smoke FAILED")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
