"""Checkout resolution, host-derived session settings and the Spark
session's lifetime.

The repository root is the parent of this file's directory, so the
benchmark always runs the checkout it sits in. The root goes first on
`sys.path` and into `PYTHONPATH` before the session starts, because the
Spark Python workers import the package by name.
"""

from __future__ import annotations

import os
import shlex
import sys
import time

from host import cores, driver_mem_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "geo_linked_open_data_kg_spark"


T0 = time.perf_counter()


class CheckoutError(RuntimeError):
    pass


def log(msg: str) -> None:
    """Progress on standard error, with seconds since the run began."""
    print(f"perfbench {time.perf_counter() - T0:7.1f}s {msg}",
          file=sys.stderr, flush=True)


def configure(run_dir: str, heap_share: float) -> dict:
    """Point imports, scratch space (under run_dir) and the session
    settings at this checkout and this host, with `heap_share` of the
    host's memory for the driver heap; returns the settings for the
    report."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise CheckoutError(f"no {PACKAGE} package under {ROOT}")
    sys.path.insert(0, ROOT)
    n = cores()
    settings = dict(master=f"local[{n}]", cores=n, shuffle_partitions=n * 8,
                    driver_mem=f"{driver_mem_mb(heap_share)}m")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        PYSPARK_PYTHON=sys.executable,
        # the program's own env override for the driver heap
        SPARK_DRIVER_MEM=settings["driver_mem"],
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # every JVM the launcher starts: temp files under the run dir, and
        # no hsperfdata files (those go to /tmp whatever tmpdir says)
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={shlex.quote(tmp)}",
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(run_dir, 'wh')}"),
            "pyspark-shell"]))
    import tempfile
    tempfile.tempdir = tmp
    return settings


def package_path() -> str:
    """Import the package and fail unless it came from this checkout."""
    import geo_linked_open_data_kg_spark as pkg
    path = os.path.dirname(os.path.abspath(pkg.__file__))
    if os.path.commonpath([path, ROOT]) != ROOT:
        raise CheckoutError(f"{PACKAGE} imported from {path}, "
                            f"outside the checkout {ROOT}")
    return path


def start_session(settings: dict):
    """Start the session through the program's own factory; returns
    (spark, seconds taken)."""
    from geo_linked_open_data_kg_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=settings["cores"],
                      shuffle_partitions=settings["shuffle_partitions"])
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it every
    Python worker) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
