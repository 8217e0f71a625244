"""Process environment, Spark lifecycle and small statistics helpers.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``
(Spark local dirs, JVM and Python temp files, generated inputs, indexes),
which is removed when the run ends; traces go to
``<checkout>/.perfbench_out``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "mongoesindexer_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")))


def configure_env() -> str:
    """Host sizing and sandboxing through environment variables, set
    before pyspark is imported.  Returns the per-run work directory."""
    work = os.path.join(WORK, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else (os.cpu_count() or 1)
    # the engine's own knobs: local[nproc], and a driver heap that fits a
    # small shared host (the engine default of 32g does not)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = tmp
    # Python UDF workers resolve the package from the checkout
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    # no JVM (spark-submit's launcher included) writes hsperfdata or temp
    # files outside the work directory
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options '{jvm}'",
        "pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def start_spark():
    from mongoesindexer_spark.session import get_spark
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()   # the JVM exits on stdin EOF
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK)          # only when no other run is using it
    except OSError:
        pass


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def gmean(values: list[float]) -> float:
    return statistics.geometric_mean(values) if values else float("nan")


def dir_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)
