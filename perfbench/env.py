"""Process set-up shared by every workload: one private work directory,
environment for Spark and its Python workers, redirection of the
engine's derived stores into that directory, and the Spark session.

Nothing here writes outside the work directory: Spark local dirs, the
JVM and Python temp dirs, the warehouse, streaming checkpoints and every
stored index (``/tmp/abda_*`` by default) all live under it.
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (module, attribute) of every derived-store root the engine writes
STORE_ROOTS = [
    ("automotive_big_data_analysis_spark.operators.dedup", "PAIR_INDEX_LOCATION"),
    ("automotive_big_data_analysis_spark.operators.similarity", "ANN_INDEX_LOCATION"),
    ("automotive_big_data_analysis_spark.operators.similarity", "GC_AUDIT_LOCATION"),
    ("automotive_big_data_analysis_spark.operators.maintenance", "MAINT_LOCATION"),
    ("automotive_big_data_analysis_spark.operators.text_analysis", "PII_MIRROR_LOCATION"),
    ("automotive_big_data_analysis_spark.sources.schema_evolution", "SCHEMA_EVO_LOCATION"),
    ("automotive_big_data_analysis_spark.sources.text_formats", "TEXTFMT_LOCATION"),
    ("automotive_big_data_analysis_spark.sources.bucketed", "DEFAULT_LOCATION"),
]


def prepare_process(work: str, cores: int) -> None:
    """Environment that must be in place before pyspark is imported.

    ``PYTHONPATH`` carries the repo root so Python workers forked by the
    JVM can unpickle UDFs defined in the package; without it the pandas
    and UDF queries fail with ``ModuleNotFoundError`` whenever the
    benchmark is started from any other directory."""
    for sub in ("local", "tmp", "stream", "warehouse", "stores"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        PYTHONPATH=REPO_ROOT + (os.pathsep + path if path else ""),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_STREAM_SCRATCH=os.path.join(work, "stream"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY="2g",
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    import tempfile

    tempfile.tempdir = tmp


def redirect_stores(work: str) -> None:
    """Point every derived-store root of the engine into ``work``."""
    import importlib

    root = os.path.join(work, "stores")
    for mod_name, attr in STORE_ROOTS:
        mod = importlib.import_module(mod_name)
        setattr(mod, attr, os.path.join(root, attr.lower()))
    from automotive_big_data_analysis_spark.sources import bucketed

    # the layout writer binds its location as a default argument
    defaults = list(bucketed.write_bucketed_tables.__defaults__)
    defaults[1] = bucketed.DEFAULT_LOCATION
    bucketed.write_bucketed_tables.__defaults__ = tuple(defaults)


def start_session(work: str, python_workers: bool):
    """Start the engine's session; returns (spark, start_s, warmup_s).
    With ``python_workers`` the warm-up also forks the Python worker pool
    the pandas/UDF queries use, as a long-lived service would have done
    before its first request."""
    from automotive_big_data_analysis_spark import get_spark

    tmp = os.path.join(work, "tmp")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.executor.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(1).count()
    if python_workers:
        spark.range(8).repartition(4).mapInPandas(lambda it: it, "id long").count()
    warmup_s = time.perf_counter() - t0
    return spark, start_s, warmup_s


def peak_rss_mb(spark) -> float:
    """Peak resident set of this driver process plus the JVM, from
    ``VmHWM`` in ``/proc``."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
