"""Session set-up shared by the benchmark and its set-up probe.

Set-up is everything a ``spark-submit`` of the staged job pays before
its first stage: importing the modules the job runs and building the
session with the program's own ``session.get_spark``. Every file Spark
and its Python workers write goes under the benchmark's work directory
inside the checkout.
"""

from __future__ import annotations

import importlib
import os

JOB_MODULES = (
    "ehr_relation_extraction_spark.plans.stages",
    "ehr_relation_extraction_spark.sources.pages",
    "ehr_relation_extraction_spark.operators.ner",
    "ehr_relation_extraction_spark.operators.pairs",
    "ehr_relation_extraction_spark.operators.relations",
    "ehr_relation_extraction_spark.operators.triples",
    "ehr_relation_extraction_spark.operators.linking",
)


DRIVER_MEMORY = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Point Python workers at the checkout and temp files at ``work``,
    and fix the driver heap (read by ``get_spark``): a steady peak RSS,
    and a small one on a shared box."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the short-lived launcher JVM of spark-submit would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(work: str):
    """Import the job's modules and build the session; raises
    ImportError when the program is not in the checkout."""
    for name in JOB_MODULES:
        importlib.import_module(name)
    from ehr_relation_extraction_spark.session import get_spark

    n = cpus()
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # initial heap = max heap: the JVM's share of peak memory
            # does not depend on when the collector chose to grow it
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then close the JVM's stdin so it exits, and
    wait for it; its Python workers exit with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
