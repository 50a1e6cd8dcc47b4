"""SparkSession factory tuned for the engine.

Local mode is single-JVM; the configs below are chosen so the same code
runs unchanged on a multi-executor cluster (AQE, adaptive skew join,
Arrow batching). ``spark.sql.shuffle.partitions`` defaults to the local
core count — on a real cluster this should be ~2-3x total cores, or left
to AQE coalescing.

Python workers start through ``geocoderpl_spark.pydaemon`` (set as
``spark.python.daemon.module``), which takes spark-core's jar and the
pyspark/py4j zips that duplicate the installed release off the workers'
import path before ``pyspark.daemon`` runs; see that module. Executors
reach the package through ``spark.executorEnv.PYTHONPATH``, which holds
the package root in every master mode, so a driver started from any
directory runs Python tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "geocoderpl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Arrow is enabled for every pandas-UDF kernel (the engine has no
    row-at-a-time Python UDFs by design — input_hint: "no per-row Python").
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # GRAFT_MASTER overrides the master URL — e.g. local-cluster[8,1,6144]
    # for the multi-executor (separate JVM per executor) scaling rendition;
    # {cpus} in the template is substituted.
    # .replace, not .format: a master URL with literal braces (e.g. a
    # local-cluster memory spec) must pass through verbatim (ADVICE r04)
    master = os.environ.get("GRAFT_MASTER", "local[{cpus}]").replace(
        "{cpus}", str(cpus)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # NOT oversized: a 48g heap measured 1.5x SLOWER than 16g on the
        # 32-thread build (cold-heap page faults + GC scan overhead); 16g
        # comfortably fits broadcasts + kernel batches for local runs
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Executors import the package, the worker daemon first, from the
    # package root whatever the driver's cwd (same box, no --py-files
    # ship); a caller's executor PYTHONPATH follows it.
    extra_conf = dict(extra_conf or {})
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.pathsep.join(
        p for p in (repo_root, extra_conf.pop("spark.executorEnv.PYTHONPATH", None)) if p
    )
    builder = (
        builder.config("spark.executorEnv.PYTHONPATH", pythonpath)
        .config("spark.python.daemon.module", "geocoderpl_spark.pydaemon")
    )
    if "local-cluster" in master:
        # the master URL's third field is WORKER memory; executor memory
        # stays at the 1g default unless set — leaving it there causes
        # silent executor OOM-churn (task retries on fresh executors)
        builder = builder.config(
            "spark.executor.memory", os.environ.get("GRAFT_EXECUTOR_MEM", "5g")
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark, data, schema: str) -> "DataFrame":
    """Driver-side rows (a pandas frame, or tuples in ``schema`` order) as a
    DataFrame. ``createDataFrame`` of a Python list runs
    ``SparkContext.parallelize``, whose tasks start a second Python worker
    pool; an Arrow table goes to the JVM through ``_serialize_to_jvm``, and
    a small one becomes a local relation, which collects without a job."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    if isinstance(data, pd.DataFrame):
        table = pa.Table.from_pandas(data[struct.names], schema=arrow, preserve_index=False)
    else:
        table = pa.Table.from_arrays(
            [pa.array([r[i] for r in data], type=f.type) for i, f in enumerate(arrow)],
            schema=arrow,
        )
    return spark.createDataFrame(table, schema=struct)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
