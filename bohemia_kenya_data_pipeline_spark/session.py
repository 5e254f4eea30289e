"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; production is a multi-executor cluster
reading ~100 TB. All scale-sensitive knobs are set here once so every
job/test shares the same execution profile:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (the few Pandas-UDF operators move data in columnar batches)
- shuffle partitions sized for the local harness; on a real cluster AQE
  coalesces from a deliberately high initial number.
- Python call-site capture off (``get_spark`` says why and what error
  messages lose).

This module is also the engine's py4j boundary for metadata:
:func:`parquet_scan` reads engine-written parquet with the schema taken
from a local footer instead of a Spark inference job.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

APP_NAME = "bohemia-kenya-data-pipeline-spark"


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """JVM-literal frame (``LocalTableScan``) from driver-side rows.

    ``spark.createDataFrame(list, schema)`` builds an RDD-backed plan
    (``Scan ExistingRDD``) whose scan re-enters a **Python worker at
    execution time** — measured 0.3-4.5 s of pure handshake/pickle wait
    per task that touches it (r14 thread-dump evidence: the manifest
    stats write blocked 4.4 s in ``BasePythonRunner.ReaderInputStream``
    with 0.1 s CPU). Routing the same rows through pandas takes the
    Arrow path (guide §4/§6: Arrow for driver transfers), which
    materializes a ``LocalTableScan``: no Python process in the executed
    plan, and the optimizer sees a sized literal it can broadcast.

    ``schema`` is a DDL string (``"a INT, b STRING"``), a
    ``StructType``, or a list of column names (types inferred, same as
    the classic list path: int→bigint, str→string, float→double).
    Result rows are identical to the classic path for the types this
    engine stores in sidecars/manifests (strings, ints, floats, bools,
    dates, array<double>); ``tests/test_local_df.py`` pins the parity.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if isinstance(schema, StructType):
        rows = list(rows)
        if not rows:
            # empty pandas frames fall back to the RDD path — project a
            # typed empty frame from range(0) instead (pure JVM)
            from pyspark.sql import functions as F

            return spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema]
            )
        pdf = pd.DataFrame.from_records(rows, columns=schema.fieldNames())
        return spark.createDataFrame(pdf, schema=schema)
    pdf = pd.DataFrame.from_records(list(rows), columns=list(schema))
    return spark.createDataFrame(pdf)


def parquet_scan(
    spark: SparkSession, path: str, files: Sequence[str] | None = None
) -> DataFrame:
    """Read an ENGINE-WRITTEN parquet dataset (or the explicit
    ``files`` under its root ``path``) without Spark's footer-inference
    job.

    Schema-less ``spark.read.parquet`` runs one Spark job at plan time
    to fetch and convert a footer (~40 ms-0.25 s per call; r14). The
    engine's lifecycle ticks read their own freshly written tables,
    index partitions and sidecars on every tick, so that job is pure
    bookkeeping. Here the schema comes from one local
    ``pyarrow.parquet.read_schema`` (~1 ms) of the same footer Spark
    would pick — the first data file in path order, which is what
    inference reads with ``mergeSchema`` off — and is the Spark schema
    Spark itself stored in that footer
    (``org.apache.spark.sql.parquet.row.metadata``), so column types
    and order are exactly those of the schema-less read. Hive
    partition columns are NOT in that schema; Spark's path-based
    partition discovery (driver-side, no job) appends them with the
    same inferred types as before.

    ``files`` reads only those data files, with ``basePath=path`` so a
    partitioned layout keeps its partition columns (the pruned-read and
    delta-read shape); the schema then comes from the first of
    ``files``, again as inference would.

    Falls back to plain inference for remote schemes, empty datasets,
    footers without the Spark schema (files Spark did not write), or
    any pyarrow error."""
    st = _local_footer_schema(spark, path, files)
    reader = spark.read if st is None else spark.read.schema(st)
    if files is None:
        return reader.parquet(path)
    return reader.option("basePath", path).parquet(*files)


#: footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _is_data_file(rel: str) -> bool:
    """Spark's listing rule: a path component starting with ``_`` or
    ``.`` (``_SUCCESS``, ``_temporary/``, ``.crc``) is hidden, unless it
    is a ``k=v`` partition directory."""
    parts = rel.split(os.sep)
    return parts[-1].endswith(".parquet") and not any(
        p.startswith(("_", ".")) and "=" not in p for p in parts
    )


def _local_footer_schema(spark: SparkSession, path: str, files=None):
    """Spark's stored data schema of a LOCAL engine-written dataset, or
    ``None`` when it cannot be read cheaply and exactly."""
    from .operators.skipping import _local_root, _walk_local_files

    local = _local_root(path, spark)
    if local is None:
        return None
    try:
        if files is None:
            data = min(
                (
                    f
                    for f, _, _ in _walk_local_files(local)
                    if _is_data_file(os.path.relpath(f, local))
                ),
                default=None,
            )
        else:
            data = _local_root(min(files), spark)
        if data is None:
            return None
        import json

        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType

        meta = pq.read_schema(data).metadata or {}
        if _SPARK_ROW_METADATA not in meta:
            return None
        return StructType.fromJson(json.loads(meta[_SPARK_ROW_METADATA]))
    except Exception:
        return None


def get_spark(
    app_name: str = APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so the driver harness, tests and bench all agree.

    DataFrame call-site capture is OFF
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
    PySpark wraps every DataFrame/Column API call
    (``pyspark.errors.utils._with_origin``) in an active-session lookup,
    a JVM reflection lookup, a conf read, a set and a clear of the JVM
    origin, a Python stack walk and a failed ``import IPython`` — about
    8 extra py4j round trips per call (``F.col("a") + F.lit(1)``, three
    wrapped calls: 31 py4j calls with capture, 7 without). The engine
    builds plans Column by Column and runs lifecycle ticks made of many
    small plans, so that tax lands on every tick. What errors lose: the
    Python ``file:line`` of the DataFrame call in a runtime error's
    query context; the error class and message are unchanged.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- optimizer / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- python interop: Arrow batches for the few pandas ops ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- IO: vectorized parquet + pushdown are default-on; keep
        #     session timezone pinned so date/ts semantics are stable ---
        .config("spark.sql.session.timeZone", "UTC")
        # dims in this workload are tiny (<= a few thousand rows);
        # default 10 MB broadcast threshold is fine, AQE raises it at
        # runtime via local shuffle reader when beneficial.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # --- py4j: no per-call Python call-site capture (see docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # robustness-sweep hook: `SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"` lets
    # the gate/bench harnesses run adversarial configs (e.g. AQE off —
    # AQE's exchange reuse can MASK plan-branch nondeterminism, see the
    # round-6 repartitionByRange lesson in BASELINE.md) without code
    # changes. Applied last, so it overrides the defaults above.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        for pair in env_conf.split(";"):
            if pair.strip():
                k, sep, v = pair.partition("=")
                if not sep or not k.strip():
                    # fail LOUD: a typo'd pair ("k:v", "k") would
                    # otherwise apply as an unknown no-op key and the
                    # adversarial sweep would green-light the DEFAULT
                    # config — the exact masking this hook exists to
                    # prevent.
                    raise ValueError(
                        f"SPARK_GRAFT_EXTRA_CONF pair {pair!r} is not 'key=value'"
                    )
                builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
