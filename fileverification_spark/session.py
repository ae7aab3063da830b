"""SparkSession factory tuned for the engine.

Local mode is the sandbox stand-in for a multi-executor cluster; the same
conf names carry to spark-submit on a real cluster. AQE is on so skewed
shuffles re-plan at runtime (north_rule: skew handled explicitly — salting
in operators/verify.py and operators/spatial.py is the first line, AQE the
backstop). ``local_relation`` is how operators put driver-built rows
(polygon coverings, query points, probe lists) into a plan.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: heap ceiling of the driver JVM when the host has RAM to spare
MAX_DRIVER_MEM_MB = 16 * 1024


def get_spark(
    app_name: str = "fileverification_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-sane defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32).
    ``shuffle_partitions`` defaults to 2x the local cores — enough to keep
    every thread busy through AQE coalescing without tiny-partition overhead.
    ``spark.driver.memory`` is ``$SPARK_DRIVER_MEM`` when set, else
    ``default_driver_memory()``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N parallel tasks; 2x gives AQE room to coalesce.
        n = _parse_local_cores(master) or cpus
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 128 MiB input splits: at 100 TB that is ~800k tasks — fine for a
        # 1000-executor cluster; local runs never see files that big.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill on tmpfs when available: local[N] funnels every
    # shuffle through one disk, which caps CPU scaling measurements; a
    # real cluster has per-executor NVMe, which tmpfs approximates.
    if os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap that fits the host: half of its RAM, at most 16g.

    In local mode the driver JVM is the whole engine, and its RSS runs
    well past the heap (off-heap buffers, metaspace, JIT), so a heap the
    size of the host's RAM gets the process OOM-killed instead of failing
    with a Java ``OutOfMemoryError``. Hosts without ``meminfo`` keep 16g."""
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, kb // 1024 // 2)}m"


def local_relation(
    spark: SparkSession, rows: Iterable[Sequence], schema: str
) -> DataFrame:
    """Relation of driver-side ``rows`` (tuples in ``schema`` order) typed
    by the DDL ``schema``, e.g. ``"poly_id string, cell bigint"``.

    The rows travel as a ``pyarrow.Table``, which Spark plans as a JVM
    ``LocalTableScan``: the data is part of the plan, and executing it
    starts no Python worker. ``createDataFrame(<list>)`` instead plans a
    PythonRDD-backed ``Scan ExistingRDD`` that runs a Python-worker pass
    on every execution of every plan that reads it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = [tuple(r) for r in rows]
    bad = next((r for r in rows if len(r) != len(arrow)), None)
    if bad is not None:
        raise ValueError(f"row {bad!r} does not have the {len(arrow)} fields of {schema!r}")
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=struct)


def _parse_local_cores(master: str) -> int | None:
    if master.startswith("local[") and master.endswith("]"):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count()
        try:
            return int(inner)
        except ValueError:
            return None
    return None
