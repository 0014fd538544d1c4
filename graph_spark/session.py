"""SparkSession factory for the graph_spark engine.

Pins the session config that every query in this repo assumes:
UTC timezone (cross-engine hash determinism vs the DuckDB oracle),
AQE on (runtime join re-planning + skew handling + shuffle coalesce),
shuffle partitions sized to the local core count (at cluster scale this
is overridden by `spark.sql.shuffle.partitions` tuning / AQE target size).

Scale notes (100 TB design):
- AQE coalescing means we can set shuffle.partitions generously on a real
  cluster and let runtime statistics shrink them.
- `maxPartitionBytes` 128m keeps scan tasks right-sized for wide parquet.
- Arrow enabled: every pandas-UDF operator in this repo is Arrow-batched.
- The generated-class cache holds CODEGEN_CACHE_ENTRIES classes instead
  of Spark's 100: a graph kernel's supersteps compile hundreds of
  whole-stage classes, and with 100 slots each call evicted the last
  call's classes and compiled them again.  It is a static conf, so only
  sessions built by `get_spark` get it; a session handed in through
  `__spark_entry__` keeps its own value (`configure` cannot set it).
"""

from __future__ import annotations

import os
import tempfile
import warnings
import zipfile

from pyspark.sql import SparkSession

# Spark's generated-class cache size (static conf
# spark.sql.codegen.cache.maxEntries, default 100).  One graph_pregel
# pass (pagerank, bfs, cc, scc) compiles 192 whole-stage classes and
# eight graph kernels on a small digraph 361; with 2000 slots a
# repeated call compiles none of them again.
CODEGEN_CACHE_ENTRIES = 2000

# session ids that already received the package zip via addPyFile
_SHIPPED: set = set()


def _ship_package(spark: SparkSession) -> None:
    """Distribute graph_spark to executor python workers.

    mapInPandas/pandas_udf closures reference module-level functions,
    which cloudpickle serializes BY REFERENCE — workers must be able to
    `import graph_spark`.  That holds when the driver's cwd is the repo
    root but breaks from any other cwd (and on a real cluster), so ship
    the package as a zip once per session.  A failed ship warns (naming
    the zip and the error) instead of surfacing later as a worker-side
    ImportError; driver-side imports keep working either way."""
    import graph_spark

    key = id(spark)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(graph_spark.__file__))
    zip_path = os.path.join(tempfile.gettempdir(), f"graph_spark_pkg_{os.getpid()}_{key}.zip")
    try:
        if not os.path.exists(zip_path):
            with zipfile.ZipFile(zip_path, "w") as z:
                for root, _, files in os.walk(pkg_dir):
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                            z.write(full, rel)
        spark.sparkContext.addPyFile(zip_path)
        _SHIPPED.add(key)
    except Exception as exc:
        warnings.warn(
            f"graph_spark could not ship its package zip {zip_path} to the executors "
            f"({exc!r}); python workers that import graph_spark may fail",
            RuntimeWarning,
            stacklevel=2,
        )


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable session config to an existing session.

    Used when the driver hands us a session we didn't build (the
    `__spark_entry__` contract): only runtime-mutable confs here.
    """
    _ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp —
    # read the raw int64 and truncate to µs in the catalog (matches
    # DuckDB's ns->µs truncation, so cross-engine hashes agree).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # non-fatal, but said: a session can refuse either conf (one fixed
    # by an active query, say), and the engine then runs on its value
    for key, value in (
        ("spark.sql.shuffle.partitions", str(default_parallelism())),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            warnings.warn(
                f"graph_spark could not set {key}={value} on the session ({exc!r}); "
                "it keeps its current value",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark


def get_spark(app_name: str = "graph-spark") -> SparkSession:
    """Build (or reuse) the canonical local session."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # the runtime confs (timezone, nanosAsLong, shuffle partitions,
        # AQE, Arrow) are set once, by configure() below
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # spark.driver.maxResultSize stays at its 1g default: the only
        # bulk driver fetch is graph/algorithms._run_local's toPandas,
        # which routes through the driver ONLY under a bytes-estimate
        # guard (DRIVER_LOCAL_BYTES_LIMIT, 256 MB) — everything larger
        # runs executor-side via mapInPandas, including the XL bench's
        # explicit local=True kernels at 20M edges.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    return configure(spark)
