"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); production target is a
multi-executor cluster reading ~100 TB. Every knob below is chosen so the
same code scales: AQE re-plans shuffles at runtime (partition coalescing,
skew-join splitting), shuffle partitions default to the core count locally
but should be sized to ~128 MB per partition at cluster scale, and the
session timezone is pinned to UTC so timestamp semantics are stable across
engines (the DuckDB oracle is UTC-naive).

The session's confs are never changed while queries run: work that needs
its own SQL confs runs in a ``child_session``, which shares the context,
catalog and cache but not the conf map.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The directory that holds the engine package. Python workers import the
# package to unpickle the engine's UDFs, and they start in the JVM's
# working directory, so a driver started outside the repository root
# must hand them this path.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "datafoundation_hub_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes (100 TB target):
    - ``spark.sql.adaptive.enabled``: AQE coalesces small shuffle partitions
      and splits skewed ones at runtime; mandatory at scale, harmless locally.
    - ``spark.sql.shuffle.partitions`` is only the *initial* number under AQE;
      on a 1000-executor cluster raise it so each partition is ~128 MB.
    - ``spark.sql.files.maxPartitionBytes`` (default 128 MB) governs scan
      parallelism; left at default — correct for both scales.
    - Arrow execution accelerates any pandas interchange (``toPandas``,
      pandas UDFs) by columnar batch transfer.
    - ``spark.executorEnv.PYTHONPATH`` leads with the package's parent
      directory (merged with any value in ``extra_conf``), so Python
      workers import the engine whatever the driver's working directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # corpus parquet stores plain-micros timestamps (no UTC flag);
        # read them as session-TZ TIMESTAMP at scan level (keeps pushdown,
        # matches the UTC-naive DuckDB oracle since session TZ is UTC)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches (default 10k): extract-shaped results
        # (~600k rows) measured ~25% faster end-to-end via toPandas, and
        # Pandas-UDF kernels see fewer, larger chunks. Per-batch memory
        # stays bounded (row width x 65536 ~ a few MB on every table here).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    conf = dict(extra_conf or {})
    worker_path = conf.get("spark.executorEnv.PYTHONPATH", "")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        [_PACKAGE_PARENT, *(p for p in worker_path.split(os.pathsep) if p)]
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def child_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A new session on ``spark``'s context that owns ``confs``.

    ``newSession()`` shares the SparkContext, the catalog and the cache
    with its parent but has its own SQL conf, so work that needs its own
    settings (a shuffle count, dynamic partition overwrite, bloom-filter
    injection) runs in the child while queries on the parent, in this
    thread or another, keep reading the parent's confs. Nothing is set
    on the parent and nothing needs restoring.

    The child starts from the parent's runtime SQL confs: ``newSession()``
    alone does not copy confs set after the session was built (the
    reader confs ``load_table`` sets, a harness's timezone). Static
    ``spark.sql.*`` confs (``spark.sql.warehouse.dir``) are shared
    through the context and cannot be set per session, so they are left
    out.

    Catalyst reads confs when a plan is optimized, from the session of
    the frame being executed, so a lazy frame built from the child plans
    under the child's confs whenever it runs. A join takes its LEFT
    frame's session: build conf-specific plans from frames of the child.
    """
    child = spark.newSession()
    inherited = {
        k: v
        for k, v in spark.conf.getAll.items()
        if k.startswith("spark.sql.") and spark.conf.isModifiable(k)
    }
    for k, v in {**inherited, **confs}.items():
        child.conf.set(k, v)
    return child
