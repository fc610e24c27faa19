"""SparkSession factory tuned for this engine.

Local mode is a single JVM with N executor threads; the same configs are what
we would set on a real cluster (AQE, skew-join handling, Arrow) — only the
memory / parallelism knobs are sized from the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
DEFAULT_SHUFFLE_PARTITIONS = int(CPUS)

#: Runtime-settable confs: ``get_spark`` builds its session with them and
#: ``apply_runtime_conf`` sets them on a session created elsewhere.
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Naive parquet timestamp[us] must come back as TIMESTAMP, not
    # TIMESTAMP_NTZ: NTZ breaks withWatermark (event time requires
    # TIMESTAMP) and long-casts, and the UTC session makes the two
    # representations value-identical anyway.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def get_spark(
    app_name: str = "printer_etl_hub_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale notes: on a real cluster the same session configs apply —
    ``spark.sql.adaptive.*`` re-plans joins at runtime (broadcast conversion,
    skew-split, partition coalescing), Arrow keeps the Python boundary
    vectorized, and UTC session time keeps timestamp semantics engine-portable.
    """
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{CPUS}]"))
        .appName(app_name)
        # Cluster sizing: shuffle.partitions tracks local cores here; on a
        # real deployment raise spark.sql.adaptive.coalescePartitions.
        # initialPartitionNum (e.g. 2-4x total cores) and let AQE coalesce —
        # measured ~35% overhead at local test sizes, so not the default.
        .config("spark.sql.shuffle.partitions", str(sp))
        .config(map=RUNTIME_CONF)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Shuffle/spill through tmpfs when available: local-mode shuffles are
    # disk-bound on this host's slow /tmp. On a cluster the platform sets
    # spark.local.dir (and SPARK_LOCAL_DIRS wins over this config anyway).
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    if os.path.isdir(os.path.dirname(shm) or "/"):
        try:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
        except OSError:
            pass
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable configs to an externally-created session.

    The correctness driver hands us its own SparkSession; timestamp rendering
    must be UTC to line up with the (UTC-naive) DuckDB oracle, and AQE is a
    pure win at any scale.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds; harmless
    return spark
