"""SparkSession factory.

Local-mode defaults are sized from the host: `local[os.cpu_count()]`,
driver memory a quarter of physical memory, and a warehouse under the
checkout; SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM and
SPARK_GRAFT_WAREHOUSE override them. On a real cluster the same builder
is used minus `master`; the partitioning/AQE settings are the ones that
matter at 100 TB:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow enabled (every Python touch in this engine is Arrow-batched;
  per-row Python UDFs are banned on the hot path, cf. BASELINE.json
  input_hint "no per-row Python"),
- shuffle partitions sized to cores locally; on a cluster this would be
  ~2-3x total executor cores or left to AQE's initialPartitionNum.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_mem() -> str:
    """A quarter of physical memory (MemTotal), at least 1g."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, total // 4 // 2**30)}g"


def build_session(
    app_name: str = "ocr_service_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # HTML payloads are fat rows — keep Arrow batches ~bounded so a
        # batch of raw pages stays well under executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", os.path.join(_CHECKOUT, ".spark-warehouse")))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
