"""SparkSession builder tuned for this engine.

Local-mode defaults follow the driver contract (``local[$SPARK_GRAFT_CPUS]``),
but every knob here is chosen for the 1000-executor / 100 TB design point:
AQE on (runtime skew-join + partition coalescing), shuffle partitions sized
to cores locally (set to ~2-3x total cores on a real cluster), Arrow enabled
for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(16g, half of physical memory). Not "most of the box": G1 grows
    toward the ceiling before collecting (measured: fuzzy_decontamination
    at sf0.1 took 46.8 s at 90g, ~10-12 s at 8-16g), and on a small machine
    the JVM shares memory with its Python workers. sf0.1 needs well under
    4g; larger runs set SPARK_GRAFT_DRIVER_MEM. Local mode only."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{min(16 << 10, half_mb)}m"


def get_spark(app_name: str = "rust_triplets_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # preferSortMergeJoin stays at its DEFAULT (true). r12 flipped it to
        # false on guide §3.1's general advice but shipped it unmeasured on
        # the heavy dedup/decontam tier; r13 measured it (guide §1): at
        # sf0.1/local[32] fuzzy_decontamination min-of-3 is 9.1 s with SMJ
        # vs 15.7 s with SHJ allowed (and far noisier: 41/116/16 s passes),
        # because the banded self-joins build per-partition hash tables of
        # the exploded signature frame — a build side that SMJ instead
        # streams with a spillable sort. SHJ also cannot spill its build
        # side, the exact 100 TB OOM profile the r12 advice flagged.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def load_tables(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None) -> dict:
    """Load the driver's parquet tables from ``sf_dir`` and register temp views."""
    names = tables or (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    out = {}
    for name in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
