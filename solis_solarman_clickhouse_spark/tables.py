"""Fixture-table loaders (TESTDATA.md).

Tables live as one Parquet file per table under ``/root/testdata/sf*``.
Loading is always ``spark.read.parquet`` — columnar scan with predicate
pushdown and column pruning handled by Catalyst; never collect/driver-side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any realistic scale factor
#: (region/nation are constant-size; the reference's analogous dimension data
#: is the targets.json config list, solarman.py:70-141).
BROADCAST_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        df = spark.read.parquet(path)
    except Exception:
        if name != "events":
            raise
        # TIMESTAMP(NANOS) fixtures are unreadable without the legacy conf;
        # enable it and fall through to the bigint branch below.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if name == "events":
        # Some fixture generations store ts as TIMESTAMP(NANOS); with
        # spark.sql.legacy.parquet.nanosAsLong it surfaces as int64 nanos.
        # Branch on the ACTUAL read type: only convert when ts is a long
        # (nanos → micros truncation matches DuckDB's TIMESTAMP_NS cast);
        # the current fixtures are already timestamp[us] and pass through.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Parquet isAdjustedToUTC=false surfaces as TIMESTAMP_NTZ; the
            # whole query surface (and unix_micros/epoch fns) expects
            # TIMESTAMP. Session tz is UTC (session.py), so this cast is
            # wall-clock-preserving and agrees with DuckDB's naive TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def footer_shape(
    sf_dir: str, name: str = "embeddings", vec_col: str = "embedding"
) -> tuple[int, int] | None:
    """(rows, dims) of a single-file parquet fixture read from its FOOTER
    plus one 1-row batch — no Spark job at all. Size gates that only need
    an upper bound (e.g. cosine_topk_blas's broadcast-cells gate) use
    this instead of an eager _mat_shape aggregation, which re-evaluates
    the frame's full upstream lineage once per kernel call. Returns None
    when the path isn't a readable single parquet file; callers fall back
    to the probe."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        f = pq.ParquetFile(path)
        n = int(f.metadata.num_rows)
        batch = next(f.iter_batches(batch_size=1, columns=[vec_col]))
        d = len(batch.column(0)[0])
        return n, d
    except (OSError, pa.ArrowInvalid, KeyError, StopIteration, IndexError, TypeError):
        # Narrow on purpose: a typo'd table/column or corrupt fixture should
        # degrade to the probe path loudly in debugging, not silently forever.
        import logging

        logging.getLogger(__name__).debug(
            "footer_shape fallback: %s (%s.%s) not footer-readable", path, name, vec_col
        )
        return None


def footer_rows(sf_dir: str, name: str) -> int | None:
    """Row count of a single-file parquet fixture from its FOOTER only —
    no Spark job, no column decode. The iterative-loop partition sizing
    (session.loop_partitions) uses this as its input-scale proxy; callers
    fall back to the session parallelism when the path isn't a readable
    single parquet file (e.g. a directory table at scale, where the
    caller should feed a count it already has)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        return int(pq.ParquetFile(path).metadata.num_rows)
    except (OSError, pa.ArrowInvalid, KeyError):
        import logging

        logging.getLogger(__name__).debug(
            "footer_rows fallback: %s not footer-readable", path
        )
        return None


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition up to the cluster's parallelism before CPU-heavy work,
    but only when the input is under-partitioned (the local fixtures are
    single-row-group parquet → a one-task scan that serializes heavy
    aggregation/expression work on one core). On a well-partitioned input
    (any real multi-file table) this is a no-op — no shuffle at scale.
    Apply AFTER filters so predicate pushdown still reaches the scan.
    Compute-heavy mapInPandas kernels call it first because mapInPandas
    inherits its input's partitioning: the sf1.0 exact-pairs audit ran
    its whole N×N matmul in 2 tasks (53 s) until this guard (→ 32 tasks,
    ~4 s).

    Plan-safe heuristic: the local fixtures are one parquet file per table,
    so ``inputFiles()`` (metadata-only, no physical planning and no ``.rdd``
    lineage pin) tells us when the scan is file-bound to fewer tasks than
    cores. Multi-file inputs — any real table at scale — pass through
    untouched, so this never inserts a shuffle on a production layout."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plan (e.g. post-shuffle) — leave as-is
        return df
    if n_files == 0 or n_files >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql queries."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
