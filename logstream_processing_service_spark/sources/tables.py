"""Parquet table scans (SURVEY §2.1 S1/S2) and the service's one table
write path (``read_if_present`` / ``swap_in`` / ``merge_parquet``).

Reference: ``fetch_logs_batch`` pulls whole SQL result sets into driver
memory via ``pd.read_sql`` (src/db/log_ops.py:5-14). Here a scan is a lazy,
column-pruned, predicate-pushed parquet read — Catalyst only materializes
what downstream operators need, which is what makes the same code viable at
100 TB (row-group skipping + partition pruning instead of a full fetch).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..session import apply_runtime_conf

TABLES = [
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
]

# Columns stored as parquet TIMESTAMP(NANOS): Spark (with nanosAsLong) reads
# them as LongType nanoseconds; convert back to a tz-free timestamp at
# microsecond precision — exactly how DuckDB reads the same files.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalize nano-timestamp columns."""
    apply_runtime_conf(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    for col in _NANO_TS_COLS.get(name, ()):
        field = next((f for f in df.schema.fields if f.name == col), None)
        if field is not None and isinstance(field.dataType, LongType):
            # integer division: the ns value (~1.7e18) exceeds double precision,
            # so a float divide would corrupt the microseconds
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"{col} div 1000")).cast("timestamp_ntz"),
            )
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view so transforms can use spark.sql."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """Production-source swap for the reference's Postgres tables (S1):
    the same transforms run over JDBC by replacing ``load_table`` with this.

    Reads are range-partitioned on ``partition_column`` (the reference's
    ``log_id BETWEEN`` batch slicing, generalized) so the scan parallelizes
    across executors instead of one driver-side ``pd.read_sql`` fetch
    (src/db/log_ops.py:5-14). Predicates/projections still push down to the
    database via Catalyst's JDBC rules. Exercised end-to-end against the
    embedded Derby engine Spark ships (tests/test_jdbc.py: round trip,
    8-way range-partitioned scan, PushedFilters, append); parquet is the
    hot path in this environment.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("range partitioning needs lower_bound/upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("event_date",),
    mode: str = "overwrite",
) -> None:
    """Date-partitioned parquet sink — the storage layout that makes 100 TB
    queryable: a time-range predicate prunes whole directories before any
    IO (PartitionFilters), and each day's files compact independently.

    The reference appends everything into flat Postgres tables and rescans
    with WHERE (src/db/cluster_ops.py:14-19); partition pruning is the
    columnar equivalent of its (log_id BETWEEN …) slicing, done by layout.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


# ---------------------------------------------------------------------------
# Service table I/O on the local filesystem: a read that may find no table
# is ``read_if_present``, a rewrite is ``swap_in``.
# ---------------------------------------------------------------------------


def _hidden(name: str) -> bool:
    # the names Spark's file index skips (``_batch=0`` partitions excepted)
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def data_files(path: str) -> Iterator[tuple[str, int]]:
    """(file, bytes) for every file a parquet read of ``path`` scans."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for f in files:
            if not _hidden(f):
                p = os.path.join(root, f)
                yield p, os.path.getsize(p)


def _swap_dirs(path: str) -> tuple[str, str]:
    path = path.rstrip("/")
    return path + "._staged", path + "._old"


def recover_swap(path: str) -> bool:
    """Repair a swap that crashed between its two renames: the table path
    is missing and its data sits under ``<path>._old``, so restore it. A
    leftover staging directory is unreferenced either way and is dropped.
    Returns True if the backup was restored."""
    staged, backup = _swap_dirs(path)
    recovered = not os.path.exists(path) and os.path.isdir(backup)
    if recovered:
        os.rename(backup, path)
    if os.path.isdir(staged) and os.path.exists(path):
        shutil.rmtree(staged)
    return recovered


def swap_in(df: DataFrame, path: str) -> None:
    """Replace the table at ``path`` with ``df`` (which may read ``path``
    itself): write ``<path>._staged``, then rename ``path`` to
    ``<path>._old`` and the staging directory to ``path``. Readers see the
    old or the new directory, never a partial write. The path is absent
    between the two renames, so the caller owns single-writer scheduling;
    a crash there is repaired by ``recover_swap``, which runs first here
    and in ``read_if_present``. On Delta/Iceberg this is one commit."""
    recover_swap(path)
    staged, backup = _swap_dirs(path)
    df.write.mode("overwrite").parquet(staged)
    if os.path.isdir(backup):
        shutil.rmtree(backup)
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staged, path)
    if os.path.isdir(backup):
        shutil.rmtree(backup)


def read_if_present(spark: SparkSession, path: str, schema) -> DataFrame:
    """The table at ``path``, or an empty frame with ``schema`` when there
    is none yet (no directory, or no data files in it). Any failure to
    read a table that is there propagates: treating an unreadable table
    as absent would overwrite it or re-open incidents it holds."""
    recover_swap(path)
    if not any(data_files(path)):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(path)


def merge_parquet(
    spark: SparkSession,
    target: str,
    updates: DataFrame,
    key: str,
    when_matched: str = "update",
    matched_condition=None,
) -> None:
    """MERGE INTO for plain parquet: ``merge_full`` over the current table
    (``read_if_present``), persisted by ``swap_in`` — the reference's dual
    write (embedding upsert + cluster_id update in one txn,
    src/db/log_ops.py:66-81) as one set-oriented sink. Defaults: WHEN
    MATCHED update (source row wins), WHEN NOT MATCHED insert."""
    existing = read_if_present(spark, target, updates.schema)
    swap_in(
        merge_full(
            existing,
            updates,
            key,
            when_matched=when_matched,
            matched_condition=matched_condition,
        ),
        target,
    )


def merge_full(
    target_df: DataFrame,
    source: DataFrame,
    key: str,
    when_matched: str = "update",
    matched_condition=None,
    when_not_matched_insert: bool = True,
    not_matched_by_source_delete: bool = False,
) -> DataFrame:
    """Delta-style MERGE as a pure DataFrame transform: full set of clauses —
    WHEN MATCHED [AND cond] UPDATE or DELETE, WHEN NOT MATCHED INSERT,
    WHEN NOT MATCHED BY SOURCE DELETE. Returns the merged frame;
    ``merge_parquet`` persists it (on a table format: MERGE INTO).

    ``matched_condition`` is an optional callable receiving the joined
    frame (target columns as ``t.*``, source as ``s.*``) and returning a
    boolean Column — e.g. only update when the source row is newer:
    ``lambda j: F.col("s.updated_at") > F.col("t.updated_at")``.

    Scale shape: ONE full-outer shuffle join on the key carries every
    clause; each output row is a per-row CASE over the two sides — no
    per-clause rescans of the target, which is the difference between one
    pass and four at 100 TB. Source rows are key-deduped first (last-writer
    ambiguity resolved deterministically by max over the row struct).
    """
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched must be update/delete/None: {when_matched!r}")
    cols = target_df.columns
    if source.columns != cols:
        raise ValueError(f"schema mismatch: {source.columns} vs {cols}")
    # deterministic key-dedup of the source (max struct = last writer wins
    # under any partitioning)
    dk = (
        source.groupBy(key)
        .agg(F.max(F.struct(*[c for c in cols if c != key])).alias("_r"))
        .select(key, "_r.*")
    )
    t = target_df.alias("t")
    s = dk.alias("s")
    j = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    t_present = F.col(f"t.{key}").isNotNull()
    s_present = F.col(f"s.{key}").isNotNull()
    matched = t_present & s_present
    cond = matched_condition(j) if matched_condition is not None else F.lit(True)

    keep = F.lit(False)
    use_source = F.lit(False)
    # target-only rows survive unless NOT MATCHED BY SOURCE deletes them
    keep = keep | (t_present & ~s_present & F.lit(not not_matched_by_source_delete))
    # source-only rows insert
    keep = keep | (~t_present & s_present & F.lit(when_not_matched_insert))
    use_source = use_source | (~t_present & s_present)
    if when_matched == "update":
        keep = keep | matched
        use_source = use_source | (matched & cond)
    elif when_matched == "delete":
        keep = keep | (matched & ~cond)
    else:
        keep = keep | matched
    return j.filter(keep).select(
        *[
            F.when(use_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in cols
        ]
    )
