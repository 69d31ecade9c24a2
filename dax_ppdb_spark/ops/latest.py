"""Latest-record dedup (last-writer-wins).

Reference W3: ``ROW_NUMBER() OVER (PARTITION BY table_name,
record_key, field_name ORDER BY apdb_replica_chunk DESC,
update_time_ns DESC, update_order DESC) = 1``
(``bigquery/updates/expanded_updates_table.py:185-201``; tie-break
semantics pinned by ``tests/test_expanded_updates_table.py:178-213``).

Scale notes: a single hash shuffle on the partition keys; partial
aggregation does not apply to row_number, but AQE skew-join/partition
splitting handles hot keys.  For the common "latest per key by one
ordering column" case prefer ``max_by``-style aggregation (map-side
partial agg, half the data movement) — provided the ordering tuple is
packable; we keep row_number for exact multi-key DESC tie-break parity
with the reference.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_only(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    descending: bool = True,
) -> DataFrame:
    """Keep the single winning row per partition key.

    ``order_cols`` are applied in order, all DESC by default (the
    reference's 3-level chunk/time/order tie-break).
    """
    ordering = [F.col(c).desc() if descending else F.col(c).asc() for c in order_cols]
    w = Window.partitionBy(*partition_cols).orderBy(*ordering)
    rn = "__rn"
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) == 1).drop(rn)


def topk_per_key(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    k: int,
    descending: bool = True,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Top-k rows per key (k=1 == :func:`latest_only`), with an
    optional salted two-phase plan for skewed keys.

    Hot window partitions are the one skew AQE cannot split (a window
    partition must be processed by one task).  With ``salt_buckets``=B
    the rows first compute top-k within (key, salt) — salt derived
    from the row content, so any one task sees ~1/B of a hot key —
    then the <= B*k survivors per key go through the exact window.
    Global top-k is always a subset of the union of per-bucket top-k,
    so the result is identical to the direct form; the second window's
    partitions are bounded by B*k rows regardless of input skew.
    """
    ordering = [
        F.col(c).desc() if descending else F.col(c).asc() for c in order_cols
    ]
    rn = "__rn"
    src = df
    if salt_buckets is not None:
        salt = F.pmod(
            F.hash(*[F.col(c) for c in order_cols]), F.lit(salt_buckets)
        )
        w1 = Window.partitionBy(*partition_cols, "__salt").orderBy(*ordering)
        src = (
            df.withColumn("__salt", salt)
            .withColumn(rn, F.row_number().over(w1))
            .filter(F.col(rn) <= k)
            .drop(rn, "__salt")
        )
    w = Window.partitionBy(*partition_cols).orderBy(*ordering)
    return src.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= k).drop(rn)
