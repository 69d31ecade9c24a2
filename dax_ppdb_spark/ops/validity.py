"""SCD-Type-2 validity-interval maintenance.

This is the reference's most-tested operator (SURVEY §2.5 W1/W2, §5.3):

- SQL backend: rank-window self-join UPDATE with a correlated scalar
  subquery (``sql/_ppdb_sql.py:197-248``) — next version's
  ``validityStartMjdTai`` becomes this version's ``validityEndMjdTai``.
- BigQuery backend: ``LEAD() OVER (PARTITION BY diaObjectId ORDER BY
  validityStartMjdTai)`` MERGE, semi-join-pruned to staged objects
  (``resources/config/sql/fill_diaobject_validity_end.sql``).

Semantics pinned by the reference's golden tests
(``tests/test_chunk_promoter.py:469-579``):
1. only rows with ``validityEnd IS NULL`` are filled (explicitly-set
   ends — including gaps that differ from the next start — are
   preserved);
2. the last version of each object keeps a NULL end;
3. objects absent from the staging id set are untouched.

Scale notes: the staged id set is one micro-batch (small) — it is
broadcast to both the semi- and anti-join, so the only shuffle is the
window's hash partition on ``diaObjectId``, and it runs over touched
objects only, never the full 100 TB table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_versions(
    df: DataFrame,
    id_col: str = "diaObjectId",
    start_col: str = "validityStartMjdTai",
    rank_col: str = "rank",
) -> DataFrame:
    """W1: rank() over versions of each object.

    Reference: ``sql/_ppdb_sql.py:211-216``.
    """
    w = Window.partitionBy(id_col).orderBy(start_col)
    return df.withColumn(rank_col, F.rank().over(w))


def fill_validity_end(
    target: DataFrame,
    staged_ids: DataFrame | None = None,
    id_col: str = "diaObjectId",
    start_col: str = "validityStartMjdTai",
    end_col: str = "validityEndMjdTai",
    tiebreak_cols: tuple[str, ...] = (),
    observe_as: str | None = None,
) -> DataFrame:
    """W2/J4/P8: close open validity intervals from the next version's start.

    ``staged_ids`` (any DataFrame containing ``id_col``, duplicates
    allowed) prunes the recompute to touched objects; pass None to
    process the whole table.
    ``tiebreak_cols`` extend the window ordering when ``start_col``
    alone is not unique per object (the reference's PK guarantees
    uniqueness; generic inputs may not).  Column order of ``target``
    is preserved.  ``observe_as`` attaches per-MERGE DML counts
    (rows scanned, touched-object rows, intervals actually closed) to
    the next action — the analog of the reference's affected-row
    logging for this UPDATE (``updates_manager.py:242-271``); resolve
    with ``metrics.flush_observations``.
    """
    if staged_ids is not None:
        # no distinct: a semi or anti join keeps the same target rows
        # whether or not the id side repeats an id
        ids = F.broadcast(staged_ids.select(id_col))
        touched = target.join(ids, id_col, "left_semi").withColumn(
            "__touched", F.lit(True)
        )
        untouched = target.join(ids, id_col, "left_anti").withColumn(
            "__touched", F.lit(False)
        )
    else:
        touched = target.withColumn("__touched", F.lit(True))
        untouched = None

    w = Window.partitionBy(id_col).orderBy(start_col, *tiebreak_cols)
    filled = touched.withColumn("__was_open", F.col(end_col).isNull()).withColumn(
        end_col, F.coalesce(F.col(end_col), F.lead(start_col).over(w))
    )
    if untouched is not None:
        filled = filled.unionByName(
            untouched.withColumn("__was_open", F.lit(False)),
            allowMissingColumns=True,
        )
    if observe_as:
        from .. import metrics

        filled = metrics.observe(
            filled,
            observe_as,
            {
                "rows": F.count(F.lit(1)),
                "touched": F.count(F.when(F.col("__touched"), 1)),
                "filled": F.count(
                    F.when(
                        F.col("__touched")
                        & F.col("__was_open")
                        & F.col(end_col).isNotNull(),
                        1,
                    )
                ),
            },
            op="fill_validity_end",
        )
    return filled.select(*target.columns)


def valid_at(
    df: DataFrame,
    at,
    start_col: str = "validityStartMjdTai",
    end_col: str = "validityEndMjdTai",
) -> DataFrame:
    """Point-in-time snapshot of an SCD-2 table: rows whose validity
    interval covers ``at`` (half-open ``[start, end)``; NULL end means
    still current).

    This is the reference's public-snapshot semantics generalized from
    "now" to any time (``chunk_promoter.py:297-301`` is the
    ``at = +inf`` special case).  A pure filter: no shuffle, and when
    the table is stored sorted/partitioned on the id/spatial key the
    predicate rides alongside pruning untouched.
    """
    t = F.lit(at)
    return df.filter(
        (F.col(start_col) <= t) & (F.col(end_col).isNull() | (F.col(end_col) > t))
    )


def overlap_violations(
    df: DataFrame,
    id_col: str = "diaObjectId",
    start_col: str = "validityStartMjdTai",
    end_col: str = "validityEndMjdTai",
    tiebreak_cols: tuple[str, ...] = (),
    open_sentinel=None,
) -> DataFrame:
    """SCD-2 invariant check: versions whose interval overlaps ANY
    earlier version of the same object.

    Sorted-scan form: a version violates iff its start is before the
    running max of all earlier ends (NULL end = open = +inf, or
    ``open_sentinel`` for non-numeric time types).  One window pass —
    O(n log n) against the O(n^2) pairwise self-join, and exact for
    arbitrary (not just adjacent) overlaps.  Returns the violating
    rows with the offending running max.
    """
    w = (
        Window.partitionBy(id_col)
        .orderBy(start_col, *tiebreak_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sentinel = open_sentinel if open_sentinel is not None else F.lit(float("inf"))
    prev_max_end = F.max(F.coalesce(F.col(end_col), sentinel)).over(w)
    return (
        df.withColumn("__prev_max_end", prev_max_end)
        .filter(F.col("__prev_max_end") > F.col(start_col))
        .withColumnRenamed("__prev_max_end", "overlaps_until")
    )
