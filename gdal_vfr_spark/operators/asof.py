"""As-of (temporal nearest-before) join — engine extra.

Absent in the reference (SURVEY.md §2.11 lists theta/as-of joins as
explicit absences) but a staple of event-to-snapshot alignment in
web-scale pipelines (e.g. page crawl_ts -> latest polygon validity
interval, PlatiOd/PlatiDo semantics in §1.3). Implemented as one window
pass with no Python boundary; its second opinion is DuckDB's native
`ASOF LEFT JOIN` (the asof_join oracle in tests/test_oracle.py and the
crafted rows of tests/test_asof.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest `on`
    value <= left's `on`, matched within the same `by` key (backward
    as-of; NULLs when there is none). Ties (left.on == right.on) match:
    right rows sort before left rows at equal timestamps.

    Union both sides (right rows carry their payload, left rows carry
    nulls), one window sort per key, and `last(ignorenulls)` forwards
    each right payload to every later left row. The right side must be
    unique per (by, on) and its payload columns non-null (a null
    payload value would be skipped by ignorenulls) — enforce upstream
    with a window dedup.

    Scale shape: ONE shuffle (the window's hash partition on `by`),
    everything inside whole-stage codegen. A cogrouped pandas
    merge_asof pays two shuffles plus per-group Arrow round-trips,
    which dominate at millions of small groups.
    """
    rcols = right_cols or [c for c in right.columns if c not in (on, by)]
    lcols = [c for c in left.columns]
    l2 = left.select(
        F.col(by),
        F.col(on),
        F.lit(1).alias("__is_left"),
        *[F.col(c) for c in lcols if c not in (by, on)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in rcols],
    )
    r2 = right.where(F.col(on).isNotNull()).select(
        F.col(by),
        F.col(on),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in (by, on)],
        *[F.col(c) for c in rcols],
    )
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l2.unionByName(r2).select(
        "*", *[F.last(c, ignorenulls=True).over(w).alias(f"__f_{c}") for c in rcols]
    )
    return filled.where(F.col("__is_left") == 1).select(
        *lcols, *[F.col(f"__f_{c}").alias(c) for c in rcols]
    )
